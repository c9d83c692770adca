package graft

/** Dev utility (r06): dump explain("formatted") for bench queries to
  * plans/r06/<name>_<suffix>.txt. Usage: PlanDumpR06 <suffix> [names...] */
object PlanDumpR06 {
  def main(args: Array[String]): Unit = {
    val suffix = args.headOption.getOrElse("after")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = SparkEntry.session(32)
    val names = if (args.length > 1) args.drop(1).toSeq else SparkEntry.registry.map(_.name)
    val outDir = new java.io.File("plans/r06")
    outDir.mkdirs()
    names.foreach { name =>
      SparkEntry.queries.get(name).foreach { fn =>
        try {
          val df = fn(spark, sfDir)
          val txt = df.queryExecution.explainString(
            org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
          val w = new java.io.PrintWriter(new java.io.File(outDir, s"${name}_$suffix.txt"))
          try w.write(txt) finally w.close()
          println(s"[plandump] $name -> ${name}_$suffix.txt")
        } catch {
          case e: Throwable => println(s"[plandump] $name FAILED: ${e.getMessage}")
        }
      }
    }
    spark.stop()
  }
}
