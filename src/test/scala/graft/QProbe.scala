package graft

import org.apache.spark.scheduler._

/** Dev probe: per-run wall time, then per-job wall time + call sites, of
  * the named queries (default: every query Bench times).
  * Usage: Test/runMain graft.QProbe [q...] */
object QProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = SparkEntry.session(32)
    case class J(var start: Long = 0L, var end: Long = 0L, var cs: String = "",
                 var stages: Int = 0, var tasks: Int = 0)
    val jm = new java.util.concurrent.ConcurrentHashMap[Int, J]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val j = new J(js.time, 0L,
          Option(js.properties).flatMap(p => Option(p.getProperty("callSite.short"))).getOrElse(""),
          js.stageInfos.size, js.stageInfos.map(_.numTasks).sum)
        jm.put(js.jobId, j)
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = {
        Option(jm.get(je.jobId)).foreach(_.end = je.time)
      }
    })
    val names = if (args.nonEmpty) args.toSeq else SparkEntry.benchQueries
    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      (1 to 3).foreach { i =>
        jm.clear()
        val t0 = System.nanoTime()
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        val wall = (System.nanoTime() - t0) / 1e9
        org.apache.spark.sql.graftbridge.Bridge.waitListenerBus(spark)
        if (i == 3) {
          import scala.jdk.CollectionConverters._
          val rows = jm.asScala.toSeq.sortBy(_._1)
          rows.foreach { case (id, j) =>
            println(f"[job] $name%-22s id=$id%3d ${(j.end - j.start) / 1e3}%7.3f s stages=${j.stages} tasks=${j.tasks} cs=${j.cs}")
          }
          val sum = rows.map { case (_, j) => (j.end - j.start) / 1e3 }.sum
          println(f"[sum] $name run$i wall=$wall%.2f s jobsum=$sum%.2f s njobs=${rows.size}")
        } else println(f"[sum] $name run$i wall=$wall%.2f s")
      }
    }
    spark.stop()
  }
}
