package graft

import org.apache.spark.sql.functions._

/** Dev probe: per-stage timing of the q34 LSH dedup chain. */
object LshProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = SparkEntry.session(32)
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    def t[A](label: String)(f: => A): A = {
      val t0 = System.nanoTime(); val r = f
      println(f"[probe] $label%-24s ${(System.nanoTime() - t0) / 1e9}%8.2f s"); r
    }
    def jobs(): Int = spark.sparkContext.statusTracker.getJobIdsForGroup(null).length
    val jobLog = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        val desc = Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("")
        val cs = Option(js.properties)
          .flatMap(p => Option(p.getProperty("callSite.short"))).getOrElse("")
        jobLog.add(s"job=${js.jobId} stages=${js.stageInfos.size} " +
          s"tasks=${js.stageInfos.map(_.numTasks).sum} cs=$cs desc=$desc")
      }
    })
    (1 to 3).foreach { i =>
      println(s"---- iteration $i ----")
      jobLog.clear()
      val j0 = jobs()
      // replicate buildDedupIndex stage by stage
      val famAgg = t("famAgg ckpt") {
        docs.select(col("doc_id").as("doc_id"), col("text").as("__text"))
          .withColumn("__fh", md5(lower(trim(regexp_replace(col("__text"), "\\s+", " ")))))
          .groupBy("__fh").agg(
            min(struct(col("doc_id"), col("__text"))).as("__rep"),
            count(lit(1)).as("__n"))
          .select(col("__fh"), col("__rep.doc_id").as("__keeper"),
            col("__rep.__text").as("__text"), col("__n"))
          .localCheckpoint()
      }
      val sigs = t("sigs ckpt") {
        graft.dedup.Dedup.minhashSignatures(
          famAgg.select(col("__fh"), col("__text")), "__fh", "__text", 3, 32)
          .localCheckpoint()
      }
      val full = t("full q34") {
        SparkEntry.queries("q34_lsh_dedup")(spark, sfDir)
          .write.format("noop").mode("overwrite").save()
      }
      println(s"[probe] spark jobs this iteration: ${jobs() - j0}")
      org.apache.spark.sql.graftbridge.Bridge.waitListenerBus(spark)
      jobLog.forEach(l => println(s"[joblog] $l"))
    }
    spark.stop()
  }
}
