package graft

/** Dev probe: same-JVM A/B of the native vs HOF classifier fold (q68). */
object ClassifierProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = SparkEntry.session(32)
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    def time(label: String)(f: => Unit): Unit = {
      val t0 = System.nanoTime(); f
      println(f"[cls] $label ${(System.nanoTime() - t0) / 1e9}%6.3f s")
    }
    (1 to 4).foreach { i =>
      time(s"native run$i") {
        graft.text.TextAnalysis.hashClassifierScore(docs, "doc_id", "text", 1 << 20)
          .write.format("noop").mode("overwrite").save()
      }
      time(s"hof    run$i") {
        graft.ref.TextAnalysisRef.hashClassifierScore(docs, "doc_id", "text", 1 << 20)
          .write.format("noop").mode("overwrite").save()
      }
    }
    spark.stop()
  }
}
