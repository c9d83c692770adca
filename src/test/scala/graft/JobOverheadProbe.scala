package graft

import org.apache.spark.sql.functions._

/** Dev probe: per-action latency floor of the warm session — how much of
  * the bench is irreducible driver orchestration. */
object JobOverheadProbe {
  def main(args: Array[String]): Unit = {
    val spark = SparkEntry.session(32)
    def t(label: String, reps: Int)(f: => Unit): Unit = {
      f // warm
      val t0 = System.nanoTime()
      (1 to reps).foreach(_ => f)
      println(f"[probe] $label%-38s ${(System.nanoTime() - t0) / 1e6 / reps}%8.1f ms/action")
    }
    t("noop map-only 1-partition", 20) {
      spark.range(0, 1000, 1, 1).select(col("id") * 2).write.format("noop").mode("overwrite").save()
    }
    t("noop map-only 32-partition", 20) {
      spark.range(0, 1000, 1, 32).select(col("id") * 2).write.format("noop").mode("overwrite").save()
    }
    t("collect 1-partition (no noop)", 20) {
      spark.range(0, 1000, 1, 1).select(col("id") * 2).collect()
    }
    t("1-shuffle, 1 input partition", 20) {
      spark.range(0, 1000, 1, 1).groupBy(pmod(col("id"), lit(7))).count()
        .write.format("noop").mode("overwrite").save()
    }
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    t("noop map-only (range 1k)", 10) {
      spark.range(1000).select(col("id") * 2).write.format("noop").mode("overwrite").save()
    }
    t("noop 1-shuffle groupBy (range 1k)", 10) {
      spark.range(1000).groupBy(pmod(col("id"), lit(7))).count()
        .write.format("noop").mode("overwrite").save()
    }
    t("noop 2-shuffle (groupBy+join)", 10) {
      val a = spark.range(1000).groupBy(pmod(col("id"), lit(7)).as("k")).count()
      val b = spark.range(100).select(pmod(col("id"), lit(7)).as("k"))
      a.join(b, "k").write.format("noop").mode("overwrite").save()
    }
    t("localCheckpoint (range 1k)", 10) {
      spark.range(1000).select(col("id") * 2).localCheckpoint()
    }
    t("docs scan noop (5k rows)", 10) {
      docs.select("doc_id").write.format("noop").mode("overwrite").save()
    }
    t("docs groupBy noop", 10) {
      docs.groupBy("source").count().write.format("noop").mode("overwrite").save()
    }
    spark.stop()
  }
}
