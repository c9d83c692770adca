package graft
import java.nio.file.{Files, Paths}
/** Correctness dump: each SparkEntry.registry query's result → parquet, plus
  * oracle_sql.json, for a DuckDB oracle compare. A query that
  * fails does not stop the others; the artifacts are still written, and
  * the run then lists the failed queries and exits with status 1. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = SparkEntry.session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    new java.io.File(outDir).mkdirs()
    // cap-drop observability: every KeyCaps/maxBucket guard reports how
    // many keys/rows its cap removed (CapMetrics scaladoc) — dumped per
    // query below so silent truncation shows up in the round artifacts
    val caps = graft.skew.CapMetrics.register(spark)
    val capsByQuery = scala.collection.mutable.LinkedHashMap[String, String]()
    val failed = scala.collection.mutable.ArrayBuffer[String]()
    SparkEntry.registry.foreach { q =>
      val name = q.name
      caps.clear()
      try {
        q.plan(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        org.apache.spark.sql.graftbridge.Bridge.waitListenerBus(spark)
        val snap = caps.snapshot()
        if (snap.nonEmpty) capsByQuery(name) = graft.skew.CapMetrics.toJson(snap)
      }
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: $e")
        failed += name
      }
    }
    Files.writeString(Paths.get(s"$outDir/cap_metrics.json"),
      capsByQuery.map { case (k, v) => s""""$k": $v""" }.mkString("{", ",", "}"))
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(s"[verify] ${failed.size} of ${SparkEntry.registry.size} queries " +
        s"failed: ${failed.mkString(", ")}")
      sys.exit(1)
    }
  }
}
