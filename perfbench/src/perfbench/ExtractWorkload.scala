package perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.Pipeline
import graft.core.Engine
import graft.io.{Sinks, Transcripts}
import graft.matching.{Fuzzy, Matching}
import graft.rules.Rules

/**
 * `extract`: the product path as a closed loop with one client —
 * transcripts parquet -> Pipeline.extractItems -> Matching.topMatches
 * against the products dimension -> Sinks.writeItems, then a read-back of
 * the written items (row count, content checksum, and a seeded sample of
 * turns recomputed on the driver with Engine.parseTurn and Fuzzy.wratio).
 */
final class ExtractWorkload(seed: Long) extends Workload {
  val name = "extract"
  val nTurns = 2000L
  private val keys = Seq("conv_id", "turn_idx", "item_idx")
  private var turnsDir: String = _
  private var products: Array[(Int, String, String)] = _
  private var productsDf: DataFrame = _

  def setup(spark: SparkSession, work: String): Unit = {
    turnsDir = s"$work/inputs/transcripts"
    Transcripts.generate(spark, nTurns, seed).write.mode("overwrite").parquet(turnsDir)
    productsDf = Transcripts.productsDim(spark)
    products = productsDf.collect().map(r => (r.getInt(0), r.getString(1), r.getString(2)))
  }

  /** Iterations before the timed phase. Iteration time falls over the
    * first few as the JIT compiles the parsers and the matcher, and keeps
    * easing for a while after as it works through Spark's analyzer and
    * planner, which run only a few times per iteration. */
  val warmupIterations = 3
  /** A warm iteration's time on a 4-vCPU machine. */
  val iterationS = 2.5

  def warmup(spark: SparkSession, work: String): Unit = {
    val tr = new Tracer(spark, enabled = false)
    (0 until warmupIterations).foreach { i =>
      iteration(spark, tr, new Checks, turnsDir, nTurns, s"$work/warmup-$i", i)
    }
  }

  def run(spark: SparkSession, tr: Tracer, checks: Checks, seconds: Double, units: Int,
          out: String): Pass = {
    var first: (Long, Long) = null
    val pass = Workload.closedLoop(tr, Workload.unitsFor(seconds, iterationS, units)) { i =>
      val sum = iteration(spark, tr, checks, turnsDir, nTurns, s"$out/items-$i", i)
      if (first == null) first = sum
      checks.expect(sum == first, s"iteration $i checksum $sum differs from iteration 0's $first")
      nTurns
    }
    Pins.check(checks, name, seed, nTurns, first)
    pass
  }

  /** One closed-loop iteration; returns the sink's (rows, checksum). */
  private def iteration(spark: SparkSession, tr: Tracer, checks: Checks, input: String,
                        n: Long, dir: String, i: Int): (Long, Long) = {
    val turns = spark.read.parquet(input)
    val items = tr("pipeline.extract")(tr.mat(Pipeline.extractItems(turns)))
    val matched = tr("matching.match")(tr.mat(Matching.topMatches(items, productsDf, keys)))
    if (tr.enabled) tr("driver.count") {
      val nItems = items.count().toDouble
      val kept = matched.agg(count(lit(1)), sum(when(col("is_auto_match"), 1L).otherwise(0L)))
        .head()
      tr.count("items", nItems)
      tr.count("pairs_scored", nItems * products.length)
      tr.count("kept", kept.getLong(0).toDouble)
      tr.count("auto", kept.getLong(1).toDouble)
    }
    tr("io.sink") {
      Sinks.writeItems(matched.withColumn("sku", col("match_sku")), dir)
      tr.count("bytes", Inputs.dirBytes(dir).toDouble)
      if (tr.enabled) tr.count("rows", spark.read.parquet(dir).count().toDouble)
    }
    tr("driver.check") {
      val written = spark.read.parquet(dir)
      val sum = Inputs.checksum(written)
      checkSample(written, checks, n, i)
      sum
    }
  }

  /** Recompute a seeded sample of turns on the driver and compare their
    * matched items with what the Spark path wrote. */
  private def checkSample(written: DataFrame, checks: Checks, n: Long, i: Int): Unit = {
    val ids = (0 until 24).map(k => Math.floorMod(Transcripts.rng(seed, 7777L, k), n))
      .distinct
    val expected = ids.flatMap { id =>
      val t = Transcripts.turnFor(seed, id, n, 0.05, 8)
      Engine.parseTurn(t.conv_id, t.turn_idx, t.text).best_items.flatMap { it =>
        products.map { case (pid, sku, pname) => (Fuzzy.wratio(it.name, pname), pid, sku) }
          .sortBy { case (score, pid, _) => (-score, pid) }.take(3)
          .filter(_._1 >= Rules.suggestThreshold)
          .map { case (_, _, sku) =>
            (Seq(s"${t.conv_id}#${t.turn_idx}", it.name) ++
              Seq(it.qty, it.price, it.total).map(_.fold("null")(_.toString)) :+ sku).mkString("|")
          }
      }
    }.sorted
    val keySet = ids.map { id =>
      val (c, t) = Transcripts.convOf(id, n, 0.05, 8); s"$c#$t"
    }
    val actual = written.where(col("source_file").isin(keySet: _*))
      .select("source_file", "name", "qty", "price", "total", "sku").collect()
      .map((r: Row) => r.toSeq.map(v => if (v == null) "null" else v.toString).mkString("|"))
      .toSeq.sorted
    checks.expect(expected.nonEmpty && actual == expected,
      s"iteration $i: sampled turns' matched items differ from the driver recompute " +
        s"(${actual.length} written vs ${expected.length} expected rows)")
  }

  /** No manifests, dedup, text or capped operator runs here; the sink's
    * write stages are not salted and run one task each, so there is no
    * task skew to measure. */
  override val notRun: Set[String] = Set("io.commit_s", "io.chunks_committed",
    "io.rerun_chunks", "io.audit_s", "skew.task_max_over_median", "skew.cap_dropped_rows",
    "dedup.build_s", "dedup.merge_s", "dedup.cluster_s", "dedup.compact_s",
    "dedup.index_families", "dedup.verified_pairs", "dedup.verify_yield", "text.chain_s",
    "text.filter_keep_ratio", "text.packed_docs", "driver.late_s")

  def payloads(n: Int): Array[String] =
    Array.tabulate(n)(id => Transcripts.payload(seed, id.toLong))
}
