package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.dedup.Dedup
import graft.text.{CorpusChain, TextAnalysis}

/**
 * `corpus_chain`: the curation chain as a closed loop with one client —
 * CorpusChain.corpusChain with q57's parameters over the seeded documents
 * table (corpus filter -> LSH near-dup clusters -> keep-best ->
 * stratified sample -> sequence packing). Dozens of small jobs with
 * localCheckpoints: the orchestration floor. The engine's per-turn parsers
 * and the matcher never run here.
 */
final class CorpusWorkload(seed: Long) extends Workload {
  val name = "corpus_chain"
  val nDocs = 1000
  private val packTokens = CorpusWorkload.packTokens
  private var docsDir: String = _
  private var inputRows = 0L

  def setup(spark: SparkSession, work: String): Unit = {
    docsDir = s"$work/inputs/documents"
    Inputs.documents(spark, nDocs, seed).write.mode("overwrite").parquet(docsDir)
    inputRows = spark.read.parquet(docsDir).count()
  }

  def warmup(spark: SparkSession, work: String): Unit =
    iteration(spark, new Tracer(spark, enabled = false))

  def run(spark: SparkSession, tr: Tracer, checks: Checks, seconds: Double, units: Int,
          out: String): Pass = {
    var first: (Long, Long) = null
    val pass = Workload.closedLoop(tr, Workload.unitsFor(seconds, 7.0, units)) { i =>
      val (sum, packedDocs, minSeg, maxFill) = iteration(spark, tr)
      if (first == null) first = sum
      checks.expect(sum == first, s"iteration $i checksum $sum differs from iteration 0's $first")
      checks.expect(sum._1 > 0 && packedDocs > 0 && minSeg > 0 && maxFill <= packTokens,
        s"iteration $i: malformed packing (rows ${sum._1}, docs $packedDocs, " +
          s"min seg_len $minSeg, max pack fill $maxFill)")
      inputRows
    }
    Pins.check(checks, name, seed, nDocs, first)
    pass
  }

  /** One chain run; returns ((rows, checksum), packed docs, min seg_len,
    * max tokens in one pack). */
  private def iteration(spark: SparkSession, tr: Tracer): ((Long, Long), Long, Long, Long) = {
    val docs = spark.read.parquet(docsDir)
    val packed = tr("text.chain")(tr.mat(CorpusWorkload.chain(docs)))
    tr("driver.check") {
      val r = packed.agg(count(lit(1)), Inputs.checksumOf(packed),
        countDistinct("doc_id"), coalesce(min("seg_len"), lit(0)).cast("long")).head()
      val fill = packed.groupBy("shard", "pack_id").agg(sum("seg_len").as("fill"))
        .agg(coalesce(max("fill"), lit(0L))).head().getLong(0)
      tr.count("packed_docs", r.getLong(2).toDouble)
      ((r.getLong(0), r.getLong(1)), r.getLong(2), r.getLong(3), fill)
    }
  }

  override def probes(spark: SparkSession, tr: Tracer): Map[String, Double] = {
    val docs = spark.read.parquet(docsDir)
    val (ratio, survivors) = CorpusWorkload.filterProbe(tr, docs)
    tr("dedup.cluster")(tr.mat(Dedup.lshDedupClusters(survivors, "doc_id", "text")))
    EpochsWorkload.verifyYield(tr, survivors) + ("text.filter_keep_ratio" -> ratio)
  }

  override val notRun: Set[String] = Set("pipeline.extract_s", "pipeline.task_busy_s",
    "pipeline.busy_share", "matching.match_s", "matching.pairs_scored", "matching.kept_ratio",
    "matching.auto_ratio", "matching.shuffle_bytes", "io.sink_s", "io.bytes_written_per_row",
    "io.commit_s", "io.chunks_committed", "io.rerun_chunks", "io.audit_s",
    "skew.task_max_over_median", "dedup.build_s", "dedup.merge_s", "dedup.compact_s",
    "dedup.index_families", "dedup.verified_pairs", "driver.late_s")

  def payloads(n: Int): Array[String] = {
    val spark = SparkSession.active
    spark.read.parquet(docsDir).select("text").limit(n).collect().map(_.getString(0))
  }
}

object CorpusWorkload {
  val packTokens = 512

  /** CorpusChain.corpusChain with q57's parameters. */
  def chain(docs: DataFrame): DataFrame =
    CorpusChain.corpusChain(docs, "doc_id", "text", "lang", "n_chars", lang = "en",
      rates = Map("en" -> 32, "de" -> 192), defaultOutOf256 = 64, packTokens = packTokens,
      nShards = 8)

  /** Corpus filter keep ratio, and the surviving documents. */
  def filterProbe(tr: Tracer, docs: DataFrame): (Double, DataFrame) = {
    val flags = tr("text.filter")(tr.mat(TextAnalysis.corpusFilter(docs, "doc_id", "text", "en")))
    val kept = flags.agg(count(lit(1)), sum(when(col("keep"), 1L).otherwise(0L))).head()
    (kept.getLong(1).toDouble / math.max(1L, kept.getLong(0)),
      docs.join(flags.where(col("keep")).select("doc_id"), Seq("doc_id"), "left_semi"))
  }

  /** The text layer measured once on `docs`: filter keep ratio, and the
    * whole chain's time and packed documents. */
  def textProbe(tr: Tracer, docs: DataFrame): Map[String, Double] = {
    val ratio = filterProbe(tr, docs)._1
    val packed = tr("text.chain")(tr.mat(chain(docs)))
    val packedDocs = tr("driver.count")(packed.select("doc_id").distinct().count())
    Map("text.filter_keep_ratio" -> ratio, "text.packed_docs" -> packedDocs.toDouble)
  }
}
