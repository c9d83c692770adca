package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.dedup.Dedup
import graft.io.{Manifests, Transcripts}
import scala.collection.mutable

/**
 * `epochs`: incremental ingest as an open loop. Epoch e is due at
 * `e * intervalS` after the start, whether or not epoch e-1 has finished.
 * Each epoch takes a fresh transcripts batch (hot share 0.3: one
 * conversation holds 30% of the rows) and a 1/E slice of the documents:
 *  1. Manifests.resumableExtract (chunked, salted, manifest commits);
 *  2. the same call again, which must execute no chunk;
 *  3. Manifests.readCommitted(verify = true) — the audited read;
 *  4. Dedup.buildDedupIndex at epoch 0, then incrementalDedupClusters,
 *     and the epoch's clusters written; the epoch ends here;
 *  5. compactDedupIndex every `compactEvery` epochs.
 * Latency runs from the epoch's due time, so a stall also charges the
 * epochs queued behind it.
 */
final class EpochsWorkload(seed: Long, seconds: Double) extends Workload {
  val name = "epochs"
  val intervalS = 9.25
  val turnsPerEpoch = 500L
  val nDocs = 1000
  val compactEvery = 2
  val nChunks = 2
  /** Epochs in a pass of `s` seconds: those due within it, at least two. */
  private def epochsFor(s: Double): Int = math.max(2, (s / intervalS).toInt + 1)
  /** Epochs of a full run; the documents are cut into this many slices. */
  val nEpochs: Int = epochsFor(seconds)
  private var turnsDir: String = _
  private var docsDir: String = _
  private var lastIndex: Dedup.DedupIndex = _
  private var lastEpoch = -1
  private var sliceRows: Map[Int, Long] = Map.empty

  def setup(spark: SparkSession, work: String): Unit = {
    turnsDir = s"$work/inputs/transcripts"
    docsDir = s"$work/inputs/documents"
    (0 until nEpochs).map { e =>
      Transcripts.generate(spark, turnsPerEpoch, Transcripts.mix(seed ^ e), hotShare = 0.3)
        .toDF().withColumn("epoch", lit(e))
    }.reduce(_ unionByName _).write.mode("overwrite").partitionBy("epoch").parquet(turnsDir)
    Inputs.documents(spark, nDocs, seed)
      .withColumn("slice", pmod(xxhash64(col("doc_id"), lit(seed)), lit(nEpochs.toLong)).cast("int"))
      .write.mode("overwrite").parquet(docsDir)
    sliceRows = docs(spark).groupBy("slice").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
  }

  /** Epoch 0 builds the index and merges an empty delta into it, so both
    * the build and the merge paths are warm. */
  def warmup(spark: SparkSession, work: String): Unit =
    epoch(spark, new Tracer(spark, enabled = false), new Checks, s"$work/warmup", 0)

  def run(spark: SparkSession, tr: Tracer, checks: Checks, seconds: Double, units: Int,
          out: String): Pass = {
    val n = if (units > 0) units else math.min(nEpochs, epochsFor(seconds))
    val lat = mutable.ArrayBuffer.empty[Double]
    val late = mutable.ArrayBuffer.empty[Double]
    val t0 = Steal.mark()
    val m0 = System.currentTimeMillis()
    for (e <- 0 until n) {
      tr.unit = e
      val due = t0.ns + (e * intervalS * 1e9).toLong
      val wait = due - System.nanoTime()
      if (wait > 0) tr("driver.wait")(Thread.sleep(wait / 1000000, (wait % 1000000).toInt))
      val start = Steal.mark()
      late += math.max(0L, start.ns - due) / 1e9
      tr("driver.epoch")(epoch(spark, tr, checks, out, e))
      // the backlog a late start waited through is charged as wall time
      lat += late.last + Steal.seconds(start, Steal.mark())
      if (e % compactEvery == compactEvery - 1)
        lastIndex = tr("dedup.compact")(Dedup.compactDedupIndex(lastIndex))
    }
    val t1 = Steal.mark()
    Pass(lat.toSeq, (0 until n).map(e => turnsPerEpoch + sliceRows.getOrElse(e, 0L)), late.toSeq,
      (t1.ns - t0.ns) / 1e9, m0, System.currentTimeMillis(), Steal.share(t0, t1))
  }

  private def docs(spark: SparkSession): DataFrame = spark.read.parquet(docsDir)

  private def epoch(spark: SparkSession, tr: Tracer, checks: Checks, out: String, e: Int): Unit = {
    val turns = spark.read.parquet(turnsDir).where(col("epoch") === e).drop("epoch")
    val dir = s"$out/extract/epoch=$e"
    val ran = tr("io.commit") {
      val r = Manifests.resumableExtract(spark, turns, dir, nChunks, numPartitions =
        spark.sparkContext.defaultParallelism, salt = 8)
      tr.count("chunks", r)
      tr.count("rows", turnsPerEpoch.toDouble)
      tr.count("bytes", Inputs.dirBytes(dir).toDouble)
      r
    }
    checks.expect(ran == nChunks, s"epoch $e: $ran of $nChunks chunks committed")
    val rerun = tr("io.rerun") {
      val r = Manifests.resumableExtract(spark, turns, dir, nChunks, numPartitions =
        spark.sparkContext.defaultParallelism, salt = 8)
      tr.count("chunks", r)
      r
    }
    checks.expect(rerun == 0, s"epoch $e: re-run executed $rerun chunks")
    val audited = tr("io.audit")(Manifests.readCommitted(spark, dir, verify = true).count())
    checks.expect(audited == turnsPerEpoch, s"epoch $e: audited read has $audited rows")
    val newDocs = docs(spark).where(col("slice") === e).drop("slice")
    val allDocs = docs(spark).where(col("slice") <= e).drop("slice")
    val (clusters, merged) = if (e == 0) {
      val index = tr("dedup.build")(Dedup.buildDedupIndex(newDocs, "doc_id", "text"))
      // an empty delta labels the bootstrap epoch from its own index
      tr("dedup.merge")(Dedup.incrementalDedupClusters(index, allDocs, newDocs.limit(0),
        "doc_id", "text"))
    } else tr("dedup.merge")(Dedup.incrementalDedupClusters(lastIndex, allDocs, newDocs,
      "doc_id", "text"))
    lastIndex = merged
    lastEpoch = e
    val labels = tr("dedup.cluster")(tr.mat(clusters))
    tr("io.sink") {
      val cdir = s"$out/clusters/epoch=$e"
      labels.write.mode("overwrite").parquet(cdir)
      tr.count("bytes", Inputs.dirBytes(cdir).toDouble)
      if (tr.enabled) {
        tr.count("rows", spark.read.parquet(cdir).count().toDouble)
        tr.count("cached_bytes", spark.sparkContext.getRDDStorageInfo
          .map(i => i.memSize + i.diskSize).sum.toDouble)
      }
    }
  }

  /** The last epoch's clusters must equal a from-scratch
    * lshDedupClusters over every document seen so far; the extracted rows
    * and the manifests' checksums are pinned for the pinned seeds. */
  override def finalCheck(spark: SparkSession, checks: Checks, out: String, pass: Pass): Unit = {
    val e = lastEpoch
    val all = docs(spark).where(col("slice") <= e).drop("slice")
    val scratch = Dedup.lshDedupClusters(all, "doc_id", "text")
    val written = spark.read.parquet(s"$out/clusters/epoch=$e")
    val diff = written.select("doc_id", "cluster_id").exceptAll(scratch.select("doc_id", "cluster_id"))
      .count() + scratch.select("doc_id", "cluster_id").exceptAll(written.select("doc_id", "cluster_id"))
      .count()
    checks.expect(diff == 0, s"epoch $e clusters differ from a from-scratch run in $diff rows")
    val ms = (0 to e).flatMap(k => Manifests.readManifests(s"$out/extract/epoch=$k"))
    val clusterSum = Inputs.checksum(written)
    Pins.check(checks, name, seed, nEpochs * 100 + e + 1,
      (ms.map(_.rows).sum, ms.map(_.checksum).foldLeft(clusterSum._2)(_ ^ _)))
  }

  /** Dedup index size and verify yield over every document seen, plus the
    * text layer: the curation chain once over the same documents. */
  override def probes(spark: SparkSession, tr: Tracer): Map[String, Double] = {
    val all = docs(spark).where(col("slice") <= lastEpoch).drop("slice")
    val (fams, pairs) = tr("driver.count")((lastIndex.famAgg.count(), lastIndex.verified.count()))
    CorpusWorkload.textProbe(tr, all) ++ EpochsWorkload.verifyYield(tr, all) ++
      Map("dedup.index_families" -> fams.toDouble, "dedup.verified_pairs" -> pairs.toDouble)
  }

  /** The extraction runs inside Manifests.resumableExtract and is charged
    * to io.commit_s; the matcher never runs. */
  override val notRun: Set[String] = Set("pipeline.extract_s", "pipeline.task_busy_s",
    "pipeline.busy_share", "matching.match_s", "matching.pairs_scored", "matching.kept_ratio",
    "matching.auto_ratio", "matching.shuffle_bytes")

  def payloads(n: Int): Array[String] =
    Array.tabulate(n)(id => Transcripts.payload(Transcripts.mix(seed), id.toLong))
}

object EpochsWorkload {
  /** Verified near-duplicate pairs over MinHash-LSH candidates, with the
    * parameters lshDedupClusters uses (3-shingles, 16 bands x 2 rows,
    * Jaccard > 0.5). */
  def verifyYield(tr: Tracer, docs: DataFrame): Map[String, Double] = tr("dedup.verify") {
    val cands = Dedup.minhashCandidates(docs, "doc_id", "text", 3, 16, 2).localCheckpoint()
    val nc = cands.count()
    val nv = Dedup.jaccardVerify(docs, cands, "doc_id", "text", 3, 0.5).count()
    Map("dedup.verify_yield" -> (if (nc == 0) 0.0 else nv.toDouble / nc))
  }
}
