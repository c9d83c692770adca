package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftbridge.Bridge
import scala.jdk.CollectionConverters._

/**
 * The traced run: the workload's timed phase again with every layer call
 * in a span, the Spark listener attributing jobs/stages/tasks to spans,
 * then the workload's one-off probes and the single-thread core probe.
 * Times (`*_s`, `*_us`) are means per layer call; counts and bytes are per
 * unit of work (iteration or epoch) unless the name says otherwise.
 */
object Layers {
  final case class Result(tracer: Tracer, metrics: Seq[(String, Double, String)],
                          notRun: Set[String])

  /** Every per-layer metric, with its unit, in report order. */
  val units: Seq[(String, String)] = Seq(
    "core.parse_turn_us" -> "us", "core.alloc_bytes_per_turn" -> "B",
    "core.segment_us" -> "us") ++
    Seq("commercial", "invoice", "competitive", "universal", "supplier_profile",
      "table_extractor", "precise_table_parser").map(p => s"core.parser_us.$p" -> "us") ++ Seq(
    "core.items_per_turn" -> "count", "core.yield" -> "ratio",
    "pipeline.extract_s" -> "s", "pipeline.task_busy_s" -> "s", "pipeline.busy_share" -> "ratio",
    "matching.match_s" -> "s", "matching.pairs_scored" -> "count", "matching.kept_ratio" -> "ratio",
    "matching.auto_ratio" -> "ratio", "matching.shuffle_bytes" -> "B",
    "io.sink_s" -> "s", "io.bytes_written_per_row" -> "B/row", "io.commit_s" -> "s",
    "io.chunks_committed" -> "count", "io.rerun_chunks" -> "count", "io.audit_s" -> "s",
    "skew.task_max_over_median" -> "ratio", "skew.cap_dropped_rows" -> "count",
    "dedup.build_s" -> "s", "dedup.merge_s" -> "s", "dedup.cluster_s" -> "s",
    "dedup.compact_s" -> "s", "dedup.index_families" -> "count", "dedup.verified_pairs" -> "count",
    "dedup.verify_yield" -> "ratio", "dedup.cached_bytes" -> "B",
    "text.chain_s" -> "s", "text.filter_keep_ratio" -> "ratio", "text.packed_docs" -> "count",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.shuffle_write_bytes" -> "B", "spark.spill_bytes" -> "B", "spark.gc_s" -> "s",
    "spark.jit_s" -> "s", "spark.orchestration_s" -> "s", "spark.busy_share" -> "ratio",
    "driver.late_s" -> "s", "driver.trace_overhead_s" -> "s", "driver.traced_wall_s" -> "s",
    "driver.untraced_s" -> "s", "driver.steal_share" -> "ratio")

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
  private def jitMs(): Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime

  /** Total length of the union of [start, end) intervals. */
  def covered(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { total += curE - curS; curS = s; curE = e }
      else if (e > curE) curE = e
    }
    total + (curE - curS)
  }

  def measure(spark: SparkSession, w: Workload, checks: Checks, base: Pass, out: String,
              traceOut: String): Result = {
    val nproc = spark.sparkContext.defaultParallelism
    val stats = new JobStats
    spark.sparkContext.addSparkListener(stats)
    val caps = graft.skew.CapMetrics.register(spark)
    val tr = new Tracer(spark, enabled = true)
    val nUnits = base.latencies.length
    val (gc0, jit0) = (gcMs(), jitMs())
    val pass = w.run(spark, tr, checks, 0, nUnits, out)
    val (gc1, jit1) = (gcMs(), jitMs())
    Bridge.waitListenerBus(spark)
    val all = stats.byGroup.values.toSeq
    val (jobs, stages, tasks, taskMs) =
      (all.map(_.jobs).sum, all.map(_.stages).sum, all.map(_.tasks).sum, all.map(_.taskMs).sum)
    val (shuffleBytes, spillBytes) = (all.map(_.shuffleWriteBytes).sum, all.map(_.spillBytes).sum)
    val jobMs = covered(stats.jobIntervals.toSeq.map { case (s, e) =>
      (math.max(s, pass.startMs), math.min(e, pass.endMs)) }.filter { case (s, e) => e > s })
    val topLevel = tr.spans.filter(_.parent < 0).map(s => (s.startNs, s.endNs)).toSeq
    val cached = spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
    w.finalCheck(spark, checks, out, pass)
    val probes = w.probes(spark, tr)
    val core = CoreProbe.run(w.payloads(2000))
    Bridge.waitListenerBus(spark)

    val n = nUnits.toDouble
    def named(name: String) = tr.spans.filter(_.name == name)
    // NaN marks a metric whose span or count the pass never produced
    def meanS(name: String) = {
      val s = named(name)
      if (s.isEmpty) Double.NaN else s.map(_.seconds).sum / s.length
    }
    def cnt(names: String*)(key: String) = {
      val cs = tr.spans.filter(s => names.contains(s.name)).flatMap(_.counts.get(key))
      if (cs.isEmpty) Double.NaN else cs.sum
    }
    def groups(names: String*) = tr.spans.filter(s => names.contains(s.name)).map(s => stats.group(s.id))
    def ratio(a: Double, b: Double) = if (b == 0) 0.0 else a / b
    def spanned(name: String)(v: => Double) = if (named(name).isEmpty) Double.NaN else v
    val wallMs = pass.endMs - pass.startMs
    val extractTaskS = groups("pipeline.extract").map(_.taskMs).sum / 1000.0
    val writeStages = groups("io.commit", "io.sink").flatMap(_.stageTaskMs.values).filter(_.length >= 2)
    val pairs = cnt("driver.count")("pairs_scored")
    val kept = cnt("driver.count")("kept")
    val passNs = (pass.wallS * 1e9).toLong
    val m: Map[String, Double] = Map(
      "pipeline.extract_s" -> meanS("pipeline.extract"),
      "pipeline.task_busy_s" -> spanned("pipeline.extract")(
        extractTaskS / named("pipeline.extract").length),
      "pipeline.busy_share" -> spanned("pipeline.extract")(ratio(extractTaskS,
        named("pipeline.extract").map(_.seconds).sum * nproc)),
      "matching.match_s" -> meanS("matching.match"),
      "matching.pairs_scored" -> pairs / n,
      "matching.kept_ratio" -> ratio(kept, pairs),
      "matching.auto_ratio" -> ratio(cnt("driver.count")("auto"), kept),
      "matching.shuffle_bytes" -> spanned("matching.match")(
        groups("matching.match").map(_.shuffleWriteBytes).sum / n),
      "io.sink_s" -> meanS("io.sink"),
      "io.bytes_written_per_row" -> ratio(cnt("io.sink", "io.commit")("bytes"),
        cnt("io.sink", "io.commit")("rows")),
      "io.commit_s" -> meanS("io.commit"),
      "io.chunks_committed" -> cnt("io.commit")("chunks") / n,
      "io.rerun_chunks" -> cnt("io.rerun")("chunks"),
      "io.audit_s" -> meanS("io.audit"),
      "skew.task_max_over_median" -> (if (writeStages.isEmpty) Double.NaN
        else writeStages.map { ts =>
          ts.max.toDouble / math.max(1.0, Inputs.median(ts.map(_.toDouble).toSeq)) }.max),
      // CapMetrics reports only sites that dropped rows: no site, no drops
      "skew.cap_dropped_rows" -> caps.snapshot().values.map(_._2).sum.toDouble,
      "dedup.build_s" -> meanS("dedup.build"),
      "dedup.merge_s" -> meanS("dedup.merge"),
      "dedup.cluster_s" -> meanS("dedup.cluster"),
      "dedup.compact_s" -> meanS("dedup.compact"),
      "dedup.cached_bytes" -> cached.toDouble,
      "text.chain_s" -> meanS("text.chain"),
      "text.packed_docs" -> cnt("driver.check")("packed_docs") / n,
      "spark.jobs" -> jobs / n,
      "spark.stages" -> stages / n,
      "spark.tasks" -> tasks / n,
      "spark.shuffle_write_bytes" -> shuffleBytes / n,
      "spark.spill_bytes" -> spillBytes / n,
      "spark.gc_s" -> (gc1 - gc0) / 1000.0 / n,
      "spark.jit_s" -> (jit1 - jit0) / 1000.0 / n,
      "spark.orchestration_s" -> (wallMs - jobMs) / 1000.0 / n,
      "spark.busy_share" -> ratio(taskMs.toDouble, wallMs.toDouble * nproc),
      "driver.late_s" -> (if (pass.lateS.isEmpty) Double.NaN else pass.lateS.max),
      "driver.trace_overhead_s" -> (pass.latencies.sum - base.latencies.sum) / n,
      "driver.traced_wall_s" -> pass.wallS / n,
      "driver.untraced_s" -> (passNs - covered(topLevel)) / 1e9 / n,
      "driver.steal_share" -> pass.steal) ++ probes ++ core
    // every per-layer metric is reported; one the workload does not run reads
    // 0 and is listed as not run, one it should run but did not produce
    // fails the run
    val produced = m.filter { case (_, v) => !v.isNaN }
    units.map(_._1).filterNot(k => produced.contains(k) || w.notRun(k)).foreach { k =>
      checks.expect(ok = false, s"per-layer metric $k was not produced")
    }
    val notRun = units.map(_._1).filter(k => w.notRun(k) || !produced.contains(k))
    val metrics = units.map { case (k, u) => (k, produced.getOrElse(k, 0.0), u) }
    if (traceOut.nonEmpty) writeTrace(traceOut, w.name, tr, stats, metrics, notRun, caps.snapshot())
    Result(tr, metrics, notRun.toSet)
  }

  private def writeTrace(path: String, workload: String, tr: Tracer, stats: JobStats,
                         metrics: Seq[(String, Double, String)], notRun: Seq[String],
                         caps: Map[String, (Long, Long)]): Unit = {
    val children = tr.spans.groupBy(_.parent)
    val spans = tr.spans.map { s =>
      val kids = children.getOrElse(s.id, Nil).map(c => (c.startNs, c.endNs)).toSeq
      val g = stats.group(s.id)
      Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent, "unit" -> s.unit,
        "start_ms" -> s.startMs, "end_ms" -> s.endMs, "seconds" -> s.seconds,
        "self_s" -> (s.endNs - s.startNs - covered(kids)) / 1e9, "error" -> s.error,
        "counts" -> s.counts, "jobs" -> g.jobs, "stages" -> g.stages, "tasks" -> g.tasks,
        "task_s" -> g.taskMs / 1000.0, "shuffle_write_bytes" -> g.shuffleWriteBytes,
        "spill_bytes" -> g.spillBytes)
    }
    val doc = Map("workload" -> workload,
      "metrics" -> metrics.map { case (k, v, u) => Map("name" -> k, "value" -> v, "unit" -> u) },
      "not_run" -> notRun,
      "jvm" -> CoreProbe.jvmEnv(),
      "cap_drops" -> caps.map { case (k, (keys, rows)) => k -> Map("keys" -> keys, "rows" -> rows) },
      "spans" -> spans)
    val p = Paths.get(path)
    Option(p.getParent).foreach(Files.createDirectories(_))
    Files.writeString(p, Json.render(doc))
    System.err.println(s"[perfbench] trace written to $path")
  }
}
