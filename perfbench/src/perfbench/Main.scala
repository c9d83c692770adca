package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._

/**
 * The benchmark's JVM entry point (launched by perfbench/run.py):
 *
 *   perfbench.Main --workload <extract|corpus_chain|epochs> --seed <n>
 *                  --seconds <s> --trace <0|1> --work <dir> [--trace-out <file>]
 *
 * Sets up (session, seeded inputs, warmup), then runs the timed phase.
 * setup_s runs from JVM start to the end of warmup; it and the unit
 * latencies are steal-corrected ([[Steal]]). Untraced (`--trace 0`) it
 * prints the end-to-end metrics; traced (`--trace 1`) it runs half the
 * units untraced and the same number traced, then prints the per-layer
 * metrics and writes every span to the trace file. The last stdout line
 * is the JSON result.
 */
object Main {
  final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        work: String, traceOut: String)

  private def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }
      .toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", need("work"), m.getOrElse("trace-out", ""))
  }

  private def session(work: String): SparkSession = {
    val n = Runtime.getRuntime.availableProcessors
    val s = SparkSession.builder()
      .master(s"local[$n]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", n.toLong)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def workload(o: Opts): Workload = o.workload match {
    case "extract" => new ExtractWorkload(o.seed)
    case "corpus_chain" => new CorpusWorkload(o.seed)
    case "epochs" => new EpochsWorkload(o.seed, o.seconds)
    case w => sys.error(s"unknown workload $w")
  }

  private def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val w = workload(o)
    val checks = new Checks
    val tracers = scala.collection.mutable.ArrayBuffer.empty[Tracer]
    var metrics: Seq[(String, Double, String)] = Nil
    var info: Seq[String] = Nil
    var notRun: Set[String] = Set.empty
    var error: Throwable = null
    var spark: SparkSession = null
    try {
      // set-up: from JVM start to session up, seeded inputs written and
      // warmup done; the steal share seen from main() on corrects it all
      val m0 = Steal.mark()
      val t0 = ManagementFactory.getRuntimeMXBean.getStartTime * 1000000L -
        (System.currentTimeMillis() * 1000000L - m0.ns)
      spark = session(o.work)
      w.setup(spark, o.work)
      val w0 = System.nanoTime()
      w.warmup(spark, o.work)
      val end = Steal.mark()
      val setupWallS = (end.ns - t0) / 1e9
      val setupS = setupWallS * (1 - Steal.share(m0, end))
      System.err.println(f"[perfbench] setup ${setupS}%.3f s (wall ${setupWallS}%.3f s, steal " +
        f"${Steal.share(m0, end) * 100}%.1f%%, warmup ${(end.ns - w0) / 1e9}%.3f s wall), " +
        s"inputs ${Inputs.dirBytes(s"${o.work}/inputs")} bytes, " +
        s"heap ${Runtime.getRuntime.maxMemory >> 20} MB")
      if (!o.trace) {
        val tr = new Tracer(spark, enabled = false)
        tracers += tr
        val pass = w.run(spark, tr, checks, o.seconds, 0, s"${o.work}/out")
        w.finalCheck(spark, checks, s"${o.work}/out", pass)
        metrics = Seq(
          ("setup_s", setupS, "s"),
          ("rows_per_s", pass.rows.sum / pass.latencies.sum, "rows/s"),
          ("epoch_p50_s", Inputs.median(pass.latencies), "s"),
          ("peak_rss_mb", peakRssMb(), "MB"))
        // the slowest of ~10 units spreads too widely across runs to be
        // bounded, so it is reported beside the result, not in it
        info = Seq(f"${"epoch_max_s"}%-36s ${pass.latencies.max}%16.6f s " +
          s"(slowest of ${pass.latencies.length})")
        System.err.println(s"[perfbench] ${pass.latencies.length} units, latencies " +
          pass.latencies.map(l => f"$l%.3f").mkString(" ") +
          f" s (steal-corrected; steal ${pass.steal * 100}%.1f%% of the pass)")
      } else {
        val plain = new Tracer(spark, enabled = false)
        tracers += plain
        val base = w.run(spark, plain, checks, o.seconds / 2, 0, s"${o.work}/out-plain")
        w.finalCheck(spark, checks, s"${o.work}/out-plain", base)
        val layers = Layers.measure(spark, w, checks, base, s"${o.work}/out-traced", o.traceOut)
        tracers += layers.tracer
        metrics = layers.metrics
        notRun = layers.notRun
      }
    } catch {
      case e: Throwable =>
        error = e
        System.err.println("[perfbench] run failed:")
        e.printStackTrace()
    }
    val attempted = math.max(1L, tracers.map(_.attempted).sum)
    val failedCalls = tracers.map(_.failed).sum
    checks.failures.foreach(f => System.err.println(s"[perfbench] CHECK FAILED: $f"))
    val correct = error == null && checks.failures.isEmpty
    // a failed output check marks every call of the run failed
    val failed = if (checks.failures.nonEmpty) attempted else math.max(failedCalls, if (error != null) 1L else 0L)
    metrics.foreach { case (k, v, u) =>
      println(f"$k%-36s $v%16.6f $u" + (if (notRun(k)) s" (not run on ${o.workload})" else ""))
    }
    info.foreach(println)
    println(f"${"fail_ratio"}%-36s ${failed.toDouble / attempted}%16.6f ratio ($failed/$attempted)")
    val m = metrics.map { case (k, v, u) => s""""$k": {"value": ${Json.num(v)}, "unit": "$u"}""" }
    println(s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, """ +
      s""""metrics": {${m.mkString(", ")}}}""")
    if (spark != null) spark.stop()
  }
}

/** Minimal JSON rendering for the result line and the trace file. */
object Json {
  def num(v: Double): String = if (v.isNaN || v.isInfinite) "null" else v.toString
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def render(v: Any): String = v match {
    case null | None => "null"
    case d: Double => num(d)
    case f: Float => num(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case s: String => str(s)
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ": " + render(x) }.mkString("{", ", ", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ", ", "]")
    case other => str(other.toString)
  }
}
