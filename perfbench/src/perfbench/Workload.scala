package perfbench

import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** What one timed pass produced. `latencies` holds one entry per unit of
  * work (closed-loop iteration, or epoch timed from its due time), in
  * steal-corrected seconds ([[Steal]]); `steal` is the share of the pass's
  * wanted CPU time the host gave to other guests; `rows`
  * the input rows that unit processed; `lateS` how far an open-loop
  * generator started each unit behind its schedule (empty for a closed
  * loop, which has no schedule). */
final case class Pass(latencies: Seq[Double], rows: Seq[Long], lateS: Seq[Double],
                      wallS: Double, startMs: Long, endMs: Long, steal: Double)

/**
 * Steal-corrected timing. On a shared virtual machine the host can hold a
 * runnable vCPU off the CPU to run other guests; the guest kernel counts
 * that as `steal` in /proc/stat, and a CPU-bound run slowed by it reads
 * 20-50% slower for minutes at a time. An interval of wall time W during
 * which a share f = steal / (busy + steal) of the vCPU time this machine
 * wanted was stolen is charged W * (1 - f), a first-order estimate of the
 * time it would have taken had the host not taken those ticks. Idle vCPUs
 * accrue no steal, so f is the share of wanted time lost whether one core
 * or all were busy. Contention steal does not count (shared caches,
 * memory bandwidth) stays in the figure: on the machine the benchmark was
 * tuned on the correction removed about half of a steal episode's
 * slowdown.
 * Without /proc/stat (not Linux) f is 0 and times are plain wall time.
 */
object Steal {
  final case class Mark(ns: Long, busy: Long, steal: Long)

  def mark(): Mark = {
    val f = try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong) finally src.close()
    } catch { case _: Exception => Array.empty[Long] }
    // user nice system idle iowait irq softirq steal ...
    if (f.length < 8) Mark(System.nanoTime(), 0L, 0L)
    else Mark(System.nanoTime(), f(0) + f(1) + f(2) + f(5) + f(6), f(7))
  }

  def share(a: Mark, b: Mark): Double = {
    val (db, ds) = (b.busy - a.busy, b.steal - a.steal)
    if (db + ds <= 0) 0.0 else ds.toDouble / (db + ds)
  }

  /** Steal-corrected seconds from `a` to `b`. */
  def seconds(a: Mark, b: Mark): Double = (b.ns - a.ns) / 1e9 * (1 - share(a, b))
}

/** Output-check failures of a run; any failure marks the run failed. */
final class Checks {
  val failures: mutable.ArrayBuffer[String] = mutable.ArrayBuffer.empty
  def expect(ok: Boolean, what: => String): Unit = if (!ok) failures += what
}

trait Workload {
  def name: String
  /** Generate and write the seeded inputs under `work`. */
  def setup(spark: SparkSession, work: String): Unit
  /** Run the workload once, untimed, so the timed phase starts warm. */
  def warmup(spark: SparkSession, work: String): Unit
  /** The timed phase: exactly `units` units when `units` > 0, otherwise
    * a fixed number derived from `seconds` (see [[Workload.unitsFor]]), so
    * every run measures the same work. Outputs go under `out`. */
  def run(spark: SparkSession, tr: Tracer, checks: Checks, seconds: Double, units: Int,
          out: String): Pass
  /** Output checks that must stay outside the timed phase. */
  def finalCheck(spark: SparkSession, checks: Checks, out: String, pass: Pass): Unit = ()
  /** Per-layer extras a traced run measures once on the workload's input
    * (metric name -> value), recorded inside their own spans. */
  def probes(spark: SparkSession, tr: Tracer): Map[String, Double] = Map.empty
  /** Per-layer metrics of layers this workload never calls; a traced run
    * reports them as 0 and lists them as not run. Any other metric the
    * traced run fails to produce fails the run. */
  def notRun: Set[String] = Set.empty
  /** Text payloads of this workload, for the single-thread core probe. */
  def payloads(n: Int): Array[String]
}

object Workload {
  /** Units that fill `seconds` at `unitS` seconds each (at least two);
    * `units` > 0 overrides. `unitS` is the unit's time on a warm 4-vCPU
    * machine: a fixed count rather than a deadline keeps a slow run from
    * measuring fewer, colder units. */
  def unitsFor(seconds: Double, unitS: Double, units: Int): Int =
    if (units > 0) units else math.max(2, math.round(seconds / unitS).toInt)

  /** Run `n` closed-loop iterations, timing each. */
  def closedLoop(tr: Tracer, n: Int)(iteration: Int => Long): Pass = {
    val lat = mutable.ArrayBuffer.empty[Double]
    val rows = mutable.ArrayBuffer.empty[Long]
    val t0 = Steal.mark()
    val m0 = System.currentTimeMillis()
    for (i <- 0 until n) {
      tr.unit = i
      val s = Steal.mark()
      rows += tr("driver.iteration")(iteration(i))
      lat += Steal.seconds(s, Steal.mark())
    }
    val t1 = Steal.mark()
    Pass(lat.toSeq, rows.toSeq, Nil, (t1.ns - t0.ns) / 1e9, m0, System.currentTimeMillis(),
      Steal.share(t0, t1))
  }
}
