package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.collection.mutable

/** One layer call: name, wall interval, parent span and epoch/iteration id.
  * `counts` holds what the call produced (rows, bytes, ...), recorded at
  * the same boundary. */
final class Span(val id: Int, val name: String, val parent: Int, val unit: Int,
                 val startNs: Long, val startMs: Long) {
  var endNs: Long = startNs
  var endMs: Long = startMs
  var error: String = null
  val counts: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty
  def seconds: Double = (endNs - startNs) / 1e9
}

/**
 * Wraps every call into an engine layer. Untraced it only counts attempts
 * and failures; traced it also records a [[Span]], tags the Spark jobs the
 * call submits with a job group named after the span (so [[JobStats]] can
 * attribute jobs, stages and tasks to it) and materializes the layer's
 * output at its boundary ([[mat]]) so the span covers the layer's own work.
 *
 * Spans named `driver.*` are the benchmark's own bookkeeping (waits,
 * checks, the per-iteration container) and are not counted as layer calls.
 */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  val spans: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer.empty
  private var stack: List[Span] = Nil
  var attempted = 0L
  var failed = 0L
  /** Current iteration (closed loop) or epoch (open loop). */
  var unit: Int = -1

  def apply[A](name: String)(body: => A): A = {
    val counted = !name.startsWith("driver.")
    if (counted) attempted += 1
    val span = if (enabled) {
      val s = new Span(spans.length, name, stack.headOption.map(_.id).getOrElse(-1), unit,
        System.nanoTime(), System.currentTimeMillis())
      spans += s
      stack = s :: stack
      spark.sparkContext.setJobGroup(s"span-${s.id}", name, interruptOnCancel = false)
      s
    } else null
    try body
    catch {
      case e: Throwable =>
        if (counted) failed += 1
        if (span != null) span.error = e.toString
        throw e
    } finally if (span != null) {
      span.endNs = System.nanoTime()
      span.endMs = System.currentTimeMillis()
      stack = stack.tail
      stack.headOption match {
        case Some(p) => spark.sparkContext.setJobGroup(s"span-${p.id}", p.name, interruptOnCancel = false)
        case None => spark.sparkContext.clearJobGroup()
      }
    }
  }

  /** Record a count on the innermost open span (traced runs only). */
  def count(key: String, v: Double): Unit =
    if (enabled && stack.nonEmpty) stack.head.counts(key) = stack.head.counts.getOrElse(key, 0.0) + v

  /** Materialize a layer's output at its boundary when tracing; untraced
    * the lazy plan flows on into the next layer, as a user's job would. */
  def mat(df: DataFrame): DataFrame = if (enabled) df.localCheckpoint() else df
}

/** Per-job-group task/stage aggregates (one group per traced span). */
final class GroupStats {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var taskMs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  val stageTaskMs: mutable.Map[Int, mutable.ArrayBuffer[Long]] = mutable.Map.empty
}

/** SparkListener on the benchmark side: attributes every job, stage and
  * task to the job group (= span) that submitted it, and keeps each job's
  * wall interval for the orchestration share. */
final class JobStats extends SparkListener {
  val byGroup: mutable.Map[String, GroupStats] = mutable.Map.empty
  val jobIntervals: mutable.ArrayBuffer[(Long, Long)] = mutable.ArrayBuffer.empty
  private val jobStart = mutable.Map.empty[Int, Long]
  private val stageGroup = mutable.Map.empty[Int, String]

  private def g(group: String): GroupStats = byGroup.getOrElseUpdate(group, new GroupStats)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("none")
    jobStart(e.jobId) = e.time
    e.stageIds.foreach(stageGroup(_) = group)
    g(group).jobs += 1
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach(s => jobIntervals += ((s, e.time)))
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    g(stageGroup.getOrElse(e.stageInfo.stageId, "none")).stages += 1
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val s = g(stageGroup.getOrElse(e.stageId, "none"))
    s.tasks += 1
    s.taskMs += e.taskInfo.duration
    s.stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += e.taskInfo.duration
    val m = e.taskMetrics
    if (m != null) {
      s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }
  def group(spanId: Int): GroupStats = synchronized(byGroup.getOrElse(s"span-$spanId", new GroupStats))
}
