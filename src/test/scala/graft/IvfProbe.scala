package graft

import scala.jdk.CollectionConverters._

/** Dev probe: repeated q30 timing with GC/JIT counters to locate the bimodal cost. */
object IvfProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = SparkEntry.session(32)
    val fn = SparkEntry.queries("q30_ann_ivf")
    def gcMs: Long = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(_.getCollectionTime).sum
    def jitMs: Long = java.lang.management.ManagementFactory.getCompilationMXBean.getTotalCompilationTime
    val cm = org.apache.spark.metrics.source.CodegenMetrics
    (1 to 8).foreach { i =>
      val g0 = gcMs; val j0 = jitMs; val t0 = System.nanoTime()
      val c0 = cm.METRIC_SOURCE_CODE_SIZE.getCount
      val s0 = cm.METRIC_SOURCE_CODE_SIZE.getSnapshot.getValues.sum
      val t0c = cm.METRIC_COMPILATION_TIME.getSnapshot.getValues.sum
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      val dt = (System.nanoTime() - t0) / 1e9
      val nGen = cm.METRIC_SOURCE_CODE_SIZE.getCount - c0
      println(f"[probe] q30 run$i ${dt}%7.2f s  gc=${gcMs - g0}%5d ms  jit=${jitMs - j0}%6d ms  janinoCompiles=+$nGen  maxSrc=${cm.METRIC_SOURCE_CODE_SIZE.getSnapshot.getMax}")
    }
    spark.stop()
  }
}
