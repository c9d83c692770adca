package perfbench

import java.lang.management.ManagementFactory
import graft.core._
import graft.core.ParserCommon.SharedLines
import graft.model.Item

/**
 * Single-thread probe of the per-turn engine on a workload's own payloads:
 * µs and allocated bytes per Engine.parseTurn (ThreadMXBean, after a
 * 20k-turn warmup; the minimum of three passes, as allocation per turn is
 * deterministic and any excess is compilation noise), µs per
 * Segmentation.segmentShared, and µs per turn of each of the seven
 * parsers' public `parse` on pre-segmented input (a parser is charged for
 * the shared line views it is first to force). Also records the JVM
 * environment the numbers were taken in.
 */
object CoreProbe {
  private val warmupTurns = 20000

  private def parsers: Seq[(String, (SharedLines, Seq[Tab]) => Seq[Item])] = Seq(
    "commercial" -> ((s, t) => CommercialParser.parse(s, t)),
    "invoice" -> ((s, t) => InvoiceParser.parse(s, t)),
    "competitive" -> ((s, t) => CompetitiveParser.parse(s, t)),
    "universal" -> ((s, t) => UniversalCoreParser.parse(s, t)),
    "supplier_profile" -> ((s, t) => SupplierProfiles.parseWithProfile(s.text, t).items),
    "table_extractor" -> ((_, t) => TableExtractor.parse(t)),
    "precise_table_parser" -> ((_, t) => PreciseTableParser.parse(t)))

  def run(texts: Array[String]): Map[String, Double] = {
    val mx = ManagementFactory.getThreadMXBean.asInstanceOf[com.sun.management.ThreadMXBean]
    val n = texts.length
    var i = 0
    while (i < warmupTurns) { Engine.parseTurn("c", 0, texts(i % n)); i += 1 }
    val passes = (0 until 3).map { _ =>
      val a0 = mx.getCurrentThreadAllocatedBytes
      val t0 = System.nanoTime()
      var j = 0
      while (j < n) { Engine.parseTurn("c", 0, texts(j)); j += 1 }
      ((System.nanoTime() - t0) / 1e3 / n, (mx.getCurrentThreadAllocatedBytes - a0).toDouble / n)
    }
    val results = texts.map(Engine.parseTurn("c", 0, _))
    val segUs = {
      val t0 = System.nanoTime()
      texts.foreach(t => Segmentation.segmentShared(new SharedLines(t)))
      (System.nanoTime() - t0) / 1e3 / n
    }
    val perParser = parsers.map { case (name, parse) =>
      var ns = 0L
      texts.foreach { t =>
        val shared = new SharedLines(t)
        val tables = Segmentation.segmentShared(shared).tables
        val t0 = System.nanoTime()
        try parse(shared, tables) catch { case _: Exception => () }
        ns += System.nanoTime() - t0
      }
      s"core.parser_us.$name" -> ns / 1e3 / n
    }
    Map(
      "core.parse_turn_us" -> Inputs.median(passes.map(_._1)),
      "core.alloc_bytes_per_turn" -> passes.map(_._2).min,
      "core.segment_us" -> segUs,
      "core.items_per_turn" -> results.map(_.best_count).sum.toDouble / n,
      "core.yield" -> results.count(_.best_count > 0).toDouble / n) ++ perParser
  }

  /** The JVM the probe ran in: the facts behind a differing B/turn. */
  def jvmEnv(): Map[String, String] = {
    val hs = ManagementFactory.getPlatformMXBean(classOf[com.sun.management.HotSpotDiagnosticMXBean])
    def opt(name: String): String =
      try hs.getVMOption(name).getValue catch { case _: IllegalArgumentException => "n/a" }
    import scala.jdk.CollectionConverters._
    Map(
      "jvm_version" -> System.getProperty("java.vm.version"),
      "gc" -> ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getName).mkString("+"),
      "heap_max_bytes" -> Runtime.getRuntime.maxMemory.toString,
      "cpus" -> Runtime.getRuntime.availableProcessors.toString) ++
      Seq("CompactStrings", "TieredCompilation", "TieredStopAtLevel", "UseTLAB", "ResizeTLAB",
        "MinTLABSize", "TLABSize").map(k => k -> opt(k))
  }
}
