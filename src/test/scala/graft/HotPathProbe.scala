package graft

import graft.core._
import graft.io.Transcripts

/** Dev microprobe: per-parser single-thread cost over synthetic payloads.
  * Usage: sbt "Test/runMain graft.HotPathProbe [n]" */
object HotPathProbe {
  def main(args: Array[String]): Unit = {
    val n = if (args.length > 0) args(0).toInt else 3000
    val texts = (0L until n.toLong).map(id => Transcripts.payload(42L, id)).toArray
    def time(label: String)(f: String => Any): Unit = {
      // warmup
      texts.take(500).foreach(f)
      var best = Double.MaxValue
      (1 to 3).foreach { _ =>
        val t0 = System.nanoTime()
        texts.foreach(f)
        val dt = (System.nanoTime() - t0) / 1e3 / n
        if (dt < best) best = dt
      }
      println(f"$label%-22s ${best}%8.2f us/turn")
    }
    time("sharedLines+segment") { t =>
      val s = new ParserCommon.SharedLines(t); Segmentation.segmentShared(s)
    }
    def withSeg(f: (ParserCommon.SharedLines, Seq[graft.core.Tab]) => Any): String => Any = { t =>
      val s = new ParserCommon.SharedLines(t)
      val seg = Segmentation.segmentShared(s)
      f(s, seg.tables)
    }
    time("commercial")(withSeg((s, tb) => try CommercialParser.parse(s, tb) catch { case _: Exception => Nil }))
    time("invoice")(withSeg((s, tb) => try InvoiceParser.parse(s, tb) catch { case _: Exception => Nil }))
    time("competitive")(withSeg((s, tb) => try CompetitiveParser.parse(s, tb) catch { case _: Exception => Nil }))
    time("universal")(withSeg((s, tb) => try UniversalCoreParser.parse(s, tb) catch { case _: Exception => Nil }))
    time("supplier_profile")(withSeg((s, tb) => try SupplierProfiles.parseWithProfile(s.text, tb) catch { case _: Exception => Nil }))
    time("table_extractor")(withSeg((s, tb) => try TableExtractor.parse(tb) catch { case _: Exception => Nil }))
    time("precise_table")(withSeg((s, tb) => try PreciseTableParser.parse(tb) catch { case _: Exception => Nil }))
    time("FULL parseTurn") { t => Engine.parseTurn("c", 0, t) }
    // allocation per turn — deterministic, unlike wall time on this host
    val mx = java.lang.management.ManagementFactory.getThreadMXBean
      .asInstanceOf[com.sun.management.ThreadMXBean]
    def alloc(label: String)(f: String => Any): Unit = {
      texts.take(500).foreach(f) // warm
      val a0 = mx.getCurrentThreadAllocatedBytes
      texts.foreach(f)
      val a1 = mx.getCurrentThreadAllocatedBytes
      println(f"ALLOC $label%-20s ${(a1 - a0).toDouble / n}%.0f bytes/turn")
    }
    alloc("sharedLines+segment") { t =>
      val s = new ParserCommon.SharedLines(t); Segmentation.segmentShared(s)
    }
    alloc("commercial")(withSeg((s, tb) => try CommercialParser.parse(s, tb) catch { case _: Exception => Nil }))
    alloc("invoice")(withSeg((s, tb) => try InvoiceParser.parse(s, tb) catch { case _: Exception => Nil }))
    alloc("competitive")(withSeg((s, tb) => try CompetitiveParser.parse(s, tb) catch { case _: Exception => Nil }))
    alloc("universal")(withSeg((s, tb) => try UniversalCoreParser.parse(s, tb) catch { case _: Exception => Nil }))
    alloc("supplier_profile")(withSeg((s, tb) => try SupplierProfiles.parseWithProfile(s.text, tb) catch { case _: Exception => Nil }))
    alloc("table+precise")(withSeg((s, tb) => { try TableExtractor.parse(tb) catch { case _: Exception => Nil }; try PreciseTableParser.parse(tb) catch { case _: Exception => Nil } }))
    alloc("FULL")(t => Engine.parseTurn("c", 0, t))
  }
}

/** Crude stack sampler over one parser's loop. Usage:
  * sbt "Test/runMain graft.HotPathSample competitive 400" */
object HotPathSample {
  def main(args: Array[String]): Unit = {
    val which = if (args.length > 0) args(0) else "competitive"
    val samples = if (args.length > 1) args(1).toInt else 400
    val texts = (0L until 3000L).map(id => graft.io.Transcripts.payload(42L, id)).toArray
    @volatile var stop = false
    val worker = new Thread(() => {
      var i = 0
      while (!stop) {
        val t = texts(i % texts.length)
        val s = new graft.core.ParserCommon.SharedLines(t)
        val seg = graft.core.Segmentation.segmentShared(s)
        try {
          which match {
            case "competitive" => graft.core.CompetitiveParser.parse(s, seg.tables)
            case "universal" => graft.core.UniversalCoreParser.parse(s, seg.tables)
            case "commercial" => graft.core.CommercialParser.parse(s, seg.tables)
            case "invoice" => graft.core.InvoiceParser.parse(s, seg.tables)
            case _ => graft.core.Engine.parseTurn("c", 0, t)
          }
        } catch { case _: Exception => }
        i += 1
      }
    })
    worker.setDaemon(true)
    worker.start()
    Thread.sleep(1500) // warmup
    val tally = scala.collection.mutable.Map.empty[String, Int].withDefaultValue(0)
    (0 until samples).foreach { _ =>
      val st = worker.getStackTrace
      // deepest graft/relevant frame
      val fr = st.find(f => f.getClassName.startsWith("graft") ||
        f.getClassName.startsWith("java.util.regex") ||
        f.getClassName.startsWith("java.lang.String") ||
        f.getClassName.startsWith("scala.collection"))
      fr.foreach(f => tally(f.getClassName + "." + f.getMethodName) += 1)
      // also tally the deepest graft frame for attribution
      st.find(_.getClassName.startsWith("graft")).foreach(f =>
        tally("GRAFT: " + f.getClassName + "." + f.getMethodName + ":" + f.getLineNumber) += 1)
      Thread.sleep(3)
    }
    stop = true
    tally.toSeq.sortBy(-_._2).take(30).foreach { case (k, v) => println(f"$v%5d  $k") }
  }
}

/** Print formatted plans for ad-hoc audit. Usage: Test/runMain graft.PlanPeek q35_distinctive_terms ... */
object PlanPeek {
  def main(args: Array[String]): Unit = {
    val spark = SparkEntry.session(4)
    spark.sparkContext.setLogLevel("ERROR")
    args.foreach { q =>
      println(s"===== $q =====")
      SparkEntry.queries(q)(spark, "/root/testdata/sf0.01").explain("formatted")
    }
    spark.stop()
  }
}
