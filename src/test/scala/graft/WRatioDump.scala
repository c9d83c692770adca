package graft

import java.nio.file.{Files, Paths}
import graft.matching.Fuzzy

/**
 * WRatio differential dump: engine-side scores for (extracted item name x
 * product name) pairs plus adversarial fuzz pairs — consumed by
 * tools/wratio_check.py, which recomputes every score with an INDEPENDENT
 * pure-Python implementation of the published rapidfuzz WRatio spec
 * (indel ratio, optimal-alignment partial ratio, fuzzywuzzy token
 * composites, the 0.95/0.9/0.6/1.5/8 constants) and asserts decision-band
 * and score parity. rapidfuzz itself is not installable in this sandbox
 * (zero egress), so two independent implementations of the public spec is
 * the strongest differential available.
 *
 * Usage: sbt "Test/runMain graft.WRatioDump /tmp/wr.jsonl [nTurns]"
 */
object WRatioDump {

  private def jstr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  /** `words` repeated and cut to exactly n chars, also after processing. */
  private def sized(n: Int, words: String): String = {
    val s = ((words + " ") * (n / (words.length + 1) + 1)).take(n)
    val out = if (s.endsWith(" ")) s.init + "x" else s
    require(Fuzzy.process(out).length == n, s"'$out' does not process to $n chars")
    out
  }

  /** Pairs longer than one 64-bit kernel word after processing: 64, 65 and
    * ~130 chars, on both length-ratio branches (< 1.5: ratio and token
    * scores; >= 1.5: partial scores, with 64- and 65-char patterns). */
  private def longPairs: Seq[(String, String)] = Seq(
    (sized(64, "кабель силовой ввгнг"), sized(64, "силовой кабель ввгнг")),
    (sized(65, "кабель медный 3х2 5"), sized(64, "кабель медный 3x2 5")),
    (sized(130, "провод пв3 1х16 желто зеленый"), sized(128, "провод пв 3 1х16 желтый")),
    (sized(129, "ab ba aab"), sized(65, "ab ba")),
    (sized(64, "кабель ввг"), sized(130, "кабель силовой ввг")),
    (sized(65, "сип 4 4х25"), sized(600, "сип 4 4х25 гост")))

  def main(args: Array[String]): Unit = {
    val nTurns = if (args.length > 1) args(1).toInt else 1500
    // extracted names: run the engine over synthetic turns, collect distinct
    val names = scala.collection.mutable.LinkedHashSet.empty[String]
    (0L until nTurns.toLong).foreach { id =>
      val t = graft.io.Transcripts.turnFor(42L, id, nTurns.toLong, 0.05, 8)
      val r = graft.core.Engine.parseTurn(t.conv_id, t.turn_idx, t.text)
      r.best_items.foreach(it => names += it.name)
    }
    val products = graft.io.Transcripts.products ++ Seq(
      "Болт М8 оцинкованный", "Гайка М10")
    // adversarial pairs: unicode digits/letters, length-ratio branch edges,
    // empty-after-processing, token-set corner cases
    val adversarial = Seq(
      ("м2 площадь", "м² площадь"), ("abc", "ABC"), ("', ,,", "abc"),
      ("кабель", "КАБЕЛЬ СИЛОВОЙ ВВГнг 3х2,5 очень длинное наименование для partial"),
      ("a", "a" * 12), ("ab", "ab" * 8), ("x y z", "z y x"),
      ("кабель ввг 3х2.5", "ввг кабель 3х2,5"), ("１２３", "123"),
      ("Ёлка", "елка"), ("ООО СТАРТ", "старт ооо"), ("№5", "N5"),
      ("a" * 8, "a" * 64), ("токен один", "токен один токен два токен три")) ++ longPairs
    val sb = new StringBuilder
    def emit(a: String, b: String): Unit = {
      val s = Fuzzy.wratio(a, b)
      sb.append(s"""{"a":${jstr(a)},"b":${jstr(b)},"score":$s}""").append('\n')
    }
    for (n <- names; p <- products) emit(n, p)
    adversarial.foreach { case (a, b) => emit(a, b) }
    Files.writeString(Paths.get(args(0)), sb.toString)
    println(s"dumped ${names.size} names x ${products.size} products + ${adversarial.size} adversarial pairs to ${args(0)}")
  }
}
