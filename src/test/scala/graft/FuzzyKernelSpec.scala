package graft

import org.scalacheck.{Gen, Prop, Test}
import org.scalatest.funsuite.AnyFunSuite
import graft.matching.Fuzzy
import graft.ref.FuzzyRef

/** Properties of the bit-parallel WRatio kernel against the dynamic-program
  * formulation it replaced (graft.ref.FuzzyRef): LCS lengths across the
  * 64-bit word boundaries, windowed partialRatio, and wratioPrepared, all
  * exact (scores bit-identical). */
class FuzzyKernelSpec extends AnyFunSuite {

  private val params = Test.Parameters.default
    .withMinSuccessfulTests(1000).withInitialSeed(20041L)

  private def check(p: Prop): Unit = {
    val r = Test.check(params, p)
    assert(r.passed, s"${r.status} after ${r.succeeded} passed cases")
  }

  /** Lengths 0-200 with extra weight on the word boundaries. */
  private val len: Gen[Int] = Gen.frequency(
    3 -> Gen.choose(0, 200),
    2 -> Gen.oneOf(0, 1, 63, 64, 65, 127, 128, 129, 191, 192, 193, 200))

  private def over(alphabet: Seq[Char], n: Gen[Int] = len): Gen[String] =
    n.flatMap(k => Gen.listOfN(k, Gen.oneOf(alphabet)).map(_.mkString))

  private val twoLetter = "ab"
  private val cyrillic = "абвгдежзиклмнопрстуфхцчшщыэюяё "
  private val digits = "0123456789² "

  private val pairs: Gen[(String, String)] = Gen.oneOf(
    Seq(twoLetter, cyrillic, digits, twoLetter + cyrillic + digits).map { a =>
      Gen.zip(over(a), over(a))
    }).flatMap(identity)

  test("bit-parallel LCS == dynamic-program LCS across word boundaries") {
    check(Prop.forAllNoShrink(pairs) { case (a, b) =>
      Fuzzy.lcs(a, b) == FuzzyRef.lcs(a, b) && Fuzzy.lcs(b, a) == FuzzyRef.lcs(a, b)
    })
  }

  test("LCS of identical strings is their length; empty strings give 0") {
    check(Prop.forAllNoShrink(over(twoLetter + cyrillic + digits)) { s =>
      Fuzzy.lcs(s, s) == s.length && Fuzzy.lcs(s, "") == 0 && Fuzzy.lcs("", s) == 0 &&
        Fuzzy.ratio(s, s) == 100.0 && Fuzzy.ratio(s, "") == FuzzyRef.ratio(s, "")
    })
  }

  test("windowed partialRatio == substring partialRatio, bit for bit") {
    val shortLong = Gen.oneOf(twoLetter, cyrillic, digits).flatMap { a =>
      Gen.zip(over(a, Gen.frequency(3 -> Gen.choose(0, 130), 1 -> Gen.oneOf(63, 64, 65, 129))),
        over(a))
    }
    check(Prop.forAllNoShrink(shortLong) { case (a, b) =>
      Fuzzy.partialRatio(a, b) == FuzzyRef.partialRatio(a, b) &&
        Fuzzy.partialRatio(b, a) == FuzzyRef.partialRatio(b, a)
    })
  }

  /** Raw names: tokens from a small vocabulary (so token sets overlap),
    * mixed case, punctuation separators, up to ~200 chars after processing. */
  private val rawName: Gen[String] = {
    val vocab = Seq("кабель", "Кабель", "ВВГнг", "ввг", "силовой", "3х2,5", "3x2.5", "м²",
      "ГОСТ", "a", "ab", "ba", "aab", "СИП-4", "4х25", "медный", "12", "2", "²", "Ёлка")
    val sep = Gen.oneOf(" ", " ", " ", "-", ", ", "  ", "/")
    Gen.choose(0, 28).flatMap(n => Gen.listOfN(n, Gen.zip(Gen.oneOf(vocab), sep)))
      .map(_.map { case (t, s) => t + s }.mkString)
  }

  test("wratioPrepared == the unprepared dynamic-program WRatio, bit for bit") {
    check(Prop.forAllNoShrink(rawName, rawName) { (a, b) =>
      Fuzzy.wratioPrepared(Fuzzy.prepare(a), Fuzzy.prepare(b)) == FuzzyRef.wratio(a, b) &&
        Fuzzy.wratio(a, b) == FuzzyRef.wratio(a, b)
    })
  }

  test("wratio on both length-ratio branches past 64 chars") {
    val long = Gen.oneOf(twoLetter + " ", cyrillic).flatMap(a => Gen.zip(over(a), over(a)))
    check(Prop.forAllNoShrink(long) { case (a, b) => Fuzzy.wratio(a, b) == FuzzyRef.wratio(a, b) })
  }
}
