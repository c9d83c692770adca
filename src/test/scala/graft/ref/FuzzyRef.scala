package graft.ref

import graft.matching.Fuzzy

/**
 * The dynamic-programming formulation of [[graft.matching.Fuzzy]] that the
 * bit-parallel kernel replaced: O(m·n) LCS, a `substring` per partialRatio
 * window, and every string processed and tokenized inside each scorer.
 * Differential reference for FuzzyKernelSpec and MatchingSpec; the
 * preprocessing (`Fuzzy.process`) is shared, the scoring is not.
 */
object FuzzyRef {

  /** Longest common subsequence length (O(mn)). */
  def lcs(a: String, b: String): Int = {
    if (a.isEmpty || b.isEmpty) return 0
    val prev = new Array[Int](b.length + 1)
    val cur = new Array[Int](b.length + 1)
    var i = 0
    while (i < a.length) {
      var j = 0
      while (j < b.length) {
        cur(j + 1) = if (a.charAt(i) == b.charAt(j)) prev(j) + 1
        else math.max(prev(j + 1), cur(j))
        j += 1
      }
      System.arraycopy(cur, 0, prev, 0, cur.length)
      i += 1
    }
    prev(b.length)
  }

  def ratio(a: String, b: String): Double = {
    val n = a.length + b.length
    if (n == 0) return 100.0
    100.0 * (2.0 * lcs(a, b)) / n
  }

  def partialRatio(a: String, b: String): Double = {
    val (s, l) = if (a.length <= b.length) (a, b) else (b, a)
    if (s.isEmpty) return if (l.isEmpty) 100.0 else 0.0
    if (s.length == l.length) return ratio(s, l)
    var best = 0.0
    var i = 0
    while (i <= l.length - s.length && best < 100.0) {
      val w = l.substring(i, i + s.length)
      val r = ratio(s, w)
      if (r > best) best = r
      i += 1
    }
    best
  }

  private def sortedTokens(s: String): Array[String] = s.split(" ").filter(_.nonEmpty).sorted

  def tokenSortRatio(a: String, b: String): Double =
    ratio(sortedTokens(a).mkString(" "), sortedTokens(b).mkString(" "))

  def partialTokenSortRatio(a: String, b: String): Double =
    partialRatio(sortedTokens(a).mkString(" "), sortedTokens(b).mkString(" "))

  private def tokenSetParts(a: String, b: String): (String, String, String) = {
    val ta = sortedTokens(a).toSet
    val tb = sortedTokens(b).toSet
    val inter = (ta intersect tb).toSeq.sorted.mkString(" ")
    val diffA = (ta diff tb).toSeq.sorted.mkString(" ")
    val diffB = (tb diff ta).toSeq.sorted.mkString(" ")
    val combA = if (inter.isEmpty) diffA else if (diffA.isEmpty) inter else s"$inter $diffA"
    val combB = if (inter.isEmpty) diffB else if (diffB.isEmpty) inter else s"$inter $diffB"
    (inter, combA, combB)
  }

  def tokenSetRatio(a: String, b: String): Double = {
    val (inter, combA, combB) = tokenSetParts(a, b)
    if (inter.nonEmpty && (combA == inter || combB == inter)) return 100.0
    Seq(ratio(inter, combA), ratio(inter, combB), ratio(combA, combB)).max
  }

  def partialTokenSetRatio(a: String, b: String): Double = {
    val (inter, combA, combB) = tokenSetParts(a, b)
    if (inter.nonEmpty) return 100.0
    partialRatio(combA, combB)
  }

  def wratio(rawA: String, rawB: String): Double = {
    val a = Fuzzy.process(rawA)
    val b = Fuzzy.process(rawB)
    if (a.isEmpty || b.isEmpty) return 0.0
    val unbaseScale = 0.95
    val lenRatio = math.max(a.length, b.length).toDouble / math.min(a.length, b.length)
    var end = ratio(a, b)
    if (lenRatio < 1.5) {
      val tok = math.max(tokenSortRatio(a, b), tokenSetRatio(a, b))
      math.max(end, tok * unbaseScale)
    } else {
      val partialScale = if (lenRatio < 8.0) 0.9 else 0.6
      end = math.max(end, partialRatio(a, b) * partialScale)
      val ptok = math.max(partialTokenSortRatio(a, b), partialTokenSetRatio(a, b))
      math.max(end, ptok * unbaseScale * partialScale)
    }
  }
}
