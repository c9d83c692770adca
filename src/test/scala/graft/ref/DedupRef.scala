package graft.ref

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.dedup.Dedup

/**
 * The declarative (pure higher-order-function) formulations of the
 * [[graft.dedup.Dedup]] tokenizer, shingler, signatures and in-bucket
 * pair emission that native Catalyst expressions replaced: identical
 * math, every lambda interpreted. Differential references for
 * TextOpsSpec, PairOpsSpec and SparkSpec.
 */
object DedupRef {

  /** Lowercase alnum tokens. */
  def tokens(textCol: Column): Column =
    filter(split(lower(textCol), "[^a-z0-9]+"), x => x =!= "")

  /** Word k-shingles as strings ("a b c"); fewer than k tokens -> empty.
    *
    * Built with arrays_zip over k shifted slices, NOT transform over an
    * index sequence: a lambda body re-evaluates every non-lambda
    * subexpression per element, which would make shingling O(tokens^2);
    * zip arguments are evaluated once. */
  def shingles(textCol: Column, k: Int): Column = {
    val toks = tokens(textCol)
    val n = size(toks)
    val zipped = arrays_zip((0 until k).map(j => slice(toks, lit(j + 1), n - (k - 1))): _*)
    val joined = transform(zipped,
      s => concat_ws(" ", (0 until k).map(j => s.getField(j.toString)): _*))
    array_distinct(when(n >= k, joined).otherwise(array().cast("array<string>")))
  }

  /** MinHash signature over the native shingles: one fold whose
    * accumulator is the running array of numHashes minima. */
  def minhashSig(textCol: Column, k: Int, numHashes: Int): Column = {
    val paramsLit = array(Dedup.hashParams(numHashes).map { case (a, c) =>
      struct(lit(a).as("a"), lit(c).as("c")) }: _*)
    val base = transform(Dedup.shingles(textCol, k), s => pmod(Dedup.md5Hash60(s), lit(Dedup.P)))
    aggregate(base, array_repeat(lit(Dedup.P), numHashes),
      (acc, h) => zip_with(acc, paramsLit,
        (m, pr) => least(m, pmod(pr.getField("a") * h + pr.getField("c"), lit(Dedup.P)))))
  }

  /** SimHash 4 x 16-bit blocks over the native tokens: one fold carrying
    * all 64 bit-sums, thresholded in the finish lambda. */
  def simhashBlocks(textCol: Column): Column = {
    val th = transform(Dedup.tokens(textCol), t => struct(
      conv(substring(md5(t), 1, 8), 16, 10).cast("long").as("hi"),
      conv(substring(md5(t), 9, 8), 16, 10).cast("long").as("lo")))
    // per-bit descriptor: which half holds global bit g, and its mask
    val bitsLit = array((0 until 64).map { g =>
      struct(lit(g < 32).as("lo"), lit(1L << (g % 32)).as("mask"))
    }: _*)
    val masks16 = array((0 until 16).map(j => lit(1L << j)): _*)
    aggregate(th, array_repeat(lit(0L), 64),
      (acc, h) => zip_with(acc, bitsLit, (a, pr) =>
        a + when(when(pr.getField("lo"), h.getField("lo")).otherwise(h.getField("hi"))
          .bitwiseAND(pr.getField("mask")) =!= 0L, 1L).otherwise(-1L)),
      acc => transform(sequence(lit(0), lit(3)), b =>
        aggregate(zip_with(slice(acc, b * 16 + lit(1), lit(16)), masks16,
          (s, m) => when(s > 0, m).otherwise(lit(0L))), lit(0L), _ + _)))
  }

  /** In-bucket (a < b) pairs of a sorted id array. */
  def pairs(ids: Column): Column =
    flatten(transform(ids, (x, i) =>
      transform(slice(ids, i + lit(2), size(ids) - i - 1),
        y => struct(x.as("id_a"), y.as("id_b")))))

  /** In-bucket pairs of a sorted (id, is_new) array where at least one
    * side is new. */
  def pairsNewOnly(ms: Column): Column =
    flatten(transform(ms, (x, i) =>
      filter(
        transform(slice(ms, i + lit(2), size(ms) - i - 1),
          y => struct(x.getField("id").as("id_a"), y.getField("id").as("id_b"),
            (x.getField("is_new") || y.getField("is_new")).as("any_new"))),
        p => p.getField("any_new"))))

  /** In-bucket pairs of a sorted (id, blocks) array with their hamming
    * distance. */
  def hammingPairs(ms: Column): Column =
    flatten(transform(ms, (x, i) =>
      transform(slice(ms, i + lit(2), size(ms) - i - 1),
        y => struct(x.getField("id").as("id_a"), y.getField("id").as("id_b"),
          aggregate(zip_with(x.getField("blocks"), y.getField("blocks"),
            (p, q) => bit_count(p.bitwiseXOR(q)).cast("long")), lit(0L), _ + _)
            .as("hamming")))))
}
