package graft.ref

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/**
 * The declarative (pure higher-order-function) formulations of the
 * [[graft.ann.Similarity]] cosine, sign-LSH bucket and IVF argmax that
 * native Catalyst expressions replaced: identical ordered folds, every
 * lambda interpreted. Differential references for VecOpsSpec.
 */
object SimilarityRef {

  /** dot / (|a| * |b|), each sum folded left-to-right from 0.0. */
  def cosine(a: Column, b: Column): Column = {
    val dot = aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), _ + _)
    val na = sqrt(aggregate(transform(a, x => x * x), lit(0.0), _ + _))
    val nb = sqrt(aggregate(transform(b, x => x * x), lit(0.0), _ + _))
    dot / (na * nb)
  }

  /** Bucket id: bit p set when the dot with hyperplane p is >= 0. */
  def lshBucket(vecCol: Column, weights: Array[Array[Double]]): Column =
    weights.zipWithIndex.map { case (w, p) =>
      val wLit = array(w.toIndexedSeq.map(lit(_)): _*)
      val dot = aggregate(zip_with(vecCol, wLit, (x, y) => x * y), lit(0.0), _ + _)
      when(dot >= 0, lit(1L << p)).otherwise(lit(0L))
    }.reduce((a, b) => a.bitwiseOR(b))

  /** cid of the max-cosine centroid (ties -> first in cid order). */
  def nearestCid(vecCol: Column, clCol: Column): Column = {
    val scored = transform(clCol,
      ct => struct(cosine(vecCol, ct.getField("c")).as("cos"), ct.getField("cid").as("cid")))
    aggregate(scored, struct(lit(-2.0).as("cos"), lit(-1L).as("cid")),
      (acc, s) => when(s.getField("cos") > acc.getField("cos"), s).otherwise(acc))
      .getField("cid")
  }
}
