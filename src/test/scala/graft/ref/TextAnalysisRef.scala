package graft.ref

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * The declarative (pure higher-order-function) formulations of the
 * [[graft.text.TextAnalysis]] repetition counters and hashed classifier
 * that native Catalyst expressions replaced. Differential references for
 * TextOpsSpec and ClassifierProbe.
 */
object TextAnalysisRef {

  /** (tokens, top-word run count, n_2grams, n_dup_2grams): the top-word
    * count is a struct-accumulator fold over the sorted tokens. */
  def repetitionPieces(t: Column): (Column, Column, Column, Column) = {
    val toks = DedupRef.tokens(t)
    val sorted = sort_array(toks)
    val zero = struct(lit(null).cast("string").as("prev"),
      lit(0L).as("run"), lit(0L).as("best"))
    val topCount = aggregate(sorted, zero, (acc, tok) => {
      val newRun = when(tok === acc.getField("prev"), acc.getField("run") + 1L).otherwise(lit(1L))
      struct(tok.as("prev"), newRun.as("run"),
        greatest(acc.getField("best"), newRun).as("best"))
    }).getField("best")
    // non-distinct word 2-grams ("a b")
    val n = size(toks)
    val zipped = arrays_zip(slice(toks, lit(1), n - 1), slice(toks, lit(2), n - 1))
    val grams = when(n >= 2, transform(zipped, s => concat_ws(" ", s.getField("0"), s.getField("1"))))
      .otherwise(array().cast("array<string>"))
    (toks, topCount, size(grams).cast("long"),
      (size(grams) - size(array_distinct(grams))).cast("long"))
  }

  /** Hashed linear classifier: per token an md5 bucket and a Knuth-spread
    * integer weight, summed by an `aggregate` fold over the native tokens. */
  def hashClassifierScore(df: DataFrame, idCol: String, textCol: String,
                          nBuckets: Int): DataFrame = {
    val toks = graft.dedup.Dedup.tokens(col(textCol))
    val bucket = (t: Column) =>
      pmod(conv(substring(md5(concat(lit("w:"), t)), 1, 15), 16, 10).cast("long"),
        lit(nBuckets.toLong))
    // weight(b) in [-4095, 4095]: Knuth-multiplicative spread of the bucket id
    val weight = (t: Column) => pmod(bucket(t) * lit(2654435761L), lit(8191L)) - lit(4095L)
    df.select(col(idCol),
        size(toks).cast("long").as("n_tokens"),
        aggregate(toks, lit(0L), (acc, t) => acc + weight(t)).as("score_int"))
      .withColumn("keep", col("score_int") > 0L)
  }
}
