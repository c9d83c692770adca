package graft.ref

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.rules.Rules

/**
 * The join-and-window formulation of [[graft.matching.Matching.topMatches]]
 * that the map-side per-item top-k replaced: a cross join with the
 * broadcast dimension (BroadcastNestedLoopJoin), a WRatio UDF per pair
 * scored by [[FuzzyRef]], and a row_number window partitioned by the item
 * key (one exchange and sort). Differential reference for MatchingSpec.
 */
object MatchingRef {

  private val wratioUdf = udf((a: String, b: String) => FuzzyRef.wratio(a, b))

  def topMatches(items: DataFrame, products: DataFrame,
                 itemKeyCols: Seq[String], nameCol: String = "name",
                 limit: Int = 3,
                 suggest: Double = Rules.suggestThreshold,
                 auto: Double = Rules.autoMatchThreshold): DataFrame = {
    val prods = products.select(
      col("product_id"), col("sku").as("match_sku"), col("name").as("match_name"))
    val scored = items
      .crossJoin(broadcast(prods))
      .withColumn("score", wratioUdf(col(nameCol), col("match_name")))
    val w = Window.partitionBy(itemKeyCols.map(col): _*)
      .orderBy(desc("score"), asc("product_id"))
    scored
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= limit && col("score") >= suggest)
      .withColumn("is_auto_match", col("score") >= auto)
  }

  /** [[graft.matching.Matching.batchMatch]] over [[topMatches]] above. */
  def batchMatch(items: DataFrame, products: DataFrame,
                 itemKeyCols: Seq[String], nameCol: String = "name"): DataFrame = {
    val best = topMatches(items, products, itemKeyCols, nameCol, limit = 1)
      .select((itemKeyCols.map(col) :+ col("match_sku").as("sku_suggestion")
        :+ col("score").as("confidence_score") :+ col("is_auto_match").as("is_auto_matched")
        :+ col("product_id")): _*)
    items.join(best, itemKeyCols, "left")
      .withColumn("confidence_score", coalesce(col("confidence_score"), lit(0.0)))
      .withColumn("is_auto_matched", coalesce(col("is_auto_matched"), lit(false)))
      .withColumn("sku", when(col("is_auto_matched"), col("sku_suggestion")))
  }
}
