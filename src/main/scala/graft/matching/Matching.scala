package graft.matching

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.InterpretedOrdering
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.{BooleanType, DoubleType, IntegerType, StructField, StructType}
import graft.rules.Rules

/**
 * J1/J2 — fuzzy SKU matching against the products dimension
 * (reference app/pipeline/matcher.py:40-158).
 *
 * Physical shape for 100 TB: the products dimension is tiny (the reference
 * loads it fully into memory, matcher.py:24-38), so [[topMatches]]
 * collects it once per call, prepares its names once, and ships both to
 * the map tasks. Each item row is scored against every product and keeps
 * its own top-k in the same map-side pass: no join, no exchange, no sort.
 * The fact side streams; cost is linear in items x products and spread
 * over the item partitions. [[topMatchesBlocked]] is the shape for a large
 * catalog, which cannot be collected.
 */
object Matching {

  val wratioUdf = udf((a: String, b: String) => Fuzzy.wratio(a, b))

  /** Levenshtein-based ratio — SQL-expressible scorer variant used for the
    * DuckDB oracle (same formula both sides): (1 - lev/greatest(len)) * 100
    * over lowercase inputs. */
  def levRatio(a: Column, b: Column): Column = {
    val la = lower(a); val lb = lower(b)
    round(lit(100.0) * (lit(1.0) - levenshtein(la, lb).cast("double") /
      greatest(length(la), length(lb)).cast("double")), 2)
  }

  /**
   * Top-k fuzzy matches per item (matcher.py find_matches: limit=3,
   * keep score >= suggest threshold, flag auto at >= auto threshold).
   *
   * Output: every item column, then product_id, match_sku, match_name,
   * score, rank and is_auto_match; one row per kept match. An item keeps
   * its `limit` best products with score >= `suggest`, ordered by score
   * descending, then product_id ascending with nulls first; `rank` is the
   * 1-based position in that order. Each row is its own item, which is
   * what a per-`itemKeyCols` ranking gives when the keys are unique.
   *
   * @param items    fact side with an `itemKeyCols` id and a `nameCol` string
   * @param products dimension (product_id, sku, name), small enough to collect
   */
  def topMatches(items: DataFrame, products: DataFrame,
                 itemKeyCols: Seq[String], nameCol: String = "name",
                 limit: Int = 3,
                 suggest: Double = Rules.suggestThreshold,
                 auto: Double = Rules.autoMatchThreshold): DataFrame = {
    val prods = products.select(
      col("product_id"), col("sku").as("match_sku"), col("name").as("match_name"))
    val dim = inRankOrder(prods)
    val names = dim.map(r => Fuzzy.prepare(r.getString(2)))
    val nameAt = items.schema.fieldIndex(nameCol)
    val schema = StructType(items.schema.fields ++ prods.schema.fields ++ Seq(
      StructField("score", DoubleType, nullable = false),
      StructField("rank", IntegerType, nullable = false),
      StructField("is_auto_match", BooleanType, nullable = false)))
    items.mapPartitions { rows =>
      rows.flatMap { item =>
        val (hits, scores) = best(Fuzzy.prepare(item.getString(nameAt)), names, limit, suggest)
        Iterator.tabulate(hits.length) { k =>
          Row.fromSeq(item.toSeq ++ dim(hits(k)).toSeq ++
            Seq(scores(k), k + 1, scores(k) >= auto))
        }
      }
    }(Encoders.row(schema))
  }

  /** The collected dimension, sorted as the rank breaks score ties:
    * product_id ascending, nulls first, in Spark's ordering of its type.
    * The sort is stable, so equal ids keep their collected order. */
  private def inRankOrder(prods: DataFrame): Array[Row] = {
    val dim = prods.collect()
    val idType = prods.schema.head.dataType
    val order = InterpretedOrdering.forSchema(Seq(idType))
    val toCatalyst = CatalystTypeConverters.createToCatalystConverter(idType)
    val ids = dim.map(r => InternalRow(toCatalyst(r.get(0))))
    dim.indices.sortWith((i, j) => order.compare(ids(i), ids(j)) < 0).map(dim).toArray
  }

  /** Indices into `names` and scores of the item's `limit` best names with
    * score >= `suggest`, best first; equal scores keep index order. */
  private def best(item: Fuzzy.Prepared, names: Array[Fuzzy.Prepared], limit: Int,
                   suggest: Double): (Array[Int], Array[Double]) = {
    val k = math.max(0, math.min(limit, names.length))
    val hits = new Array[Int](k)
    val scores = new Array[Double](k)
    var n = 0
    var i = 0
    while (i < names.length && k > 0) {
      val s = Fuzzy.wratioPrepared(item, names(i))
      if (s >= suggest && (n < k || s > scores(k - 1))) {
        var p = if (n < k) n else k - 1
        while (p > 0 && scores(p - 1) < s) {
          hits(p) = hits(p - 1); scores(p) = scores(p - 1); p -= 1
        }
        hits(p) = i; scores(p) = s
        if (n < k) n += 1
      }
      i += 1
    }
    (java.util.Arrays.copyOf(hits, n), java.util.Arrays.copyOf(scores, n))
  }

  /** Blocking keys: the processed tokens UNION every token's character
    * 3-grams (tokens shorter than 3 chars stand in for their own grams).
    * Tokens recall word-overlap pairs exactly; 3-grams recall pairs whose
    * similarity is character-level INSIDE differing tokens — in-token
    * typos, transliterations — which share no whole token but, at any
    * WRatio >= 70, must share long common character runs and therefore
    * 3-grams. */
  private val blockKeysUdf = udf { (s: String) =>
    val toks = Fuzzy.process(s).split(" ").filter(_.nonEmpty).distinct
    (toks ++ toks.flatMap(t => if (t.length < 3) Seq(t) else t.sliding(3))).distinct
  }

  /**
   * Blocked variant of [[topMatches]] for a LARGE product catalog:
   * instead of scoring every item x product pair (the reference's
   * semantics — fine for its in-memory dim, quadratic at a real catalog),
   * items and products are equi-joined on shared blocking keys first and
   * only co-blocked pairs are WRatio-scored. Keys use the SAME
   * preprocessing as the scorer (Fuzzy.process) — see [[blockKeysUdf]].
   *
   * Contract: a pair sharing NO blocking key is never scored. With the
   * token + 3-gram union, a missed >=`suggest` pair would need similarity
   * with no shared word AND no shared 3-character run after identical
   * preprocessing — SparkSpec's adversarial catalog (in-token typos,
   * transliterations scoring >= 70 purely through WRatio's character
   * components) shows zero misses, and when every >= suggest pair shares
   * a key the output is IDENTICAL to [[topMatches]] (ranks included:
   * candidates below a surviving pair's score always rank below it, so
   * absent sub-threshold pairs cannot shift ranks).
   *
   * PRECONDITION (violated = silently wrong output, not an error): items
   * must be UNIQUE by `itemKeyCols` — the candidate dedup and the final
   * payload join-back key on them, so duplicate item keys would both
   * merge distinct items' candidate sets in the per-key window AND
   * multiply ranked rows through the join-back. [[topMatches]] has no
   * such precondition (it carries payload columns through); payload
   * columns here may be of unorderable types — maps — and never enter a
   * distinct, which is why the join-back exists. SparkSpec asserts the
   * q41 input satisfies it and that a deliberately-duplicated key
   * demonstrates the documented failure shape.
   */
  def topMatchesBlocked(items: DataFrame, products: DataFrame,
                        itemKeyCols: Seq[String], nameCol: String = "name",
                        limit: Int = 3,
                        suggest: Double = Rules.suggestThreshold,
                        auto: Double = Rules.autoMatchThreshold): DataFrame = {
    val prods = products.select(
      col("product_id"), col("sku").as("match_sku"), col("name").as("match_name"))
    val prodTok = prods.select(col("product_id"),
      explode(blockKeysUdf(col("match_name"))).as("__tok"))
    val keyCols = itemKeyCols.map(col)
    val cands = items.select((keyCols :+ col(nameCol)): _*)
      .withColumn("__tok", explode(blockKeysUdf(col(nameCol))))
      .join(broadcast(prodTok), Seq("__tok"))
      .select((keyCols :+ col(nameCol) :+ col("product_id")): _*)
      .distinct()
    val scored = cands
      .join(broadcast(prods), Seq("product_id"))
      .withColumn("score", wratioUdf(col(nameCol), col("match_name")))
    val w = Window.partitionBy(keyCols: _*)
      .orderBy(desc("score"), asc("product_id"))
    val ranked = scored
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= limit && col("score") >= suggest)
      .withColumn("is_auto_match", col("score") >= auto)
    // restore the full item row (unique-by-key precondition above)
    items.join(ranked.drop(nameCol), itemKeyCols)
  }

  /** J2 batch matcher: best suggestion folded onto each item row
    * (matcher.py:121-158). */
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
