package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.matching.Matching
import graft.ref.MatchingRef

/** The map-side per-item top-k matcher against the cross-join + window
  * formulation it replaced (graft.ref.MatchingRef, scored by the
  * dynamic-program WRatio): equal rows and schema on the items of 2,000
  * generated turns, over dimension edge cases. */
class MatchingSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private val keys = Seq("conv_id", "turn_idx", "item_idx")

  /** Items of 2,000 generated turns, plus three whose names process to
    * nothing (null, empty, punctuation only). */
  private lazy val items: DataFrame = {
    val extracted = Pipeline.extractItems(graft.io.Transcripts.generateDF(spark, 2000L))
    val blank = extracted.limit(3)
      .withColumn("item_idx", col("item_idx") + 1000)
      .withColumn("name", element_at(array(lit(null).cast("string"), lit(""), lit("—,;")),
        (col("item_idx") % 3 + 1).cast("int")))
    extracted.unionByName(blank).localCheckpoint()
  }

  private def products: DataFrame = graft.io.Transcripts.productsDim(spark)

  private def rows(df: DataFrame): Seq[Row] = df.collect().toSeq.sortBy(_.toString)

  private def assertSame(actual: DataFrame, expected: DataFrame): Seq[Row] = {
    assert(actual.schema == expected.schema)
    val a = rows(actual)
    assert(a == rows(expected))
    a
  }

  private def same(prods: DataFrame, limit: Int = 3, suggest: Double = 70.0): Seq[Row] =
    assertSame(Matching.topMatches(items, prods, keys, "name", limit, suggest),
      MatchingRef.topMatches(items, prods, keys, "name", limit, suggest))

  test("items are unique by key, so a per-row top-k is a per-key top-k") {
    assert(items.count() == items.select(keys.map(col): _*).distinct().count())
    assert(items.count() > 5000L)
  }

  test("topMatches == cross join + window on the product dimension") {
    val out = same(products)
    assert(out.nonEmpty)
    assert(out.exists(_.getAs[Boolean]("is_auto_match")))
    val plan = Matching.topMatches(items, products, keys).queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange") && !plan.contains("NestedLoopJoin"), plan)
  }

  test("equal names with different ids: the lower id ranks first") {
    val twin = products.where(col("product_id") === 1)
      .select(lit(0).as("product_id"), lit("SKU-TWIN").as("sku"), col("name"))
    val out = same(products.unionByName(twin))
    val byItem = out.groupBy(r => keys.map(r.getAs[Any]))
    val tied = byItem.values.filter(_.exists(_.getAs[Int]("product_id") == 0))
    assert(tied.nonEmpty)
    tied.foreach { rs =>
      val ranks = rs.map(r => r.getAs[Int]("product_id") -> r.getAs[Int]("rank")).toMap
      ranks.get(1).foreach(r1 => assert(ranks(0) < r1))
    }
  }

  test("Long product_id, with a null id sorted first among ties") {
    val long = products.withColumn("product_id", col("product_id").cast("long"))
    val nullId = products.where(col("product_id") === 1)
      .select(lit(null).cast("long").as("product_id"), lit("SKU-NULL").as("sku"), col("name"))
    same(long.unionByName(nullId))
  }

  test("suggest = 0 keeps every item, blank names included, at score 0") {
    val out = same(products, suggest = 0.0)
    val blank = out.filter(_.getAs[Int]("item_idx") >= 1000)
    assert(blank.length == 9 && blank.forall(_.getAs[Double]("score") == 0.0))
  }

  test("limit >= the dimension size, and an empty dimension") {
    same(products, limit = 50, suggest = 0.0)
    assert(same(products.limit(0)).isEmpty)
  }

  test("batchMatch == batchMatch over the cross join + window") {
    assertSame(Matching.batchMatch(items, products, keys),
      MatchingRef.batchMatch(items, products, keys))
  }
}
