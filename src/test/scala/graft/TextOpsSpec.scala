package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Differential equivalence of the native text expressions
  * (graft.expr.TokensExpr / ShinglesExpr / GramHashes / TopRunCount /
  * TwoGramCounts) against the declarative HOF formulations they replaced
  * — exact, on real documents and adversarial strings (unicode, empties,
  * punctuation-only, nulls, case edges), under codegen and in lambda
  * (interpreted) position. */
class TextOpsSpec extends AnyFunSuite with BeforeAndAfterAll {

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

  private def adversarial: Seq[String] = Seq(
    null, "", " ", "   ", "a", "A", "abc", "ABC def GHI", "a b c d e",
    "...", "a.b.c", ".a.", "a.", ".a", "1 2 3", "a1b2c3",
    "Hello, World! 42 times", "ёЖik МИКС", "ümlaut Ökonomie STRASSE ß",
    "tab\tsep\nnewline\r\nwin", "dup dup dup DUP dup", "x  y   z",
    "£$%^&*()", "Ｆｕｌｌｗｉｄｔｈ１２３", "İstanbul ı dotless",
    "a-b_c~d", "0", "00 00 00", "word " * 50, "a b a b a b a b",
    "ΣΊΣΥΦΟΣ σίσυφος", "ss ß SS")

  private def docsDf: DataFrame =
    spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select("doc_id", "text")

  private def advDf: DataFrame = {
    import org.apache.spark.sql.types._
    val rows = adversarial.zipWithIndex.map { case (t, i) =>
      org.apache.spark.sql.Row(i.toLong, t)
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2),
      StructType(Seq(StructField("doc_id", LongType, nullable = false),
        StructField("text", StringType, nullable = true))))
  }

  private def assertColsEqual(df: DataFrame, nat: org.apache.spark.sql.Column,
                              hof: org.apache.spark.sql.Column, what: String): Unit = {
    val rows = df.select(col("doc_id"), nat.as("nat"), hof.as("hof")).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.get(1) == r.get(2),
        s"$what mismatch at doc_id=${r.get(0)}: ${r.get(1)} vs ${r.get(2)}")
    }
  }

  test("TokensExpr == HOF tokenizer on real docs + adversarial strings") {
    for (df <- Seq(docsDf, advDf)) {
      assertColsEqual(df,
        graft.dedup.Dedup.tokens(col("text")),
        graft.ref.DedupRef.tokens(col("text")), "tokens")
    }
  }

  test("ShinglesExpr == HOF shingles (k=3 and k=8)") {
    for (df <- Seq(docsDf, advDf); k <- Seq(3, 8)) {
      assertColsEqual(df,
        graft.dedup.Dedup.shingles(col("text"), k),
        graft.ref.DedupRef.shingles(col("text"), k), s"shingles k=$k")
    }
  }

  test("GramHashes == positionalGrams + md5Hash60 (k=8)") {
    // HOF reference: positional grams joined then hashed per gram
    def hofHashes(t: org.apache.spark.sql.Column, k: Int) = {
      val toks = graft.ref.DedupRef.tokens(t)
      val n = size(toks)
      val zipped = arrays_zip((0 until k).map(j => slice(toks, lit(j + 1), n - (k - 1))): _*)
      val joined = transform(zipped,
        s => concat_ws(" ", (0 until k).map(j => s.getField(j.toString)): _*))
      val grams = when(n >= k, joined).otherwise(array().cast("array<string>"))
      transform(grams, g => graft.dedup.Dedup.md5Hash60(g))
    }
    for (df <- Seq(docsDf, advDf); k <- Seq(2, 8)) {
      assertColsEqual(df,
        graft.expr.textops.gram_hashes(graft.dedup.Dedup.tokens(col("text")), k),
        hofHashes(col("text"), k), s"gram_hashes k=$k")
    }
  }

  test("TopRunCount / TwoGramCounts == HOF repetition pieces") {
    val (_, natTop, natN2, natDup) = graft.text.TextAnalysis.repetitionPieces(col("text"))
    val (_, hofTop, hofN2, hofDup) = graft.ref.TextAnalysisRef.repetitionPieces(col("text"))
    for (df <- Seq(docsDf, advDf)) {
      assertColsEqual(df, natTop, hofTop, "top_run_count")
      assertColsEqual(df, natN2, hofN2, "n_2grams")
      assertColsEqual(df, natDup, hofDup, "n_dup_2grams")
    }
  }

  test("ShingleHashes == explode(shingles)+md5Hash60 multiset (k=2 and k=8)") {
    for (df <- Seq(docsDf, advDf); k <- Seq(2, 8)) {
      assertColsEqual(df,
        graft.expr.textops.shingle_hashes(col("text"), k),
        transform(graft.ref.DedupRef.shingles(col("text"), k),
          g => graft.dedup.Dedup.md5Hash60(g)), s"shingle_hashes k=$k")
    }
  }

  test("ClassifierScore == HOF hashClassifierScore (nBuckets 2^10 and 2^20)") {
    for (src <- Seq(docsDf, advDf); nb <- Seq(1 << 10, 1 << 20)) {
      val nat = graft.text.TextAnalysis.hashClassifierScore(src, "doc_id", "text", nb)
      val hof = graft.ref.TextAnalysisRef.hashClassifierScore(src, "doc_id", "text", nb)
      val n = nat.collect().map(r => r.get(0) -> (r.get(1), r.get(2), r.get(3))).toMap
      val h = hof.collect().map(r => r.get(0) -> (r.get(1), r.get(2), r.get(3))).toMap
      assert(n.nonEmpty && n.keySet == h.keySet)
      n.foreach { case (k, v) =>
        assert(v == h(k), s"classifier mismatch at doc_id=$k nb=$nb: $v vs ${h(k)}") }
      assert(nat.schema.map(f => (f.name, f.dataType)) ==
        hof.schema.map(f => (f.name, f.dataType)))
    }
  }

  test("ClassifierScore: a null token makes the row null, codegen and interpreted") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("id", LongType, nullable = false),
      StructField("toks", ArrayType(StringType, containsNull = true), nullable = true)))
    val rows = Seq(Row(0L, Seq("a", null, "b")), Row(1L, Seq("a", "b")), Row(2L, null),
      Row(3L, Seq(null)), Row(4L, Seq.empty[String]))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
    val hof = graft.ref.TextAnalysisRef.hashClassifierScore(
      spark.createDataFrame(Seq((1L, "a b"))).toDF("doc_id", "text"), "doc_id", "text", 1024)
      .head()
    for (wholeStage <- Seq("true", "false"); mode <- Seq("CODEGEN_ONLY", "NO_CODEGEN")) {
      spark.conf.set("spark.sql.codegen.wholeStage", wholeStage)
      spark.conf.set("spark.sql.codegen.factoryMode", mode)
      try {
        val cs = df.select(col("id"), graft.expr.textops.classifier_score(col("toks"), 1024L))
        assert(cs.schema(1).nullable)
        val out = cs.collect().map(r => r.getLong(0) -> r.get(1)).toMap
        assert(out(0L) == null && out(2L) == null && out(3L) == null, s"$mode: $out")
        assert(out(1L) == Row(hof.getLong(1), hof.getLong(2)), s"$mode: $out")
        assert(out(4L) == Row(0L, 0L), s"$mode: $out")
      } finally {
        spark.conf.unset("spark.sql.codegen.wholeStage")
        spark.conf.unset("spark.sql.codegen.factoryMode")
      }
    }
  }

  test("interpreted (lambda) path matches codegen for tokens/shingles") {
    // evaluate the native expressions INSIDE a transform lambda (eval path)
    val df = docsDf.limit(50).unionByName(advDf)
    val viaLambda = df
      .withColumn("one", array(col("text")))
      .withColumn("tk", transform(col("one"), t => graft.dedup.Dedup.tokens(t)))
      .withColumn("sh", transform(col("one"), t => graft.dedup.Dedup.shingles(t, 3)))
      .select(col("doc_id"), element_at(col("tk"), 1).as("tk1"),
        element_at(col("sh"), 1).as("sh1"))
    val direct = df.select(col("doc_id"),
      graft.dedup.Dedup.tokens(col("text")).as("tk1"),
      graft.dedup.Dedup.shingles(col("text"), 3).as("sh1"))
    val l = viaLambda.collect().map(r => r.getLong(0) -> (r.get(1), r.get(2))).toMap
    val d = direct.collect().map(r => r.getLong(0) -> (r.get(1), r.get(2))).toMap
    assert(l.keySet == d.keySet)
    l.foreach { case (k, v) => assert(v == d(k), s"lambda-vs-codegen mismatch at doc_id=$k") }
  }
}
