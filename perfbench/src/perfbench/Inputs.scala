package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.io.Transcripts.{mix, rngInt}

/** Seeded inputs and small helpers shared by the workloads. */
object Inputs {

  /** Word list of the documents corpus: engine-vocabulary prose plus the
    * English stopwords the corpus language filter looks for. */
  private val words = Array("spark", "window", "merge", "table", "column", "vector",
    "stream", "value", "data", "small", "join", "filter", "big", "group", "hash",
    "customer", "sort", "order", "slow", "line", "part", "fast", "row", "the", "agg",
    "key", "query", "a", "scan", "batch")
  private val langs = Array("en", "en", "en", "en", "en", "en", "en", "en", "zh", "zh",
    "zh", "es", "es", "es", "fr", "fr", "fr", "de", "de", "de")

  /**
   * The documents table `(doc_id, text, lang, source, n_chars)`: `n` docs of
   * 8-100 random words; one in twenty is a near-duplicate of an earlier doc
   * (its text plus " dup"), so the dedup chain finds families. Docs whose
   * id hashes into the seed-chosen bucket (1 of 16) are left out.
   */
  def documents(spark: SparkSession, n: Int, seed: Long): DataFrame = {
    import spark.implicits._
    val texts = new Array[String](n)
    for (i <- 0 until n) {
      texts(i) =
        if (i >= 20 && rngInt(seed, i, 1, 20) == 0) texts(rngInt(seed, i, 2, i)) + " dup"
        else Array.tabulate(8 + rngInt(seed, i, 3, 93))(k => words(rngInt(seed, i, 100 + k, words.length)))
          .mkString(" ")
    }
    val dropped = Math.floorMod(mix(seed), 16L)
    (0 until n).filter(i => Math.floorMod(mix(i.toLong ^ seed), 16L) != dropped)
      .map(i => (i.toLong, texts(i), langs(rngInt(seed, i, 4, langs.length)), s"src${i % 20}",
        texts(i).length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
  }

  /** Order-independent content checksum over all of a DataFrame's columns. */
  def checksumOf(df: DataFrame): Column =
    coalesce(bit_xor(xxhash64(df.columns.toSeq.map(col): _*)), lit(0L))

  /** (row count, content checksum) of a DataFrame. */
  def checksum(df: DataFrame): (Long, Long) = {
    val r = df.agg(count(lit(1)), checksumOf(df)).head()
    (r.getLong(0), r.getLong(1))
  }

  def dirBytes(path: String): Long = {
    val f = new java.io.File(path)
    if (f.isFile) f.length()
    else Option(f.listFiles()).map(_.map(c => dirBytes(c.getPath)).sum).getOrElse(0L)
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
    }
}
