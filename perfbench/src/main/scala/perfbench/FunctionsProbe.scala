package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.Native

/** Cost per row of graft's native Catalyst expressions, over the corpus
  * inputs (document text and embedding vectors) with codegen as
  * shipped. Each expression is timed in a fixed projection over cached
  * rows, minus the same projection with a trivial expression in its
  * place. Traced runs only.
  */
object FunctionsProbe {
  private val Rows = 40000
  private val Reps = 3

  def run(spark: SparkSession, dir: String): Map[String, Any] = {
    def replicated(df: DataFrame): DataFrame = {
      val n = df.count()
      val times = math.max(1L, Rows / math.max(1L, n))
      df.withColumn("rep", explode(sequence(lit(1L), lit(times)))).drop("rep").cache()
    }
    val text = replicated(Tables.load(spark, dir, "documents")
      .where(col("text").isNotNull).select("text"))
    val grams = replicated(Tables.load(spark, dir, "documents")
      .where(col("text").isNotNull).select(Native.wordNGramHashes(col("text"), 2).as("g")))
    val vecs = replicated(Tables.load(spark, dir, "embeddings")
      .where(col("embedding").isNotNull).select("embedding"))
    val probeGrams = grams.head().getSeq[Long](0).toArray
    val probeVec = vecs.head().getSeq[Float](0).toArray
    val rows = Map("text" -> text.count(), "grams" -> grams.count(), "vecs" -> vecs.count())

    // the median of a few executions, after one to warm the plan
    def seconds(df: DataFrame, value: Column): Double = {
      val q = df.select(value.as("x")).agg(sum(col("x")))
      q.head()
      val ts = (1 to Reps).map { _ =>
        val t0 = System.nanoTime(); q.head(); (System.nanoTime() - t0) / 1e9
      }
      ts.sorted.apply(Reps / 2)
    }
    def nsPerRow(input: String, df: DataFrame, fn: Column, baseline: Column): Double =
      (seconds(df, fn) - seconds(df, baseline)) * 1e9 / rows(input)
    val out = Map(
      "simhash60_ns_row" -> nsPerRow("text", text,
        Native.simhash60(col("text")) % 7, length(col("text"))),
      "word_ngrams_ns_row" -> nsPerRow("text", text,
        size(Native.wordNGramHashes(col("text"), 2)), length(col("text"))),
      "minhash_signature_ns_row" -> nsPerRow("grams", grams,
        size(Native.minhashSignature(col("g"), 32, 1000003L)), size(col("g"))),
      "sorted_intersect_size_ns_row" -> nsPerRow("grams", grams,
        Native.sortedIntersectSize(col("g"), typedLit(probeGrams)), size(col("g"))),
      "cosine_f32_ns_row" -> nsPerRow("vecs", vecs,
        Native.cosineF32(col("embedding"), typedLit(probeVec)), size(col("embedding"))))
    Seq(text, grams, vecs).foreach(_.unpersist())
    out ++ rows.map { case (k, v) => s"rows_$k" -> v }
  }
}
