package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.operators.Forget
import graft.sources.{IndexRegistry, Snapshots}

/** The measured line behind the capstone's O(erased docs) claim
  * (round-13 candidate #1): bootstrap the six-family document capstone,
  * then run erasure requests of INCREASING size through
  * [[IndexRegistry.maintainAllTimed]] and record, per request, the
  * erased-doc count, the snapshot-delete wall-clock, and each family's
  * fold wall-clock. Two readings make the claim concrete:
  *
  *  - WITHIN one corpus, the per-family fold time is dominated by the
  *    ~0.5 s manifest-commit floor — the variable part moves with the
  *    erased-doc count, not with the corpus;
  *  - ACROSS corpora (sf0.01 → sf0.1, 10× docs), a same-fraction
  *    erasure's fold time grows far slower than 10× — the fold reads
  *    the change feed, never the corpus (the kNN graph's re-rank being
  *    the documented partial exception).
  *
  * Usage: runMain graft.tools.ForgetBudget <outJson> <sfDir> [sfDir...]
  * Writes one JSON object per (sfDir, round) to `outJson` (a JSON
  * array) and mirrors each line to stdout as `FORGETBUDGET {...}`.
  */
object ForgetBudget {
  /** Synthesize a docs+embeddings corpus `factor`× a base sf dir — the
    * [[ScaleLaw]] replication arms restricted to the two tables the
    * six-family bootstrap reads (text varied per replica so near-dup
    * pair counts stay ~linear; embeddings offset per replica so LSH
    * bucket sizes stay ~flat). Lets the budget ladder extend one
    * corpus decade past the largest driver-shipped sf ("x10:<dir>"
    * args) — the flat-wall claim is the one the 100 TB story leans on
    * hardest, so it gets a third measured octave.
    */
  private def scaledDocsDir(s: SparkSession, base: String, factor: Int): String = {
    val stride = 100000000L
    val out = graft.Roots.scratch + s"/forgetbudget/x$factor"
    graft.sources.Snapshots.deleteRecursively(out)
    def reps(t: String,
        f: (org.apache.spark.sql.DataFrame, Int) => org.apache.spark.sql.DataFrame): Unit = {
      val src = s.read.parquet(s"$base/$t.parquet")
      (0 until factor).map(i => f(src, i)).reduce(_ unionByName _)
        .write.parquet(s"$out/$t.parquet")
    }
    reps("documents", (d, i) => {
      val words = split(col("text"), " ")
      val t = i % 4 match {
        case 0 => col("text")
        case 1 => concat_ws(" ", reverse(words))
        case 2 => concat_ws(" ", array_sort(words))
        case 3 => concat_ws(" ", reverse(array_sort(words)))
      }
      d.withColumn("doc_id", col("doc_id") + lit(i * stride))
        .withColumn("text", t)
        .withColumn("n_chars", length(t).cast("long"))
    })
    reps("embeddings", (d, i) => d
      .withColumn("vec_id", col("vec_id") + lit(i * stride))
      .withColumn("embedding",
        if (i == 0) col("embedding")
        else expr(s"transform(embedding, (x, j) -> cast(x + 0.013 * $i * ((j * 7) % 13 - 6) as float))")))
    out
  }

  def main(args: Array[String]): Unit = {
    val outJson = args(0)
    val sfDirs = args.drop(1).toSeq
    val spark = graft.GraftSession.create("local[16]", 16)

    // erasure requests, smallest to largest (disjoint-ish slices so
    // each round erases fresh docs from what remains)
    val rounds = Seq(
      ("pct1", col("doc_id") % 101 === 1),
      ("pct8", col("doc_id") % 13 === 0),
      ("pct33", col("doc_id") % 3 === 0))

    val lines = scala.collection.mutable.ArrayBuffer[String]()
    sfDirs.foreach { dirArg =>
      // "x10:<dir>" synthesizes a 10x docs+embeddings corpus first
      val dir = dirArg.split(":", 2) match {
        case Array(f, base) if f.startsWith("x") =>
          scaledDocsDir(spark, base, f.drop(1).toInt)
        case _ => dirArg
      }
      val (baseT, _) = Forget.bootstrap(spark, dir, tag = "_budget")
      val corpus = Snapshots.read(spark, baseT).count()
      rounds.foreach { case (label, cond) =>
        val erased = Snapshots.read(spark, baseT).where(cond).count()
        val t0 = System.nanoTime()
        val v = Snapshots.deleteWhere(spark, baseT, cond)
        val deleteMs = (System.nanoTime() - t0) / 1000000L
        // PARALLEL walk (the production default): per-family times are
        // measured inside each future, so sum(fold_ms) is the
        // sequential-equivalent cost while walk_wall_ms is what an
        // erasure actually waits — the max-vs-sum claim, measured in
        // one walk
        val w0 = System.nanoTime()
        val folds = IndexRegistry.maintainAllTimed(spark, baseT)
        val wallMs = (System.nanoTime() - w0) / 1000000L
        val famJson = folds.map { case (f, ms) => s""""$f":$ms""" }.mkString(",")
        val line =
          s"""{"sf_dir":"$dir","round":"$label","corpus_docs":$corpus,""" +
          s""""erased_docs":$erased,"base_version":$v,"delete_ms":$deleteMs,""" +
          s""""fold_ms":{$famJson},"total_fold_ms":${folds.map(_._2).sum},""" +
          s""""walk_wall_ms":$wallMs}"""
        println(s"FORGETBUDGET $line")
        lines += line
      }
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(outJson),
      ("[\n" + lines.mkString(",\n") + "\n]\n")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    spark.stop()
  }
}
