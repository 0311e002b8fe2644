package graft.tools

import org.apache.spark.sql.functions._
import graft.sources.IndexRegistry

/** Child-JVM half of the CROSS-PROCESS registry-walk race (round-13):
  * the in-JVM composed-race tests prove the head-CAS folds converge
  * inside one process, but the production claim is stronger — the
  * manifest claim is a create-exclusive FILESYSTEM operation (the
  * metastore conditional-put), so two DRIVERS racing walks on one
  * base must converge too. This probe opens its own SparkSession on a
  * capstone root the parent bootstrapped and performs ONE of the
  * racing operations; ForgetSpec launches several concurrently (the
  * SpillProbe child-JVM pattern) and asserts the final serve equals a
  * clean sequential run.
  *
  * Modes: `forget` (tagged erasure batch of the doc_id % 10 == 0
  * slice + its registry walk), `recrawl` (tagged keyed merge of the
  * doc_id % 10 == 3 slice with a text marker + walk), `walk` (a bare
  * maintainAll). Prints `WALKRACE_OK <mode>` on success.
  */
object WalkRaceProbe {
  def main(args: Array[String]): Unit = {
    val mode = args(0)
    val baseT = args(1)
    val spark = graft.GraftSession.create("local[4]", 4)
    graft.operators.Forget.registerBuiltins()
    mode match {
      case "forget" =>
        IndexRegistry.forgetBatch(spark, baseT,
          pmod(col("doc_id"), lit(10)) === 0, "xproc_del", 0L)
        ()
      case "recrawl" =>
        // the re-crawl batch derives from the BOOTSTRAP version (v1),
        // so it is identical no matter how the race interleaves
        val edited = graft.sources.Snapshots.readVersion(spark, baseT, 1)
          .where(pmod(col("doc_id"), lit(10)) === 3)
          .withColumn("text", concat(col("text"), lit(" zzxprocrace")))
        IndexRegistry.recrawlBatch(edited, baseT, "doc_id", "xproc_mrg", 0L)
        ()
      case "walk" =>
        IndexRegistry.maintainAll(spark, baseT)
        ()
      case other => sys.error(s"unknown walk-race mode '$other'")
    }
    println(s"WALKRACE_OK $mode")
    spark.stop()
  }
}
