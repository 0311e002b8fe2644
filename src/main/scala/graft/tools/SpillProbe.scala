package graft.tools

import org.apache.spark.sql.functions._
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}

/** Memory-pressure probe (round-12 verdict #3): run heavy catalog
  * queries in a JVM with a deliberately SMALL heap and spill-forcing
  * SQL thresholds, and prove they SPILL instead of OOM — the scale
  * axis a 100 TB cluster hits on every skewed partition. Prints one
  * `SPILLPROBE <query> <xxhash64-bitxor>` line per query (the Bench
  * materialization hash — order-independent, so comparable across
  * sessions) and a final `SPILLPROBE_SPILLED_BYTES <n>` from task
  * metrics. Launched by SpillSpec with -Xmx2g; the parent compares the
  * hashes against an unconstrained session and asserts spill > 0.
  *
  * The thresholds force the external-sorter spill paths determinis-
  * tically: window/sort-merge buffers spill past 1024 rows, object
  * hash aggregation (the TypedImperativeAggregate tier —
  * graft_vector_scatter, sketches) falls back to sort-based at 8 keys,
  * and UnsafeExternalSorter force-spills every 100k elements.
  */
object SpillProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val queries = args(1).split(",").toSeq
    val spilled = new java.util.concurrent.atomic.AtomicLong()
    // 25k (round-14, was 100k): the winnow rewrite removed its ×4
    // window-membership fanout, dropping the heaviest shuffle below
    // the old per-task force threshold — the probe's forcing config
    // tightens with the engine so the spill PATHS stay exercised. A
    // core (not SQL) setting: SparkConf reads it at context start, so
    // it goes in as a system property before the session exists.
    System.setProperty("spark.shuffle.spill.numElementsForceSpillThreshold", "25000")
    val spark = graft.GraftSession.create("local[4]", 4)
    Seq("spark.sql.windowExec.buffer.in.memory.threshold" -> "1024",
      "spark.sql.windowExec.buffer.spill.threshold" -> "1024",
      "spark.sql.sortMergeJoinExec.buffer.in.memory.threshold" -> "1024",
      "spark.sql.sortMergeJoinExec.buffer.spill.threshold" -> "1024",
      "spark.sql.objectHashAggregate.sortBased.fallbackThreshold" -> "8")
      .foreach { case (k, v) => spark.conf.set(k, v) }
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        val m = t.taskMetrics
        if (m != null) {
          spilled.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
          ()
        }
      }
    })
    queries.foreach { q =>
      val df = graft.SparkEntry.queries(q)(spark, sfDir)
      val h = df.select(xxhash64(df.columns.map(col): _*).as("h"))
        .agg(expr("bit_xor(h)")).head()
      println(s"SPILLPROBE $q ${if (h.isNullAt(0)) "null" else h.getLong(0)}")
    }
    println(s"SPILLPROBE_SPILLED_BYTES ${spilled.get}")
    spark.stop()
  }
}
