package graft.tools

import org.apache.spark.sql.functions._

/** Per-query JOB/STAGE COUNT probe (r16 tail program): at sf0.1 most
  * of the catalog is 0.1–0.7 s queries whose wall is per-query job
  * launches, not data — this probe attributes each query's measured
  * run to (jobs, stages, wall) so the tail-shaving work targets the
  * queries with outsized job counts (extra eager actions,
  * checkpoints, scalar head() calls). Run:
  *   java -cp "target/scala-2.13/classes:SPARK_JARS" \
  *     graft.tools.JobCountProbe /root/testdata/sf0.1 [names]
  */
object JobCountProbe {
  def main(args: Array[String]): Unit = {
    val dir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val names =
      if (args.length > 1) args(1).split(",").toSeq
      else graft.SparkEntry.queries.keys.toSeq.sorted
    val spark = graft.GraftSession.create("local[32]", 32)
    spark.sparkContext.setLogLevel("ERROR")
    val jobs = new java.util.concurrent.atomic.AtomicLong()
    val stages = new java.util.concurrent.atomic.AtomicLong()
    val tasks = new java.util.concurrent.atomic.AtomicLong()
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); stages.addAndGet(j.stageInfos.size.toLong); ()
      }
      override def onTaskEnd(t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        tasks.incrementAndGet(); ()
      }
    })
    def settle(): (Long, Long, Long) = {
      var prev = (jobs.get, stages.get, tasks.get)
      var stable = 0
      while (stable < 2) {
        Thread.sleep(20)
        val cur = (jobs.get, stages.get, tasks.get)
        if (cur == prev) stable += 1 else { stable = 0; prev = cur }
      }
      prev
    }
    def mat(df: org.apache.spark.sql.DataFrame): Unit = {
      df.select(xxhash64(df.columns.map(col): _*).as("h"))
        .agg(expr("bit_xor(h)")).head()
      ()
    }
    val qs = graft.SparkEntry.queries
    for (n <- names) {
      try {
        mat(qs(n)(spark, dir)) // warm (build-once roots, codegen)
        val (j0, s0, t0) = settle()
        val w0 = System.nanoTime()
        mat(qs(n)(spark, dir))
        val wall = (System.nanoTime() - w0) / 1e9
        val (j1, s1, t1) = settle()
        println(f"PROBE $n%-32s jobs=${j1 - j0}%3d stages=${s1 - s0}%3d tasks=${t1 - t0}%5d wall=$wall%6.2f")
      } catch {
        case e: Throwable =>
          println(s"PROBE $n ERROR ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(80)}")
      }
    }
    spark.stop()
  }
}
