package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Memory-pressure gate (round-12 verdict #3): the catalog's heaviest
  * families must SPILL under a constrained session, not OOM — proven
  * by running them at sf0.1 in a CHILD JVM with a quarter of the test
  * heap and spill-forcing thresholds (graft.tools.SpillProbe), then
  * asserting (a) clean exit, (b) result hashes identical to this
  * suite's unconstrained session, (c) task metrics recorded actual
  * spilled bytes. Everything before this ran only on the 8 GiB
  * local[32] profile; this is the axis a production executor under
  * memory pressure exercises on day one.
  */
class SpillSpec extends SparkSpec {

  private val jdk17AddOpens = Seq(
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"
  ).flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED"))

  private def hash(df: DataFrame): String = {
    val h = df.select(xxhash64(df.columns.map(col): _*).as("h"))
      .agg(expr("bit_xor(h)")).head()
    if (h.isNullAt(0)) "null" else h.getLong(0).toString
  }

  /** Launch the probe JVM at `heap` over `queries` at `sf`; assert
    * clean exit, per-query hash parity with THIS (unconstrained)
    * session, and a nonzero spilled-bytes metric.
    */
  private def assertSpills(heap: String, sf: String, queries: Seq[String]): Unit = {
    // reference from the unconstrained session, computed first so the
    // persisted DML roots are freshly rebuilt either way
    val ref = queries.map(q => q -> hash(SparkEntry.queries(q)(spark, sf))).toMap
    val cmd = Seq("java", s"-Xmx$heap") ++ jdk17AddOpens ++ Seq(
      "-cp", s"${Roots.repo}/target/scala-2.13/classes:/opt/spark/jars/*",
      "graft.tools.SpillProbe", sf, queries.mkString(","))
    val buf = new StringBuilder
    val proc = new ProcessBuilder(cmd: _*)
      .directory(new java.io.File(Roots.repo))
      .redirectErrorStream(true).start()
    val out = new java.io.BufferedReader(
      new java.io.InputStreamReader(proc.getInputStream))
    var line = out.readLine()
    while (line != null) { buf.append(line).append('\n'); line = out.readLine() }
    val exit = proc.waitFor()
    val text = buf.toString
    assert(exit == 0,
      s"spill probe ($heap) died (exit $exit) — an operator OOMed instead of spilling:\n" +
        text.linesIterator.toSeq.takeRight(30).mkString("\n"))
    val probed = text.linesIterator.collect {
      case l if l.startsWith("SPILLPROBE ") =>
        val p = l.split(" "); p(1) -> p(2)
    }.toMap
    queries.foreach { q =>
      assert(probed.get(q).contains(ref(q)),
        s"$q hash diverged under memory pressure ($heap): constrained=${probed.get(q)} " +
          s"unconstrained=${ref(q)}")
    }
    val spilledBytes = text.linesIterator
      .collectFirst { case l if l.startsWith("SPILLPROBE_SPILLED_BYTES ") =>
        l.split(" ")(1).toLong }
      .getOrElse(fail("probe printed no spill metric"))
    assert(spilledBytes > 0L,
      s"the constrained session ($heap) recorded ZERO spilled bytes — the " +
        "thresholds are not forcing the spill paths this gate exists to test")
  }

  // the four heaviest shapes: the rolling-frame winnow (round-14
  // rewrite — its former ×4 window-membership explode was the 2 GiB
  // profile's dominant spiller; the probe's force threshold tightened
  // 100k→25k elements so the leaner plan still drives the external-
  // sorter spill path), the versioned join-MV DML cycle, the
  // tombstone-netted BM25 DML serve, and the TypedImperativeAggregate
  // scatter (forced to its sort-based fallback by the probe's
  // threshold)
  private val heavy = Seq("d_dedup_winnow", "q_mv_join_incremental",
    "t_search_bm25_dml", "s_embedding_pca")

  test("heavy families spill (not OOM) under a 2 GiB session, hashes unchanged") {
    assertSpills("2g", "/root/testdata/sf0.1", heavy)
  }

  test("heavy families survive a 512 MiB session at sf0.1 — the spill floor") {
    // the second profile (round-13 candidate #2): the SAME sf0.1 data
    // under a QUARTER of the first profile's heap — the regime where
    // the spill machinery itself competes with execution memory
    // (external sorter pages, shuffle buffers and broadcast copies all
    // under the ceiling the operators are spilling to escape; measured
    // ~445 MB spilled). Clean exit + identical hashes here bound the
    // per-executor floor a cluster deployment can size down to.
    // (sf0.01 was probed too and fits the buffers without spilling at
    // all — the floor only bites when the data outgrows the heap.)
    assertSpills("512m", "/root/testdata/sf0.1", heavy)
  }
}
