package graft

/** Layout-invariance guard (round 8, widened to the FULL catalog in
  * round 9 — VERDICT item 6): every PLANS.md scan of the
  * driver-generated testdata shows single-file parquet
  * (`InMemoryFileIndex(1 paths)`), so nothing else in CI would catch a
  * single-file-only assumption (e.g. an accidental reliance on row
  * order within a scan, a fingerprint scheme that breaks on
  * directories, a per-file aggregate treated as global) before a
  * scale-up to real multi-file tables. This spec re-runs EVERY catalog
  * query against a repartitioned MULTI-file copy of every table and
  * asserts row-identical results — cheap at sf0.001, and it covers all
  * of them, not a representative three.
  */
class MultiFileSpec extends SparkSpec {

  test("every catalog query is layout-invariant under multi-file repartitioned testdata") {
    val dst = s"${Roots.scratch}/multifile/sf0_001"
    graft.sources.Snapshots.deleteRecursively(dst)
    Tables.names.foreach { t =>
      spark.read.parquet(s"$sfDir/$t.parquet").repartition(4)
        .write.mode("overwrite").parquet(s"$dst/$t.parquet")
    }
    // the copy must actually be multi-file for the big tables, or the
    // test is vacuous
    val liFiles = new java.io.File(s"$dst/lineitem.parquet")
      .listFiles().count(_.getName.endsWith(".parquet"))
    assert(liFiles > 1, s"expected a multi-file lineitem copy, got $liFiles file(s)")

    // queries are independent — run them from a small driver pool so
    // Spark overlaps their (tiny, latency-bound) jobs; this one test
    // was the suite's longest at ~9 min serial (r16 test-budget item)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    val failures =
      try SparkEntry.queries.toSeq.sortBy(_._1).map { case (q, fn) =>
        pool.submit(new java.util.concurrent.Callable[Option[String]] {
          override def call(): Option[String] = {
            def rows(dir: String): Seq[String] =
              fn(spark, dir).collect().map(_.toString).sorted.toSeq
            try {
              val (single, multi) = (rows(sfDir), rows(dst))
              if (single.isEmpty)
                Some(s"$q: no rows on the single-file layout")
              else if (single != multi)
                Some(s"$q: ${single.size} vs ${multi.size} rows; first diff: " +
                  single.zipAll(multi, "<none>", "<none>")
                    .collectFirst { case (a, b) if a != b => s"$a vs $b" }
                    .getOrElse("<size-only>"))
              else None
            } catch {
              case e: Throwable => Some(s"$q: threw ${e.getMessage}")
            }
          }
        })
      }.flatMap(_.get())
      finally pool.shutdown()
    assert(failures.isEmpty,
      s"${failures.size} queries diverged on the multi-file layout:\n" +
        failures.mkString("\n"))
  }
}
