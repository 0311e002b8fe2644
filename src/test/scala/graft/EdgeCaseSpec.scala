package graft

import org.apache.spark.sql.functions._

/** Degenerate-input robustness: EVERY catalog query must not THROW on
  * an empty corpus or a single-row corpus — the shapes a production
  * pipeline hits on day one (no data yet), after an aggressive filter
  * (one survivor), or on an empty partition of a date-partitioned run.
  * Returning zero rows (or an all-null summary row from a global
  * aggregate) is fine; an exception is not. Full-catalog since round
  * 10 (the MultiFileSpec precedent): the persisted-index families are
  * IN contract too — an index built over an empty corpus commits an
  * empty-but-readable table (Snapshots.ensureParquetFooter) and serves
  * zero hits.
  */
class EdgeCaseSpec extends SparkSpec {

  private val queriesUnderTest: Seq[String] =
    SparkEntry.queries.keys.toSeq.sorted

  /** Run independent per-query probes from a small driver pool (the
    * two full-catalog sweeps were the suite's whole runtime — r16
    * test-budget item); failures collect instead of failing fast so
    * one report names every offender.
    */
  private def sweep(dst: String)(probe: String => Option[String]): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    val failures =
      try queriesUnderTest.map { q =>
        pool.submit(new java.util.concurrent.Callable[Option[String]] {
          override def call(): Option[String] = probe(q)
        })
      }.flatMap(_.get())
      finally pool.shutdown()
    assert(failures.isEmpty, failures.mkString("\n"))
  }

  private def writeScaled(dst: String, limit: Int): Unit = {
    graft.sources.Snapshots.deleteRecursively(dst)
    Tables.names.foreach { t =>
      spark.read.parquet(s"$sfDir/$t.parquet").limit(limit)
        .coalesce(1).write.mode("overwrite").parquet(s"$dst/$t.parquet")
    }
  }

  test("catalog queries do not throw on an EMPTY corpus") {
    val dst = s"${Roots.scratch}/edgecase/empty"
    writeScaled(dst, 0)
    sweep(dst) { q =>
      try {
        val rows = SparkEntry.queries(q)(spark, dst).collect()
        // a global aggregate may emit one all-null summary row; grouped
        // shapes must emit nothing — either way, no exception
        if (rows.length <= 1 || rows.forall(_ != null)) None
        else Some(s"$q: null rows on the empty corpus")
      } catch { case e: Throwable =>
        Some(s"$q threw on the empty corpus: ${e.getClass.getSimpleName}: ${e.getMessage}")
      }
    }
  }

  test("U-shaped attribution: 0/1/2/3-touch paths split 100 / 100 / 50-50 / 40-20-40") {
    // the edge cases that break naive 40/20/40 splits: one touch must
    // take 100% (not 40%, orphaning 60), two touches 50/50 (not 40+40
    // with the middle 20 unassignable), zero touches credit 'direct'.
    // Synthetic corpus: four users, each purchasing 1.00 (= 100,000
    // millicents) with 0, 1, 2 and 3 prior touches respectively; the
    // 3-touch user's middle touch is a 'view' between two 'click's.
    import spark.implicits._
    val dst = s"${Roots.scratch}/edgecase/ushape"
    graft.sources.Snapshots.deleteRecursively(dst)
    val base = java.sql.Timestamp.valueOf("2024-01-10 12:00:00")
    def at(offsetSec: Long) = new java.sql.Timestamp(base.getTime + offsetSec * 1000)
    val ev = Seq(
      // user 1: zero touches
      (101L, at(0), 1L, "purchase", 1.0, "{}"),
      // user 2: one click → 100%
      (201L, at(-100), 2L, "click", 0.0, "{}"),
      (202L, at(0), 2L, "purchase", 1.0, "{}"),
      // user 3: click, view → 50/50
      (301L, at(-200), 3L, "click", 0.0, "{}"),
      (302L, at(-100), 3L, "view", 0.0, "{}"),
      (303L, at(0), 3L, "purchase", 1.0, "{}"),
      // user 4: click, view, click → 40/20/40
      (401L, at(-300), 4L, "click", 0.0, "{}"),
      (402L, at(-200), 4L, "view", 0.0, "{}"),
      (403L, at(-100), 4L, "click", 0.0, "{}"),
      (404L, at(0), 4L, "purchase", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    Tables.names.foreach { t =>
      val src = spark.read.parquet(s"$sfDir/$t.parquet")
      (if (t == "events") ev.select(src.columns.map(col): _*) else src.limit(1))
        .coalesce(1).write.mode("overwrite").parquet(s"$dst/$t.parquet")
    }
    val got = SparkEntry.queries("q_events_attribution_ushaped")(spark, dst)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    // direct: 1 credit of 100,000 (user 1)
    // click: u2 full 100,000 + u3 first 50,000 + u4 first/last 40,000×2
    // view:  u3 last 50,000 + u4 middle 20,000
    assert(got == Set(
      ("direct", 1L, 100000L),
      ("click", 4L, 230000L),
      ("view", 2L, 70000L)), s"got $got")
  }

  test("BPE encode on a corpus that learns NO merge rule is the identity, not null") {
    // single-character words have no adjacent symbol pairs, so every
    // training round's rule frame is empty — the degenerate shape
    // where the unguarded pivot nulled every encoding while the DuckDB
    // oracle returned zero rows (engine divergence, advice r8 #2)
    import spark.implicits._
    val dst = s"${Roots.scratch}/edgecase/bpe_norule"
    graft.sources.Snapshots.deleteRecursively(dst)
    Tables.names.foreach { t =>
      val src = spark.read.parquet(s"$sfDir/$t.parquet")
      (if (t == "documents")
        Seq((1L, "a b c", "en", "web", 5L), (2L, "b c d", "en", "web", 5L))
          .toDF("doc_id", "text", "lang", "source", "n_chars")
          .select(src.columns.map(col): _*)
      else src.limit(1))
        .coalesce(1).write.mode("overwrite").parquet(s"$dst/$t.parquet")
    }
    assert(SparkEntry.queries("t_bpe_merges")(spark, dst).collect().isEmpty,
      "no merge rule should be learnable from single-char words")
    val rows = SparkEntry.queries("t_bpe_encode")(spark, dst).collect()
    assert(rows.length == 1)
    val r = rows.head
    val (before, after) = (r.getLong(r.fieldIndex("sym_before")),
      r.getLong(r.fieldIndex("sym_after")))
    assert(before == 6 && after == 6,
      s"missing rules must encode as the identity: before=$before after=$after")
  }

  test("catalog queries do not throw on a SINGLE-ROW corpus") {
    val dst = s"${Roots.scratch}/edgecase/one"
    writeScaled(dst, 1)
    sweep(dst) { q =>
      try { SparkEntry.queries(q)(spark, dst).collect(); None }
      catch { case e: Throwable =>
        Some(s"$q threw on the single-row corpus: ${e.getClass.getSimpleName}: ${e.getMessage}")
      }
    }
  }
}
