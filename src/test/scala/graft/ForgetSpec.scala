package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.{Dedup, Forget, Similarity}
import graft.sources.{IndexRegistry, Snapshots}

/** The dependent-index registry + GDPR erasure capstone contracts:
  * attachment semantics, the exactly-once shape of one maintenance
  * pass, registry extensibility (a new family attached = a new family
  * folded), and the delete-aware kNN-graph fold's equivalence to a
  * live-corpus rebuild.
  */
class ForgetSpec extends SparkSpec {

  private val tmp = s"${Roots.scratch}/forget-spec"

  test("attach is idempotent and rejects divergent roots") {
    Forget.registerBuiltins()
    val base = s"$tmp/attach/base"
    Snapshots.deleteRecursively(s"$tmp/attach")
    IndexRegistry.attach(base, "fingerprints", Seq(s"$tmp/attach/fps"))
    IndexRegistry.attach(base, "fingerprints", Seq(s"$tmp/attach/fps")) // no-op
    assert(IndexRegistry.dependents(base) ==
      Seq(("fingerprints", Seq(s"$tmp/attach/fps"))))
    intercept[IllegalArgumentException] {
      IndexRegistry.attach(base, "fingerprints", Seq(s"$tmp/attach/other"))
    }
    intercept[IllegalArgumentException] {
      IndexRegistry.attach(base, "no_such_family", Seq(s"$tmp/attach/x"))
    }
  }

  test("racing same-family attaches collapse to one walk entry") {
    import scala.concurrent.Future
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.global
    Forget.registerBuiltins()
    val base = s"$tmp/attachrace/base"
    Snapshots.deleteRecursively(s"$tmp/attachrace")
    // both racers may observe the family absent and append the same
    // line; dependents() must still walk it ONCE (first line wins)
    settleAll(Seq(
      Future(IndexRegistry.attach(base, "fingerprints", Seq(s"$tmp/attachrace/fps"))),
      Future(IndexRegistry.attach(base, "fingerprints", Seq(s"$tmp/attachrace/fps")))))
    assert(IndexRegistry.dependents(base) ==
      Seq(("fingerprints", Seq(s"$tmp/attachrace/fps"))),
      s"racing attaches tore the catalog: ${IndexRegistry.dependents(base)}")
  }

  test("a newly registered toy family is folded by forgetWhere, not skipped") {
    Forget.registerBuiltins()
    val root = s"$tmp/toy"
    Snapshots.deleteRecursively(root)
    val baseT = s"$root/base"
    // toy index: lang → live doc count, maintained by full recompute
    // under the standard watermark convention (what a third-party
    // family plugs in)
    val ToyPrefix = "toy_through "
    IndexRegistry.registerMaintainer("toy_lang_counts") { (s, base, roots) =>
      val curV = Snapshots.currentVersion(base)
      if (Snapshots.tagWatermark(roots.head, ToyPrefix) != curV) {
        Snapshots.commitOverwriteTagged(
          Snapshots.readVersion(s, base, curV)
            .groupBy("lang").agg(count(lit(1)).as("n")),
          roots.head, Seq(ToyPrefix + curV))
        ()
      }
    }
    val docs = Tables.load(spark, sfDir, "documents").select("doc_id", "text", "lang")
    Snapshots.commitOverwrite(docs, baseT)
    IndexRegistry.attach(baseT, "toy_lang_counts", Seq(s"$root/langcounts"))
    assert(IndexRegistry.maintainAll(spark, baseT) == Seq("toy_lang_counts"))
    val before = Snapshots.read(spark, s"$root/langcounts")
      .agg(sum(col("n"))).head().getLong(0)
    assert(before == docs.count())
    // the erasure folds the toy family through the SAME registry walk
    val (v, folded) = IndexRegistry.forgetWhere(spark, baseT,
      pmod(col("doc_id"), lit(3)) === 0)
    assert(v == 2 && folded == Seq("toy_lang_counts"))
    val after = Snapshots.read(spark, s"$root/langcounts")
      .agg(sum(col("n"))).head().getLong(0)
    assert(after == docs.where(pmod(col("doc_id"), lit(3)) =!= 0).count())
  }

  test("erasure pass touches every index root exactly once and is idempotent") {
    val (baseT, root) = Forget.bootstrap(spark, sfDir)
    val allRoots = Forget.familyRoots(root).flatMap(_._2)
    val v0x = allRoots.map(r => r -> Snapshots.currentVersion(r)).toMap
    assert(v0x.values.forall(_ >= 1), s"bootstrap left unbuilt roots: $v0x")
    // a TEXT-ONLY update folds through every family; the vector
    // families' delete-of-old + insert-of-new rows carry identical
    // assignments, so their SERVED state is provably unchanged (sgn
    // netting), while their versions still advance (the fold ran)
    def ivfRows() = Similarity.serveIvfLists(spark, s"$root/ivf_lists")
      .select("vec_id", "cid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivfBefore = ivfRows()
    IndexRegistry.updateWhere(spark, baseT, pmod(col("doc_id"), lit(9)) === 0,
      "text", concat(col("text"), lit(" zzupdated")))
    assert(Snapshots.currentVersion(s"$root/ivf_lists") > v0x(s"$root/ivf_lists"),
      "the update pass must fold the vector family (even to a net no-op)")
    assert(ivfRows() == ivfBefore,
      "a text-only update must not change the served IVF assignments")
    val v0 = allRoots.map(r => r -> Snapshots.currentVersion(r)).toMap
    IndexRegistry.forgetWhere(spark, baseT, pmod(col("doc_id"), lit(7)) === 0)
    val v1 = allRoots.map(r => r -> Snapshots.currentVersion(r)).toMap
    // every MAINTAINED root advanced on the erasure pass — no family
    // was skipped. (A root may advance by 2 when the size-ratio policy
    // compacts its tombstones in the same pass; "exactly once" is the
    // idempotence assert below, not a version-delta of 1.) The one
    // deliberate exception: the IVF coarse quantizer is a FROZEN
    // artifact between offline re-trains — an erasure must NOT retrain
    // it, so its version must stay put.
    val frozen = Set(s"$root/ivf_cents")
    allRoots.filterNot(frozen).foreach(r => assert(v1(r) > v0(r),
      s"root $r did not fold on the erasure pass ($v0 -> $v1)"))
    frozen.foreach(r => assert(v1(r) == v0(r),
      s"frozen quantizer $r must not change on an erasure ($v0 -> $v1)"))
    // a second registry walk is a NO-OP: every family's watermark is
    // already at the base head, so nothing recommits (the exactly-once
    // property of the watermark convention)
    IndexRegistry.maintainAll(spark, baseT)
    val v2 = allRoots.map(r => r -> Snapshots.currentVersion(r)).toMap
    assert(v2 == v1, s"second maintainAll was not a no-op: $v1 -> $v2")
  }

  test("after the erasure pass, NO served structure references an erased id") {
    // the compliance audit a real right-to-be-forgotten pipeline emits:
    // beyond the checksum proof (serve ≡ live rebuild), assert directly
    // that every id-bearing column of every served structure is clean
    // of the erased ids — including the kNN graph's DESTINATION side,
    // where a stale edge would leak a forgotten doc as someone else's
    // neighbor
    val (baseT, root) = Forget.bootstrap(spark, sfDir)
    IndexRegistry.forgetWhere(spark, baseT, pmod(col("doc_id"), lit(7)) === 0)
    def erased(df: DataFrame, idCol: String): Long =
      df.where(pmod(col(idCol), lit(7)) === 0).count()
    assert(erased(Snapshots.read(spark, baseT), "doc_id") == 0, "base")
    assert(erased(graft.functions.TextFunctions.Postings.net(
      Snapshots.read(spark, s"$root/postings")), "doc_id") == 0, "postings")
    assert(erased(Snapshots.read(spark, s"$root/doclen").groupBy("doc_id")
      .agg(sum(col("dl")).as("dl")).where(col("dl") > 0), "doc_id") == 0, "doclen")
    assert(erased(Dedup.serveBandIndex(spark, s"$root/bands"), "doc_id") == 0, "bands")
    assert(erased(Dedup.serveSimhashIndex(spark, s"$root/simhash"), "doc_id") == 0, "simhash")
    assert(erased(Dedup.serveFingerprintIndex(spark, s"$root/fps"),
      "canonical_id") == 0, "fingerprints")
    assert(erased(Similarity.serveIvfLists(spark, s"$root/ivf_lists"), "vec_id") == 0, "ivf")
    val graph = Similarity.serveKnnGraph(spark, s"$root/knn_graph")
    assert(erased(graph, "g_src") == 0 && erased(graph, "g_dst") == 0, "graph")
  }

  test("delete-aware kNN graph maintenance equals a live-corpus rebuild") {
    val root = s"$tmp/graph"
    Snapshots.deleteRecursively(root)
    val baseT = s"$root/vecs"
    val e = Tables.load(spark, sfDir, "embeddings").select("vec_id", "embedding")
    // bootstrap on 90%, then a delete AND an append in one fold
    Snapshots.commitOverwrite(e.where(pmod(col("vec_id"), lit(10)) =!= 0), baseT)
    Similarity.knnGraphMaintain(spark, baseT, s"$root/bands", s"$root/graph")
    Snapshots.deleteWhere(spark, baseT, pmod(col("vec_id"), lit(7)) === 0)
    Snapshots.commitAppend(e.where(pmod(col("vec_id"), lit(10)) === 0), baseT)
    Similarity.knnGraphMaintain(spark, baseT, s"$root/bands", s"$root/graph")
    val served = Similarity.serveKnnGraph(spark, s"$root/graph")
    val live = e.where(
      (pmod(col("vec_id"), lit(10)) =!= 0 && pmod(col("vec_id"), lit(7)) =!= 0) ||
        pmod(col("vec_id"), lit(10)) === 0)
    val rebuilt = Similarity.buildGraph(live)
    def rows(df: DataFrame) =
      df.select("g_src", "g_dst", "g_sim").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val (sv, rb) = (rows(served), rows(rebuilt))
    assert(sv == rb,
      s"served ≠ rebuilt: only-served=${(sv -- rb).take(5)} only-rebuilt=${(rb -- sv).take(5)}")
  }

  test("delete-aware SimHash and fingerprint maintenance equal live recomputes") {
    val root = s"$tmp/textidx"
    Snapshots.deleteRecursively(root)
    val baseT = s"$root/docs"
    val d = Tables.load(spark, sfDir, "documents").select("doc_id", "text")
    Snapshots.commitOverwrite(d.where(pmod(col("doc_id"), lit(10)) =!= 0), baseT)
    Dedup.simhashIndexMaintain(spark, baseT, s"$root/simhash")
    Dedup.fingerprintIndexMaintain(spark, baseT, s"$root/fps")
    Snapshots.deleteWhere(spark, baseT, pmod(col("doc_id"), lit(7)) === 0)
    Snapshots.commitAppend(d.where(pmod(col("doc_id"), lit(10)) === 0), baseT)
    Dedup.simhashIndexMaintain(spark, baseT, s"$root/simhash")
    Dedup.fingerprintIndexMaintain(spark, baseT, s"$root/fps")
    val live = d.where(
      (pmod(col("doc_id"), lit(10)) =!= 0 && pmod(col("doc_id"), lit(7)) =!= 0) ||
        pmod(col("doc_id"), lit(10)) === 0)
    // SimHash blocks ≡ re-signing the live corpus
    val servedBlocks = Dedup.serveSimhashIndex(spark, s"$root/simhash")
    val freshBlocks = Dedup.simhashBlocksOf(live)
    assert(servedBlocks.exceptAll(freshBlocks).isEmpty &&
      freshBlocks.exceptAll(servedBlocks).isEmpty,
      "simhash block index diverged from live recompute")
    // fingerprint canonicals ≡ exact dedup over the live corpus —
    // including canonical PROMOTION when the old min doc was erased
    val servedFps = Dedup.serveFingerprintIndex(spark, s"$root/fps")
    val freshFps = live.groupBy(md5(col("text")).as("fp"))
      .agg(min(col("doc_id")).as("canonical_id"))
    assert(servedFps.exceptAll(freshFps).isEmpty &&
      freshFps.exceptAll(servedFps).isEmpty,
      "fingerprint index diverged from live recompute")
  }

  test("two racing erasure deletes serialize; one walk then serves the intersection") {
    // the composed DML race the snapshot layer guarantees TODAY: two
    // concurrent file-selective deletes on the same base — each probes
    // its own touched dirs and claims head + 1; the loser of the claim
    // re-probes the winner's head and deletes there. Either
    // interleaving must converge to BOTH predicates applied. (The
    // composed-race tests BELOW drive the registry walks themselves
    // concurrently — the per-family folds are head-CAS cycles since
    // round 13; this test keeps the base-layer race isolated, walking
    // once after both deletes.)
    val (baseT, root) = Forget.bootstrap(spark, sfDir, tag = "_race")
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.global
    def del(m: Int) = Future {
      Snapshots.deleteWhere(spark, baseT, pmod(col("doc_id"), lit(m)) === 0)
    }
    val (f7, f11) = (del(7), del(11))
    Await.result(f7, Duration.Inf); Await.result(f11, Duration.Inf)
    // the base converged to the intersection — neither delete was lost
    assert(Snapshots.read(spark, baseT)
      .where(pmod(col("doc_id"), lit(7)) === 0 || pmod(col("doc_id"), lit(11)) === 0)
      .count() == 0, "a racing delete was lost")
    // ONE registry walk folds the combined gap; serve ≡ live rebuild
    IndexRegistry.maintainAll(spark, baseT)
    def chk(r: String) = Forget.serveChecksums(spark, r).collect()
      .map(x => (x.getString(0), x.getLong(1), x.getLong(2))).toSet
    val got = chk(root)
    // reference: a fresh bootstrap over exactly the live corpus —
    // build under a SEPARATE root via the same shared flow
    val (refBase, refRoot) = Forget.bootstrap(spark, sfDir, tag = "_raceref")
    Snapshots.deleteWhere(spark, refBase,
      pmod(col("doc_id"), lit(7)) === 0 || pmod(col("doc_id"), lit(11)) === 0)
    IndexRegistry.maintainAll(spark, refBase)
    assert(got == chk(refRoot),
      "post-race serve diverged from a clean sequential erasure")
  }

  test("serving survives an aggressive vacuum of every capstone root") {
    // retention sweep: after the erasure pass every structure serves
    // from NETTING across its delta history — but netting only needs
    // the dirs the HEAD manifest carries (deltas are carried forward
    // by reference, never re-read from old versions). vacuum(retain=1)
    // on every root must therefore leave the serve bit-identical while
    // genuinely retiring pre-head history. This is the 100 TB storage
    // bound: version debt is reclaimable without a serve outage.
    val (baseT, root) = Forget.bootstrap(spark, sfDir, tag = "_vac")
    IndexRegistry.forgetWhere(spark, baseT, pmod(col("doc_id"), lit(7)) === 0)
    def chk() = Forget.serveChecksums(spark, root).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val before = chk()
    val allRoots = baseT +: Forget.familyRoots(root).flatMap(_._2)
    allRoots.foreach { t =>
      val head = Snapshots.currentVersion(t)
      if (head > 1) {
        Snapshots.vacuum(t, retain = 1, graceMs = 0L)
        // pre-head versions are genuinely retired, not just ignored
        intercept[Exception] { Snapshots.readVersion(spark, t, 1).collect() }
        ()
      }
    }
    assert(chk() == before, "serve changed after vacuuming every root")
    // and a post-vacuum registry walk is still a clean no-op
    val heads = allRoots.map(t => t -> Snapshots.currentVersion(t)).toMap
    IndexRegistry.maintainAll(spark, baseT)
    heads.foreach { case (t, v) =>
      assert(Snapshots.currentVersion(t) == v, s"post-vacuum walk re-committed $t")
    }
  }

  test("cascading erasure: parent row, child facts, every access path — and a replay no-ops") {
    import graft.sources.MaterializedView
    IndexRegistry.registerMaintainer("cust_rollup")((s2, base, r) => {
      MaterializedView.refresh(s2, base, r(0), Seq("c_mktsegment"), Nil); ()
    })
    val (ordersT, root) = Forget.relationalBootstrap(spark, sfDir, tag = "_casspec")
    val custT = s"$root/customer"
    IndexRegistry.attach(custT, "cust_rollup", Seq(s"$root/custroll"))
    IndexRegistry.maintainAll(spark, custT)
    val victim = 7L
    val vOrder = Snapshots.read(spark, ordersT).where(col("custkey") === victim)
      .agg(min(col("o_orderkey"))).head().getLong(0)

    val res = IndexRegistry.forgetCascade(spark, custT,
      col("custkey") === victim, "custkey", Seq(ordersT -> "custkey"))
    assert(res.map(_._1) == Seq(custT, ordersT), "cascade order: parent then children")

    // the victim is unreachable through EVERY path of BOTH tables
    assert(Snapshots.read(spark, custT).where(col("custkey") === victim).count() == 0,
      "customer row survived the cascade")
    assert(Snapshots.read(spark, ordersT).where(col("custkey") === victim).count() == 0,
      "child orders survived the cascade")
    assert(Snapshots.pointLookup(spark, ordersT, "o_orderkey", vOrder).count() == 0,
      "bloom point lookup still reaches the victim's order")
    assert(MaterializedView.serveJoin(spark, s"$root/custjoin")
      .where(col("custkey") === victim).count() == 0,
      "denormalized join view still carries the victim")
    // the customer rollup equals a live recompute
    def crRows(df: DataFrame) = df.select(col("c_mktsegment"), col("cnt").cast("long"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(crRows(Snapshots.read(spark, s"$root/custroll")) ==
      crRows(Snapshots.read(spark, custT).groupBy("c_mktsegment")
        .agg(count(lit(1)).as("cnt"))),
      "customer rollup diverged from live recompute")

    // replayed cascade (the victim's keys no longer match): zero new
    // versions anywhere — a zero-match delete must not commit
    val tables = Seq(custT, ordersT, s"$root/custroll", s"$root/rollup", s"$root/custjoin")
    val heads = tables.map(t => t -> Snapshots.currentVersion(t)).toMap
    IndexRegistry.forgetCascade(spark, custT,
      col("custkey") === victim, "custkey", Seq(ordersT -> "custkey"))
    heads.foreach { case (t, v) =>
      assert(Snapshots.currentVersion(t) == v, s"replayed cascade re-committed $t")
    }
  }

  test("relational registry walk: incremental paths taken, idempotent, erased customer unreachable") {
    import graft.sources.MaterializedView
    val (baseT, root) = Forget.relationalBootstrap(spark, sfDir, tag = "_spec")
    // an order of the victim customer, read BEFORE erasure
    val victimOrder = Snapshots.read(spark, baseT)
      .where(col("custkey") === 3).agg(min(col("o_orderkey"))).head().getLong(0)
    assert(Snapshots.pointLookup(spark, baseT, "o_orderkey", victimOrder).count() == 1)

    // THE erasure: one customer, one registry walk
    IndexRegistry.forgetWhere(spark, baseT, col("custkey") === 3)

    // each family took its INCREMENTAL path, not a recompute: the MV
    // folded the change feed, the join view delta-joined
    assert(MaterializedView.lastRefreshModeOf(s"$root/rollup") == "cdc-fold",
      s"rollup MV took '${MaterializedView.lastRefreshModeOf(s"$root/rollup")}', expected cdc-fold")
    assert(MaterializedView.lastRefreshModeOf(s"$root/custjoin") == "delta-join",
      s"join view took '${MaterializedView.lastRefreshModeOf(s"$root/custjoin")}', expected delta-join")

    // compliance: the erased customer is unreachable through EVERY
    // access path — heap point lookup, denormalized view, and rollup
    // totals equal to a live recompute
    assert(Snapshots.pointLookup(spark, baseT, "o_orderkey", victimOrder).count() == 0,
      "bloom-skip point lookup still reaches an erased customer's order")
    assert(MaterializedView.serveJoin(spark, s"$root/custjoin")
      .where(col("custkey") === 3).count() == 0,
      "denormalized join view still carries the erased customer")
    def rollupRows(df: DataFrame) = df
      .select(col("o_orderstatus"), col("o_orderpriority"), col("cnt").cast("long"),
        (col("sum_o_price") * 100).cast("long"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet
    val fresh = Snapshots.read(spark, baseT)
      .groupBy("o_orderstatus", "o_orderpriority")
      .agg(count(lit(1)).as("cnt"),
        sum(col("o_price")).cast("decimal(38,6)").as("sum_o_price"))
    assert(rollupRows(Snapshots.read(spark, s"$root/rollup")) == rollupRows(fresh),
      "rollup MV diverged from a live recompute after the cdc fold")

    // a second walk is a strict no-op: no structure re-commits
    val heads = Seq(s"$root/rollup", s"$root/custjoin")
      .map(t => t -> Snapshots.currentVersion(t)).toMap
    IndexRegistry.maintainAll(spark, baseT)
    heads.foreach { case (t, v) =>
      assert(Snapshots.currentVersion(t) == v, s"idempotent walk re-committed $t")
    }
  }

  test("a BASE vacuumed under the index watermarks degrades folds to recompute, not failure") {
    val (baseT, root) = Forget.bootstrap(spark, sfDir, tag = "_vacbase")
    // one walked erasure, then a second base DML WITHOUT a walk, then
    // vacuum the base down to its head: every family's watermark now
    // names a retired manifest — a delta read would fail forever; the
    // fold must degrade to one recompute + fresh watermark instead
    // (IVF re-ASSIGNS under the existing frozen quantizer, never
    // re-trains)
    IndexRegistry.forgetWhere(spark, baseT, pmod(col("doc_id"), lit(13)) === 1)
    Snapshots.deleteWhere(spark, baseT, pmod(col("doc_id"), lit(17)) === 2)
    Snapshots.vacuum(baseT, retain = 1, graceMs = 0L)
    IndexRegistry.maintainAll(spark, baseT)
    def chk(r: String) = Forget.serveChecksums(spark, r).collect()
      .map(x => (x.getString(0), x.getLong(1), x.getLong(2))).toSet
    // reference: same two erasures on a fresh capstone, no vacuum —
    // its quantizer also trained on the full bootstrap corpus, so the
    // frozen-artifact assignments are comparable
    val (refBase, refRoot) = Forget.bootstrap(spark, sfDir, tag = "_vacbaseref")
    IndexRegistry.forgetWhere(spark, refBase, pmod(col("doc_id"), lit(13)) === 1)
    IndexRegistry.forgetWhere(spark, refBase, pmod(col("doc_id"), lit(17)) === 2)
    assert(chk(root) == chk(refRoot),
      "vacuum-degraded recompute diverged from the incremental serve")
  }

  test("clustered-layout family: erasure folds the Z-ordered replica, pruning stays tight") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    val (baseT, root) = Forget.relationalBootstrap(spark, sfDir, tag = "_zl")
    val replica = s"$root/zreplica"
    def contentEq(): Unit = {
      val b = Snapshots.read(spark, baseT)
      val r = Snapshots.read(spark, replica)
      assert(b.exceptAll(r).isEmpty && r.exceptAll(b).isEmpty,
        "clustered replica diverged from its base")
    }
    contentEq()
    val v1 = Snapshots.currentVersion(replica)
    // THE erasure: the registry walk must fold the replica too — a
    // keyed anti-join rewrite of only the touched runs, never a
    // re-cluster of the table
    IndexRegistry.forgetWhere(spark, baseT, pmod(col("custkey"), lit(11)) === 2)
    assert(Snapshots.currentVersion(replica) > v1,
      "erasure did not reach the clustered replica")
    contentEq()
    assert(Snapshots.read(spark, replica)
      .where(pmod(col("custkey"), lit(11)) === 2).count() == 0,
      "erased rows survive in the clustered replica")
    // pruning stays TIGHT post-erasure: a narrow key-range scan reads
    // a fraction of the replica (file min/max bounds survive the
    // anti-join rewrite because survivors are a subset of each run)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      def rowsScanned(df: DataFrame): Long = {
        df.collect()
        df.queryExecution.executedPlan.collect {
          case s: FileSourceScanExec => s.metrics("numOutputRows").value
        }.sum
      }
      val served = Snapshots.read(spark, replica)
      val total = served.count()
      val kMax = served.agg(max(col("o_orderkey"))).head().getLong(0)
      val a = rowsScanned(served.where(col("o_orderkey") <= kMax / 8))
      assert(a < total * 2 / 3,
        s"post-erasure replica scan not pruned: $a of $total rows")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
    // idempotent: a second walk re-commits nothing
    val v2 = Snapshots.currentVersion(replica)
    IndexRegistry.maintainAll(spark, baseT)
    assert(Snapshots.currentVersion(replica) == v2,
      "idempotent walk re-committed the clustered replica")
  }

  test("clustered replica: a long DML sequence keeps run count bounded, watermark intact") {
    val (baseT, root) = Forget.relationalBootstrap(spark, sfDir, tag = "_zlcmp")
    val replica = s"$root/zreplica"
    // 6 erasure cycles: each fold rewrites touched runs + may add an
    // insert run; the run-count policy must major-re-cluster past the
    // bound instead of letting pruned reads degrade into a footer sweep
    (0 until 6).foreach { i =>
      IndexRegistry.forgetWhere(spark, baseT,
        pmod(col("o_orderkey"), lit(101 + i)) === i)
    }
    val dirs = Snapshots.versionDirs(replica, Snapshots.currentVersion(replica))
    assert(dirs.size <= 9, s"replica accreted ${dirs.size} runs — compaction policy idle")
    // content still ≡ base, and the carried watermark makes the next
    // walk a strict no-op (a dropped tag would force a re-bootstrap)
    val b = Snapshots.read(spark, baseT)
    val r = Snapshots.read(spark, replica)
    assert(b.exceptAll(r).isEmpty && r.exceptAll(b).isEmpty,
      "post-compaction replica diverged from base")
    val v = Snapshots.currentVersion(replica)
    IndexRegistry.maintainAll(spark, baseT)
    assert(Snapshots.currentVersion(replica) == v,
      "compaction dropped the watermark: the walk re-committed")
  }

  // ---- composed registry-walk races (round 13): the per-family folds
  // are head-CAS cycles (Snapshots.foldThrough), so concurrent walks —
  // the steady state of a production pipeline, erasure stream racing
  // re-crawl stream racing an ad-hoc maintainAll — must converge to
  // the sequential serve instead of double-folding deltas ----

  private def settleAll[A](fs: Seq[scala.concurrent.Future[A]]): Seq[scala.util.Try[A]] = {
    import scala.concurrent.Await
    import scala.concurrent.duration._
    // settle EVERYTHING before asserting, so a failed racer cannot
    // leave siblings mutating state under the assertions
    val settled = fs.map(f => scala.util.Try(Await.result(f, 10.minutes)))
    settled.collect { case scala.util.Failure(e) => throw e }
    settled
  }

  test("concurrent registry WALKS converge: erasure batch racing a re-crawl racing maintainAll") {
    import scala.concurrent.Future
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.global
    val (baseT, root) = Forget.bootstrap(spark, sfDir, tag = "_walkrace")
    // a re-crawl batch carrying the base's FULL row shape (text edit,
    // embedding kept), keys DISJOINT from the erased set so the two
    // DML ops commute and the sequential reference is order-free
    val orig = Snapshots.readVersion(spark, baseT, 1).localCheckpoint()
    val edited = orig.where(pmod(col("doc_id"), lit(10)) === 3)
      .withColumn("text", concat(col("text"), lit(" zzwalkrace")))
      .localCheckpoint()
    val racers = Seq(
      Future(IndexRegistry.forgetBatch(spark, baseT,
        pmod(col("doc_id"), lit(10)) === 0, "walkrace_del", 0L)._1),
      Future(IndexRegistry.recrawlBatch(edited, baseT, "doc_id",
        "walkrace_mrg", 0L)._1),
      Future { IndexRegistry.maintainAll(spark, baseT); 0 })
    settleAll(racers)
    // fold any trailing gap (a walk that pinned an older head may have
    // finished before the last DML landed), then serve
    IndexRegistry.maintainAll(spark, baseT)
    def chk(r: String) = Forget.serveChecksums(spark, r).collect()
      .map(x => (x.getString(0), x.getLong(1), x.getLong(2))).toSet
    val got = chk(root)
    // sequential reference: same two DML ops, one walk each, no races
    val (refBase, refRoot) = Forget.bootstrap(spark, sfDir, tag = "_walkraceref")
    IndexRegistry.forgetWhere(spark, refBase, pmod(col("doc_id"), lit(10)) === 0)
    IndexRegistry.recrawlBatch(
      edited, refBase, "doc_id", "walkraceref_mrg", 0L)
    assert(got == chk(refRoot),
      "racing registry walks diverged from the sequential serve")
  }

  test("CROSS-PROCESS walk race: two driver JVMs racing an erasure, a re-crawl, and a walk converge") {
    // the in-JVM races above share one process; the production claim
    // is stronger — the manifest claim is a create-exclusive
    // FILESYSTEM operation, so folds CAS correctly across DRIVERS.
    // Three child JVMs (the SpillProbe pattern) race the same base:
    // a tagged erasure batch, a tagged re-crawl merge, a bare walk.
    val (baseT, root) = Forget.bootstrap(spark, sfDir, tag = "_xproc")
    val addOpens = Seq(
      "java.base/java.lang", "java.base/java.lang.invoke",
      "java.base/java.lang.reflect", "java.base/java.io",
      "java.base/java.net", "java.base/java.nio",
      "java.base/java.util", "java.base/java.util.concurrent",
      "java.base/java.util.concurrent.atomic",
      "java.base/sun.nio.ch", "java.base/sun.nio.cs",
      "java.base/sun.security.action", "java.base/sun.util.calendar"
    ).flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED"))
    def launch(mode: String): Process =
      new ProcessBuilder((Seq("java", "-Xmx3g") ++ addOpens ++ Seq(
        "-cp", s"${Roots.repo}/target/scala-2.13/classes:/opt/spark/jars/*",
        "graft.tools.WalkRaceProbe", mode, baseT)): _*)
        .directory(new java.io.File(Roots.repo))
        .redirectErrorStream(true).start()
    val procs = Seq("forget", "recrawl", "walk").map(m => m -> launch(m))
    val results = procs.map { case (m, p) =>
      val text = new String(p.getInputStream.readAllBytes(), "UTF-8")
      (m, p.waitFor(), text)
    }
    results.foreach { case (m, exit, text) =>
      assert(exit == 0 && text.contains(s"WALKRACE_OK $m"),
        s"cross-process racer '$m' failed (exit $exit):\n" +
          text.linesIterator.toSeq.takeRight(25).mkString("\n"))
    }
    // fold any trailing gap in THIS driver, then compare serves
    IndexRegistry.maintainAll(spark, baseT)
    def chk(r: String) = Forget.serveChecksums(spark, r).collect()
      .map(x => (x.getString(0), x.getLong(1), x.getLong(2))).toSet
    val (refBase, refRoot) = Forget.bootstrap(spark, sfDir, tag = "_xprocref")
    IndexRegistry.forgetWhere(spark, refBase, pmod(col("doc_id"), lit(10)) === 0)
    val edited = Snapshots.readVersion(spark, refBase, 1)
      .where(pmod(col("doc_id"), lit(10)) === 3)
      .withColumn("text", concat(col("text"), lit(" zzxprocrace")))
    IndexRegistry.recrawlBatch(edited, refBase, "doc_id", "xprocref_mrg", 0L)
    assert(chk(root) == chk(refRoot),
      "cross-process racing walks diverged from the sequential serve")
  }

  // ---- contention storm, per watermark maintainer: every one of them
  // commits through the one head-CAS loop, so each must converge under
  // a storm AND surface its lost claims ----

  /** A derived-table maintainer under storm: `maintain(base, table)`
    * folds the base into the table; `serve(table)` reads what it
    * serves, as sorted row strings (a multiset).
    */
  private case class StormMaintainer(name: String,
      maintain: (String, String) => Unit, serve: String => Seq[String])

  private def rowStrings(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  private val stormMaintainers = Seq(
    StormMaintainer("foldThrough",
      (baseT, t) => {
        Snapshots.foldThrough(baseT, t, "storm_through ") { f =>
          f.replace(Snapshots.readVersion(spark, baseT, f.curV))
        } { f =>
          f.append(Snapshots.changesBetween(spark, baseT, f.lastV, f.curV)._1)
        }
        ()
      },
      t => rowStrings(Snapshots.read(spark, t).select("id"))),
    StormMaintainer("MaterializedView.refresh",
      (baseT, t) => {
        graft.sources.MaterializedView.refresh(spark, baseT, t, Seq("g"), Seq("v")); ()
      },
      t => rowStrings(Snapshots.read(spark, t))),
    StormMaintainer("clusteredMaintain",
      (baseT, t) => {
        Snapshots.clusteredMaintain(spark, baseT, t, "id", Seq("id"), files = 2); ()
      },
      t => rowStrings(Snapshots.read(spark, t))),
    StormMaintainer("Events.concurrencyRefresh",
      (baseT, t) => graft.operators.Events.concurrencyRefresh(spark, baseT, t),
      t => rowStrings(graft.operators.Events.concurrencyServe(spark, t))))

  // one base row shape every maintainer reads: `id` keys the replica,
  // (g, v) the rollup, (user_id, event_id, sec) the session boundaries
  private def stormRows(lo: Long, hi: Long): DataFrame =
    spark.range(lo, hi).select(col("id"), (col("id") % 5).as("g"),
      col("id").as("v"), (col("id") % 7).as("user_id"),
      col("id").as("event_id"), (col("id") * 600).as("sec"))

  stormMaintainers.foreach { m =>
    val title = "contention storm: 8 racing folds converge under admission control, contention surfaced"
    test(if (m.name == "foldThrough") title else s"$title: ${m.name}") {
      import scala.concurrent.Future
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.global
      val root = s"$tmp/storm_${m.name.replace('.', '_')}"
      Snapshots.deleteRecursively(root)
      val baseT = s"$root/base"; val idxT = s"$root/idx"; val refT = s"$root/ref"
      Snapshots.commitOverwrite(stormRows(0, 50), baseT)
      Snapshots.drainFoldContention() // isolate this test's counters
      // 8 walkers, each repeatedly appending a disjoint batch to the
      // base and maintaining the derived table through its own head —
      // the storm shape the admission control exists for: folds queue
      // at the per-table budget and back off on lost claims instead of
      // retry-spinning toward the attempt cap (which would surface here
      // as a failed future)
      val threads = 8; val rounds = 3
      val racers = (1 to threads).map { t =>
        Future {
          (1 to rounds).foreach { r =>
            Snapshots.commitAppend(
              stormRows(1000L * t + 100L * r, 1000L * t + 100L * r + 10), baseT)
            m.maintain(baseT, idxT)
          }
          0
        }
      }
      settleAll(racers)
      // fold any trailing gap (a walker may have pinned a head older
      // than the last racing append), then compare with a sequential
      // rebuild over the final base
      m.maintain(baseT, idxT)
      val cont = Snapshots.drainFoldContention()
      m.maintain(baseT, refT)
      assert(m.serve(idxT) == m.serve(refT),
        s"${m.name}: racing folds diverged from a sequential rebuild")
      // the storm must be a TRACKED event, not an invisible retry tax:
      // at least one lost claim race was counted and backed off
      val (conflicts, backoff) = cont.getOrElse(idxT, (0L, 0L))
      assert(conflicts > 0 && backoff > 0,
        s"${m.name}: expected surfaced fold contention on $idxT, got $cont")
    }
  }

  test("persisted divergent-roots duplicate lines fail the walk loudly, never silently mask") {
    Forget.registerBuiltins()
    val base = s"$tmp/diverge/base"
    Snapshots.deleteRecursively(s"$tmp/diverge")
    IndexRegistry.attach(base, "fingerprints", Seq(s"$tmp/diverge/fps"))
    // simulate the attach RACE attach() itself cannot catch: two
    // attachers of one family with DIFFERENT roots both observed it
    // absent and both appended — the catalog now carries both lines,
    // and silently serving only the first would leave the second
    // attacher's roots unmaintained while its caller believes the
    // attach succeeded
    java.nio.file.Files.write(
      java.nio.file.Paths.get(base, "meta", "dependents.list"),
      s"fingerprints\t$tmp/diverge/OTHER\n".getBytes(
        java.nio.charset.StandardCharsets.UTF_8),
      java.nio.file.StandardOpenOption.APPEND)
    val e = intercept[IllegalArgumentException] { IndexRegistry.dependents(base) }
    assert(e.getMessage.contains("fingerprints"), e.getMessage)
  }

  test("forgetWhere racing index-root COMPACTORS converges to the sequential serve") {
    import scala.concurrent.Future
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.global
    val (baseT, root) = Forget.bootstrap(spark, sfDir, tag = "_cmprace")
    // compactors hammer four attached index roots while the erasure's
    // registry walk folds deltas into the SAME tables: a compaction is
    // a head CAS and the folds are foldThrough CAS cycles, so every
    // interleaving must keep each table's netted content — a lost fold
    // (compactor overwrote a freshly-appended delta) or a lost
    // compaction (fold head moved mid-rewrite) would both surface as a
    // checksum divergence from the clean sequential run
    val racers = Seq(
      Future {
        (1 to 3).foreach { _ =>
          Dedup.BandIndex.compact(spark, s"$root/bands")
          graft.functions.TextFunctions.Postings.compact(spark, s"$root/postings")
          Similarity.IvfLists.compact(spark, s"$root/ivf_lists")
          Similarity.KnnGraph.compact(spark, s"$root/knn_graph")
        }
        0
      },
      Future(IndexRegistry.forgetWhere(spark, baseT,
        pmod(col("doc_id"), lit(6)) === 0)._1))
    settleAll(racers)
    IndexRegistry.maintainAll(spark, baseT)
    def chk(r: String) = Forget.serveChecksums(spark, r).collect()
      .map(x => (x.getString(0), x.getLong(1), x.getLong(2))).toSet
    val (refBase, refRoot) = Forget.bootstrap(spark, sfDir, tag = "_cmpraceref")
    IndexRegistry.forgetWhere(spark, refBase, pmod(col("doc_id"), lit(6)) === 0)
    assert(chk(root) == chk(refRoot),
      "erasure racing compactors diverged from the sequential serve")
  }

  test("cascade firehose (semi-join) form equals the inline-IN form") {
    val cond = pmod(col("custkey"), lit(31)) === 4
    val (ordersA, rootA) = Forget.relationalBootstrap(spark, sfDir, tag = "_casIn")
    IndexRegistry.forgetCascade(spark, s"$rootA/customer", cond, "custkey",
      Seq(ordersA -> "custkey"))
    val (ordersB, rootB) = Forget.relationalBootstrap(spark, sfDir, tag = "_casSj")
    // maxInlineKeys = 0 forces the firehose path: child deletes run as
    // a key semi-join probe + anti-join rewrite (Snapshots
    // .deleteMatching) — the keys never reach the driver
    IndexRegistry.forgetCascade(spark, s"$rootB/customer", cond, "custkey",
      Seq(ordersB -> "custkey"), maxInlineKeys = 0)
    def rows(r: String) = Forget.relationalServe(spark, r).collect()
      .map(x => (x.getString(0), x.getLong(1), x.getLong(2))).toSet
    assert(rows(rootA) == rows(rootB),
      "semi-join cascade diverged from the inline-IN cascade")
    Seq(ordersA, ordersB).foreach { t =>
      assert(Snapshots.read(spark, t).where(cond).count() == 0,
        s"cascade left matching child rows in $t")
    }
  }

  test("streamed cascade: full replay no-ops; a crash between parent and child resumes") {
    val (ordersT, root) = Forget.relationalBootstrap(spark, sfDir, tag = "_casres")
    val custT = s"$root/customer"
    val ids = Snapshots.read(spark, custT)
      .where(pmod(col("custkey"), lit(37)) === 5)
      .select("custkey").collect().map(_.getAs[Number](0).longValue).toSeq
    assert(ids.nonEmpty)
    val sid = "casres"
    // simulate the CRASH: the parent delete of batch 0 committed, the
    // child delete and both walks never ran
    Snapshots.deleteBatch(spark, custT, col("custkey").isin(ids: _*), sid, 0L)
    assert(Snapshots.read(spark, ordersT).where(col("custkey").isin(ids: _*))
      .count() > 0, "precondition: child rows still present post-crash")
    // the stream RETRIES the batch: the parent no-ops on its tag, the
    // child delete and every walk still run to completion — possible
    // only because the fan-out derives from the BATCH's ids, not from
    // a lookup against the (already erased) parent
    IndexRegistry.forgetCascadeBatch(spark, custT, "custkey", ids,
      Seq(ordersT -> "custkey"), sid, 0L)
    assert(Snapshots.read(spark, custT).where(col("custkey").isin(ids: _*))
      .count() == 0, "parent rows survived the cascade")
    assert(Snapshots.read(spark, ordersT).where(col("custkey").isin(ids: _*))
      .count() == 0, "child rows survived the resumed cascade")
    // full REPLAY: every table's version is unchanged end to end
    val heads = Seq(custT, ordersT).map(t => t -> Snapshots.currentVersion(t))
    IndexRegistry.forgetCascadeBatch(spark, custT, "custkey", ids,
      Seq(ordersT -> "custkey"), sid, 0L)
    heads.foreach { case (t, v) =>
      assert(Snapshots.currentVersion(t) == v, s"replayed cascade re-committed $t")
    }
  }
}
