package graft

import org.apache.spark.sql.functions._
import graft.sources.Sources

/** Source/sink round-trips and physical-design layouts. */
class SourcesSpec extends SparkSpec {

  private val tmp = s"${Roots.scratch}/sources-spec"

  test("csv round-trip preserves rows and values") {
    val orig = Tables.load(spark, sfDir, "nation")
    Sources.writeCsv(orig, s"$tmp/nation_csv")
    val back = Sources.readCsv(spark, s"$tmp/nation_csv", orig.schema)
    assert(back.count() == orig.count())
    assert(back.orderBy("n_nationkey").collect().map(_.toSeq.toList).toList ==
      orig.orderBy("n_nationkey").collect().map(_.toSeq.toList).toList)
  }

  test("json round-trip preserves rows and values") {
    val orig = Tables.load(spark, sfDir, "region")
    Sources.writeJson(orig, s"$tmp/region_json")
    val back = Sources.readJson(spark, s"$tmp/region_json", orig.schema)
    assert(back.orderBy("r_regionkey").collect().map(_.toSeq.toList).toList ==
      orig.orderBy("r_regionkey").collect().map(_.toSeq.toList).toList)
  }

  test("orc round-trip preserves values and pushes filters to the scan") {
    val orig = Tables.load(spark, sfDir, "customer")
    Sources.writeOrc(orig, s"$tmp/customer_orc")
    val back = Sources.readOrc(spark, s"$tmp/customer_orc")
    assert(back.orderBy("c_custkey").collect().map(_.toSeq.toList).toList ==
      orig.orderBy("c_custkey").collect().map(_.toSeq.toList).toList)
    // predicate pushdown + column pruning reach the ORC scan exactly
    // like parquet's
    val q = back.where(col("c_custkey") < 10).select("c_custkey", "c_mktsegment")
    val scan = physicalPlan(q)
    assert(scan.contains("PushedFilters: [IsNotNull(c_custkey), LessThan(c_custkey,10)]"),
      s"expected pushed filter in:\n$scan")
    assert(scan.contains("ReadSchema: struct<c_custkey:bigint,c_mktsegment:string>"),
      s"expected pruned schema in:\n$scan")
  }

  test("partitioned write enables partition pruning") {
    val orders = Tables.load(spark, sfDir, "orders")
      .withColumn("o_year", year(col("o_orderdate")))
    Sources.writePartitioned(orders, s"$tmp/orders_part", "o_year")
    val pruned = spark.read.parquet(s"$tmp/orders_part")
      .where(col("o_year") === 1996)
    val plan = physicalPlan(pruned)
    assert(plan.contains("PartitionFilters: [isnotnull(o_year"), plan)
    val expected = orders.where(col("o_year") === 1996).count()
    assert(pruned.count() == expected)
  }

  test("dynamic partition pruning: a dim filter prunes fact partitions at runtime") {
    val orders = Tables.load(spark, sfDir, "orders")
      .withColumn("o_year", year(col("o_orderdate")))
    val path = s"$tmp/orders_dpp"
    Sources.writePartitioned(orders, path, "o_year")
    val fact = spark.read.parquet(path)
    // the year filter lives on the DIM side only — static pruning
    // can't see it; DPP must push a runtime subquery filter into the
    // fact scan's PartitionFilters
    import spark.implicits._
    // dim must be a real datasource: a local relation folds the filter
    // away and DPP sees no selective predicate to subscribe to
    Seq((1996, "pick"), (1997, "skip"), (1998, "skip"))
      .toDF("d_year", "d_tag").write.mode("overwrite").parquet(s"$tmp/year_dim")
    val dim = spark.read.parquet(s"$tmp/year_dim")
    val joined = fact.join(dim.where(col("d_tag") === "pick"),
      col("o_year") === col("d_year"))
    val plan = physicalPlan(joined)
    assert(plan.contains("dynamicpruningexpression"),
      s"expected runtime partition pruning in:\n$plan")
    assert(joined.count() ==
      orders.where(col("o_year") === 1996).count())
  }

  test("dynamic partition overwrite isolates writers per partition (P3 analog)") {
    // the reference serializes table writes with X locks; Spark's
    // equivalent isolation unit is the partition + atomic job commit
    val orders = Tables.load(spark, sfDir, "orders")
      .withColumn("o_year", year(col("o_orderdate")))
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    val path = s"$tmp/orders_dyn"
    orders.where(col("o_year") === 1995)
      .write.mode("overwrite").partitionBy("o_year").parquet(path)
    orders.where(col("o_year") === 1996)
      .write.mode("overwrite").partitionBy("o_year").parquet(path)
    val back = spark.read.parquet(path)
    val got = back.groupBy("o_year").count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val exp = orders.where(col("o_year").isin(1995, 1996))
      .groupBy("o_year").count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(got == exp, s"dynamic overwrite clobbered partitions: $got vs $exp")
  }

  test("z-ordered layout prunes row groups on BOTH clustered columns") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.execution.FileSourceScanExec
    val li = Tables.load(spark, sfDir, "lineitem")
      .select("l_orderkey", "l_partkey", "l_suppkey", "l_quantity")
    val path = s"$tmp/li_zorder"
    Sources.writeZOrdered(li, path, "l_partkey", "l_suppkey")
    val total = li.count()
    // AQE wraps the plan; disable so executedPlan exposes the scan node
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      def rowsScanned(df: DataFrame): Long = {
        df.collect()
        df.queryExecution.executedPlan.collect {
          case s: FileSourceScanExec => s.metrics("numOutputRows").value
        }.sum
      }
      val zli = spark.read.parquet(path)
      // primary clustered column
      val pkMax = li.agg(max(col("l_partkey"))).head().getLong(0)
      val a = rowsScanned(zli.where(col("l_partkey") <= pkMax / 8))
      // secondary clustered column — the reference's secondary-index case
      val skMax = li.agg(max(col("l_suppkey"))).head().getLong(0)
      val b = rowsScanned(zli.where(col("l_suppkey") <= skMax / 8))
      // threshold at 2/3: repartitionByRange SAMPLES to pick file
      // boundaries, so the exact scanned count wobbles a little
      // run-to-run (a 1/8-range filter without clustering scans all
      // 6000 rows; pruning to ~half is the signal, not the digit)
      assert(a < total * 2 / 3, s"primary-column pruning: scanned $a of $total")
      assert(b < total * 2 / 3, s"secondary-column pruning: scanned $b of $total")
      // layout never changes semantics
      assert(zli.where(col("l_suppkey") <= skMax / 8).count() ==
        li.where(col("l_suppkey") <= skMax / 8).count())
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("snapshot layer: commits, time travel, isolation, vacuum") {
    import graft.sources.Snapshots
    val table = s"$tmp/snap_nation"
    // fresh table dir per run
    val root = new java.io.File(table)
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm); f.delete(); ()
    }
    if (root.exists()) rm(root)

    val nation = Tables.load(spark, sfDir, "nation")
    val v1 = Snapshots.commitOverwrite(nation.where(col("n_regionkey") === 0), table)
    val v2 = Snapshots.commitAppend(nation.where(col("n_regionkey") === 1), table)
    assert((v1, v2) == (1, 2))

    // a reader that resolved v1 BEFORE v2 committed still sees v1 —
    // snapshot isolation without a lock manager
    val frozen = Snapshots.readVersion(spark, table, 1)
    val v3 = Snapshots.commitOverwrite(nation.where(col("n_regionkey") === 2), table)
    assert(v3 == 3)
    val exp1 = nation.where(col("n_regionkey") === 0).count()
    assert(frozen.count() == exp1)

    // time travel reconstructs every committed version exactly
    assert(Snapshots.readVersion(spark, table, 2).count() ==
      nation.where(col("n_regionkey").isin(0, 1)).count())
    assert(Snapshots.read(spark, table).count() ==
      nation.where(col("n_regionkey") === 2).count())

    // vacuum drops v1/v2 data but the head version stays intact
    val deleted = Snapshots.vacuum(table, retain = 1, graceMs = 0L)
    assert(deleted == 2, s"expected 2 retired data dirs, got $deleted")
    assert(Snapshots.read(spark, table).count() ==
      nation.where(col("n_regionkey") === 2).count())
  }

  test("vacuum vs readers: retained versions survive, vacuumed ones fail fast") {
    import graft.sources.Snapshots
    val table = s"$tmp/snap_vacuum"
    val root = new java.io.File(table)
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm); f.delete(); ()
    }
    if (root.exists()) rm(root)

    val nation = Tables.load(spark, sfDir, "nation")
    (0 to 3).foreach(k =>
      Snapshots.commitAppend(nation.where(col("n_regionkey") === k), table))

    // resolve v3 BEFORE vacuuming with retain = 2 (keeps v3, v4)
    val v3 = Snapshots.readVersion(spark, table, 3)
    Snapshots.vacuum(table, retain = 2, graceMs = 0L)
    // the retained version reads intact — both the pre-resolved frame
    // and a fresh resolution
    val exp3 = nation.where(col("n_regionkey").isin(0, 1, 2)).count()
    assert(v3.count() == exp3)
    assert(Snapshots.readVersion(spark, table, 3).count() == exp3)
    // a version below retention fails CLEANLY at manifest resolution
    // (never a dangling-file read)
    val err = intercept[IllegalArgumentException] {
      Snapshots.readVersion(spark, table, 1)
    }
    assert(err.getMessage.contains("no snapshot"), err.getMessage)

    // ingest provenance outlives vacuum: commit a tagged batch, vacuum
    // its manifest away, and the replay must still no-op via tombstones
    val batch = nation.where(col("n_regionkey") === 4)
    Snapshots.ingestBatch(batch, table, "s9", 7L)
    (0 to 2).foreach(k =>
      Snapshots.commitAppend(nation.where(col("n_regionkey") === k), table))
    Snapshots.vacuum(table, retain = 1, graceMs = 0L) // the tagged manifest is retired
    val head = Snapshots.currentVersion(table)
    val rows = Snapshots.read(spark, table).count()
    assert(Snapshots.ingestBatch(batch, table, "s9", 7L) == head,
      "replay of a vacuumed batch must no-op via the tombstone file")
    assert(Snapshots.currentVersion(table) == head)
    assert(Snapshots.read(spark, table).count() == rows)
  }

  test("versioned DML: update/delete commit new versions, old versions intact") {
    import graft.sources.Snapshots
    val table = s"${Roots.scratch}/sources-spec/dml_tbl"
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm); f.delete(); ()
    }
    rm(new java.io.File(table))
    val nation = Tables.load(spark, sfDir, "nation")
    Snapshots.commitOverwrite(nation, table) // v1
    val v2 = Snapshots.updateWhere(spark, table,
      col("n_regionkey") === 0, "n_name", lit("REDACTED"))
    assert(v2 == 2)
    val cur = Snapshots.read(spark, table)
    assert(cur.where(col("n_regionkey") === 0 && col("n_name") =!= "REDACTED").count() == 0)
    assert(cur.where(col("n_regionkey") =!= 0 && col("n_name") === "REDACTED").count() == 0)
    val v3 = Snapshots.deleteWhere(spark, table, col("n_regionkey") === 1)
    assert(v3 == 3)
    assert(Snapshots.read(spark, table).where(col("n_regionkey") === 1).count() == 0)
    // time travel reaches every pre-DML state
    assert(Snapshots.readVersion(spark, table, 1).where(col("n_name") === "REDACTED").count() == 0)
    assert(Snapshots.readVersion(spark, table, 2).where(col("n_regionkey") === 1).count() ==
      nation.where(col("n_regionkey") === 1).count())
    assert(Snapshots.readVersion(spark, table, 1).count() == nation.count())
  }

  test("selective DML rewrites only the touched dirs, untouched carry by reference") {
    import graft.sources.Snapshots
    val table = s"${Roots.scratch}/sources-spec/seldml_tbl"
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm); f.delete(); ()
    }
    rm(new java.io.File(table))
    val li = Tables.load(spark, sfDir, "lineitem")
      .select("l_orderkey", "l_quantity", "l_returnflag")
    // three appended dirs with DISJOINT key ranges → parquet stats
    // discriminate which dir a point predicate can touch
    Snapshots.commitOverwrite(li.where(col("l_orderkey") < 500), table)
    Snapshots.commitAppend(li.where(col("l_orderkey").between(500, 999)), table)
    Snapshots.commitAppend(li.where(col("l_orderkey") >= 1000), table)
    val dirsBefore = Snapshots.versionDirs(table, Snapshots.currentVersion(table))

    // point delete inside the middle dir's range only
    val v = Snapshots.deleteWhere(spark, table, col("l_orderkey") === 750)
    val dirsAfter = Snapshots.versionDirs(table, v)
    val kept = dirsBefore.toSet & dirsAfter.toSet
    assert(kept.size == 2,
      s"exactly the two untouched dirs must carry by reference: $kept")
    val got = Snapshots.read(spark, table)
    assert(got.where(col("l_orderkey") === 750).count() == 0)
    assert(got.count() == li.where(col("l_orderkey") =!= 750).count())

    // predicate matching nothing: no new version at all
    val v2 = Snapshots.deleteWhere(spark, table, col("l_orderkey") === -1)
    assert(v2 == v, "no-match DML must not commit")

    // selective update, same file-level behavior
    val dirsB2 = Snapshots.versionDirs(table, v)
    val v3 = Snapshots.updateWhere(spark, table,
      col("l_orderkey") === 1200, "l_returnflag", lit("X"))
    assert((dirsB2.toSet & Snapshots.versionDirs(table, v3).toSet).size == 2)
    assert(Snapshots.read(spark, table)
      .where(col("l_returnflag") === "X").count() ==
      li.where(col("l_orderkey") === 1200).count())
    // time travel still reaches the pre-DML states
    assert(Snapshots.readVersion(spark, table, 3)
      .where(col("l_orderkey") === 750).count() > 0)
  }

  test("manifest diff scans only changed dirs and nets out rewrite churn") {
    import graft.sources.Snapshots
    val t = s"${Roots.scratch}/sources-spec/diff_tbl"
    Snapshots.deleteRecursively(t)
    val li = Tables.load(spark, sfDir, "lineitem")
      .select("l_orderkey", "l_quantity", "l_returnflag")
    val v1 = Snapshots.commitOverwrite(li.where(col("l_orderkey") < 1000), t)
    val v2 = Snapshots.commitAppend(li.where(col("l_orderkey") >= 1000), t)
    // append-only step: the diff is exactly the appended rows...
    val d12 = Snapshots.diff(spark, t, v1, v2)
    assert(d12.where(col("chg") =!= "insert").count() == 0)
    assert(d12.count() == li.where(col("l_orderkey") >= 1000).count())
    // ...and the shared dir cancels WITHOUT being read: after empty-
    // relation propagation the only parquet scan left is the appended
    // dir
    val shared = Snapshots.versionDirs(t, v1).head
    val plan = physicalPlan(d12)
    assert(!plan.contains(shared),
      s"shared dir must cancel without a read:\n$plan")
    // a rewrite step (selective point delete) nets out the carried
    // survivors: the diff is exactly the deleted rows
    val v3 = Snapshots.deleteWhere(spark, t, col("l_orderkey") === 750)
    val d23 = Snapshots.diff(spark, t, v2, v3).collect()
    assert(d23.nonEmpty && d23.forall(_.getString(3) == "delete"))
    assert(d23.length == li.where(col("l_orderkey") === 750).count())
    // identity diff is empty
    assert(Snapshots.diff(spark, t, v3, v3).count() == 0)
  }

  test("selective DML existence probe is one job, not one per dir") {
    import graft.sources.Snapshots
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm); f.delete(); ()
    }
    val li = Tables.load(spark, sfDir, "lineitem").select("l_orderkey", "l_quantity")

    // build a table of `nDirs` disjoint-range dirs, run a 1-dir point
    // delete, return the Spark job count the DML needed; then a delete
    // matching no row, which must commit nothing and leave no staged dir
    def jobsForDirCount(nDirs: Int): Int = {
      val table = s"${Roots.scratch}/sources-spec/seldml_jobs_$nDirs"
      rm(new java.io.File(table))
      Snapshots.commitOverwrite(li.where(col("l_orderkey") % nDirs === 0), table)
      (1 until nDirs).foreach(i =>
        Snapshots.commitAppend(li.where(col("l_orderkey") % nDirs === i), table))
      val head = Snapshots.currentVersion(table)
      assert(Snapshots.versionDirs(table, head).size == nDirs)
      var v = 0
      val jobs = jobsDuring {
        v = Snapshots.deleteWhere(spark, table, col("l_orderkey") === 17)
      }
      assert(v == head + 1)
      assert(Snapshots.read(spark, table).where(col("l_orderkey") === 17).count() == 0)
      def staged() = Seq("data", "cdc").map(d =>
        Option(new java.io.File(s"$table/$d").list()).map(_.length).getOrElse(0))
      val before = staged()
      assert(Snapshots.deleteWhere(spark, table, col("l_orderkey") === -1L) == v)
      assert(Snapshots.currentVersion(table) == v, s"$nDirs dirs: a no-match delete committed")
      assert(staged() == before, s"$nDirs dirs: a no-match delete left staged dirs")
      jobs
    }

    // a one-dir head is its own touched set: one split write, no probe
    val jobs1 = jobsForDirCount(1)
    assert(jobs1 <= 2, s"a delete on a one-dir head ran $jobs1 jobs")
    // more dirs: one probe, then one split write of the touched dir
    val jobs3 = jobsForDirCount(3)
    assert(jobs3 <= 4, s"a point delete on a three-dir head ran $jobs3 jobs")
    // the O(1) claim itself: doubling the dir count must not grow the
    // job count (pre-fix, the serial per-dir probe made this linear —
    // 8 vs 16 probe jobs; thousands at a 100 TB manifest)
    val jobs8 = jobsForDirCount(8)
    val jobs16 = jobsForDirCount(16)
    assert(jobs16 <= jobs8,
      s"selective-DML job count must be O(1) in dir count: $jobs8 jobs at 8 dirs, $jobs16 at 16")
  }

  test("materialized view: delta refresh equals recompute, idempotent, rewrite-safe") {
    import graft.sources.{MaterializedView, Snapshots}
    val root = s"${Roots.scratch}/sources-spec/mv_test"
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm); f.delete(); ()
    }
    rm(new java.io.File(root))
    val base = s"$root/base"; val mv = s"$root/mv"
    val keys = Seq("l_returnflag"); val sums = Seq("l_quantity")
    val li = Tables.load(spark, sfDir, "lineitem")
      .select("l_orderkey", "l_returnflag", "l_quantity")

    def mvRows() = Snapshots.read(spark, mv)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getDecimal(2).doubleValue())).toMap
    def recompute(df: org.apache.spark.sql.DataFrame) = df
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("cnt"),
        sum(col("l_quantity").cast("decimal(18,2)")).as("s"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getDecimal(2).doubleValue())).toMap

    Snapshots.commitOverwrite(li.where(col("l_orderkey") % 3 === 0), base)
    val v1 = MaterializedView.refresh(spark, base, mv, keys, sums)
    assert(mvRows() == recompute(li.where(col("l_orderkey") % 3 === 0)))
    // refresh with nothing new: same MV version back
    assert(MaterializedView.refresh(spark, base, mv, keys, sums) == v1)

    // two appends fold incrementally (only the delta dirs are read)
    Snapshots.commitAppend(li.where(col("l_orderkey") % 3 === 1), base)
    Snapshots.commitAppend(li.where(col("l_orderkey") % 3 === 2), base)
    val v2 = MaterializedView.refresh(spark, base, mv, keys, sums)
    assert(v2 > v1)
    assert(mvRows() == recompute(li), "incremental fold must equal a full recompute")
    assert(MaterializedView.refreshedThrough(mv) == Snapshots.currentVersion(base))

    // history rewritten under the watermark (overwrite): a count/sum
    // MV folds the row-level CHANGE FEED — reading only the dirs that
    // entered/left the manifest — instead of re-scanning the base
    Snapshots.commitOverwrite(li.where(col("l_orderkey") % 2 === 0), base)
    MaterializedView.refresh(spark, base, mv, keys, sums)
    assert(MaterializedView.lastRefreshModeOf(mv) == "cdc-fold",
      MaterializedView.lastRefreshModeOf(mv))
    assert(mvRows() == recompute(li.where(col("l_orderkey") % 2 === 0)),
      "rewrite under the watermark must fold to the exact recompute")

    // selective DML under the watermark: same fold, still exact
    Snapshots.deleteWhere(spark, base, col("l_orderkey") % 100 === 0)
    MaterializedView.refresh(spark, base, mv, keys, sums)
    assert(MaterializedView.lastRefreshModeOf(mv) == "cdc-fold")
    assert(mvRows() == recompute(
      li.where(col("l_orderkey") % 2 === 0 && col("l_orderkey") % 100 =!= 0)))

    // min/max MVs are not deletion-invertible: a rewritten history
    // falls back to the full recompute path
    val mvMm = s"$root/mv_minmax"
    MaterializedView.refresh(spark, base, mvMm, keys, sums,
      mins = Seq("l_quantity"), maxs = Nil)
    Snapshots.commitOverwrite(li.where(col("l_orderkey") % 2 === 1), base)
    MaterializedView.refresh(spark, base, mvMm, keys, sums,
      mins = Seq("l_quantity"), maxs = Nil)
    assert(MaterializedView.lastRefreshModeOf(mvMm) == "recompute",
      MaterializedView.lastRefreshModeOf(mvMm))
  }

  test("selective DML probes through PARTITIONED data dirs") {
    import graft.sources.{Snapshots, Sources}
    val table = s"${Roots.scratch}/sources-spec/seldml_part"
    Snapshots.deleteRecursively(table)
    val o = Tables.load(spark, sfDir, "orders")
      .select("o_orderkey", "o_custkey")
      .withColumn("p", col("o_orderkey") % 4)
    // a manifest dir with k=v partition subdirs — the layout
    // ingestBatchStaged/ensureIndex stage for served indexes; a one-dir
    // head is its own touched set, and the split must read it THROUGH
    // the partition level (Spark cannot scan several partitioned roots
    // at once, so a multi-dir head of this layout is not probed)
    val dir = Snapshots.stageDir(table)
    Sources.writePartitioned(o, dir, "p")
    Snapshots.commitTransform(table)(_ => Seq(dir))
    val before = Snapshots.read(spark, table).count()
    val v = Snapshots.deleteWhere(spark, table, col("o_orderkey") === 42)
    assert(v > 1, "the delete must fire, not silently no-op")
    assert(Snapshots.read(spark, table).where(col("o_orderkey") === 42).count() == 0)
    assert(Snapshots.read(spark, table).count() ==
      before - o.where(col("o_orderkey") === 42).count())
  }

  test("keyed merge: touched dirs rewrite, others carry by reference, replays no-op") {
    import graft.sources.Snapshots
    val table = s"${Roots.scratch}/sources-spec/merge_tbl"
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm); f.delete(); ()
    }
    rm(new java.io.File(table))
    val o = Tables.load(spark, sfDir, "orders")
      .select("o_orderkey", "o_custkey", "o_totalprice")
    Snapshots.commitOverwrite(o.where(col("o_orderkey") < 1000), table)
    Snapshots.commitAppend(o.where(col("o_orderkey").between(1000, 1999)), table)
    Snapshots.commitAppend(o.where(col("o_orderkey") >= 2000), table)
    val before = Snapshots.versionDirs(table, Snapshots.currentVersion(table))
    val preMergeV = Snapshots.currentVersion(table)

    // one CDC batch: updates inside the middle dir's key range plus a
    // brand-new key
    val updates = o.where(col("o_orderkey").between(1200, 1400))
      .withColumn("o_totalprice", col("o_totalprice") + 1)
    val insert = o.where(col("o_orderkey") === 1200)
      .withColumn("o_orderkey", lit(999999999L))
    val changes = updates.unionByName(insert).localCheckpoint()
    val v = Snapshots.merge(spark, table, changes, "o_orderkey")

    // file-level: exactly the two key-disjoint dirs carry by reference
    val after = Snapshots.versionDirs(table, v)
    assert((before.toSet & after.toSet).size == 2,
      "merge must rewrite only the dirs holding matched keys")

    // semantics: updates replaced, insert present, untouched intact
    val got = Snapshots.read(spark, table)
    assert(got.count() == o.count() + 1)
    assert(got.where(col("o_orderkey") === 999999999L).count() == 1)
    val gotUpd = got.where(col("o_orderkey").between(1200, 1400))
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    val wantUpd = updates.collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(gotUpd == wantUpd, "matched keys must carry the source rows")
    val untouched = got.where(col("o_orderkey") < 1000)
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(untouched == o.where(col("o_orderkey") < 1000)
      .collect().map(_.getLong(0)).sorted.toSeq)
    // time travel still reaches the pre-merge state
    assert(Snapshots.readVersion(spark, table, preMergeV).count() == o.count())

    // exactly-once CDC apply: a replayed batch returns its own version
    // and changes nothing
    val batch2 = o.where(col("o_orderkey").between(100, 200))
      .withColumn("o_totalprice", col("o_totalprice") * 3).localCheckpoint()
    val vb = Snapshots.mergeBatch(batch2, table, "o_orderkey", "cdc_s1", 7L)
    val countAfter = Snapshots.read(spark, table).count()
    val vb2 = Snapshots.mergeBatch(batch2, table, "o_orderkey", "cdc_s1", 7L)
    assert(vb2 == vb, "replayed merge batch must resolve to its own commit")
    assert(Snapshots.currentVersion(table) == vb, "replay must not advance the table")
    assert(Snapshots.read(spark, table).count() == countAfter)

    // CHANGE FEED of the merge batch: inserts are exactly the source
    // rows, deletes are exactly the replaced old versions — and a
    // rewritten dir's re-carried unchanged rows cancel out
    val (ins, del) = Snapshots.changesBetween(spark, table, v, vb)
    def keyed(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getDouble(2))).toSet
    assert(keyed(ins) == keyed(batch2),
      "change-feed inserts must be the merge source rows")
    assert(keyed(del) == keyed(
      Snapshots.readVersion(spark, table, v)
        .where(col("o_orderkey").between(100, 200))),
      "change-feed deletes must be the replaced old rows")
    // version-adjacent no-op: identical manifests yield an empty feed
    val (ins2, del2) = Snapshots.changesBetween(spark, table, vb, vb)
    assert(ins2.isEmpty && del2.isEmpty)
  }

  test("racing MV refreshes never double-count a delta") {
    import graft.sources.{MaterializedView, Snapshots}
    val root = s"${Roots.scratch}/sources-spec/mv_race"
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm); f.delete(); ()
    }
    rm(new java.io.File(root))
    val base = s"$root/base"; val mv = s"$root/mv"
    val keys = Seq("l_returnflag"); val sums = Seq("l_quantity")
    val li = Tables.load(spark, sfDir, "lineitem")
      .select("l_orderkey", "l_returnflag", "l_quantity")

    Snapshots.commitOverwrite(li.where(col("l_orderkey") % 2 === 0), base)
    MaterializedView.refresh(spark, base, mv, keys, sums)
    Snapshots.commitAppend(li.where(col("l_orderkey") % 2 === 1), base)

    // two refreshes race to fold the same delta: the head CAS must
    // serialize them — the loser re-reads the winner's MV (already
    // folded) and no-ops on the watermark, never stacking the delta a
    // second time on top of the winner's already-folded content
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val racers = (1 to 2).map(_ => Future {
      MaterializedView.refresh(spark, base, mv, keys, sums)
    })
    racers.foreach(f => Await.result(f, 120.seconds))

    val got = Snapshots.read(spark, mv)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getDecimal(2).doubleValue())).toMap
    val want = li.groupBy("l_returnflag")
      .agg(count(lit(1)).as("cnt"),
        sum(col("l_quantity").cast("decimal(18,2)")).as("s"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getDecimal(2).doubleValue())).toMap
    assert(got == want, "racing refreshes must not double-count the delta")
    assert(MaterializedView.refreshedThrough(mv) == Snapshots.currentVersion(base))
  }

  test("racing compactors never duplicate delta rows") {
    import graft.sources.Snapshots
    val table = s"$tmp/snap_compact_race"
    val root = new java.io.File(table)
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm); f.delete(); ()
    }
    if (root.exists()) rm(root)

    val li = Tables.load(spark, sfDir, "lineitem")
      .select("l_orderkey", "l_partkey", "l_quantity")
    val zc = Seq("l_orderkey", "l_partkey")
    val expected = li.count()

    // two compactors race for real: whatever interleaving occurs, the
    // snapshot must hold every row exactly once
    Snapshots.commitClustered(li.where(col("l_orderkey") % 4 === 0), table, zc, files = 2)
    (1 to 3).foreach(k =>
      Snapshots.commitAppend(li.where(col("l_orderkey") % 4 === k), table))
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    val barrier = new java.util.concurrent.CyclicBarrier(2)
    val racers = (0 until 2).map { _ =>
      Future { barrier.await(); Snapshots.compact(spark, table, zc, files = 2) }
    }
    Await.result(Future.sequence(racers), scala.concurrent.duration.Duration("120s"))
    assert(Snapshots.read(spark, table).count() == expected,
      "racing compactors duplicated or lost delta rows")
  }

  test("optimistic concurrency: racing appenders never lose a commit") {
    import graft.sources.Snapshots
    val table = s"$tmp/snap_race"
    val root = new java.io.File(table)
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm); f.delete(); ()
    }
    if (root.exists()) rm(root)

    // five committers, one per region, all racing to append. rename(2)
    // would silently let a later manifest clobber an earlier one (a
    // lost update — the failure the reference's LockManager serializes
    // away, concurrency/LockManager.java:30); the create-exclusive
    // claim + retry must instead serialize them optimistically.
    val nation = Tables.load(spark, sfDir, "nation")
    nation.count() // warm the session before threads race
    val barrier = new java.util.concurrent.CyclicBarrier(5)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    val commits = (0 until 5).map { k =>
      Future {
        barrier.await()
        Snapshots.commitAppend(nation.where(col("n_regionkey") === k), table)
      }
    }
    val versions = Await.result(Future.sequence(commits),
      scala.concurrent.duration.Duration("120s"))

    // every committer claimed a DISTINCT version 1..5 …
    assert(versions.sorted == (1 to 5), s"claimed versions: $versions")
    assert(Snapshots.currentVersion(table) == 5)
    // … and the final snapshot holds every append — nothing clobbered
    assert(Snapshots.read(spark, table).count() == nation.count())
    // each intermediate version is a strict superset of its parent
    val sizes = (1 to 5).map(v => Snapshots.readVersion(spark, table, v).count())
    assert(sizes == sizes.sorted && sizes.distinct == sizes,
      s"version row counts not strictly increasing: $sizes")
  }

  test("clustered table: deltas append cheaply, compaction restores pruning, time travel intact") {
    import graft.sources.Snapshots
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.execution.FileSourceScanExec
    val table = s"$tmp/clustered_li"
    val root = new java.io.File(table)
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm); f.delete(); ()
    }
    if (root.exists()) rm(root)

    val li = Tables.load(spark, sfDir, "lineitem")
      .select("l_orderkey", "l_partkey", "l_suppkey", "l_quantity")
    val zc = Seq("l_partkey", "l_suppkey")
    val base = li.where(pmod(col("l_orderkey"), lit(5)) =!= 0)
    val d1 = li.where(pmod(col("l_orderkey"), lit(5)) === 0 &&
      pmod(col("l_orderkey"), lit(2)) === 0)
    val d2 = li.where(pmod(col("l_orderkey"), lit(5)) === 0 &&
      pmod(col("l_orderkey"), lit(2)) === 1)

    assert(Snapshots.commitClustered(base, table, zc) == 1)
    assert(Snapshots.commitAppend(d1, table) == 2)
    assert(Snapshots.commitAppend(d2, table) == 3)
    // appends are visible immediately (merge-on-read, unclustered)
    assert(Snapshots.read(spark, table).count() == li.count())

    assert(Snapshots.compact(spark, table, zc) == 4)
    assert(Snapshots.read(spark, table).count() == li.count(), "compaction lost rows")
    // compacting again with no new deltas is a no-op
    assert(Snapshots.compact(spark, table, zc) == 4)

    // post-compaction reads prune on BOTH clustered columns again
    val total = li.count()
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      def rowsScanned(df: DataFrame): Long = {
        df.collect()
        df.queryExecution.executedPlan.collect {
          case s: FileSourceScanExec => s.metrics("numOutputRows").value
        }.sum
      }
      val ct = Snapshots.read(spark, table)
      val pkMax = li.agg(max(col("l_partkey"))).head().getLong(0)
      val skMax = li.agg(max(col("l_suppkey"))).head().getLong(0)
      val a = rowsScanned(ct.where(col("l_partkey") <= pkMax / 8))
      val b = rowsScanned(ct.where(col("l_suppkey") <= skMax / 8))
      assert(a < total * 2 / 3, s"primary pruning after compact: scanned $a of $total")
      assert(b < total * 2 / 3, s"secondary pruning after compact: scanned $b of $total")
      // layout never changes semantics
      assert(ct.where(col("l_suppkey") <= skMax / 8).count() ==
        li.where(col("l_suppkey") <= skMax / 8).count())
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")

    // time travel: pre-compaction versions read their exact content
    assert(Snapshots.readVersion(spark, table, 1).count() == base.count())
    assert(Snapshots.readVersion(spark, table, 3).count() == li.count())

    // major compaction: more deltas accumulate, then EVERYTHING merges
    // into one globally clustered run
    assert(Snapshots.commitAppend(d1.limit(100), table) == 5)
    assert(Snapshots.compactFull(spark, table, zc) == 6)
    assert(Snapshots.read(spark, table).count() == li.count() + 100)
    assert(new java.io.File(s"$table/data").listFiles().count(d =>
      Snapshots.versionDirs(table, 6).contains(d.toString)) == 1,
      "major compaction must leave exactly one data dir")
  }

  test("hilbert-clustered layout prunes row groups on BOTH columns") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.execution.FileSourceScanExec
    val li = Tables.load(spark, sfDir, "lineitem")
      .select("l_orderkey", "l_partkey", "l_suppkey", "l_quantity")
    val path = s"$tmp/li_hilbert"
    Sources.writeHilbertClustered(li, path, "l_partkey", "l_suppkey")
    val total = li.count()
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      def rowsScanned(df: DataFrame): Long = {
        df.collect()
        df.queryExecution.executedPlan.collect {
          case s: FileSourceScanExec => s.metrics("numOutputRows").value
        }.sum
      }
      val hli = spark.read.parquet(path)
      for (c <- Seq("l_partkey", "l_suppkey")) {
        val hi = li.agg(max(col(c))).head().getLong(0)
        val scanned = rowsScanned(hli.where(col(c) <= hi / 8))
        assert(scanned < total / 2, s"$c: scanned $scanned of $total")
      }
      // layout never changes semantics
      val skMax = li.agg(max(col("l_suppkey"))).head().getLong(0)
      assert(hli.where(col("l_suppkey") <= skMax / 8).count() ==
        li.where(col("l_suppkey") <= skMax / 8).count())
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("3-column z-order prunes on every clustered column") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.execution.FileSourceScanExec
    val li = Tables.load(spark, sfDir, "lineitem")
      .select("l_orderkey", "l_partkey", "l_suppkey", "l_quantity")
    val path = s"$tmp/li_zorder3"
    Sources.writeZOrderedN(li, path, Seq("l_partkey", "l_suppkey", "l_orderkey"))
    val total = li.count()
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      def rowsScanned(df: DataFrame): Long = {
        df.collect()
        df.queryExecution.executedPlan.collect {
          case s: FileSourceScanExec => s.metrics("numOutputRows").value
        }.sum
      }
      val zli = spark.read.parquet(path)
      for (c <- Seq("l_partkey", "l_suppkey", "l_orderkey")) {
        val hi = li.agg(max(col(c))).head().getLong(0)
        val scanned = rowsScanned(zli.where(col(c) <= hi / 8))
        assert(scanned < total * 3 / 4, s"$c: scanned $scanned of $total")
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("bucketed tables join with no exchange (pre-shuffled by key)") {
    spark.conf.set("spark.sql.sources.bucketing.enabled", "true")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    Sources.writeBucketed(
      Tables.load(spark, sfDir, "lineitem"), "li_b", "l_orderkey", 8)
    Sources.writeBucketed(
      Tables.load(spark, sfDir, "orders").withColumnRenamed("o_orderkey", "l_orderkey"),
      "or_b", "l_orderkey", 8)
    try {
      val joined = spark.table("li_b").join(spark.table("or_b"), Seq("l_orderkey"))
        .groupBy("o_orderstatus").agg(count(lit(1)).as("n"))
      val plan = physicalPlan(joined)
      assert(!plan.contains("Exchange hashpartitioning(l_orderkey"),
        s"bucketed join should not reshuffle by key:\n$plan")
      // values match the plain-parquet join
      val exp = Tables.load(spark, sfDir, "lineitem")
        .join(Tables.load(spark, sfDir, "orders"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderstatus").agg(count(lit(1)).as("n"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val got = joined.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(got == exp)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
      spark.sql("DROP TABLE IF EXISTS li_b")
      spark.sql("DROP TABLE IF EXISTS or_b")
    }
  }

  test("bloom skipping index: point lookup reads only may-contain files, maintained incrementally") {
    import spark.implicits._
    import graft.sources.Snapshots
    val t = s"$tmp/bloom_pl"
    Snapshots.deleteRecursively(t)
    // four appended batches with disjoint key ranges -> >= 4 files
    (0 until 4).foreach { b =>
      Snapshots.commitAppend(
        spark.range(b * 1000, (b + 1) * 1000).toDF("k")
          .repartition(2).withColumn("v", col("k") * 2), t)
    }
    val total = spark.read.parquet(Snapshots.versionDirs(t, 4): _*).inputFiles.length
    assert(total >= 4)
    val hit = Snapshots.pointLookup(spark, t, "k", 2500L)
    assert(hit.collect().map(r => (r.getLong(0), r.getLong(1))).toList == List((2500L, 5000L)))
    // the lookup's scan is restricted to may-contain files: with
    // disjoint ranges and a ~0.1% fp rate that is far fewer than all
    val scanned = hit.inputFiles.length
    assert(scanned < total, s"expected skipping: $scanned of $total files")
    // no false negatives anywhere: every key finds its row
    Seq(0L, 999L, 1000L, 3999L).foreach { k =>
      assert(Snapshots.pointLookup(spark, t, "k", k).count() == 1L, s"key $k")
    }
    // a missing key returns empty (usually zero files read)
    assert(Snapshots.pointLookup(spark, t, "k", 99999L).count() == 0L)
    // incremental maintenance: appending one batch reuses prior file
    // blooms — the rebuild only scans the new files
    val idxV1 = Snapshots.currentVersion(s"$t/_bloomidx_k")
    Snapshots.commitAppend(
      spark.range(4000, 4100).toDF("k").withColumn("v", col("k") * 2), t)
    val before = Snapshots.readVersion(spark, s"$t/_bloomidx_k", idxV1)
      .collect().map(r => r.getString(0) -> r.getAs[Array[Byte]]("bloom").toSeq).toMap
    // the reuse path keys on file-id string equality between the index
    // rows (input_file_name) and the table listing (inputFiles): if the
    // two URI forms ever diverged, "incremental" would silently degrade
    // to a deterministic full rebuild — pin the format agreement here
    val listed = spark.read.parquet(Snapshots.versionDirs(t, 4): _*).inputFiles.toSet
    assert(before.keySet.subsetOf(listed),
      s"index file ids must match inputFiles form, e.g. ${before.keySet.head} vs ${listed.head}")
    assert(Snapshots.pointLookup(spark, t, "k", 4050L).count() == 1L)
    val after = Snapshots.read(spark, s"$t/_bloomidx_k")
      .collect().map(r => r.getString(0) -> r.getAs[Array[Byte]]("bloom").toSeq).toMap
    assert(before.keySet.subsetOf(after.keySet) && after.size > before.size,
      "new index version keeps prior files and adds the new batch's")
    before.foreach { case (f, bl) =>
      assert(after(f) == bl, s"reused bloom for $f must be byte-identical")
    }
  }

  test("racing evolving appenders compose: both columns land, both rows survive") {
    import spark.implicits._
    import graft.sources.Snapshots
    val t = s"$tmp/schema_race"
    Snapshots.deleteRecursively(t)
    Snapshots.commitAppend(Seq((1L, "a")).toDF("id", "v"), t)
    // two appenders race, each evolving a DIFFERENT new column: the
    // claim loser must recompute its merged schema against the
    // winner's committed one, so the final schema carries BOTH
    val ts = Seq("x", "y").map { c =>
      new Thread(() => {
        Snapshots.commitAppendEvolved(
          Seq((if (c == "x") 2L else 3L, 9.9)).toDF("id", c), t)
      })
    }
    ts.foreach(_.start()); ts.foreach(_.join())
    val r = Snapshots.read(spark, t)
    assert(r.schema.fieldNames.toSet == Set("id", "v", "x", "y"),
      s"union of both racers' schemas: ${r.schema.fieldNames.toSeq}")
    assert(r.count() == 3)
    assert(r.where(col("x").isNotNull).count() == 1)
    assert(r.where(col("y").isNotNull).count() == 1)
  }

  test("schema evolution: add column without rewrite, drop metadata-only, time travel intact") {
    import spark.implicits._
    import graft.sources.Snapshots
    val t = s"$tmp/schema_evo"
    Snapshots.deleteRecursively(t)
    // v1: two columns
    val v1 = Snapshots.commitAppend(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), t)
    // v2: a later batch carries a NEW column — evolved append, no rewrite
    val v2 = Snapshots.commitAppendEvolved(
      Seq((3L, "c", 30.0)).toDF("id", "v", "score"), t)
    val r2 = Snapshots.readVersion(spark, t, v2)
    assert(r2.schema.fieldNames.toSeq == Seq("id", "v", "score"),
      "union schema: existing columns first, then the evolved one")
    val rows = r2.orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1), Option(r.get(2)))).toList
    assert(rows == List((1L, "a", None), (2L, "b", None), (3L, "c", Some(30.0))),
      s"pre-evolution files serve null for the new column: $rows")
    // time travel: v1 still reads with its original 2-column schema
    assert(Snapshots.readVersion(spark, t, v1).schema.fieldNames.toSeq == Seq("id", "v"))
    // a same-name column changing type is rejected (Delta mergeSchema contract)
    intercept[IllegalArgumentException] {
      Snapshots.commitAppendEvolved(Seq((4L, 99)).toDF("id", "v"), t)
    }
    // v3: DROP COLUMN as a metadata-only commit — same data dirs, narrower schema
    val dropped = org.apache.spark.sql.types.StructType(
      r2.schema.fields.filterNot(_.name == "v"))
    val before = Snapshots.versionDirs(t, v2)
    val v3 = Snapshots.commitSchema(t, dropped)
    assert(Snapshots.versionDirs(t, v3) == before, "drop rewrites no data")
    val r3 = Snapshots.readVersion(spark, t, v3)
    assert(r3.schema.fieldNames.toSeq == Seq("id", "score"))
    assert(r3.count() == 3)
    // and a further plain evolved append on top of the drop still composes
    val v4 = Snapshots.commitAppendEvolved(Seq((5L, 50.0)).toDF("id", "score"), t)
    assert(Snapshots.readVersion(spark, t, v4).schema.fieldNames.toSeq == Seq("id", "score"))
    assert(Snapshots.read(spark, t).count() == 4)
    // a PLAIN (non-evolved) append inherits the committed schema —
    // no silent reversion to footer-inferred reads on later commits
    val v5 = Snapshots.commitAppend(Seq((6L, 60.0)).toDF("id", "score"), t)
    val r5 = Snapshots.readVersion(spark, t, v5)
    assert(r5.schema.fieldNames.toSeq == Seq("id", "score"),
      "plain append must carry the committed schema forward")
    assert(r5.count() == 5)
    // the dropped name can never be re-added over files that still
    // physically hold its old bytes (stale-value resurrection)
    intercept[IllegalArgumentException] {
      Snapshots.commitAppendEvolved(Seq((7L, "zombie")).toDF("id", "v"), t)
    }
    intercept[IllegalArgumentException] {
      Snapshots.commitSchema(t, org.apache.spark.sql.types.StructType(
        r5.schema.fields :+ org.apache.spark.sql.types.StructField(
          "v", org.apache.spark.sql.types.StringType)))
    }
    // selective DML predicated on the EVOLVED-IN column: files
    // predating the evolution lack it physically — the probe and the
    // per-dir rewrite must resolve it through the committed schema
    // (raw footer-sampled reads would crash or skip nondeterministically)
    Snapshots.deleteWhere(spark, t, col("score") > 55.0)
    val r6 = Snapshots.read(spark, t)
    assert(r6.schema.fieldNames.toSeq == Seq("id", "score"),
      "DML commit keeps the committed schema")
    assert(r6.count() == 4 && r6.where(col("id") === 6L).count() == 0,
      "only the evolved-column match is deleted")
  }

  test("join view: delta-join cost path, bag multiplicity, compaction debt bounded") {
    import graft.sources.{MaterializedView, Snapshots}
    import spark.implicits._
    val root = s"$tmp/mvjoin_unit"
    Snapshots.deleteRecursively(root)
    val (lT, rT, vT) = (s"$root/l", s"$root/r", s"$root/v")
    // right side has a DUPLICATE row for k=2 — the view is a bag
    Snapshots.commitOverwrite(Seq((1L, "a"), (2L, "b"), (3L, "c"))
      .toDF("k", "lv"), lT)
    Snapshots.commitOverwrite(Seq((1L, 10L), (2L, 20L), (2L, 20L), (4L, 40L))
      .toDF("k", "rv"), rT)
    MaterializedView.joinRefresh(spark, lT, rT, vT, "k")
    assert(MaterializedView.lastRefreshModeOf(vT) == "bootstrap")
    def served(): Set[(Long, String, Long, Long)] = {
      // count multiplicity by an extra aggregation
      MaterializedView.serveJoin(spark, vT)
        .groupBy("k", "lv", "rv").agg(count(lit(1)).as("m"))
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet
    }
    assert(served() == Set((1L, "a", 10L, 1L), (2L, "b", 20L, 2L)))
    // already current → noop; no version churn
    val vBefore = Snapshots.currentVersion(vT)
    MaterializedView.joinRefresh(spark, lT, rT, vT, "k")
    assert(MaterializedView.lastRefreshModeOf(vT) == "noop"
      && Snapshots.currentVersion(vT) == vBefore)
    // delete one dup copy on the right + insert matches on both sides
    Snapshots.deleteWhere(spark, rT, col("rv") === 20L) // kills BOTH copies
    Snapshots.commitAppend(Seq((4L, "d")).toDF("k", "lv"), lT)
    Snapshots.commitAppend(Seq((3L, 30L)).toDF("k", "rv"), rT)
    MaterializedView.joinRefresh(spark, lT, rT, vT, "k")
    assert(MaterializedView.lastRefreshModeOf(vT) == "delta-join",
      s"expected the delta path, got ${MaterializedView.lastRefreshModeOf(vT)}")
    assert(served() == Set((1L, "a", 10L, 1L), (3L, "c", 30L, 1L), (4L, "d", 40L, 1L)))
    // a long DML sequence stays bounded: every cycle deletes and
    // re-inserts the same right row; the size-ratio trigger must keep
    // tombstone debt under control
    for (i <- 1 to 6) {
      Snapshots.deleteWhere(spark, rT, col("k") === 1L)
      Snapshots.commitAppend(Seq((1L, 10L)).toDF("k", "rv"), rT)
      MaterializedView.joinRefresh(spark, lT, rT, vT, "k")
    }
    assert(served() == Set((1L, "a", 10L, 1L), (3L, "c", 30L, 1L), (4L, "d", 40L, 1L)),
      "serving invariant violated across maintenance cycles")
    val (baseRows, deltaRows) = Snapshots.compactionDebt(spark, vT)
    assert(deltaRows <= math.max(baseRows, 1L),
      s"compaction policy left debt unbounded: base=$baseRows delta=$deltaRows")
  }

  test("vacuum grace window spares in-flight staged dirs; zero grace reclaims them") {
    import graft.sources.Snapshots
    val table = s"$tmp/snap_grace"
    Snapshots.deleteRecursively(table)
    val nation = Tables.load(spark, sfDir, "nation")
    Snapshots.commitOverwrite(nation.where(col("n_regionkey") === 0), table)
    Snapshots.commitAppend(nation.where(col("n_regionkey") === 1), table)
    // simulate a CONCURRENT commit's staged-but-unpublished data dir:
    // present under data/, referenced by no manifest, freshly written
    val staged = new java.io.File(s"$table/data/inflight-stage-test")
    staged.mkdirs()
    java.nio.file.Files.write(staged.toPath.resolve("part-0.parquet"),
      Array[Byte](1, 2, 3))
    // default grace: the fresh dir must SURVIVE (deleting it would let
    // the in-flight commit publish a manifest over missing files)
    Snapshots.vacuum(table, retain = 1)
    assert(staged.exists(), "fresh unreferenced dir must survive the grace window")
    // aged past the grace window it is garbage and goes
    java.nio.file.Files.setLastModifiedTime(staged.toPath,
      java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis() - 7200000L))
    Snapshots.vacuum(table, retain = 1)
    assert(!staged.exists(), "aged orphan dir must be reclaimed")
    assert(Snapshots.read(spark, table).count() ==
      nation.where(col("n_regionkey").isin(0, 1)).count())
  }

  test("DELETE keeps NULL-predicate rows (SQL semantics), both whole-table and selective") {
    import graft.sources.Snapshots
    import spark.implicits._
    // one dir (its own touched set) and three dirs (probed): a NULL-cond
    // row shares its dir with a real match either way
    for ((name, nDirs) <- Seq(("del_null_w", 1), ("del_null_s", 3))) {
      val table = s"$tmp/$name"
      Snapshots.deleteRecursively(table)
      val df = Seq((1L, Some(10L)), (2L, None), (3L, Some(3L)), (4L, None))
        .toDF("k", "x")
      Snapshots.commitOverwrite(df.where(col("k") % nDirs === 0), table)
      (1 until nDirs).foreach(i =>
        Snapshots.commitAppend(df.where(col("k") % nDirs === i), table))
      assert(Snapshots.versionDirs(table, Snapshots.currentVersion(table)).size == nDirs)
      Snapshots.deleteWhere(spark, table, col("x") > 5L)
      val kept = Snapshots.read(spark, table).select("k").collect()
        .map(_.getLong(0)).toSet
      // row 1 (x=10) deleted; rows 2 and 4 (x IS NULL) KEPT — the SQL
      // DELETE contract; a bare where(!cond) would drop them too
      assert(kept == Set(2L, 3L, 4L), s"$name kept $kept")
    }
  }

  test("a widening update leaves every dir of the new version in the committed type") {
    import graft.sources.{IndexRegistry, Snapshots}
    import org.apache.spark.sql.types.LongType
    import spark.implicits._
    val t = s"$tmp/widen_update"
    Snapshots.deleteRecursively(t)
    Snapshots.commitOverwrite(Seq((1L, 1), (2L, 2)).toDF("k", "x"), t)
    Snapshots.commitAppend(Seq((3L, 3), (4L, 4)).toDF("k", "x"), t)
    // the match lives in the second dir only, but the int column turns
    // bigint in every row: no dir may keep the old type
    val (v, _) = IndexRegistry.updateWhere(spark, t, col("k") === 3L, "x", lit(10000000000L))
    assert(Snapshots.schemaOf(t, v).map(_("x").dataType).contains(LongType))
    val dirTypes = Snapshots.versionDirs(t, v).map(d => spark.read.parquet(d).schema("x").dataType)
    assert(dirTypes.forall(_ == LongType), s"dirs typed $dirTypes under a bigint schema")
    assert(Snapshots.read(spark, t).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap ==
      Map(1L -> 1L, 2L -> 2L, 3L -> 10000000000L, 4L -> 4L))
  }

  test("changesBetween on a schema-evolved history reads both sides in the committed schema") {
    import graft.sources.Snapshots
    import spark.implicits._
    val table = s"$tmp/cdc_evolved"
    Snapshots.deleteRecursively(table)
    Snapshots.commitOverwrite(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), table)
    // evolve: add a column (commits schema tags), then DML-rewrite an
    // OLD dir so changesBetween must read old-schema and new-schema
    // dirs in one subtraction
    Snapshots.commitAppendEvolved(
      Seq((3L, "c", 7L)).toDF("k", "v", "extra"), table)
    val v2 = Snapshots.currentVersion(table)
    Snapshots.deleteWhere(spark, table, col("k") === 1L)
    val v3 = Snapshots.currentVersion(table)
    val (ins, del) = Snapshots.changesBetween(spark, table, v2, v3)
    // the delete rewrote history: row k=1 left; evolved-in column
    // reads null for old rows instead of throwing a schema mismatch
    assert(del.select("k").collect().map(_.getLong(0)).toSet == Set(1L))
    assert(del.columns.toSet == Set("k", "v", "extra"))
    assert(ins.count() == 0)
  }

  test("MV refresh degrades to full recompute when the watermark version is vacuumed") {
    import graft.sources.{MaterializedView, Snapshots}
    val base = s"$tmp/mv_vac_base"
    val mv = s"$tmp/mv_vac_view"
    Seq(base, mv).foreach(Snapshots.deleteRecursively)
    val o = Tables.load(spark, sfDir, "orders")
      .select("o_custkey", "o_totalprice")
    Snapshots.commitOverwrite(o.where(col("o_custkey") % 2 === 0), base)
    MaterializedView.refresh(spark, base, mv, Seq("o_custkey"), Seq("o_totalprice"))
    // several more commits, then vacuum BELOW the MV's watermark
    Snapshots.commitAppend(o.where(col("o_custkey") % 2 === 1), base)
    Snapshots.commitAppend(o.limit(0), base)
    Snapshots.vacuum(base, retain = 1, graceMs = 0L)
    MaterializedView.refresh(spark, base, mv, Seq("o_custkey"), Seq("o_totalprice"))
    assert(MaterializedView.lastRefreshModeOf(mv) == "recompute-vacuumed",
      s"got ${MaterializedView.lastRefreshModeOf(mv)}")
    // and the recomputed view is CORRECT against a direct aggregate
    val got = Snapshots.read(spark, mv)
      .agg(sum(col("cnt"))).head().getLong(0)
    assert(got == o.count(), s"recomputed view covers $got of ${o.count()} rows")
  }

  test("gcSiblingRoots sweeps only one-segment fingerprint siblings, not extending roots") {
    import graft.sources.Snapshots
    import java.nio.file.{Files, Paths}
    val parent = s"$tmp/gc_roots"
    Snapshots.deleteRecursively(parent)
    // same input dir, superseded fingerprint -> swept; a DIFFERENT
    // input dir whose sanitized name extends this one ('data_x'
    // sanitizes to 'data_x_<fp>', which startsWith 'data_') -> kept
    val stale = s"$parent/data_oldfp11"
    val other = s"$parent/data_x_fp22"
    val fresh = s"$parent/data_newfp33"
    Seq(stale, other).foreach { d =>
      Files.createDirectories(Paths.get(d))
      Files.writeString(Paths.get(d, "marker"), "x")
    }
    Snapshots.gcSiblingRoots(fresh)
    assert(!Files.exists(Paths.get(stale)), "superseded fingerprint root must be swept")
    assert(Files.exists(Paths.get(other, "marker")),
      "a root for a different input dir must survive the sweep")
  }

  test("concurrency MV: signed-boundary refresh equals the batch report and a rebuild") {
    import graft.sources.Snapshots
    import graft.operators.Events
    val root = s"$tmp/concmv"
    Snapshots.deleteRecursively(root)
    val (baseT, mvT, refMv) = (s"$root/base", s"$root/mv", s"$root/refmv")
    val ev = Tables.load(spark, sfDir, "events")
      .select(col("user_id"), col("event_id"),
        expr("unix_micros(cast(ts as timestamp)) div 1000000").as("sec"))
    def rep(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

    Snapshots.commitOverwrite(ev.where(pmod(col("user_id"), lit(10)) =!= 0), baseT)
    Events.concurrencyRefresh(spark, baseT, mvT)
    Snapshots.commitAppend(ev.where(pmod(col("user_id"), lit(10)) === 0), baseT)
    Events.concurrencyRefresh(spark, baseT, mvT)
    // base == the full corpus here: MV serving must equal the batch query
    assert(rep(Events.concurrencyServe(spark, mvT)) ==
      rep(SparkEntry.queries("q_events_concurrency")(spark, sfDir)),
      "MV-served report diverged from the batch sweep")

    // DML: drop a user slice; the refresh folds signed boundary deltas
    Snapshots.deleteWhere(spark, baseT, pmod(col("user_id"), lit(7)) === 0)
    Events.concurrencyRefresh(spark, baseT, mvT)
    Events.concurrencyRefresh(spark, baseT, refMv) // fresh bootstrap over live base
    assert(rep(Events.concurrencyServe(spark, mvT)) ==
      rep(Events.concurrencyServe(spark, refMv)),
      "incrementally maintained MV diverged from a rebuild")

    // replay: unchanged base version leaves the watermark (no commit)
    val v = Snapshots.currentVersion(mvT)
    Events.concurrencyRefresh(spark, baseT, mvT)
    assert(Snapshots.currentVersion(mvT) == v, "replay must not commit")

    // vacuum PAST the watermark: the base moves on, retention retires
    // the version the MV folded through, and the next refresh must
    // re-bootstrap instead of reading a vacuumed manifest
    Snapshots.deleteWhere(spark, baseT, pmod(col("user_id"), lit(7)) === 1)
    Snapshots.vacuum(baseT, retain = 1, graceMs = 0)
    Snapshots.commitAppend(ev.where(pmod(col("user_id"), lit(7)) === 0), baseT)
    Events.concurrencyRefresh(spark, baseT, mvT)
    val refMv2 = s"$root/refmv2"
    Events.concurrencyRefresh(spark, baseT, refMv2)
    assert(rep(Events.concurrencyServe(spark, mvT)) ==
      rep(Events.concurrencyServe(spark, refMv2)),
      "MV refreshed past a vacuumed watermark diverged from a rebuild")
  }

  test("q_partition_prune reads exactly one yr= directory") {
    val df = SparkEntry.queries("q_partition_prune")(spark, sfDir)
    val plan = physicalPlan(df)
    assert("""PartitionFilters: \[isnotnull\(yr#\d+\), \(yr#\d+ = \d+\)\]""".r
      .findFirstIn(plan).isDefined, s"expected a literal yr partition filter in:\n$plan")
    // one partition value at the scan ⇒ answers still match the flat table
    val got = df.collect().map(r =>
      (r.getInt(0), r.getString(1)) -> ((r.getLong(2), r.getLong(3)))).toMap
    val o = Tables.load(spark, sfDir, "orders")
      .withColumn("yr", year(col("o_orderdate")).cast("int"))
    val maxYr = o.agg(max(col("yr"))).head().getInt(0)
    val exp = o.where(col("yr") === maxYr)
      .groupBy("yr", "o_orderpriority")
      .agg(count(lit(1)).as("n"),
        sum(expr("cast(floor(o_totalprice * 100 + 0.5) as bigint)")).as("c"))
      .collect().map(r =>
        (r.getInt(0), r.getString(1)) -> ((r.getLong(2), r.getLong(3)))).toMap
    assert(got == exp, "partition-pruned rollup diverged from the flat-table rollup")
  }

  test("q_jsonl_roundtrip serves the parquet rollup through the JSON sink") {
    val got = SparkEntry.queries("q_jsonl_roundtrip")(spark, sfDir)
      .collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    val exp = Tables.load(spark, sfDir, "nation")
      .join(Tables.load(spark, sfDir, "region"),
        col("n_regionkey") === col("r_regionkey"))
      .groupBy("r_name")
      .agg(count(lit(1)).as("n"), sum(col("n_nationkey").cast("long")).as("k"),
        max(length(col("n_name"))).cast("long").as("m"))
      .collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got == exp, "JSONL-sink rollup diverged from the parquet rollup")
  }

  test("sketch MV: append fold merges registers exactly; DML downgrades to recompute") {
    import graft.sources.{MaterializedView, Snapshots}
    import org.apache.spark.sql.DataFrame
    val root = s"$tmp/sketchmv"
    Snapshots.deleteRecursively(root)
    val (base, mv) = (s"$root/base", s"$root/mv")
    val ev = graft.operators.Events.events(spark, sfDir)
      .select(col("user_id"), col("event_id"),
        expr("ts div 1000000000 div 86400").as("day"))
    def est(df: DataFrame) =
      df.select(col("day"), expr("hll_sketch_estimate(sk)").as("e"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def oneShot(df: DataFrame) =
      est(df.groupBy("day").agg(expr("hll_sketch_agg(user_id, 12)").as("sk")))

    Snapshots.commitOverwrite(ev.where(col("event_id") % 3 =!= 0), base)
    MaterializedView.sketchRefresh(spark, base, mv, Seq("day"), "user_id")
    assert(MaterializedView.lastRefreshModeOf(mv) == "bootstrap")

    Snapshots.commitAppend(ev.where(col("event_id") % 3 === 0), base)
    MaterializedView.sketchRefresh(spark, base, mv, Seq("day"), "user_id")
    assert(MaterializedView.lastRefreshModeOf(mv) == "append-fold",
      s"append must fold, got '${MaterializedView.lastRefreshModeOf(mv)}'")
    // register max-merge makes the fold EXACT: estimates equal a
    // one-shot aggregate over the full base, not merely within error
    assert(est(Snapshots.read(spark, mv)) == oneShot(ev),
      "folded sketch view diverged from one-shot recompute")

    // already-current refresh is a no-op
    val v = Snapshots.currentVersion(mv)
    MaterializedView.sketchRefresh(spark, base, mv, Seq("day"), "user_id")
    assert(Snapshots.currentVersion(mv) == v, "idempotent refresh re-committed")

    // DML under the watermark: registers are not deletion-invertible —
    // the refresh must recompute, and land on the live corpus's sketches
    Snapshots.deleteWhere(spark, base, col("user_id") % 5 === 0)
    MaterializedView.sketchRefresh(spark, base, mv, Seq("day"), "user_id")
    assert(MaterializedView.lastRefreshModeOf(mv) == "recompute",
      s"DML must downgrade to recompute, got '${MaterializedView.lastRefreshModeOf(mv)}'")
    assert(est(Snapshots.read(spark, mv)) ==
      oneShot(ev.where(col("user_id") % 5 =!= 0)),
      "post-DML recompute diverged from the live corpus")
  }

  // ---- committed read schema: every commit writes the #schema line ----

  private def nullable(st: org.apache.spark.sql.types.StructType) =
    org.apache.spark.sql.types.StructType(st.fields.map(_.copy(nullable = true)))

  private def headSchema(t: String) = {
    import graft.sources.Snapshots
    Snapshots.schemaOf(t, Snapshots.currentVersion(t))
  }

  test("every commit records its read schema; reads of it start no job") {
    import graft.sources.Snapshots
    val root = s"${Roots.scratch}/schema_line"
    Snapshots.deleteRecursively(root)
    val t = s"$root/base"
    val o = Tables.load(spark, sfDir, "orders")
      .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
    val want = nullable(o.schema)
    def check(what: String, table: String, expect: org.apache.spark.sql.types.StructType) = {
      assert(headSchema(table).contains(expect), s"$what: ${headSchema(table)}")
      // the recorded line is what Spark's own inference reads off the footers
      val inferred = spark.read.parquet(
        Snapshots.versionDirs(table, Snapshots.currentVersion(table)): _*).schema
      assert(inferred == expect, s"$what: inference says $inferred")
      assert(jobsDuring(Snapshots.read(spark, table)) == 0,
        s"$what: resolving the read must not launch schema inference")
    }
    Snapshots.commitOverwrite(o.where(col("o_custkey") % 2 === 0), t)
    check("commitOverwrite", t, want)
    Snapshots.commitAppend(o.where(col("o_custkey") % 2 === 1), t)
    check("commitAppend", t, want)
    Snapshots.deleteWhere(spark, t, col("o_orderkey") === 1L)
    check("deleteWhere", t, want)
    Snapshots.updateWhere(spark, t, col("o_orderkey") === 2L, "o_orderstatus", lit("X"))
    check("updateWhere", t, want)
    val z = s"$root/zbase"
    Snapshots.commitClustered(o, z, Seq("o_orderkey", "o_custkey"), files = 4)
    check("commitClustered", z, want)
    val (idxT, _) = Snapshots.bloomSkipIndex(spark, t, "o_orderkey")
    check("bloomSkipIndex", idxT, {
      import org.apache.spark.sql.types._
      StructType(Seq(StructField("file", StringType), StructField("bloom", BinaryType)))
    })

    // the point lookup over the built index: one job finds the hit
    // files, one reads them — neither infers a schema
    val key = o.select("o_orderkey").where(col("o_custkey") % 2 === 1)
      .head().getLong(0)
    assert(Snapshots.pointLookup(spark, t, "o_orderkey", key).count() == 1)
    var got = Array.empty[org.apache.spark.sql.Row]
    val jobs = jobsDuring {
      got = Snapshots.pointLookup(spark, t, "o_orderkey", key).collect()
    }
    assert(got.length == 1 && got.head.getLong(0) == key)
    assert(jobs == 2, s"a lookup over a built bloom index runs 2 jobs, ran $jobs")
  }

  test("manifests without the schema line read the same schema and rows by inference") {
    import graft.sources.Snapshots
    import java.nio.charset.StandardCharsets.UTF_8
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val root = s"${Roots.scratch}/schema_legacy"
    Snapshots.deleteRecursively(root)
    val t = s"$root/tagged"
    val copy = s"$root/legacy"
    val n = Tables.load(spark, sfDir, "nation")
    Snapshots.commitOverwrite(n.where(col("n_regionkey") < 2), t)
    Snapshots.commitAppend(n.where(col("n_regionkey") >= 2), t)
    Snapshots.deleteWhere(spark, t, col("n_nationkey") === 3)
    // a copy of the table as a writer before the schema line left it:
    // same dirs (re-rooted), no #schema line in any manifest
    val w = Files.walk(Paths.get(t))
    try w.iterator().asScala.toList.foreach { p =>
      val dst = Paths.get(copy).resolve(Paths.get(t).relativize(p))
      if (Files.isDirectory(p)) Files.createDirectories(dst)
      else if (p.getFileName.toString.endsWith(".manifest"))
        Files.write(dst, Files.readAllLines(p, UTF_8).asScala
          .filterNot(_.startsWith("#schema "))
          .map(_.replace(t, copy)).mkString("\n").getBytes(UTF_8))
      else Files.copy(p, dst)
    } finally w.close()
    val head = Snapshots.currentVersion(copy)
    assert(Snapshots.schemaOf(copy, head).isEmpty)
    assert(headSchema(t).nonEmpty)
    assert(jobsDuring(Snapshots.read(spark, copy)) >= 1,
      "an untagged manifest must still resolve its schema by inference")
    val (a, b) = (Snapshots.read(spark, t), Snapshots.read(spark, copy))
    assert(a.schema == b.schema)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toSeq).toSet
    assert(rows(b) == rows(a) && b.count() == n.count() - 1)
  }

  test("a partitioned staged layout writes no schema line and serves its partition column") {
    import graft.sources.Snapshots
    val t = s"${Roots.scratch}/schema_partitioned"
    Snapshots.deleteRecursively(t)
    val o = Tables.load(spark, sfDir, "orders")
      .select(col("o_orderkey"), (col("o_orderkey") % 3).as("p"))
    val v = Snapshots.ensureIndex(t, "parts") { out => Snapshots.writeStaged(o, out, "p") }
    assert(Snapshots.schemaOf(t, v).isEmpty,
      "the footers do not hold the partition column, so no line is written")
    val r = Snapshots.readVersion(spark, t, v)
    assert(r.columns.toSet == Set("o_orderkey", "p"))
    assert(r.count() == o.count())
    assert(r.where(col("p") === 1L).count() == o.where(col("p") === 1L).count())
  }

  test("vacuum reclaims unreferenced CDC sidecars: no erased key left on disk") {
    import graft.sources.Snapshots
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val t = s"${Roots.scratch}/vacuum_cdc"
    Snapshots.deleteRecursively(t)
    val o = Tables.load(spark, sfDir, "orders").select("o_orderkey", "o_custkey")
    val erased = 7L
    Snapshots.commitOverwrite(o.where(col("o_orderkey") % 2 === 0), t)
    Snapshots.commitAppend(o.where(col("o_orderkey") % 2 === 1), t)
    val vDel = Snapshots.deleteWhere(spark, t, col("o_custkey") === erased)
    def feed() = {
      val (ins, del) = Snapshots.changesBetween(spark, t, vDel - 1, vDel)
      (ins.collect().map(_.toSeq).toSet, del.collect().map(_.toSeq).toSet)
    }
    val before = feed()
    assert(before._2.nonEmpty && before._2.forall(_(1) == erased))
    // the delete's version is retained: its sidecar stays, its feed too
    Snapshots.vacuum(t, retain = 2, graceMs = 0L)
    assert(feed() == before, "vacuum changed the feed of a retained span")
    def filesHoldingErased(): Seq[String] = {
      val w = Files.walk(Paths.get(t))
      val parts = try w.iterator().asScala.map(_.toString)
        .filter(_.endsWith(".parquet")).toList finally w.close()
      spark.read.parquet(parts: _*).where(col("o_custkey") === erased)
        .select(input_file_name()).distinct().collect().map(_.getString(0)).toSeq
    }
    assert(filesHoldingErased().nonEmpty, "the retained versions still hold the erased rows")
    // once no retained manifest names the delete, its sidecar goes too
    Snapshots.commitAppend(o.where(col("o_orderkey") === -1L), t)
    Snapshots.vacuum(t, retain = 1, graceMs = 0L)
    assert(filesHoldingErased().isEmpty, "an erased key survived vacuum")
    assert(Snapshots.read(spark, t).count() ==
      o.where(col("o_custkey") =!= erased).count())
  }

  test("whole-table DML racing an append drops none of the appended rows") {
    import spark.implicits._
    import graft.sources.Snapshots
    val t = s"${Roots.scratch}/dml_race"
    for (round <- 1 to 3) {
      Snapshots.deleteRecursively(t)
      Snapshots.commitOverwrite(
        (1L to 200L).map(k => (k, k % 10, "a")).toDF("k", "g", "s"), t)
      val added = (1000L * round until 1000L * round + 50).map(k => (k, 1L, "a"))
      // no DML matches an appended row; the merge replaces k = 4 and
      // inserts k = 900, both as "b", so any order ends the same
      graft.Par.run(
        () => Snapshots.commitAppend(added.toDF("k", "g", "s"), t),
        () => Snapshots.deleteWhere(spark, t, col("g") === 0L && col("k") < 1000L),
        () => Snapshots.updateWhere(spark, t, col("k") < 1000L, "s", lit("b")),
        () => Snapshots.deleteBatch(spark, t, col("g") === 1L && col("k") < 1000L,
          "dml_race", round.toLong),
        () => Snapshots.deleteMatching(spark, t, "k", Seq(2L, 3L).toDF("k")),
        () => Snapshots.merge(spark, t, Seq((4L, 4L, "b"), (900L, 5L, "b"))
          .toDF("k", "g", "s"), "k"))
      val got = Snapshots.read(spark, t).select("k", "s").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(added.forall { case (k, _, s) => got.get(k).contains(s) },
        s"round $round: a racing DML dropped appended rows")
      assert(got.size == 200 - 20 - 20 - 2 + 1 + 50, s"round $round: ${got.size} rows")
      assert(got.count(_._2 == "b") == 159, s"round $round: the update or the merge was lost")
      assert(Seq(2L, 3L, 10L, 11L).forall(k => !got.contains(k)) && got.contains(900L),
        s"round $round: a delete or the merge was lost")
    }
  }
}
