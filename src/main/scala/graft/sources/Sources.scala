package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import graft.{QueryDef, Tables}
import graft.functions.Portable
import graft.functions.Portable.{sql => P}

/** Source/sink surface (SURVEY §2 — the reference ingests CSV fixtures
  * into its page-file heap tables; reference: Database.java
  * createTable + the students/courses/enrollments CSV fixtures).
  * Spark-first: columnar parquet is the system of record; CSV/JSON are
  * interchange formats; partitioned and bucketed layouts are the
  * physical-design ("index") levers.
  *
  * Scale notes:
  *  - partitioned writes give partition pruning (the coarse B+-tree);
  *  - bucketed tables pre-shuffle by join key once at write time, so
  *    every later join/aggregate on that key runs with NO exchange —
  *    the 100 TB answer to repeated Grace-hash repartitioning;
  *  - sorted-within-bucket layout adds row-group min/max pruning.
  */
object Sources {

  def writeCsv(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).option("header", "true").csv(path)

  def readCsv(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.option("header", "true").schema(schema).csv(path)

  def writeJson(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).json(path)

  def readJson(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema).json(path)

  /** ORC — the second columnar system-of-record format (predicate
    * pushdown + column pruning work the same as parquet's). */
  def writeOrc(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).orc(path)

  def readOrc(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)

  /** Hive-style partitioned parquet layout; queries filtering on the
    * partition columns scan only matching directories.
    */
  def writePartitioned(df: DataFrame, path: String, partitionCols: String*): Unit = {
    df.write.mode(SaveMode.Overwrite).partitionBy(partitionCols: _*).parquet(path)
    Snapshots.ensureParquetFooter(df, path)
  }

  /** Bucketed + sorted managed table: co-locates rows by join key at
    * write time (one shuffle, amortized over every future query).
    */
  def writeBucketed(df: DataFrame, table: String, key: String, nBuckets: Int): Unit =
    df.write.mode(SaveMode.Overwrite)
      .bucketBy(nBuckets, key).sortBy(key)
      .format("parquet").saveAsTable(table)

  /** Morton (Z-order) interleave of the low `bits` bits of N
    * non-negative integer columns: bit i of column k lands at bit
    * i·N + k. Pure shift/mask arithmetic — codegen'd, no UDF.
    */
  def zValueN(cols: Seq[Column], bits: Int): Column = {
    val n = cols.size
    (for (i <- 0 until bits; k <- 0 until n) yield
      shiftright(cols(k), i).bitwiseAND(lit(1L)) * lit(1L << (i * n + k)))
      .reduce(_ + _)
  }

  def zValue(a: Column, b: Column, bits: Int = 16): Column = zValueN(Seq(a, b), bits)

  /** Hilbert-curve clustered layout — same normalize/partition/sort
    * pipeline as [[writeZOrdered]] but ordered by the Hilbert index
    * (native expression): adjacent curve positions are always
    * adjacent grid cells, so range-partition boundaries cut fewer
    * 2-D neighborhoods than the Morton curve's long jumps and
    * per-file min/max boxes stay tighter on both columns.
    */
  def writeHilbertClustered(df: DataFrame, path: String, colA: String, colB: String,
      bits: Int = 16, files: Int = 16): Unit = {
    val aggs = Seq(colA, colB).flatMap(c =>
      Seq(min(col(c)).cast("long"), max(col(c)).cast("long")))
    val r = df.agg(aggs.head, aggs.tail: _*).head()
    // empty input / all-null column: min/max are NULL — cluster by a
    // constant instead of NPEing (the write still succeeds; there is
    // nothing to cluster)
    def bound(i: Int): Long = if (r.isNullAt(i)) 0L else r.getLong(i)
    // Column./ on longs yields double — cast back for the native Long input
    def norm(c: Column, lo: Long, hi: Long): Column =
      coalesce(((c.cast("long") - lo) * ((1L << bits) - 1) / math.max(hi - lo, 1L))
        .cast("long"), lit(0L))
    val h = graft.functions.Native.hilbertIndex(
      norm(col(colA), bound(0), bound(1)),
      norm(col(colB), bound(2), bound(3)), bits)
    df.withColumn("__h", h)
      .repartitionByRange(files, col("__h"))
      .sortWithinPartitions("__h")
      .drop("__h")
      .write.mode(SaveMode.Overwrite).parquet(path)
  }

  /** Z-order clustered parquet layout: range-partition + sort by the
    * Morton value of (colA, colB), so rows close in EITHER dimension
    * land in the same files and every file's parquet min/max stats
    * stay tight on BOTH columns. This is the multi-column analog of
    * the reference's secondary B+-tree access path (reference:
    * index/BPlusTree.java:130 lookupKey, :184 sortedScanFrom): a
    * single-key sorted layout prunes on one column only; Z-order
    * gives pruned scans on colA *and* colB from one clustered copy.
    *
    * Both columns are min/max-normalized into the full `bits` domain
    * before interleaving — without this, a column whose values span
    * fewer bits than the other contributes only low-order z bits, the
    * range partitioner splits on the wide column alone, and the
    * narrow column gets zero pruning. The stats pass is one narrow
    * agg (at 100 TB it would come from table statistics). The write
    * is a one-shot shuffle amortized over every later selective read;
    * grow `files` with the data so each file stays a few row groups.
    */
  def writeZOrdered(df: DataFrame, path: String, colA: String, colB: String,
      bits: Int = 16, files: Int = 16): Unit =
    writeZOrderedN(df, path, Seq(colA, colB), bits, files)

  /** N-column generalization: interleaved bits per column shrink as
    * 60/N (the z value must stay in a positive Long), trading
    * per-column pruning precision for more clustered dimensions.
    */
  def writeZOrderedN(df: DataFrame, path: String, zCols: Seq[String],
      bits0: Int = 16, files: Int = 16): Unit = {
    val bits = math.min(bits0, 60 / zCols.size)
    val aggs = zCols.flatMap(c =>
      Seq(min(col(c)).cast("long"), max(col(c)).cast("long")))
    val r = df.agg(aggs.head, aggs.tail: _*).head()
    def bound(i: Int): Long = if (r.isNullAt(i)) 0L else r.getLong(i)
    // the division yields double — cast back before bit interleaving
    // (shiftright on a double only ever worked through non-ANSI
    // implicit narrowing; the Hilbert twin always cast), and null
    // cells cluster as 0 instead of NPEing on empty/all-null input
    def norm(c: Column, lo: Long, hi: Long): Column =
      coalesce(((c.cast("long") - lo) * ((1L << bits) - 1) / math.max(hi - lo, 1L))
        .cast("long"), lit(0L))
    val z = zValueN(zCols.zipWithIndex.map { case (c, k) =>
      norm(col(c), bound(2 * k), bound(2 * k + 1)) }, bits)
    df.withColumn("__z", z)
      .repartitionByRange(files, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
      .write.mode(SaveMode.Overwrite).parquet(path)
  }
}

/** Oracle-checked queries over the physical-design layer. */
object SourceQueries {

  /** Write lineitem Z-ordered by (l_partkey, l_suppkey), then read it
    * back filtering on the SECONDARY clustered column — the pruned
    * secondary access path. The oracle runs the same predicate on the
    * unclustered table: layout must never change semantics.
    * (SourcesSpec asserts the pruning itself: scan row counts drop on
    * both clustered columns.)
    */
  val zorderSecondary: QueryDef = QueryDef(
    "q_zorder_secondary",
    (s, dir) => {
      val li = Tables.load(s, dir, "lineitem")
        .select("l_orderkey", "l_partkey", "l_suppkey", "l_quantity", "l_extendedprice")
      // physical design is write-once / read-many: a [[BuildOnce]] table
      val z = BuildOnce("zorder", dir, "lineitem")
      Snapshots.readVersion(s, z.table,
        z.buildWith(out => Sources.writeZOrdered(li, out, "l_partkey", "l_suppkey")))
        .where(col("l_suppkey").between(2, 5))
        .groupBy("l_suppkey")
        .agg(count(lit(1)).as("n"), Portable.dsum(col("l_extendedprice")).as("sum_price"))
    },
    Some(s"""SELECT l_suppkey, COUNT(*) AS n, ${P.dsum("l_extendedprice")} AS sum_price
             FROM lineitem WHERE l_suppkey BETWEEN 2 AND 5 GROUP BY 1"""))

  /** Incrementally maintained materialized aggregate
    * ([[MaterializedView]]): the base snapshot table bootstraps with
    * 90% of lineitem, two exactly-once batches append the rest, and
    * each refresh folds ONLY the appended directories into the stored
    * per-(flag, status) counts/sums. The DuckDB oracle is the full
    * group-by over ALL of lineitem — proving merged increments ≡ one
    * recompute, bit-exactly (sums stay decimal until the final cast).
    */
  val mvIncremental: QueryDef = QueryDef(
    "q_mv_incremental",
    (s, dir) => {
      // CONTENT-keyed root (round-10 GC audit): a path-only key kept
      // serving the MV bootstrapped from the OLD corpus after a
      // testdata regeneration — the exactly-once batch tags no-op'd,
      // so the view never saw the new data while the oracle recomputed
      // on it. Fresh fingerprint → fresh root; superseded siblings GC'd.
      val fp = graft.sources.Snapshots.fileFingerprint(s"$dir/lineitem.parquet")
        .replaceAll("[^A-Za-z0-9]", "").take(16)
      val root = graft.Roots.scratch + "/mv/" +
        dir.replaceAll("[^A-Za-z0-9]", "_") + "_" + fp
      val base = s"$root/base"
      val mv = s"$root/mv"
      val keys = Seq("l_returnflag", "l_linestatus")
      val sums = Seq("l_quantity", "l_extendedprice")
      val li = Tables.load(s, dir, "lineitem")
        .select("l_orderkey", "l_returnflag", "l_linestatus",
          "l_quantity", "l_extendedprice")
      val (mins, maxs) = (Seq("l_quantity"), Seq("l_extendedprice"))
      if (graft.sources.Snapshots.currentVersion(base) == 0) {
        graft.sources.Snapshots.gcSiblingRoots(root)
        graft.sources.Snapshots.commitOverwrite(
          li.where(col("l_orderkey") % 10 =!= 0), base) // v1
        MaterializedView.refresh(s, base, mv, keys, sums, mins, maxs) // through v1
      }
      // two appended batches (exactly-once: replays and bench re-runs
      // no-op), folded by the refresh below
      graft.sources.Snapshots.ingestBatch(
        li.where(col("l_orderkey") % 10 === 0 && col("l_orderkey") % 20 === 0),
        base, "q_mv_incremental", 0L)
      graft.sources.Snapshots.ingestBatch(
        li.where(col("l_orderkey") % 10 === 0 && col("l_orderkey") % 20 =!= 0),
        base, "q_mv_incremental", 1L)
      MaterializedView.refresh(s, base, mv, keys, sums, mins, maxs)
      graft.sources.Snapshots.read(s, mv).select(
        col("l_returnflag"), col("l_linestatus"), col("cnt"),
        col("sum_l_quantity").cast("double").as("sum_qty"),
        col("sum_l_extendedprice").cast("double").as("sum_price"),
        col("min_l_quantity").as("min_qty"),
        col("max_l_extendedprice").as("max_price"),
        // avg served AT READ from the exact stored operands
        (col("sum_l_quantity").cast("double") / col("cnt")).as("avg_qty"))
    },
    Some(s"""SELECT l_returnflag, l_linestatus, COUNT(*) AS cnt,
             ${P.dsum("l_quantity")} AS sum_qty,
             ${P.dsum("l_extendedprice")} AS sum_price,
             MIN(l_quantity) AS min_qty,
             MAX(l_extendedprice) AS max_price,
             ${P.dsum("l_quantity")} / COUNT(*) AS avg_qty
             FROM lineitem GROUP BY 1, 2"""))

  /** Keyed MERGE / upsert ([[Snapshots.merge]]) as an oracle-checked
    * query: the orders table bootstraps a snapshot table, then ONE
    * atomic merge applies a CDC batch — doubled-price updates for
    * every fifth key plus brand-new keys — and the query aggregates
    * the post-merge snapshot. The DuckDB oracle reconstructs the same
    * final state relationally (source ∪ base-anti-source), proving
    * update, insert, and carry-over semantics bit-for-bit. The table
    * is rebuilt per run (the merge IS the operator under test), so
    * re-runs are deterministic.
    */
  val mergeUpsert: QueryDef = QueryDef(
    "q_merge_upsert",
    (s, dir) => {
      import graft.sources.Snapshots
      val table = graft.Roots.scratch + "/merge/" + dir.replaceAll("[^A-Za-z0-9]", "_")
      Snapshots.deleteRecursively(table)
      val o = Tables.load(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
      Snapshots.commitOverwrite(o, table)
      val updates = o.where(col("o_orderkey") % 5 === 0)
        .withColumn("o_orderstatus", lit("U"))
        .withColumn("o_totalprice", col("o_totalprice") * 2)
      val inserts = o.where(col("o_orderkey") % 5 === 1)
        .withColumn("o_orderkey", col("o_orderkey") + lit(1000000000L))
        .withColumn("o_orderstatus", lit("N"))
      val v = Snapshots.merge(s, table, updates.unionByName(inserts), "o_orderkey")
      Snapshots.readVersion(s, table, v)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"),
          countDistinct(col("o_custkey")).as("n_cust"),
          Portable.dsum(col("o_totalprice")).as("sum_price"))
    },
    Some(s"""WITH base AS (SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice FROM orders),
         src AS (SELECT o_orderkey, o_custkey, 'U' AS o_orderstatus,
                        o_totalprice * 2 AS o_totalprice
                 FROM base WHERE o_orderkey % 5 = 0
                 UNION ALL
                 SELECT o_orderkey + 1000000000 AS o_orderkey, o_custkey,
                        'N' AS o_orderstatus, o_totalprice
                 FROM base WHERE o_orderkey % 5 = 1),
         fin AS (SELECT * FROM src
                 UNION ALL
                 SELECT b.* FROM base b
                 WHERE NOT EXISTS (SELECT 1 FROM src s WHERE s.o_orderkey = b.o_orderkey))
         SELECT o_orderstatus, COUNT(*) AS n,
                COUNT(DISTINCT o_custkey) AS n_cust,
                ${P.dsum("o_totalprice")} AS sum_price
         FROM fin GROUP BY 1"""))

  /** Point lookup on an UNCLUSTERED high-cardinality key through the
    * per-file bloom skipping index ([[Snapshots.bloomSkipIndex]]):
    * lineitem lands as four appended snapshot batches (multiple data
    * dirs/files), the index is built once per table version (one
    * aggregate job, claim-elected), and the lookup reads ONLY the
    * files whose bloom may contain the key. The oracle runs the same
    * predicate over the raw table — skipping must never change
    * semantics. (SourcesSpec asserts the skipping itself: the lookup
    * scans strictly fewer files than the table holds.)
    */
  val bloomPointLookup: QueryDef = QueryDef(
    "q_bloom_point_lookup",
    (s, dir) => {
      // a multi-file [[BuildOnce]] table: one atomic commit, never a
      // partial table the way check-then-append batches could leave
      val t = BuildOnce("bloomidx", dir, "lineitem").sub("lineitem")
      t.build(Tables.load(s, dir, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_partkey", "l_quantity")
        .repartition(4, col("l_orderkey")))
      Snapshots.pointLookup(s, t.table, "l_orderkey", 1L)
        .select("l_orderkey", "l_linenumber", "l_partkey", "l_quantity")
    },
    Some("""SELECT l_orderkey, l_linenumber, l_partkey, l_quantity
            FROM lineitem WHERE l_orderkey = 1"""))

  /** Time-travel diff ([[Snapshots.diff]]) as an oracle-checked query:
    * a snapshot table moves through overwrite → append → selective
    * delete, and the diff from v1 to the head is computed from the
    * MANIFESTS — shared dirs cancel without being read, the rewritten
    * dirs' multiset subtraction nets out carried survivors, and what
    * remains is exactly the semantic changeset. The DuckDB oracle
    * derives that changeset relationally from the base table, proving
    * insert and delete attribution bit-for-bit. The table is rebuilt
    * per run (the version history IS the operator under test).
    */
  val snapshotDiff: QueryDef = QueryDef(
    "q_snapshot_diff",
    (s, dir) => {
      import graft.sources.Snapshots
      val t = graft.Roots.scratch + "/diff/" + dir.replaceAll("[^A-Za-z0-9]", "_")
      Snapshots.deleteRecursively(t)
      val o = Tables.load(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
      val v1 = Snapshots.commitOverwrite(o.where(col("o_orderkey") % 4 =!= 3), t)
      Snapshots.commitAppend(o.where(col("o_orderkey") % 4 === 3), t)
      val head = Snapshots.deleteWhere(s, t, col("o_orderkey") % 5 === 0)
      Snapshots.diff(s, t, v1, head)
    },
    Some("""WITH a AS (SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
             FROM orders WHERE o_orderkey % 4 <> 3),
         b AS (SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
             FROM orders WHERE o_orderkey % 4 = 3)
         SELECT *, 'insert' AS chg FROM b WHERE o_orderkey % 5 <> 0
         UNION ALL
         SELECT *, 'delete' AS chg FROM a WHERE o_orderkey % 5 = 0"""))

  /** Incrementally maintained JOIN view under real DML
    * ([[MaterializedView.joinRefresh]]): orders ⋈ lineitem bootstraps
    * from partial slices, then three maintenance cycles fold a
    * delete-on-left, a double append (both sides move in ONE refresh,
    * so ΔL joins a right version that itself changed — the cross
    * coverage, absorbed by the ΔL⋈R_new term), and a delete-on-right,
    * each refresh reading only the change feeds joined against the
    * other side's pinned version. The served view aggregates per order; the
    * DuckDB oracle recomputes the join from the FINAL table states,
    * proving three rounds of signed delta-joins ≡ one recompute. The
    * table is rebuilt per run (the DML sequence IS the operator under
    * test).
    */
  val mvJoinIncremental: QueryDef = QueryDef(
    "q_mv_join_incremental",
    (s, dir) => {
      import graft.sources.Snapshots
      val root = graft.Roots.scratch + "/mvjoin/" + dir.replaceAll("[^A-Za-z0-9]", "_")
      Snapshots.deleteRecursively(root)
      val (oT, lT, vT) = (s"$root/orders", s"$root/lineitem", s"$root/view")
      val o = Tables.load(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
      val l = Tables.load(s, dir, "lineitem")
        .select(col("l_orderkey").as("o_orderkey"),
          col("l_linenumber"), col("l_quantity"))
      // the two base commits are independent chains — overlap their
      // jobs (guide §2.6); the refresh is the barrier that reads both
      graft.Par.run(
        () => Snapshots.commitOverwrite(o.where(col("o_orderkey") % 10 =!= 0), oT),
        () => Snapshots.commitOverwrite(l.where(col("o_orderkey") % 7 =!= 0), lT))
      MaterializedView.joinRefresh(s, oT, lT, vT, "o_orderkey") // bootstrap
      Snapshots.deleteWhere(s, oT, col("o_orderkey") % 9 === 0)
      MaterializedView.joinRefresh(s, oT, lT, vT, "o_orderkey") // ΔL side only
      graft.Par.run(
        () => Snapshots.commitAppend(o.where(col("o_orderkey") % 10 === 0), oT),
        () => Snapshots.commitAppend(l.where(col("o_orderkey") % 7 === 0), lT))
      MaterializedView.joinRefresh(s, oT, lT, vT, "o_orderkey") // both + cross
      Snapshots.deleteWhere(s, lT, col("l_quantity") < 10)
      MaterializedView.joinRefresh(s, oT, lT, vT, "o_orderkey") // ΔR side only
      MaterializedView.serveJoin(s, vT)
        .groupBy("o_orderkey", "o_custkey")
        .agg(count(lit(1)).as("n_items"),
          Portable.dsum(col("l_quantity")).as("sum_qty"),
          max(col("o_totalprice")).as("o_totalprice"))
    },
    Some(s"""WITH ofin AS (SELECT o_orderkey, o_custkey, o_totalprice FROM orders
               WHERE (o_orderkey % 10 <> 0 AND o_orderkey % 9 <> 0)
                  OR o_orderkey % 10 = 0),
           lfin AS (SELECT l_orderkey AS o_orderkey, l_linenumber, l_quantity
               FROM lineitem WHERE l_quantity >= 10)
           SELECT o.o_orderkey, o.o_custkey, COUNT(*) AS n_items,
             ${P.dsum("l_quantity")} AS sum_qty,
             MAX(o.o_totalprice) AS o_totalprice
           FROM ofin o JOIN lfin l USING (o_orderkey)
           GROUP BY 1, 2"""))

  /** KEY-SLICE serving through the sketch rewrite — the dashboard
    * shape (`WHERE day < …` over the base scan + a distinct estimate):
    * a deterministic filter over grouping-key columns commutes with
    * the group-by, so the rewrite re-anchors it onto the view's key
    * column and serves the sliced days from the STORED registers —
    * |slice| rows read, zero event re-scan. Same answer-invariance as
    * [[mvSketchRewrite]] (register max-merge); the oracle recomputes
    * exact distincts for the sliced window from raw events.
    */
  val mvSketchSlice: QueryDef = QueryDef(
    "q_mv_sketch_slice",
    (s, dir) => {
      val (base, mv, ev) = sketchMvEnsure(s, dir)
      graft.plans.MvRewrite.registerSketch(base, mv, Seq("day"), "user_id", 12)
      // empty corpus: min(day) is NULL — slice from day 0 (the query
      // then serves zero rows instead of throwing, the EdgeCase
      // contract every catalog query holds)
      val mn = ev.agg(min(col("day"))).head()
      val d0 = if (mn.isNullAt(0)) 0L else mn.getLong(0)
      val est = Snapshots.read(s, base)
        .where(col("day") < lit(d0 + 4))
        .groupBy("day")
        .agg(expr("hll_sketch_estimate(hll_sketch_agg(user_id, 12))").as("est"))
      val exact = ev.where(col("day") < lit(d0 + 4))
        .select("user_id", "day").distinct()
        .groupBy("day").agg(count(lit(1)).as("n_exact"))
      est.join(exact, "day")
        .select(col("day"), col("n_exact"),
          (abs(col("est") - col("n_exact")) * 100 <= col("n_exact") * 15)
            .as("hll_ok"))
    },
    Some("""WITH ud AS (SELECT DISTINCT user_id,
          CAST(FLOOR(epoch(ts)) AS BIGINT) // 86400 AS day FROM events),
        mn AS (SELECT MIN(day) AS d0 FROM ud)
        SELECT day, CAST(COUNT(*) AS BIGINT) AS n_exact, TRUE AS hll_ok
        FROM ud, mn WHERE day < d0 + 4 GROUP BY 1"""))

  /** OPTIMIZER-ROUTED denormalized serving — the join view's rewrite
    * twin (the sketch rewrite's sibling): the query is written as the
    * plain INNER JOIN over both base scans, and
    * [[graft.plans.MvRewrite.registerJoin]]'s pin lets the optimizer
    * replace the join node with the NETTED signed view (group-by +
    * sum(sgn) > 0 + bag-multiplicity explode over the pinned view
    * dirs) — the wide serving table answering instead of a re-join,
    * with the same structural freshness contract as every other
    * rewrite arm: a commit past EITHER side's watermark refuses.
    * The view here has absorbed real DML (a left delete + a right
    * append through one signed delta-join refresh), so the routed
    * answer exercises tombstone netting, not just a fresh bootstrap;
    * the oracle recomputes the join from the final table states.
    * CboSpec plan-asserts the routing and the two-sided staleness
    * refusal.
    */
  val mvJoinRewrite: QueryDef = QueryDef(
    "q_mv_join_rewrite",
    (s, dir) => {
      import graft.sources.Snapshots
      val root = graft.Roots.scratch + "/mvjoin/" +
        dir.replaceAll("[^A-Za-z0-9]", "_") + "_rw"
      Snapshots.deleteRecursively(root)
      val (oT, lT, vT) = (s"$root/orders", s"$root/lineitem", s"$root/view")
      val o = Tables.load(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
      val l = Tables.load(s, dir, "lineitem")
        .select(col("l_orderkey").as("o_orderkey"),
          col("l_linenumber"), col("l_quantity"))
      // independent per-table chains overlap (guide §2.6); refreshes
      // stay barriers reading both heads
      graft.Par.run(
        () => Snapshots.commitOverwrite(o, oT),
        () => Snapshots.commitOverwrite(l.where(col("o_orderkey") % 7 =!= 0), lT))
      MaterializedView.joinRefresh(s, oT, lT, vT, "o_orderkey") // bootstrap
      graft.Par.run(
        () => Snapshots.deleteWhere(s, oT, col("o_orderkey") % 9 === 0),
        () => Snapshots.commitAppend(l.where(col("o_orderkey") % 7 === 0), lT))
      MaterializedView.joinRefresh(s, oT, lT, vT, "o_orderkey") // signed deltas
      // the pin stays registered (lazy frame — the rule must be live
      // at materialization); only a join of exactly these two pinned
      // scans on this key can match it
      graft.plans.MvRewrite.registerJoin(oT, lT, vT, "o_orderkey")
      Snapshots.read(s, oT).join(Snapshots.read(s, lT), Seq("o_orderkey"))
        .groupBy("o_orderkey", "o_custkey")
        .agg(count(lit(1)).as("n_items"),
          Portable.dsum(col("l_quantity")).as("sum_qty"),
          max(col("o_totalprice")).as("o_totalprice"))
    },
    Some(s"""WITH ofin AS (SELECT o_orderkey, o_custkey, o_totalprice FROM orders
               WHERE o_orderkey % 9 <> 0),
           lfin AS (SELECT l_orderkey AS o_orderkey, l_linenumber, l_quantity
               FROM lineitem)
           SELECT o.o_orderkey, o.o_custkey, COUNT(*) AS n_items,
             ${P.dsum("l_quantity")} AS sum_qty,
             MAX(o.o_totalprice) AS o_totalprice
           FROM ofin o JOIN lfin l USING (o_orderkey)
           GROUP BY 1, 2"""))

  /** CSV SINK + SOURCE round-trip — §2.1 row 25's format surface
    * served as a catalog query (previously spec-only): the nation
    * table is written to a CSV sink (quoted headers, a [[BuildOnce]]
    * table), read back through the CSV source with an explicit schema,
    * and joined/aggregated against the parquet region table. The
    * oracle computes the same rollup from parquet alone — any
    * fidelity loss in the round-trip (quoting, typing, header
    * handling) breaks the hash.
    *
    * Scale shape: the roundtrip table is dimension-sized by choice;
    * the read is schema-pinned (no inference pass over the data —
    * at 100 TB inference alone is a full extra scan).
    */
  val csvRoundtrip: QueryDef = QueryDef(
    "q_csv_roundtrip",
    (s, dir) => {
      val n = graft.Tables.load(s, dir, "nation")
      val sink = BuildOnce("csvsink", dir, "nation")
      val ver = sink.buildWith(out => n.write.option("header", "true").csv(out))
      s.read.option("header", "true").schema(n.schema)
        .csv(Snapshots.versionDirs(sink.table, ver): _*)
        .join(graft.Tables.load(s, dir, "region"),
          col("n_regionkey") === col("r_regionkey"))
        .groupBy("r_name")
        .agg(count(lit(1)).as("n_nations"),
          sum(col("n_nationkey").cast("long")).as("key_sum"))
    },
    Some("""SELECT r_name, COUNT(*) AS n_nations,
            CAST(SUM(n_nationkey) AS BIGINT) AS key_sum
            FROM nation JOIN region ON n_regionkey = r_regionkey
            GROUP BY 1"""))

  /** JSONL (newline-delimited JSON) sink + schema-pinned read-back —
    * row 25's second interchange format next to [[csvRoundtrip]]: the
    * format every ingestion pipeline meets first (API exports, log
    * shippers, LLM training-data interchange). A [[BuildOnce]] table
    * like the CSV sink (a regenerated corpus re-writes; a re-run serves
    * the existing version), and the read pins the schema — JSON inference
    * is a full extra scan at 100 TB, and worse, it TYPE-DRIFTS (an
    * all-null column infers string), so pinning is correctness, not
    * just speed.
    */
  val jsonlRoundtrip: QueryDef = QueryDef(
    "q_jsonl_roundtrip",
    (s, dir) => {
      val n = graft.Tables.load(s, dir, "nation")
      val sink = BuildOnce("jsonsink", dir, "nation")
      val ver = sink.buildWith(out => n.write.json(out))
      s.read.schema(n.schema)
        .json(Snapshots.versionDirs(sink.table, ver): _*)
        .join(graft.Tables.load(s, dir, "region"),
          col("n_regionkey") === col("r_regionkey"))
        .groupBy("r_name")
        .agg(count(lit(1)).as("n_nations"),
          sum(col("n_nationkey").cast("long")).as("key_sum"),
          max(length(col("n_name"))).cast("long").as("max_name_len"))
    },
    Some("""SELECT r_name, COUNT(*) AS n_nations,
            CAST(SUM(n_nationkey) AS BIGINT) AS key_sum,
            CAST(MAX(LENGTH(n_name)) AS BIGINT) AS max_name_len
            FROM nation JOIN region ON n_regionkey = r_regionkey
            GROUP BY 1"""))

  /** PARTITION-PRUNED layout served as a catalog query — row 25's
    * "partitioned layout" claim driver-gated (the z-order row prunes
    * row groups; THIS prunes whole directories, the coarsest and
    * cheapest skip tier a 100 TB table leans on first): orders land
    * partitioned by order YEAR (a [[BuildOnce]] table),
    * the serving read filters to the latest year fetched as a LITERAL
    * (a 1-value driver fetch, the probe-cids convention) so the scan
    * reads exactly one yr= directory — PartitionFilters at the scan,
    * spec-asserted. The oracle computes the same rollup from the flat
    * parquet, so pruning can never change answers.
    */
  val partitionPrune: QueryDef = QueryDef(
    "q_partition_prune",
    (s, dir) => {
      val o = graft.Tables.load(s, dir, "orders")
        .withColumn("yr", year(col("o_orderdate")).cast("int"))
      val parts = BuildOnce("partsink", dir, "orders").serve(s, "yr")(o)
      // empty corpus: max(yr) is NULL → filter to a year that cannot
      // exist, yielding the same zero rows the oracle's NULL-compare does
      val maxYrRow = o.agg(max(col("yr"))).head()
      val maxYr = if (maxYrRow.isNullAt(0)) -1 else maxYrRow.getInt(0)
      parts.where(col("yr") === maxYr)
        .groupBy("yr", "o_orderpriority")
        .agg(count(lit(1)).as("n_orders"),
          sum(expr("cast(floor(o_totalprice * 100 + 0.5) as bigint)"))
            .as("revenue_cents"))
    },
    Some("""WITH o AS (SELECT *, CAST(year(o_orderdate) AS INTEGER) AS yr
            FROM orders),
          mx AS (SELECT MAX(yr) AS m FROM o)
          SELECT yr, o_orderpriority, COUNT(*) AS n_orders,
            CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
              AS revenue_cents
          FROM o, mx WHERE yr = mx.m GROUP BY 1, 2"""))

  /** Incrementally maintained SKETCH view
    * ([[MaterializedView.sketchRefresh]]) — the MERGEABLE-STATE cell
    * of the MV matrix (count/sum MVs fold abelian deltas, join views
    * fold signed deltas; sketches fold by REGISTER MAX): per-day HLL
    * user sketches bootstrap from 90% of events, two exactly-once
    * batches append the rest, and each refresh union-merges ONLY the
    * appended directories' sketches into the stored view — O(new
    * data) per refresh, |MV| ≈ days × 2^12 bytes, never a re-scan.
    * Because registers max-merge, the folded view's estimates equal a
    * one-shot recompute EXACTLY (SourcesSpec asserts register-level
    * equality, plus the recompute downgrade on DML — registers are
    * not deletion-invertible). The served report is (day, exact DAU,
    * within-15%% flag); the oracle recomputes exact DAU, so the
    * catalog proves the maintained sketch tracks truth while the spec
    * proves merged ≡ recompute.
    *
    * At 100 TB this is the streaming-distinct pattern: the exact
    * distinct needs a users × days shuffle per question; the sketch
    * view answers from kilobytes per key and unions across keys for
    * rollups.
    */
  /** Ensure the per-day HLL sketch MV is built and current under its
    * content-keyed root (bootstrap from 90%% of events + two
    * exactly-once appended batches, idempotent across runs); returns
    * (base table, mv table, the (user_id, event_id, day) event
    * frame). Shared by the incremental-maintenance query, the lattice
    * rollup, and the optimizer-routed rewrite twin.
    */
  private def sketchMvEnsure(s: org.apache.spark.sql.SparkSession,
      dir: String): (String, String, org.apache.spark.sql.DataFrame) = {
    val fp = Snapshots.fileFingerprint(s"$dir/events.parquet")
      .replaceAll("[^A-Za-z0-9]", "").take(16)
    val root = graft.Roots.scratch + "/mv/" +
      dir.replaceAll("[^A-Za-z0-9]", "_") + "_sk_" + fp
    val base = s"$root/base"
    val mv = s"$root/mv"
    val ev = graft.operators.Events.events(s, dir)
      .select(col("user_id"), col("event_id"),
        expr("ts div 1000000000 div 86400").as("day"))
    if (Snapshots.currentVersion(base) == 0) {
      Snapshots.gcSiblingRoots(root)
      Snapshots.commitOverwrite(ev.where(col("event_id") % 10 =!= 0), base)
      MaterializedView.sketchRefresh(s, base, mv, Seq("day"), "user_id")
    }
    Snapshots.ingestBatch(
      ev.where(col("event_id") % 10 === 0 && col("event_id") % 20 === 0),
      base, "mvsk", 0L)
    Snapshots.ingestBatch(
      ev.where(col("event_id") % 10 === 0 && col("event_id") % 20 =!= 0),
      base, "mvsk", 1L)
    MaterializedView.sketchRefresh(s, base, mv, Seq("day"), "user_id")
    (base, mv, ev)
  }

  val mvSketchIncremental: QueryDef = QueryDef(
    "q_mv_sketch_incremental",
    (s, dir) => {
      val (_, mv, ev) = sketchMvEnsure(s, dir)
      val exact = ev.select("user_id", "day").distinct()
        .groupBy("day").agg(count(lit(1)).as("dau_exact"))
      Snapshots.read(s, mv)
        .select(col("day"), expr("hll_sketch_estimate(sk)").as("est"))
        .join(exact, "day")
        .select(col("day"), col("dau_exact"),
          (abs(col("est") - col("dau_exact")) * 100 <= col("dau_exact") * 15)
            .as("hll_ok"))
    },
    Some("""WITH ud AS (SELECT DISTINCT user_id,
          CAST(FLOOR(epoch(ts)) AS BIGINT) // 86400 AS day FROM events)
        SELECT day, CAST(COUNT(*) AS BIGINT) AS dau_exact, TRUE AS hll_ok
        FROM ud GROUP BY 1"""))

  /** LATTICE serving from the stored sketches — why a sketch MV beats
    * a count MV for distinct questions: counts cannot roll up across
    * keys (a user active on two days is one weekly-active user, not
    * two), but REGISTERS union losslessly — so the 7-day rolling
    * weekly-active report (`q_events_rolling_dau_hll`'s shape) is
    * served ENTIRELY from the maintained per-day sketches via
    * `hll_union_agg`, zero event re-scan (|MV| bytes in, ≤ days rows
    * out). The oracle recomputes exact WAU7 from the raw events; the
    * within-15%% flag pins the estimates to truth.
    */
  val mvSketchRollup: QueryDef = QueryDef(
    "q_mv_sketch_rollup",
    (s, dir) => {
      val (_, mv, ev) = sketchMvEnsure(s, dir)
      val rolled = Snapshots.read(s, mv)
        .select(explode(sequence(col("day"), col("day") + 6)).as("d"), col("sk"))
        .groupBy(col("d").as("day"))
        .agg(expr("hll_sketch_estimate(hll_union_agg(sk))").as("est"))
      val exact = ev.select("user_id", "day").distinct()
        .select(col("user_id"), explode(sequence(col("day"), col("day") + 6)).as("d"))
        .distinct()
        .groupBy(col("d").as("day")).agg(count(lit(1)).as("wau7_exact"))
      rolled.join(exact, "day")
        .join(ev.select("day").distinct(), Seq("day"))
        .select(col("day"), col("wau7_exact"),
          (abs(col("est") - col("wau7_exact")) * 100 <= col("wau7_exact") * 15)
            .as("hll_ok"))
    },
    Some("""WITH ud AS (SELECT DISTINCT user_id,
          CAST(FLOOR(epoch(ts)) AS BIGINT) // 86400 AS day FROM events),
        contrib AS (SELECT DISTINCT user_id, d FROM (
          SELECT user_id, UNNEST(range(day, day + 7)) AS d FROM ud) x)
        SELECT CAST(d AS BIGINT) AS day, COUNT(*) AS wau7_exact,
          TRUE AS hll_ok
        FROM contrib WHERE d IN (SELECT day FROM ud) GROUP BY 1"""))

  /** OPTIMIZER-ROUTED sketch serving — the lattice rollup's rewrite
    * twin (round-13 verdict item #2): the query is written as plain
    * `hll_sketch_estimate(hll_sketch_agg(user_id, 12))` aggregates
    * over the BASE SCAN — per-day AND the coarser all-days point —
    * and [[graft.plans.MvRewrite.registerSketch]]'s pin lets the
    * optimizer route both through the STORED registers (project +
    * estimate at the exact keys, `hll_union_agg` one lattice level
    * further for the global row) instead of re-scanning events. The
    * rewrite is answer-invariant because registers max-merge: the
    * union of per-day sketches carries bit-identical registers to a
    * one-shot sketch over all rows. CboSpec plan-asserts that the
    * served scan reads the MV dirs (and that a stale pin refuses);
    * this catalog query pins the ANSWER to truth — exact distincts
    * from the raw events, with the within-15%% flag.
    */
  val mvSketchRewrite: QueryDef = QueryDef(
    "q_mv_sketch_rewrite",
    (s, dir) => {
      val (base, mv, ev) = sketchMvEnsure(s, dir)
      // the pin stays registered (no clear): the returned frame is
      // LAZY — the rule must still be live when the caller
      // materializes it. Only an hll_sketch_agg(user_id, 12) aggregate
      // over exactly this base version's dirs can match the pin, so it
      // cannot leak into unrelated queries, and each run re-registers.
      graft.plans.MvRewrite.registerSketch(base, mv, Seq("day"), "user_id", 12)
      locally {
        val scan = Snapshots.read(s, base)
        val daily = scan.groupBy("day")
          .agg(expr("hll_sketch_estimate(hll_sketch_agg(user_id, 12))").as("est"))
        val global = scan.groupBy()
          .agg(expr("hll_sketch_estimate(hll_sketch_agg(user_id, 12))").as("est"))
          .select(lit(-1L).as("day"), col("est"))
        val exactDay = ev.select("user_id", "day").distinct()
          .groupBy("day").agg(count(lit(1)).as("n_exact"))
        val exactAll = ev.select("user_id").distinct()
          .agg(count(lit(1)).as("n_exact")).select(lit(-1L).as("day"), col("n_exact"))
        daily.unionByName(global)
          .join(exactDay.unionByName(exactAll), "day")
          .select(col("day"), col("n_exact"),
            (abs(col("est") - col("n_exact")) * 100 <= col("n_exact") * 15)
              .as("hll_ok"))
      }
    },
    Some("""WITH ud AS (SELECT DISTINCT user_id,
          CAST(FLOOR(epoch(ts)) AS BIGINT) // 86400 AS day FROM events)
        SELECT day, CAST(COUNT(*) AS BIGINT) AS n_exact, TRUE AS hll_ok
        FROM ud GROUP BY 1
        UNION ALL
        SELECT CAST(-1 AS BIGINT) AS day,
          CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_exact, TRUE AS hll_ok
        FROM ud"""))

  val defs: Seq[QueryDef] =
    Seq(zorderSecondary, mvIncremental, mergeUpsert, bloomPointLookup,
      snapshotDiff, mvJoinIncremental, csvRoundtrip, jsonlRoundtrip,
      partitionPrune, mvSketchIncremental, mvSketchRollup, mvSketchRewrite,
      mvSketchSlice, mvJoinRewrite)
}
