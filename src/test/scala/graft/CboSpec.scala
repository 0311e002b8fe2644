package graft

import org.apache.spark.sql.functions._

/** Cost-based optimization — the Spark counterpart of the reference's
  * System R optimizer (reference: QueryPlan.executeOptimal +
  * TableStats costing + QueryPlanCostsTest). With ANALYZE'd tables and
  * CBO on, Catalyst does the same two jobs: cardinality-aware join
  * strategy selection (broadcast the provably-small side, without any
  * hint) and cost-based join reordering.
  */
class CboSpec extends SparkSpec {

  private def managed(name: String, table: String): Unit = {
    // an earlier run in this checkout leaves the table's directory in
    // the warehouse but not in this session's catalog, and saveAsTable
    // refuses to write over it
    spark.sql(s"DROP TABLE IF EXISTS $name")
    graft.sources.Snapshots.deleteRecursively(s"${Roots.scratch}/spark-warehouse/$name")
    Tables.load(spark, sfDir, table).write.mode("overwrite").saveAsTable(name)
    spark.sql(s"ANALYZE TABLE $name COMPUTE STATISTICS FOR ALL COLUMNS")
  }

  test("stats flow into the optimized plan and drive join selection") {
    spark.conf.set("spark.sql.cbo.enabled", "true")
    spark.conf.set("spark.sql.cbo.joinReorder.enabled", "true")
    managed("c_t", "customer")
    managed("o_t", "orders")
    managed("n_t", "nation")
    try {
      // deliberately bad syntactic order: fact-fact first, dim last,
      // and NO broadcast hints anywhere
      val q = spark.table("c_t")
        .join(spark.table("o_t"), col("c_custkey") === col("o_custkey"))
        .join(spark.table("n_t"), col("c_nationkey") === col("n_nationkey"))
        .where(col("n_name") === "NATION_7")
        .groupBy("n_name").agg(count(lit(1)).as("n"))

      // per-table row counts came from ANALYZE, not guesses
      val stats = q.queryExecution.optimizedPlan.stats
      assert(stats.rowCount.isDefined, s"no CBO row count: $stats")

      // the 25-row dim is broadcast purely from statistics
      val plan = physicalPlan(q)
      assert(plan.contains("BroadcastHashJoin"), plan)

      // and the result is right
      val rows = q.collect()
      assert(rows.length == 1 && rows.head.getLong(1) > 0)
    } finally {
      spark.conf.set("spark.sql.cbo.enabled", "false")
      Seq("c_t", "o_t", "n_t").foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    }
  }

  test("executeNaive vs executeOptimal: optimal moves strictly fewer shuffle bytes") {
    // QueryPlanCostsTest analog (reference: QueryPlan.java:168 execute
    // vs :193 executeOptimal): the naive plan — syntactic join order,
    // nothing broadcast, no pushdown/pruning — must give the same
    // answer at a strictly higher measured cost.
    import graft.operators.{PredicateOperator, QueryBuilder}
    spark.conf.set("spark.sql.adaptive.enabled", "false") // one traversable plan shape for both
    try {
      def star = QueryBuilder(Tables.load(spark, sfDir, "customer"))
        .join(Tables.load(spark, sfDir, "orders"), "c_custkey", "o_custkey")
        .join(Tables.load(spark, sfDir, "nation"), "c_nationkey", "n_nationkey")
        .join(Tables.load(spark, sfDir, "region"), "n_regionkey", "r_regionkey")
        .where("r_name", PredicateOperator.Equals, "ASIA")
        .groupBy("n_name").count("n")

      val optimal = star.executeOptimal()
      val naive = star.executeNaive()
      val optRows = optimal.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val naiveRows = naive.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(optRows.nonEmpty && optRows == naiveRows, "naive plan changed the answer")

      // plan evidence: dims broadcast in the optimal plan only; the
      // naive plan keeps the selective region filter above its joins
      val optPlan = optimal.queryExecution.executedPlan.toString
      val naivePlan = naive.queryExecution.executedPlan.toString
      assert(optPlan.contains("BroadcastHashJoin"), optPlan)
      assert(!naivePlan.contains("BroadcastHashJoin"), naivePlan)

      // cost evidence (the reference asserts IO costs apart): shuffled
      // bytes, from the executed plans' own metrics
      def shuffleBytes(df: org.apache.spark.sql.DataFrame): Long =
        df.queryExecution.executedPlan.collect {
          case s: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec =>
            s.metrics("dataSize").value
        }.sum
      val (optBytes, naiveBytes) = (shuffleBytes(optimal), shuffleBytes(naive))
      assert(optBytes < naiveBytes,
        s"optimal should shuffle strictly less: $optBytes vs $naiveBytes")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("runtime bloom filter injects into the probe side of a fact-fact shuffle join") {
    // The runtime analog of the reference's reduction factors
    // (reference: query/TableStats.java computeReductionFactor): a
    // selective filter on one shuffle-join side becomes a bloom filter
    // probed by the OTHER side's scan, cutting shuffled bytes before
    // the join. Thresholds are lowered so injection (a ≥10 GB probe
    // scan in production) is demonstrable at test scale.
    val confs = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") // force the shuffle join shape
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      def join = Tables.load(spark, sfDir, "lineitem")
        .select("l_orderkey", "l_quantity")
        .join(Tables.load(spark, sfDir, "orders")
          .where(col("o_custkey") < 50).select("o_orderkey"),
          col("l_orderkey") === col("o_orderkey"))
        .agg(count(lit(1)).as("n"), sum(col("l_quantity")).as("q"))

      val optimized = join.queryExecution.optimizedPlan.toString
      assert(optimized.contains("might_contain"),
        s"no bloom filter injected into the probe side:\n$optimized")
      val withBloom = join.collect().head

      // the filter is a pure pre-shuffle reduction: same answer without it
      spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "false")
      val without = join.collect().head
      assert(!join.queryExecution.optimizedPlan.toString.contains("might_contain"))
      assert(withBloom == without, s"$withBloom != $without")
    } finally {
      spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      saved.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
  }

  test("join strategy follows the surfaced cost estimates (QueryPlanCostsTest analog)") {
    // The reference asserts IO-cost numbers for competing physical
    // plans (BNLJ vs SNLJ vs hash) and that executeOptimal picks the
    // cheapest. Spark's counterpart: statistics give each join side an
    // estimated size; the planner picks broadcast-hash when the
    // cheaper side fits the threshold and falls back to sort-merge
    // when the surfaced estimate says it does not.
    spark.conf.set("spark.sql.cbo.enabled", "true")
    managed("cc_t", "customer")
    managed("nn_t", "nation")
    try {
      def q = spark.table("cc_t")
        .join(spark.table("nn_t"), col("c_nationkey") === col("n_nationkey"))
        .groupBy("n_name").agg(count(lit(1)).as("n"))

      // surface the two sides' estimated costs (bytes) from ANALYZE'd stats
      val dimBytes = spark.table("nn_t").queryExecution.optimizedPlan.stats.sizeInBytes
      val factBytes = spark.table("cc_t").queryExecution.optimizedPlan.stats.sizeInBytes
      assert(dimBytes < factBytes,
        s"expected nation ($dimBytes B) cheaper than customer ($factBytes B)")

      // threshold above the cheap side -> broadcast-hash on the dim
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", (dimBytes.toLong * 2).toString)
      val broadcastPlan = physicalPlan(q)
      assert(broadcastPlan.contains("BroadcastHashJoin"), broadcastPlan)
      val broadcastRows = q.collect().map(r => r.getString(0) -> r.getLong(1)).toMap

      // threshold below BOTH estimates -> planner must pick the
      // shuffle strategy instead: the decision tracked the numbers
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val smjPlan = physicalPlan(q)
      assert(!smjPlan.contains("BroadcastHashJoin"), smjPlan)
      assert(smjPlan.contains("SortMergeJoin") || smjPlan.contains("ShuffledHashJoin"), smjPlan)

      // physical strategy never changes the answer
      assert(q.collect().map(r => r.getString(0) -> r.getLong(1)).toMap == broadcastRows)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
      spark.conf.set("spark.sql.cbo.enabled", "false")
      Seq("cc_t", "nn_t").foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    }
  }

  test("MV-aware rewrite serves a matching aggregate from the view, never stale") {
    import graft.functions.Portable
    import graft.plans.MvRewrite
    import graft.sources.{MaterializedView, Snapshots}
    val root = s"${Roots.scratch}/cbo-spec/mv_rw"
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm); f.delete(); ()
    }
    rm(new java.io.File(root))
    val base = s"$root/base"; val mv = s"$root/mv"
    val li = Tables.load(spark, sfDir, "lineitem")
      .select("l_orderkey", "l_returnflag", "l_quantity")
    Snapshots.commitOverwrite(li, base)
    MaterializedView.refresh(spark, base, mv, Seq("l_returnflag"), Seq("l_quantity"))
    try {
      def canonical() = Snapshots.read(spark, base)
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"), Portable.dsum(col("l_quantity")).as("s"))
      def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
      val before = rows(canonical()) // unregistered: the real aggregate

      MvRewrite.register(base, mv, Seq("l_returnflag"), Seq("l_quantity"))
      val served = canonical()
      val plan = physicalPlan(served)
      assert(plan.contains("/mv/") && !plan.contains("/base/"),
        s"expected the MV scan to replace the base aggregate:\n$plan")
      assert(rows(served) == before, "rewrite must be answer-invariant bit-for-bit")

      // base moves past the MV's watermark: the rewrite must NOT fire
      Snapshots.commitAppend(li.where(col("l_orderkey") < 100), base)
      val stale = canonical()
      assert(physicalPlan(stale).contains("/base/"),
        "a scan the MV has not folded must keep its aggregate")
      assert(rows(stale) != before, "appended rows must be visible")
      // refresh + re-register: serving resumes from the new watermark
      MaterializedView.refresh(spark, base, mv, Seq("l_returnflag"), Seq("l_quantity"))
      MvRewrite.register(base, mv, Seq("l_returnflag"), Seq("l_quantity"))
      val fresh = canonical()
      assert(physicalPlan(fresh).contains("/mv/"), physicalPlan(fresh))
      assert(rows(fresh) == rows(stale))

      // the rollup lattice: a GLOBAL aggregate (keys ⊂ MV keys) is
      // served by re-aggregating the view's partials one level further
      val global = Snapshots.read(spark, base)
        .groupBy()
        .agg(count(lit(1)).as("n"), Portable.dsum(col("l_quantity")).as("s"))
      val gPlan = physicalPlan(global)
      assert(gPlan.contains("/mv/") && !gPlan.contains("/base/"), gPlan)
      val g = global.head()
      val expect = Snapshots.read(spark, base)
        .agg(count(lit(1)), Portable.dsum(col("l_quantity"))).head()
      assert(g.getLong(0) == expect.getLong(0) && g.getDouble(1) == expect.getDouble(1),
        s"lattice re-aggregation diverged: $g vs $expect")

      // cost-based selection: a COARSER second MV (grand-total, 1 row)
      // also covers the global query and must win over the fine one
      val mvCoarse = s"$root/mv_coarse"
      MaterializedView.refresh(spark, base, mvCoarse, Nil, Seq("l_quantity"))
      MvRewrite.register(base, mvCoarse, Nil, Seq("l_quantity"))
      val viaCoarse = Snapshots.read(spark, base)
        .groupBy()
        .agg(count(lit(1)).as("n"), Portable.dsum(col("l_quantity")).as("s"))
      val cPlan = physicalPlan(viaCoarse)
      assert(cPlan.contains("/mv_coarse/") && !cPlan.contains("/mv/data"),
        s"the smaller view must be selected:\n$cPlan")
      val c = viaCoarse.head()
      assert(c.getLong(0) == expect.getLong(0) && c.getDouble(1) == expect.getDouble(1))
    } finally MvRewrite.clear()
  }

  test("MV rewrite serves min/max/avg shapes, including the lattice") {
    import graft.plans.MvRewrite
    import graft.sources.{MaterializedView, Snapshots}
    val root = s"${Roots.scratch}/cbo-spec/mv_minmax"
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm); f.delete(); ()
    }
    rm(new java.io.File(root))
    val base = s"$root/base"; val mv = s"$root/mv"
    val li = Tables.load(spark, sfDir, "lineitem")
      .select("l_orderkey", "l_returnflag", "l_quantity", "l_extendedprice")
    Snapshots.commitOverwrite(li, base)
    MaterializedView.refresh(spark, base, mv, Seq("l_returnflag"), Seq("l_quantity"),
      mins = Seq("l_extendedprice"), maxs = Seq("l_extendedprice"))
    try {
      def grouped() = Snapshots.read(spark, base)
        .groupBy("l_returnflag")
        .agg(min(col("l_extendedprice")).as("mn"),
          max(col("l_extendedprice")).as("mx"),
          avg(col("l_quantity").cast("decimal(18,2)")).as("av"))
      def globalQ() = Snapshots.read(spark, base)
        .groupBy()
        .agg(min(col("l_extendedprice")).as("mn"),
          max(col("l_extendedprice")).as("mx"),
          avg(col("l_quantity").cast("decimal(18,2)")).as("av"))
      def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => r.getString(0) ->
          (r.getDouble(1), r.getDouble(2), r.getDecimal(3))).toMap
      // expected values BEFORE registration (afterwards every matching
      // aggregate is served from the view)
      val wantGrouped = rows(grouped())
      val wantGlobal = globalQ().head()

      MvRewrite.register(base, mv, Seq("l_returnflag"), Seq("l_quantity"),
        mins = Seq("l_extendedprice"), maxs = Seq("l_extendedprice"))
      val served = grouped()
      val plan = physicalPlan(served)
      assert(plan.contains("/mv/") && !plan.contains("/base/"),
        s"min/max/avg must be served from the view:\n$plan")
      assert(rows(served) == wantGrouped,
        "min/max/avg rewrite must be answer-invariant bit-for-bit")

      // the lattice: GLOBAL min/max/avg re-aggregates the view's
      // partials (min of mins, max of maxs, sum of sums / sum of cnts)
      val g = globalQ()
      val gPlan = physicalPlan(g)
      assert(gPlan.contains("/mv/") && !gPlan.contains("/base/"), gPlan)
      val got = g.head()
      assert(got.getDouble(0) == wantGlobal.getDouble(0) &&
        got.getDouble(1) == wantGlobal.getDouble(1) &&
        got.getDecimal(2) == wantGlobal.getDecimal(2),
        s"lattice min/max/avg diverged: $got vs $wantGlobal")

      // KEY-SLICE queries serve from the view too: a predicate over
      // grouping keys commutes with the group-by
      def slice() = Snapshots.read(spark, base)
        .where(col("l_returnflag") === "R")
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("cnt"),
          sum(col("l_quantity").cast("decimal(18,2)")).as("s"))
      val sPlan = physicalPlan(slice())
      assert(sPlan.contains("/mv/") && !sPlan.contains("/base/"),
        s"a key-slice must serve from the view:\n$sPlan")
      // ground truth straight from the source parquet (different dirs,
      // so the rewrite cannot touch it)
      val wantR = li.where(col("l_returnflag") === "R")
      val sliceRow = slice().collect()
      assert(sliceRow.length == 1 && sliceRow.head.getString(0) == "R")
      assert(sliceRow.head.getLong(1) == wantR.count())
      assert(sliceRow.head.getDecimal(2) ==
        wantR.agg(sum(col("l_quantity").cast("decimal(18,2)"))).head().getDecimal(0))
      // a filter over a NON-key column must refuse the rewrite
      val nk = Snapshots.read(spark, base)
        .where(col("l_quantity") > 10)
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("cnt"))
      assert(physicalPlan(nk).contains("/base/"),
        "a non-key filter cannot be served from the view")
      // HAVING (a filter ABOVE the aggregate) rewrites transparently —
      // the rule fires on the inner Aggregate, the filter stays on top
      val having = Snapshots.read(spark, base)
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("cnt"))
        .where(col("cnt") > 0)
      assert(physicalPlan(having).contains("/mv/") &&
        !physicalPlan(having).contains("/base/"),
        "HAVING above a served aggregate must not block the rewrite")

      // empty base: the coarser-lattice count rewrite must serve 0,
      // not NULL (sum over a zero-row MV is NULL; coalesce restores
      // the count-over-empty contract)
      val base2 = s"$root/base_empty"; val mv2 = s"$root/mv_empty"
      Snapshots.commitOverwrite(li.where(lit(false)), base2)
      MaterializedView.refresh(spark, base2, mv2, Seq("l_returnflag"), Seq("l_quantity"))
      MvRewrite.register(base2, mv2, Seq("l_returnflag"), Seq("l_quantity"))
      val ec = Snapshots.read(spark, base2).groupBy().agg(count(lit(1)).as("n"))
      assert(physicalPlan(ec).contains("/mv_empty/"), physicalPlan(ec))
      assert(!ec.head().isNullAt(0) && ec.head().getLong(0) == 0L,
        "count over an empty base must serve 0 from the view, not NULL")
    } finally MvRewrite.clear()
  }

  test("injected optimizer rule guards levenshtein predicates with length pruning") {
    import spark.implicits._
    // a real datasource: a LocalRelation filter would be folded away
    // by ConvertToLocalRelation before any plan survives to inspect
    val path = s"${Roots.scratch}/cbo-spec/lev_pairs"
    Seq(("kitten", "sitting"), ("abc", "abcdefghij"), ("same", "same"))
      .toDF("a", "b").write.mode("overwrite").parquet(path)
    val df = spark.read.parquet(path).where(expr("levenshtein(a, b) <= 3"))
    val opt = df.queryExecution.optimizedPlan.toString.toLowerCase
    // the cheap necessary condition precedes the O(n*m) DP …
    assert(opt.contains("abs("), s"expected a length guard in:\n$opt")
    // … exactly once: the rule is idempotent across optimizer re-runs
    assert("abs\\(".r.findAllIn(opt).size == 1, opt)
    // and never changes the answer (abc/abcdefghij pruned by length 7
    // AND distance 7; kitten/sitting passes both at distance 3)
    val got = df.collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(got == Set(("kitten", "sitting"), ("same", "same")), got.toString)
    // a pre-guarded predicate is left alone
    val manual = spark.read.parquet(path)
      .where(expr("abs(length(a) - length(b)) <= 2 AND levenshtein(a, b) <= 2"))
    assert("abs\\(".r.findAllIn(
      manual.queryExecution.optimizedPlan.toString.toLowerCase).size == 1)
  }

  test("SKETCH-MV lattice rewrite: optimizer routing, answer-invariance, staleness refusal") {
    import graft.plans.MvRewrite
    import graft.sources.{MaterializedView, Snapshots}
    val root = s"${Roots.scratch}/cbo-spec/mv_sketch"
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm); f.delete(); ()
    }
    rm(new java.io.File(root))
    val base = s"$root/base"; val mv = s"$root/mv"
    val ev = graft.operators.Events.events(spark, sfDir)
      .select(col("user_id"), col("event_id"),
        expr("ts div 1000000000 div 86400").as("day"))
    Snapshots.commitOverwrite(ev, base)
    MaterializedView.sketchRefresh(spark, base, mv, Seq("day"), "user_id")
    try {
      def daily() = Snapshots.read(spark, base).groupBy("day")
        .agg(expr("hll_sketch_estimate(hll_sketch_agg(user_id, 12))").as("est"))
      def globalEst() = Snapshots.read(spark, base).groupBy()
        .agg(expr("hll_sketch_estimate(hll_sketch_agg(user_id, 12))").as("est"))
      def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      // truth BEFORE the pin: the real base-scan aggregates
      val dayTruth = rows(daily())
      val globalTruth = globalEst().head().getLong(0)

      MvRewrite.registerSketch(base, mv, Seq("day"), "user_id", 12)
      // EXACT lattice point: project + estimate straight off the view
      val served = daily()
      val plan = physicalPlan(served)
      assert(plan.contains("/mv/") && !plan.contains("/base/"),
        s"expected the sketch view to replace the base aggregate:\n$plan")
      assert(rows(served) == dayTruth,
        "sketch rewrite must be answer-invariant (register max-merge)")
      // COARSER lattice point: hll_union_agg one level further
      val g = globalEst()
      val gPlan = physicalPlan(g)
      assert(gPlan.contains("/mv/") && !gPlan.contains("/base/"), gPlan)
      assert(g.head().getLong(0) == globalTruth,
        "union-merged registers must reproduce the one-shot estimate")
      // KEY-SLICE: a deterministic filter on the grouping key commutes
      // with the group-by and re-anchors onto the view's key column
      val d0 = ev.agg(min(col("day"))).head().getLong(0)
      val sliced = Snapshots.read(spark, base)
        .where(col("day") < lit(d0 + 3)).groupBy("day")
        .agg(expr("hll_sketch_estimate(hll_sketch_agg(user_id, 12))").as("est"))
      val sPlan = physicalPlan(sliced)
      assert(sPlan.contains("/mv/") && !sPlan.contains("/base/"), sPlan)
      assert(rows(sliced) == dayTruth.filter(_._1 < d0 + 3),
        "sliced sketch rewrite must equal the filtered truth")
      // a DIFFERENT lgK must refuse (different registers, different answer)
      val other = Snapshots.read(spark, base).groupBy("day")
        .agg(expr("hll_sketch_estimate(hll_sketch_agg(user_id, 11))").as("est"))
      assert(physicalPlan(other).contains("/base/"),
        "an lgK the view does not store must keep its base scan")
      // approx_count_distinct is a DIFFERENT HLL — must refuse too
      val acd = Snapshots.read(spark, base).groupBy("day")
        .agg(expr("approx_count_distinct(user_id)").as("est"))
      assert(physicalPlan(acd).contains("/base/"),
        "approx_count_distinct must not be served from DataSketches registers")

      // STALENESS refusal: base moves past the sketch watermark — the
      // pinned dirs no longer match, the query keeps its scan
      Snapshots.commitAppend(
        ev.where(col("event_id") % 97 === 0)
          .withColumn("user_id", col("user_id") + 1000000L), base)
      val stale = daily()
      assert(physicalPlan(stale).contains("/base/"),
        "a scan the sketch view has not folded must keep its aggregate")
      // refresh + re-register: serving resumes, fresh rows included
      MaterializedView.sketchRefresh(spark, base, mv, Seq("day"), "user_id")
      MvRewrite.registerSketch(base, mv, Seq("day"), "user_id", 12)
      val fresh = daily()
      assert(physicalPlan(fresh).contains("/mv/"), physicalPlan(fresh))
      assert(rows(fresh) == rows(stale),
        "post-refresh serving must equal the base recompute")
    } finally MvRewrite.clear()
  }

  test("JOIN-view rewrite: optimizer routing, bag answer-invariance, two-sided staleness refusal") {
    import graft.plans.MvRewrite
    import graft.sources.{MaterializedView, Snapshots}
    val root = s"${Roots.scratch}/cbo-spec/mv_join"
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm); f.delete(); ()
    }
    rm(new java.io.File(root))
    val (oT, lT, vT) = (s"$root/orders", s"$root/lineitem", s"$root/view")
    val o = Tables.load(spark, sfDir, "orders")
      .select("o_orderkey", "o_custkey", "o_totalprice")
    val l = Tables.load(spark, sfDir, "lineitem")
      .select(col("l_orderkey").as("o_orderkey"), col("l_linenumber"), col("l_quantity"))
    Snapshots.commitOverwrite(o, oT)
    Snapshots.commitOverwrite(l, lT)
    MaterializedView.joinRefresh(spark, oT, lT, vT, "o_orderkey")
    // absorb real DML so the routed serve nets tombstones
    Snapshots.deleteWhere(spark, oT, col("o_orderkey") % 13 === 0)
    MaterializedView.joinRefresh(spark, oT, lT, vT, "o_orderkey")
    try {
      def joined() = Snapshots.read(spark, oT)
        .join(Snapshots.read(spark, lT), Seq("o_orderkey"))
        .groupBy("o_custkey").agg(count(lit(1)).as("n"),
          graft.functions.Portable.dsum(col("l_quantity")).as("s"))
      def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
      val truth = rows(joined()) // before the pin: the real join

      MvRewrite.registerJoin(oT, lT, vT, "o_orderkey")
      val served = joined()
      val plan = physicalPlan(served)
      assert(plan.contains("/view/") && !plan.contains("/orders/") &&
        !plan.contains("/lineitem/"),
        s"expected the netted join view to replace the join:\n$plan")
      assert(rows(served) == truth,
        "join-view rewrite must be answer-invariant (bag semantics included)")

      // staleness, LEFT side: a base commit past the watermark refuses
      Snapshots.commitAppend(o.where(col("o_orderkey") % 13 === 0).limit(5), oT)
      assert(physicalPlan(joined()).contains("/orders/"),
        "a left-base commit past the pin must keep the real join")
      MaterializedView.joinRefresh(spark, oT, lT, vT, "o_orderkey")
      MvRewrite.registerJoin(oT, lT, vT, "o_orderkey")
      assert(physicalPlan(joined()).contains("/view/"))
      // staleness, RIGHT side
      Snapshots.commitAppend(l.limit(3), lT)
      assert(physicalPlan(joined()).contains("/lineitem/"),
        "a right-base commit past the pin must keep the real join")
      MaterializedView.joinRefresh(spark, oT, lT, vT, "o_orderkey")
      MvRewrite.registerJoin(oT, lT, vT, "o_orderkey")
      val fresh = joined()
      assert(physicalPlan(fresh).contains("/view/"), physicalPlan(fresh))
      // and the post-refresh serve equals the real join over the moved bases
      MvRewrite.clear()
      assert(rows(fresh) == rows(joined()),
        "post-refresh routed serve diverged from the real join")
    } finally MvRewrite.clear()
  }

  test("persisted rewrite catalog: registrations survive a session restart; a vacuumed pin fails loud") {
    import graft.functions.Portable
    import graft.plans.MvRewrite
    import graft.sources.{MaterializedView, Snapshots}
    val root = s"${Roots.scratch}/cbo-spec/mv_persist"
    Snapshots.deleteRecursively(root)
    val base = s"$root/base"; val mv = s"$root/mv"
    val li = Tables.load(spark, sfDir, "lineitem")
      .select("l_orderkey", "l_returnflag", "l_quantity")
    Snapshots.commitOverwrite(li, base)
    MaterializedView.refresh(spark, base, mv, Seq("l_returnflag"), Seq("l_quantity"))
    try {
      def canonical() = Snapshots.read(spark, base)
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"), Portable.dsum(col("l_quantity")).as("s"))
      def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
      val truth = rows(canonical())
      MvRewrite.register(base, mv, Seq("l_returnflag"), Seq("l_quantity"))
      assert(physicalPlan(canonical()).contains("/mv/"))

      // "JVM exit": every in-memory registry evaporates — without the
      // persisted catalog the next session serves base scans forever
      MvRewrite.clear()
      assert(physicalPlan(canonical()).contains("/base/"),
        "cleared registry must stop rewriting (restart simulation baseline)")

      // session start (GraftSession.create's hook): the persisted
      // definitions re-register, the pin re-derives from the persisted
      // watermark tags, and the rewrite fires again — bit-identically
      val restored = MvRewrite.loadCatalog(spark)
      assert(restored.exists(_.endsWith("mv_persist/mv")),
        s"expected the persisted registration to reload, got: $restored")
      val served = canonical()
      assert(physicalPlan(served).contains("/mv/") &&
        !physicalPlan(served).contains("/base/"),
        s"restored registration must rewrite:\n${physicalPlan(served)}")
      assert(rows(served) == truth, "restored rewrite must be answer-invariant")

      // vacuumed pin: retire the base manifest version the watermark
      // pins — restoring that registration must fail LOUD (a silent
      // skip would serve dashboards from base scans with nobody told;
      // a silent serve would answer freshness checks against dirs
      // that no longer exist)
      MvRewrite.clear()
      val pinned = MaterializedView.refreshedThrough(mv)
      java.nio.file.Files.delete(
        java.nio.file.Paths.get(base, "meta", s"v$pinned.manifest"))
      val e = intercept[IllegalStateException] { MvRewrite.restore(spark, mv) }
      assert(e.getMessage.contains(mv), e.getMessage)

      // the SAME vacuumed pin under the availability conf: catalog load
      // quarantines the broken view (skip + record) instead of taking
      // down session creation for workloads that never touch it
      spark.conf.set("spark.graft.mvrewrite.loadSkipVacuumed", "true")
      try {
        val loaded = MvRewrite.loadCatalog(spark)
        assert(!loaded.exists(_.endsWith("mv_persist/mv")),
          s"vacuumed view must not restore under skip conf: $loaded")
        assert(MvRewrite.quarantinedOnLoad.exists(_.endsWith("mv_persist/mv")),
          s"vacuumed view must be quarantined: ${MvRewrite.quarantinedOnLoad}")
      } finally spark.conf.unset("spark.graft.mvrewrite.loadSkipVacuumed")
      // default stays fail-loud
      intercept[IllegalStateException] { MvRewrite.loadCatalog(spark) }
      // deregister is the operator's repair path for a vacuumed pin:
      // catalog load is clean again with the entry gone
      MvRewrite.deregister(mv)
      assert(!MvRewrite.loadCatalog(spark).exists(_.endsWith("mv_persist/mv")))
    } finally {
      MvRewrite.clear()
      // drop the root so the poisoned entry PRUNES from later session
      // loads (the dropped-table path) instead of failing them
      Snapshots.deleteRecursively(root)
    }
  }

  test("mvrewrite lifecycle: deregister drops the def + catalog line; defs persist absolute paths") {
    import graft.plans.MvRewrite
    import graft.sources.{MaterializedView, Snapshots}
    val root = s"${Roots.scratch}/cbo-spec/mv_lifecycle"
    Snapshots.deleteRecursively(root)
    val base = s"$root/base"; val mv = s"$root/mv"
    val li = Tables.load(spark, sfDir, "lineitem")
      .select("l_orderkey", "l_returnflag", "l_quantity")
    Snapshots.commitOverwrite(li, base)
    MaterializedView.refresh(spark, base, mv, Seq("l_returnflag"), Seq("l_quantity"))
    try {
      def canonical() = Snapshots.read(spark, base)
        .groupBy("l_returnflag").agg(count(lit(1)).as("n"))
      MvRewrite.register(base, mv, Seq("l_returnflag"), Seq("l_quantity"))
      // persisted def carries ABSOLUTE paths (CWD-independent restore —
      // a relative base path would make a session started elsewhere
      // silently prune the view as "dropped" and serve base scans)
      val defPath = java.nio.file.Paths.get(mv, "meta", "mvrewrite.def")
      val defLine = java.nio.file.Files.readString(defPath).trim.split("\t")
      assert(defLine(1).startsWith("/"),
        s"persisted base path must be absolute: ${defLine.mkString("|")}")
      assert(physicalPlan(canonical()).contains("/mv/"))

      // deregister: in-memory stops rewriting immediately...
      MvRewrite.deregister(mv)
      assert(physicalPlan(canonical()).contains("/base/"),
        "deregistered view must stop rewriting in-session")
      // ...the def file and catalog line are gone...
      assert(!java.nio.file.Files.exists(defPath), "def file must be removed")
      val cat =
        if (java.nio.file.Files.exists(MvRewrite.catalogFile))
          java.nio.file.Files.readString(MvRewrite.catalogFile)
        else ""
      assert(!cat.contains("mv_lifecycle"),
        s"catalog line must be removed: $cat")
      // ...and a clean restart load does not resurrect it
      MvRewrite.clear()
      val reloaded = MvRewrite.loadCatalog(spark)
      assert(!reloaded.exists(_.endsWith("mv_lifecycle/mv")),
        s"deregistered view must not reload: $reloaded")
      assert(physicalPlan(canonical()).contains("/base/"))
    } finally {
      MvRewrite.clear()
      Snapshots.deleteRecursively(root)
    }
  }

  test("JOIN-view cost gate: a churn-bloated view refuses routing; compaction re-admits it") {
    import graft.plans.MvRewrite
    import graft.sources.{MaterializedView, Snapshots}
    val root = s"${Roots.scratch}/cbo-spec/mv_join_gate"
    Snapshots.deleteRecursively(root)
    val (oT, lT, vT) = (s"$root/orders", s"$root/lineitem", s"$root/view")
    // 100 orders x 4 lineitems: view net rows (400) stay close to the
    // base scan total (500), so realistic tombstone churn can push the
    // view's PHYSICAL rows past the base scans while remaining under
    // joinMaybeCompact's 0.5 debt bound — exactly the regime where
    // routing to the view is a pessimization
    val o = spark.range(100).selectExpr("id as o_orderkey", "id % 7 as o_custkey")
    val l = spark.range(400).selectExpr("id % 100 as o_orderkey", "id as l_lineid")
    Snapshots.commitOverwrite(o, oT)
    Snapshots.commitOverwrite(l, lT)
    MaterializedView.joinRefresh(spark, oT, lT, vT, "o_orderkey")
    try {
      def joined() = Snapshots.read(spark, oT)
        .join(Snapshots.read(spark, lT), Seq("o_orderkey"))
        .groupBy("o_custkey").agg(count(lit(1)).as("n"))
      def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap

      // fresh view: 400 physical rows vs 500 base rows — routes
      MvRewrite.registerJoin(oT, lT, vT, "o_orderkey")
      assert(physicalPlan(joined()).contains("/view/"),
        s"fresh view must route:\n${physicalPlan(joined())}")

      // churn: delete 120 right rows; the signed view accretes 120
      // tombstones (physical 520) while the base scans SHRINK to 380 —
      // debt (120 <= 0.5*400) stays under the compaction bound, so the
      // bloat persists and the gate must refuse
      Snapshots.deleteWhere(spark, lT, col("o_orderkey") < 30)
      MaterializedView.joinRefresh(spark, oT, lT, vT, "o_orderkey")
      val truth = rows(joined())
      MvRewrite.registerJoin(oT, lT, vT, "o_orderkey")
      val gated = joined()
      assert(physicalPlan(gated).contains("/orders/") &&
        physicalPlan(gated).contains("/lineitem/"),
        s"churn-bloated view must refuse routing:\n${physicalPlan(gated)}")
      assert(rows(gated) == truth, "refusal must leave the answer unchanged")

      // more churn crosses the 0.5 debt bound -> joinMaybeCompact nets
      // the view; post-compaction the view is small again and the gate
      // re-admits it
      Snapshots.deleteWhere(spark, lT, col("o_orderkey") < 60)
      MaterializedView.joinRefresh(spark, oT, lT, vT, "o_orderkey")
      MvRewrite.registerJoin(oT, lT, vT, "o_orderkey")
      val readmitted = joined()
      assert(physicalPlan(readmitted).contains("/view/"),
        s"compacted view must route again:\n${physicalPlan(readmitted)}")
      MvRewrite.clear()
      assert(rows(readmitted) == rows(joined()),
        "re-admitted routed serve diverged from the real join")
    } finally MvRewrite.clear()
  }
}
