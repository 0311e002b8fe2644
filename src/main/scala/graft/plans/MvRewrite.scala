package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Average, Count, Max, Min, Sum}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.types.{DecimalType, DoubleType}

/** MV-aware query rewrite — the materialized-view half of the
  * optimizer-rule tier: an `Aggregate` whose grouping keys, aggregate
  * shapes, and SCANNED SNAPSHOT VERSION exactly match a registered
  * [[graft.sources.MaterializedView]] is redirected to read the
  * (tiny) MV instead of re-scanning the base table.
  *
  * The freshness contract is structural, not temporal: a registration
  * records the base data directories the MV's watermark version
  * reflects, and the rewrite fires ONLY when the query's scan reads
  * exactly those directories. A query over a base version the MV has
  * not folded (or a time-travel read of an older one) keeps its scan
  * — no staleness is ever observable.
  *
  * Aggregate shapes covered are the MV's own: `count(1)`, the
  * exact-decimal sum `sum(cast(c as decimal(18,2)))` with or without
  * the final cast to double, native-typed `min`/`max`, and
  * `avg(cast(c as decimal(18,2)))` — avg is rebuilt from the stored
  * exact operands as the SAME expression Average evaluates
  * (Divide(decimal(28,2), decimal(20,0)) cast to decimal(22,6)), so
  * every shape is answer-invariant bit-for-bit (tested in CboSpec),
  * at the registered keys and at coarser lattice points alike.
  * KEY-SLICE queries rewrite too: a WHERE over grouping-key columns
  * commutes with the group-by, so the same predicate re-anchored onto
  * the view's key columns serves `WHERE key = …` dashboards from the
  * MV; filters touching any non-key column refuse the rewrite.
  */
object MvRewrite {

  /** One registered MV: the base dirs its watermark version reflects,
    * the pinned view version, and the aggregate spec it stores.
    */
  final case class MvDef(mvTable: String, baseDirs: Set[String], mvVersion: Int,
    keys: Set[String], sums: Set[String], rows: Long,
    mins: Set[String] = Set.empty, maxs: Set[String] = Set.empty)

  @volatile private[graft] var registry: Seq[MvDef] = Nil

  /** Register an MV for rewriting, pinning the base version its
    * current watermark reflects. Call again after a refresh to move
    * the pin forward — re-registration REPLACES the table's previous
    * pin (the registry stays bounded when a streaming rollup
    * re-registers every micro-batch). The registration is PERSISTED
    * as table metadata ([[restore]] reloads it in a fresh session).
    */
  def register(baseTable: String, mvTable: String,
      keys: Seq[String], sums: Seq[String],
      mins: Seq[String] = Nil, maxs: Seq[String] = Nil): Unit = {
    import graft.sources.{MaterializedView, Snapshots}
    // pin ONE view version and derive BOTH the watermark and the
    // served version from it: a concurrent refresh landing between two
    // separate head reads would pair an old watermark (old base dirs)
    // with NEWER view content — newer answers served to a query
    // scanning the old pinned base, a wrong answer rather than
    // staleness
    val v = Snapshots.currentVersion(mvTable)
    val through = MaterializedView.refreshedThroughAt(mvTable, v)
    require(through > 0, s"$mvTable has no refreshed version")
    registry = MvDef(
      mvTable,
      Snapshots.versionDirs(baseTable, through).map(normalize).toSet,
      v, keys.toSet, sums.toSet,
      // the cost statistic for view selection: row count at register
      // time off parquet footers, no Spark job (the analog of the
      // reference's TableStats row counts)
      Snapshots.footerRows(SparkSession.active, Snapshots.versionDirs(mvTable, v)),
      mins.toSet, maxs.toSet) +: registry.filterNot(_.mvTable == mvTable)
    persist(mvTable, Seq("agg", baseTable, keys.mkString(","),
      sums.mkString(","), mins.mkString(","), maxs.mkString(",")))
  }

  /** One registered SKETCH view ([[graft.sources.MaterializedView
    * .sketchRefresh]]): per-`keys` HLL sketches of `idCol` at `lgK`,
    * stored in column `sk`. Same structural freshness contract as
    * [[MvDef]] — the rewrite fires only when the query's scan reads
    * exactly the base dirs the sketch watermark version reflects.
    */
  final case class SketchMvDef(mvTable: String, baseDirs: Set[String],
    mvVersion: Int, keys: Set[String], idCol: String, lgK: Int)

  @volatile private[graft] var sketchRegistry: Seq[SketchMvDef] = Nil

  /** Register a sketch view for rewriting, pinning the base version
    * its sketch watermark reflects — [[register]]'s mergeable-state
    * twin. Re-registration replaces the table's previous pin.
    */
  def registerSketch(baseTable: String, mvTable: String,
      keys: Seq[String], idCol: String, lgK: Int = 12): Unit = {
    import graft.sources.{MaterializedView, Snapshots}
    // pin ONE view version for watermark AND served rows (see [[register]])
    val v = Snapshots.currentVersion(mvTable)
    val through = MaterializedView.sketchRefreshedThroughAt(mvTable, v)
    require(through > 0, s"$mvTable has no sketch-refreshed version")
    sketchRegistry = SketchMvDef(
      mvTable,
      Snapshots.versionDirs(baseTable, through).map(normalize).toSet,
      v, keys.toSet, idCol, lgK) +:
      sketchRegistry.filterNot(_.mvTable == mvTable)
    persist(mvTable, Seq("sketch", baseTable, keys.mkString(","), idCol,
      lgK.toString))
  }

  /** One registered JOIN view ([[graft.sources.MaterializedView
    * .joinRefresh]]): the signed denormalized L ⋈_key R, pinned at the
    * base dirs each side's watermark version reflects; `mvVersion` is
    * the pinned view version the rewrite serves. `viewRows` is
    * the PHYSICAL (signed, tombstone-inclusive) row count the netting
    * serve must scan; `baseRows` the summed base-side row counts the
    * join it replaces would scan — the cost statistics behind the
    * routing gate (the reference's TableStats-driven access-path
    * choice, QueryPlan.executeOptimal).
    */
  final case class JoinMvDef(mvTable: String, leftDirs: Set[String],
    rightDirs: Set[String], mvVersion: Int, key: String,
    viewRows: Long = 0L, baseRows: Long = Long.MaxValue)

  @volatile private[graft] var joinRegistry: Seq[JoinMvDef] = Nil

  /** Register a join view for rewriting, pinning BOTH bases at the
    * versions the view's watermarks reflect — [[register]]'s
    * denormalized-view sibling. Re-registration replaces the table's
    * previous pin. Cost statistics (physical view rows vs base scan
    * rows) come off parquet FOOTERS — no Spark job at registration.
    */
  def registerJoin(leftTable: String, rightTable: String,
      mvTable: String, key: String): Unit = {
    import graft.sources.{MaterializedView, Snapshots}
    // pin ONE view version for watermarks AND served rows (see [[register]])
    val v = Snapshots.currentVersion(mvTable)
    val (lThrough, rThrough) = MaterializedView.joinRefreshedThroughAt(mvTable, v)
    require(lThrough > 0 && rThrough > 0,
      s"$mvTable has no join-refreshed version")
    val spark = SparkSession.active
    val lDirs = Snapshots.versionDirs(leftTable, lThrough)
    val rDirs = Snapshots.versionDirs(rightTable, rThrough)
    joinRegistry = JoinMvDef(
      mvTable,
      lDirs.map(normalize).toSet,
      rDirs.map(normalize).toSet,
      v,
      key,
      viewRows = Snapshots.footerRows(spark, Snapshots.versionDirs(mvTable, v)),
      baseRows = Snapshots.footerRows(spark, lDirs) +
        Snapshots.footerRows(spark, rDirs)) +:
      joinRegistry.filterNot(_.mvTable == mvTable)
    persist(mvTable, Seq("join", leftTable, rightTable, key))
  }

  def clear(): Unit = { registry = Nil; sketchRegistry = Nil; joinRegistry = Nil }

  // ---- persisted rewrite catalog (survives the JVM) ----
  //
  // The in-memory registries above are the SERVING tier; without a
  // persisted twin every registration (and its freshness pin) would
  // evaporate on JVM exit and a fresh session would serve every
  // dashboard from base scans until someone re-registered by hand.
  // Each registration therefore also writes its DEFINITION (kind +
  // arguments, one TSV line) to `<mvTable>/meta/mvrewrite.def` — the
  // `dependents.list` pattern ([[graft.sources.IndexRegistry]]) — and
  // upserts the view's path into one deployment-wide catalog file.
  // [[loadCatalog]] (run by `GraftSession.create`) re-registers every
  // persisted definition: the PIN is re-derived from the persisted
  // watermark tags at load time (one source of truth — a stored pin
  // could go stale against a refresh that happened between sessions),
  // and a pinned base version whose manifest was VACUUMED fails LOUD
  // instead of silently serving from a dangling pin.

  private[graft] val catalogFile: java.nio.file.Path =
    java.nio.file.Paths.get(graft.Roots.scratch + "/graft-tables/mvrewrite.catalog")

  private def defFile(mvTable: String): java.nio.file.Path =
    java.nio.file.Paths.get(mvTable, "meta", "mvrewrite.def")

  private def absPath(p: String): String =
    java.nio.file.Paths.get(p).toAbsolutePath.normalize.toString

  private def persist(mvTable: String, parts0: Seq[String]): Unit = synchronized {
    import java.nio.file.{Files, StandardCopyOption}
    // normalize ALL table paths (base and view) to absolute at persist
    // time, matching the catalog-file convention — a def recorded with
    // a relative path would restore CWD-dependently: a session started
    // from another directory would silently prune the view as
    // "dropped" (its meta/ probe misses) and serve base scans forever
    val parts = parts0.head match {
      case "join" =>
        Seq(parts0.head, absPath(parts0(1)), absPath(parts0(2))) ++ parts0.drop(3)
      case _ =>
        Seq(parts0.head, absPath(parts0(1))) ++ parts0.drop(2)
    }
    require(parts.forall(p => !p.contains("\t") && !p.contains("\n")),
      s"mvrewrite definition parts must not contain tabs/newlines: $parts")
    val f = defFile(mvTable)
    Files.createDirectories(f.getParent)
    val tmp = f.resolveSibling(s".mvrewrite-${java.util.UUID.randomUUID}.tmp")
    Files.write(tmp, (parts.mkString("\t") + "\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    Files.move(tmp, f, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
    val abs = java.nio.file.Paths.get(mvTable).toAbsolutePath.normalize.toString
    Files.createDirectories(catalogFile.getParent)
    val existing =
      if (Files.exists(catalogFile))
        new String(Files.readAllBytes(catalogFile),
          java.nio.charset.StandardCharsets.UTF_8).linesIterator.toSet
      else Set.empty[String]
    if (!existing.contains(abs))
      Files.write(catalogFile,
        (abs + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8),
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.APPEND)
    ()
  }

  /** Re-register ONE persisted rewrite definition from
    * `<mvTable>/meta/mvrewrite.def`. The freshness pin is re-derived
    * from the view's CURRENT persisted watermark tags; a pin whose
    * base manifest was vacuumed fails LOUD with the view named.
    */
  def restore(spark: SparkSession, mvTable: String): Unit = {
    import java.nio.file.Files
    val f = defFile(mvTable)
    require(Files.exists(f), s"no persisted mvrewrite definition at $mvTable")
    val parts = new String(Files.readAllBytes(f),
      java.nio.charset.StandardCharsets.UTF_8)
      .linesIterator.find(_.nonEmpty)
      .getOrElse(sys.error(s"empty mvrewrite definition at $mvTable"))
      .split("\t", -1).toSeq
    def list(s: String): Seq[String] =
      if (s.isEmpty) Nil else s.split(",", -1).toSeq
    try parts.head match {
      case "agg" =>
        register(parts(1), mvTable, list(parts(2)), list(parts(3)),
          list(parts(4)), list(parts(5)))
      case "sketch" =>
        registerSketch(parts(1), mvTable, list(parts(2)), parts(3),
          parts(4).toInt)
      case "join" =>
        registerJoin(parts(1), parts(2), mvTable, parts(3))
      case k => sys.error(s"unknown mvrewrite kind '$k' at $mvTable")
    } catch {
      case e: IllegalArgumentException =>
        // loud, with the integrity story attached: the pinned base
        // manifest is gone (vacuumed past the pin) — serving would
        // require a freshness check against dirs that no longer exist
        throw new IllegalStateException(
          s"persisted mvrewrite registration for $mvTable cannot be " +
            s"restored — its pinned base version is unavailable " +
            s"(vacuumed?): ${e.getMessage}", e)
    }
  }

  /** Drop a view's persisted registration: in-memory registries, the
    * `<mvTable>/meta/mvrewrite.def` file, and its catalog line. Delete
    * order makes a crash mid-way safe: the def file goes first, so an
    * orphaned catalog line points at a missing def and [[loadCatalog]]
    * prunes it silently as "dropped" — never a half-registered view.
    */
  def deregister(mvTable: String): Unit = synchronized {
    import java.nio.file.{Files, StandardCopyOption}
    val abs = absPath(mvTable)
    registry = registry.filterNot(m => absPath(m.mvTable) == abs)
    sketchRegistry = sketchRegistry.filterNot(m => absPath(m.mvTable) == abs)
    joinRegistry = joinRegistry.filterNot(m => absPath(m.mvTable) == abs)
    Files.deleteIfExists(defFile(mvTable))
    if (Files.exists(catalogFile)) {
      val kept = new String(Files.readAllBytes(catalogFile),
        java.nio.charset.StandardCharsets.UTF_8)
        .linesIterator.filter(_.nonEmpty).filterNot(_ == abs).toSeq
      val tmp = catalogFile.resolveSibling(
        s".mvrewrite-catalog-${java.util.UUID.randomUUID}.tmp")
      Files.write(tmp, kept.map(_ + "\n").mkString
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      Files.move(tmp, catalogFile, StandardCopyOption.ATOMIC_MOVE,
        StandardCopyOption.REPLACE_EXISTING)
    }
    ()
  }

  /** Views skipped by the last [[loadCatalog]] because their pinned
    * base manifest was vacuumed (only populated under the
    * skip-vacuumed load option). Each needs re-registration (fresh
    * pin) or [[deregister]].
    */
  @volatile private[graft] var quarantinedOnLoad: Seq[String] = Nil

  /** Load every persisted rewrite registration at session start —
    * views whose table (or whose base tables) were DROPPED since are
    * skipped; a view whose base exists but whose pinned manifest was
    * vacuumed fails loud ([[restore]]) BY DEFAULT. Under the session
    * conf `spark.graft.mvrewrite.loadSkipVacuumed=true` such views are
    * instead quarantined — logged loudly, skipped from registration,
    * recorded in [[quarantinedOnLoad]] — so one stale registration
    * cannot take down session creation for workloads that never touch
    * that view. [[graft.GraftSession.create]] sets it; a direct call on
    * a session with it unset fails loud. Returns the restored tables.
    */
  def loadCatalog(spark: SparkSession): Seq[String] = {
    import java.nio.file.{Files, Paths}
    quarantinedOnLoad = Nil
    if (!Files.exists(catalogFile)) return Nil
    val skipVacuumed = spark.conf
      .getOption("spark.graft.mvrewrite.loadSkipVacuumed")
      .exists(_.equalsIgnoreCase("true"))
    new String(Files.readAllBytes(catalogFile),
      java.nio.charset.StandardCharsets.UTF_8)
      .linesIterator.filter(_.nonEmpty).toSeq.distinct
      .filter { mvTable =>
        if (!Files.exists(defFile(mvTable))) false // view dropped
        else {
          val parts = new String(Files.readAllBytes(defFile(mvTable)),
            java.nio.charset.StandardCharsets.UTF_8)
            .linesIterator.find(_.nonEmpty).getOrElse("").split("\t", -1).toSeq
          val bases = parts.head match {
            case "join" => Seq(parts(1), parts(2))
            case _ if parts.length > 1 => Seq(parts(1))
            case _ => Nil
          }
          // dropped base table (test teardown, retired pipeline):
          // prune silently — only a PRESENT base with a vacuumed pin
          // is an integrity failure
          bases.nonEmpty &&
            bases.forall(b => Files.exists(Paths.get(b, "meta"))) &&
            Files.exists(Paths.get(mvTable, "meta")) && {
              if (!skipVacuumed) { restore(spark, mvTable); true }
              else
                try { restore(spark, mvTable); true }
                catch {
                  case e: IllegalStateException =>
                    // quarantine: keep session creation available, make
                    // the broken view loud here and fail hard only when
                    // IT is next touched (serve finds no registration →
                    // base scan; re-registration repins or fails)
                    System.err.println(
                      s"[graft] QUARANTINED mvrewrite view $mvTable at " +
                        s"catalog load: ${e.getMessage}")
                    quarantinedOnLoad = quarantinedOnLoad :+ mvTable
                    false
                }
            }
        }
      }
  }

  /** Path normalization: relation rootPaths carry a scheme. */
  private[plans] def normalize(p: String): String =
    p.stripPrefix("file:").stripSuffix("/")
}

class MvRewriteRule(session: SparkSession) extends Rule[LogicalPlan] {
  import MvRewrite._

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (registry.isEmpty && sketchRegistry.isEmpty && joinRegistry.isEmpty) plan
    else plan.transform {
      // denormalized-view routing: an INNER equi-join on a registered
      // view's key, over scans of exactly the dirs both watermarks
      // pinned, reads the netted signed view instead of re-joining —
      // a base commit either side of the pin refuses (structural
      // freshness, as for the aggregate arm)
      case j @ org.apache.spark.sql.catalyst.plans.logical.Join(lc, rc,
          org.apache.spark.sql.catalyst.plans.Inner,
          Some(EqualTo(lk: AttributeReference, rk: AttributeReference)), _)
          if joinRegistry.nonEmpty &&
            scanDirs(lc).exists(_._2.isEmpty) && scanDirs(rc).exists(_._2.isEmpty) =>
        val lDirs = scanDirs(lc).get._1
        val rDirs = scanDirs(rc).get._1
        joinRegistry.filter(mv => mv.leftDirs == lDirs && mv.rightDirs == rDirs &&
            lk.name == mv.key && rk.name == mv.key &&
            // cost gate (the aggregate arm's TableStats discipline
            // applied to routing): the netting serve scans every
            // PHYSICAL signed row of the view — a churn-bloated view
            // (tombstone debt near the compaction bound) can carry
            // more rows than the two base scans the join would read,
            // at which point re-joining is the cheaper plan. Route
            // only when the view scan is no larger than the base
            // scans it replaces; refuse otherwise (answer unchanged,
            // the join simply runs).
            mv.viewRows <= mv.baseRows)
          .iterator.map(mv => joinRewrite(j, mv))
          .collectFirst { case Some(p) => p }
          .getOrElse(j)
      case agg @ Aggregate(groupExprs, aggExprs, child, _)
          if scanDirs(child).nonEmpty =>
        val (dirs, slice) = scanDirs(child).get
        // cost-based view selection: among all registered MVs that
        // cover this aggregate, serve from the SMALLEST (fewest rows
        // to scan/re-aggregate) — the coarse rollup wins for a coarse
        // query even though the fine MV also covers it
        registry.filter(mv => mv.baseDirs == dirs && rewritable(agg, groupExprs, mv) &&
            sliceable(slice, mv))
          .sortBy(_.rows)
          .iterator.map(mv => rewrite(agg, mv, slice))
          .collectFirst { case Some(p) => p }
          .orElse(
            // sketch-view lattice: an hll_sketch_agg aggregate over
            // the pinned base routes through the STORED registers
            sketchRegistry.filter(mv => mv.baseDirs == dirs &&
                rewritable(agg, groupExprs, SketchKeysAdapter(mv)) &&
                sliceable(slice, SketchKeysAdapter(mv)))
              .iterator.map(mv => sketchRewrite(agg, mv, slice))
              .collectFirst { case Some(p) => p })
          .getOrElse(agg)
    }

  /** Adapts a [[SketchMvDef]]'s keys to the shared key-subset /
    * key-slice checks (which only read `keys`).
    */
  private def SketchKeysAdapter(mv: SketchMvDef): MvDef =
    MvDef(mv.mvTable, mv.baseDirs, mv.mvVersion, mv.keys, Set.empty, 0L)

  /** The scan dirs under an Aggregate child that is a bare relation, a
    * column-pruning projection, or a KEY-SLICE filter over one — a
    * predicate over grouping-key columns commutes with the group-by,
    * so `WHERE key = …` queries are still servable from the view (the
    * same filter applies to the MV's key columns). Returns the dirs
    * plus the slice predicates found on the way down.
    */
  private def scanDirs(plan: LogicalPlan): Option[(Set[String], Seq[Expression])] =
    plan match {
      case LogicalRelation(fs: HadoopFsRelation, _, _, _, _) =>
        Some((fs.location.rootPaths.map(p => normalize(p.toString)).toSet, Nil))
      case Project(projList, child) if projList.forall(_.isInstanceOf[AttributeReference]) =>
        scanDirs(child)
      case Filter(cond, child) =>
        scanDirs(child).map { case (dirs, fs) => (dirs, cond +: fs) }
      case _ => None
    }

  /** A slice predicate is servable iff it is DETERMINISTIC and every
    * column it touches is an MV grouping key — then filtering the
    * view's key columns is exactly filtering the base before the
    * group-by. (A non-deterministic filter — rand() sampling — does
    * NOT commute with the group-by: it must run once per base row,
    * never once per pre-aggregated view row.)
    */
  private def sliceable(slice: Seq[Expression], mv: MvDef): Boolean =
    slice.forall(p => p.deterministic &&
      p.references.forall(a => mv.keys.contains(a.name)))

  /** Rewritable when the query's grouping keys are a SUBSET of the
    * MV's — the rollup lattice: an equal-keys query projects the MV
    * directly, a coarser one re-aggregates it (counts, exact decimal
    * sums, min/max, and avg-from-operands are all re-aggregable).
    */
  private def rewritable(agg: Aggregate, groupExprs: Seq[Expression], mv: MvDef): Boolean =
    groupExprs.forall {
      case a: AttributeReference => mv.keys.contains(a.name)
      case _ => false
    }

  /** The view at its PINNED version, in the manifest's committed schema
    * (planning starts no inference job); None, no rewrite, if vacuumed.
    */
  private def pinnedView(mvTable: String, version: Int): Option[LogicalPlan] = {
    import graft.sources.Snapshots
    Option.when(Snapshots.versionAvailable(mvTable, version))(
      Snapshots.readVersion(session, mvTable, version).queryExecution.analyzed)
  }

  /** Join-view rewrite: replace the L ⋈_key R node with the netted
    * serve of the signed view at its PINNED version
    * ([[graft.sources.MaterializedView.serveJoinAt]]: the join view's
    * net, or its rows alone on a netted head, bag multiplicity restored
    * row by row), its output re-aliased onto the join's attribute ids
    * (both key attributes map to the view's single key column) so
    * every parent expression resolves unchanged. Refuses when any join
    * output column is missing from the view, or when the pinned
    * version's manifest was vacuumed.
    */
  private def joinRewrite(
      j: org.apache.spark.sql.catalyst.plans.logical.Join,
      mv: JoinMvDef): Option[LogicalPlan] = {
    import graft.sources.{MaterializedView, Snapshots}
    if (!Snapshots.versionAvailable(mv.mvTable, mv.mvVersion)) return None
    val rel = MaterializedView.serveJoinAt(session, mv.mvTable, mv.mvVersion)
      .queryExecution.analyzed
    val byName = rel.output.map(a => a.name -> a).toMap
    val mapped = j.output.map { a =>
      byName.get(a.name).map(c => Alias(c, a.name)(exprId = a.exprId))
    }
    if (mapped.exists(_.isEmpty)) None
    else Some(Project(mapped.map(_.get), rel))
  }

  /** Sketch-view lattice rewrite — the mergeable-state twin of
    * [[rewrite]]: an `hll_sketch_estimate(hll_sketch_agg(id, lgK))`
    * (or a bare `hll_sketch_agg`) whose grouping keys are a SUBSET of
    * the view's is served from the STORED registers — projected (and
    * estimated) directly at the exact keys, union-merged one lattice
    * level further (`hll_union_agg`) at a coarser point. This is
    * ANSWER-INVARIANT, not merely close: registers merge by max, so
    * the union of per-key sketches carries bit-identical registers to
    * a one-shot sketch over the coarser group (the sketchRefresh
    * append-fold guarantee, asserted in SourcesSpec) — which is also
    * why the rule matches the sketch-native aggregate and NOT
    * `approx_count_distinct` (a different HLL++ implementation whose
    * estimates the stored registers cannot reproduce).
    */
  private def sketchRewrite(agg: Aggregate, mv: SketchMvDef,
      slice: Seq[Expression]): Option[LogicalPlan] = {
    import org.apache.spark.sql.catalyst.expressions.HllSketchEstimate
    import org.apache.spark.sql.catalyst.expressions.aggregate.{HllSketchAgg, HllUnionAgg}
    val mvRel = pinnedView(mv.mvTable, mv.mvVersion).getOrElse(return None)
    val byName = mvRel.output.map(a => a.name -> a).toMap
    val skCol = byName.get("sk").getOrElse(return None)
    val rel: LogicalPlan =
      if (slice.isEmpty) mvRel
      else Filter(slice.map(_.transform {
        case a: AttributeReference => byName(a.name)
      }).reduce(And), mvRel)
    val exact = agg.groupingExpressions
      .map { case a: AttributeReference => a.name }.toSet == mv.keys

    // the stored (or one-level-further-merged) registers for a group
    def mergedSk: Expression =
      if (exact) skCol
      else new HllUnionAgg(skCol, false).toAggregateExpression()
    def matches(hsa: HllSketchAgg): Boolean = hsa.left match {
      case a: AttributeReference => a.name == mv.idCol && hsa.lgConfigK == mv.lgK
      case _ => false
    }
    val mapped = agg.aggregateExpressions.map {
      case key: AttributeReference if mv.keys.contains(key.name) =>
        byName.get(key.name).map(c => Alias(c, key.name)(exprId = key.exprId))
      case al @ Alias(child, name) =>
        val replacement: Option[Expression] = child match {
          case key: AttributeReference if mv.keys.contains(key.name) =>
            byName.get(key.name)
          case HllSketchEstimate(AggregateExpression(hsa: HllSketchAgg, _, false, None, _))
              if matches(hsa) =>
            Some(HllSketchEstimate(mergedSk))
          case AggregateExpression(hsa: HllSketchAgg, _, false, None, _)
              if matches(hsa) =>
            Some(mergedSk)
          case _ => None
        }
        replacement.map(r => Alias(r, name)(exprId = al.exprId))
      case _ => None
    }
    if (mapped.exists(_.isEmpty)) None
    else if (exact) Some(Project(mapped.map(_.get), rel))
    else {
      val groupCols = agg.groupingExpressions.map {
        case a: AttributeReference => byName(a.name)
      }
      Some(Aggregate(groupCols, mapped.map(_.get), rel))
    }
  }

  /** Map each output expression onto an MV column — projected when the
    * keys match exactly, re-aggregated when the query is a coarser
    * point of the lattice; None (no rewrite) if any aggregate falls
    * outside the MV's stored shapes.
    */
  private def rewrite(agg: Aggregate, mv: MvDef,
      slice: Seq[Expression]): Option[LogicalPlan] = {
    val mvRel = pinnedView(mv.mvTable, mv.mvVersion).getOrElse(return None)
    val byName = mvRel.output.map(a => a.name -> a).toMap
    // re-anchor the slice predicates onto the MV's key columns
    val rel: LogicalPlan =
      if (slice.isEmpty) mvRel
      else Filter(slice.map(_.transform {
        case a: AttributeReference => byName(a.name)
      }).reduce(And), mvRel)
    val exact = agg.groupingExpressions
      .map { case a: AttributeReference => a.name }.toSet == mv.keys

    def mvSum(attr: AttributeReference): Option[Attribute] =
      if (mv.sums.contains(attr.name)) byName.get(s"sum_${attr.name}") else None
    // coarser lattice point: fold the MV's partials one level further
    def reagg(c: Attribute): Expression =
      if (exact) c else Sum(c).toAggregateExpression()

    val mapped = agg.aggregateExpressions.map {
      case key: AttributeReference if mv.keys.contains(key.name) =>
        byName.get(key.name).map(c => Alias(c, key.name)(exprId = key.exprId))
      case al @ Alias(child, name) =>
        val replacement: Option[Expression] = child match {
          case key: AttributeReference if mv.keys.contains(key.name) =>
            byName.get(key.name)
          case AggregateExpression(Count(Seq(Literal(1, _))), _, false, None, _) =>
            // coarser lattice: sum(cnt) over a ZERO-row MV is NULL, but
            // the original global count over an empty base is 0 —
            // coalesce keeps the rewrite answer-invariant there
            byName.get("cnt").map(c =>
              if (exact) c
              else Coalesce(Seq(Cast(reagg(c), c.dataType), Literal(0L))))
          case AggregateExpression(
              Sum(Cast(a: AttributeReference, dt: DecimalType, _, _), _), _, false, None, _)
              if dt.precision == 18 && dt.scale == 2 =>
            // the query's sum type is decimal(28,2); the MV stores the
            // same exact value at decimal(38,6)
            mvSum(a).map(c => Cast(reagg(c), DecimalType(28, 2)))
          case Cast(AggregateExpression(
              Sum(Cast(a: AttributeReference, dt: DecimalType, _, _), _), _, false, None, _),
              DoubleType, _, _)
              if dt.precision == 18 && dt.scale == 2 =>
            mvSum(a).map(c => Cast(reagg(c), DoubleType))
          // min/max re-aggregate losslessly at any lattice point — the
          // MV stores them native-typed, so the served value is the
          // stored (or re-folded) column verbatim
          case AggregateExpression(Min(a: AttributeReference), _, false, None, _)
              if mv.mins.contains(a.name) =>
            byName.get(s"min_${a.name}").map(c =>
              if (exact) c else Min(c).toAggregateExpression())
          case AggregateExpression(Max(a: AttributeReference), _, false, None, _)
              if mv.maxs.contains(a.name) =>
            byName.get(s"max_${a.name}").map(c =>
              if (exact) c else Max(c).toAggregateExpression())
          // avg(cast(c as decimal(18,2))) is served from the EXACT
          // operands the MV stores (decimal sum + count), rebuilt as
          // the very expression Average evaluates — Divide(sum as
          // decimal(28,2), count as decimal(20,0)) cast to the query's
          // decimal(22,6) — so the rewrite is bit-identical, not just
          // numerically close
          case AggregateExpression(
              Average(Cast(a: AttributeReference, dt: DecimalType, _, _), _), _, false, None, _)
              if dt.precision == 18 && dt.scale == 2 =>
            mvSum(a).map { sc =>
              val cnt = byName("cnt")
              val sumPart: Expression =
                if (exact) sc else Sum(sc).toAggregateExpression()
              val cntPart: Expression =
                if (exact) cnt else Sum(cnt).toAggregateExpression()
              Cast(
                Divide(Cast(sumPart, DecimalType(28, 2)),
                  Cast(cntPart, DecimalType(20, 0))),
                DecimalType(22, 6))
            }
          case _ => None
        }
        replacement.map(r => Alias(r, name)(exprId = al.exprId))
      case _ => None
    }
    if (mapped.exists(_.isEmpty)) None
    else if (exact) Some(Project(mapped.map(_.get), rel))
    else {
      val groupCols = agg.groupingExpressions.map {
        case a: AttributeReference => byName(a.name)
      }
      Some(Aggregate(groupCols, mapped.map(_.get), rel))
    }
  }
}
