package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incrementally maintained materialized aggregates over a
  * [[Snapshots]] base table — the missing piece between the snapshot
  * log and serving: a grouped count/sum view that a refresh brings
  * current by folding ONLY the data directories appended since the
  * last refresh (algebraic merge — counts and sums add), never
  * re-scanning history.
  *
  * The refreshed-through base version rides as a tag inside the MV's
  * own atomically-claimed manifest, so
  *  - refreshes are IDEMPOTENT (already-current → no new version),
  *  - a crash between base append and MV refresh loses nothing (the
  *    next refresh sees the old watermark and folds the gap),
  *  - the MV is itself versioned and time-travelable like any table.
  * If the base history was REWRITTEN under the watermark (compaction /
  * overwrite / DML / merge), dir-level delta folding would double- or
  * miss-count — detected by a dir-set subset check. Count/sum MVs
  * then fold the row-level CHANGE FEED ([[Snapshots.changesBetween]]:
  * only the dirs that entered/left the manifest are read; deletes
  * subtract — the aggregates are abelian); min/max MVs, which are not
  * deletion-invertible, fall back to one full recompute and a fresh
  * watermark.
  *
  * At 100 TB this is the nightly-rollup pattern: refresh cost is
  * O(new data) + O(|MV|), not O(base); sums stay exact decimals so a
  * merged refresh is bit-identical to a full recompute (tested, and
  * hash-checked against DuckDB by `q_mv_incremental`).
  */
object MaterializedView {

  private val TagPrefix = "mv_through "

  /** How the last refresh of EACH view on this JVM brought it current
    * — keyed by mvTable because maintainers now run CONCURRENTLY by
    * default under the parallel registry walk (a process-wide mutable
    * field would race two same-kind views and make the cost-path
    * assertions flaky). Values: "bootstrap" | "append-fold" |
    * "cdc-fold" | "recompute*" (aggregate views), "append-fold" |
    * "recompute*" (sketch views), "bootstrap" | "delta-join" | "noop"
    * (join views). Test introspection only.
    */
  private val refreshModes =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** The cost path the last refresh of `mvTable` took on this JVM
    * ("" if never refreshed here).
    */
  def lastRefreshModeOf(mvTable: String): String =
    Option(refreshModes.get(mvTable)).getOrElse("")

  private def setMode(mvTable: String, mode: String): Unit = {
    refreshModes.put(mvTable, mode); ()
  }

  /** The base version the MV at `mvTable` currently reflects (0 if the
    * MV does not exist yet).
    */
  def refreshedThrough(mvTable: String): Int =
    refreshedThroughAt(mvTable, Snapshots.currentVersion(mvTable))

  /** [[refreshedThrough]] at a PINNED view version — the accessor an
    * optimizer-rule registration must use so the watermark and the
    * served dirs come from the SAME version read (a concurrent refresh
    * landing between two separate head reads would pair an old
    * watermark with newer view content — a wrong answer, not
    * staleness).
    */
  def refreshedThroughAt(mvTable: String, v: Int): Int =
    Snapshots.tagWatermarkAt(mvTable, TagPrefix, v)

  /** Stable MV schema: keys, `cnt` long, one exact decimal(38,6)
    * running sum per sum column, plus native-typed min/max columns.
    * count/sum/min/max are the algebraic aggregates an APPEND-only
    * fold maintains exactly (deletes/rewrites trip the recompute
    * path); avg is served at read as sum/cnt of exact operands.
    */
  private def aggregate(df: DataFrame, keys: Seq[String], sums: Seq[String],
      mins: Seq[String], maxs: Seq[String]): DataFrame = {
    val aggs = sums.map(c => sum(col(c).cast("decimal(18,2)")).as(s"sum_$c")) ++
      mins.map(c => min(col(c)).as(s"min_$c")) ++
      maxs.map(c => max(col(c)).as(s"max_$c"))
    df.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("cnt"), aggs: _*)
      .select(keys.map(col) ++ (col("cnt") +:
        (sums.map(c => col(s"sum_$c").cast("decimal(38,6)").as(s"sum_$c")) ++
          mins.map(c => col(s"min_$c")) ++
          maxs.map(c => col(s"max_$c")))): _*)
  }

  /** Bring the MV current with the base table's head version. Returns
    * the MV version serving the result (unchanged when already
    * current). A [[Snapshots.foldThrough]] under the `mv_through`
    * watermark: the watermark AND the folded MV content both come from
    * ONE pinned MV version, so a racing refresh can never fold a delta
    * into content that already holds it.
    */
  def refresh(spark: SparkSession, baseTable: String, mvTable: String,
      keys: Seq[String], sums: Seq[String],
      mins: Seq[String] = Nil, maxs: Seq[String] = Nil): Int =
    Snapshots.foldThrough(baseTable, mvTable, TagPrefix) { f =>
      // no watermark yet, or one vacuumed under the MV
      setMode(mvTable, if (f.lastV == 0) "bootstrap" else "recompute-vacuumed")
      f.replace(aggregate(Snapshots.readVersion(spark, baseTable, f.curV),
        keys, sums, mins, maxs))
    } { f =>
      val newDirs = Snapshots.versionDirs(baseTable, f.curV)
      val oldDirs = Snapshots.versionDirs(baseTable, f.lastV)
      def merges = sums.map(c => sum(col(s"sum_$c")).cast("decimal(38,6)").as(s"sum_$c")) ++
        mins.map(c => min(col(s"min_$c")).as(s"min_$c")) ++
        maxs.map(c => max(col(s"max_$c")).as(s"max_$c"))
      def foldInto(delta: DataFrame) =
        Snapshots.readVersion(spark, mvTable, f.head).unionByName(delta)
          .groupBy(keys.map(col): _*)
          .agg(sum(col("cnt")).cast("long").as("cnt"), merges: _*)
      f.replace(
        if (oldDirs.toSet.subsetOf(newDirs.toSet)) {
          setMode(mvTable, "append-fold")
          val deltaDirs = newDirs.filterNot(oldDirs.toSet)
          // a tag-only base bump (new version, zero new data dirs)
          // must advance the watermark, not crash an empty-path read
          if (deltaDirs.isEmpty) Snapshots.readVersion(spark, mvTable, f.head)
          else foldInto(aggregate(Snapshots.readDirs(spark, baseTable, f.curV, deltaDirs),
            keys, sums, mins, maxs))
        } else if (mins.isEmpty && maxs.isEmpty) {
          // history REWRITTEN under the watermark (DML / merge /
          // compaction): counts and exact-decimal sums are ABELIAN, so
          // fold the row-level change feed — which reads ONLY the dirs
          // that entered or left the manifest — instead of re-scanning
          // the base. A fully-deleted group's count reaches 0 and is
          // dropped. (A pure compaction's feed is empty — the fold
          // no-ops where the old path re-scanned everything.)
          setMode(mvTable, "cdc-fold")
          val (ins, del) = Snapshots.changesBetween(spark, baseTable, f.lastV, f.curV)
          val plus = aggregate(ins, keys, sums, Nil, Nil)
          val minus = aggregate(del, keys, sums, Nil, Nil)
            .select(keys.map(col) ++ ((-col("cnt")).as("cnt") +:
              sums.map(c => (-col(s"sum_$c")).cast("decimal(38,6)").as(s"sum_$c"))): _*)
          foldInto(plus.unionByName(minus)).where(col("cnt") > 0)
        } else {
          // min/max are not deletion-invertible: a rewritten history
          // under a min/max MV recomputes from the current snapshot
          setMode(mvTable, "recompute")
          aggregate(Snapshots.readVersion(spark, baseTable, f.curV), keys, sums, mins, maxs)
        })
    }

  /** Continuously maintained rollup: each micro-batch lands in the
    * base snapshot table EXACTLY-ONCE ([[Snapshots.ingestBatch]]) and
    * the MV is brought current in the same foreachBatch — so readers
    * of the MV always see a consistent, at-most-one-batch-stale
    * aggregate. A replayed batch no-ops on both sides: the ingest tag
    * blocks the double-append, and the refresh watermark is already at
    * the head. The streaming form of the nightly-rollup pattern.
    *
    * With `autoRegister` the MV-aware rewrite pin
    * ([[graft.plans.MvRewrite.register]]) moves forward INSIDE the
    * same foreachBatch, replacing the table's previous registration —
    * so a matching aggregate issued BETWEEN micro-batches is served
    * fresh from the view; without it (or in the refresh-to-register
    * instant) the structural freshness check makes the query fall back
    * to its base scan, never to a stale answer.
    */
  def ingestWithRollup(stream: DataFrame, baseTable: String, mvTable: String,
      streamId: String, keys: Seq[String], sums: Seq[String],
      mins: Seq[String] = Nil, maxs: Seq[String] = Nil,
      autoRegister: Boolean = false)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    stream.writeStream.outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        Snapshots.ingestBatch(batch, baseTable, streamId, batchId)
        refresh(batch.sparkSession, baseTable, mvTable, keys, sums, mins, maxs)
        if (autoRegister)
          graft.plans.MvRewrite.register(baseTable, mvTable, keys, sums, mins, maxs)
        ()
      }

  // ---- incrementally maintained SKETCH views (mergeable state) ----

  private val SkTagPrefix = "mvsk_through "

  /** The base version the SKETCH view at `mvTable` currently reflects
    * (0 if the view does not exist yet) — [[refreshedThrough]]'s twin
    * under the sketch watermark, read by the optimizer-rule pin
    * ([[graft.plans.MvRewrite.registerSketch]]).
    */
  def sketchRefreshedThrough(mvTable: String): Int =
    sketchRefreshedThroughAt(mvTable, Snapshots.currentVersion(mvTable))

  /** [[sketchRefreshedThrough]] at a PINNED view version — see
    * [[refreshedThroughAt]] for why registrations must pin one read.
    */
  def sketchRefreshedThroughAt(mvTable: String, v: Int): Int =
    Snapshots.tagWatermarkAt(mvTable, SkTagPrefix, v)

  /** Incrementally maintained MERGEABLE-SKETCH view — the sketch cell
    * of the MV matrix next to count/sum (abelian fold), min/max
    * (recompute on DML) and join views (signed deltas): per-key HLL
    * sketches of `idCol` (approximate distinct) brought current by
    * UNION-MERGING only the data directories appended since the last
    * refresh. HLL registers merge by max, so an append fold is exact —
    * the merged view's REGISTERS (hence estimates) equal a one-shot
    * recompute's, not merely within error (asserted in SourcesSpec).
    * Deletes are NOT invertible (a register has no memory of who set
    * it): a rewritten history degrades to one full recompute and a
    * fresh watermark, the min/max convention. A
    * [[Snapshots.foldThrough]] like [[refresh]].
    *
    * At 100 TB this is the streaming-distinct pattern: per-(day,
    * dimension) user sketches maintained at O(new data) per refresh
    * with |MV| ≈ keys × 2^lgK bytes, served with union-across-keys
    * rollups — the exact distinct would need a users×keys shuffle per
    * question.
    */
  def sketchRefresh(spark: SparkSession, baseTable: String, mvTable: String,
      keys: Seq[String], idCol: String, lgK: Int = 12): Int = {
    def agg(df: DataFrame) = df.groupBy(keys.map(col): _*)
      .agg(expr(s"hll_sketch_agg($idCol, $lgK)").as("sk"))
    Snapshots.foldThrough(baseTable, mvTable, SkTagPrefix) { f =>
      setMode(mvTable, if (f.lastV == 0) "bootstrap" else "recompute-vacuumed")
      f.replace(agg(Snapshots.readVersion(spark, baseTable, f.curV)))
    } { f =>
      val newDirs = Snapshots.versionDirs(baseTable, f.curV)
      val oldDirs = Snapshots.versionDirs(baseTable, f.lastV)
      f.replace(
        if (oldDirs.toSet.subsetOf(newDirs.toSet)) {
          setMode(mvTable, "append-fold")
          val deltaDirs = newDirs.filterNot(oldDirs.toSet)
          // a tag-only base bump (new version, zero new data dirs)
          // must advance the watermark, not crash an empty-path read
          if (deltaDirs.isEmpty) Snapshots.readVersion(spark, mvTable, f.head)
          else Snapshots.readVersion(spark, mvTable, f.head)
            .unionByName(agg(Snapshots.readDirs(spark, baseTable, f.curV, deltaDirs)))
            .groupBy(keys.map(col): _*)
            .agg(expr("hll_union_agg(sk)").as("sk"))
        } else {
          // history rewritten under the watermark: registers are not
          // deletion-invertible — recompute from the current snapshot
          setMode(mvTable, "recompute")
          agg(Snapshots.readVersion(spark, baseTable, f.curV))
        })
    }
  }

  /** Continuously maintained sketch rollup — [[ingestWithRollup]]'s
    * mergeable-state twin: each micro-batch lands in the base
    * exactly-once and the sketch view union-merges the batch's
    * registers in the same foreachBatch (an append fold by
    * construction — streaming ingest never rewrites history). A
    * replayed batch no-ops on both sides. With `autoRegister` the
    * sketch-rewrite pin ([[graft.plans.MvRewrite.registerSketch]])
    * moves forward inside the same foreachBatch — a matching
    * `hll_sketch_agg` aggregate issued between micro-batches is
    * optimizer-served from the stored registers, and the structural
    * freshness check falls back to the base scan in the
    * refresh-to-register instant, never to a stale answer.
    */
  def ingestWithSketchRollup(stream: DataFrame, baseTable: String,
      mvTable: String, streamId: String, keys: Seq[String], idCol: String,
      lgK: Int = 12, autoRegister: Boolean = false)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    stream.writeStream.outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        Snapshots.ingestBatch(batch, baseTable, streamId, batchId)
        sketchRefresh(batch.sparkSession, baseTable, mvTable, keys, idCol, lgK)
        if (autoRegister)
          graft.plans.MvRewrite.registerSketch(baseTable, mvTable, keys, idCol, lgK)
        ()
      }

  // ---- incrementally maintained JOIN views (delta joins) ----

  private val JTagL = "mvj_left_through "
  private val JTagR = "mvj_right_through "

  /** The join view's [[SignedIndex]]: a bag of view rows (every column
    * but `sgn` is the key, the net weight its multiplicity) under the
    * two per-base watermarks.
    */
  private[graft] val JoinView = new SignedIndex(Seq(JTagL, JTagR), Nil, "sgn")

  /** The (left base, right base) versions the JOIN view at `mvTable`
    * currently reflects ((0, 0) if the view does not exist) — read by
    * the optimizer-rule pin ([[graft.plans.MvRewrite.registerJoin]]).
    */
  def joinRefreshedThrough(mvTable: String): (Int, Int) =
    joinRefreshedThroughAt(mvTable, Snapshots.currentVersion(mvTable))

  /** [[joinRefreshedThrough]] at a PINNED view version — see
    * [[refreshedThroughAt]] for why registrations must pin one read.
    */
  def joinRefreshedThroughAt(mvTable: String, v: Int): (Int, Int) =
    (Snapshots.tagWatermarkAt(mvTable, JTagL, v), Snapshots.tagWatermarkAt(mvTable, JTagR, v))

  /** Incrementally maintained JOIN view V = π(cols)(L ⋈_key R) over
    * two [[Snapshots]] base tables — the other half of view
    * maintenance next to [[refresh]]'s aggregates: joins are not
    * algebraic per group, so the delta is the SIGNED delta-join
    * expansion in its two-term form (V_new − V_old = ΔL⋈R_new +
    * L_old⋈ΔR — the classic three-term ΔL⋈R_old + L_old⋈ΔR + ΔL⋈ΔR
    * nets to the same multiset by bilinearity; deletes carry −1),
    * appended as tombstone-folded rows and netted at read
    * ([[serveJoin]]). Each refresh reads ONLY the change feed of each
    * base ([[Snapshots.changesBetween]] — the dirs that entered/left
    * the manifest) joined against the other side's pinned version:
    * O(Δ·matched) per refresh, never a full re-join. Per-base
    * watermark versions ride as tags on the view's own atomic commits
    * (crash between base DML and refresh loses nothing — the next
    * refresh folds the gap); the commit runs the snapshot commit loop
    * (see [[Snapshots]]) against the pinned view version — a
    * two-watermark fold, so it stages its own claims. Netted bootstrap,
    * serve and compaction: [[JoinView]].
    *
    * At 100 TB this is how a wide denormalized serving table follows
    * its normalized sources: the delta join shuffles only changed keys
    * plus their matches, and the netted view is itself a snapshot
    * table — versioned, time-travelable, compactable.
    */
  def joinRefresh(spark: SparkSession, leftTable: String, rightTable: String,
      mvTable: String, key: String): Int = {
    val lCur = Snapshots.currentVersion(leftTable)
    val rCur = Snapshots.currentVersion(rightTable)
    require(lCur > 0 && rCur > 0, "both join-view bases need a committed version")
    val v = Snapshots.headCas(mvTable, "join-view refresh") { mvV =>
      // both watermark tags resolve from the pinned view head, so a
      // lost claim re-derives the remaining delta from the winner's
      // tags (a blind append would double-fold the signed expansion,
      // which netting cannot cancel)
      val (lLast, rLast) = joinRefreshedThroughAt(mvTable, mvV)
      if (lLast >= lCur && rLast >= rCur) {
        setMode(mvTable, "noop")
        Snapshots.Resolved(mvV)
      } else {
        val lTo = math.max(lCur, lLast)
        val rTo = math.max(rCur, rLast)
        val tags = Seq(JTagL + lTo, JTagR + rTo)
        // vacuumed watermark on either base → full bootstrap recompute
        // (the aggregate-MV convention), never a permanently failing
        // delta read against a retired manifest
        if (!Snapshots.versionAvailable(leftTable, lLast) ||
            !Snapshots.versionAvailable(rightTable, rLast)) {
          setMode(mvTable, "bootstrap")
          val full = Snapshots.readVersion(spark, leftTable, lTo)
            .join(Snapshots.readVersion(spark, rightTable, rTo), key)
            .withColumn("sgn", lit(1L))
          JoinView.nettedClaim(full, mvTable, tags)
        } else {
          setMode(mvTable, "delta-join")
          val (lIns, lDel) = Snapshots.changesBetween(spark, leftTable, lLast, lTo)
          val (rIns, rDel) = Snapshots.changesBetween(spark, rightTable, rLast, rTo)
          val dL = lIns.withColumn("sl", lit(1L)).unionByName(
            lDel.withColumn("sl", lit(-1L)))
          val dR = rIns.withColumn("sr", lit(1L)).unionByName(
            rDel.withColumn("sr", lit(-1L)))
          // TWO-term signed expansion (r15): V_new − V_old =
          // ΔL⋈R_new + L_old⋈ΔR — the three-term ΔL⋈R_old + L_old⋈ΔR +
          // ΔL⋈ΔR form netted to the same multiset (bilinearity of ⋈
          // over signed multisets: ΔL⋈R_new = ΔL⋈R_old + ΔL⋈ΔR) but
          // ran one more join per refresh and appended tombstone pairs
          // that only existed to cancel at read. One fewer join, fewer
          // appended rows, identical net view (SourcesSpec serving
          // assertions + the q_mv_join_* oracles are the proof).
          val lOld = Snapshots.readVersion(spark, leftTable, lLast)
          val rNew = Snapshots.readVersion(spark, rightTable, rTo)
          val delta =
            dL.join(rNew, key).withColumn("sgn", col("sl")).drop("sl")
              .unionByName(
                lOld.join(dR, key).withColumn("sgn", col("sr")).drop("sr"))
          Snapshots.appendClaim(delta, mvTable, mvV, tags)
        }
      }
    }
    JoinView.maybeCompact(spark, mvTable)
    v
  }

  /** Net view of the signed join rows: multiset multiplicity restored
    * by expanding each live row `sgn` times (a join view is a BAG — two
    * identical right rows yield two identical view rows) with the
    * streaming generator, never an O(multiplicity) sequence array.
    */
  def serveJoin(spark: SparkSession, mvTable: String): DataFrame =
    serveJoinAt(spark, mvTable, Snapshots.currentVersion(mvTable))

  /** [[serveJoin]] at a pinned view `version` (the rewrite rule's pin). */
  def serveJoinAt(spark: SparkSession, mvTable: String, version: Int): DataFrame = {
    val df = JoinView.serveAt(spark, mvTable, version)
    Snapshots.replicateRows(df, col("sgn"), df.columns.filter(_ != "sgn").toSeq)
  }
}
