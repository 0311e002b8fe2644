package graft.sources

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession

/** Dependent-index catalog: which derived structures hang off a
  * versioned base table, and how to fold a base-table change into each
  * of them. Two halves:
  *
  *  - **Maintainers** (code): a family name → maintenance function
  *    `(spark, baseTable, roots) => Unit` registered once per process
  *    (e.g. "bm25" → [[graft.functions.TextFunctions.bm25Maintain]]).
  *    Every maintainer follows the watermark convention — it reads the
  *    base change feed from its own maintained-through tag and no-ops
  *    when already current — so walking the registry is idempotent.
  *  - **Attachments** (persisted): per base table, the list of
  *    (family, index roots) that depend on it, stored as a tiny
  *    `meta/dependents.list` next to the snapshot manifests. New index
  *    families must attach here to be reached by [[maintainAll]]; a
  *    family that skips the registry silently misses DML coverage —
  *    exactly the failure the catalog exists to prevent.
  *
  * The flagship composition is [[forgetWhere]]: ONE erasure predicate
  * (the GDPR right-to-be-forgotten request) deletes from the base
  * snapshot and folds the change feed through EVERY attached family in
  * a single pass. Each built-in family's tables are [[SignedIndex]]es
  * (fold, net, serve and compaction contract stated there): a fold
  * appends O(changed rows) of signed deltas and never rewrites an
  * index, so the erasure costs O(erased data × families), never
  * O(corpus).
  *
  * Reference analog: Database.deleteRecord propagating a record
  * mutation into every access path (table heap + every B+ tree index);
  * here the "indexes" are the engine's persisted serving structures —
  * BM25 postings/doclen/totals, MinHash bands, SimHash blocks,
  * exact-dedup fingerprints, IVF lists, the kNN graph.
  *
  * Concurrency: every built-in family's fold commits through the
  * snapshot commit loop (protocol: [[Snapshots]]), so CONCURRENT
  * registry walks on one base — an erasure stream racing a re-crawl
  * stream racing an ad-hoc maintainAll — converge to the sequential
  * serve (race-tested in ForgetSpec). Attachments still follow the
  * single-driver convention (racing attach calls would need the
  * manifest claim); they are written once at bootstrap.
  */
object IndexRegistry {

  /** (spark, baseTable, indexRoots) => fold the base's pending change
    * feed into the family's index tables. Must be watermark-idempotent.
    */
  type Maintainer = (SparkSession, String, Seq[String]) => Unit

  private val maintainers =
    new java.util.concurrent.ConcurrentHashMap[String, Maintainer]()

  /** Register (or replace) the maintenance function for a family. */
  def registerMaintainer(family: String)(fn: Maintainer): Unit = {
    require(!family.contains("\t") && !family.contains("\n"),
      s"family name '$family' must not contain tabs/newlines")
    maintainers.put(family, fn)
    ()
  }

  /** Registered family names (for specs / diagnostics). */
  def registeredFamilies: Set[String] = maintainers.keySet().asScala.toSet

  private def depsFile(baseTable: String) =
    Paths.get(baseTable, "meta", "dependents.list")

  /** Attach a family's index roots to a base table (idempotent; the
    * persisted half of the catalog). Requires the maintainer to be
    * registered first, so an attachment can never name a family the
    * process cannot fold.
    */
  def attach(baseTable: String, family: String, roots: Seq[String]): Unit = {
    require(maintainers.containsKey(family),
      s"no maintainer registered for index family '$family'")
    roots.foreach(r => require(!r.contains("\t") && !r.contains("\n"),
      s"index root '$r' must not contain tabs/newlines"))
    val line = (family +: roots).mkString("\t")
    val existing = dependents(baseTable)
    existing.find(_._1 == family) match {
      case Some((_, prev)) =>
        require(prev == roots,
          s"family '$family' already attached to $baseTable with different roots " +
            s"(${prev.mkString(", ")} vs ${roots.mkString(", ")})")
      case None =>
        Files.createDirectories(depsFile(baseTable).getParent)
        Files.write(depsFile(baseTable), (line + "\n").getBytes(StandardCharsets.UTF_8),
          java.nio.file.StandardOpenOption.CREATE,
          java.nio.file.StandardOpenOption.APPEND)
    }
    ()
  }

  /** The (family, roots) attachments of a base table, in attach order.
    * Deduplicated by family: two RACING attaches of the same family
    * that both observed it absent may both append their line; when the
    * lines are IDENTICAL the first wins (same roots, no harm). Lines
    * for one family with DIFFERENT roots fail LOUD here instead of
    * being silently masked: [[attach]]'s divergent-roots check only
    * catches the non-racing case (second attacher reads the first's
    * line), and a masked divergence means the dropped attacher's index
    * roots are never maintained while its caller believes the attach
    * succeeded — a torn registry, the exact failure this catalog
    * exists to prevent.
    */
  def dependents(baseTable: String): Seq[(String, Seq[String])] = {
    val p = depsFile(baseTable)
    if (!Files.exists(p)) return Seq.empty
    val lines = Files.readAllLines(p, StandardCharsets.UTF_8).asScala.toSeq
      .filter(_.nonEmpty)
      .map { l =>
        val parts = l.split("\t", -1).toSeq
        (parts.head, parts.tail)
      }
    val divergent = lines.groupBy(_._1)
      .collect { case (f, ls) if ls.map(_._2).distinct.size > 1 => f }
    require(divergent.isEmpty,
      s"dependents catalog at $baseTable carries DIVERGENT roots for " +
        s"famil${if (divergent.size == 1) "y" else "ies"} " +
        s"${divergent.mkString(", ")} — two racing attaches registered " +
        "different index roots; reconcile the catalog (keep one line per " +
        "family) before walking, or the losing roots silently miss " +
        "maintenance")
    lines.distinctBy(_._1)
  }

  /** Fold the base table's pending changes through EVERY attached
    * family (one registry walk = one maintenance pass). Returns the
    * family names folded, in order. Fails loudly if an attachment
    * names an unregistered family — a torn registry must not silently
    * skip an index.
    */
  def maintainAll(s: SparkSession, baseTable: String): Seq[String] =
    maintainAllTimed(s, baseTable).map(_._1)

  /** [[maintainAll]] with a per-family wall-clock budget: returns
    * (family, fold millis) in walk order — the measured line behind
    * the O(erased docs) claim (each fold's cost is the family's
    * change-feed work plus its ~constant manifest-commit floor, so the
    * budget separates the two: vary the erased set and the variable
    * part moves while the floor stands; see
    * [[graft.tools.ForgetBudget]] for the committed artifact).
    *
    * Families fold IN PARALLEL by default: each maintainer owns
    * disjoint index roots and reads the same immutable base change
    * feed, so the folds are independent Spark jobs — walking them
    * concurrently makes a DML batch's maintenance latency the MAX
    * over families instead of the SUM of their ~0.5 s commit floors
    * (measured: the six-family document walk drops ~6 s → ~2 s; see
    * tools/forget_budget_r12.md). Per-table manifest claims stay
    * atomic under concurrency (the optimistic-commit contract), and
    * the returned order is still attach order. `parallel = false`
    * keeps the sequential walk for callers that want isolated
    * per-family timings (ForgetBudget's measured artifact).
    */
  def maintainAllTimed(s: SparkSession, baseTable: String,
      parallel: Boolean = true): Seq[(String, Long)] = {
    val deps = dependents(baseTable)
    val resolved = deps.map { case (family, roots) =>
      val fn = Option(maintainers.get(family)).getOrElse(
        sys.error(s"attachment names unregistered index family '$family' " +
          s"at $baseTable — registerMaintainer before maintainAll"))
      (family, roots, fn)
    }
    def fold(family: String, roots: Seq[String], fn: Maintainer): (String, Long) = {
      val t0 = System.nanoTime()
      fn(s, baseTable, roots)
      val t1 = System.nanoTime()
      val ms = (t1 - t0) / 1000000L
      walkLogAdd((baseTable, family, ms, t0, t1))
      (family, ms)
    }
    if (!parallel || resolved.size <= 1)
      resolved.map { case (f, r, fn) => fold(f, r, fn) }
    else {
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration._
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.global
      val futures = resolved.map { case (f, r, fn) => Future(fold(f, r, fn)) }
      // settle EVERY fold before surfacing any failure — an exception
      // must not leave sibling folds committing in the background
      // while the caller already unwound (it would observe a
      // partially-folded walk with work still in flight); failures
      // aggregate as suppressed exceptions. The per-fold budget is
      // finite and generous: a hung family fails the walk loudly
      // instead of blocking the DML caller forever.
      val settled = futures.map(f =>
        scala.util.Try(Await.result(f, 30.minutes)))
      val failures = settled.collect { case scala.util.Failure(e) => e }
      if (failures.nonEmpty) {
        failures.tail.foreach(failures.head.addSuppressed)
        throw failures.head
      }
      settled.map(_.get)
    }
  }

  /** One walk-log entry: (baseTable, family, fold millis, fold start
    * nanos, fold end nanos). Wall-clock endpoints let the bench report
    * the WALL a DML request actually waits (max end − min start across
    * a query's parallel folds) next to the fold-time SUM.
    */
  type WalkEntry = (String, String, Long, Long, Long)

  /** Per-fold walk log, appended by every [[maintainAllTimed]] on this
    * JVM. The bench harness drains it around each query to attach
    * registry-maintenance latency (`walk_ms` / `walk_wall_ms`) to the
    * queries that triggered walks, so a maintenance-latency regression
    * trips deterministically instead of hiding inside a composite
    * query's wall-clock. BOUNDED: only the bench drains it, so on a
    * long-lived driver running DML without a bench the log would grow
    * one entry per family per walk forever — past [[WalkLogCap]] the
    * oldest entries drop (counted in [[droppedWalkEntries]]), keeping
    * the footprint flat while the drain-around-query contract is
    * unaffected (a bench drains far more often than the cap fills).
    */
  private val walkLog =
    new java.util.concurrent.ConcurrentLinkedQueue[WalkEntry]()
  private val WalkLogCap = 4096
  private val walkLogSize = new java.util.concurrent.atomic.AtomicInteger(0)
  private val droppedWalk = new java.util.concurrent.atomic.LongAdder()

  private def walkLogAdd(e: WalkEntry): Unit = {
    walkLog.add(e)
    if (walkLogSize.incrementAndGet() > WalkLogCap) {
      if (walkLog.poll() != null) { walkLogSize.decrementAndGet(); droppedWalk.increment() }
    }
    ()
  }

  /** Entries dropped from the capped walk log since JVM start. */
  def droppedWalkEntries: Long = droppedWalk.sum()

  /** Remove and return everything accumulated in the walk log. */
  def drainWalkLog(): Seq[WalkEntry] = {
    val buf = scala.collection.mutable.ArrayBuffer[WalkEntry]()
    var e = walkLog.poll()
    while (e != null) { buf += e; walkLogSize.decrementAndGet(); e = walkLog.poll() }
    buf.toSeq
  }

  /** The GDPR composition: delete `cond` rows from the base snapshot
    * (one new version; NULL-cond rows kept, SQL DELETE semantics) and
    * fold the resulting change feed through every attached index
    * family in a single registry walk. Returns (new base version,
    * families folded).
    */
  def forgetWhere(s: SparkSession, baseTable: String,
      cond: org.apache.spark.sql.Column): (Int, Seq[String]) = {
    val v = Snapshots.deleteWhere(s, baseTable, cond)
    (v, maintainAll(s, baseTable))
  }

  /** The UPDATE composition — [[forgetWhere]]'s edit twin: rewrite
    * `column` to `value` where `cond` holds (one new base version;
    * file-selective) and fold the change feed — which carries an
    * update as delete-of-old + insert-of-new — through every attached
    * family in one registry walk.
    */
  def updateWhere(s: SparkSession, baseTable: String,
      cond: org.apache.spark.sql.Column, column: String,
      value: org.apache.spark.sql.Column): (Int, Seq[String]) = {
    val v = Snapshots.updateWhere(s, baseTable, cond, column, value)
    (v, maintainAll(s, baseTable))
  }

  /** One micro-batch of STREAMED erasure requests, exactly-once: the
    * delete commits tagged (streamId, batchId)
    * ([[Snapshots.deleteBatch]] — a replay no-ops instead of
    * resurrecting content), then ONE registry walk folds the change
    * feed through every attached family. A replayed batch no-ops end
    * to end: the tag blocks the re-delete, and an unchanged base
    * version leaves every family's watermark where it was.
    */
  def forgetBatch(s: SparkSession, baseTable: String,
      cond: org.apache.spark.sql.Column, streamId: String,
      batchId: Long): (Int, Seq[String]) = {
    val v = Snapshots.deleteBatch(s, baseTable, cond, streamId, batchId)
    (v, maintainAll(s, baseTable))
  }

  /** CASCADING erasure — the referential-integrity composition over
    * [[forgetWhere]]: a GDPR request names a PARENT entity (the
    * customer), but compliance requires erasing the entity row AND
    * every child fact keyed to it AND every access path of every
    * table touched. The cascade resolves the parent's matched keys
    * BEFORE the parent delete (pinned with a localCheckpoint so the
    * child predicates survive the parent rewrite), then forgetWhere's
    * the parent (its families fold), then deletes each child on the
    * matched keys (their families fold). Returns (table, new version)
    * in deletion order.
    *
    * TWO child-predicate forms, chosen by matched-key count:
    *  - ≤ `maxInlineKeys` (a compliance queue's human-scale request):
    *    a driver-collected key list feeding a pushed `fk IN (…)`
    *    predicate through [[forgetWhere]] — file-selective, footer-
    *    answered, the point-delete fast path.
    *  - above it (the firehose case — a court order covering millions
    *    of subjects): the keys never leave the cluster; each child
    *    deletes via [[Snapshots.deleteMatching]] — a key SEMI-JOIN
    *    existence probe + ANTI-JOIN rewrite of only the touched dirs
    *    — and its families fold through the same registry walk. Both
    *    forms are proven equal in ForgetSpec.
    */
  def forgetCascade(s: SparkSession, parentTable: String,
      parentCond: org.apache.spark.sql.Column, keyCol: String,
      children: Seq[(String, String)],
      maxInlineKeys: Int = 1000): Seq[(String, Int)] = {
    import org.apache.spark.sql.functions.col
    val matched = Snapshots.read(s, parentTable).where(parentCond)
      .select(keyCol).distinct().localCheckpoint()
    // bounded fetch: read at most maxInlineKeys+1 rows to CLASSIFY the
    // request — never the full firehose key set
    val head = matched.limit(maxInlineKeys + 1).collect()
    val inline: Option[Seq[Long]] =
      if (head.length > maxInlineKeys) None
      // getAs[Number]: the key column may be INT or BIGINT depending
      // on the loader — a raw getLong would ClassCastException on int
      else Some(head.map(_.getAs[Number](0).longValue).toSeq)
    val pv = forgetWhere(s, parentTable, parentCond)._1
    val childVs = inline match {
      case Some(keys) if keys.isEmpty =>
        children.map { case (t, _) => t -> Snapshots.currentVersion(t) }
      case Some(keys) =>
        children.map { case (t, fk) =>
          t -> forgetWhere(s, t, col(fk).isin(keys: _*))._1
        }
      case None =>
        children.map { case (t, fk) =>
          val v = Snapshots.deleteMatching(s, t, fk,
            matched.withColumnRenamed(keyCol, fk))
          maintainAll(s, t)
          t -> v
        }
    }
    (parentTable -> pv) +: childVs
  }

  /** One micro-batch of STREAMED CASCADING erasure, exactly-once —
    * [[forgetBatch]] composed over the FK fan-out: the batch carries
    * PARENT entity keys, and every child predicate derives from those
    * keys INSIDE the batch (never from a pre-delete parent lookup —
    * a crash between the parent delete and a child delete would
    * otherwise leave the replay unable to resolve the fan-out, since
    * the parent rows are already gone). Each table's delete commits
    * under its OWN (streamId, batchId) tag, so a partial crash
    * resumes exactly the tables that missed and a full replay no-ops
    * end to end; each table's attached families fold in its own
    * registry walk. Returns (table, version) in deletion order.
    */
  def forgetCascadeBatch(s: SparkSession, parentTable: String,
      keyCol: String, ids: Seq[Long], children: Seq[(String, String)],
      streamId: String, batchId: Long): Seq[(String, Int)] = {
    import org.apache.spark.sql.functions.col
    val pv = Snapshots.deleteBatch(s, parentTable,
      col(keyCol).isin(ids: _*), streamId, batchId)
    maintainAll(s, parentTable)
    val childVs = children.map { case (t, fk) =>
      val v = Snapshots.deleteBatch(s, t, col(fk).isin(ids: _*),
        streamId, batchId)
      maintainAll(s, t)
      t -> v
    }
    (parentTable -> pv) +: childVs
  }

  /** Continuous CASCADING right-to-be-forgotten — [[forgetStream]]'s
    * referential-integrity twin: a stream of parent-entity erasure
    * keys (column `idCol`) cascades through the parent table AND
    * every FK child per micro-batch, every attached family of every
    * table maintained inside the same batch, exactly-once at each
    * table ([[forgetCascadeBatch]]). Erasure requests are human-scale
    * (the compliance-queue contract), so the batch's key set is a
    * bounded driver fetch; a firehose-scale cascade belongs in
    * [[forgetCascade]]'s semi-join form.
    */
  def forgetCascadeStream(requests: org.apache.spark.sql.DataFrame,
      parentTable: String, keyCol: String, idCol: String,
      children: Seq[(String, String)], streamId: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    requests.writeStream.outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, batchId: Long) =>
        val ids = batch.select(idCol).distinct().collect()
          .map(_.getAs[Number](0).longValue).toSeq
        if (ids.nonEmpty) {
          forgetCascadeBatch(batch.sparkSession, parentTable, keyCol, ids,
            children, streamId, batchId)
          ()
        }
      }

  /** One micro-batch of STREAMED re-crawl/upsert content, exactly-once
    * — the UPDATE twin of [[forgetBatch]] and the last cell of the
    * streaming DML matrix (insert: ingestBatch+walk, delete:
    * forgetBatch, update/upsert: THIS): the keyed batch of
    * (key, new content) rows merges via [[Snapshots.mergeBatch]]
    * (tagged — a foreachBatch replay no-ops instead of clobbering
    * LATER batches' rewrites of the same keys), then ONE registry walk
    * folds the change feed — each upsert arriving as delete-of-old +
    * insert-of-new — through every attached family. A replayed batch
    * no-ops end to end: the ingest tag blocks the re-merge and an
    * unchanged base version leaves every maintenance watermark in
    * place.
    */
  def recrawlBatch(batch: org.apache.spark.sql.DataFrame, baseTable: String,
      key: String, streamId: String, batchId: Long): (Int, Seq[String]) = {
    val v = Snapshots.mergeBatch(batch, baseTable, key, streamId, batchId)
    (v, maintainAll(batch.sparkSession, baseTable))
  }

  /** Continuous re-crawl: run a stream of keyed content rewrites (and
    * newly discovered rows — merge is an upsert) against the base
    * table, every attached index family maintained inside the same
    * micro-batch. The crawler-refresh loop of a production corpus:
    * content changes land exactly-once and search/dedup/ANN serve the
    * new text one registry walk later.
    */
  def recrawlStream(stream: org.apache.spark.sql.DataFrame, baseTable: String,
      key: String, streamId: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    stream.writeStream.outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, batchId: Long) =>
        recrawlBatch(batch, baseTable, key, streamId, batchId)
        ()
      }

  /** Continuous right-to-be-forgotten: run a stream of erasure-request
    * ids (column `idCol`, long) against the base table, every attached
    * index family maintained inside the same micro-batch. Erasure
    * requests are human-scale (a bounded trickle per micro-batch —
    * they arrive from a compliance queue, not a firehose), so the
    * batch's id set is a legitimate driver fetch feeding a pushed IN
    * predicate; a firehose-scale delete belongs in [[forgetWhere]]
    * with a join-expressible predicate.
    */
  def forgetStream(requests: org.apache.spark.sql.DataFrame,
      baseTable: String, idCol: String, streamId: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    requests.writeStream.outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, batchId: Long) =>
        val ids = batch.select(idCol).distinct().collect()
          .map(_.getAs[Number](0).longValue).toSeq
        if (ids.nonEmpty) {
          forgetBatch(batch.sparkSession, baseTable,
            org.apache.spark.sql.functions.col(idCol).isin(ids: _*),
            streamId, batchId)
          ()
        }
      }
}
