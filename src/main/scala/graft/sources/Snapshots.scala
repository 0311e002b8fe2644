package graft.sources

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** Versioned snapshot layer over parquet sinks — the
  * table-format pattern (Iceberg/Delta-style, re-implemented minimally
  * on plain files): every commit writes immutable data directories
  * plus a manifest listing the directories that make up that version;
  * readers resolve a manifest once and then see a frozen snapshot no
  * later commit can disturb. This completes the reference's
  * transaction story (reference: Database.java Transaction begin/
  * commit over heap files; concurrency/LockManager.java) the
  * Spark-native way: writers never mutate what readers can see, so
  * isolation needs no lock manager — only an atomic manifest swap.
  *
  * Layout:
  * {{{
  *   table/
  *     data/<version>-<nonce>/part-*.parquet   (immutable)
  *     cdc/<nonce>/part-*.parquet              (DML change-row sidecars)
  *     meta/v<N>.manifest                      (one data dir per line)
  * }}}
  *
  * Besides its data dirs, a manifest carries '#'-prefixed tag lines.
  * One of them, `#schema <json>`, is the version's committed read
  * schema: every commit writes it (inherited from the predecessor, or
  * read once off the footer of the first staged parquet part), and
  * every read of a committed version applies it, so no read runs
  * Spark's schema-inference job. Layouts the footer cannot describe
  * (partitioned sub-directories, non-parquet caches) write no line,
  * and their reads — like those of manifests written before the line
  * existed — fall back to inference.
  *
  * Commit protocol (optimistic, lock-free; the one place it is
  * stated — every commit, fold and compaction below runs it): the
  * commit point is the CREATION of `vN.manifest`, done with an atomic
  * hard link — `link(2)` fails with EEXIST if version N is already
  * claimed, whereas `rename(2)` silently replaces (two racing
  * committers would lose a commit, the bug the reference's
  * LockManager exists to prevent — reference:
  * concurrency/LockManager.java:30 acquireLock). ONE retry loop,
  * [[headCas]], wraps that claim; no other code reaches it. Each
  * attempt pins the head H and runs the caller's step against H,
  * which either
  *  - resolves without a commit ([[Resolved]]: already current, the
  *    batch already committed, a conflict abort), or
  *  - stages one [[Claim]] of H + 1: its manifest dirs (derived from
  *    H's content, never from a re-read head), its tags, whether H's
  *    schema tags are inherited, and the dirs it staged, which are
  *    deleted when the claim is lost.
  * The claim of exactly H + 1 IS the compare-and-swap: any commit
  * since the pin makes it fail, so a step can never stack content on
  * a head it did not read. A lost claim deletes the claim's staged
  * dirs, is counted per table ([[drainFoldContention]]: lost claims
  * and backoff ms), sleeps a bounded jittered exponential backoff
  * (1..2^attempt ms, at most 100 ms) and re-runs the step against the
  * new head — up to [[MaxCommitAttempts]] attempts, after which the
  * commit fails naming the table and the operation. Watermark folds
  * ([[foldThrough]]) add a per-table admission gate in front of the
  * loop. No writer ever blocks another.
  *
  * Row-level DML (delete, update, merge; the reference's
  * updateRecord/deleteRecord, Database.java) is ONE step, [[dml]],
  * run per attempt — Delta's copy-on-write DML on this format:
  *  - touched set: a one-dir head is its own; more dirs run one
  *    existence-probe job ([[probeTouched]]) that answers
  *    non-matching files from parquet min/max stats;
  *  - split: the touched dirs' kept and removed rows are staged by one
  *    [[writeSplit]] (kept → one data dir, removed → the CDC sidecar);
  *    untouched dirs carry by reference, and an update's replacement
  *    rows or a merge's source land as one more dir;
  *  - no-match rule: a removed side with no rows (its footer count,
  *    no job) drops the split, and a verb with nothing to insert
  *    resolves to the head without a commit (a batch delete commits
  *    its tag alone, so a replay still no-ops);
  *  - coercion rule: an update whose value changes the column's type
  *    rewrites the whole head as one dir in the new type, never a mix
  *    of per-dir types.
  * The claim is the CAS, so a racing commit makes the step re-probe
  * the new head: no DML verb aborts.
  *
  * Scale notes: a manifest lists directories, not files, so it stays
  * tiny; commits are O(new data) with no rewrite of prior versions;
  * `vacuum` drops directories unreachable from any retained manifest.
  * On a real deployment the create-exclusive manifest claim maps to
  * the metastore / catalog conditional-put every table format relies
  * on (Iceberg's compare-and-swap commit, Delta's transaction log
  * `N.json` put-if-absent).
  */
object Snapshots {

  private def meta(table: String): Path = Paths.get(table, "meta")

  private val ManifestRe = "^v(\\d+)\\.manifest$".r

  /** Current committed version = max N with a vN.manifest present,
    * 0 if the table does not exist yet. Resolution scans the (tiny)
    * meta directory rather than trusting a mutable HEAD pointer, so
    * it cannot observe a stale cache of a concurrent commit.
    */
  def currentVersion(table: String): Int = {
    val m = meta(table)
    if (!Files.exists(m)) return 0
    listDir(m)
      .flatMap(p => p.getFileName.toString match {
        case ManifestRe(n) => Some(n.toInt)
        case _ => None
      })
      .foldLeft(0)(math.max)
  }

  /** Files.list with the stream closed — currentVersion runs inside the
    * commit retry loop, so a leaked directory handle per attempt would
    * accumulate until GC.
    */
  private def listDir(dir: Path): Seq[Path] = {
    val s = Files.list(dir)
    try s.iterator().asScala.toSeq finally s.close()
  }

  /** Whether version `v`'s manifest is still resolvable (vacuum
    * retires manifests below the retention window) — the check a
    * watermark consumer runs before asking for a possibly-vacuumed
    * version, so it can degrade to a full recompute instead of
    * crashing on every refresh forever.
    */
  def versionAvailable(table: String, version: Int): Boolean =
    version > 0 && Files.exists(meta(table).resolve(s"v$version.manifest"))

  private def manifestDirs(table: String, version: Int): Seq[String] = {
    val p = meta(table).resolve(s"v$version.manifest")
    require(Files.exists(p), s"no snapshot v$version at $table")
    Files.readAllLines(p, StandardCharsets.UTF_8).asScala.toSeq
      .filter(l => l.nonEmpty && !l.startsWith("#"))
  }

  /** Atomically claim version `version`: true iff this caller created
    * the manifest. Content is staged to a unique tmp file first, so
    * the claim publishes fully-written bytes; the hard link is the
    * atomic create-exclusive. `tags` are provenance comment lines
    * ('#'-prefixed, ignored by [[manifestDirs]]) committed ATOMICALLY
    * with the version — the exactly-once anchor for streaming ingest.
    * A claim whose tags carry no schema line records the one its dirs'
    * footers declare ([[footerSchema]]), so every commit path writes it.
    */
  private def claimManifest(table: String, version: Int, dirs: Seq[String],
      tags: Seq[String] = Nil): Boolean = {
    Files.createDirectories(meta(table))
    val all =
      if (tags.exists(_.startsWith(SchemaTagPrefix))) tags
      else tags ++ footerSchema(dirs).map(st => SchemaTagPrefix + st.json)
    val tmp = meta(table).resolve(s".v$version-${java.util.UUID.randomUUID}.tmp")
    Files.write(tmp,
      (all.map("#" + _) ++ dirs).mkString("\n").getBytes(StandardCharsets.UTF_8))
    try {
      Files.createLink(meta(table).resolve(s"v$version.manifest"), tmp)
      true
    } catch {
      case _: java.nio.file.FileAlreadyExistsException => false
    } finally Files.deleteIfExists(tmp)
  }

  /** Footer key under which Spark's parquet writer stores the written
    * Spark schema — the key Spark's own schema inference reads first.
    */
  private val SparkSchemaKey = "org.apache.spark.sql.parquet.row.metadata"

  /** The read schema Spark would infer for `dirs`, read on the driver
    * instead of in an inference job: the Spark schema the first data
    * file in path order (the file inference samples) declares in its
    * footer, all fields nullable as Spark serves file sources. None —
    * the commit then writes no schema line and reads keep inferring —
    * for layouts a footer cannot describe: partition sub-directories
    * (their columns live in the paths), non-parquet files, or files
    * whose writer recorded no Spark schema.
    */
  private def footerSchema(dirs: Seq[String]): Option[org.apache.spark.sql.types.StructType] = {
    import org.apache.spark.sql.types.{DataType, StructType}
    def hidden(p: Path) = {
      val n = p.getFileName.toString
      n.startsWith("_") || n.startsWith(".")
    }
    def declared(f: Path): Option[String] = {
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        new org.apache.parquet.io.LocalInputFile(f),
        org.apache.parquet.ParquetReadOptions.builder()
          .withMetadataFilter(
            org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS)
          .build())
      try Option(r.getFooter.getFileMetaData.getKeyValueMetaData.get(SparkSchemaKey))
      finally r.close()
    }
    // an unreadable dir or footer is the reads' problem, never the commit's
    scala.util.Try {
      val parts = dirs.map(Paths.get(_)).filter(Files.isDirectory(_))
        .flatMap(d => listDir(d).filterNot(hidden))
      if (parts.exists(p => Files.isDirectory(p) ||
          !p.getFileName.toString.endsWith(".parquet"))) None
      else parts.map(_.toAbsolutePath).sortBy(_.toString).headOption
        .flatMap(declared).map(DataType.fromJson)
        .collect { case st: StructType => StructType(st.fields.map(_.copy(nullable = true))) }
    }.toOption.flatten
  }

  private def writeData(df: DataFrame, table: String): String = {
    val dir = Paths.get(table, "data", java.util.UUID.randomUUID.toString)
    df.write.mode(SaveMode.ErrorIfExists).parquet(dir.toString)
    ensureParquetFooter(df, dir.toString)
    dir.toString
  }

  /** Footer guard for persisted writes: an EMPTY frame whose optimized
    * plan collapses to zero output partitions (empty-relation
    * propagation) writes no parquet part at all — only _SUCCESS — and
    * every later read of the dir dies with UNABLE_TO_INFER_SCHEMA.
    * That is the day-one shape of a production pipeline (no data yet),
    * so when no part file landed, write one empty part from a 1-slice
    * RDD (which empty-relation pruning cannot elide): the schema —
    * including partition columns, landing as regular columns of the
    * empty part — is then always recoverable by readers.
    */
  def ensureParquetFooter(df: DataFrame, path: String): Unit = {
    def hasPart(dir: Path): Boolean = listDir(dir).exists { f =>
      if (Files.isDirectory(f)) hasPart(f)
      else f.getFileName.toString.endsWith(".parquet")
    }
    val p = Paths.get(path)
    if (!Files.exists(p) || !hasPart(p)) {
      val s = df.sparkSession
      s.createDataFrame(
        s.sparkContext.parallelize(Seq.empty[org.apache.spark.sql.Row], 1),
        df.schema)
        .write.mode(SaveMode.Append).parquet(path)
    }
  }

  /** ErrorIfExists staging write + [[ensureParquetFooter]], so an empty
    * corpus stages a readable (schema-bearing) empty table — the
    * staging write of [[BuildOnce.build]] and of other staged commits.
    */
  def writeStaged(df: DataFrame, out: String, partitionCols: String*): Unit = {
    val w = df.write.mode(SaveMode.ErrorIfExists)
    (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w)
      .parquet(out)
    ensureParquetFooter(df, out)
  }

  // ---- the commit protocol: one head-CAS retry loop ----

  /** The attempt cap of [[headCas]], shared by every commit. */
  private val MaxCommitAttempts = 100

  /** What one attempt of [[headCas]] does at the pinned head. */
  private[graft] sealed trait Attempt

  /** Resolve to `version` without committing: already current, the
    * batch already committed, or a conflict the caller aborts on.
    */
  private[graft] final case class Resolved(version: Int) extends Attempt

  /** Stage one claim of head + 1. `dirs` is the new manifest's content,
    * derived from the pinned head; `tags` its provenance lines;
    * `staged` the dirs this attempt wrote, deleted when the claim is
    * lost (data staged once, before the loop, stays out of it and is
    * re-listed by the next attempt). `inheritSchema` (the default): a
    * content-PRESERVING commit (append, transform, merge, ingest,
    * delta fold) without a schema tag of its own re-commits the
    * head's schema metadata, so a plain append after an evolution
    * cannot revert the table to footer-inferred reads;
    * content-REPLACING claims (overwrites, index builds, bootstraps)
    * pass false and record their own footer schema ([[claimManifest]]).
    */
  private[graft] final case class Claim(dirs: Seq[String],
      tags: Seq[String] = Nil, inheritSchema: Boolean = true,
      staged: Seq[String] = Nil) extends Attempt

  /** THE commit loop (see the object scaladoc for the protocol): pin
    * the head, run `step` against it, and claim exactly head + 1 when
    * it stages a [[Claim]]. A lost claim deletes the staged dirs, is
    * counted and backed off ([[backOff]]) and re-runs `step` against
    * the new head; a [[Resolved]] step returns its version. Returns
    * the committed (or resolved) version; fails after
    * [[MaxCommitAttempts]] lost claims, naming `what` and the table.
    */
  private[sources] def headCas(table: String, what: String)(
      step: Int => Attempt): Int = {
    var attempt = 0
    while (attempt < MaxCommitAttempts) {
      attempt += 1
      val head = currentVersion(table)
      step(head) match {
        case Resolved(v) => return v
        case Claim(dirs, tags, inheritSchema, staged) =>
          val all =
            if (inheritSchema && head > 0 && !tags.exists(_.startsWith(SchemaTagPrefix)))
              tags ++ schemaMetaTags(table, head)
            else tags
          if (claimManifest(table, head + 1, dirs, all)) return head + 1
          staged.foreach(deleteDataDir)
          backOff(table, attempt)
      }
    }
    sys.error(s"$what on $table lost $MaxCommitAttempts head races")
  }

  /** The dirs of version `v`, none for the empty table (v = 0). */
  private def headDirs(table: String, v: Int): Seq[String] =
    if (v == 0) Seq.empty else manifestDirs(table, v)

  /** A claim replacing the table's content with `df`, staged as one
    * fresh dir that defines the schema afresh.
    */
  private[sources] def replaceClaim(df: DataFrame, table: String,
      tags: Seq[String] = Nil): Claim = {
    val dir = writeData(df, table)
    Claim(Seq(dir), tags, inheritSchema = false, staged = Seq(dir))
  }

  /** A claim appending `df`, staged as one fresh dir, to version
    * `head`'s content.
    */
  private[sources] def appendClaim(df: DataFrame, table: String, head: Int,
      tags: Seq[String] = Nil): Claim = {
    val dir = writeData(df, table)
    Claim(headDirs(table, head) :+ dir, tags, staged = Seq(dir))
  }

  /** Commit a new version whose content REPLACES the table. */
  def commitOverwrite(df: DataFrame, table: String): Int =
    commitOverwriteTagged(df, table, Nil)

  // ---- CDC sidecars: every DML commit records its own row delta ----

  /** Tag prefixes recording a DML commit's CHANGE-ROW dirs in its
    * manifest (r16): a version carrying one of these asserts
    * multiset(v) = multiset(v−1) − rows(cdcdel dirs) + rows(cdcins
    * dirs) — written by the DML that PRODUCED the delta, so
    * [[changesBetween]] can read O(changed rows) instead of
    * re-reading and netting both versions of every touched dir (the
    * Delta CDF design). Sidecar dirs live under `table/cdc/` — outside
    * the data root, so [[vacuum]] never mistakes them for orphans.
    */
  private val CdcInsTag = "cdcins "
  private val CdcDelTag = "cdcdel "

  /** Marker for a commit whose LIVE ROW MULTISET equals its
    * predecessor's (compaction / re-layout): the change feed skips the
    * step outright instead of reading and netting the rewritten dirs
    * to an empty delta.
    */
  private val CdcNoopTag = "cdcnoop"

  /** Expand each surviving netted row `copies` times with a STREAMING
    * generator — the same [[org.apache.spark.sql.catalyst.expressions
    * .ReplicateRows]] Spark's own RewriteExceptAll plans — instead of
    * materializing an O(copies) `sequence(1, net)` array per row (r15
    * advice: a heavily-duplicated row of a low-cardinality sidecar
    * table would allocate a net-length Long array, or trip sequence's
    * length cap, where exceptAll streamed).
    */
  private[sources] def replicateRows(df: DataFrame,
      copies: org.apache.spark.sql.Column, cols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.{GraftColumnBridge => B}
    import org.apache.spark.sql.functions.col
    val survivors = df.where(copies > 0)
    survivors.select(B.column(
      org.apache.spark.sql.catalyst.expressions.ReplicateRows(
        B.expression(copies.cast("long")) +:
          cols.map(c => B.expression(survivors(c))))))
      .toDF(cols: _*)
      .select(cols.map(col): _*)
  }

  /** DML split write: stage the kept rows as a fresh data dir and the
    * removed rows as a fresh CDC sidecar dir, as TWO PARALLEL filtered
    * writes over the same source (§2.6 — measured wall-equal to the
    * single pre-sidecar filtered write, see OPTIMIZATION_r16.md; a
    * one-pass partitionBy(hit) write cost ~+30% from dynamic-partition
    * sorting and was rejected). Both dirs stay readable when a side is
    * empty ([[ensureParquetFooter]]). Returns (dataDir, cdcDir).
    */
  private def writeSplit(kept: DataFrame, removed: DataFrame,
      table: String): (String, String) = {
    val dataDir = stageDir(table)
    val cdcDir = Paths.get(table, "cdc",
      java.util.UUID.randomUUID.toString).toString
    graft.Par.run(
      () => { kept.write.mode(SaveMode.ErrorIfExists).parquet(dataDir); () },
      () => { removed.write.mode(SaveMode.ErrorIfExists).parquet(cdcDir); () })
    ensureParquetFooter(kept, dataDir)
    ensureParquetFooter(removed, cdcDir)
    (dataDir, cdcDir)
  }

  /** The rows a row-level DML removes from a frame, and the rows it
    * keeps — complementary filters; `removed` doubles as the probe.
    */
  private final class Rows(val removed: DataFrame => DataFrame,
      val kept: DataFrame => DataFrame)

  /** The `cond`-TRUE rows leave; NULL-cond rows are KEPT (SQL DELETE
    * semantics — a bare where(!cond) would drop them, NOT NULL being
    * NULL), so a row's fate never depends on which dir it shares with
    * a real match.
    */
  private def rowsWhere(cond: org.apache.spark.sql.Column): Rows = {
    import org.apache.spark.sql.functions.{coalesce, lit}
    val hit = coalesce(cond, lit(false))
    new Rows(_.where(cond), _.where(!hit))
  }

  /** The rows whose `key` appears in `keys` leave, matched as a key
    * SEMI-JOIN (and kept as the ANTI-JOIN) — never a driver-collected
    * IN list, so the key set may be data-sized. Join strategy is left
    * to AQE on purpose: a point-keyed batch broadcasts, a bulk one
    * shuffles. The distinct keys are checkpointed once, on first use,
    * so every attempt matches the same set.
    */
  private def rowsKeyed(keys: DataFrame, key: String): Rows = {
    lazy val k = keys.select(org.apache.spark.sql.functions.col(key))
      .distinct().localCheckpoint()
    new Rows(_.join(k, Seq(key), "left_semi"), _.join(k, Seq(key), "left_anti"))
  }

  /** THE row-level DML step (the object scaladoc states its rules):
    * every delete, update and merge runs it once per [[headCas]]
    * attempt against the pinned head. A replayed `batch` resolves to
    * its own version. Otherwise the step finds the touched dirs (a
    * one-dir head is its own touched set; more dirs run ONE
    * [[probeTouched]] job), stages their kept and removed rows as one
    * [[writeSplit]], writes the verb's insert side — `replace` of the
    * removed rows (an update) or `land` (a merge source) — and claims
    * the untouched dirs plus the staged ones with their
    * `cdcdel`/`cdcins` tags and the batch tag. A removed side with no
    * rows (a footer count, no job) drops the split; with nothing to
    * insert either the step resolves to the head without a commit,
    * except that a batch commits its tag alone so a replay still
    * no-ops. A `replace` that changes a column's type rewrites the
    * whole head as one dir in the new type instead. A lost claim
    * re-probes the new head, so no verb ever aborts.
    */
  private def dml(spark: SparkSession, table: String, what: String, rows: Rows,
      batch: Option[(String, Long)] = None,
      replace: Option[DataFrame => DataFrame] = None,
      land: Option[DataFrame] = None): Int =
    headCas(table, what) { cur =>
      batch.flatMap { case (id, b) => replayedVersion(table, id, b) } match {
        case Some(v) => Resolved(v)
        case None =>
          require(cur > 0 || land.isDefined, s"$what: no committed version at $table")
          val tags = batch.map { case (id, b) => ingestTag(id, b) }.toSeq
          val dirs = headDirs(table, cur)
          lazy val head = readVersion(spark, table, cur)
          replace.map(_(head))
            .filter(_.schema.map(_.dataType) != head.schema.map(_.dataType)) match {
            case Some(coerced) =>
              // every row's column changes type: the whole head is the
              // delta, and mixed per-dir types would corrupt reads — one
              // dir whose footer defines the schema, tombstones carried
              replaceClaim(coerced, table, tags ++ droppedMetaTags(table, cur))
            case None =>
              val touched =
                if (dirs.size <= 1) dirs
                else probeTouched(committedReader(spark, table, cur), dirs, rows.removed)
              val split =
                if (touched.isEmpty) None
                else {
                  val src = readDirs(spark, table, cur, touched)
                  Some(writeSplit(rows.kept(src), rows.removed(src), table))
                }
              val hit = split.filter { case (_, del) => footerRows(spark, Seq(del)) > 0 }
              if (hit.isEmpty) split.foreach { case (k, d) => deleteDataDir(k); deleteDataDir(d) }
              val ins = hit.toSeq.flatMap { case (_, del) =>
                replace.map(f => writeData(f(readDirs(spark, table, cur, Seq(del))), table))
              } ++ land.map(writeData(_, table))
              if (hit.isEmpty && ins.isEmpty)
                if (batch.isEmpty) Resolved(cur) else Claim(dirs, tags)
              else {
                val (kept, dels) = hit.toSeq.unzip
                val gone = if (hit.isDefined) touched.toSet else Set.empty[String]
                Claim(dirs.filterNot(gone) ++ kept ++ ins,
                  tags ++ dels.map(CdcDelTag + _) ++ ins.map(CdcInsTag + _),
                  staged = kept ++ dels ++ ins)
              }
          }
      }
    }

  /** Versioned DELETE — the reference's deleteRecord (reference:
    * Database.java) on immutable storage: the rows where `cond` holds
    * leave in a NEW version (NULL-cond rows kept), so concurrent
    * readers keep theirs and time travel reaches the pre-DML state.
    * Runs the [[dml]] step: only the touched dirs are rewritten, the
    * deleted rows land as the CDC sidecar, and a racing append is
    * re-probed, never dropped. Returns the version serving the delete
    * (the head, unchanged, when no row matches).
    */
  def deleteWhere(spark: SparkSession, table: String,
      cond: org.apache.spark.sql.Column): Int =
    dml(spark, table, "deleteWhere", rowsWhere(cond))

  /** Versioned UPDATE — [[deleteWhere]]'s twin: `column` becomes
    * `value` in the rows where `cond` holds (when()'s semantics, NULL
    * cond keeps the old value). The removed rows are the CDC delete
    * side, and their replacement — one O(changed) job over that
    * sidecar — is both a data dir and the CDC insert side. A `value`
    * that changes the column's type rewrites the whole table as one
    * dir in the new type.
    */
  def updateWhere(spark: SparkSession, table: String,
      cond: org.apache.spark.sql.Column, column: String,
      value: org.apache.spark.sql.Column): Int = {
    import org.apache.spark.sql.functions.when
    dml(spark, table, "updateWhere", rowsWhere(cond),
      replace = Some(df => df.withColumn(column, when(cond, value).otherwise(df(column)))))
  }

  @deprecated("deleteWhere is file-selective and never aborts", "0.1.0")
  def deleteWhereSelective(spark: SparkSession, table: String,
      cond: org.apache.spark.sql.Column): Option[Int] = Some(deleteWhere(spark, table, cond))

  @deprecated("updateWhere is file-selective and never aborts", "0.1.0")
  def updateWhereSelective(spark: SparkSession, table: String,
      cond: org.apache.spark.sql.Column, column: String,
      value: org.apache.spark.sql.Column): Option[Int] =
    Some(updateWhere(spark, table, cond, column, value))

  /** Keyed DELETE driven by a KEYS DATAFRAME — the join-expressible
    * (firehose) form of a cascading child erasure: every row whose
    * `key` appears in `keys` is deleted ([[rowsKeyed]]), so the
    * matched-key set can be DATA-SIZED (a court order covering
    * millions of subjects) without ever leaving the cluster. Returns
    * the version serving the delete (unchanged when no row matches).
    * `keys` must be stable across retries — pass a localCheckpoint()ed
    * frame, not a live query over the table being deleted from.
    */
  def deleteMatching(spark: SparkSession, table: String, key: String,
      keys: DataFrame): Int =
    dml(spark, table, "deleteMatching", rowsKeyed(keys, key))

  /** Keyed MERGE (upsert) — the CDC-apply / dimension-maintenance
    * write path (Delta MERGE INTO, Iceberg MERGE, re-expressed on the
    * snapshot format): every `source` row REPLACES the table row with
    * the same `key` (and inserts, for new keys), committed as ONE
    * atomic version: the [[dml]] step removes the matched rows from
    * the touched dirs and lands the source as one new dir, which
    * doubles as the CDC insert side. The claim is the CAS: the probe
    * is only valid against the exact snapshot it ran on, so any commit
    * since (even a pure append, which can carry matched keys the probe
    * never saw) re-probes — the serializable-conflict semantic
    * Delta/Iceberg MERGE enforces. `source` must be keyed (≤ 1 row per
    * key — a multi-row key makes "the" replacement ambiguous) and
    * stable across retries. Returns the committed version.
    */
  def merge(spark: SparkSession, table: String, source: DataFrame,
      key: String): Int =
    dml(spark, table, "merge", rowsKeyed(source, key), land = Some(source))

  /** EXACTLY-ONCE streaming merge — the CDC-apply loop: each
    * micro-batch of keyed changes upserts via [[merge]], the
    * (streamId, batchId) tag commits atomically with the version, and
    * a replayed batch resolves to its own version (an upsert replayed
    * against its own result would also be a no-op by value, but the
    * tag spares the rewrite entirely and anchors [[committedVersion]]
    * time travel).
    */
  def mergeBatch(df: DataFrame, table: String, key: String,
      streamId: String, batchId: Long): Int =
    dml(df.sparkSession, table, s"merge ($streamId, $batchId)", rowsKeyed(df, key),
      batch = Some((streamId, batchId)), land = Some(df))

  /** Time-travel DIFF between two committed versions, computed from
    * the MANIFESTS: a data directory shared by both manifests carries
    * identical rows by construction (dirs are immutable once
    * committed), so shared dirs cancel EXACTLY and only the symmetric
    * difference of the two dir sets is ever scanned — an append-mostly
    * history diffs in O(changed data), never O(table). The multiset
    * subtraction (exceptAll) then nets out rewrite churn: a DML that
    * rewrote a dir contributes only the rows that actually changed,
    * not the carried survivors. Rows are expressed in the TO version's
    * committed schema — the CDC consumer's view: evolved-in columns
    * read null for old rows, dropped columns are pruned.
    */
  def diff(spark: SparkSession, table: String,
      vFrom: Int, vTo: Int): DataFrame = {
    import org.apache.spark.sql.functions.{col, explode, lit, sequence, sum}
    val from = manifestDirs(table, vFrom)
    val to = manifestDirs(table, vTo)
    val reader = committedReader(spark, table, vTo)
    val onlyFrom = from.filterNot(to.toSet)
    val onlyTo = to.filterNot(from.toSet)
    def side(dirs: Seq[String]): DataFrame =
      if (dirs.isEmpty) readVersion(spark, table, vTo).where(lit(false))
      else reader.parquet(dirs: _*)
    // one signed netting pass shared by both directions instead of two
    // independent exceptAll calls — see [[changesBetween]] (r15): the
    // insert and delete branches become filters over ONE aggregate, so
    // ReuseExchange reads the symmetric difference once.
    val after = side(onlyTo)
    val cols = after.columns.toSeq
    val sgn = "__cdc_sgn"
    val net = "__cdc_net"
    require(!cols.contains(sgn) && !cols.contains(net),
      s"diff: table $table carries a reserved __cdc_ column")
    val netted = after.withColumn(sgn, lit(1L))
      .unionByName(side(onlyFrom).withColumn(sgn, lit(-1L)))
      .groupBy(cols.map(col): _*)
      .agg(sum(sgn).as(net))
    def branch(copies: org.apache.spark.sql.Column, chg: String) =
      replicateRows(netted, copies, cols).withColumn("chg", lit(chg))
    branch(col(net), "insert").unionByName(branch(-col(net), "delete"))
  }

  /** Reads of a committed version for WRITE paths (probe/rewrite):
    * apply the committed schema when one exists — a raw parquet read
    * would sample an arbitrary footer on an evolved table (a predicate
    * on an evolved-in column then fails to resolve, nondeterministic
    * by listing order) and re-expose dropped columns.
    */
  private def committedReader(spark: SparkSession, table: String, version: Int) =
    schemaOf(table, version)
      .map(st => spark.read.schema(st)).getOrElse(spark.read)

  /** Read some of version `version`'s data (or sidecar) dirs in its
    * committed schema — for callers that scan a subset of a manifest,
    * such as a fold reading only the dirs appended since its watermark.
    */
  private[sources] def readDirs(spark: SparkSession, table: String, version: Int,
      dirs: Seq[String]): DataFrame =
    committedReader(spark, table, version).parquet(dirs: _*)

  /** ONE existence-probe job over candidate dirs — not a serial
    * per-dir isEmpty loop, which at 100 TB (thousands of dirs per
    * manifest) would launch thousands of driver-serialized jobs.
    * `probe` (a pushed-down predicate or key semi-join) filters a scan
    * of ALL dirs at once — parquet footer min/max stats still answer
    * non-matching files from metadata inside the single scan — and
    * survivors reduce to their DISTINCT parent data directories
    * (bounded by dir count, tiny) via input_file_name. Job count is
    * O(1) in the number of dirs (asserted in SourcesSpec).
    */
  private def probeTouched(reader: org.apache.spark.sql.DataFrameReader,
      dirs: Seq[String], probe: DataFrame => DataFrame): Seq[String] = {
    import org.apache.spark.sql.functions.{col, input_file_name, regexp_replace}
    // input_file_name() is STAGE-LOCAL: it must be projected directly
    // on the scan, BEFORE the probe can introduce an exchange (a
    // shuffled semi-join evaluates it post-shuffle, where it returns
    // "") — so the parent-dir column rides along through the probe
    val withDir = reader.parquet(dirs: _*)
      .withColumn("_graft_dir",
        regexp_replace(input_file_name(), "/[^/]+$", ""))
    val touchedAbs = probe(withDir)
      .select(col("_graft_dir")).distinct().collect()
      .map(r => Paths.get(java.net.URI.create(r.getString(0))).toString)
    // match by PREFIX, not equality: files inside a partitioned data
    // dir (dir/cid=N/part-*.parquet) resolve to the cid= subdir, which
    // must still map back to its manifest dir
    dirs.filter { d =>
      val abs = Paths.get(d).toAbsolutePath.normalize.toString
      touchedAbs.exists(f => f == abs || f.startsWith(abs + "/"))
    }
  }

  /** CHANGE DATA FEED between two committed versions — the read half
    * of the CDC story ([[merge]]/[[mergeBatch]] being the apply half,
    * the Delta CDF analog): returns (inserted rows, deleted rows; an
    * update appears as delete-of-old + insert-of-new). Because every
    * commit carries unchanged dirs BY REFERENCE, the diff touches ONLY
    * the dirs that entered or left the manifest — at 100 TB a point
    * merge's feed reads a handful of files, never the table. Within
    * the changed dirs the row delta is an exact multiset EXCEPT ALL in
    * both directions (a rewritten dir re-carries its unchanged rows;
    * the except cancels them).
    */
  def changesBetween(spark: SparkSession, table: String,
      fromV: Int, toV: Int): (DataFrame, DataFrame) = {
    // FAST PATH (r16): walk the span version by version and assemble
    // the feed from each step's own change record — the appended dirs
    // for a pure append, the CDC sidecar for a DML commit ([[CdcInsTag]]
    // /[[CdcDelTag]]). The feed then reads O(changed rows): a delete
    // contributes its deleted rows, never the touched dirs' carried
    // survivors. Any step without a change record (bootstrap
    // overwrite, compaction transform, vacuumed intermediate manifest)
    // falls back to the manifest-diff netting below, whose result is
    // identical by construction
    // (equivalence asserted in RandomizedSpec against exceptAll on
    // random DML histories, both paths).
    val sidecar: Option[(Seq[String], Seq[String])] =
      if (fromV <= 0 || toV <= fromV ||
          !(fromV to toV).forall(v => versionAvailable(table, v))) None
      else {
        var ins = Vector.empty[String]
        var del = Vector.empty[String]
        var ok = true
        var prevDirs = manifestDirs(table, fromV)
        var v = fromV + 1
        while (ok && v <= toV) {
          val tags = versionTags(table, v)
          val curDirs = manifestDirs(table, v)
          val ci = tags.collect { case t if t.startsWith(CdcInsTag) =>
            t.drop(CdcInsTag.length) }
          val cd = tags.collect { case t if t.startsWith(CdcDelTag) =>
            t.drop(CdcDelTag.length) }
          if (ci.nonEmpty || cd.nonEmpty) { ins ++= ci; del ++= cd }
          else if (tags.contains(CdcNoopTag)) () // content-preserving
          else if (prevDirs.forall(curDirs.toSet)) // pure append / tag-only
            ins ++= curDirs.filterNot(prevDirs.toSet)
          else ok = false // rewrite without a change record
          prevDirs = curDirs
          v += 1
        }
        if (ok && (ins ++ del).forall(d => Files.exists(Paths.get(d))))
          Some((ins, del))
        else None
      }
    val (insDirs, delDirs) = sidecar.getOrElse {
      val from = manifestDirs(table, fromV)
      val to = manifestDirs(table, toV)
      (to.filterNot(from.toSet), from.filterNot(to.toSet))
    }
    // BOTH sides read in the TO version's committed schema (the
    // [[diff]] convention): a raw read over a schema-evolved history
    // would resolve different column sets for the two sides (old dirs
    // lack evolved-in columns) and exceptAll would throw or
    // footer-sample nondeterministically; with the committed schema,
    // evolved-in columns read null for old rows and the subtraction
    // is well-defined
    val reader = committedReader(spark, table, toV)
    val like = manifestDirs(table, toV) ++ manifestDirs(table, fromV)
    def readOrEmpty(dirs: Seq[String]) =
      if (dirs.nonEmpty) reader.parquet(dirs: _*)
      else reader.parquet(like: _*).limit(0)
    val before = readOrEmpty(delDirs)
    val after = readOrEmpty(insDirs)
    // A one-sided feed needs no netting: with nothing to subtract, the
    // netted replicate of the surviving side is the side itself (net =
    // its own copy count) — skip the group-by shuffle entirely. This is
    // every append-only fold, and every pure-delete DML fold on the
    // sidecar path.
    if (delDirs.isEmpty || insDirs.isEmpty) return (after, before)
    // Signed-count netting instead of two exceptAll calls. exceptAll
    // compiles to exactly this shape (±1 tag → union → sum-per-row →
    // replicate), but the two directions built separately union in
    // OPPOSITE order, so their exchanges never unify and every
    // maintenance fold shuffled the changed dirs TWICE. Deriving both
    // directions from ONE netted aggregate makes the two subtrees
    // byte-identical, and ReuseExchange serves the second direction
    // from the first one's shuffle files: one pass over the changed
    // dirs, half the change-feed shuffle. Semantics are unchanged —
    // for a row with a copies after and b before, net = a − b, and
    // replicating max(net, 0) / max(−net, 0) times is precisely
    // exceptAll's multiset subtraction in each direction.
    import org.apache.spark.sql.functions.{col, explode, lit, sequence, sum}
    val cols = after.columns.toSeq
    val sgn = "__cdc_sgn"
    val net = "__cdc_net"
    require(!cols.contains(sgn) && !cols.contains(net),
      s"changesBetween: table $table carries a reserved __cdc_ column")
    val netted = after.withColumn(sgn, lit(1L))
      .unionByName(before.withColumn(sgn, lit(-1L)))
      .groupBy(cols.map(col): _*)
      .agg(sum(sgn).as(net))
    (replicateRows(netted, col(net), cols),
      replicateRows(netted, -col(net), cols))
  }

  /** [[commitOverwrite]] carrying provenance tags in the manifest —
    * e.g. a quantizer's drift baseline. Tags commit atomically with the
    * version (same mechanism as streaming ingest's exactly-once
    * anchor).
    */
  def commitOverwriteTagged(df: DataFrame, table: String, tags: Seq[String]): Int = {
    val dir = writeData(df, table)
    headCas(table, "overwrite")(_ => Claim(Seq(dir), tags, inheritSchema = false))
  }

  /** The provenance tags committed with a version's manifest. */
  def versionTags(table: String, version: Int): Seq[String] = {
    val p = meta(table).resolve(s"v$version.manifest")
    require(Files.exists(p), s"no snapshot v$version at $table")
    Files.readAllLines(p, StandardCharsets.UTF_8).asScala.toSeq
      .filter(_.startsWith("#")).map(_.drop(1))
  }

  /** Commit a new version = previous content plus `df` (no rewrite of
    * existing data). Concurrent appenders serialize optimistically:
    * the loser of a version race retries on top of the winner's
    * manifest, so both data directories reach the final snapshot.
    * Assumes `df` matches the table's schema (the common fast path:
    * the version re-commits its predecessor's schema line, or, on a
    * table that has none yet, the one `df`'s written footer declares);
    * a batch carrying new columns must go through
    * [[commitAppendEvolved]], which commits the union schema
    * atomically with the version.
    */
  def commitAppend(df: DataFrame, table: String): Int = {
    val dir = writeData(df, table)
    headCas(table, "append")(head => Claim(headDirs(table, head) :+ dir))
  }

  /** One attempt of a [[foldThrough]] against the derived `table`'s
    * pinned `head`, whose watermark is `lastV` (0, or a base version
    * no longer readable, for a bootstrap), folding the base through
    * `curV`. Its two stagers build the step's [[Claim]]; the fold adds
    * the watermark tag.
    */
  private[graft] final class Fold private[Snapshots] (val table: String,
      val head: Int, val lastV: Int, val curV: Int) {
    /** Stage `df` as the table's whole content. */
    def replace(df: DataFrame): Claim = replaceClaim(df, table)

    /** Stage `df` appended to the pinned head's content. */
    def append(df: DataFrame): Claim = appendClaim(df, table, head)
  }

  /** WATERMARK FOLD — the maintenance cycle of every derived structure
    * (MVs, sketch and concurrency views, the clustered replica, every
    * tombstone-folded index): pin the base's head `curV` (or take the
    * caller's `pinned` version, for a walk folding several tables
    * through ONE base version), then run [[headCas]] on the derived
    * `table` with a step that reads the `prefix` watermark AT the
    * pinned derived head and
    *  - no-ops when it is ≥ `curV` (a racing fold already covered the
    *    span — watermarks only move forward),
    *  - runs `bootstrap` when it is 0 or names a base version no longer
    *    readable (vacuumed under the structure: one full recompute, not
    *    a delta read failing forever),
    *  - runs `delta` otherwise, derived STRICTLY from the pinned
    *    watermark (a changesBetween span),
    * and claims the staged content tagged `prefix + curV`. Two walks
    * that both observe watermark X therefore cannot BOTH fold X→Y: the
    * loser's claim is lost, its retry re-reads the winner's watermark
    * and no-ops — sign-netting cannot cancel a double-folded delta, so
    * the CAS is the correctness line. Returns the version serving the
    * fold (the winner's, when this fold no-oped).
    *
    * Admission control: a per-table fair semaphore bounds how many
    * folds compete for one head at a time, so a contention storm
    * queues instead of thrashing staged writes; lost claims back off
    * and are counted like every commit's (see the object scaladoc).
    */
  private[graft] def foldThrough(base: String, table: String, prefix: String,
      pinned: Option[Int] = None)(bootstrap: Fold => Claim)(
      delta: Fold => Claim): Int = {
    val curV = pinned.getOrElse(currentVersion(base))
    require(curV > 0, s"base table $base has no committed version")
    val gate = foldGates.computeIfAbsent(table,
      _ => new java.util.concurrent.Semaphore(MaxConcurrentFolds, true))
    gate.acquire()
    try headCas(table, s"fold of $base through v$curV") { head =>
      val lastV = tagWatermarkAt(table, prefix, head)
      if (lastV >= curV) Resolved(head)
      else {
        val f = new Fold(table, head, lastV, curV)
        val c = if (versionAvailable(base, lastV)) delta(f) else bootstrap(f)
        c.copy(tags = (prefix + curV) +: c.tags)
      }
    } finally gate.release()
  }

  // ---- contention: fold admission, commit backoff and its counters ----

  private val MaxConcurrentFolds = 4
  private val foldGates =
    new java.util.concurrent.ConcurrentHashMap[String, java.util.concurrent.Semaphore]()
  private val lostClaims =
    new java.util.concurrent.ConcurrentHashMap[String, java.util.concurrent.atomic.LongAdder]()
  private val backoffMs =
    new java.util.concurrent.ConcurrentHashMap[String, java.util.concurrent.atomic.LongAdder]()

  /** Record one lost claim on `table` and sleep a bounded exponential
    * backoff (2^attempt ms, capped at 100 ms, with uniform jitter) so
    * racing survivors de-synchronize instead of re-colliding in
    * lockstep.
    */
  private def backOff(table: String, attempt: Int): Unit = {
    lostClaims.computeIfAbsent(table,
      _ => new java.util.concurrent.atomic.LongAdder()).increment()
    val cap = math.min(100L, 1L << math.min(attempt, 7))
    val sleep = 1L + java.util.concurrent.ThreadLocalRandom.current().nextLong(cap)
    backoffMs.computeIfAbsent(table,
      _ => new java.util.concurrent.atomic.LongAdder()).add(sleep)
    Thread.sleep(sleep)
  }

  /** Drain the per-table commit-contention counters accumulated since
    * the last drain: table → (lost claim races, backoff ms slept).
    * The bench surfaces these next to walk_ms so a contention storm is
    * a tracked regression line, not an invisible retry tax.
    */
  def drainFoldContention(): Map[String, (Long, Long)] = {
    val tables = (lostClaims.keySet().asScala ++
      backoffMs.keySet().asScala).toSeq.distinct
    tables.map { t =>
      val c = Option(lostClaims.remove(t)).map(_.sum()).getOrElse(0L)
      val b = Option(backoffMs.remove(t)).map(_.sum()).getOrElse(0L)
      t -> (c, b)
    }.filter { case (_, (c, b)) => c > 0 || b > 0 }.toMap
  }

  /** Tombstone/delta debt of a derived table: (rows in the base data
    * dir, rows across all later delta dirs) — what [[SignedIndex]]'s
    * compaction policy weighs. Row counts come from
    * parquet metadata (a zero-column count scan reads footers, not
    * data pages), so this probe is cheap enough to run after every
    * maintenance fold. The manifest orders dirs oldest-first, and a
    * compaction overwrite collapses to ONE dir — so head = base.
    */
  def compactionDebt(spark: SparkSession, table: String): (Long, Long) = {
    val v = currentVersion(table)
    if (v == 0) return (0L, 0L)
    val counts = manifestDirs(table, v).map(d => footerRows(spark, Seq(d)))
    (counts.head, counts.tail.sum)
  }

  /** Exact row count of FLAT parquet data dirs straight off the
    * footers, on the driver — a policy/cost check must not cost one
    * Spark job per manifest dir (it runs inside every maintenance
    * entry point and at optimizer-rule registration; a long-lived
    * table can carry many delta dirs). Footer row counts are exact
    * (written by the committing job). Only DIRECT children are
    * counted — the [[writeData]]/[[stageDir]] layout; a
    * partition-structured dir needs a recursive walk this probe
    * deliberately does not pay.
    */
  def footerRows(spark: SparkSession, dirs: Seq[String]): Long = {
    val conf = spark.sessionState.newHadoopConf()
    dirs.map { d =>
      val p = new org.apache.hadoop.fs.Path(d)
      val fs = p.getFileSystem(conf)
      if (!fs.exists(p)) 0L
      else
        fs.listStatus(p).iterator
          .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
          .map { f =>
            val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(f.getPath, conf)
            val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
            try {
              var n = 0L
              val it = r.getFooter.getBlocks.iterator()
              while (it.hasNext) n += it.next().getRowCount
              n
            } finally r.close()
          }.sum
    }.sum
  }

  /** The base version recorded by a `prefix`-tagged watermark at
    * `table`'s HEAD version (0 when the table is empty or the head
    * carries no such tag) — the shared convention of every
    * incrementally-maintained derived structure (MV refresh, delete-
    * aware postings/band-index maintenance).
    */
  def tagWatermark(table: String, prefix: String): Int =
    tagWatermarkAt(table, prefix, currentVersion(table))

  /** [[tagWatermark]] pinned to an explicit version — for callers that
    * must read the watermark of the SAME head they later CAS against
    * (a fold, a compaction), instead of racing a second head lookup.
    */
  def tagWatermarkAt(table: String, prefix: String, v: Int): Int = {
    if (v == 0) 0
    else versionTags(table, v).collectFirst {
      case t if t.startsWith(prefix) => t.drop(prefix.length).toInt
    }.getOrElse(0)
  }

  // ---- schema evolution (metadata-driven, the Delta/Iceberg way) ----

  private val SchemaTagPrefix = "schema "
  private val DroppedTagPrefix = "schemadropped "

  /** The schema a version's manifest committed — every commit records
    * one unless its layout is one [[footerSchema]] cannot describe, or
    * the manifest predates the line. Resolution is one tiny manifest
    * read — never a parquet-footer sweep.
    */
  def schemaOf(table: String, version: Int): Option[org.apache.spark.sql.types.StructType] = {
    val p = meta(table).resolve(s"v$version.manifest")
    if (!Files.exists(p)) return None
    Files.readAllLines(p, StandardCharsets.UTF_8).asScala
      .find(_.startsWith("#" + SchemaTagPrefix))
      .map(l => org.apache.spark.sql.types.DataType
        .fromJson(l.stripPrefix("#" + SchemaTagPrefix))
        .asInstanceOf[org.apache.spark.sql.types.StructType])
  }

  /** Column names DROPPED from this table's committed schema at or
    * before `version` — the tombstone set that keeps a dropped name
    * from being "re-added" over files that still physically hold the
    * old values (which would resurrect stale data, or crash the scan
    * on a type change; Delta's columnMapping exists for this — without
    * physical-name mapping, forbidding reuse is the safe contract).
    */
  def droppedOf(table: String, version: Int): Set[String] = {
    val p = meta(table).resolve(s"v$version.manifest")
    if (!Files.exists(p)) return Set.empty
    Files.readAllLines(p, StandardCharsets.UTF_8).asScala
      .find(_.startsWith("#" + DroppedTagPrefix))
      .map(_.stripPrefix("#" + DroppedTagPrefix).split(",").toSet)
      .getOrElse(Set.empty)
  }

  /** A version's schema metadata lines verbatim (schema + tombstones),
    * for content-preserving commits to re-commit (see [[Claim]]).
    */
  private[sources] def schemaMetaTags(table: String, version: Int): Seq[String] = {
    val p = meta(table).resolve(s"v$version.manifest")
    if (!Files.exists(p)) return Nil
    Files.readAllLines(p, StandardCharsets.UTF_8).asScala.toSeq
      .filter(l => l.startsWith("#" + SchemaTagPrefix) ||
        l.startsWith("#" + DroppedTagPrefix))
      .map(_.stripPrefix("#"))
  }

  /** Only the tombstone line of a version's schema metadata — for a
    * rewrite that changes a column's type and so must derive the schema
    * afresh while still refusing re-use of dropped names.
    */
  private def droppedMetaTags(table: String, version: Int): Seq[String] =
    schemaMetaTags(table, version).filter(_.startsWith(DroppedTagPrefix))

  private def droppedTagFor(dropped: Set[String]): Seq[String] = {
    dropped.foreach(n => require(!n.contains(","),
      s"column name '$n' cannot be schema-tracked (contains ',')"))
    if (dropped.isEmpty) Nil
    else Seq(DroppedTagPrefix + dropped.toSeq.sorted.mkString(","))
  }

  /** Schema-EVOLVING append: commit `df` on top of the table even when
    * it carries columns the table has never seen. The union schema
    * (existing columns first, then `df`'s new ones, all nullable) is
    * validated — a same-name column changing its type is rejected, the
    * Delta `mergeSchema` contract — and committed ATOMICALLY with the
    * version as a manifest metadata line, so readers resolve the
    * evolved schema from the (tiny) manifest and old data directories
    * are NEVER rewritten: [[readVersion]] applies the committed schema
    * and parquet fills the missing columns with null. Metadata-driven
    * like Delta/Iceberg — at 100 TB the alternative (footer-merging
    * `mergeSchema=true` reads) would stat every file on every read.
    * The merged schema is recomputed against the winning predecessor
    * on every claim attempt, so racing evolving appenders compose.
    */
  def commitAppendEvolved(df: DataFrame, table: String): Int = {
    import org.apache.spark.sql.types.StructType
    val spark = df.sparkSession
    val dir = writeData(df, table)
    def merged(prev: Int): StructType = {
      val base: Option[StructType] =
        if (prev == 0) None
        else schemaOf(table, prev)
          .orElse(Some(spark.read.parquet(manifestDirs(table, prev): _*).schema))
      val add = df.schema
      base match {
        case None => StructType(add.fields.map(_.copy(nullable = true)))
        case Some(b) =>
          val byName = add.fields.map(f => f.name -> f).toMap
          b.fields.foreach { f =>
            byName.get(f.name).foreach { g =>
              require(g.dataType == f.dataType,
                s"schema evolution cannot change ${f.name}: ${f.dataType} -> ${g.dataType}")
            }
          }
          val existing = b.fieldNames.toSet
          val dropped = droppedOf(table, prev)
          val fresh = add.fields.filterNot(f => existing(f.name))
          fresh.foreach(f => require(!dropped(f.name),
            s"column ${f.name} was dropped from $table; old files still hold its " +
              "bytes, so re-adding the name would resurrect stale values — use a new name"))
          StructType((b.fields ++ fresh).map(_.copy(nullable = true)))
      }
    }
    headCas(table, "evolving append") { prev =>
      Claim(headDirs(table, prev) :+ dir, (SchemaTagPrefix + merged(prev).json) +:
        droppedTagFor(if (prev == 0) Set.empty else droppedOf(table, prev)))
    }
  }

  /** Metadata-ONLY schema commit — the DROP/reorder-COLUMN analog: the
    * new version carries the predecessor's data directories untouched
    * and records `schema` as the committed read schema. Readers prune
    * the dropped columns at scan time; no data is rewritten (Delta's
    * columnMapping-style drop).
    */
  def commitSchema(table: String, schema: org.apache.spark.sql.types.StructType): Int = {
    // committed read schemas are always nullable: files predating an
    // added column SERVE null for it, so a non-nullable field in the
    // table schema would be a lie the engine could miscompile on
    val nullable = org.apache.spark.sql.types.StructType(
      schema.fields.map(_.copy(nullable = true)))
    headCas(table, "schema commit") { prev =>
      val names = nullable.fieldNames.toSet
      val prevDropped = if (prev == 0) Set.empty[String] else droppedOf(table, prev)
      val resurrected = names.intersect(prevDropped)
      require(resurrected.isEmpty,
        s"columns ${resurrected.mkString(", ")} were dropped from $table; " +
          "re-adding the name would resurrect stale on-disk values — use a new name")
      // names leaving the committed schema join the tombstone set
      // (only trackable once the table is schema-tracked)
      val nowDropped = prevDropped ++ (if (prev == 0) Set.empty[String]
        else schemaOf(table, prev).map(_.fieldNames.toSet -- names)
          .getOrElse(Set.empty[String]))
      Claim(headDirs(table, prev),
        (SchemaTagPrefix + nullable.json) +: droppedTagFor(nowDropped))
    }
  }

  /** Commit a new version whose directory list is an arbitrary
    * transform of the predecessor's (compaction, re-clustering,
    * retention): `f` receives the current dirs and returns the new
    * list; re-evaluated against the NEW predecessor if the claim
    * races. Returns (version, dirs it replaced).
    */
  def commitTransform(table: String)(f: Seq[String] => Seq[String]): Int =
    headCas(table, "transform")(prev => Claim(f(headDirs(table, prev))))

  /** The data directories making up a committed version (read-only
    * view for compaction planners).
    */
  def versionDirs(table: String, version: Int): Seq[String] =
    manifestDirs(table, version)

  /** A fresh (unique, not yet committed) data directory path for
    * writers that stage data before a [[commitTransform]].
    */
  def stageDir(table: String): String =
    Paths.get(table, "data", java.util.UUID.randomUUID.toString).toString

  /** Read a version committed as one or more partitioned dirs (a full
    * build plus incremental appends): Spark cannot put several
    * partitioned roots under one scan without a shared basePath, so
    * each dir partition-discovers on its own and the frames union — a
    * filter on a partition column pushes into EVERY branch, so
    * partition pruning survives appends.
    */
  def readPartitionedDirs(spark: SparkSession, table: String, version: Int): DataFrame =
    manifestDirs(table, version).map(d => spark.read.parquet(d)).reduce(_.unionByName(_))

  /** Read the latest snapshot. */
  def read(spark: SparkSession, table: String): DataFrame =
    readVersion(spark, table, currentVersion(table))

  /** Time travel: read the exact content of any committed version.
    * The committed schema ([[schemaOf]]) is applied to the scan, so
    * resolving the frame runs no inference job; files predating an
    * evolved column serve null for it, files carrying since-dropped
    * columns are pruned to the committed schema — both without
    * rewriting a byte of data.
    */
  def readVersion(spark: SparkSession, table: String, version: Int): DataFrame =
    readDirs(spark, table, version, manifestDirs(table, version))

  // ---- streaming ingest: exactly-once micro-batch commits ----

  private def ingestTag(streamId: String, batchId: Long) =
    s"ingest $streamId $batchId"

  /** True iff (streamId, batchId) already committed — scans the (tiny)
    * manifest set for the provenance tag. On a metastore-backed
    * deployment this is one conditional read.
    */
  def batchCommitted(table: String, streamId: String, batchId: Long): Boolean = {
    val m = meta(table)
    if (!Files.exists(m)) return false
    val needle = "#" + ingestTag(streamId, batchId)
    listDir(m)
      .filter(_.getFileName.toString.matches("^v\\d+\\.manifest$"))
      .exists(p => Files.readAllLines(p, StandardCharsets.UTF_8).asScala
        .exists(_ == needle)) ||
    // tags from vacuumed manifests live on in the tombstone file, so a
    // batch replay older than the retention window still no-ops
    (Files.exists(tombstones(table)) &&
      Files.readAllLines(tombstones(table), StandardCharsets.UTF_8).asScala
        .exists(_ == needle))
  }

  private def tombstones(table: String): Path =
    meta(table).resolve("ingest.tombstones")

  /** The version whose manifest carries the (streamId, batchId) ingest
    * tag — i.e. the snapshot that batch's commit created. None if the
    * batch never committed or its manifest was vacuumed (the tombstone
    * file remembers the tag but not the version). Lets a replayed
    * batch recompute against exactly the table state its first attempt
    * saw (version − 1), making batch results replay-deterministic.
    */
  def committedVersion(table: String, streamId: String, batchId: Long): Option[Int] = {
    val m = meta(table)
    if (!Files.exists(m)) return None
    val needle = "#" + ingestTag(streamId, batchId)
    listDir(m)
      .flatMap(p => p.getFileName.toString match {
        case ManifestRe(n)
          if Files.readAllLines(p, StandardCharsets.UTF_8).asScala
            .exists(_ == needle) => Some(n.toInt)
        case _ => None
      })
      .sorted.headOption
  }

  /** The version a replay of (streamId, batchId) resolves to — the
    * one ITS OWN commit created, or the head when a vacuumed tombstone
    * is all that remembers the tag — or None if the batch never
    * committed.
    */
  private def replayedVersion(table: String, streamId: String,
      batchId: Long): Option[Int] =
    if (!batchCommitted(table, streamId, batchId)) None
    else Some(committedVersion(table, streamId, batchId)
      .getOrElse(currentVersion(table)))

  /** Commit one micro-batch EXACTLY ONCE: the (streamId, batchId)
    * provenance tag travels inside the atomically-claimed manifest,
    * so a replayed batch (Structured Streaming re-runs foreachBatch
    * after failures) sees its tag and no-ops instead of appending
    * twice. Returns the (existing or new) committed version.
    */
  def ingestBatch(df: DataFrame, table: String, streamId: String,
      batchId: Long): Int =
    replayedVersion(table, streamId, batchId).getOrElse(
      commitBatch(table, streamId, batchId, writeData(df, table), append = true))

  /** Exactly-once claim of a staged batch dir, appended to the head's
    * content or (`append` = false) replacing it: every attempt
    * re-checks the (streamId, batchId) tag against the pinned head, so
    * two concurrent replays of the same batch (a zombie driver racing
    * its restarted query) can never BOTH commit — the loser's claim
    * fails, its retry sees the winner's tag, drops its staged dir and
    * resolves to the winner's version. A replacing batch defines the
    * schema afresh: inheriting the head's schema tags would serve the
    * OLD schema over the new content.
    */
  private def commitBatch(table: String, streamId: String, batchId: Long,
      dir: String, append: Boolean): Int =
    headCas(table, s"batch ($streamId, $batchId)") { head =>
      replayedVersion(table, streamId, batchId) match {
        case Some(v) => deleteDataDir(dir); Resolved(v)
        case None =>
          Claim((if (append) headDirs(table, head) else Nil) :+ dir,
            Seq(ingestTag(streamId, batchId)), inheritSchema = append)
      }
    }

  /** [[ingestBatch]] with a CALLER-STAGED data dir — for batches whose
    * on-disk layout matters (e.g. a cid-partitioned append to a
    * served, partition-pruned index: the new dir must carry the same
    * partition structure or the pruned scan breaks). Same
    * exactly-once contract: the (streamId, batchId) tag commits
    * atomically and is re-checked inside every claim attempt.
    */
  def ingestBatchStaged(table: String, streamId: String, batchId: Long)(
      stage: String => Unit): Int =
    replayedVersion(table, streamId, batchId).getOrElse {
      val dir = stageDir(table)
      stage(dir)
      commitBatch(table, streamId, batchId, dir, append = true)
    }

  /** EXACTLY-ONCE batched DELETE — the erasure-request stream's commit
    * unit (the DML twin of [[ingestBatch]]): [[deleteWhere]] committed
    * tagged (streamId, batchId). A replayed batch sees its tag and
    * no-ops — critical for deletes, where a blind replay would remove
    * rows that batches committed since re-inserted. A batch matching
    * no row still commits its tag, so its replay no-ops too.
    */
  def deleteBatch(spark: SparkSession, table: String,
      cond: org.apache.spark.sql.Column, streamId: String,
      batchId: Long): Int =
    dml(spark, table, s"deleteBatch ($streamId, $batchId)", rowsWhere(cond),
      batch = Some((streamId, batchId)))

  /** [[ingestBatch]]'s OVERWRITE flavor — exactly-once per
    * (streamId, batchId), but the batch's content REPLACES the table
    * instead of appending: the commit shape of a derived artifact
    * (an index, a rollup) recomputed per micro-batch. Replays resolve
    * to their own committed version; the tag re-check runs inside
    * every claim attempt (zombie-replay safe).
    */
  def commitBatchOverwrite(df: DataFrame, table: String, streamId: String,
      batchId: Long): Int =
    replayedVersion(table, streamId, batchId).getOrElse(
      commitBatch(table, streamId, batchId, writeData(df, table), append = false))

  /** Continuous ingestion: run a streaming DataFrame into the
    * versioned table — one snapshot version per micro-batch, readers
    * always see a consistent committed snapshot, time travel works
    * per batch, and batch replays are idempotent via [[ingestBatch]].
    */
  def ingestStream(stream: DataFrame, table: String, streamId: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    stream.writeStream.outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        ingestBatch(batch, table, streamId, batchId)
        ()
      }

  // ---- claimed index builds: one builder, content-keyed, atomic ----

  /** Stable content key for index builds: a fingerprint of an input
    * file tree folded from (relative name, size, mtime) — cheap (no
    * data read), and REGENERATED data at the same path changes it, so
    * a fingerprint-keyed [[ensureIndex]] can never serve an index of
    * replaced inputs. On a real deployment this is the source table's
    * snapshot version; for raw parquet inputs file metadata is the
    * closest honest analog.
    */
  def fileFingerprint(path: String): String = {
    val root = Paths.get(path)
    val files =
      if (Files.isDirectory(root)) {
        val w = Files.walk(root)
        try w.iterator().asScala.filter(Files.isRegularFile(_)).toSeq
          .sortBy(_.toString)
        finally w.close()
      } else Seq(root)
    val md = java.security.MessageDigest.getInstance("MD5")
    files.foreach { f =>
      md.update(s"$f|${Files.size(f)}|${Files.getLastModifiedTime(f).toMillis}\n"
        .getBytes(StandardCharsets.UTF_8))
    }
    md.digest().map("%02x".format(_)).mkString
  }

  private def indexTag(tag: String) = s"index $tag"

  /** The newest committed version carrying `#index <tag>`, if any. */
  def taggedVersion(table: String, tag: String): Option[Int] = {
    val m = meta(table)
    if (!Files.exists(m)) return None
    val needle = "#" + indexTag(tag)
    listDir(m)
      .flatMap(p => p.getFileName.toString match {
        case ManifestRe(n)
          if Files.readAllLines(p, StandardCharsets.UTF_8).asScala
            .exists(_ == needle) => Some(n.toInt)
        case _ => None
      })
      .sorted.lastOption
  }

  /** The claim-elected build of a [[BuildOnce]] table (its scaladoc
    * states the contract): the newest version of `table` tagged
    * `#index <tag>`, or else one built by `stage` into a fresh staged
    * dir and committed with the tag, at most once across racing
    * callers. `timeoutMs` is the claim's heartbeat window. Returns the
    * version to pin.
    */
  def ensureIndex(table: String, tag: String, timeoutMs: Long = 120000)(
      stage: String => Unit): Int = {
    taggedVersion(table, tag).foreach(v => return v)
    Files.createDirectories(meta(table))
    val claim = meta(table).resolve(
      ".claim_" + tag.replaceAll("[^A-Za-z0-9._-]", "_"))
    val token = java.util.UUID.randomUUID().toString
    def claimAgeMs: Long =
      try System.currentTimeMillis() - Files.getLastModifiedTime(claim).toMillis
      catch { case _: java.io.IOException => -1 } // claim gone
    def claimToken(): Option[String] =
      try Some(new String(Files.readAllBytes(claim), "UTF-8"))
      catch { case _: java.io.IOException => None }
    def createExclusive(): Boolean =
      try {
        Files.write(claim, token.getBytes("UTF-8"),
          java.nio.file.StandardOpenOption.CREATE_NEW)
        true
      } catch { case _: java.nio.file.FileAlreadyExistsException => false }
    def tryClaim(): Boolean =
      createExclusive() || {
        val stale = claimToken()
        if (claimAgeMs > timeoutMs && stale.nonEmpty &&
            claimToken() == stale) {
          // stale claim: no heartbeat for a full window AND the token
          // is unchanged since we observed it — the winner that wrote
          // it is gone. Take over now rather than wait it out.
          Files.deleteIfExists(claim)
          createExclusive()
        } else false
      }
    var won = tryClaim()
    if (!won) {
      // Wait for the winner's commit with a SLIDING deadline: every
      // observed claim-mtime advance (= a heartbeat) proves the winner
      // alive and resets the window, so a legitimate build longer than
      // timeoutMs is waited out, not hijacked. A frozen mtime for a
      // full window → takeover via tryClaim. Hard cap at 10 windows
      // guards against a pathological filesystem (then build anyway —
      // safe, the tagged commit is atomic, just not unique).
      val hardCap = System.currentTimeMillis() + 10 * timeoutMs
      var lastSeenMtime = -2L
      var lastAdvance = System.currentTimeMillis()
      while (!won && System.currentTimeMillis() < hardCap) {
        taggedVersion(table, tag).foreach(v => return v)
        val mt = try Files.getLastModifiedTime(claim).toMillis
          catch { case _: java.io.IOException => -1L } // claim gone
        val now = System.currentTimeMillis()
        if (mt != lastSeenMtime) { lastSeenMtime = mt; lastAdvance = now }
        if (mt == -1L || now - lastAdvance > timeoutMs)
          won = tryClaim() // no live writer: claim gone or heartbeat dead
        if (!won) Thread.sleep(50)
      }
      // hard cap only: build after all (safe, not unique)
    }
    val done = new java.util.concurrent.atomic.AtomicBoolean(false)
    val heartbeat: Option[Thread] = if (!won) None else Some {
      val t = new Thread(() => {
        try {
          while (!done.get) {
            Thread.sleep(math.max(250L, timeoutMs / 4))
            // touch only OUR claim: a taker may have replaced it
            if (!done.get && claimToken().contains(token))
              try Files.setLastModifiedTime(claim,
                java.nio.file.attribute.FileTime.fromMillis(
                  System.currentTimeMillis()))
              catch { case _: java.io.IOException => () }
          }
        } catch { case _: InterruptedException => () }
      }, s"graft-claim-heartbeat-$table")
      t.setDaemon(true); t.start(); t
    }
    try taggedVersion(table, tag).getOrElse {
      val dir = stageDir(table)
      stage(dir)
      val v = headCas(table, s"index build $tag")(_ =>
        Claim(Seq(dir), Seq(indexTag(tag)), inheritSchema = false))
      // a new content key means the OLD keys' inputs no longer exist;
      // retain one predecessor for any still-pinned reader and retire
      // the rest, so regenerated inputs replace trained artifacts
      // instead of accreting them (unbounded-disk advice, round 8).
      // Default grace window: never races a concurrent appender's
      // staged-but-unpublished dir on mixed build/append tables.
      vacuum(table, retain = 2)
      v
    } finally {
      done.set(true); heartbeat.foreach(_.interrupt())
      // release only a claim that is still OURS (token check): after a
      // takeover the file belongs to the new winner, not to us
      if (won && claimToken().contains(token)) Files.deleteIfExists(claim)
      ()
    }
  }

  // ---- bloom file-skipping index: point lookups without clustering ----

  /** Build (at most once per table version — claim-elected, atomic)
    * a per-FILE bloom filter index over long-castable `keyCol`, and
    * return (index table, version to pin). Parquet footer min/max
    * already answers RANGE pruning on clustered columns; the bloom
    * answers POINT lookups on high-cardinality keys the layout was
    * not spent on (Delta's bloom filter index, Iceberg's bloom column
    * metrics). The build is ONE aggregate job — never a per-file
    * driver loop — and INCREMENTAL across table versions: data files
    * are immutable, so a file's bloom never changes; only files not
    * yet in the previous index version get scanned (O(new files) per
    * refresh, the steady-state append cost). File-path bookkeeping is
    * driver-side but metadata-scale — the same order as the manifest
    * listing itself; a metastore deployment would semi-join instead.
    */
  def bloomSkipIndex(spark: SparkSession, table: String, keyCol: String,
      numBits: Int = 1 << 20, numHashes: Int = 5): (String, Int) = {
    import org.apache.spark.sql.functions.{col, input_file_name}
    val vsn = currentVersion(table)
    val idxT = s"$table/_bloomidx_$keyCol"
    val v = new BuildOnce(idxT, s"v$vsn-$numBits-$numHashes").buildWith { out =>
      // reads go through the COMMITTED schema (readVersion semantics):
      // if keyCol was added by an evolution, files predating it lack
      // the column physically — they key as null, set no bits, and
      // correctly never match a lookup
      val reader = committedReader(spark, table, vsn)
      val cur = reader.parquet(versionDirs(table, vsn): _*)
      // integral keys only: the agg casts to long, and a cast from an
      // arbitrary string yields null — every key would set NO bits and
      // pointLookup would return empty with no error (silent false
      // negatives). Hash non-integral keys into a materialized long
      // column (e.g. xxhash64) and index that. Checked here, inside
      // the once-per-version build, so the serving path pays no
      // per-lookup schema resolution.
      val kt = cur.schema(keyCol).dataType
      require(Seq("long", "integer", "short", "byte").contains(kt.typeName),
        s"bloom index key $keyCol must be integral, got $kt — " +
          "index a hashed (e.g. xxhash64) long column instead")
      val curFiles = cur.inputFiles.toSet
      val prevV = currentVersion(idxT)
      val reusable: Set[String] =
        if (prevV == 0) Set.empty
        else readVersion(spark, idxT, prevV).select("file").collect()
          .map(_.getString(0)).toSet.intersect(curFiles)
      val newFiles = (curFiles -- reusable).toSeq.sorted
      val fresh =
        if (newFiles.isEmpty) None
        else Some(reader.parquet(newFiles: _*)
          .select(col(keyCol).cast("long").as("k"), input_file_name().as("file"))
          .groupBy("file")
          .agg(graft.functions.Bloom.bloomAgg(col("k"), numBits, numHashes)
            .as("bloom")))
      val kept =
        if (reusable.isEmpty) None
        else Some(readVersion(spark, idxT, prevV)
          .where(col("file").isin(reusable.toSeq: _*)))
      val all = (kept, fresh) match {
        case (Some(a), Some(b)) => a.unionByName(b)
        case (Some(a), None) => a
        case (None, Some(b)) => b
        case (None, None) => sys.error(s"bloom index over empty table $table")
      }
      all.write.mode(SaveMode.ErrorIfExists).parquet(out)
    }
    (idxT, v)
  }

  /** Point lookup `keyCol == value` through [[bloomSkipIndex]]: the
    * index scan (one row per data file) evaluates the filter
    * DISTRIBUTED via the codegen'd `graft_bloom_contains`; only
    * may-contain file paths reach the driver (bounded by true matches
    * plus the ~0.1% false-positive tail), and only those files are
    * read — at 100 TB a point lookup touches a handful of files
    * instead of every footer.
    */
  def pointLookup(spark: SparkSession, table: String, keyCol: String,
      value: Long, numBits: Int = 1 << 20, numHashes: Int = 5): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    val vsn = currentVersion(table)
    val (idxT, v) = bloomSkipIndex(spark, table, keyCol, numBits, numHashes)
    val hits = readVersion(spark, idxT, v)
      .where(graft.functions.Bloom.bloomContains(col("bloom"), lit(value)))
      .select("file").collect().map(_.getString(0))
    // the skipped scan must still read through the committed schema —
    // raw spark.read.parquet would re-expose dropped columns and
    // sample an arbitrary footer for evolved ones
    val reader = committedReader(spark, table, vsn)
    if (hits.isEmpty)
      readVersion(spark, table, vsn).where(col(keyCol) === value).limit(0)
    else
      reader.parquet(hits.toIndexedSeq: _*).where(col(keyCol) === value)
  }

  // ---- clustered tables: merge-on-append + delta compaction ----

  /** Marker file identifying a data directory whose files are
    * Z-order-clustered (written by [[commitClustered]]/[[compact]]).
    */
  private val ClusteredMarker = "_GRAFT_CLUSTERED"

  private def isClustered(dir: String): Boolean =
    Files.exists(Paths.get(dir, ClusteredMarker))

  private def markClustered(dir: String): Unit =
    Files.write(Paths.get(dir, ClusteredMarker), Array.emptyByteArray)

  /** Commit a version whose single data dir is Z-order-clustered on
    * `zCols` — the indexed base the reference maintains as a B+ tree
    * (reference: index/BPlusTree.java:119 insertKey keeps the index
    * current; here the index IS the file layout, kept current by
    * [[compact]]).
    */
  def commitClustered(df: DataFrame, table: String, zCols: Seq[String],
      files: Int = 16): Int = {
    val dir = zOrderedRun(df, table, zCols, files)
    headCas(table, "clustered overwrite")(_ => Claim(Seq(dir), inheritSchema = false))
  }

  /** Re-cluster the accumulated (unclustered) delta dirs into ONE new
    * Z-ordered dir and commit base + compacted delta as a new version.
    * Cost is O(delta), never O(table) — the clustered base dirs are
    * untouched (the LSM/Delta-OPTIMIZE shape: each compacted dir is a
    * sorted run; parquet min/max stats prune within every run
    * independently, so reads stay pruned as runs accumulate, and runs
    * can themselves be merged by a later whole-table re-cluster if
    * their count ever grows large). No-op (returns current version)
    * when there is nothing to compact. Readers are never blocked:
    * pre-compaction versions remain readable until vacuumed.
    */
  def compact(spark: SparkSession, table: String, zCols: Seq[String],
      files: Int = 16): Int =
    headCas(table, "compact") { cur =>
      val dirs = headDirs(table, cur)
      val deltas = dirs.filterNot(isClustered)
      if (deltas.isEmpty) Resolved(cur)
      else {
        val dir = zOrderedRun(readDirs(spark, table, cur, deltas), table, zCols, files)
        // dirs a racing appender adds after the pin fail the claim and
        // are re-read by the retry; content-preserving: the change
        // feed may skip this step
        Claim(dirs.filterNot(deltas.contains) :+ dir, Seq(CdcNoopTag),
          staged = Seq(dir))
      }
    }

  /** Stage `df` as one fresh Z-ordered run of `files` files on `zCols`. */
  private def zOrderedRun(df: DataFrame, table: String, zCols: Seq[String],
      files: Int): String = {
    val dir = stageDir(table)
    Sources.writeZOrderedN(df, dir, zCols, files = files)
    markClustered(dir)
    dir
  }

  private val ZlThroughPrefix = "zl_through "

  /** Delete-aware maintenance of a Z-ORDER-CLUSTERED REPLICA of a
    * versioned base table — the clustered-layout family's registry
    * maintainer (round-13 verdict item #4): physical design is an
    * access path like any other, so an erasure on the base must reach
    * the clustered copy through the same walk that folds the MVs and
    * bloom indexes, keeping its pruning TIGHT post-DML instead of
    * relying on the base delete alone. One fold per base version,
    * committed ATOMICALLY as one conflict-checked manifest transform
    * (a crash can never leave the replica half-folded under a new
    * watermark):
    *
    *  - departed rows leave via a `key` SEMI-JOIN existence probe +
    *    ANTI-JOIN rewrite of ONLY the touched runs; a touched
    *    clustered run RE-CLUSTERS its survivors (the delta
    *    re-cluster path — O(touched run), never O(table)), so every
    *    file's min/max stays a tight pruning bound post-DML;
    *  - inserted rows land as ONE freshly Z-ordered delta run (the
    *    LSM shape [[compact]] maintains: each run is independently
    *    sorted, parquet min/max prunes within every run).
    *
    * A [[foldThrough]] (zl_through watermark; a vacuumed watermark
    * degrades to one full re-cluster), so concurrent walks cannot
    * double-fold and a racing appender re-folds instead of losing rows.
    * `key` must identify rows (the table's primary key), independent
    * of whatever predicate drove the base DML.
    */
  def clusteredMaintain(spark: SparkSession, baseTable: String, table: String,
      key: String, zCols: Seq[String], files: Int = 8): Int = {
    import org.apache.spark.sql.functions.col
    val v = foldThrough(baseTable, table, ZlThroughPrefix) { f =>
      val dir = zOrderedRun(readVersion(spark, baseTable, f.curV), table, zCols, files)
      Claim(Seq(dir), inheritSchema = false, staged = Seq(dir))
    } { f =>
      val (ins0, del0) = changesBetween(spark, baseTable, f.lastV, f.curV)
      val ins = ins0.localCheckpoint()
      val delKeys = del0.select(col(key)).distinct().localCheckpoint()
      val dirs = manifestDirs(table, f.head)
      val reader = committedReader(spark, table, f.head)
      val touched =
        if (delKeys.isEmpty) Seq.empty[String]
        else probeTouched(reader, dirs, _.join(delKeys, Seq(key), "left_semi"))
      val staged = touched.map { d =>
        val survivors = reader.parquet(d).join(delKeys, Seq(key), "left_anti")
        // a touched CLUSTERED run RE-CLUSTERS its survivors (the
        // delta re-cluster path): a plain rewrite would let the join
        // repartition scatter rows across files and blunt every
        // file's min/max to the full key range — O(touched run),
        // never O(table)
        if (isClustered(d)) zOrderedRun(survivors, table, zCols, files)
        else {
          val out = stageDir(table)
          survivors.write.mode(SaveMode.ErrorIfExists).parquet(out)
          out
        }
      }
      val insDir =
        if (ins.isEmpty) None
        else Some(zOrderedRun(ins, table, zCols, math.max(1, files / 4)))
      Claim(dirs.filterNot(touched.toSet) ++ staged ++ insDir,
        staged = staged ++ insDir)
    }
    // run-count compaction policy (the LSM size-ratio convention
    // applied to runs): fold churn accretes one clustered insert run +
    // rewritten survivor runs per DML cycle — past the bound,
    // major-re-cluster into ONE run so pruned reads never degrade into
    // a many-run footer sweep
    clusteredMaybeCompact(spark, table, zCols, files)
    v
  }

  /** Bounded MAJOR re-cluster of a [[clusteredMaintain]] replica: when
    * more than `maxRuns` runs have accreted, rewrite the whole replica
    * into ONE Z-ordered dir, carrying the maintained-through watermark
    * forward ([[SignedIndex.compact]]'s contract with a clustered writer —
    * plain [[compactFull]] would DROP the watermark tag and force the
    * next walk into a full re-bootstrap). Head-CAS with retry: a
    * racing maintenance fold is never overwritten.
    */
  private def clusteredMaybeCompact(spark: SparkSession, table: String,
      zCols: Seq[String], files: Int, maxRuns: Int = 8): Unit = {
    headCas(table, "clustered compaction") { head =>
      if (head == 0 || manifestDirs(table, head).size <= maxRuns) Resolved(head)
      else {
        val dir = zOrderedRun(readVersion(spark, table, head), table, zCols, files)
        Claim(Seq(dir), Seq(ZlThroughPrefix + tagWatermarkAt(table, ZlThroughPrefix, head)) ++
          schemaMetaTags(table, head), inheritSchema = false, staged = Seq(dir))
      }
    }
    ()
  }

  /** MAJOR compaction: merge EVERY current dir — clustered runs and
    * deltas alike — into one freshly Z-ordered dir (the tier above
    * [[compact]]: minor compactions bound the run count cheaply;
    * an occasional major pass restores the single-run layout whose
    * per-file min/max boxes are globally tight). O(table) by design,
    * so schedule it like any table rewrite. A commit racing the
    * rewrite fails its claim, and the retry re-compacts the new head.
    */
  def compactFull(spark: SparkSession, table: String, zCols: Seq[String],
      files: Int = 16): Int =
    headCas(table, "full compaction") { cur =>
      val dir = zOrderedRun(readVersion(spark, table, cur), table, zCols, files)
      // content-preserving: the change feed may skip this step
      Claim(Seq(dir), Seq(CdcNoopTag), staged = Seq(dir))
    }

  private def deleteDataDir(dir: String): Unit = deleteRecursively(dir)

  /** Recursive delete (no-op when absent) — shared by staged-dir
    * cleanup and by queries that rebuild a snapshot table per run.
    */
  def deleteRecursively(path: String): Unit = {
    val p = Paths.get(path)
    if (Files.exists(p)) {
      val w = Files.walk(p)
      try w.iterator().asScala.toSeq.reverse.foreach(Files.delete)
      finally w.close()
    }
  }

  /** GC superseded CONTENT-KEYED sibling roots: for a root named
    * `parent/<prefix>_<fingerprint>` (the `d_dedup_semantic_incremental`
    * convention — a fresh root per input fingerprint), delete every
    * sibling `parent/<prefix>_<otherFingerprint>`. Called when a NEW
    * fingerprint root is about to be built, so repeated testdata
    * regeneration replaces rather than accretes trained artifacts
    * (unbounded-disk advice, round 8). Fingerprints are alphanumeric,
    * so splitting on the LAST underscore is unambiguous even when the
    * prefix itself contains underscores. Safe against readers: only
    * roots with a fingerprint DIFFERENT from the one being built are
    * removed, and a pinned reader of a superseded root is by
    * definition reading inputs that no longer exist.
    *
    * A sibling counts ONLY if its suffix after the prefix is exactly
    * one fingerprint segment (no further underscores): a root for a
    * DIFFERENT input dir whose sanitized name happens to extend this
    * one (`<dir>_x` sanitizes to `<dir>_x_<fp>`, which starts with
    * `<dir>_`) must not be swept as a superseded fingerprint of this
    * input (round-9 advice).
    */
  def gcSiblingRoots(root: String): Unit = {
    val p = Paths.get(root)
    val name = p.getFileName.toString
    val cut = name.lastIndexOf('_')
    val parent = p.getParent
    if (cut <= 0 || parent == null || !Files.exists(parent)) return
    val prefix = name.substring(0, cut + 1)
    listDir(parent).foreach { sib =>
      val sn = sib.getFileName.toString
      if (sn.startsWith(prefix) && sn != name &&
          !sn.substring(prefix.length).contains('_'))
        deleteRecursively(sib.toString)
    }
  }

  /** Drop data directories unreachable from the retained manifests
    * (keep the last `retain` versions), and the CDC sidecar dirs under
    * `table/cdc/` that no retained manifest names in a change tag — so
    * rows a DML erased leave the disk with the versions that still
    * served them. Returns the deleted dir count (data and sidecar).
    *
    * Retention contract: after `vacuum(table, retain)` with current
    * version C, [[readVersion]] is guaranteed only for versions in
    * [C-retain+1, C]. Older versions fail FAST at manifest resolution
    * (`require` in manifestDirs — the manifest is retired before its
    * data could dangle); an already-resolved DataFrame over a retained
    * version keeps reading its immutable files. Ingest provenance tags
    * from retired manifests are carried into `meta/ingest.tombstones`
    * first, so exactly-once holds even for replays older than the
    * retention window.
    */
  def vacuum(table: String, retain: Int = 1, graceMs: Long = 3600000L): Int = {
    val cur = currentVersion(table)
    val retained = ((cur - retain + 1) to cur).filter(_ >= 1)
    val keep = retained.flatMap(v => manifestDirs(table, v)).toSet
    val keepCdc = retained.flatMap(v => versionTags(table, v)).collect {
      case t if t.startsWith(CdcInsTag) => t.drop(CdcInsTag.length)
      case t if t.startsWith(CdcDelTag) => t.drop(CdcDelTag.length)
    }.toSet
    val dataRoot = Paths.get(table, "data")
    if (!Files.exists(dataRoot)) return 0
    // preserve ingest tags BEFORE retiring the manifests that carry
    // them (duplicate tombstone lines from concurrent vacuums are
    // harmless — batchCommitted only tests membership)
    val doomedTags = (1 to cur - retain).flatMap { v =>
      val p = meta(table).resolve(s"v$v.manifest")
      if (!Files.exists(p)) Seq.empty
      else Files.readAllLines(p, StandardCharsets.UTF_8).asScala
        .filter(_.startsWith("#ingest "))
    }
    if (doomedTags.nonEmpty)
      Files.write(tombstones(table),
        (doomedTags.mkString("\n") + "\n").getBytes(StandardCharsets.UTF_8),
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.APPEND)
    // retire manifests below the retention window so vacuumed versions
    // cannot be resolved to missing files
    (1 to cur - retain).foreach { v =>
      Files.deleteIfExists(meta(table).resolve(s"v$v.manifest"))
    }
    // a dir outside every retained manifest is EITHER garbage OR a
    // concurrent commit's staged-but-not-yet-published directory —
    // deleting the latter would let the in-flight commit publish a
    // manifest referencing missing files (its conflict check only
    // covers the dirs it read, not its own staging). A grace window
    // on the dir's mtime disambiguates: anything actively being
    // staged is recent; true garbage has aged past any commit's
    // lifetime (the Iceberg remove-orphan-files convention). Sidecars
    // are staged the same way, so the same rule holds for them.
    val cutoff = System.currentTimeMillis() - graceMs
    def sweep(root: Path, keep: Set[String]): Seq[Path] =
      if (!Files.exists(root)) Nil
      else listDir(root).filterNot(p => keep.contains(p.toString))
        .filter(p =>
          try Files.getLastModifiedTime(p).toMillis < cutoff
          catch { case _: java.io.IOException => false })
    val doomed = sweep(dataRoot, keep) ++ sweep(Paths.get(table, "cdc"), keepCdc)
    doomed.foreach(p => deleteDataDir(p.toString))
    doomed.size
  }
}
