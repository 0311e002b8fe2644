package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, sum}

/** A SIGNED INDEX: a derived table of (key columns, weight) rows that a
  * watermark fold keeps current with a versioned base table — the
  * tombstone-folded structures (minhash bands, simhash blocks,
  * fingerprints, IVF lists, the kNN graph and its bands, postings,
  * doclens, the join view). The one place their contract lives
  * (reference analog: index/BPlusTree.java kept consistent by
  * Database.deleteRecord for every index):
  *
  *  - **Weight.** A row's `weight` (`sgn` ±1 membership, `tf`, `dl`) is
  *    its signed contribution to its key. A key is live with the SUM of
  *    its weights when that sum is > 0; [[net]] computes exactly this,
  *    cast back to the weight column's own type. `keys` Nil means every
  *    column but the weight (a bag view: the join view's rows).
  *  - **Fold.** [[fold]] runs [[Snapshots.foldThrough]] under the first
  *    watermark prefix: a bootstrap stages `rows(base@curV)` as the
  *    whole content; a delta appends `rows(ins) ∪ rows(del)` with the
  *    del side's weight negated ([[delta]]), read from the change feed
  *    of the watermark span. [[foldWith]] takes explicit steps for the
  *    families whose bootstrap or delta is not `rows` of the base.
  *  - **Net-shaped bootstrap.** A bootstrap's rows must already be
  *    [[net]]'s output up to rows of weight ≤ 0: at most one row per
  *    key. (A bag view may instead repeat a weight-1 row once per copy:
  *    its reader expands rows by weight, so both forms read the same
  *    bag.) Bootstrap, compaction and [[replace]] are the only writers
  *    of the netted tag.
  *  - **Netted shortcut.** [[serve]] pins the head once. A head tagged
  *    netted serves its rows with the weight > 0 filter and no
  *    aggregate — no exchange; any other head is netted. A fold's
  *    append commits an untagged version, so the shortcut never sees a
  *    stale tag. An optional pre-net filter (postings' bucket pruning)
  *    runs ahead of either form.
  *  - **Compaction.** After every fold, when the delta dirs hold more
  *    rows than half the base dir (footer counts), [[compact]] rewrites
  *    the pinned head as `net(head)` in one head-CAS claim, tagged
  *    netted. It carries every head tag under the prefixes (the
  *    watermarks — the join view has two) and the schema tags. A fold
  *    racing the rewrite makes the claim fail and the retry re-nets the
  *    new head, so no delta is lost; readers pinned to older versions
  *    are undisturbed and the next fold still no-ops at the carried
  *    watermark.
  */
class SignedIndex(val prefixes: Seq[String], val keys: Seq[String], val weight: String) {
  require(prefixes.nonEmpty, "a signed index needs a watermark prefix")

  /** Live rows: weight summed per key, cast back to its type, > 0. */
  def net(df: DataFrame): DataFrame = {
    val ks = if (keys.nonEmpty) keys else df.columns.filterNot(_ == weight).toSeq
    df.groupBy(ks.map(col): _*)
      .agg(sum(col(weight)).cast(df.schema(weight).dataType).as(weight))
      .where(col(weight) > 0)
  }

  /** The standard fold of `base` into `table` (through the base's head,
    * or `pinned`): bootstrap `rows(base@curV)`, delta [[delta]]. Returns
    * the table's head after the compaction policy.
    */
  def fold(s: SparkSession, base: String, table: String, pinned: Option[Int] = None)(
      rows: DataFrame => DataFrame): Int =
    foldWith(s, base, table, pinned)(
      f => rows(Snapshots.readVersion(s, base, f.curV)))(f => delta(s, base, f)(rows))

  /** [[fold]] with explicit steps: `bootstrap` stages the net-shaped
    * content, `delta` the signed rows to append.
    */
  def foldWith(s: SparkSession, base: String, table: String, pinned: Option[Int] = None)(
      bootstrap: Snapshots.Fold => DataFrame)(delta: Snapshots.Fold => DataFrame): Int = {
    Snapshots.foldThrough(base, table, prefixes.head, pinned)(
      f => nettedClaim(bootstrap(f), table, Nil))(f => f.append(delta(f)))
    maybeCompact(s, table)
    Snapshots.currentVersion(table)
  }

  /** The standard delta over `f`'s span: `rows(ins) ∪ rows(del)` with
    * the del side's weight negated.
    */
  def delta(s: SparkSession, base: String, f: Snapshots.Fold)(
      rows: DataFrame => DataFrame): DataFrame = {
    val (ins, del) = Snapshots.changesBetween(s, base, f.lastV, f.curV)
    rows(ins).unionByName(rows(del).withColumn(weight, -col(weight)))
  }

  /** The live rows of `table`'s head, `prune` applied before the net. */
  def serve(s: SparkSession, table: String,
      prune: DataFrame => DataFrame = identity): DataFrame =
    serveAt(s, table, Snapshots.currentVersion(table), prune)

  /** [[serve]] at a pinned `version`. */
  def serveAt(s: SparkSession, table: String, version: Int,
      prune: DataFrame => DataFrame = identity): DataFrame = {
    val df = prune(Snapshots.readVersion(s, table, version))
    if (Snapshots.versionTags(table, version).contains(SignedIndex.NettedTag))
      df.where(col(weight) > 0)
    else net(df)
  }

  /** Rewrite the head as its net in one head-CAS claim (see the class
    * scaladoc); returns the compacted version.
    */
  def compact(s: SparkSession, table: String): Int =
    Snapshots.headCas(table, "compaction") { head =>
      // a replace claim inherits no tags: re-carry the watermarks and
      // the committed schema (dropping it would re-expose dropped columns)
      val marks = Snapshots.versionTags(table, head).filter(t => prefixes.exists(t.startsWith))
      Snapshots.replaceClaim(net(Snapshots.readVersion(s, table, head)), table,
        (marks :+ SignedIndex.NettedTag) ++ Snapshots.schemaMetaTags(table, head))
    }

  /** The size-ratio compaction policy (see the class scaladoc). */
  private[sources] def maybeCompact(s: SparkSession, table: String): Unit = {
    val (baseRows, deltaRows) = Snapshots.compactionDebt(s, table)
    if (deltaRows > 0.5 * math.max(baseRows, 1L)) compact(s, table)
  }

  /** Commit net-shaped `df` as the table's whole content with `tags`
    * (the watermarks it reflects), tagged netted.
    */
  def replace(df: DataFrame, table: String, tags: Seq[String]): Int =
    Snapshots.commitOverwriteTagged(df, table, tags :+ SignedIndex.NettedTag)

  /** [[replace]] staged as a claim, for a caller's own commit step. */
  private[sources] def nettedClaim(df: DataFrame, table: String,
      tags: Seq[String]): Snapshots.Claim =
    Snapshots.replaceClaim(df, table, tags :+ SignedIndex.NettedTag)
}

object SignedIndex {

  /** A signed index under one watermark prefix. */
  def apply(prefix: String, keys: Seq[String], weight: String): SignedIndex =
    new SignedIndex(Seq(prefix), keys, weight)

  /** Tag of a version whose content is its own net (see the class
    * scaladoc); written only here.
    */
  private val NettedTag = "cdcnetted"
}
