package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** A BUILD-ONCE table: a derived table (kNN bands and graph, IVF and
  * PQ quantizers and lists, postings, near-dup pairs, checksum parts,
  * the z-order, bloom and sink layouts) built at most once per content
  * key over its input and served from disk afterwards. The one place
  * their contract lives (reference analog: index/BPlusTree.java, built
  * once over its heap table and then only read):
  *
  *  - **Root.** `Roots.scratch/<family>/<input dir, every
  *    non-alphanumeric character replaced by '_'>[/<sub>]`: one root
  *    per family and input directory, one sub-table per artifact
  *    ([[sub]]).
  *  - **Key.** [[Snapshots.fileFingerprint]] of `<dir>/<input>.parquet`
  *    (relative names, sizes and mtimes: regenerated inputs change it),
  *    plus an optional [[salted]] suffix for a build parameter derived
  *    from the data (`-c<C>`, `_b<bits>`), so a build under another
  *    parameter is never served. The key is the version's `#index`
  *    tag. (A table may also be opened on its own root and key — the
  *    bloom skip index keys on its base table's version.)
  *  - **At most once.** [[Snapshots.ensureIndex]] returns the newest
  *    version tagged with the key, if any. Otherwise racing callers
  *    elect one builder with an atomic create-exclusive claim file;
  *    losers wait for the winner's tagged commit. The winner stages the
  *    rows into a fresh data dir — [[Snapshots.writeStaged]], so an
  *    empty input still stages a schema-bearing footer, optionally
  *    partitioned — and publishes dir and tag in one head-CAS commit,
  *    so no torn table is ever visible.
  *  - **Heartbeat takeover.** The winner touches its claim every
  *    quarter timeout while it builds; a claim whose mtime stops
  *    advancing for a full timeout belongs to a dead builder, and a
  *    waiter takes it over (token-checked, so takeovers never cascade).
  *    A takeover's read/delete/create window can at worst elect two
  *    builders: a duplicate build, never a torn or stale table.
  *  - **Retain 2.** Each build vacuums the root to its two newest
  *    versions: readers pinned to the previous key keep working, older
  *    builds are reclaimed.
  *  - **Committed-schema read.** [[serve]] reads the pinned version
  *    with [[Snapshots.readVersion]], whose manifest schema line makes
  *    resolving the frame start no Spark job. Partitioned layouts
  *    record no schema line (their footers lack the partition column)
  *    and are read with partition discovery
  *    ([[Snapshots.readPartitionedDirs]]).
  *
  * Code outside `graft.sources` reaches a build-once table only through
  * this class (`tools/check_reads.py`).
  */
final class BuildOnce private[sources] (val table: String, val key: String) {

  /** The artifact `name` under this root, built under the same key. */
  def sub(name: String): BuildOnce = new BuildOnce(s"$table/$name", key)

  /** This table with `salt` appended to its key. */
  def salted(salt: String): BuildOnce = new BuildOnce(table, key + salt)

  /** The pinned version; on a miss `stage` writes the rows into the
    * fresh dir it is given (layouts [[build]] cannot stage).
    */
  def buildWith(stage: String => Unit): Int = Snapshots.ensureIndex(table, key)(stage)

  /** The pinned version; on a miss `rows` are staged, partitioned by
    * `partitionCols` when given.
    */
  def build(rows: => DataFrame, partitionCols: String*): Int =
    buildWith(out => Snapshots.writeStaged(rows, out, partitionCols: _*))

  /** The pinned version's rows, built from `rows` on a miss. */
  def serve(s: SparkSession, partitionCols: String*)(rows: => DataFrame): DataFrame = {
    val v = build(rows, partitionCols: _*)
    if (partitionCols.isEmpty) Snapshots.readVersion(s, table, v)
    else Snapshots.readPartitionedDirs(s, table, v)
  }
}

object BuildOnce {

  /** The build-once root of `family` over `dir`, keyed on the
    * fingerprint of `dir`'s `input` table.
    */
  def apply(family: String, dir: String, input: String): BuildOnce =
    new BuildOnce(
      graft.Roots.scratch + s"/$family/" + dir.replaceAll("[^A-Za-z0-9]", "_"),
      Snapshots.fileFingerprint(s"$dir/$input.parquet"))
}
