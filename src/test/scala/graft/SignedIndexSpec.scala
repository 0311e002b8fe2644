package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions
import graft.operators.{Dedup, Forget, Similarity}
import graft.sources.{IndexRegistry, MaterializedView, SignedIndex, Snapshots}

/** The net-shaped identity of every [[SignedIndex]] table, on the
  * forget capstone and relational roots at sf0.01: a head committed
  * as netted (bootstrap, compaction) serves exactly the net of its own
  * rows with no shuffle, and a head carrying an appended delta serves
  * through the net aggregate's one shuffle.
  */
class SignedIndexSpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.01"

  /** What one stage observed on one table. */
  private case class Seen(identity: Boolean, exchanges: Int, headDirs: Int)

  private def exchanges(df: DataFrame): Int =
    "Exchange ".r.findAllIn(physicalPlan(df)).size

  /** serve ≡ net(read(head)) as multisets, the serve's exchanges, and
    * the head's data-dir count (> 1: deltas appended).
    */
  private def observe(idx: SignedIndex, table: String): Seen = {
    val netted = idx.net(Snapshots.read(spark, table))
    val served = idx.serve(spark, table).select(netted.columns.map(col): _*)
    val same = served.exceptAll(netted).isEmpty && netted.exceptAll(served).isEmpty
    Seen(same, exchanges(served),
      Snapshots.versionDirs(table, Snapshots.currentVersion(table)).size)
  }

  /** name → (definition, table dir) under the forget capstone root. */
  private val capstone: Seq[(String, (SignedIndex, String))] = Seq(
    "postings" -> (TextFunctions.Postings, "postings"),
    "doclen" -> (TextFunctions.Doclen, "doclen"),
    "minhash bands" -> (Dedup.BandIndex, "bands"),
    "simhash blocks" -> (Dedup.SimhashIndex, "simhash"),
    "fingerprints" -> (Dedup.FingerprintIndex, "fps"),
    "IVF lists" -> (Similarity.IvfLists, "ivf_lists"),
    "kNN bands" -> (Similarity.KnnBands, "knn_bands"),
    "kNN graph" -> (Similarity.KnnGraph, "knn_graph"))

  /** The same under the relational root. */
  private val relational = Seq("join view" -> (MaterializedView.JoinView, "custjoin"))

  /** (stage → table name → observation), stages run once in order:
    * bootstrap, an erasure's appended delta, compaction.
    */
  private lazy val seen: Map[String, Map[String, Seen]] = {
    val (baseT, root) = Forget.bootstrap(spark, dir, tag = "_signed")
    val (ordersT, relRoot) = Forget.relationalBootstrap(spark, dir, tag = "_signed")
    val tables = capstone.map { case (n, (idx, t)) => n -> (idx, s"$root/$t") } ++
      relational.map { case (n, (idx, t)) => n -> (idx, s"$relRoot/$t") }
    def all() = tables.map { case (n, (idx, t)) => n -> observe(idx, t) }.toMap
    val boot = all()
    // a ~1% erasure: every table appends a small signed delta, below
    // the compaction policy's ratio
    IndexRegistry.forgetWhere(spark, baseT, pmod(col("doc_id"), lit(97)) === 0)
    IndexRegistry.forgetWhere(spark, ordersT, pmod(col("custkey"), lit(97)) === 0)
    val delta = all()
    tables.foreach { case (_, (idx, t)) => idx.compact(spark, t) }
    Map("bootstrap" -> boot, "delta" -> delta, "compact" -> all())
  }

  (capstone ++ relational).map(_._1).foreach { name =>
    test(s"signed index $name: netted heads serve their own net shuffle-free; a delta head nets once") {
      Seq("bootstrap", "compact").foreach { stage =>
        val o = seen(stage)(name)
        assert(o.identity, s"$stage: serve differs from net(read(head))")
        assert(o.exchanges == 0, s"$stage: a netted head must serve with no exchange")
      }
      val d = seen("delta")(name)
      assert(d.headDirs > 1, "the erasure must append a delta to the head")
      assert(d.identity, "delta: serve differs from net(read(head))")
      assert(d.exchanges == 1, s"delta: the net aggregate shuffles once, got ${d.exchanges}")
    }
  }
}
