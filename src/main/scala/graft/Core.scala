package graft

import org.apache.spark.sql.{DataFrame, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import graft.functions.{CosineF32, DotLong, HilbertIndex, MinhashSignature, PlaneSignBits, SimHash60, SortedIntersectSize, WordNGramHashes}

/** One engine capability: a named query over a scale-factor directory,
  * with an optional ANSI-SQL oracle (DuckDB-checked by the driver).
  * Rows without an oracle get the driver's weaker rows-only check.
  */
final case class QueryDef(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String])

/** Filesystem roots, centralized and env-overridable — the single
  * place a deployment repoints. Every persisted table/index root in
  * `src/main` MUST build its path from [[scratch]] (a tools gate
  * greps for stray literals). Defaults match the sandbox layout;
  * a cluster deployment sets `SPARK_GRAFT_REPO_ROOT` /
  * `SPARK_GRAFT_SCRATCH` (e.g. to an HDFS/S3 prefix for scratch).
  */
object Roots {
  /** Repository root (tools inputs/outputs: calibration pins, PLANS.md). */
  val repo: String = sys.env.getOrElse("SPARK_GRAFT_REPO_ROOT", "/root/repo")

  /** Scratch root for persisted tables, indexes, and sinks. */
  val scratch: String = sys.env.getOrElse("SPARK_GRAFT_SCRATCH", repo + "/target")
}

/** Run independent Spark actions from a small driver thread pool so the
  * next job's tasks back-fill executors freed by the current job's tail
  * (guide §2.6): Spark's scheduler happily runs several jobs at once —
  * actions are only sequential because driver code calls them
  * sequentially. Used by maintenance composites whose per-table chains
  * are independent (e.g. the three BM25 sidecar folds, or the orders /
  * lineitem halves of the TPC-H refresh stream). Each chain's commits
  * stay ordered WITHIN its thread, so per-table version sequences are
  * untouched; cross-table interleaving was already unspecified.
  * Exceptions propagate to the caller (first one wins), so a failed
  * chain still fails the composite loudly.
  */
object Par {
  def run[A](thunks: (() => A)*): Seq[A] = {
    if (thunks.sizeIs <= 1) return thunks.map(_())
    val pool = java.util.concurrent.Executors.newFixedThreadPool(thunks.size)
    try {
      val fs = thunks.map(t => pool.submit(new java.util.concurrent.Callable[A] {
        override def call(): A = t()
      }))
      fs.map { f =>
        try f.get()
        catch {
          case e: java.util.concurrent.ExecutionException =>
            // fail the composite with NO chains still in flight (r15
            // advice): cancel the siblings and wait them out, so a
            // caller's cleanup/retry never runs concurrently with a
            // half-done chain still committing table versions
            fs.foreach(_.cancel(true))
            pool.shutdownNow()
            pool.awaitTermination(60, java.util.concurrent.TimeUnit.SECONDS)
            throw e.getCause
        }
      }
    } finally pool.shutdown()
  }
}

/** Table loaders for a driver test-data directory (TESTDATA.md). */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")
}

/** The one session factory. Every entry point (Verify, Bench, the
  * tools, perfbench, the test suites) builds its session here, so each
  * runs the engine as it ships (`tools/check_sessions.py`). It sets:
  *  - [[GraftExtensions]]: native SQL functions, EditDistancePruning
  *    and the cost-gated MvRewriteRule;
  *  - shuffle partitions sized to the machine, not the 200 default;
  *  - AQE with coalescing and skew-join splitting: the runtime re-plan,
  *    the dynamic counterpart of the reference's System R optimizer
  *    (reference: query/QueryPlan.java executeOptimal);
  *  - runtime bloom-filter joins: a selective side of a fact-fact
  *    shuffle join filters the probe-side scan, the runtime analog of
  *    the reference's reduction factors (reference:
  *    query/TableStats.java computeReductionFactor). Thresholds stay
  *    at Spark's defaults, the 100 TB regime; CboSpec lowers them;
  *  - zone UTC: naive-timestamp epochs are zone-sensitive and the
  *    DuckDB oracle is zone-free;
  *  - `spark.sql.legacy.parquet.nanosAsLong`: a TIMESTAMP(NANOS) `ts`
  *    reads only as a nanosecond Long under it. Set once here so no
  *    query writes session conf ([[graft.operators.Events]] requires
  *    it, and UTC);
  *  - `spark.graft.mvrewrite.loadSkipVacuumed`: the catalog load below
  *    quarantines (logs and skips) a view whose pinned base version
  *    was vacuumed, so one stale registration left in a scratch root
  *    cannot keep Verify or Bench from starting;
  *  - a warehouse under [[Roots.scratch]], no UI.
  * Then it loads the persisted MV-rewrite catalog
  * ([[graft.plans.MvRewrite.loadCatalog]]), so a fresh session serves
  * from registered views at once, not from base scans until someone
  * re-registers by hand.
  */
object GraftSession {
  def create(master: String = "local[*]", shufflePartitions: Int = 32): SparkSession = {
    val spark = SparkSession.builder()
      .master(master)
      .appName("graft")
      .withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.graft.mvrewrite.loadSkipVacuumed", "true")
      .config("spark.sql.warehouse.dir", graft.Roots.scratch + "/spark-warehouse")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.plans.MvRewrite.loadCatalog(spark)
    spark
  }
}

/** SparkSessionExtensions hook registering graft's native Catalyst
  * expressions as SQL functions (usable from spark.sql text as well as
  * the Column API in [[graft.functions.Native]]).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach(ext.injectFunction)
    // optimizer-rule tier: cheap necessary conditions screening
    // expensive exact predicates (see EditDistancePruning), and
    // MV-aware aggregate rewriting (see MvRewrite)
    ext.injectOptimizerRule(_ => graft.plans.EditDistancePruning)
    ext.injectOptimizerRule(session => new graft.plans.MvRewriteRule(session))
  }
}

object GraftExtensions {
  val functions: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    (FunctionIdentifier("graft_simhash60"),
      new ExpressionInfo(classOf[SimHash60].getName, "graft_simhash60"),
      (exprs: Seq[Expression]) => SimHash60(exprs.head)),
    (FunctionIdentifier("graft_cosine_f32"),
      new ExpressionInfo(classOf[CosineF32].getName, "graft_cosine_f32"),
      (exprs: Seq[Expression]) => CosineF32(exprs.head, exprs(1))),
    (FunctionIdentifier("graft_word_ngrams"),
      new ExpressionInfo(classOf[WordNGramHashes].getName, "graft_word_ngrams"),
      (exprs: Seq[Expression]) => WordNGramHashes(exprs.head,
        exprs(1).eval().asInstanceOf[Int])),
    (FunctionIdentifier("graft_word_ngrams_pos"),
      new ExpressionInfo(classOf[graft.functions.WordNGramPosHashes].getName, "graft_word_ngrams_pos"),
      (exprs: Seq[Expression]) => graft.functions.WordNGramPosHashes(exprs.head,
        exprs(1).eval().asInstanceOf[Int])),
    (FunctionIdentifier("graft_h60"),
      new ExpressionInfo(classOf[graft.functions.Md5Hash60].getName, "graft_h60"),
      (exprs: Seq[Expression]) => graft.functions.Md5Hash60(exprs.head)),
    (FunctionIdentifier("graft_plane_sign_bits"),
      new ExpressionInfo(classOf[PlaneSignBits].getName, "graft_plane_sign_bits"),
      (exprs: Seq[Expression]) => PlaneSignBits(exprs.head,
        exprs(1).eval().asInstanceOf[Int])),
    (FunctionIdentifier("graft_minhash_signature"),
      new ExpressionInfo(classOf[MinhashSignature].getName, "graft_minhash_signature"),
      (exprs: Seq[Expression]) => MinhashSignature(exprs.head,
        exprs(1).eval().asInstanceOf[Int],
        exprs(2).eval() match { case i: Int => i.toLong; case l: Long => l })),
    (FunctionIdentifier("graft_hilbert_index"),
      new ExpressionInfo(classOf[HilbertIndex].getName, "graft_hilbert_index"),
      (exprs: Seq[Expression]) => HilbertIndex(exprs.head, exprs(1),
        exprs(2).eval().asInstanceOf[Int])),
    (FunctionIdentifier("graft_dot_long"),
      new ExpressionInfo(classOf[DotLong].getName, "graft_dot_long"),
      (exprs: Seq[Expression]) => DotLong(exprs.head, exprs(1))),
    (FunctionIdentifier("graft_sorted_intersect_size"),
      new ExpressionInfo(classOf[SortedIntersectSize].getName, "graft_sorted_intersect_size"),
      (exprs: Seq[Expression]) => SortedIntersectSize(exprs.head, exprs(1))),
    (FunctionIdentifier("graft_repetition_stats"),
      new ExpressionInfo(classOf[graft.functions.RepetitionStats].getName, "graft_repetition_stats"),
      (exprs: Seq[Expression]) => graft.functions.RepetitionStats(exprs.head)),
    (FunctionIdentifier("graft_quantile_sketch"),
      new ExpressionInfo(classOf[graft.functions.QuantileSketch].getName, "graft_quantile_sketch"),
      (exprs: Seq[Expression]) => graft.functions.QuantileSketch.of({
        if (exprs.length != 2)
          throw new IllegalArgumentException(
            s"graft_quantile_sketch(col, quantiles) takes 2 arguments, got ${exprs.length}")
        exprs.head
      }, {
        // SQL literals like array(0.5) arrive as decimal arrays — cast
        // to array<double> before folding
        import org.apache.spark.sql.catalyst.expressions.Cast
        import org.apache.spark.sql.types.{ArrayType, DoubleType}
        if (!exprs(1).foldable)
          throw new IllegalArgumentException(
            "graft_quantile_sketch: quantiles must be a foldable array " +
              s"literal (e.g. array(0.5, 0.9)), got ${exprs(1).sql}")
        val asDoubles = exprs(1).dataType match {
          case _: ArrayType => Cast(exprs(1), ArrayType(DoubleType))
          case _ => Cast(exprs(1), DoubleType)
        }
        asDoubles.eval() match {
          case a: org.apache.spark.sql.catalyst.util.ArrayData => a.toDoubleArray().toSeq
          case d: Double => Seq(d)
          case x => throw new IllegalArgumentException(s"quantiles must be a double array, got $x")
        }
      })),
    (FunctionIdentifier("graft_freq_sketch"),
      new ExpressionInfo(classOf[graft.functions.FreqSketch].getName, "graft_freq_sketch"),
      (exprs: Seq[Expression]) => {
        if (exprs.length != 2)
          throw new IllegalArgumentException(
            s"graft_freq_sketch(col, k) takes 2 arguments, got ${exprs.length}")
        if (!exprs(1).foldable)
          throw new IllegalArgumentException(
            "graft_freq_sketch: k must be a foldable integer literal, " +
              s"got ${exprs(1).sql}")
        graft.functions.FreqSketch.of(exprs.head, exprs(1).eval() match {
          case i: Int => i
          case l: Long => l.toInt
          case x => throw new IllegalArgumentException(s"k must be an int, got $x")
        })
      }))
}
