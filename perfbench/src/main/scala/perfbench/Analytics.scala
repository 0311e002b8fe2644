package perfbench

import java.nio.file.{Files, Paths}
import scala.util.Random
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Read-only catalog queries: the CS186 relational surface and four
  * TPC-H queries, run as passes in seeded order. Set-up dumps each
  * query's result, with the oracle SQL, for the DuckDB oracle check, and
  * then runs one warm pass of the timed ops, whose result hashes every
  * timed repetition must return. After the window each dump must hash
  * to the same value.
  */
final class Analytics(ctx: Ctx) extends Workload {
  import Analytics._

  private val spark = ctx.spark
  private val catalog = graft.SparkEntry.queries
  private val firstHash = scala.collection.mutable.Map[String, (Long, String)]()
  private val firstResults = ctx.path("first_results")
  private def dumpDir(q: String) = s"$firstResults/$q"

  def setup(seed: Long): Seq[(String, Double)] = {
    val t0 = System.nanoTime()
    // the dumps are set-up, not load, so they run on several driver
    // threads; the timed windows have one client
    val pool = java.util.concurrent.Executors.newFixedThreadPool(ctx.cpus)
    try {
      Queries.map { q =>
        pool.submit(new java.util.concurrent.Callable[Unit] {
          def call(): Unit =
            catalog(q)(spark, ctx.dataDir).coalesce(1).write.parquet(dumpDir(q))
        })
      }.foreach(_.get())
    } finally {
      pool.shutdown()
      pool.awaitTermination(10, java.util.concurrent.TimeUnit.MINUTES)
    }
    Files.writeString(Paths.get(s"$firstResults/oracle_sql.json"), Main.json.writeValueAsString(
      graft.SparkEntry.oracleSql.filter { case (k, _) => Queries.contains(k) }))
    val t1 = System.nanoTime()
    // the warm pass: every timed op once, on one client as in the window,
    // so each plan's code is generated and compiled, and the JVM has
    // compiled the driver's paths, before timing starts
    Queries.foreach(q => firstHash(q) = hashOf(catalog(q)(spark, ctx.dataDir)))
    Seq("dumps" -> (t1 - t0) / 1e9, "warm_pass" -> (System.nanoTime() - t1) / 1e9)
  }

  def reset(seed: Long): Unit = ()

  /** Two passes, each in its own seeded order. */
  def cycle(rng: Random): Seq[String] = rng.shuffle(Queries) ++ rng.shuffle(Queries)

  def prepare(q: String, rng: Random): Op = new Op {
    val kind = "read"
    val name = q
    def run(t: Tracer): Any = {
      val df = t.span("operators.build")(catalog(q)(spark, ctx.dataDir))
      hashOf(df)
    }
    override def check(answer: Any): Option[String] =
      if (answer == firstHash(q)) None
      else Some(s"result hash $answer differs from the first result ${firstHash(q)}")
  }

  /** The dumped first results, which the oracle check reads, are the
    * results the timed plans returned. */
  def finalCheck(): Seq[String] = Queries.flatMap { q =>
    val dumped = hashOf(spark.read.parquet(dumpDir(q)))
    if (dumped == firstHash(q)) None
    else Some(s"$q: dumped first result hashes to $dumped, the timed plan to ${firstHash(q)}")
  }

  def report(): Map[String, Any] = Map(
    "first_results" -> firstResults,
    "first_hash" -> firstHash.map { case (k, (n, h)) => k -> Seq(n, h) })
}

object Analytics {
  val Queries: Seq[String] = Seq(
    "q_scan_project", "q_where_predicates", "q_index_range_scan", "q_point_lookup",
    "q_agg_global", "q_groupby_agg", "q_join_broadcast", "q_join_shuffle_hash",
    "q_join_sort_merge", "q_join_theta", "q_multijoin_optimal", "q_semi_anti",
    "q_distinct", "q_topk", "q_tpch_q1", "q_tpch_q3", "q_tpch_q5", "q_tpch_q18")

  /** Row count and an order-independent multiset hash over every
    * column: forces each column to be read and computed, and returns
    * a single row.
    */
  def hashOf(df: DataFrame): (Long, String) = {
    val r = df.select(xxhash64(df.columns.map(c => col(s"`$c`")).toSeq: _*).as("h"))
      .agg(count(lit(1)), sum(col("h").cast("decimal(38,0)")))
      .head()
    (r.getLong(0), String.valueOf(r.get(1)))
  }
}
