package perfbench

import scala.collection.immutable.HashMap
import scala.util.Random
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import graft.Tables
import graft.operators.Forget
import graft.sources.{IndexRegistry, MaterializedView, Snapshots}

/** One orders row as the model keeps it (price in cents). */
final case class Order(custkey: Long, status: String, priority: String, cents: Long)

/** A read-mostly versioned store on the relational capstone: point
  * lookups through the bloom skip index, key-range scans of the
  * Z-ordered replica, rollup and join-view serves, and change feeds,
  * between small appends, per-customer erasures and status updates,
  * each followed by the registry walk that maintains the four access
  * paths. A plain-Scala model of the table, replayed from the same op
  * stream, checks every answer.
  */
final class Orders(ctx: Ctx) extends Workload {
  import Orders._

  private val spark = ctx.spark
  private var roots = 0
  private var root = ""
  private def base = s"$root/orders"

  // the model: live rows by key, and the live rows at each retained version
  private var live = HashMap.empty[Long, Order]
  private var history = Map.empty[Int, HashMap[Long, Order]]
  private var nextKey = 0L
  private var recentKeys = Vector.empty[Long]
  private var schema: StructType = _
  private lazy val initial: HashMap[Long, Order] = HashMap.from(
    Tables.load(spark, ctx.dataDir, "orders")
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        col("o_orderpriority"), col("o_totalprice").cast("decimal(18,2)"))
      .collect().map(r => r.getLong(0) ->
        Order(r.getLong(1), r.getString(2), r.getString(3), cents(r.getDecimal(4)))))
  private lazy val segment: Map[Long, String] =
    Tables.load(spark, ctx.dataDir, "customer").select("c_custkey", "c_mktsegment")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
  private lazy val customers: IndexedSeq[Long] = segment.keys.toIndexedSeq.sorted

  // traced bookkeeping
  private var lastDirs = Set.empty[String]
  private var lastCdcBytes = 0L
  private var headAtStart = 0

  /** Bootstrap a fresh root and reset the model to the input rows. */
  private def bootstrap(): Double = {
    roots += 1
    root = ctx.path(s"orders_$roots")
    val t0 = System.nanoTime()
    Forget.relationalBootstrapAt(spark, ctx.dataDir, root)
    val s = (System.nanoTime() - t0) / 1e9
    live = initial
    nextKey = live.keys.max + 1
    recentKeys = Vector.empty
    schema = Snapshots.read(spark, base).schema
    history = Map(Snapshots.currentVersion(base) -> live)
    IndexRegistry.drainWalkLog() // the bootstrap's own folds
    markWindowStart()
    s
  }

  /** Commits and bytes from here on belong to the timed window. */
  private def markWindowStart(): Unit = {
    headAtStart = Snapshots.currentVersion(base)
    lastDirs = Snapshots.versionDirs(base, headAtStart).toSet
    lastCdcBytes = Main.du(s"$base/cdc")
  }

  def setup(seed: Long): Seq[(String, Double)] = {
    // one op of every kind first, so the timed window starts with warm
    // code paths and lazily built state
    val boot = bootstrap()
    val t0 = System.nanoTime()
    val rng = new Random(seed ^ 0x5eedL)
    (Reads.distinct ++ Writes :+ "vacuum").foreach { k =>
      val op = prepare(k, rng)
      op.run(new Tracer(false))
      op.commit()
    }
    IndexRegistry.drainWalkLog()
    markWindowStart()
    Seq("bootstrap" -> boot, "warm_ops" -> (System.nanoTime() - t0) / 1e9)
  }

  def reset(seed: Long): Unit = { setup(seed); () }

  /** 45 reads, one append, one erasure, one update and three vacuums,
    * in seeded order. Appends and erasures balance, so later cycles
    * cost what early ones do. */
  def cycle(rng: Random): Seq[String] =
    rng.shuffle(Seq.fill(3)(Reads).flatten ++ Writes ++ Seq.fill(3)("vacuum"))

  private def rowsOf(df: DataFrame): Seq[(Long, Order)] =
    df.select(col("o_orderkey"), col("custkey"), col("o_orderstatus"),
      col("o_orderpriority"), col("o_price")).collect().toSeq.map(orderOf)

  private def diff[A](got: Seq[A], want: Seq[A], what: String): Option[String] = {
    val g = got.groupBy(identity).map { case (k, v) => k -> v.size }
    val w = want.groupBy(identity).map { case (k, v) => k -> v.size }
    if (g == w) None
    else {
      val extra = g.filter { case (k, n) => w.getOrElse(k, 0) != n }.keys.take(2)
      val missing = w.filter { case (k, n) => g.getOrElse(k, 0) != n }.keys.take(2)
      Some(s"$what: ${got.size} rows vs ${want.size} expected; " +
        s"unexpected ${extra.mkString(", ")}; missing ${missing.mkString(", ")}")
    }
  }

  private def customerWithOrders(rng: Random): Long = {
    val keys = live.keysIterator.toIndexedSeq
    live(keys(rng.nextInt(keys.size))).custkey
  }

  private def walk(t: Tracer): Seq[(String, Long)] =
    t.span("index.walk")(IndexRegistry.maintainAllTimed(spark, base))

  /** A write op: the commit, then the walk; the answer is the fold times. */
  private abstract class Write(val name: String) extends Op {
    val kind = "write"
    def write(t: Tracer): Unit
    def apply(m: HashMap[Long, Order]): HashMap[Long, Order]
    def touched: Seq[Long]
    def run(t: Tracer): Any = { write(t); walk(t) }
    override def commit(): Unit = {
      recentKeys = touched.toVector.takeRight(16)
      live = apply(live)
      val v = Snapshots.currentVersion(base)
      history = history.filter { case (k, _) => k > v - Retain } + (v -> live)
    }
  }

  def prepare(kind: String, rng: Random): Op = kind match {
    case "lookup" | "lookup_recent" =>
      val k =
        if (kind == "lookup_recent" && recentKeys.nonEmpty)
          recentKeys(rng.nextInt(recentKeys.size))
        else rng.nextLong(nextKey)
      new Op {
        val kind = "read"
        val name = "lookup"
        def run(t: Tracer): Any = t.span("index.serve.orders_bloom") {
          val df = t.span("snapshots.lookup")(
            Snapshots.pointLookup(spark, base, "o_orderkey", k))
          rowsOf(df)
        }
        override def check(a: Any): Option[String] =
          diff(a.asInstanceOf[Seq[(Long, Order)]], live.get(k).map(k -> _).toSeq,
            s"lookup $k")
      }

    case "zrange" =>
      val lo = rng.nextLong(math.max(1L, nextKey - RangeWidth))
      val hi = lo + RangeWidth - 1
      new Op {
        val kind = "read"
        val name = "zrange"
        def run(t: Tracer): Any = t.span("index.serve.orders_zorder")(rowsOf(
          t.span("operators.build")(Snapshots.read(spark, s"$root/zreplica")
            .where(col("o_orderkey").between(lo, hi)))))
        override def check(a: Any): Option[String] =
          diff(a.asInstanceOf[Seq[(Long, Order)]],
            live.filter { case (k, _) => k >= lo && k <= hi }.toSeq, s"zrange $lo..$hi")
      }

    case "rollup" =>
      new Op {
        val kind = "read"
        val name = "rollup"
        def run(t: Tracer): Any = t.span("index.serve.orders_rollup")(
          rollupOf(t.span("operators.build")(Snapshots.read(spark, s"$root/rollup"))))
        override def check(a: Any): Option[String] =
          diff(a.asInstanceOf[Seq[(String, String, Long, Long)]], rollupModel, "rollup")
      }

    case "custjoin" =>
      new Op {
        val kind = "read"
        val name = "custjoin"
        def run(t: Tracer): Any = t.span("index.serve.orders_custjoin")(
          joinOf(t.span("operators.build")(MaterializedView.serveJoin(spark, s"$root/custjoin"))))
        override def check(a: Any): Option[String] =
          diff(a.asInstanceOf[Seq[(Long, Long, String, Long)]], joinModel, "custjoin")
      }

    case "changes" =>
      val head = Snapshots.currentVersion(base)
      val spans = (1 until Retain).filter(k => history.contains(head - k))
      val from = if (spans.isEmpty) head else head - spans(rng.nextInt(spans.size))
      new Op {
        val kind = "read"
        val name = "changes"
        def run(t: Tracer): Any = t.span("snapshots.changes") {
          val (ins, del) = Snapshots.changesBetween(spark, base, from, head)
          (rowsOf(ins), rowsOf(del))
        }
        override def check(a: Any): Option[String] = {
          val (ins, del) = a.asInstanceOf[(Seq[(Long, Order)], Seq[(Long, Order)])]
          val (before, after) = (history(from), history(head))
          val wantIns = after.toSeq.filter { case (k, o) => !before.get(k).contains(o) }
          val wantDel = before.toSeq.filter { case (k, o) => !after.get(k).contains(o) }
          diff(ins, wantIns, s"changes v$from..v$head inserts")
            .orElse(diff(del, wantDel, s"changes v$from..v$head deletes"))
        }
      }

    case "append" =>
      val rows = (0 until AppendRows).map { i =>
        nextKey + i -> Order(customers(rng.nextInt(customers.size)),
          Statuses(rng.nextInt(Statuses.size)), Priorities(rng.nextInt(Priorities.size)),
          100000L + rng.nextLong(40000000L))
      }
      nextKey += AppendRows
      val df = spark.createDataFrame(
        java.util.Arrays.asList(rows.map { case (k, o) =>
          Row(k, o.custkey, o.status, o.priority, java.math.BigDecimal.valueOf(o.cents, 2))
        }: _*), schema)
      new Write("append") {
        def write(t: Tracer): Unit = { t.span("snapshots.append")(Snapshots.commitAppend(df, base)); () }
        def apply(m: HashMap[Long, Order]) = m ++ rows
        def touched = rows.map(_._1)
      }

    case "erase" =>
      val c = customerWithOrders(rng)
      new Write("erase") {
        def write(t: Tracer): Unit = t.span("snapshots.dml") {
          val cond = col("custkey") === c
          Snapshots.deleteWhereSelective(spark, base, cond)
            .getOrElse(Snapshots.deleteWhere(spark, base, cond))
          ()
        }
        def apply(m: HashMap[Long, Order]) = m.filter { case (_, o) => o.custkey != c }
        def touched = live.collect { case (k, o) if o.custkey == c => k }.toSeq
      }

    case "update" =>
      val c = customerWithOrders(rng)
      val st = Statuses(rng.nextInt(Statuses.size))
      new Write("update") {
        def write(t: Tracer): Unit = t.span("snapshots.dml") {
          val cond = col("custkey") === c
          Snapshots.updateWhereSelective(spark, base, cond, "o_orderstatus", lit(st))
            .getOrElse(Snapshots.updateWhere(spark, base, cond, "o_orderstatus", lit(st)))
          ()
        }
        def apply(m: HashMap[Long, Order]) =
          m.map { case (k, o) => k -> (if (o.custkey == c) o.copy(status = st) else o) }
        def touched = live.collect { case (k, o) if o.custkey == c => k }.toSeq
      }

    case "vacuum" =>
      new Op {
        val kind = "maintenance"
        val name = "vacuum"
        // one client, so nothing is in flight and a zero grace is safe
        def run(t: Tracer): Any =
          t.span("snapshots.vacuum")(Snapshots.vacuum(base, retain = Retain, graceMs = 0L))
      }
  }

  private def rollupOf(df: DataFrame): Seq[(String, String, Long, Long)] =
    df.select(col("o_orderstatus"), col("o_orderpriority"), col("cnt"),
      (col("sum_o_price") * 100).cast("long")).collect().toSeq
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))

  private def rollupModel: Seq[(String, String, Long, Long)] =
    live.values.groupBy(o => (o.status, o.priority)).toSeq.map { case ((s, p), os) =>
      (s, p, os.size.toLong, os.iterator.map(_.cents).sum)
    }

  private def joinOf(df: DataFrame): Seq[(Long, Long, String, Long)] =
    df.select(col("custkey"), col("o_orderkey"), col("c_mktsegment"),
      (col("o_price") * 100).cast("long")).collect().toSeq
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))

  private def joinModel: Seq[(Long, Long, String, Long)] =
    live.toSeq.collect { case (k, o) if segment.contains(o.custkey) =>
      (o.custkey, k, segment(o.custkey), o.cents)
    }

  override def afterOp(op: Op, t: Tracer): Map[String, Any] = {
    val folds: Map[String, Any] = op match {
      case _: Write =>
        // the walk's per-family fold times, from the registry's walk log
        val entries = IndexRegistry.drainWalkLog().filter(_._1 == base)
        entries.foreach { case (_, fam, _, t0, t1) =>
          t.record(s"index.fold.$fam", t.ms(t0), t.ms(t1))
        }
        Map("folds" -> entries.map { case (_, fam, ms, _, _) => fam -> ms }.toMap)
      case _ => Map.empty
    }
    if (!t.enabled || op.kind == "read") folds
    else {
      // bytes this commit added under data/ and cdc/, read off disk
      val v = Snapshots.currentVersion(base)
      val dirs = Snapshots.versionDirs(base, v).toSet
      val added = (dirs -- lastDirs).toSeq.map(Main.du).sum
      val cdc = Main.du(s"$base/cdc")
      val out = folds ++ Map("data_bytes" -> added,
        "cdc_bytes" -> math.max(0L, cdc - lastCdcBytes))
      lastDirs = dirs
      lastCdcBytes = cdc
      out
    }
  }

  /** The window's reads checked every bloom lookup; the whole tables
    * are checked here. */
  def finalCheck(): Seq[String] = Seq(
    diff(rowsOf(Snapshots.read(spark, base)), live.toSeq, "base table"),
    diff(rowsOf(Snapshots.read(spark, s"$root/zreplica")), live.toSeq, "orders_zorder replica"),
    diff(rollupOf(Snapshots.read(spark, s"$root/rollup")), rollupModel, "orders_rollup"),
    diff(joinOf(MaterializedView.serveJoin(spark, s"$root/custjoin")), joinModel,
      "orders_custjoin")).flatten

  def report(): Map[String, Any] = {
    val head = Snapshots.currentVersion(base)
    val familyBytes = Map(
      "orders_rollup" -> Main.du(s"$root/rollup"),
      "orders_bloom" -> Main.du(s"$base/_bloomidx_o_orderkey"),
      "orders_custjoin" -> Main.du(s"$root/custjoin"),
      "orders_zorder" -> Main.du(s"$root/zreplica"))
    // the live rows written once, fresh, as the space baseline
    val fresh = s"$root/fresh_copy"
    Snapshots.read(spark, base).coalesce(1).write.parquet(fresh)
    val freshBytes = Main.du(fresh)
    val onDisk = Main.du(base) + familyBytes.values.sum - familyBytes("orders_bloom")
    Map(
      "live_rows" -> live.size,
      "space_bytes" -> onDisk,
      "fresh_bytes" -> freshBytes,
      "space_amp" -> onDisk.toDouble / freshBytes,
      "versions" -> (head - headAtStart),
      "head_dirs" -> Snapshots.versionDirs(base, head).size,
      "cdc_bytes" -> Main.du(s"$base/cdc"),
      "index_bytes" -> familyBytes)
  }
}

object Orders {
  /** A third of a cycle's reads. The shares put each latency quantile
    * inside a group of ops that cost about the same, so that it does not
    * jump between groups from run to run: the medians among the lookups
    * (the Z-range scans and rollup serves below them balance the change
    * feeds above), the tails (10 ops beyond) among the change feeds. */
  val Reads: Seq[String] = Seq("lookup", "lookup", "lookup", "lookup", "lookup_recent",
    "zrange", "zrange", "zrange", "rollup", "custjoin",
    "changes", "changes", "changes", "changes", "changes")
  val Writes: Seq[String] = Seq("append", "erase", "update")
  val AppendRows = 10
  val RangeWidth = 300L
  /** Versions `vacuum` keeps; change feeds reach back at most this far. */
  val Retain = 4
  val Statuses: IndexedSeq[String] = IndexedSeq("F", "O", "P")
  val Priorities: IndexedSeq[String] =
    IndexedSeq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")

  def cents(d: java.math.BigDecimal): Long = d.setScale(2).unscaledValue.longValueExact

  def orderOf(r: Row): (Long, Order) =
    r.getLong(0) -> Order(r.getLong(1), r.getString(2), r.getString(3), cents(r.getDecimal(4)))
}
