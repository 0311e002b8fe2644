package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One span. Times are milliseconds since the tracer's origin; `parent`
  * is -1 when the span was recorded outside the benchmark's own nesting
  * (Spark jobs, planning phases, parallel folds) and is resolved later
  * by time containment.
  */
final case class Span(id: Int, parent: Int, op: Int, name: String,
    startMs: Double, endMs: Double)

/** In-memory span recorder. Disabled, `span` only runs its body. */
final class Tracer(val enabled: Boolean) {
  val originNs: Long = System.nanoTime()
  val originEpochMs: Long = System.currentTimeMillis()
  private val spans = ArrayBuffer.empty[Span]
  private val ids = new AtomicInteger(0)
  private val stack = new ThreadLocal[List[Int]] {
    override def initialValue(): List[Int] = Nil
  }
  /** Id of the op in flight; spans recorded meanwhile carry it. */
  @volatile var op: Int = -1

  def ms(nanos: Long): Double = (nanos - originNs) / 1e6
  def fromEpoch(epochMs: Long): Double = (epochMs - originEpochMs).toDouble

  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val parents = stack.get
      stack.set(id :: parents)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack.set(parents)
        add(Span(id, parents.headOption.getOrElse(-1), op, name, ms(t0), ms(t1)))
      }
    }

  /** Record a span measured elsewhere (parent resolved by containment). */
  def record(name: String, startMs: Double, endMs: Double): Unit =
    if (enabled) add(Span(ids.incrementAndGet(), -1, op, name, startMs, endMs))

  private def add(s: Span): Unit = spans.synchronized { spans += s; () }

  def all: Seq[Span] = spans.synchronized(spans.toList)
}

/** Spark-side counters for the traced run: jobs with their stage and
  * task metrics (a `SparkListener`), and each query execution's
  * planning phases and graft rule invocations (a
  * `QueryExecutionListener`). Attached only when tracing.
  */
final class SparkProbe(tracer: Tracer) extends SparkListener with QueryExecutionListener {
  private final class Job(val id: Int, val group: String, val callSite: String,
      val startMs: Double, val stageIds: Seq[Int]) {
    @volatile var endMs: Option[Double] = None
  }
  // per-stage task totals, in this order
  private val metricNames = Seq("tasks", "task_cpu_ns", "task_run_ms", "gc_ms",
    "scan_bytes", "scan_records", "shuffle_write_bytes", "shuffle_read_bytes",
    "fetch_wait_ms", "spill_bytes")
  private val jobs = new ConcurrentHashMap[Int, Job]()
  private val stageOwner = new ConcurrentHashMap[Int, Int]()
  private val stagesRun = new ConcurrentHashMap[Int, Int]()
  private val stageAgg = new ConcurrentHashMap[Int, Array[Long]]()
  private val queries = new java.util.concurrent.ConcurrentLinkedQueue[Map[String, Any]]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    val group = props.map(_.getProperty("spark.jobGroup.id")).orNull
    // a job's call site is its result stage's name, e.g.
    // "localCheckpoint at Similarity.scala:812"
    val site = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name
    jobs.put(e.jobId, new Job(e.jobId, group, site, tracer.fromEpoch(e.time), e.stageIds))
    ()
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = Some(tracer.fromEpoch(e.time)))

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    // a stage id listed by several jobs runs once, for the newest
    // running job that lists it
    val sid = e.stageInfo.stageId
    val owner = jobs.values().asScala
      .filter(j => j.endMs.isEmpty && j.stageIds.contains(sid))
      .map(_.id).maxOption
    owner.foreach(stageOwner.put(sid, _))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    stagesRun.merge(e.stageInfo.stageId, 1, Integer.sum)
    ()
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m == null) return
    val a = stageAgg.computeIfAbsent(e.stageId, _ => new Array[Long](metricNames.size))
    a.synchronized {
      a(0) += 1
      a(1) += m.executorCpuTime
      a(2) += m.executorRunTime
      a(3) += m.jvmGCTime
      a(4) += m.inputMetrics.bytesRead
      a(5) += m.inputMetrics.recordsRead
      a(6) += m.shuffleWriteMetrics.bytesWritten
      a(7) += m.shuffleReadMetrics.totalBytesRead
      a(8) += m.shuffleReadMetrics.fetchWaitTime
      a(9) += m.memoryBytesSpilled + m.diskBytesSpilled
    }
    ()
  }

  private def graftRule(name: String): Boolean = name.startsWith("graft.")

  private def onQuery(qe: QueryExecution): Unit = {
    val t = qe.tracker
    val phases = t.phases.map { case (p, s) =>
      p -> Seq(tracer.fromEpoch(s.startTimeMs), tracer.fromEpoch(s.endTimeMs))
    }
    val rules = t.rules.filter { case (r, _) => graftRule(r) }
    queries.add(Map(
      "phases" -> phases,
      "graft_rules_ns" -> rules.values.map(_.totalTimeNs).sum,
      "graft_rules_fired" -> rules.values.map(_.numEffectiveInvocations).sum))
    ()
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    onQuery(qe)

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    onQuery(qe)

  def attach(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  def detach(spark: SparkSession): Unit = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  /** Every job with its own stage and task totals. */
  def jobRecords: Seq[Map[String, Any]] = {
    val owned = stageOwner.asScala.toSeq.groupBy(_._2).map { case (j, xs) => j -> xs.map(_._1) }
    jobs.values().asScala.toSeq.sortBy(_.id).map { j =>
      val stages = owned.getOrElse(j.id, Nil)
      val totals = new Array[Long](metricNames.size)
      stages.foreach(sid => Option(stageAgg.get(sid)).foreach(a =>
        a.synchronized(a.indices.foreach(i => totals(i) += a(i)))))
      Map(
        "id" -> j.id, "group" -> j.group, "call_site" -> j.callSite,
        "start_ms" -> j.startMs, "end_ms" -> j.endMs,
        "stages" -> stages.count(s => stagesRun.containsKey(s))) ++
        metricNames.zip(totals).toMap
    }
  }

  def queryRecords: Seq[Map[String, Any]] = queries.asScala.toSeq
}
