package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable.ArrayBuffer
import scala.util.Random
import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** Settings shared by the workloads. */
final case class Ctx(spark: SparkSession, dataDir: String, workDir: String,
    cpus: Int) {
  def path(name: String): String = s"$workDir/$name"
}

/** One op, prepared outside the timed window. `run` is the timed call;
  * `check` compares its answer with the model afterwards and returns a
  * problem, if any; `commit` then advances the model (writes only).
  */
trait Op {
  def kind: String // "read", "write" or "maintenance"
  def name: String
  def run(t: Tracer): Any
  def check(answer: Any): Option[String] = None
  def commit(): Unit = ()
}

/** A workload: a set-up, a seeded cycle of ops, and a final check. */
trait Workload {
  /** Paid before the first timed op; returns the named parts in seconds. */
  def setup(seed: Long): Seq[(String, Double)]
  /** The state set-up left, again, for a second window on the same seed. */
  def reset(seed: Long): Unit
  /** The ops of one cycle. Every window runs whole cycles, so each run
    * times the same mix. */
  def cycle(rng: Random): Seq[String]
  def prepare(kind: String, rng: Random): Op
  /** Untimed bookkeeping after each op; extra fields for its record. */
  def afterOp(op: Op, t: Tracer): Map[String, Any] = Map.empty
  def finalCheck(): Seq[String]
  /** End-of-window facts: sizes on disk, counts. */
  def report(): Map[String, Any]
}

final case class OpRec(id: Int, kind: String, name: String, startMs: Double,
    endMs: Double, ok: Boolean, error: String, extra: Map[String, Any]) {
  def toMap: Map[String, Any] = Map("id" -> id, "kind" -> kind, "name" -> name,
    "start_ms" -> startMs, "end_ms" -> endMs, "ok" -> ok, "error" -> error) ++ extra
}

/** The benchmark program's entry point. Usage:
  * {{{
  * perfbench.Main <workload> <seed> <seconds> <trace 0|1> <data dir> <cpus> <work dir> <result json>
  * }}}
  * Writes one result file with every op's timing and answer check; the
  * script `run.py` turns it into metrics.
  */
object Main {
  /** Writes Scala maps, sequences and options (None as null) as JSON. */
  val json: JsonMapper = JsonMapper.builder().addModule(DefaultScalaModule).build()

  def main(args: Array[String]): Unit = {
    val mainNs = System.nanoTime()
    val Array(workload, seedS, secondsS, traceS, dataDir, cpusS, workDir, out) = args
    val seed = seedS.toLong
    val seconds = secondsS.toDouble
    val trace = traceS == "1"
    val cpus = cpusS.toInt
    Files.createDirectories(Paths.get(workDir))

    val sessionNs = System.nanoTime()
    val spark = graft.GraftSession.create(s"local[$cpus]", shufflePartitions = cpus)
    val sessionS = (System.nanoTime() - sessionNs) / 1e9
    val ctx = Ctx(spark, dataDir, workDir, cpus)
    val wl: Workload = workload match {
      case "analytics" => new Analytics(ctx)
      case "orders" => new Orders(ctx)
      case other => sys.error(s"unknown workload '$other'")
    }
    val parts = ("session", sessionS) +: wl.setup(seed)
    val setupS = (System.nanoTime() - mainNs) / 1e9

    val untraced = () => window(ctx, wl, new Tracer(false), seed, seconds, None)
    val windows =
      if (!trace) Seq(untraced())
      else {
        // the traced window takes the place an untraced run's window has;
        // then the same seed again from the state set-up left, untraced:
        // each traced op against its untraced twin, the same op on the
        // same inputs, gives the tracing overhead (the JVM keeps warming
        // up in between, so it is an upper bound)
        val tracer = new Tracer(true)
        val probe = new SparkProbe(tracer)
        probe.attach(spark)
        val traced = window(ctx, wl, tracer, seed, seconds, Some(probe))
        wl.reset(seed)
        Seq(traced, untraced())
      }
    val functions: Map[String, Any] =
      if (trace) FunctionsProbe.run(spark, dataDir) else Map.empty

    val env = Map(
      "spark" -> spark.version,
      "java" -> System.getProperty("java.version"),
      "nproc" -> Runtime.getRuntime.availableProcessors(),
      "master" -> s"local[$cpus]",
      "seed" -> seed,
      "data_dir" -> dataDir,
      "testdata_fingerprint" -> graft.sources.Snapshots.fileFingerprint(dataDir))
    val result = Map(
      "workload" -> workload,
      "env" -> env,
      "setup_s" -> setupS,
      "setup_parts" -> parts.map { case (k, v) => Map("name" -> k, "s" -> v) },
      "windows" -> windows,
      "functions" -> functions)
    spark.stop()
    Files.writeString(Paths.get(out), json.writeValueAsString(result))
  }

  /** Run whole cycles of ops until `seconds` have passed. */
  private def window(ctx: Ctx, wl: Workload, t: Tracer, seed: Long,
      seconds: Double, probe: Option[SparkProbe]): Map[String, Any] = {
    val sc = ctx.spark.sparkContext
    val rng = new Random(seed)
    val ops = ArrayBuffer[OpRec]()
    val steal0 = stealTicks()
    val startNs = System.nanoTime()
    var cycles = 0
    while ((System.nanoTime() - startNs) / 1e9 < seconds) {
      wl.cycle(rng).foreach { kind =>
        val op = wl.prepare(kind, rng)
        val id = ops.size
        t.op = id
        if (t.enabled) sc.setJobGroup(s"op-$id", op.name, interruptOnCancel = false)
        val t0 = System.nanoTime()
        val answer = scala.util.Try(t.span("op")(op.run(t)))
        val t1 = System.nanoTime()
        if (t.enabled) sc.clearJobGroup()
        t.op = -1
        val problem = answer match {
          case scala.util.Success(a) => op.check(a)
          case scala.util.Failure(e) => Some(s"${e.getClass.getName}: ${e.getMessage}")
        }
        if (answer.isSuccess) op.commit()
        ops += OpRec(id, op.kind, op.name, t.ms(t0), t.ms(t1),
          problem.isEmpty, problem.orNull, wl.afterOp(op, t))
      }
      cycles += 1
    }
    val wallS = (System.nanoTime() - startNs) / 1e9
    val steal = stealTicks()
    probe.foreach(_.detach(ctx.spark))
    val problems = wl.finalCheck()
    Map(
      "traced" -> t.enabled,
      "cycles" -> cycles,
      "wall_s" -> wallS,
      // CPU time the hypervisor gave to other guests during the window,
      // summed over all CPUs: a noisy host shows here
      "host_steal_s" -> steal0.zip(steal).map { case (a, b) => (b - a) / 100.0 },
      "ops" -> ops.map(_.toMap),
      "final_problems" -> problems,
      "report" -> wl.report(),
      "spans" -> t.all.map(s => Seq(s.id, s.parent, s.op, s.name, s.startMs, s.endMs)),
      "jobs" -> probe.map(_.jobRecords).getOrElse(Nil),
      "queries" -> probe.map(_.queryRecords).getOrElse(Nil))
  }

  /** The kernel's steal counter (USER_HZ ticks), where the host has one. */
  private def stealTicks(): Option[Long] =
    scala.util.Try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try src.getLines().next().trim.split("\\s+")(8).toLong finally src.close()
    }.toOption

  /** Bytes of all regular files under `path` (0 when absent). */
  def du(path: String): Long = {
    val p = Paths.get(path)
    if (!Files.exists(p)) 0L
    else {
      val w = Files.walk(p)
      try w.filter(Files.isRegularFile(_)).mapToLong((f: Path) => Files.size(f)).sum()
      finally w.close()
    }
  }
}
