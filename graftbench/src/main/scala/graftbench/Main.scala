package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal
import com.fasterxml.jackson.core.json.JsonWriteFeature
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** One call the workload made and whether it (and its checks) succeeded. */
final case class Op(kind: String, name: String, round: Int, ms: Double, ok: Boolean, detail: String)

final class Ops {
  val all = mutable.ArrayBuffer.empty[Op]
  var round: Int = -1

  /** Time `body`; a throw records a failed op and yields None. */
  def timed[T](kind: String, name: String)(body: => T): Option[T] = {
    val t0 = System.nanoTime()
    try {
      val r = body
      all += Op(kind, name, round, (System.nanoTime() - t0) / 1e6, ok = true, "")
      Some(r)
    } catch {
      case NonFatal(e) =>
        all += Op(kind, name, round, (System.nanoTime() - t0) / 1e6, ok = false, e.toString.take(400))
        None
    }
  }

  /** A failed check marks the op it checked as failed. */
  def failLast(kind: String, detail: String): Unit = {
    val i = all.lastIndexWhere(_.kind == kind)
    if (i >= 0) all(i) = all(i).copy(ok = false, detail = (all(i).detail + " " + detail).trim)
  }

  def check(name: String, ok: Boolean, detail: String): Unit =
    all += Op("check", name, round, 0.0, ok, detail)
}

/** What a workload gets to work with. `tiny` shrinks it for the self-test;
  * `corrupt` damages one stored row before the end-of-run checks.
  */
final class Ctx(val spark: SparkSession, val seed: Long, val work: String,
    val benchDir: String, val tiny: Boolean, val corrupt: Boolean,
    val tracer: Tracer, val ops: Ops) {

  /** Build, plan and collect one query; spans split the three in traced
    * runs. Returns the result's column names and rows.
    */
  def query(layer: String, name: String, buildPhase: String = "build")(
      build: => DataFrame): (Seq[String], Array[Row]) = {
    val df = tracer.span(layer, name, buildPhase)(build)
    tracer.span(layer, name, "plan")(df.queryExecution.executedPlan)
    (df.columns.toSeq, tracer.span(layer, name, "exec")(df.collect()))
  }
}

/** A closed-loop workload: one client thread, each round waits for the last. */
trait Workload {
  /** One set-up: generate inputs and commit them. The last one is measured. */
  def setup(rep: Int): Unit
  /** Make round `r`'s inputs; not timed. */
  def prepare(r: Int): Unit = ()
  def round(r: Int): Unit
  /** End-of-run correctness checks. */
  def finish(): Unit
  /** End-to-end metrics only this workload has (name -> value, unit). */
  def ownEndToEnd(measured: Set[Int]): Seq[(String, Double, String)] = Nil
  /** Per-layer metrics of the traced run. */
  def layerMetrics(measured: Set[Int], jobs: Seq[JobStat]): Seq[(String, Double, String)] = Nil
  /** Extra facts for the run record. */
  def notes: Map[String, Any] = Map.empty
}

final case class RoundStat(round: Int, phase: String, wallS: Double, cpuS: Double,
    jitMs: Double, gcMs: Double)

object Main {

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val jit = ManagementFactory.getCompilationMXBean
  private def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  private def loadavg(): Double =
    try Files.readString(Paths.get("/proc/loadavg")).split(" ")(0).toDouble
    catch { case NonFatal(_) => -1.0 }

  /** (steal, total) jiffies of all CPUs. */
  private def cpuJiffies(): (Long, Long) =
    try {
      val f = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+").drop(1).map(_.toLong)
      (if (f.length > 7) f(7) else 0L, f.take(8).sum)
    } catch { case NonFatal(_) => (0L, 0L) }

  private def parse(args: Array[String]): Map[String, String] =
    args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.stripPrefix("--") -> v
      case other => throw new IllegalArgumentException(s"bad arguments: ${other.mkString(" ")}")
    }.toMap

  def main(args: Array[String]): Unit = {
    val a = parse(args)
    if (a.contains("oracle-sql")) { CorpusBatch.writeOracleSql(a("oracle-sql")); return }
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val tiny = a.get("size").contains("tiny")
    val corrupt = a.get("corrupt").contains("1")
    val work = a("work")
    val nproc = Runtime.getRuntime.availableProcessors
    val k = math.min(4, nproc)
    val load0 = loadavg()

    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$k]")
      .config("spark.sql.shuffle.partitions", k.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = (System.nanoTime() - t0) / 1e9

    val listener = if (trace) Some(new EngineListener) else None
    listener.foreach(spark.sparkContext.addSparkListener)
    val tracer = new Tracer(spark.sparkContext, trace)
    val ops = new Ops
    val ctx = new Ctx(spark, seed, work, a("bench-dir"), tiny, corrupt, tracer, ops)
    val wl: Workload = workload match {
      case "live_clinic" => new LiveClinic(ctx)
      case "corpus_batch" => new CorpusBatch(ctx)
      case "cdc_backfill" => new CdcBackfill(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    // ---- set-up, several times; the median is the metric ----
    val setupReps = if (tiny) 1 else SetupReps
    val setupS = (0 until setupReps).map { rep =>
      val s0 = System.nanoTime()
      wl.setup(rep)
      (System.nanoTime() - s0) / 1e9
    }

    // ---- rounds ----
    val stats = mutable.ArrayBuffer.empty[RoundStat]
    def runRound(r: Int, phase: String): RoundStat = {
      ops.round = r
      tracer.round = r
      wl.prepare(r)
      System.gc() // the previous round's garbage is not billed to this one
      val (j0, g0, c0, w0) = (jit.getTotalCompilationTime, gcMs, os.getProcessCpuTime, System.nanoTime())
      wl.round(r)
      val st = RoundStat(r, phase, (System.nanoTime() - w0) / 1e9,
        (os.getProcessCpuTime - c0) / 1e9, (jit.getTotalCompilationTime - j0).toDouble,
        (gcMs - g0).toDouble)
      stats += st
      st
    }

    // Warm-up ends on observation: the JIT compiles little next to the
    // round, and the round has stopped getting faster. It is bounded; a run
    // that hits the bound says so in its record.
    val maxWarm = if (tiny) 1 else MaxWarm
    var warmed = false
    var r = 0
    while (!warmed && r < maxWarm) {
      val st = runRound(r, "warmup")
      val prior = stats.init.map(_.wallS)
      warmed = prior.nonEmpty &&
        st.jitMs <= WarmJitShare * st.cpuS * 1000 &&
        st.wallS >= (1 - WarmStillFalling) * prior.min
      r += 1
    }
    val warmupHitBound = !warmed && !tiny

    val nMeasured = if (tiny) 2 else MeasuredRounds
    val (steal0, total0) = cpuJiffies()
    val measureStart = System.nanoTime()
    val measured = (0 until nMeasured).map(i => runRound(r + i, "measured"))
    val measuredS = (System.nanoTime() - measureStart) / 1e9
    val (steal1, total1) = cpuJiffies()
    val measuredSet = measured.map(_.round).toSet

    // Spark's ContextCleaner frees broadcasts and checkpointed blocks only
    // after a GC has cleared their references, on its own thread: collect,
    // let it run, and collect again before reading what is left.
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(300) }
    System.gc()
    val retainedMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0

    ops.round = -1
    tracer.round = -1
    val finishStart = System.nanoTime()
    try wl.finish()
    catch { case NonFatal(e) => ops.check("finish", ok = false, e.toString.take(400)) }
    val finishS = (System.nanoTime() - finishStart) / 1e9

    val endToEnd = Seq(
      ("setup_s", sessionS + median(setupS), "s"),
      ("retained_heap_mb", retainedMb, "MB"),
      ("round_s", median(measured.map(_.wallS)), "s"),
      ("round_cpu_s", median(measured.map(_.cpuS)), "s")) ++ wl.ownEndToEnd(measuredSet)

    val perLayer = listener.map { l =>
      org.apache.spark.graftbench.Bus.drain(spark.sparkContext)
      val jobs = l.snapshot()
      engineMetrics(measured, jobs, tracer, k) ++ wl.layerMetrics(measuredSet, jobs)
    }.getOrElse(Nil)

    val load1 = loadavg()
    val ok = ops.all.forall(_.ok)
    def metricMap(ms: Seq[(String, Double, String)]) =
      mutable.LinkedHashMap(ms.map { case (n, v, u) => n -> Map("value" -> v, "unit" -> u) }: _*)
    val record = mutable.LinkedHashMap[String, Any](
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "trace" -> trace,
      "size" -> (if (tiny) "tiny" else "full"), "corrupt" -> corrupt,
      "provenance" -> mutable.LinkedHashMap[String, Any](
        "git_commit" -> a.getOrElse("commit", "unknown"),
        "source_sha256" -> a.getOrElse("source-hash", "unknown"),
        "nproc" -> nproc, "k" -> k,
        "jvm_args" -> ManagementFactory.getRuntimeMXBean.getInputArguments.asScala,
        "spark_conf" -> mutable.LinkedHashMap(spark.conf.getAll.toSeq.sorted: _*),
        "loadavg_start" -> load0, "loadavg_end" -> load1,
        "steal_share_measured" -> (if (total1 > total0) (steal1 - steal0).toDouble / (total1 - total0) else 0.0)),
      "session_s" -> sessionS,
      "setup_reps_s" -> setupS,
      "warmup" -> mutable.LinkedHashMap[String, Any](
        "rounds" -> r, "ended_by_observation" -> warmed, "hit_bound" -> warmupHitBound,
        "max_rounds" -> maxWarm,
        "jit_share_limit" -> WarmJitShare, "still_falling_limit" -> WarmStillFalling),
      "finish_s" -> finishS,
      "measured_rounds" -> nMeasured,
      "measured_s" -> measuredS,
      "rounds" -> stats.map(s => mutable.LinkedHashMap[String, Any]("round" -> s.round,
        "phase" -> s.phase, "wall_s" -> s.wallS, "cpu_s" -> s.cpuS, "jit_ms" -> s.jitMs, "gc_ms" -> s.gcMs)),
      "correct" -> ok,
      "attempted" -> ops.all.size,
      "failed" -> ops.all.count(!_.ok),
      "end_to_end" -> metricMap(endToEnd),
      "per_layer" -> metricMap(perLayer),
      "notes" -> wl.notes,
      "ops" -> ops.all.map(o => mutable.LinkedHashMap[String, Any]("kind" -> o.kind, "name" -> o.name,
        "round" -> o.round, "ms" -> o.ms, "ok" -> o.ok, "detail" -> o.detail)))
    Files.writeString(Paths.get(a("record")), Main.json.writeValueAsString(record))
    if (trace) {
      val lines = tracer.spans.map(s => Main.json.writeValueAsString(mutable.LinkedHashMap[String, Any](
        "id" -> s.id, "parent" -> s.parent, "round" -> s.round, "layer" -> s.layer, "name" -> s.name,
        "phase" -> s.phase, "start_ns" -> s.startNs, "end_ns" -> s.endNs, "ok" -> s.ok)))
      Files.writeString(Paths.get(a("spans")), lines.mkString("", "\n", "\n"))
    }
    spark.stop()
  }

  /** Set-ups per run; setup_s takes their median. */
  val SetupReps = 3
  /** Warm-up rounds at most. */
  val MaxWarm = 3
  /** JIT compile time may be at most this share of the round's process CPU. */
  val WarmJitShare = 0.25
  /** A round faster than the best earlier one by more than this is still warming. */
  val WarmStillFalling = 0.05
  /** Rounds measured after warm-up: a count, not a time window, so both
    * sides of a comparison measure the same work.
    */
  val MeasuredRounds = 4

  /** Run records and spans as JSON; maps keep their order, NaN stays a number. */
  val json: ObjectMapper = JsonMapper.builder()
    .addModule(DefaultScalaModule)
    .disable(JsonWriteFeature.WRITE_NAN_AS_STRINGS)
    .build()

  /** Engine-boundary metrics every workload has, per measured round. */
  private def engineMetrics(measured: Seq[RoundStat], jobs: Seq[JobStat], tracer: Tracer,
      k: Int): Seq[(String, Double, String)] = {
    val spanRound = tracer.spans.map(s => s.id -> s.round).toMap
    val byRound = jobs.groupBy(j => spanRound.getOrElse(j.span, -1))
    def perRound(f: (RoundStat, Seq[JobStat]) => Double): Double =
      median(measured.map(st => f(st, byRound.getOrElse(st.round, Nil))))
    def active(js: Seq[JobStat]): Double = // union of job intervals
      js.map(j => (j.startMs, j.endMs)).sortBy(_._1).foldLeft((0L, Long.MinValue)) {
        case ((acc, end), (s, e)) =>
          if (s >= end) (acc + (e - s), e)
          else if (e > end) (acc + (e - end), e)
          else (acc, end)
      }._1.toDouble
    def phaseMs(st: RoundStat, phases: Set[String]): Double =
      tracer.spans.filter(s => s.round == st.round && phases(s.phase)).map(_.ms).sum
    Seq(
      ("spark.task_busy_share", perRound((st, js) => js.map(_.runMs).sum / (st.wallS * 1000 * k)), "share"),
      ("spark.jobs_per_round", perRound((_, js) => js.size.toDouble), "count"),
      ("spark.tasks_per_round", perRound((_, js) => js.map(_.tasks).sum.toDouble), "count"),
      ("spark.task_cpu_ms_per_round", perRound((_, js) => js.map(_.cpuNs).sum / 1e6), "ms"),
      ("spark.shuffle_bytes_per_round", perRound((_, js) => js.map(_.shuffleWrite).sum.toDouble), "bytes"),
      ("spark.spill_bytes_per_round", perRound((_, js) => js.map(_.spill).sum.toDouble), "bytes"),
      ("driver.outside_jobs_ms_per_round", perRound((st, js) => st.wallS * 1000 - active(js)), "ms"),
      ("query.build_ms_per_round", perRound((st, _) => phaseMs(st, Set("build", "compile"))), "ms"),
      ("query.plan_ms_per_round", perRound((st, _) => phaseMs(st, Set("plan"))), "ms"),
      ("query.exec_ms_per_round", perRound((st, _) => phaseMs(st, Set("exec"))), "ms"),
      ("jvm.jit_ms_per_round", median(measured.map(_.jitMs)), "ms"),
      ("jvm.gc_ms_per_round", median(measured.map(_.gcMs)), "ms"))
  }
}
