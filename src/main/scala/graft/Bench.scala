package graft
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // per-query repetitions; the reported number is the MEDIAN, so one-off
    // JIT/GC/IO interference doesn't masquerade as a plan regression
    val reps = GraftSession.intEnv("SPARK_GRAFT_BENCH_REPS", 3)
    val spark = GraftSession()
    // settle barrier: the driver launches the bench minutes after a full
    // test session, and r6 showed 1.3–1.8× swings on UNTOUCHED queries from
    // that ambient load even with per-query isolation. Wait (bounded) for the 1-min
    // loadavg to drain below cpus/4 before timing anything, and report what
    // was observed so a dirty environment is visible in the artifact.
    def loadavg1(): Double =
      try java.nio.file.Files.readString(java.nio.file.Paths.get("/proc/loadavg"))
        .split(" ")(0).toDouble
      catch { case _: Throwable => -1.0 }
    val settleMax = GraftSession.intEnv("SPARK_GRAFT_BENCH_SETTLE_SECS", 180)
    // cpus/16 (= 2.0 at local[32]): the r7 driver run sailed through the old
    // cpus/4 = 8 gate at loadavg 2.06 and still ran 27% over its idle number
    val settleTarget =
      GraftSession.doubleEnv("SPARK_GRAFT_BENCH_SETTLE_TARGET", GraftSession.cpus / 16.0)
    val settleStart = System.nanoTime()
    val loadAtLaunch = loadavg1() // -1 = unmeasurable (no /proc/loadavg)
    var load = loadAtLaunch
    while (load >= 0 && load > settleTarget &&
        (System.nanoTime() - settleStart) / 1e9 < settleMax) {
      System.gc(); Thread.sleep(5000); load = loadavg1()
    }
    val settledSecs = (System.nanoTime() - settleStart) / 1e9
    // warm up the session (JIT, codegen, IO paths) so the first timed query
    // doesn't absorb one-time startup cost; materialize the healthcare
    // fixture parquet up front so hc_* timings measure queries, not builds
    spark.range(1000000).selectExpr("sum(id)").collect()
    spark.read.parquet(s"$sfDir/region.parquet").count()
    graft.analytics.HealthcareData.ensure(spark)
    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
    // fixed name order by default: Map iteration order must not decide which
    // query pays cross-run JIT/cache interference. ORDER=reverse/seed:<n>
    // exist to PROVE a slow tail is run-order interference, not plan cost
    // (if the same queries are fast when run early, the harness is the
    // suspect, not the plan).
    val order = sys.env.getOrElse("SPARK_GRAFT_BENCH_ORDER", "alpha")
    // local-iteration filter, mirroring Verify's: comma-separated names →
    // time only those (the driver never sets this; full runs stay the
    // default, and BenchArtifactSpec rejects a partial artifact anyway).
    // Unknown names fail fast — a typo must not silently time nothing.
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .filter(_.nonEmpty)
    only.foreach { names =>
      val unknown = names.diff(SparkEntry.queries.keySet)
      require(unknown.isEmpty,
        s"SPARK_GRAFT_BENCH_ONLY names no registered query: ${unknown.mkString(", ")}")
    }
    // exclusion list for off-scale runs: some faces GUARD against the data
    // size by contract (the exact O(n²) embedding baseline refuses >100k
    // vectors), so a whole-suite run at a larger corpus must skip exactly
    // those — recorded here rather than as artifact failures. Unknown names
    // fail fast like ONLY; the committed sf0.1 artifact never sets this
    // (BenchArtifactSpec counts the registry).
    val exclude = sys.env.get("SPARK_GRAFT_BENCH_EXCLUDE")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .filter(_.nonEmpty)
    exclude.foreach { names =>
      val unknown = names.diff(SparkEntry.queries.keySet)
      require(unknown.isEmpty,
        s"SPARK_GRAFT_BENCH_EXCLUDE names no registered query: ${unknown.mkString(", ")}")
    }
    val sortedNames = SparkEntry.queries.toSeq
      .filter { case (n, _) => only.forall(_.contains(n)) }
      .filter { case (n, _) => !exclude.exists(_.contains(n)) }
      .sortBy(_._1)
    val Seeded = """seed:(-?\d{1,18})""".r
    val ordered = order match {
      case "alpha" => sortedNames
      case "reverse" => sortedNames.reverse
      case Seeded(seed) =>
        sortedNames.sortBy { case (n, _) =>
          java.util.Objects.hash(n, java.lang.Long.valueOf(seed.toLong))
        }
      case other => throw new IllegalArgumentException(
        s"SPARK_GRAFT_BENCH_ORDER='$other' is not alpha, reverse or seed:<n>")
    }
    // isolation: clear the SQL cache + force a GC before each query, so one
    // query's leftovers (cached relations, un-collected garbage) can't bill
    // to the next. Round-5 forensics (BASELINE.md) showed un-isolated runs
    // attribute 13–49 s of GC debt to whichever heavy self-join runs at the
    // wrong position — the victim MOVED with run order (alpha: minhash 16 s;
    // reverse: embedding_lsh 52 s; isolated: every dedup query 2.9–3.6 s).
    // per-rep PROCESS-CPU seconds next to wall seconds: wall ≫ cpu with low
    // spill = the box was busy (load regression); cpu tracking wall = the
    // plan itself got more expensive. Separable from the JSON alone — the
    // r8 verdict's ask after two rounds of load-vs-plan ambiguity.
    val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val detailed = ordered.map { case (name, fn) =>
      spark.catalog.clearCache(); System.gc()
      // loadavg sampled at the START of each rep: a mover in the artifact is
      // then attributable to ambient load (or exonerated) without a rerun
      val runs = (1 to reps).flatMap { _ =>
        val l = loadavg1()
        val cpu0 = osBean.getProcessCpuTime
        val t0 = System.nanoTime()
        try {
          fn(spark, sfDir).count()
          Some(((System.nanoTime() - t0) / 1e9, l,
            (osBean.getProcessCpuTime - cpu0) / 1e9))
        }
        catch {
          case e: Throwable =>
            System.err.println(s"[bench] $name FAILED: ${e.getMessage.take(200)}")
            None
        }
      }
      val times = runs.map(_._1)
      // -1 sentinel: a thrown query must not read as an impossibly fast run
      (name, if (times.size == reps) median(times) else -1.0, times,
        runs.map(_._2), runs.map(_._3))
    }.sortBy(_._1) // report alphabetically regardless of run order
    val results = detailed.map { case (n, m, _, _, _) => (n, m) }
    def fmt(v: Double) = BigDecimal(v).setScale(4, BigDecimal.RoundingMode.HALF_UP).toString
    val failed = results.collect { case (k, v) if v < 0 => "\"" + k + "\"" }
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    // every rep, not just the median: a single pathological rep (GC pause,
    // IO stall) is then visible in the artifact instead of silently shaping
    // the median's neighbors
    val repsDetail = detailed.map { case (k, _, ts, _, _) =>
      "\"" + k + "\":[" + ts.map(fmt).mkString(",") + "]"
    }.mkString("{", ",", "}")
    // per-rep 1-min loadavg at rep start; -1 preserved (unmeasured ≠ idle)
    val repsLoad = detailed.map { case (k, _, _, ls, _) =>
      "\"" + k + "\":[" + ls.map(fmt).mkString(",") + "]"
    }.mkString("{", ",", "}")
    // per-rep process-CPU seconds, parallel to reps_detail
    val repsCpu = detailed.map { case (k, _, _, _, cs) =>
      "\"" + k + "\":[" + cs.map(fmt).mkString(",") + "]"
    }.mkString("{", ",", "}")
    val total = results.map(_._2).filter(_ >= 0).sum
    // -1 preserved: "unmeasured" must never read as "idle"; `cpus` lets the
    // CPU-mover gate refuse to compare runs on unlike core counts
    val json = s"""{"metric":"total","value":${fmt(total)},"unit":"sec","n_queries":${results.size},"queries":$qs,"failed":${failed.mkString("[", ",", "]")},"sf":"$sfDir","reps":$reps,"cpus":${GraftSession.cpus},"loadavg_launch":${fmt(loadAtLaunch)},"loadavg_timed":${fmt(load)},"settle_secs":${fmt(settledSecs)},"settle_target":${fmt(settleTarget)},"reps_detail":$repsDetail,"reps_load":$repsLoad,"reps_cpu":$repsCpu}"""
    println(json)
    // the driver's log tail truncates; persist the full per-query list so a
    // round's numbers are always recoverable from the repo itself.
    // Publishing is explicit (SPARK_GRAFT_BENCH_OUT=bench/last_run.json):
    // every other run, full or filtered, writes under target/, so the
    // committed artifact that BenchArtifactSpec gates and BASELINE.md quotes
    // is never clobbered by a local loop or an unattended full run.
    val outPath = java.nio.file.Paths.get(
      sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "target/bench/last_run.json"))
    Option(outPath.getParent).foreach(java.nio.file.Files.createDirectories(_))
    java.nio.file.Files.write(outPath, json.getBytes("UTF-8"))
    spark.stop()
  }
}
