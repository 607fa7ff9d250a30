package graft

import org.scalatest.funsuite.AnyFunSuite

/** Guards over the COMMITTED bench artifact (`bench/last_run.json`) — the
  * r8/r9 verdicts' asks made into checks instead of promises:
  *
  *  1. the artifact must cover the full registry (`n_queries` ==
  *     |SparkEntry.queries|, no `failed` entries) — a partial or stale
  *     artifact read as "the suite number" is how a 6-query regression
  *     shipped in a round whose docs read all-green;
  *  2. the corpus-clean family's rep scatter must be bounded (max rep ≤ 2×
  *     median per query) — the r8 "CC load tail" forensics closed the
  *     spill/plan question, and this pins the measurement discipline so a
  *     pathological rep can't hide inside a committed median.
  *
  * The spec reads the artifact at the REPO path, so it gates what's
  * committed (or about to be), not a scratch run. Parsing rides Jackson,
  * which Spark already ships.
  */
class BenchArtifactSpec extends AnyFunSuite {
  private val path = java.nio.file.Paths.get("bench/last_run.json")
  private val prevPath = java.nio.file.Paths.get("bench/prev_run.json")

  private def readTree(p: java.nio.file.Path) = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    mapper.readTree(java.nio.file.Files.readAllBytes(p))
  }

  private lazy val root = readTree(path)
  private lazy val prev = readTree(prevPath)

  private def cpuMedians(node: com.fasterxml.jackson.databind.JsonNode)
      : Map[String, Double] = {
    val reps = node.get("reps_cpu")
    if (reps == null) Map.empty
    else {
      val it = reps.fields()
      val b = Map.newBuilder[String, Double]
      while (it.hasNext) {
        val e = it.next()
        val xs = (0 until e.getValue.size()).map(e.getValue.get(_).asDouble()).sorted
        if (xs.nonEmpty) {
          val m = if (xs.size % 2 == 1) xs(xs.size / 2)
            else (xs(xs.size / 2 - 1) + xs(xs.size / 2)) / 2
          b += e.getKey -> m
        }
      }
      b.result()
    }
  }

  test("bench artifact exists and covers the full registry with no failures") {
    assert(java.nio.file.Files.exists(path), s"$path missing")
    val n = root.get("n_queries").asInt(-1)
    val registered = SparkEntry.queries.size
    assert(n == registered,
      s"bench artifact covers $n queries, registry has $registered — rerun graft.Bench and commit")
    val failed = root.get("failed")
    assert(failed != null && failed.size() == 0,
      s"bench artifact records failed queries: $failed")
  }

  test("corpus-clean family rep scatter is bounded (max rep <= 2x median)") {
    val reps = root.get("reps_detail")
    val family = Seq("q_corpus_clean", "q_corpus_clean_cc", "q_corpus_funnel")
    family.foreach { q =>
      val arr = reps.get(q)
      assert(arr != null && arr.size() >= 3, s"$q missing from reps_detail")
      val times = (0 until arr.size()).map(arr.get(_).asDouble())
      val sorted = times.sorted
      val median =
        if (sorted.size % 2 == 1) sorted(sorted.size / 2)
        else (sorted(sorted.size / 2 - 1) + sorted(sorted.size / 2)) / 2
      assert(times.max <= 2.0 * median,
        s"$q reps $times: max ${times.max} > 2x median $median — " +
          "load tail is back (or the box was dirty when the artifact was made); " +
          "rerun graft.Bench at idle before committing")
    }
  }

  /** Mover adjudication on CPU medians, not wall (r16 verdict #4): wall
    * drifts in a uniform ambient band between idle runs of identical code
    * (1.08–1.29× measured across rounds), which made every round's wall
    * movers a forensic paragraph; process-CPU per query is insensitive to
    * that band, so a CPU-median regression is a PLAN regression. The
    * committed `bench/prev_run.json` is the previous round's artifact —
    * refresh it when a round's artifact becomes the new baseline. Wall
    * stays the headline number; this gate only adjudicates shared-query
    * movers mechanically.
    *
    * Process-CPU per query depends on the core count (an 8-core run against
    * a 32-core baseline tripped four "movers" that were only the width
    * change), so both artifacts must record the same `cpus` before any
    * query is compared.
    */
  test("no shared-query CPU-median mover above 2x vs the previous round's artifact") {
    def cpus(node: com.fasterxml.jackson.databind.JsonNode): Option[Int] =
      Option(node.get("cpus")).filter(_.canConvertToInt).map(_.asInt)
    val (nowCpus, wasCpus) = (cpus(root), cpus(prev))
    if (nowCpus.isEmpty || nowCpus != wasCpus) fail(
      s"unlike runs: last_run.json cpus=${nowCpus.getOrElse("absent")}, " +
        s"prev_run.json cpus=${wasCpus.getOrElse("absent")} — CPU medians compare " +
        "only between runs on the same core count; re-run graft.Bench on the " +
        "baseline's count (SPARK_GRAFT_CPUS)")
    val now = cpuMedians(root)
    val was = cpuMedians(prev)
    assert(now.nonEmpty && was.nonEmpty, "reps_cpu missing from an artifact")
    // sub-0.3 s CPU medians are scheduler noise; ignore them as the wall
    // gate always has
    val movers = was.collect {
      case (q, p) if p >= 0.3 && now.contains(q) && now(q) > 2.0 * p =>
        (q, p, now(q))
    }
    assert(movers.isEmpty,
      movers.toSeq.sortBy(-_._3).map { case (q, p, n) =>
        f"$q: cpu median $p%.2f -> $n%.2f (${n / p}%.2fx)"
      }.mkString("CPU movers vs prev_run.json:\n", "\n", ""))
  }
}
