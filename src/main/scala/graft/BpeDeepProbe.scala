package graft

import org.apache.spark.sql.functions._

/** Measures the deep BPE trainer's wall-clock law: cost grows with
  * PASSES, not with merges (r13 verdict item 1). The round-serial trainer
  * pays 2–3 driver jobs + a checkpoint PER MERGE; the batched trainer
  * pays them per PASS. The probe runs the SAME pass loop
  * ([[pipeline.BpeQueries.trainDeepTrace]]) over the sf0.1 phrase corpus
  * at batch = 1 (one merge per pass — the round-serial shape) and
  * batch = 32 (a full batch per pass), same pass count, and records wall
  * seconds and learned merge rules for each. The claim: secs ratio ≈ 1
  * while the rules ratio is an order of magnitude — so production merge
  * depths are a batch-width knob, not a wall-clock wall. Results →
  * bench/bpe_deep_probe.json (gated by BpeDeepProbeArtifactSpec).
  */
object BpeDeepProbe {
  def main(args: Array[String]): Unit = {
    val src = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val passes = GraftSession.intEnv("SPARK_GRAFT_BPE_PASSES", 6)
    val spark = GraftSession()

    def state0 = pipeline.BpeQueries.deepPhraseState(
      spark.read.parquet(s"$src/documents.parquet"))
    // JIT/IO warmup so batch=1 (measured first) isn't charged startup
    // cost: one UNTIMED short trainer run — count() alone warms IO but
    // not the trainer's expr-heavy codegen, which would bill its JIT to
    // the first measured cell and flatter the secs ratio (r14 advice)
    pipeline.BpeQueries.trainDeepTrace(
      state0, passes = 2, batch = 32, stage = false, sep = " ").collect()

    val cells = Seq(1, 32).map { batch =>
      spark.catalog.clearCache(); System.gc()
      val t0 = System.nanoTime()
      val trace = pipeline.BpeQueries.trainDeepTrace(
        state0, passes, batch, stage = false, sep = " ").collect()
      val secs = (System.nanoTime() - t0) / 1e9
      val rules = trace.length
      println(f"bpe deep probe batch=$batch: $secs%.1f s, $rules rules in $passes passes")
      s""""batch$batch":{"secs":${BigDecimal(secs).setScale(2, BigDecimal.RoundingMode.HALF_UP)},"rules":$rules}"""
    }
    val json =
      s"""{"metric":"bpe_deep_probe","src":"$src","passes":$passes,${cells.mkString(",")}}"""
    println(json)
    val out = new java.io.PrintWriter("bench/bpe_deep_probe.json")
    try out.println(json) finally out.close()
    spark.stop()
  }
}
