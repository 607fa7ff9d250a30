package graft

import org.apache.spark.sql.functions._

/** Adversarial-skew probe for the perceptual-hash dedup face
  * (q_multimodal_ahash): the exact-duplicate-image shape crawls actually
  * produce — thousands of byte-identical images — makes EVERY Hamming
  * band one bucket, the same colinear-blob axis that cost the unguarded
  * LSH path 1108 s in the r16 skew probe. Two axes, both through the
  * REAL gate pipeline ([[pipeline.Multimodal.ahashPairs]]):
  *
  *  1. ALL-IDENTICAL: 20k copies of one image. The absHot=1024 star
  *     guard must fire on every band bucket, collapsing pair generation
  *     to the (min-id → other) star — n−1 pairs, every Hamming 0, and
  *     the ConnectedComponents ACTION face must still recover the single
  *     n-member cluster with survivor 0 (star edges are exactly what
  *     min-label needs: diameter 2).
  *  2. HALF-IDENTICAL: 10k copies + 10k id-derived images. The identical
  *     half stars (star_to_0 = 9 999, hot cluster exactly 10 000 — no
  *     leakage). The id-derived half turned out to be perceptually
  *     NEAR-DUP-dense itself (texts differ only in digits, so cycled
  *     pixels quantize to matching thumbnails): 810k true pairs — a
  *     measured receipt that heavy ORGANIC collision load (not just the
  *     degenerate single-bucket case) stays in the seconds range.
  *
  * Results → bench/ahash_skew_probe.json (AhashSkewProbeArtifactSpec).
  */
object AhashSkewProbe {

  private def num(d: Double) = BigDecimal(d).setScale(2,
    BigDecimal.RoundingMode.HALF_UP).toString

  def main(args: Array[String]): Unit = {
    val spark = GraftSession()
    val n = 20000L

    def axis(name: String, textSql: String): String = {
      val docs = spark.range(n)
        .select(col("id").as("doc_id"), expr(textSql).as("text"))
      val t0 = System.nanoTime()
      val pairs = pipeline.Multimodal.ahashPairs(docs)
        .select("doc_a", "doc_b", "hamming").cache()
      val nPairs = pairs.count()
      val pairSecs = (System.nanoTime() - t0) / 1e9
      val ham0 = pairs.filter(col("hamming") === 0).count()
      val starTo0 = pairs.filter(col("doc_a") === 0).count()
      // the ACTION face over the same pairs: one hot cluster, survivor 0
      val t1 = System.nanoTime()
      val reps = operators.ConnectedComponents
        .minLabel(pairs.select("doc_a", "doc_b")).toDF("vec_id", "rep")
      val hotSize = reps.filter(col("rep") === 0).count()
      val ccSecs = (System.nanoTime() - t1) / 1e9
      pairs.unpersist()
      println(f"ahash-skew $name: pairs=$nPairs (${pairSecs}%.1f s), " +
        f"ham0=$ham0, star->0=$starTo0, hotCluster=$hotSize (${ccSecs}%.1f s)")
      s""""$name":{"n":$n,"pairs":$nPairs,"pair_secs":${num(pairSecs)},
         |"ham0":$ham0,"star_to_0":$starTo0,"hot_cluster":$hotSize,
         |"cc_secs":${num(ccSecs)}}""".stripMargin.replace("\n", "")
    }

    // axis 1: every image identical (constant text -> constant pixels)
    val a1 = axis("all_identical", "'the quick brown fox jumps over the lazy dog'")
    // axis 2: first half identical, second half distinct (id-derived text)
    val a2 = axis("half_identical",
      s"CASE WHEN id < ${n / 2} THEN 'the quick brown fox jumps over the lazy dog' " +
        "ELSE array_join(transform(sequence(1, 24), x -> concat('w', id, 'q', x)), ' ') END")

    val json = s"""{"metric":"ahash_skew_probe",$a1,$a2}"""
    println(json)
    val out = new java.io.PrintWriter("bench/ahash_skew_probe.json")
    try out.println(json) finally out.close()
    spark.stop()
  }
}
