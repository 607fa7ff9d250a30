package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** ×100 growth datapoints for the round-16 wave (the r16 verdict's ask:
  * wave-2 faces carried only ×10 receipts; this applies the r11 ×100
  * discipline). Each face runs on its production axis:
  *
  *  - q_influence_scores: corpus ×k — the steepest ×10 mover (11.0×); the
  *    ×100 point decides linear-with-constant vs super-linear.
  *  - q_dedup_first_wins: corpus ×k with per-replica text perturbation
  *    (distinct docs; un-perturbed copies would quadratically inflate the
  *    planted dup clusters) — pair graph + wave resolution both ∝ corpus.
  *  - q_dedup_containment: corpus ×k perturbed — postings join is
  *    df-bounded, plants grow ∝ corpus.
  *  - q_eval_retrieval_hybrid: corpus ×k against the FIXED 100-query batch
  *    (base ids 1..100; replicas shift by ≥1000 so the batch never grows).
  *  - q_multimodal_ahash: corpus ×k perturbed (the r16 ×10 axis, one
  *    decade further).
  *
  * Replica ids shift by a multiple of 1000 (shared shift for docs AND
  * embeddings so the hybrid face's doc/vec id spaces stay aligned). One
  * JVM, ×1 then ×replicas, warm rep first. Results →
  * bench/r17_probe_x100.json (R17ProbeArtifactSpec gates existence + the
  * linear band).
  */
object R17ScaleProbe {
  def main(args: Array[String]): Unit = {
    val src = sys.env.getOrElse("SPARK_GRAFT_SCALE_SRC", "/root/testdata/sf0.1")
    val replicas = GraftSession.intEnv("SPARK_GRAFT_SCALE_REPLICAS", 100)
    val spark = GraftSession()

    val emb = spark.read.parquet(s"$src/embeddings.parquet")
      .select("vec_id", "embedding")
    val docs = spark.read.parquet(s"$src/documents.parquet")
      .select("doc_id", "text")
    // ONE shift for both tables: the hybrid face joins the doc and vec id
    // spaces query-side, so replicas must land on the same offsets
    val shift = math.max(
      (emb.agg(max("vec_id")).collect()(0).getLong(0) / 1000 + 1) * 1000,
      (docs.agg(max("doc_id")).collect()(0).getLong(0) / 1000 + 1) * 1000)

    def embPool(k: Int): DataFrame =
      (0 until k).map(r => emb.select(
        (col("vec_id") + lit(r * shift)).as("vec_id"), col("embedding")))
        .reduce(_ unionAll _)

    /** Replica perturbation comes in two strengths, chosen per face:
      *
      *  - `prefix`: one tag token prepended — enough for the aHash face
      *    (the pixel cycle shifts, so replica images are distinct) but NOT
      *    for shingle-Jaccard faces: two replicas of a doc still share all
      *    but one 3-shingle (J = s/(s+2) → 1), so every doc would grow a
      *    k-member cross-replica dup cluster and the pair graph would go
      *    QUADRATIC in k — the exact trap the perturbation exists to
      *    avoid (the un-fixed form wedged the first ×100 run for an hour).
      *  - `tagWords`: every TOKEN gets a per-replica suffix — a bijective
      *    token renaming, so within-replica Jaccard values (and therefore
      *    the dup/containment structure and per-replica workload) are
      *    EXACTLY those of the base corpus, while no shingle is shared
      *    across replicas (cross-replica J = 0). The honest new-documents
      *    axis for Jaccard faces.
      */
    def docPool(k: Int, perturb: Boolean, tagWords: Boolean = false): DataFrame =
      (0 until k).map { r =>
        val base = docs.select(
          (col("doc_id") + lit(r * shift)).as("doc_id"), col("text"))
        if (tagWords && r > 0)
          base.select(col("doc_id"),
            regexp_replace(col("text"), "(\\S+)", "$1r" + r).as("text"))
        else if (perturb && r > 0)
          base.select(col("doc_id"), concat(lit(s"r$r "), col("text")).as("text"))
        else base
      }.reduce(_ unionAll _)

    def time(f: => Long): (Double, Long) = {
      spark.catalog.clearCache(); System.gc()
      val t0 = System.nanoTime()
      val n = f
      ((System.nanoTime() - t0) / 1e9, n)
    }

    def influenceCell(k: Int): Long =
      pipeline.InfluenceQueries.influenceOf(spark, embPool(k))
        .agg(sum("infl")).collect()(0).getLong(0)

    def firstWinsCell(k: Int): Long =
      pipeline.FirstWinsDedupQueries.resolveWaves(
        pipeline.DedupQueries.nearDupPairs(
            docPool(k, perturb = true, tagWords = true), minJ = 0.8)
          .select(col("doc_a").as("e"), col("doc_b").as("d")))
        .agg(sum(col("rnd") + when(col("kept"), 1L).otherwise(0L)))
        .collect()(0).getLong(0)

    def containmentCell(k: Int): Long =
      pipeline.ContainmentQueries.containmentFace(
        docPool(k, perturb = true, tagWords = true))
        .agg(sum(col("n_inter") + col("n_contained"))).collect()(0).getLong(0)

    def evalHybridCell(k: Int): Long = {
      val t = docPool(k, perturb = false)
        .select(col("doc_id"), graft.functions.TextFunctions.tokens(col("text")).as("toks"))
      val top = pipeline.RetrievalQueries.hybridBatchFused(t, embPool(k))
        .filter(col("rn") <= 10)
        .select(col("query_id"), col("doc_id"), col("rn").cast("long").as("r"))
      pipeline.RetrievalEvalQueries.metricsOfRanking(t, top)
        .agg(sum("ndcg_permille")).collect()(0).getLong(0)
    }

    def ahashCell(k: Int): Long =
      pipeline.Multimodal.ahashPairs(docPool(k, perturb = true))
        .agg(coalesce(sum(col("hamming") + 1L), lit(0L))).collect()(0).getLong(0)

    def cell(name: String, f: Int => Long): String = {
      f(1) // warm rep
      val (s1, n1) = time(f(1))
      val (sK, nK) = time(f(replicas))
      val ratio = sK / math.max(s1, 1e-9)
      println(f"r17 $name: x1 $s1%.2f s ($n1), x$replicas $sK%.2f s ($nK), ratio $ratio%.1f")
      def d(x: Double) = BigDecimal(x).setScale(2, BigDecimal.RoundingMode.HALF_UP)
      s""""$name":{"secs_x1":${d(s1)},"secs_x$replicas":${d(sK)},"ratio":${d(ratio)},"out_x1":$n1,"out_x$replicas":$nK}"""
    }

    val cells = Seq(
      cell("influence_scores", influenceCell),
      cell("dedup_first_wins", firstWinsCell),
      cell("dedup_containment", containmentCell),
      cell("eval_retrieval_hybrid", evalHybridCell),
      cell("multimodal_ahash", ahashCell))

    val json =
      s"""{"metric":"r17_probe","src":"$src","replicas":$replicas,""" +
        cells.mkString(",") + "}"
    println(json)
    val out = new java.io.PrintWriter(s"bench/r17_probe_x$replicas.json")
    try out.println(json) finally out.close()
    spark.stop()
  }
}
