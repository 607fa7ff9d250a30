package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** ×10 growth datapoints for the round-16 operator additions, each on its
  * production axis:
  *
  *  - q_decontaminate_semantic: corpus ×k against a FIXED eval set (the
  *    benchmark doesn't grow with the crawl) — banding is map-side, the
  *    eval side broadcast, candidates ∝ corpus ⇒ expect ≈ linear.
  *  - q_triplet_mining: corpus ×k, FIXED 20-anchor batch — one scan +
  *    Lloyd rounds, both linear.
  *  - q_influence_scores: corpus ×k — Gramian/moment/attribution are all
  *    single passes; the solve is corpus-independent driver math.
  *  - q_eval_retrieval: corpus ×k, FIXED 100-query batch (base doc ids
  *    1..100) — the two pruned-postings exchanges grow linearly.
  *  - q_multimodal_ahash: corpus ×k with per-replica text perturbation
  *    (distinct images — the honest new-documents axis, not k identical
  *    copies that would quadratically inflate true duplicate clusters).
  *
  * Replica ids shift by a multiple of 1000 so the %10/%25/%50 class
  * structure of derived splits survives replication. One JVM, ×1 then
  * ×replicas, warm rep first. Results → bench/r16_probe_x10.json
  * (R16ProbeArtifactSpec gates existence + the linear band).
  */
object R16ScaleProbe {
  def main(args: Array[String]): Unit = {
    val src = sys.env.getOrElse("SPARK_GRAFT_SCALE_SRC", "/root/testdata/sf0.1")
    val replicas = GraftSession.intEnv("SPARK_GRAFT_SCALE_REPLICAS", 10)
    val spark = GraftSession()

    val emb = spark.read.parquet(s"$src/embeddings.parquet")
      .select("vec_id", "embedding")
    val docs = spark.read.parquet(s"$src/documents.parquet")
      .select("doc_id", "text")
    val embShift = (emb.agg(max("vec_id")).collect()(0).getLong(0) / 1000 + 1) * 1000
    val docShift = (docs.agg(max("doc_id")).collect()(0).getLong(0) / 1000 + 1) * 1000

    def embPool(k: Int): DataFrame =
      (0 until k).map(r => emb.select(
        (col("vec_id") + lit(r * embShift)).as("vec_id"), col("embedding")))
        .reduce(_ unionAll _)

    // decon axis: corpus replicates; eval set stays the base fixture
    val evalFixed = emb.filter(col("vec_id") % 97 === 0)
      .select(col("vec_id").as("eval_id"), col("embedding"))
      .union(emb.filter(col("vec_id") % 50 === 0 && col("vec_id") % 97 =!= 0)
        .select((col("vec_id") + 1000000000L).as("eval_id"), col("embedding")))
    def deconCorpus(k: Int): DataFrame =
      (0 until k).map(r => emb.filter(col("vec_id") % 97 =!= 0).select(
        (col("vec_id") + lit(r * embShift)).as("vec_id"), col("embedding")))
        .reduce(_ unionAll _)

    def docPool(k: Int, perturb: Boolean): DataFrame =
      (0 until k).map { r =>
        val base = docs.select(
          (col("doc_id") + lit(r * docShift)).as("doc_id"), col("text"))
        if (perturb && r > 0)
          base.select(col("doc_id"), concat(lit(s"r$r "), col("text")).as("text"))
        else base
      }.reduce(_ unionAll _)

    val baseN = emb.count()

    def time(f: => Long): (Double, Long) = {
      spark.catalog.clearCache(); System.gc()
      val t0 = System.nanoTime()
      val n = f
      ((System.nanoTime() - t0) / 1e9, n)
    }

    def deconCell(k: Int): Long =
      pipeline.SemanticDeconQueries.flaggedFrom(deconCorpus(k), evalFixed, baseN * k)
        .agg(sum(col("max_cos_x1e9") + col("vec_id"))).collect()(0).getLong(0)

    def tripletCell(k: Int): Long =
      pipeline.TripletQueries.tripletsOf(embPool(k))
        .agg(sum("margin_x1e9")).collect()(0).getLong(0)

    def influenceCell(k: Int): Long =
      pipeline.InfluenceQueries.influenceOf(spark, embPool(k))
        .agg(sum("infl")).collect()(0).getLong(0)

    def evalRetrievalCell(k: Int): Long =
      pipeline.RetrievalEvalQueries.metricsOf(docPool(k, perturb = false)
          .select(col("doc_id"),
            graft.functions.TextFunctions.tokens(col("text")).as("toks")))
        .agg(sum("ndcg_permille")).collect()(0).getLong(0)

    def ahashCell(k: Int): Long =
      pipeline.Multimodal.ahashPairs(docPool(k, perturb = true))
        .agg(coalesce(sum(col("hamming") + 1L), lit(0L))).collect()(0).getLong(0)

    def cell(name: String, f: Int => Long): String = {
      f(1) // warm rep
      val (s1, n1) = time(f(1))
      val (sK, nK) = time(f(replicas))
      val ratio = sK / math.max(s1, 1e-9)
      println(f"r16 $name: x1 $s1%.2f s ($n1), x$replicas $sK%.2f s ($nK), ratio $ratio%.1f")
      def d(x: Double) = BigDecimal(x).setScale(2, BigDecimal.RoundingMode.HALF_UP)
      s""""$name":{"secs_x1":${d(s1)},"secs_x$replicas":${d(sK)},"ratio":${d(ratio)},"out_x1":$n1,"out_x$replicas":$nK}"""
    }

    val cells = Seq(
      cell("decontaminate_semantic", deconCell),
      cell("triplet_mining", tripletCell),
      cell("influence_scores", influenceCell),
      cell("eval_retrieval", evalRetrievalCell),
      cell("multimodal_ahash", ahashCell))

    val json =
      s"""{"metric":"r16_probe","src":"$src","replicas":$replicas,""" +
        cells.mkString(",") + "}"
    println(json)
    val out = new java.io.PrintWriter(s"bench/r16_probe_x$replicas.json")
    try out.println(json) finally out.close()
    spark.stop()
  }
}
