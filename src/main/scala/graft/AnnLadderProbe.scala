package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** ×10 growth datapoints for the round-15 ANN ladder + MMR corpus stages
  * (binary Hamming, raw-prefix matryoshka, PCA-rotated prefix, and the
  * MMR shortlist/sims pair).
  *
  * Axis discipline: the registered gates derive the QUERY batch from the
  * corpus (`vec_id % 25/50 = 0`), so replicating the corpus would scale
  * queries × corpus = ×100 — not the production axis. Real serving holds
  * the query batch FIXED while the corpus grows, so this probe pins the
  * batch to the base corpus's query ids (replica vec_ids shift by k·10⁷
  * and never match) and expects ≈ linear wall growth from the corpus
  * scans; shortlists, reranks, and the MMR pairwise frame stay bounded.
  * Vector VALUES replicate unchanged — ties resolve by (key, vec_id), and
  * the probe measures throughput, not recall (the recall laws are gated
  * at base scale by BinaryHammingSpec / MatryoshkaSpec / MmrSpec).
  *
  * One JVM runs ×1 and ×10 back to back (warm rep first), so the ratio is
  * self-contained against ambient drift. Results →
  * bench/ann_ladder_probe_x10.json, gated by AnnLadderProbeArtifactSpec.
  */
object AnnLadderProbe {
  def main(args: Array[String]): Unit = {
    val src = sys.env.getOrElse("SPARK_GRAFT_SCALE_SRC", "/root/testdata/sf0.1")
    val replicas = GraftSession.intEnv("SPARK_GRAFT_SCALE_REPLICAS", 10)
    val cpus = GraftSession.cpus
    val spark = GraftSession()

    val base = spark.read.parquet(s"$src/embeddings.parquet")
    val nBase = base.count()
    // fixed query batch: the base corpus's gate queries, present in every
    // replica corpus under the same ids (replica shift k·10⁷ never lands
    // on them)
    val pred25 = col("vec_id") % 25 === 0 && col("vec_id") < nBase
    val pred50 = col("vec_id") % 50 === 0 && col("vec_id") < nBase

    val dir = new java.io.File(s"target/ann_ladder_x$replicas").getAbsolutePath
    if (!new java.io.File(dir).exists()) {
      (0 until replicas).map(k => base.withColumn("vec_id",
          col("vec_id") + lit(k.toLong * 10000000L)))
        .reduce(_ unionAll _)
        .repartition(cpus)
        .write.mode("overwrite").parquet(dir)
    }
    val big = spark.read.parquet(dir)

    def time(f: => Long): (Double, Long) = {
      spark.catalog.clearCache(); System.gc()
      val t0 = System.nanoTime()
      val rows = f
      ((System.nanoTime() - t0) / 1e9, rows)
    }
    def cell(name: String, run: DataFrame => DataFrame): String = {
      run(base).count() // warm rep: JIT + codegen off the measured cells
      val (s1, r1) = time(run(base).count())
      val (s10, r10) = time(run(big).count())
      val ratio = s10 / math.max(s1, 1e-9)
      println(f"ann ladder $name: x1 $s1%.2f s ($r1 rows), x$replicas $s10%.2f s ($r10 rows), ratio $ratio%.1f")
      def d(x: Double) = BigDecimal(x).setScale(2, BigDecimal.RoundingMode.HALF_UP)
      s""""$name":{"secs_x1":${d(s1)},"secs_x$replicas":${d(s10)},"ratio":${d(ratio)},"rows_x1":$r1,"rows_x$replicas":$r10}"""
    }

    val cells = Seq(
      cell("binary_hamming", e =>
        pipeline.SimilarityQueries.binaryHammingTopK(e, depth = 50, queryPred = pred25)),
      cell("matryoshka", e =>
        pipeline.SimilarityQueries.matryoshkaTopK(e, prefix = 16, depth = 60, queryPred = pred25)),
      cell("pca_prefix", e =>
        pipeline.SimilarityQueries.pcaPrefixTopK(spark, e, components = 16, depth = 60, queryPred = pred25)),
      cell("mmr_corpus_stages", e => {
        val short = pipeline.RetrievalQueries.mmrShortlist(e, queryPred = pred50)
          .localCheckpoint()
        pipeline.RetrievalQueries.mmrSims(e, short)
      }))

    val json =
      s"""{"metric":"ann_ladder_probe","src":"$src","replicas":$replicas,""" +
        s""""n_base":$nBase,${cells.mkString(",")}}"""
    println(json)
    val out = new java.io.PrintWriter(s"bench/ann_ladder_probe_x$replicas.json")
    try out.println(json) finally out.close()
    spark.stop()
  }
}
