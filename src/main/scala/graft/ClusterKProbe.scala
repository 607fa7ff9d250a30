package graft

/** Measures the k ∝ n contract of the cluster-blocked pair families
  * (SemDeDup / hard-negative mining): their candidate volume is Σ|c|²,
  * so a cluster count PINNED while the corpus grows turns a linear axis
  * quadratic — the sf1 suite run showed q_hard_negatives at 18.8× for
  * 10× data with the gate's k=8. This probe runs the SAME mining body
  * ([[pipeline.SimilarityQueries.hardNegatives]]) on the ×10 corpus at
  * k=8 (the gate's oracle-replayable pin) and k=64 (k scaled with the
  * corpus) and records wall seconds plus the Σ|c|² budget per k —
  * the measured form of BASELINE.md's "the knob is k, not the operator"
  * attribution. Results → bench/cluster_k_probe_x10.json.
  */
object ClusterKProbe {
  def main(args: Array[String]): Unit = {
    val src = sys.env.getOrElse("SPARK_GRAFT_K_SRC", "target/sf1")
    val spark = GraftSession()
    val e = spark.read.parquet(s"$src/embeddings.parquet")
    val n = e.count()

    val cells = Seq(8, 64).map { k =>
      val (nc, maxC, sumSq) = pipeline.SimilarityQueries.clusterPairBudget(e, k)
      spark.catalog.clearCache(); System.gc()
      val t0 = System.nanoTime()
      val rows = pipeline.SimilarityQueries.hardNegatives(e, k).count()
      val secs = (System.nanoTime() - t0) / 1e9
      println(f"cluster-k probe k=$k: $secs%.1f s, $rows rows, max|c|=$maxC, sum|c|^2=$sumSq")
      // locale-invariant decimal rendering: the f interpolator uses the JVM
      // default locale, which can emit comma decimal separators → invalid JSON
      s""""k$k":{"secs":${BigDecimal(secs).setScale(2, BigDecimal.RoundingMode.HALF_UP)},"rows":$rows,"clusters":$nc,""" +
        s""""max_cluster":$maxC,"pair_budget":$sumSq}"""
    }
    // the r14 IVF multi-probe face under the SAME k ∝ n scaling: nprobe=2
    // doubles the anchor-side lists, so candidates stay ≤ 2× the pinned
    // budget while the boundary pairs the finer clustering would hide are
    // recovered — k∝n and multi-probe COMPOSE (the production setting)
    val ivfCells = Seq(8, 64).map { k =>
      spark.catalog.clearCache(); System.gc()
      val t0 = System.nanoTime()
      val rows = pipeline.SimilarityQueries.hardNegativesIvf(e, k, nprobe = 2).count()
      val secs = (System.nanoTime() - t0) / 1e9
      println(f"cluster-k probe ivf k=$k nprobe=2: $secs%.1f s, $rows rows")
      s""""ivf_k$k":{"secs":${BigDecimal(secs).setScale(2, BigDecimal.RoundingMode.HALF_UP)},"rows":$rows}"""
    }
    val json =
      s"""{"metric":"cluster_k_probe","src":"$src","n_vectors":$n,""" +
        s"""${(cells ++ ivfCells).mkString(",")}}"""
    println(json)
    val out = new java.io.PrintWriter("bench/cluster_k_probe_x10.json")
    try out.println(json) finally out.close()
    spark.stop()
  }
}
