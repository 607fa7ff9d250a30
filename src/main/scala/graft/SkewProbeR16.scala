package graft

import org.apache.spark.sql.functions._

/** Adversarial-skew probe for the round-16 propagation faces — the two
  * untested skew axes the r15 verdict named, each with an EXACTNESS check
  * (plain-Scala BFS over the same collected graph) on the same skewed
  * data:
  *
  *  1. HUB FRONTIER: a near-duplicate blob (20k vectors within noise of
  *     one direction) turns the LSH candidate generator's star guard on —
  *     every band bucket is hot, candidates collapse to a star around the
  *     min id, and the kNN graph becomes ONE hub of degree ~n. The BFS
  *     then explodes: hop 1 is just the hub, hop 2 is the entire
  *     remaining corpus in a single round — the worst-case frontier the
  *     edge-keyed join + anti-join must absorb without a skewed reducer
  *     (the frontier side is the JOIN KEY side; the hub's 20k adjacency
  *     rows hash across partitions by dst).
  *  2. SEED SOURCE: ~50% of the corpus (every doc of one source) fails
  *     both Gopher cuts — the hop-0 frontier IS half the corpus, so the
  *     first anti-join carries the largest possible tainted set from
  *     round one.
  *
  * Both axes run the REAL gate machinery (annKnnEdges → hopMap — the
  * q_quality_propagate_ann path) on synthetic parquet under target/, and
  * both must match the independent Scala BFS exactly (diffs = 0).
  *
  * Results → bench/skew_probe_r16.json (gated by SkewProbeR16ArtifactSpec).
  */
object SkewProbeR16 {

  private def num(d: Double) = BigDecimal(d).setScale(2,
    BigDecimal.RoundingMode.HALF_UP).toString

  def main(args: Array[String]): Unit = {
    val spark = GraftSession()
    val n = 20000

    // seeds fail BOTH Gopher cuts (one token 100% of the doc); clean docs
    // have 12 distinct tokens (max fraction 8.3% < 11%)
    val seedText = "array_join(array_repeat('spam', 40), ' ')"
    val cleanText =
      "array_join(transform(sequence(1, 12), x -> concat('w', id, 'q', x)), ' ')"

    def axis(name: String, docsSql: (String, String), embSql: String)
        : (String, Map[Long, Long]) = {
      val dir = s"target/skew_r16/$name"
      spark.range(n.toLong)
        .select(col("id").as("doc_id"), expr(docsSql._1).as("source"),
          expr(docsSql._2).as("text"))
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      spark.range(n.toLong)
        .select(col("id").as("vec_id"), expr(embSql).as("embedding"),
          pmod(col("id"), lit(10)).cast("int").as("label"))
        .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")

      val t0 = System.nanoTime()
      val edges = graft.pipeline.PropagateQueries
        .annKnnEdges(spark.read.parquet(s"$dir/embeddings.parquet"))
      val edgeRows = edges.collect().map(r => (r.getLong(0), r.getLong(1)))
      val edgesSecs = (System.nanoTime() - t0) / 1e9

      val t1 = System.nanoTime()
      val gate = graft.pipeline.PropagateQueries
        .hopMap(spark.read.parquet(s"$dir/documents.parquet"),
          edges.localCheckpoint())
        .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
      val bfsSecs = (System.nanoTime() - t1) / 1e9

      // independent BFS over the same collected graph + replayed seeds
      val docs = spark.read.parquet(s"$dir/documents.parquet")
        .select("doc_id", "text").collect()
        .map(r => r.getLong(0) -> r.getString(1))
      val seeds = docs.collect { case (id, t)
        if t.startsWith("spam") => id }.toSet
      val adj = (edgeRows ++ edgeRows.map(_.swap)).groupBy(_._1)
        .map { case (k, vs) => k -> vs.map(_._2).toSet }
      var dist = seeds.map(_ -> 0L).toMap
      var frontier = seeds
      for (h <- 1 to 3) {
        val next = frontier.flatMap(adj.getOrElse(_, Set.empty)).diff(dist.keySet)
        dist = dist ++ next.map(_ -> h.toLong)
        frontier = next
      }
      val diffs = (gate.keySet ++ dist.keySet)
        .count(k => gate.get(k) != dist.get(k))
      val hops = gate.values.groupBy(identity).view.mapValues(_.size)
        .toSeq.sortBy(_._1)
        .map { case (h, c) => s""""$h":$c""" }.mkString(",")
      val degrees = (edgeRows ++ edgeRows.map(_.swap)).groupBy(_._1)
        .view.mapValues(_.map(_._2).toSet.size)
      val json =
        s""""$name":{"n":$n,"max_degree":${degrees.values.max},
           |"seeds":${seeds.size},"edges_secs":${num(edgesSecs)},
           |"bfs_secs":${num(bfsSecs)},"hops":{$hops},"diffs":$diffs}"""
          .stripMargin.replace("\n", "")
      (json, gate)
    }

    // axis 1: a COLINEAR blob — every vector is the base direction scaled
    // by (1 + id·1e-6), so every hyperplane projection keeps its sign,
    // all 20k vectors share every band bucket, the star guard fires on
    // ALL of them, and the candidate set collapses to a star around the
    // min id: vec 0 becomes a hub of degree n−1. (Additive noise instead
    // of scaling flips signs on near-orthogonal planes and produces
    // uniformly-overfull buckets the RELATIVE skew guard correctly
    // ignores — that regime is the adaptive-banding population story,
    // probed by the dedup suites; this axis targets the BFS.)
    val (hubJson, _) = axis("hub_frontier",
      ("concat('src', pmod(id, 4))",
        s"IF(pmod(id, 20) = 0, $seedText, $cleanText)"),
      """transform(sequence(0, 63), j ->
        |  CAST((1.0 + (j % 7) * 0.1) * (1.0 + id / 1000000.0) AS FLOAT))"""
        .stripMargin)

    // axis 2: every doc of one source (50% of the corpus) is a seed
    val (seedJson, _) = axis("seed_source",
      ("IF(pmod(id, 2) = 0, 'spamsrc', concat('src', pmod(id, 3)))",
        s"IF(pmod(id, 2) = 0, $seedText, $cleanText)"),
      """transform(sequence(0, 63), j ->
        |  CAST(pmod(id * 2654435761 + j * 40503, 2003) / 2003.0 - 0.5 AS FLOAT))"""
        .stripMargin)

    val json = s"""{"metric":"skew_probe_r16",$hubJson,$seedJson}"""
    println(json)
    val out = new java.io.PrintWriter("bench/skew_probe_r16.json")
    try out.println(json) finally out.close()
    spark.stop()
  }
}
