package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Adversarial-skew probe for the round-13/14 operators (r13 verdict
  * item 8) — the three untested skew axes, each with an EXACTNESS check
  * against an unguarded reference on the same skewed data, plus the
  * documented per-reducer bound:
  *
  *  1. deep BPE with a HYPER-FREQUENT symbol (every 2nd token replaced,
  *     ~50% of all adjacencies involve it): pair stats are map-side
  *     combinable so the hot pair never concentrates a reducer, and the
  *     trainer's internal fold-vs-closed-form identity (Σ n_merges ==
  *     token delta, hard-required every pass) is the exactness gate —
  *     the probe run THROWS if skew broke the batched application;
  *  2. batched retrieval with a term planted in EVERY document (df = n,
  *     the worst posting list): per-query candidates hit the corpus
  *     size, and the kminBy shortlist must equal the unguarded rank
  *     window's top-K pair for pair;
  *  3. bottom-k sampling with one source holding ~99% of documents: the
  *     kminBy sample of the hot group must equal the unguarded
  *     sort-based sample, with ≤ k pairs per partial buffer by
  *     construction;
  *  4. quantile sketch at the degenerate extremes (r14 verdict item 8):
  *     one value repeated for ~100% of a group (all count mass in one
  *     bucket cell) and max-domain values at the top-octave boundary
  *     (Long.MaxValue lands in the LAST bucket, where an exclusive hi
  *     bound would overflow) — the readout's containment flag must hold
  *     on every row.
  *
  * Results → bench/skew_probe_r14.json (gated by SkewProbeR14ArtifactSpec).
  */
object SkewProbeR14 {
  def main(args: Array[String]): Unit = {
    val src = sys.env.getOrElse("SPARK_GRAFT_SKEW_SRC", "/root/testdata/sf0.01")
    val spark = GraftSession()
    def num(d: Double) = BigDecimal(d).setScale(2, BigDecimal.RoundingMode.HALF_UP)

    val docs = spark.read.parquet(s"$src/documents.parquet")

    // ---- 1. deep BPE under a hyper-frequent symbol ----
    // built THROUGH the shared phrase-state face (whole-doc alphabet
    // filter included), then every 2nd token replaced with the hot symbol
    val bpeState0 = pipeline.BpeQueries.deepPhraseState(docs)
      .select(col("word"), col("freq"),
        expr("transform(syms, (t, i) -> IF(i % 2 = 0, 'zz', t))").as("syms"))
    val hotShare = bpeState0
      .select(explode(col("syms")).as("s"))
      .agg(avg(when(col("s") === "zz", 1.0).otherwise(0.0)) * 100).collect()(0).getDouble(0)
    val t0 = System.nanoTime()
    // trainDeepTrace HARD-FAILS if the batched fold diverges from the
    // closed-form site counts — under this skew that require IS the gate
    val bpeTrace = pipeline.BpeQueries.trainDeepTrace(
      bpeState0, passes = 4, batch = 8, stage = false, sep = " ").collect()
    val bpeSecs = (System.nanoTime() - t0) / 1e9
    println(f"skew bpe: hot share $hotShare%.1f%%, ${bpeTrace.length} rules, $bpeSecs%.1f s, hard-check passed")

    // ---- 2. batched retrieval with a term in EVERY document ----
    val tSkew = docs.select(col("doc_id"),
        expr("concat(array('zz', 'zz', 'zz', 'zz', 'zz'), " +
          "filter(split(lower(trim(text)), '\\\\s+'), x -> x <> ''))").as("toks"))
    val lex = pipeline.RetrievalQueries.batchLexScores(tSkew).localCheckpoint()
    val candPerQ = lex.groupBy("query_id").count()
      .agg(max("count"), count(lit(1))).collect()(0)
    val (maxCand, nQueries) = (candPerQ.getLong(0), candPerQ.getLong(1))
    val nDocs = docs.count()
    // the REAL document frequency of the planted term — the artifact must
    // prove df = n, not merely that the term exists somewhere
    val hotDf = tSkew.filter(array_contains(col("toks"), "zz")).count()
    val K = 20
    val viaKmin = lex.groupBy("query_id")
      .agg(graft.functions.KMinAgg.kminBy(-col("score_x1m"), col("doc_id"), K).as("m"))
      .select(col("query_id"), posexplode(col("m")))
      .select(col("query_id"), (col("pos") + 1).as("r"), col("col.id").as("doc_id"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val viaWindow = lex.withColumn("r", row_number().over(
        Window.partitionBy("query_id").orderBy(col("score_x1m").desc, col("doc_id"))))
      .filter(col("r") <= K)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Int]("r"),
        r.getAs[Long]("doc_id"))).toSet
    val rrfDiff = (viaKmin diff viaWindow).size + (viaWindow diff viaKmin).size
    println(s"skew rrf: max candidates/query $maxCand of $nDocs docs, shortlist diff $rrfDiff")

    // ---- 3. bottom-k sampling with one source holding ~99% of docs ----
    import org.apache.spark.sql.graft.SketchExpressions
    val skewedSrc = docs.select(
        when(col("doc_id") % 100 === 0, col("source")).otherwise(lit("hot")).as("source"),
        col("doc_id"),
        SketchExpressions.md5Hi64(concat(lit("smp:"), col("doc_id").cast("string"))).as("h8"))
      .select(col("source"), col("doc_id"), expr("shiftrightunsigned(h8, 16)").as("hv"))
      .localCheckpoint()
    val hotDocs = skewedSrc.filter(col("source") === "hot").count()
    val sampleKmin = skewedSrc.groupBy("source")
      .agg(graft.functions.KMinAgg.kminBy(col("hv"), col("doc_id"), 8).as("m"))
      .select(col("source"), posexplode(col("m")))
      .select(col("source"), (col("pos") + 1).as("r"), col("col.id").as("doc_id"))
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2))).toSet
    val sampleWindow = skewedSrc.withColumn("r", row_number().over(
        Window.partitionBy("source").orderBy("hv", "doc_id")))
      .filter(col("r") <= 8)
      .select("source", "r", "doc_id")
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2))).toSet
    val sampleDiff = (sampleKmin diff sampleWindow).size + (sampleWindow diff sampleKmin).size
    println(s"skew bottomk: hot group $hotDocs of $nDocs docs, sample diff $sampleDiff")

    // ---- 4. quantile sketch at the degenerate extremes (r14 item 8) ----
    // axis A: ONE value repeated for ~100% of a large group — the whole
    // count mass lands in a single bucket cell, the worst case for the
    // cumulate-and-select readout; axis B: max-domain values at the
    // top-octave boundary (Long.MaxValue and neighbors), where an
    // exclusive hi bound would overflow (and throw under ANSI). Exactness
    // = the `within` containment flag on EVERY readout row: the selected
    // bucket must contain the exact discrete order statistic (rank error
    // 0) at both extremes.
    import graft.functions.QuantileSketch
    import spark.implicits._
    val constVals = docs.select(lit("const").as("grp"),
        lit(12345L).as("v"))
      .unionByName(Seq(0L, Long.MaxValue).toDF("v")
        .select(lit("const").as("grp"), col("v")))
    val topVals = Seq(Long.MaxValue, Long.MaxValue - 1, (1L << 62) - 1,
        1L << 62, 3L << 61, 63L, 64L, 0L)
      .toDF("v").select(lit("top").as("grp"), col("v"))
    val vals = constVals.unionByName(topVals).localCheckpoint()
    val counts = vals.groupBy(col("grp"), QuantileSketch.bucketOf(col("v")).as("id"))
      .agg(count(lit(1)).as("cnt"))
    val totals = vals.groupBy("grp").agg(count(lit(1)).as("n"))
    val ro = QuantileSketch.readout(counts, totals, vals, "grp").collect()
    val withinViolations = ro.count(_.getAs[Long]("within") == 0L)
    val constRows = nDocs + 2
    val constBuckets = counts.filter(col("grp") === "const").count()
    val topMaxId = counts.filter(col("grp") === "top")
      .agg(max("id")).collect()(0).getLong(0)
    println(s"skew sketch: const group $constRows rows in $constBuckets buckets, " +
      s"top bucket id $topMaxId of ${QuantileSketch.NumBuckets}, " +
      s"within violations $withinViolations of ${ro.length}")

    val json =
      s"""{"metric":"skew_probe_r14","src":"$src",""" +
        s""""bpe":{"hot_share_pct":${num(hotShare)},"rules":${bpeTrace.length},"passes":4,"secs":${num(bpeSecs)},"hard_check":"passed"},""" +
        s""""rrf":{"planted_df":$hotDf,"n_docs":$nDocs,"n_queries":$nQueries,"max_cand_per_query":$maxCand,"shortlist_diff":$rrfDiff},""" +
        s""""bottomk":{"hot_group_docs":$hotDocs,"total_docs":$nDocs,"k":8,"sample_diff":$sampleDiff},""" +
        s""""sketch":{"const_rows":$constRows,"const_buckets":$constBuckets,""" +
        s""""readout_rows":${ro.length},"within_violations":$withinViolations,""" +
        s""""top_max_id":$topMaxId,"num_buckets":${graft.functions.QuantileSketch.NumBuckets}}}"""
    println(json)
    val out = new java.io.PrintWriter("bench/skew_probe_r14.json")
    try out.println(json) finally out.close()
    spark.stop()
  }
}
