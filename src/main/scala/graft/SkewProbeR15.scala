package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Adversarial-skew probe for the round-15 operators — the new
  * families' untested skew axes, each with an EXACTNESS check against an
  * unguarded reference on the same skewed data:
  *
  *  1. DSIR under a HYPER-FREQUENT gram (every 2nd token replaced with
  *     one hot token → one hash bucket carries 50% of the unigram mass,
  *     ~25% of ALL feature instances, and its bigram neighborhood
  *     concentrates more): the λ join is a broadcast and the per-doc weight
  *     aggregate keys on doc_id, so the hot bucket never concentrates a
  *     reducer; exactness = per-doc weights equal a gram-keyed
  *     reference aggregation (group by gram → multiply counts by λ —
  *     a different plan shape over the same skewed data);
  *  2. PrefixRank under a TOTAL TIE (every doc assigned the same
  *     weight, so the range partitioner sees one giant weight value and
  *     must split on the doc_id tiebreak alone): the budget cut must
  *     equal the naive single-window prefix rule row for row;
  *  3. prototype pruning with ONE CLUSTER holding ~93% of vectors
  *     (group-major range partitioning's worst group skew): the
  *     per-cluster cut law n_kept = n_c − ⌊n_c/2⌋ must hold on every
  *     cluster and the kept set must equal the unguarded per-cluster
  *     rank window's.
  *
  * Results → bench/skew_probe_r15.json (gated by SkewProbeR15ArtifactSpec).
  */
object SkewProbeR15 {
  def main(args: Array[String]): Unit = {
    val src = sys.env.getOrElse("SPARK_GRAFT_SKEW_SRC", "/root/testdata/sf0.01")
    val cpus = GraftSession.cpus
    val spark = GraftSession()
    def num(d: Double) = BigDecimal(d).setScale(2, BigDecimal.RoundingMode.HALF_UP)

    val docs = spark.read.parquet(s"$src/documents.parquet")

    // ---- 1. DSIR under a hyper-frequent gram ----
    // every 2nd token becomes 'zz': one unigram bucket takes ~50% of the
    // unigram mass and every second bigram contains it
    val hotDocs = docs.select(col("doc_id"), col("source"),
      expr("""array_join(transform(filter(split(lower(trim(text)), '\\s+'), t -> t <> ''),
             |  (t, i) -> IF(i % 2 = 0, 'zz', t)), ' ')""".stripMargin).as("text"))
    val hotFeats = pipeline.SelectionQueries.feats(hotDocs)
    val hotShare = hotFeats.agg(
      avg(when(col("gram") === "zz", 1.0).otherwise(0.0)) * 100)
      .collect()(0).getDouble(0)
    val lam = pipeline.SelectionQueries.lambdaTableOf(spark, hotFeats)
    val t0 = System.nanoTime()
    val dw = pipeline.SelectionQueries
      .docWeightsOf(hotDocs.filter(col("source") =!= "src0"), lam)
      .collect().map(r => r.getLong(0) -> r.getLong(4)).toMap
    val dsirSecs = (System.nanoTime() - t0) / 1e9
    // reference: gram-keyed aggregation — counts per (doc, gram) first,
    // then λ multiply — a different shuffle shape over the same skew
    val ref = hotFeats.filter(col("source") =!= "src0")
      .groupBy("doc_id", "bucket").agg(count(lit(1)).as("c"))
      .join(broadcast(lam), "bucket")
      .groupBy("doc_id").agg(sum(col("c") * col("lam")).as("w"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val dsirDiff = dw.count { case (id, w) => ref.get(id) != Some(w) } +
      ref.count { case (id, _) => !dw.contains(id) }

    // ---- 2. PrefixRank under a total tie ----
    val tied = pipeline.SelectionQueries
      .docWeightsOf(docs.filter(col("source") =!= "src0"),
        pipeline.SelectionQueries.lambdaTableOf(spark,
          pipeline.SelectionQueries.feats(docs)))
      .withColumn("weight", lit(7L)) // every weight identical
    val t1 = System.nanoTime()
    val cut = operators.PrefixRank.withRunningTotal(tied,
        Seq(col("weight").desc, col("doc_id")), col("n_tok"), "cum", cpus)
      .select("doc_id", "cum")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val tieSecs = (System.nanoTime() - t1) / 1e9
    val naive = tied.withColumn("cum",
        sum("n_tok").over(Window.orderBy(col("weight").desc, col("doc_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select("doc_id", "cum")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val tieDiff = cut.count { case (id, c) => naive.get(id) != Some(c) }

    // ---- 3. prototype rank with one cluster holding ~93% ----
    // synthetic assignments: 93% of vec_ids in cluster 0, rest spread
    import spark.implicits._
    val nVec = 20000
    val asg = spark.range(nVec.toLong).select(
      col("id").as("vec_id"),
      when(pmod(col("id"), lit(100)) < 93, lit(0))
        .otherwise(pmod(col("id"), lit(100)).cast("int") - 92).as("cluster"),
      pmod(col("id") * 2654435761L, lit(1000003L)).as("dist"))
    val hotFrac = asg.agg(avg(when(col("cluster") === 0, 1.0).otherwise(0.0)) * 100)
      .collect()(0).getDouble(0)
    val t2 = System.nanoTime()
    val ranked = operators.PrefixRank.withGroupRank(asg, Seq("cluster"),
        Seq(col("dist"), col("vec_id")), "rk", cpus)
    val cn = asg.groupBy("cluster").agg(count(lit(1)).as("n_total"))
    val kept = ranked.join(broadcast(cn), "cluster")
      .filter(col("rk") > expr("n_total DIV 2"))
      .select("cluster", "vec_id")
      .collect().map(r => (r.getInt(0), r.getLong(1))).toSet
    val protoSecs = (System.nanoTime() - t2) / 1e9
    val keptRef = asg.withColumn("rk", row_number().over(
        Window.partitionBy("cluster").orderBy(col("dist"), col("vec_id"))).cast("long"))
      .join(cn, "cluster")
      .filter(col("rk") > expr("n_total DIV 2"))
      .select("cluster", "vec_id")
      .collect().map(r => (r.getInt(0), r.getLong(1))).toSet
    val protoDiff = (kept diff keptRef).size + (keptRef diff kept).size

    val json =
      s"""{"metric":"skew_probe_r15","src":"$src",""" +
        s""""dsir_hot_bucket":{"hot_gram_pct":${num(hotShare)},"secs":${num(dsirSecs)},"docs":${dw.size},"diffs":$dsirDiff},""" +
        s""""prefix_total_tie":{"secs":${num(tieSecs)},"docs":${cut.size},"diffs":$tieDiff},""" +
        s""""proto_hot_cluster":{"hot_cluster_pct":${num(hotFrac)},"secs":${num(protoSecs)},"kept":${kept.size},"diffs":$protoDiff}}"""
    println(json)
    val out = new java.io.PrintWriter("bench/skew_probe_r15.json")
    try out.println(json) finally out.close()
    spark.stop()
  }
}
