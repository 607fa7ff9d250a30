package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.adaptive.AQEShuffleReadExec
import org.apache.spark.sql.functions._

/** AQE shuffle-sizing probe (r15 verdict "what's missing" #4, the locally
  * measurable half): `SPARK_GRAFT_SHUFFLE_PARTITIONS` has been a
  * documented deployment knob; this probe converts it into MEASURED
  * adaptive behavior on real pipeline shapes, so the 100 TB story ("set
  * partitions high for the big stages, let AQE coalesce the small ones")
  * rests on observed plans rather than the Spark manual.
  *
  *  1. COALESCE: the DSIR feature collapse (tokenize → bigram lead →
  *     per-doc aggregate) over the ×10 corpus, planned with a
  *     cluster-sized `spark.sql.shuffle.partitions = 512`. AQE must
  *     coalesce every post-shuffle read far below 512 (the stage's data
  *     fits a handful of advisory-sized partitions), and the RESULT must
  *     be bit-identical to the same plan at partitions = 32 — the
  *     partition-count invariance every operator in this repo claims.
  *  2. SKEW SPLIT: a 90%-hot-key join (the shape salting guards against
  *     when AQE is off). With `spark.sql.adaptive.skewJoin` on, the plan
  *     must mark the join skew=true (OptimizeSkewedJoin split the hot
  *     partition) and agree with the 32-partition run's aggregate.
  *
  * The genuine multi-executor datapoint (network shuffle, executor-loss
  * recovery) remains environment-bound — this container has one JVM; the
  * probe pins what local mode CAN pin: AQE's partition arithmetic and
  * result invariance on this engine's own plan shapes.
  *
  * Results → bench/aqe_probe_r16.json (gated by AqeProbeArtifactSpec).
  */
object AqeProbe {

  private def num(d: Double) = BigDecimal(d).setScale(2,
    BigDecimal.RoundingMode.HALF_UP).toString

  private def session(parts: Int): SparkSession = {
    // one JVM, sequential sessions: stop the previous context so each
    // config is honored from scratch
    SparkSession.getActiveSession.foreach(_.stop())
    GraftSession(
      "spark.sql.shuffle.partitions" -> parts.toString,
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      // the skew axis models corpus-sized-both-sides (at 100 TB neither
      // join side broadcasts), and the skew/advisory thresholds scale to
      // the probe's MB-sized data so the SAME code path fires that
      // default thresholds fire at production sizes
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "2m",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "1m")
  }

  /** The FINAL adaptive plan (AQEShuffleRead nodes live inside the
    * AdaptiveSparkPlanExec wrapper, invisible to a tree-collect on it).
    */
  private def finalPlan(df: org.apache.spark.sql.DataFrame) =
    df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }

  /** Post-shuffle read partition counts, unwrapping query-stage
    * boundaries (QueryStageExec keeps its subtree in a `plan` field, so a
    * plain tree-collect stops at every stage).
    */
  private def aqeReadSizes(p: org.apache.spark.sql.execution.SparkPlan): Seq[Int] = {
    val here = p match {
      case r: AQEShuffleReadExec => Seq(r.partitionSpecs.size)
      case _ => Nil
    }
    val kids = p match {
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => Seq(q.plan)
      case other => other.children
    }
    here ++ kids.flatMap(aqeReadSizes)
  }

  /** The DSIR feature collapse over `src` — one tokenize pass, window
    * lead, per-doc aggregate (the q_dsir_weights corpus shape).
    */
  private def featureCollapse(spark: SparkSession, src: String) = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("doc_id").orderBy("pos")
    spark.read.parquet(s"$src/documents.parquet")
      .select(col("doc_id"),
        posexplode(split(lower(trim(col("text"))), "\\s+")).as(Seq("pos", "tok")))
      .withColumn("nxt", lead("tok", 1).over(w))
      .select(col("doc_id"), expr(
        """stack(2, tok, 1L,
          |  CASE WHEN nxt IS NOT NULL THEN concat_ws(' ', tok, nxt) END, 0L
          |) AS (gram, isu)""".stripMargin))
      .filter(col("gram").isNotNull)
      .withColumn("bucket", pmod(xxhash64(col("gram")), lit(4096)))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_feats"), sum("isu").as("n_tok"),
        sum("bucket").as("bucket_sum"))
  }

  /** 90%-hot-key join + aggregate. */
  private def skewJoin(spark: SparkSession) = {
    val left = spark.range(2000000L)
      .select(col("id"),
        when(pmod(col("id"), lit(10)) < 9, lit(0L))
          .otherwise(pmod(col("id"), lit(1000))).as("k"))
    val right = spark.range(1000L)
      .select(col("id").as("k"), (col("id") * 7L).as("payload"))
    left.join(right, "k")
      .groupBy()
      .agg(count(lit(1)).as("n"), sum(col("id") + col("payload")).as("chk"))
  }

  def main(args: Array[String]): Unit = {
    val src = sys.env.getOrElse("SPARK_GRAFT_AQE_SRC", "target/sf1")

    // ---- pass 1: cluster-sized partitions, AQE on ----
    val s512 = session(512)
    featureCollapse(s512, src).collect() // warm (JIT + page cache)
    val t0 = System.nanoTime()
    val wide = featureCollapse(s512, src)
    val wideRows = wide.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).sorted
    val wideSecs = (System.nanoTime() - t0) / 1e9
    val reads = aqeReadSizes(finalPlan(wide))
    val sk = skewJoin(s512)
    val skRow = sk.collect()(0)
    val skPlan = finalPlan(sk).toString
    val skewMarked = skPlan.contains("skew=true")

    // ---- pass 2: the repo's local default, results must be identical ----
    val s32 = session(32)
    val t1 = System.nanoTime()
    val narrowRows = featureCollapse(s32, src).collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).sorted
    val narrowSecs = (System.nanoTime() - t1) / 1e9
    val skRow32 = skewJoin(s32).collect()(0)

    val identical = wideRows.sameElements(narrowRows)
    val skewIdentical = skRow.getLong(0) == skRow32.getLong(0) &&
      skRow.getLong(1) == skRow32.getLong(1)

    val json =
      s"""{"metric":"aqe_probe_r16","src":"$src","docs":${wideRows.length},""" +
        s""""initial_partitions":512,"aqe_reads":[${reads.mkString(",")}],""" +
        s""""wall_512":${num(wideSecs)},"wall_32":${num(narrowSecs)},""" +
        s""""results_identical":$identical,""" +
        s""""skew_join_marked":$skewMarked,"skew_results_identical":$skewIdentical}"""
    println(json)
    val out = new java.io.PrintWriter("bench/aqe_probe_r16.json")
    try out.println(json) finally out.close()
    s32.stop()
  }
}
