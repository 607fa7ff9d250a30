package graft.pipeline

import graft.QueryDef
import graft.analytics.Tables
import graft.operators.Checkpoints.StableOps
import org.apache.spark.sql.functions._

/** Closed-form linear probe — ridge-regularized least squares
  * (XᵀX + αI)w = Xᵀy solved in ONE shot from two bounded corpus
  * aggregates, the second member of the training family next to
  * [[PerceptronQueries]]'s mistake-driven iteration (same target:
  * integer-Lloyd cluster-0 membership; same ×10⁴ quantized features +
  * bias — so the two trainers are directly comparable receipts on one
  * task: closed-form 29 errors, pocket perceptron 11, majority 53 at
  * sf0.01).
  *
  * Distributed shape (the q_pca_project discipline): the only
  * corpus-wide passes are (1) the 65×65 feature Gramian XᵀX — an upper-
  * triangle aggregate of 2 145 cells, map-side-combined, CONSTANT in
  * corpus size — plus the 65-cell class moment Xᵀy, and (2) the scoring
  * pass — map-only with the 65-row weight vector broadcast. The solve
  * itself (Gaussian elimination with partial pivoting, 65×65, ridge
  * α = 10⁻⁶·trace/d) runs on the driver in microseconds; the data never
  * moves.
  *
  * Exactness: X and y are integers, so XᵀX and Xᵀy are BIGINT-exact and
  * the solve is deterministic driver double math; the solved weights are
  * quantized (⌊w·2³⁰ + 0.5⌋) and STAGED ([[graft.OracleStage]]) — the
  * oracle recomputes the features, the target (through its own
  * integer-Lloyd replay), every score Σ x·w_q, the sign prediction, and
  * the confusion cells from the staged integers, so the whole
  * distributed surface is hash-gated; the solver algebra is pinned by
  * LinearProbeSpec (normal-equation residual, bit-exact replay).
  *
  * The gate output is the confusion matrix with per-cell score sums —
  * a wrong Gramian cell, wrong solve, wrong quantization, or wrong
  * sign convention (s = 0 predicts −1) breaks the hash.
  */
object LinearProbeQueries {

  private val Dim = 64
  private val Q = 10000L
  private val WScale = 1L << 30

  /** Deterministic Gaussian elimination with partial pivoting. */
  private[pipeline] def solve(a0: Array[Array[Double]], b0: Array[Double]): Array[Double] = {
    val n = b0.length
    val a = a0.map(_.clone()); val b = b0.clone()
    for (k <- 0 until n) {
      val piv = (k until n).maxBy(i => (math.abs(a(i)(k)), -i))
      val (tr, tb) = (a(k), b(k)); a(k) = a(piv); a(piv) = tr
      b(k) = b(piv); b(piv) = tb
      for (i <- k + 1 until n) {
        val f = a(i)(k) / a(k)(k)
        for (j <- k until n) a(i)(j) -= f * a(k)(j)
        b(i) -= f * b(k)
      }
    }
    val x = Array.ofDim[Double](n)
    for (k <- n - 1 to 0 by -1) {
      var s = b(k)
      for (j <- k + 1 until n) s -= a(k)(j) * x(j)
      x(k) = s / a(k)(k)
    }
    x
  }

  /** [bias; quantized components]: x₀ = 10⁴, x_i = round(v_i·10⁴). */
  private def xCol = expr(
    s"concat(array(${Q}L), transform(embedding, v -> CAST(ROUND(CAST(v AS DOUBLE) * $Q, 0) AS BIGINT)))")

  /** Solve the probe from the two bounded aggregates; returns the
    * quantized 65-row weight vector (dim → w_q).
    */
  private[pipeline] def trainWeights(spark: org.apache.spark.sql.SparkSession,
      xy: org.apache.spark.sql.DataFrame): Seq[(Int, Long)] = {
    val d1 = Dim + 1
    // r17: Gramian AND class moment in ONE corpus pass / ONE collect —
    // the moment cells ride the same explode tagged j = −1 (the r16 shape
    // ran a second full pass + job for the 65 moment cells). Same sums,
    // same 2 145 + 65 bounded cells.
    // r18: 4-wide fan-out before the 2210-cell explode (Fanout doc — the
    // checkpointed xy is one partition at the gate corpus, and the r17
    // single-core explode was the pass's critical path)
    val cells = Fanout(xy).select(explode(expr(
        s"""concat(
           |  flatten(transform(sequence(0, $Dim), i ->
           |    transform(sequence(i, $Dim), j ->
           |      struct(i AS i, j AS j, element_at(x, i+1) * element_at(x, j+1) AS p)))),
           |  transform(sequence(0, $Dim), i ->
           |    struct(i AS i, -1 AS j, y * element_at(x, i+1) AS p)))"""
          .stripMargin)).as("c"))
      .groupBy(col("c.i"), col("c.j")).agg(sum(col("c.p")).as("g"))
      .collect() // 2 145 + 65 cells — bounded, corpus-independent
    val a = Array.ofDim[Double](d1, d1)
    val b = Array.ofDim[Double](d1)
    cells.foreach { r =>
      val (i, j, v) = (r.getInt(0), r.getInt(1), r.getLong(2).toDouble)
      if (j < 0) b(i) = v else { a(i)(j) = v; a(j)(i) = v }
    }
    val alpha = (0 until d1).map(i => a(i)(i)).sum / d1 * 1e-6
    (0 until d1).foreach(i => a(i)(i) += alpha)
    val w = solve(a, b)
    (0 until d1).map(i => (i, math.floor(w(i) * WScale + 0.5).toLong))
  }

  private def oracleSql: String =
    s"""WITH ${SimilarityQueries.kmeansCtes},
       |yv AS (SELECT a2.vec_id,
       |              CASE WHEN a2.cluster = 0 THEN 1 ELSE -1 END AS y
       |       FROM a2),
       |xv AS (SELECT q.vec_id, q.i, q.v - 10000 AS x FROM q
       |       UNION ALL SELECT vec_id, 0 AS i, $Q AS x FROM yv),
       |w AS (SELECT dim, wq FROM ${graft.OracleStage.pq("probe_w")}),
       |sc AS (SELECT xv.vec_id, CAST(SUM(xv.x * w.wq) AS BIGINT) AS s
       |       FROM xv JOIN w ON w.dim = xv.i GROUP BY 1),
       |pr AS (SELECT yv.y, CASE WHEN sc.s > 0 THEN 1 ELSE -1 END AS yhat, sc.s
       |       FROM sc JOIN yv USING (vec_id))
       |SELECT y, yhat, CAST(COUNT(*) AS BIGINT) AS n,
       |       CAST(SUM(s) AS BIGINT) AS score_sum
       |FROM pr GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  val defs: Seq[QueryDef] = Seq(

    // ----- Ridge least-squares linear probe: solve once, score once -----
    QueryDef("q_linear_probe", oracleSql) { (spark, d) =>
      import spark.implicits._
      val e = Tables.embeddings(spark, d)
      val y = SimilarityQueries.kmeansAssignments(e, k = 8)
        .select(col("vec_id"),
          when(col("cluster") === 0, 1L).otherwise(-1L).as("y"))
      // three consumers (Gramian, moment, scoring) — checkpoint so the
      // Lloyd rounds and the quantization run once, not once per action
      val xy = e.select(col("vec_id"), xCol.as("x")).join(y, "vec_id")
        .stableCheckpoint()

      val wq = trainWeights(spark, xy)
      // oracle-only bridge: the staged weights let DuckDB replay the
      // scoring pass (no-op in bench mode; the served plan embeds the
      // weights as a literal instead — no join at all)
      graft.OracleStage.stage("probe_w", wq.toDF("dim", "wq"))

      // scoring pass: pure map — codegen'd fold against the weight
      // literal, then one tiny aggregate; sign(0) → −1
      val wLit = wq.map(_._2).mkString("array(", "L, ", "L)")
      xy.select(col("y"), expr(
          s"aggregate(zip_with(x, $wLit, (a, b) -> a * b), 0L, (acc, e) -> acc + e)")
          .as("s"))
        .select(col("y"),
          when(col("s") > 0, 1L).otherwise(-1L).as("yhat"), col("s"))
        .groupBy("y", "yhat")
        .agg(count(lit(1)).as("n"), sum("s").as("score_sum"))
        .orderBy("y", "yhat")
    })
}
