package graft.pipeline

import graft.QueryDef
import graft.analytics.Tables
import org.apache.spark.sql.functions._

/** PCA projection for the embedding column — the dimensionality-reduction
  * stage of a training-data pipeline (near-dup blocking in fewer dims,
  * visualization, whitening before clustering).
  *
  * The distributed shape is the classic one (Spark MLlib's
  * RowMatrix.computePrincipalComponents works the same way): the only
  * corpus-wide passes compute the d×d Gramian and the column sums — both
  * map-side-combinable aggregates over d(d+1)/2 + d cells, CONSTANT in
  * corpus size — and the d×d eigendecomposition runs on the driver (d=64:
  * microseconds; the data never moves). The projection pass is then
  * map-only with a broadcast projection matrix. At 100 TB: two aggregate
  * passes + one map pass, no shuffle wider than 2 080 rows.
  *
  * Exactness strategy (the repo's standing integer-exact discipline):
  * embeddings are quantized once — q = FLOOR(v·1024 + 0.5) as BIGINT, a
  * deterministic double→int map both engines compute identically — and
  * everything the cross-engine gate hashes is BIGINT arithmetic over q:
  *  - Gramian cells G_ij = Σ q_i·q_j and sums s_i = Σ q_i (exact);
  *  - the projection y'_c = n·⟨p_c, q⟩ − ⟨p_c, s⟩, the centered projection
  *    n·⟨p_c, q − s/n⟩ multiplied through by n so it stays integral.
  * The eigen step itself (cyclic Jacobi on the covariance assembled from
  * G, s, n — deterministic rotation order, fixed sweep count) is not
  * DuckDB-expressible, so the quantized projection matrix is staged via
  * [[graft.OracleStage]] and the oracle independently recomputes q, s, n
  * AND the projection from the staged matrix — the gate covers the whole
  * distributed surface; the eigen algebra is pinned by PcaSpec
  * (eigen residual, orthonormality, variance ordering).
  */
object PcaQueries {

  private val Dim = 64 // embeddings testdata contract (TESTDATA.md)
  private val QScale = 1024L // input quantization: q = floor(v*1024 + 0.5)
  private val PScale = 1L << 20 // projection-matrix quantization
  private val Components = 2

  /** Cyclic Jacobi eigendecomposition of a symmetric matrix; returns
    * (eigenvalues, eigenvectors as rows) sorted by eigenvalue descending
    * (ties by original index). Deterministic: fixed (p,q) sweep order,
    * fixed sweep count, no data-dependent pivoting.
    */
  private[pipeline] def jacobiEigen(a0: Array[Array[Double]])
      : (Array[Double], Array[Array[Double]]) = {
    val d = a0.length
    val a = a0.map(_.clone())
    val v = Array.tabulate(d, d)((i, j) => if (i == j) 1.0 else 0.0)
    var sweep = 0
    while (sweep < 64 && {
        var off = 0.0
        var i = 0
        while (i < d) { var j = i + 1; while (j < d) { off += a(i)(j) * a(i)(j); j += 1 }; i += 1 }
        off > 1e-22
      }) {
      var p = 0
      while (p < d - 1) {
        var q = p + 1
        while (q < d) {
          val apq = a(p)(q)
          if (math.abs(apq) > 1e-300) {
            val theta = (a(q)(q) - a(p)(p)) / (2.0 * apq)
            val t = math.signum(theta) / (math.abs(theta) + math.sqrt(theta * theta + 1.0)) match {
              case 0.0 => 1.0 / (theta + math.sqrt(theta * theta + 1.0))
              case x => x
            }
            val c = 1.0 / math.sqrt(t * t + 1.0)
            val s = t * c
            var k = 0
            while (k < d) {
              val akp = a(k)(p); val akq = a(k)(q)
              a(k)(p) = c * akp - s * akq
              a(k)(q) = s * akp + c * akq
              k += 1
            }
            k = 0
            while (k < d) {
              val apk = a(p)(k); val aqk = a(q)(k)
              a(p)(k) = c * apk - s * aqk
              a(q)(k) = s * apk + c * aqk
              k += 1
            }
            k = 0
            while (k < d) {
              val vkp = v(k)(p); val vkq = v(k)(q)
              v(k)(p) = c * vkp - s * vkq
              v(k)(q) = s * vkp + c * vkq
              k += 1
            }
          }
          q += 1
        }
        p += 1
      }
      sweep += 1
    }
    val order = (0 until d).sortBy(i => (-a(i)(i), i))
    val eigvals = order.map(i => a(i)(i)).toArray
    // rows = components; deterministic sign: largest-|coeff| entry positive
    val eigvecs = order.map { i =>
      val col = Array.tabulate(d)(k => v(k)(i))
      val m = col.indices.maxBy(k => (math.abs(col(k)), -k))
      if (col(m) < 0) col.map(-_) else col
    }.toArray
    (eigvals, eigvecs)
  }

  /** q = FLOOR(v·1024 + 0.5) as BIGINT — the shared quantization, one
    * definition for the Spark column and (string) the DuckDB mirror.
    */
  private def qCol = expr(
    s"transform(embedding, v -> CAST(FLOOR(CAST(v AS DOUBLE) * $QScale + 0.5D) AS BIGINT))")
  private val qSql =
    s"CAST(FLOOR(CAST(embedding[i] AS DOUBLE) * $QScale + 0.5) AS BIGINT)"

  val defs: Seq[QueryDef] = Seq(

    // ----- PCA: top-2 principal components, integer-exact projection -----
    QueryDef(
      "q_pca_project",
      s"""WITH q AS (SELECT vec_id, label, i, $qSql AS qv
         |           FROM embeddings, generate_series(1, $Dim) AS t(i)),
         |n AS (SELECT COUNT(*) AS n FROM embeddings),
         |s AS (SELECT i, CAST(SUM(qv) AS BIGINT) AS si FROM q GROUP BY 1),
         |p AS (SELECT component, dim, p_q FROM ${graft.OracleStage.pq("pca_proj")}),
         |const_c AS (SELECT component, CAST(SUM(p_q * si) AS BIGINT) AS pc_dot_s
         |            FROM p JOIN s ON s.i = p.dim GROUP BY 1),
         |raw AS (SELECT q.vec_id, q.label, p.component,
         |               CAST(SUM(qv * p_q) AS BIGINT) AS pc_dot_q
         |        FROM q JOIN p ON p.dim = q.i GROUP BY 1, 2, 3),
         |y AS (SELECT vec_id, label, component,
         |             n.n * pc_dot_q - pc_dot_s AS y
         |      FROM raw JOIN const_c USING (component) CROSS JOIN n)
         |SELECT vec_id, label,
         |       MAX(CASE WHEN component = 0 THEN y END) AS y0,
         |       MAX(CASE WHEN component = 1 THEN y END) AS y1
         |FROM y GROUP BY 1, 2
         |ORDER BY vec_id""".stripMargin) { (spark, d) =>
      val e = Tables.embeddings(spark, d)
      // (r17: a 32-wide fan-out before the Gramian explode improved wall
      // 2.85 → 1.81 s but multiplied process-CPU ~6x — rejected. r18
      // root-caused the inflation as width-proportional (see Fanout);
      // min(4, parallelism) keeps the wall win inside the CPU gate.)
      val q = Fanout(e.select(col("vec_id"), col("label"), qCol.as("q")))

      // corpus passes 1+2: Gramian upper triangle + column sums — both
      // map-side-combinable, output d(d+1)/2 + d rows regardless of corpus
      val gram = q.select(explode(expr(
          s"""flatten(transform(sequence(0, ${Dim - 1}), i ->
             |  transform(sequence(i, ${Dim - 1}), j ->
             |    struct(i AS i, j AS j, element_at(q, i+1) * element_at(q, j+1) AS p))))"""
            .stripMargin)).as("c"))
        .groupBy(col("c.i"), col("c.j")).agg(sum(col("c.p")).as("g"))
        .collect() // d(d+1)/2 = 2 080 rows — bounded, corpus-independent
      val sums = q.select(posexplode(col("q")).as(Seq("i", "qv")))
        .groupBy("i").agg(sum("qv").as("s"))
        .collect() // d rows
      val n = e.count()

      // driver: assemble covariance from (G, s, n), eigendecompose
      val g = Array.ofDim[Double](Dim, Dim)
      gram.foreach { r =>
        val (i, j, x) = (r.getInt(0), r.getInt(1), r.getLong(2).toDouble)
        g(i)(j) = x; g(j)(i) = x
      }
      val sArr = Array.ofDim[Long](Dim)
      sums.foreach(r => sArr(r.getInt(0)) = r.getLong(1))
      val nd = n.toDouble
      val cov = Array.tabulate(Dim, Dim)((i, j) =>
        g(i)(j) / nd - (sArr(i) / nd) * (sArr(j) / nd))
      val (_, vecs) = jacobiEigen(cov)
      val pQ = (0 until Components).flatMap { c =>
        (0 until Dim).map(i =>
          (c, i + 1, math.floor(vecs(c)(i) * PScale + 0.5).toLong))
      }

      // stage the quantized projection so the oracle recomputes the whole
      // distributed surface from it (OracleStage is a no-op in bench mode)
      import spark.implicits._
      val p = graft.OracleStage.stage("pca_proj",
        pQ.toDF("component", "dim", "p_q"))

      // corpus pass 3: map-only projection, broadcast P; integral centered
      // projection y' = n*<p_c, q> - <p_c, s> (x n*2^20*1024 fixed point)
      val constC = p.as("p")
        .join(broadcast(sums.map(r => (r.getInt(0) + 1, r.getLong(1))).toSeq
          .toDF("dim", "si")), "dim")
        .groupBy("component").agg(sum(expr("p_q * si")).as("pc_dot_s"))
      q.select(col("vec_id"), col("label"), posexplode(col("q")).as(Seq("i0", "qv")))
        .withColumn("dim", col("i0") + 1)
        .join(broadcast(p), "dim")
        .groupBy("vec_id", "label", "component")
        .agg(sum(expr("qv * p_q")).as("pc_dot_q"))
        .join(broadcast(constC), "component")
        .select(col("vec_id"), col("label"),
          col("component"), (lit(n) * col("pc_dot_q") - col("pc_dot_s")).as("y"))
        .groupBy("vec_id", "label")
        .agg(
          max(when(col("component") === 0, col("y"))).as("y0"),
          max(when(col("component") === 1, col("y"))).as("y1"))
        .orderBy("vec_id")
    })
}
