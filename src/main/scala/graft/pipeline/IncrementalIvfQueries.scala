package graft.pipeline

import graft.QueryDef
import graft.analytics.Tables
import graft.operators.Checkpoints.StableOps
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.VectorExpressions.centroidSquaredL2

/** INCREMENTAL vector-index maintenance — the missing half of the ANN
  * story: at 100 TB the IVF index is NOT retrained per ingest. Coarse
  * centroids are trained once on a snapshot; every later arrival is
  * assigned to its nearest EXISTING list in one broadcast argmin pass
  * (FAISS `IndexIVF.add` semantics: add never moves centroids), and
  * queries search the merged lists immediately.
  *
  * Gate shape: the OLD snapshot is the first half of the embeddings
  * (vec_id < ⌊n/2⌋); the integer-Lloyd centroids
  * ([[SimilarityQueries.lloydCentroids]], the q_kmeans_assign rounds)
  * are trained on it ALONE. The NEW half is assigned against those
  * frozen centroids — for old vectors the same argmin reproduces the
  * build-time index, so one assignment pass expresses both build and
  * ingest. A query (vec 42) probes its nprobe=2 nearest lists and
  * re-ranks the candidates by exact integer squared-L2, top-10, with
  * `is_new` marking rows that entered the index incrementally — the
  * gate proves fresh arrivals are immediately searchable.
  *
  * Everything is BIGINT arithmetic in the ×10⁴(+shift) domain, so the
  * whole pipeline — training on the old half, frozen-centroid
  * assignment, probe choice, candidate re-rank — hash-gates with
  * NOTHING staged; the DuckDB oracle re-derives all of it from raw
  * embeddings. IncrementalIvfSpec measures the honesty axis: recall of
  * the incremental index vs (a) exact brute-force top-10 and (b) a
  * FULL RETRAIN on old+new — the drift cost of not retraining is
  * reported, not hidden.
  *
  * Scale shape: the frozen centroids are one k×64 row — broadcast;
  * assignment is one narrow per-row pass per ingest batch (the
  * [[org.apache.spark.sql.graft.CentroidSquaredL2]] kernel + argmin,
  * never touching the existing index); the probed search joins the
  * bounded probe list before any scoring (same prune as q_ann_ivf_topk)
  * and re-ranks with the same kernel against the broadcast query vector.
  * No corpus-wide exchange: the top-10 is a TakeOrdered.
  */
object IncrementalIvfQueries {

  private val K = 8
  private val NProbe = 2
  private val TopK = 10
  private val QueryVec = 42L

  private def oracleSql: String =
    s"""WITH cnt AS (SELECT COUNT(*) // 2 AS half FROM embeddings),
       |comp AS (SELECT vec_id, unnest(generate_series(1, len(embedding))) AS i,
       |                embedding FROM embeddings),
       |q AS (SELECT vec_id, i,
       |             CAST(ROUND(CAST(embedding[i] AS DOUBLE) * 10000) AS BIGINT)
       |               + 10000 AS v
       |      FROM comp),
       |qold AS (SELECT q.* FROM q, cnt WHERE q.vec_id < cnt.half),
       |c0 AS (SELECT CAST(vec_id AS INT) AS cluster, i, v * 100 AS c
       |       FROM qold WHERE vec_id < $K),
       |d1 AS (SELECT qold.vec_id, c0.cluster,
       |              SUM((qold.v*100 - c0.c) * (qold.v*100 - c0.c)) AS dist
       |       FROM qold JOIN c0 USING (i) GROUP BY 1, 2),
       |a1 AS (SELECT vec_id, cluster FROM (
       |         SELECT vec_id, cluster,
       |                ROW_NUMBER() OVER (PARTITION BY vec_id
       |                                   ORDER BY dist, cluster) AS rn
       |         FROM d1) WHERE rn = 1),
       |c1 AS (SELECT a1.cluster, qold.i, (SUM(qold.v) * 100) // COUNT(*) AS c
       |       FROM qold JOIN a1 USING (vec_id) GROUP BY 1, 2),
       |dall AS (SELECT q.vec_id, c1.cluster,
       |                SUM((q.v*100 - c1.c) * (q.v*100 - c1.c)) AS dist
       |         FROM q JOIN c1 USING (i) GROUP BY 1, 2),
       |asg AS (SELECT vec_id, cluster FROM (
       |          SELECT vec_id, cluster,
       |                 ROW_NUMBER() OVER (PARTITION BY vec_id
       |                                    ORDER BY dist, cluster) AS rn
       |          FROM dall) WHERE rn = 1),
       |prb AS (SELECT cluster FROM (
       |          SELECT cluster, ROW_NUMBER() OVER (ORDER BY dist, cluster) AS rn
       |          FROM dall WHERE vec_id = $QueryVec) WHERE rn <= $NProbe),
       |cand AS (SELECT asg.vec_id FROM asg JOIN prb USING (cluster)
       |         WHERE asg.vec_id <> $QueryVec),
       |qq AS (SELECT i, v FROM q WHERE vec_id = $QueryVec),
       |rr AS (SELECT q.vec_id,
       |              CAST(SUM((q.v - qq.v) * (q.v - qq.v)) AS BIGINT) AS dist
       |       FROM q JOIN cand USING (vec_id) JOIN qq USING (i) GROUP BY 1)
       |SELECT rr.vec_id, rr.vec_id >= cnt.half AS is_new, rr.dist
       |FROM rr, cnt ORDER BY dist, vec_id LIMIT $TopK""".stripMargin

  val defs: Seq[QueryDef] = Seq(

    // ----- Incremental IVF: frozen centroids, fresh arrivals searchable -
    QueryDef("q_ann_ivf_incremental", oracleSql) { (s, d) =>
      val e = Tables.embeddings(s, d)
      val half = e.count() / 2
      val q = SimilarityQueries.quantizedVectors(e)
      // centroids trained on the OLD snapshot only, frozen thereafter
      val c1 = SimilarityQueries.lloydCentroids(
        q.filter(col("vec_id") < half), K)
        .stableCheckpoint() // one k×64 row; train once for both consumers
      // ONE assignment law serves build AND ingest: every vector (old at
      // build time, new on arrival) takes its nearest frozen list
      val dall = SimilarityQueries.centroidDistances(q, c1)
      val probed = dall.filter(col("vec_id") === QueryVec)
        .select(explode(slice(sort_array(col("dc")), 1, NProbe)).as("m"))
        .select(col("m.cluster").as("cluster"))
      val qq = q.filter(col("vec_id") === QueryVec).select(array(col("qv")).as("qq"))
      dall.select(col("vec_id"), col("qv"), array_min(col("dc"))("cluster").as("cluster"))
        .join(broadcast(probed), "cluster")
        .filter(col("vec_id") =!= QueryVec)
        .crossJoin(broadcast(qq))
        .select(col("vec_id"), (col("vec_id") >= half).as("is_new"),
          element_at(centroidSquaredL2(col("qv"), col("qq"), vecScale = 1L), 1).as("dist"))
        .orderBy("dist", "vec_id")
        .limit(TopK)
    })
}
