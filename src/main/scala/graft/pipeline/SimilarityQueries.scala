package graft.pipeline

import graft.QueryDef
import graft.analytics.Tables
import graft.functions.VectorFunctions._
import graft.operators.Checkpoints.StableOps
import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.VectorExpressions.{centroidSquaredL2, quantize}

/** Approximate-nearest-neighbor search over the `embeddings` table
  * (`array<float>`, 64-dim, 10 cluster labels).
  *
  *  - `q_cosine_brute` / `q_ann_cosine_topk`: exact brute-force cosine — the
  *    correctness baseline. The query vector is broadcast (a one-row cross
  *    join), scoring is a map-only codegen'd expression, top-k plans as
  *    TakeOrderedAndProject — so even "brute force" is one pass, no shuffle.
  *  - `q_ann_ivf_topk`: the scale path — IVF with the label column as the
  *    partition assignment: score 10 centroids, probe the best 2 partitions,
  *    search only those. At 100 TB the probe prunes ~80 % of the corpus
  *    before any row is scored; centroids are a broadcast-size side table.
  */
object SimilarityQueries {

  /** DuckDB oracle expression for cosine between `embedding` and a query
    * vector column `q`, computed float→double elementwise, sequential sum —
    * mirrors VectorFunctions.cosine bit-for-bit (then rounded to 9 dp to
    * absorb any summation-order ulp).
    */
  private[pipeline] def cosSql(a: String, b: String) =
    s"""(list_sum(list_transform(generate_series(1, len($a)), i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)))
       | / (sqrt(list_sum(list_transform(generate_series(1, len($a)), i -> CAST($a[i] AS DOUBLE) * CAST($a[i] AS DOUBLE))))
       |   * sqrt(list_sum(list_transform(generate_series(1, len($b)), i -> CAST($b[i] AS DOUBLE) * CAST($b[i] AS DOUBLE))))))""".stripMargin.replace("\n", " ")

  /** 16-bit random-hyperplane signature: bit j = sign of ⟨v, r_j⟩ with
    * fixed seeded gaussian hyperplanes (64-dim). Each projection is one
    * codegen'd FloatVectorDot against a literal vector.
    */
  private val hyperplanes: Array[Array[Float]] = {
    val r = new scala.util.Random(31337)
    // first 32 rows are identical to the prior 32-plane pool (row-major
    // fill), so extending the pool changed neither rpSignature's 16-plane
    // buckets nor the 10×3-band gate corpora's 30 consumed planes;
    // 256 rows accommodate adaptive banding (bands×bits ≤ 256) at scale
    Array.fill(256, 64)(r.nextGaussian().toFloat)
  }

  /** Test access to the shared plane pool (bit-identity specs). */
  private[graft] def hyperplanesForTest(i: Int): Array[Float] = hyperplanes(i)

  /** Population-bounded LSH banding parameters for an all-pairs corpus of
    * `n` vectors: (bits per band, band count).
    *
    * Fixed 3-bit bands keep only 8 buckets per band at ANY corpus size, so
    * bucket population grows like n/8 and pair generation like n²/128 per
    * band — the ×10 scale probe measured exactly that (284 s, 72× the
    * sf0.1 time, with the skew guard silent because uniformly-overfull
    * buckets are not skewed). Growing bits with log2(n/128) pins the
    * expected bucket population near 128, making candidate volume
    * O(bands · n · 128) — linear in n with a slowly-growing band factor.
    * Bits are clamped to 16: past ~8M vectors the population bound loosens
    * again rather than crossing rpBandKeys' 32-bit key-packing limit.
    *
    * Recall honesty: per-band collision probability decays GEOMETRICALLY
    * in bits (p^bits), so holding a fixed recall at a fixed threshold τ
    * would need bands ∝ (1/p)^bits — exponential, which no linear band
    * schedule supplies. The +4-bands-per-bit default keeps ≥90% recall for
    * the high-similarity regimes real dedup targets (τ ≥ 0.8: p ≈ 0.795,
    * p⁸ ≈ 0.16, 14 bands ≥ 90%) and accepts decaying recall for
    * low-threshold sweeps (τ = 0.42 at n = 20k measures ≈59% vs the 3-bit
    * superset — see BASELINE.md's probe table). Callers needing a specific
    * (τ, recall) point must size bands from the 1-(1-p^bits)^bands curve
    * and pass them to [[rpBandKeys]] explicitly.
    *
    * n ≤ 1024 reduces to the original (3, 10) — the oracle corpora and the
    * recall spec see bit-identical candidates.
    */
  def adaptiveBanding(n: Long): (Int, Int) = {
    val bits = math.min(16, math.max(3,
      math.ceil(math.log(math.max(n, 1L) / 128.0) / math.log(2.0)).toInt))
    val bands = math.min(10 + 4 * (bits - 3), hyperplanes.length / bits)
    (bits, bands)
  }

  def rpSignature(v: Column): Column =
    (0 until 16).map { j =>
      val proj = dot(v, org.apache.spark.sql.graft.VectorExpressions.litFloatArray(hyperplanes(j)))
      when(proj > 0, lit(1 << j)).otherwise(lit(0)): Column
    }.reduce(_ bitwiseOR _)

  /** LSH band keys straight from sign projections: band b packs
    * `rowsPerBand` sign bits of consecutive hyperplanes, returned as
    * `array<int>` INDEXED BY BAND ID — consume with
    * `posexplode(...).as(Seq("band_id", "band_key"))`. Finer bands (fewer
    * bits) raise recall at lower similarity thresholds; the classic
    * (bands, rows) recall curve is 1-(1-p^r)^b with p = 1 - θ/π.
    *
    * One native [[org.apache.spark.sql.graft.RpBandKeys]] expression, not
    * bands×bits composed dot columns: adaptive banding made the plane count
    * grow with the corpus, and at ×10 scale the composed form's generated
    * code crossed janino's 64 KB method limit — silently demoting the
    * banding map stage to interpreted execution exactly where it is hot.
    * The native expression's generated loop is constant-size at any
    * (bands, bits) and bit-identical in arithmetic (sequential
    * float→double dot, strict `> 0` sign).
    */
  def rpBandKeys(v: Column, bands: Int, rowsPerBand: Int): Column = {
    require(bands * rowsPerBand <= hyperplanes.length && rowsPerBand < 32,
      s"rpBandKeys($bands,$rowsPerBand): need bands*rowsPerBand <= ${hyperplanes.length} and rowsPerBand < 32 (1<<j packing)")
    org.apache.spark.sql.graft.VectorExpressions.rpBandKeys(
      v, hyperplanes, bands, rowsPerBand)
  }

  /** Exact all-pairs embedding near-dup BASELINE — deliberately guarded.
    *
    * The plan broadcasts the FULL corpus and scores O(n²) pairs, once: the
    * τ-bounded survivors cross one single-partition exchange and sort there
    * (a range exchange would sample, and so re-run, the nested-loop join).
    * Correct and fast at verification scale, an OOM + quadratic wall at
    * production scale.
    * The guard refuses corpora beyond `maxCorpus` rows (a cheap parquet
    * metadata count) so the baseline cannot be lifted into a 100 TB pipeline
    * unnoticed — `q_dedup_embedding_lsh` is the scale path.
    */
  // The guard counts on EVERY call, deliberately unmemoized: a cached n keyed
  // by plan shape goes stale when the underlying files grow within the JVM,
  // and LocalRelation canonicalization omits row data, so two same-schema
  // corpora would share a key — an oversized corpus could slip past the O(n²)
  // fence. For parquet the count is metadata-only; that price buys a fence
  // that cannot be wrong.
  def exactNearDupPairs(e: org.apache.spark.sql.DataFrame, minCos: Double,
      maxCorpus: Long = 100000L): org.apache.spark.sql.DataFrame = {
    val n = e.count()
    require(n <= maxCorpus,
      s"exact embedding near-dup baseline refused: corpus has $n rows > $maxCorpus. " +
        "This plan broadcasts the full corpus and compares O(n^2) pairs — " +
        "use the RP-LSH banded variant (q_dedup_embedding_lsh) at scale.")
    // r17: probe side fanned out — single-row-group scan otherwise runs
    // all n²/2 dot products on one core behind the broadcast join
    // (measured: q_dedup_embedding 1.84 → 0.51 s)
    val a = e.repartition(e.sparkSession.sparkContext.defaultParallelism)
      .select(col("vec_id").as("vec_a"), col("embedding").as("ea"),
        norm(col("embedding")).as("na"))
    val b = e.select(col("vec_id").as("vec_b"), col("embedding").as("eb"),
      norm(col("embedding")).as("nb"))
    a.crossJoin(broadcast(b))
      .filter(col("vec_a") < col("vec_b"))
      .withColumn("cos", dot(col("ea"), col("eb")) / (col("na") * col("nb")))
      // membership decided on the ROUNDED value in both engines — raw
      // doubles an ulp from τ must not flip the set under the hash gate
      .filter(round(col("cos"), 9) >= minCos)
      .select(col("vec_a"), col("vec_b"), round(col("cos"), 9).as("cosine"))
      // The surviving pairs are few (τ bounds them), the n²/2 dot products
      // that find them are not. A global orderBy would put a range exchange
      // straight on the nested-loop join, and its partitioner SAMPLES its
      // input: a job running every dot product before the shuffle runs
      // them again. One single-partition exchange evaluates the join once
      // and the bounded pair set sorts in that partition; rows and order
      // are those of orderBy(vec_a, vec_b).
      .repartition(1)
      .sortWithinPartitions("vec_a", "vec_b")
  }

  /** RP-LSH banded near-dup pairs at threshold `minCos`: adaptive banding
    * (parquet-metadata count sizes bits/bands to the corpus; ≤1024 vectors →
    * the original 10×3, unchanged gate) → skew-guarded bucket pairs → exact
    * cosine re-score. Candidates are generated and deduplicated as BARE ID
    * PAIRS — the 64-float vectors rejoin only for the re-score, so the band
    * self-join and the distinct never shuffle or hash embedding arrays. No
    * broadcast hint on the re-score joins: the vector table is corpus-sized,
    * so AQE must be free to pick a shuffle join at scale (it still
    * broadcasts when small). `stage` materializes the candidate set for the
    * DuckDB oracle (Verify mode only).
    */
  def embeddingNearDupPairsLsh(e: org.apache.spark.sql.DataFrame, minCos: Double,
      stage: Option[String] = None): org.apache.spark.sql.DataFrame = {
    val (bits, bands) = adaptiveBanding(e.count())
    val banded = e
      .select(col("vec_id"),
        posexplode(rpBandKeys(col("embedding"), bands = bands, rowsPerBand = bits))
          .as(Seq("band_id", "band_key")))
    // skew guard: hot band buckets (near-identical / zero vectors) degrade
    // to a linear star instead of B² pairs; see LshBlocking
    val rawCands = LshBlocking.boundedBucketPairs(banded, Seq("band_id", "band_key"), "vec_id")
      .select(col("id_a").as("vec_a"), col("id_b").as("vec_b"))
    val cands = stage.map(graft.OracleStage.stage(_, rawCands)).getOrElse(rawCands)
    val vecs = e.select(col("vec_id"), col("embedding"), norm(col("embedding")).as("nrm"))
    cands
      .join(vecs.select(col("vec_id").as("vec_a"),
        col("embedding").as("ea"), col("nrm").as("na")), "vec_a")
      .join(vecs.select(col("vec_id").as("vec_b"),
        col("embedding").as("eb"), col("nrm").as("nb")), "vec_b")
      .withColumn("cos", dot(col("ea"), col("eb")) / (col("na") * col("nb")))
      .filter(round(col("cos"), 9) >= minCos)
      .select(col("vec_a"), col("vec_b"), round(col("cos"), 9).as("cosine"))
      .orderBy("vec_a", "vec_b")
  }

  /** Integer-exact Lloyd k-means over the embeddings (k=8, two assignment
    * rounds, centroids initialized from vec_id 0..k-1) — the clustering
    * stage of SemDeDup (Abbas et al. 2023): cluster first, then dedup only
    * WITHIN clusters, so the pair join is bounded by cluster populations
    * instead of n².
    *
    * Float k-means cannot be hash-gated across engines (centroid means are
    * cross-row float sums, whose value depends on summation order), so
    * every quantity here is an INTEGER:
    *  - components quantize once to `v = ROUND(vf·10⁴) + 10⁴` (the +10⁴
    *    shift makes every value positive — truncating integer division
    *    then equals floor in BOTH engines; a uniform shift changes no L2
    *    distance and no argmin);
    *  - centroids live at ×100 that scale: init `c = v·100`, update
    *    `c = (Σv·100) DIV n` — exact integer floor-mean;
    *  - distances are Σ(v·100 − c)² ≤ 64·(2.6·10⁶)² ≈ 4·10¹⁴, safely in
    *    BIGINT; argmin breaks ties to the lower cluster id, as
    *    min(struct(dist, cluster)) does.
    *
    * Scale shape: each vector stays ONE row `(vec_id, qv: array<bigint>)`
    * (the [[org.apache.spark.sql.graft.QuantizeVector]] kernel). The
    * current centroids are one row — an array of the non-empty clusters'
    * k×dim values, broadcast — and an assignment pass is a narrow map: the
    * [[org.apache.spark.sql.graft.CentroidSquaredL2]] kernel scores the
    * row against every centroid and `array_min` takes the argmin. No
    * component is exploded or joined to a centroid, so a pass is n rows
    * through one map, not n·dim·k join rows into a per-vector aggregate.
    * The update is the one aggregate: the assigned rows explode into the
    * `groupBy(cluster, i)` floor-mean, k×dim cells, nested back into the
    * next one-row centroid array. Iteration count is fixed (2) — at 100 TB
    * each extra Lloyd round is one more linear pass, chosen by the
    * pipeline owner, not the engine.
    */
  private val CentroidScale = 100L

  /** The corpus as ×10⁴(+10⁴) quantized vectors, one row each: (vec_id,
    * qv: array<bigint>). A NULL or empty vector has no component to
    * cluster and takes no part.
    */
  private[pipeline] def quantizedVectors(
      e: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    e.filter(size(col("embedding")) > 0)
      .select(col("vec_id"), quantize(col("embedding")).as("qv"))

  /** (cluster, i, c) centroid cells → the ONE-row broadcast side of an
    * assignment pass: `cent: array<struct<cluster: int, c: array<bigint>>>`,
    * clusters ascending, each `c` indexed by component (a cluster's cells
    * cover components 0..d-1 of its longest member, so position = i). Only
    * clusters that have cells appear — an emptied cluster is no centroid.
    */
  private[pipeline] def centroidArray(
      cells: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    cells.agg(sort_array(collect_list(struct(col("cluster"), col("i"), col("c")))).as("cells"))
      .select(transform(array_distinct(col("cells.cluster")), cl =>
        struct(cl.as("cluster"),
          filter(col("cells"), x => x("cluster") === cl)("c").as("c"))).as("cent"))

  /** Every vector of `q` scored against every centroid of the one-row
    * `cent` frame: (vec_id, qv, dc), `dc` one struct(dist, cluster) per
    * centroid — `array_min(dc)` is the assignment, `sort_array(dc)` the
    * probe order.
    */
  private[pipeline] def centroidDistances(q: org.apache.spark.sql.DataFrame,
      cent: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    q.crossJoin(broadcast(cent))
      .select(col("vec_id"), col("qv"),
        zip_with(centroidSquaredL2(col("qv"), col("cent.c"), CentroidScale), col("cent"),
          (d, c) => struct(d.as("dist"), c("cluster").as("cluster"))).as("dc"))

  /** The round-2 Lloyd centroids (one-row `cent` frame, ×100 scale) trained
    * on `q` alone — exposed so an INCREMENTAL index can assign new vectors
    * against centroids trained on an older snapshot (q_ann_ivf_incremental).
    */
  private[pipeline] def lloydCentroids(q: org.apache.spark.sql.DataFrame,
      k: Int): org.apache.spark.sql.DataFrame = {
    val c0 = centroidArray(q.filter(col("vec_id") < k)
      .select(col("vec_id").cast("int").as("cluster"), posexplode(col("qv")).as(Seq("i", "v")))
      .select(col("cluster"), col("i"), (col("v") * CentroidScale).as("c")))
    centroidArray(centroidDistances(q, c0)
      .select(array_min(col("dc"))("cluster").as("cluster"),
        posexplode(col("qv")).as(Seq("i", "v")))
      .groupBy("cluster", "i")
      .agg(expr(s"(SUM(v) * $CentroidScale) DIV COUNT(1)").as("c")))
  }

  /** The final Lloyd round's scores (vec_id, qv, dc) — the shared input of
    * the primary assignment ([[kmeansAssignments]], its argmin) and the IVF
    * multi-probe assignment (its top-nprobe ranks).
    */
  private[pipeline] def kmeansDistances(e: org.apache.spark.sql.DataFrame,
      k: Int): org.apache.spark.sql.DataFrame = {
    val q = quantizedVectors(e)
    centroidDistances(q, lloydCentroids(q, k))
  }

  /** (vec_id, cluster, dist): every vector's nearest round-2 centroid. */
  private[pipeline] def kmeansAssignments(e: org.apache.spark.sql.DataFrame,
      k: Int): org.apache.spark.sql.DataFrame =
    kmeansDistances(e, k)
      .select(col("vec_id"), array_min(col("dc")).as("m"))
      .select(col("vec_id"), col("m.cluster").as("cluster"), col("m.dist").as("dist"))

  /** Shared DuckDB CTE chain mirroring [[kmeansAssignments]] (k=8): ends in
    * `a2(vec_id, cluster, dist)`. SUM over BIGINT is HUGEINT in DuckDB, so
    * the final dist casts back to BIGINT for schema parity.
    */
  private[pipeline] val kmeansCtes =
    """comp AS (SELECT vec_id, unnest(generate_series(1, len(embedding))) AS i,
      |                embedding FROM embeddings),
      |q AS (SELECT vec_id, i,
      |             CAST(ROUND(CAST(embedding[i] AS DOUBLE) * 10000) AS BIGINT)
      |               + 10000 AS v
      |      FROM comp),
      |c0 AS (SELECT CAST(vec_id AS INT) AS cluster, i, v * 100 AS c
      |       FROM q WHERE vec_id < 8),
      |d1 AS (SELECT q.vec_id, c0.cluster,
      |              SUM((q.v*100 - c0.c) * (q.v*100 - c0.c)) AS dist
      |       FROM q JOIN c0 USING (i) GROUP BY 1, 2),
      |a1 AS (SELECT vec_id, cluster FROM (
      |         SELECT vec_id, cluster,
      |                ROW_NUMBER() OVER (PARTITION BY vec_id
      |                                   ORDER BY dist, cluster) AS rn
      |         FROM d1) WHERE rn = 1),
      |c1 AS (SELECT a1.cluster, q.i, (SUM(q.v) * 100) // COUNT(*) AS c
      |       FROM q JOIN a1 USING (vec_id) GROUP BY 1, 2),
      |d2 AS (SELECT q.vec_id, c1.cluster,
      |              SUM((q.v*100 - c1.c) * (q.v*100 - c1.c)) AS dist
      |       FROM q JOIN c1 USING (i) GROUP BY 1, 2),
      |a2 AS (SELECT vec_id, cluster, CAST(dist AS BIGINT) AS dist FROM (
      |         SELECT vec_id, cluster, dist,
      |                ROW_NUMBER() OVER (PARTITION BY vec_id
      |                                   ORDER BY dist, cluster) AS rn
      |         FROM d2) WHERE rn = 1)""".stripMargin

  /** Shared DuckDB CTE chain for the PQ index build + query table (the
    * q_ann_pq_adc pipeline up to, but not including, the ADC scan): the
    * ×10000-quantized components, a 2-pass integer Lloyd PER SUBSPACE
    * (m=4 subspaces × 16 centroids), the resulting `codes`, the query
    * vector `qt` (vec 42) and its m×16 ADC distance table `dt`. Both PQ
    * faces (flat scan and IVF-pruned scan) replay this identically.
    */
  private[pipeline] val pqCtes =
    """comp AS (SELECT vec_id, unnest(generate_series(1, len(embedding))) AS i,
      |                     embedding FROM embeddings),
      |q AS (SELECT vec_id, i, (i-1) // 16 AS sub,
      |             CAST(ROUND(CAST(embedding[i] AS DOUBLE) * 10000) AS BIGINT)
      |               + 10000 AS v
      |      FROM comp),
      |c0 AS (SELECT CAST(vec_id AS INT) AS cluster, sub, i, v * 100 AS c
      |       FROM q WHERE vec_id < 16),
      |d1 AS (SELECT q.vec_id, q.sub, c0.cluster,
      |              SUM((q.v*100 - c0.c) * (q.v*100 - c0.c)) AS dist
      |       FROM q JOIN c0 ON q.sub = c0.sub AND q.i = c0.i
      |       GROUP BY 1, 2, 3),
      |a1 AS (SELECT vec_id, sub, cluster FROM (
      |         SELECT vec_id, sub, cluster,
      |                ROW_NUMBER() OVER (PARTITION BY vec_id, sub
      |                                   ORDER BY dist, cluster) AS rn
      |         FROM d1) WHERE rn = 1),
      |c1 AS (SELECT a1.cluster, q.sub, q.i, (SUM(q.v) * 100) // COUNT(*) AS c
      |       FROM q JOIN a1 ON q.vec_id = a1.vec_id AND q.sub = a1.sub
      |       GROUP BY 1, 2, 3),
      |d2 AS (SELECT q.vec_id, q.sub, c1.cluster,
      |              SUM((q.v*100 - c1.c) * (q.v*100 - c1.c)) AS dist
      |       FROM q JOIN c1 ON q.sub = c1.sub AND q.i = c1.i
      |       GROUP BY 1, 2, 3),
      |codes AS (SELECT vec_id, sub, cluster FROM (
      |            SELECT vec_id, sub, cluster,
      |                   ROW_NUMBER() OVER (PARTITION BY vec_id, sub
      |                                      ORDER BY dist, cluster) AS rn
      |            FROM d2) WHERE rn = 1),
      |qt AS (SELECT sub, i, v FROM q WHERE vec_id = 42),
      |dt AS (SELECT c1.sub, c1.cluster,
      |              SUM((qt.v*100 - c1.c) * (qt.v*100 - c1.c)) AS d
      |       FROM qt JOIN c1 ON qt.sub = c1.sub AND qt.i = c1.i
      |       GROUP BY 1, 2)""".stripMargin

  /** Quantized integer components of the corpus: one row per (vec_id,
    * dimension) with `v = round(x·10⁴)+10⁴` and the m=4 subspace id —
    * the shared integer domain of both PQ faces and the IVF coarse stage.
    */
  private[pipeline] def quantizedComponents(
      e: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    // (r17: a 32-wide probe-side fan-out before the explode was REJECTED —
    // process-CPU medians blew up 5-7x on every PQ face (q_ann_ivfpq_batch
    // 8.6 → 61.6 CPU-s). r18 root-caused the mechanism on the shingle
    // twin (bench/r18_cpu_probe.json): the inflation is per-task overhead
    // of every downstream consumer stage running `width` partitions of the
    // exploded stream, plus concurrency stalls billed as busy CPU — so the
    // knob is WIDTH, not on/off. r18 idle A/B over the 8 PQ/Lloyd faces:
    // width 1 = 17.7 s wall / 40 CPU-s, width 4 = 15.0 / 48 (every query
    // ≤1.5x CPU — inside the mover gate), width 8 = 14.3 / 62 (serve_batch
    // 2.17x CPU — gate fail). min(4, parallelism) kept.)
    Fanout(e)
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("i", "vf")))
      .select(col("vec_id"), col("i"), expr("i DIV 16").as("sub"),
        (round(col("vf").cast("double") * 10000, 0).cast("long") + 10000L).as("v"))
  }

  /** PQ index build over quantized components: 2-pass integer Lloyd per
    * subspace seeded from vec_ids 0..15 → (codebook `c1` of m×16 centroid
    * rows — always broadcast-size — and per-vector `codes`, one (vec_id,
    * sub, cluster) row per subspace). Mirrors [[pqCtes]] bit-for-bit.
    */
  private[pipeline] def pqTrain(comp: org.apache.spark.sql.DataFrame)
      : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    val c0 = comp.filter(col("vec_id") < 16)
      .select(col("vec_id").cast("int").as("cluster"), col("sub"), col("i"),
        (col("v") * 100L).as("c"))
    def assign(cent: org.apache.spark.sql.DataFrame) = {
      val diff = col("v") * 100L - col("c")
      comp.join(broadcast(cent), Seq("sub", "i"))
        .groupBy("vec_id", "sub", "cluster")
        .agg(sum(diff * diff).as("dist"))
        .groupBy("vec_id", "sub")
        .agg(min(struct(col("dist"), col("cluster"))).as("m"))
        .select(col("vec_id"), col("sub"), col("m.cluster").as("cluster"))
    }
    val a1 = assign(c0)
    val c1 = comp.join(a1, Seq("vec_id", "sub"))
      .groupBy("cluster", "sub", "i")
      .agg(expr("(SUM(v) * 100) DIV COUNT(1)").as("c"))
    (c1, assign(c1))
  }

  /** Hard-negative mining at cluster count `k` — the body of
    * q_hard_negatives with the blocking granularity exposed. The gate pins
    * k=8 so the DuckDB oracle can replay the clustering; the PRODUCTION
    * contract is k ∝ n (candidate volume is Σ|c|², so fixed k turns the
    * linear axis quadratic as the corpus grows — the `cluster_k` probe face
    * measures exactly that trade at ×10, where k 8→64 collapses the
    * blow-up while mining from the same clustered structure).
    */
  private[graft] def hardNegatives(e: org.apache.spark.sql.DataFrame,
      k: Int): org.apache.spark.sql.DataFrame = {
    val asg = kmeansAssignments(e, k).select("vec_id", "cluster")
    val vecs = e.select(col("vec_id"), col("embedding"),
      norm(col("embedding")).as("nrm"))
    val withVec = asg.join(vecs, "vec_id")
    val pairs = withVec
      .select(col("cluster"), col("vec_id").as("anchor"),
        col("embedding").as("ea"), col("nrm").as("na"))
      .join(withVec.select(col("cluster"), col("vec_id").as("neg"),
        col("embedding").as("eb"), col("nrm").as("nb")), Seq("cluster"))
      .filter(col("anchor") =!= col("neg"))
      .withColumn("cosine", round(dot(col("ea"), col("eb")) / (col("na") * col("nb")), 9))
      .filter(col("cosine") >= 0.30 && col("cosine") < 0.42)
      .select("anchor", "neg", "cosine")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("anchor").orderBy(col("cosine").desc, col("neg"))
    pairs.withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= 2)
      .select("anchor", "rk", "neg", "cosine")
      .orderBy("anchor", "rk")
  }

  /** Hard-negative candidate pairs (band-filtered, pre-rank) mined with
    * IVF MULTI-PROBE blocking: every vector is INDEXED in its primary
    * (nearest-centroid) list only, and each ANCHOR probes its `nprobe`
    * nearest lists — the standard IVF search asymmetry. nprobe = 1 is
    * exactly the pinned-cluster face's candidate set; nprobe = 2 adds the
    * boundary pairs the k ∝ n probe measured at 0.07% (an anchor sitting
    * near a Voronoi boundary sees the neighboring list too), so the
    * candidate set is a SUPERSET of the pinned face's by construction
    * (SimilaritySpec asserts it, plus the recall ordering against the
    * exact all-pairs band). Candidate volume: Σ over an anchor's probe
    * lists — ≤ nprobe × the pinned volume, same Σ|c|² cost model.
    */
  private[graft] def hardNegativeCandidatesIvf(
      e: org.apache.spark.sql.DataFrame, k: Int,
      nprobe: Int): org.apache.spark.sql.DataFrame = {
    // one distance frame feeds BOTH sides; eager checkpoint so the Lloyd
    // rounds run once, not once per consumer
    val asgP = kmeansDistances(e, k)
      .select(col("vec_id"),
        posexplode(slice(sort_array(col("dc")), 1, nprobe)).as(Seq("p", "m")))
      .select(col("vec_id"), col("m.cluster").as("cluster"), (col("p") + 1).as("prb"))
      .stableCheckpoint()
    val vecs = e.select(col("vec_id"), col("embedding"),
      norm(col("embedding")).as("nrm"))
    val anchors = asgP.join(vecs, "vec_id") // probes all ≤nprobe lists
      .select(col("cluster"), col("vec_id").as("anchor"),
        col("embedding").as("ea"), col("nrm").as("na"))
    val indexed = asgP.filter(col("prb") === 1).join(vecs, "vec_id")
      .select(col("cluster"), col("vec_id").as("neg"),
        col("embedding").as("eb"), col("nrm").as("nb"))
    anchors.join(indexed, Seq("cluster"))
      .filter(col("anchor") =!= col("neg"))
      .withColumn("cosine",
        round(dot(col("ea"), col("eb")) / (col("na") * col("nb")), 9))
      .filter(col("cosine") >= 0.30 && col("cosine") < 0.42)
      .select("anchor", "neg", "cosine")
  }

  /** q_hard_negatives' mining body over the IVF multi-probe candidates:
    * same band, same per-anchor top-2 rank — only the blocking recall
    * differs (see [[hardNegativeCandidatesIvf]]).
    */
  private[graft] def hardNegativesIvf(e: org.apache.spark.sql.DataFrame,
      k: Int, nprobe: Int): org.apache.spark.sql.DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("anchor").orderBy(col("cosine").desc, col("neg"))
    hardNegativeCandidatesIvf(e, k, nprobe)
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= 2)
      .select("anchor", "rk", "neg", "cosine")
      .orderBy("anchor", "rk")
  }

  /** Per-cluster population profile of the k-means blocking at cluster
    * count `k`: (clusters, max population, Σ|c|² candidate pairs) — the
    * cost model behind the k ∝ n contract, shared with the `cluster_k` probe face.
    */
  private[graft] def clusterPairBudget(e: org.apache.spark.sql.DataFrame,
      k: Int): (Long, Long, Long) = {
    val sizes = kmeansAssignments(e, k).groupBy("cluster").count()
    val row = sizes.agg(count(lit(1)), max(col("count")),
      sum(col("count") * col("count"))).collect()(0)
    (row.getLong(0), row.getLong(1), row.getLong(2))
  }

  val defs: Seq[QueryDef] = Seq(

    // ----- k-means clustering (integer-exact Lloyd, SemDeDup stage 1) ----
    QueryDef(
      "q_kmeans_assign",
      s"""WITH $kmeansCtes
         |SELECT vec_id, cluster, dist FROM a2 ORDER BY vec_id""".stripMargin) {
      (s, d) =>
        kmeansAssignments(Tables.embeddings(s, d), k = 8).orderBy("vec_id")
    },

    // ----- SemDeDup: near-dup pairs WITHIN k-means clusters -------------
    // Stage 2 of SemDeDup: the pair join is keyed by the cluster
    // assignment, so candidate volume is Σ_c |c|² instead of n² — the
    // clustering IS the blocking structure (vs. RP-LSH's random
    // hyperplanes in q_dedup_embedding_lsh; both re-score candidates with
    // the exact cosine and decide membership on the ROUNDED value). Like
    // any blocking scheme it trades recall for boundedness: cross-cluster
    // near-dups are invisible by design (SimilaritySpec measures the
    // actual recall against the exact all-pairs baseline).
    QueryDef(
      "q_semdedup_pairs",
      s"""WITH $kmeansCtes
         |SELECT a.cluster, a.vec_id AS vec_a, b.vec_id AS vec_b,
         |       ROUND(${cosSql("ea.embedding", "eb.embedding")}, 9) AS cosine
         |FROM a2 a JOIN a2 b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
         |JOIN embeddings ea ON ea.vec_id = a.vec_id
         |JOIN embeddings eb ON eb.vec_id = b.vec_id
         |WHERE ROUND(${cosSql("ea.embedding", "eb.embedding")}, 9) >= 0.42
         |ORDER BY a.cluster, vec_a, vec_b""".stripMargin) { (s, d) =>
      val e = Tables.embeddings(s, d)
      val asg = kmeansAssignments(e, k = 8).select("vec_id", "cluster")
      val vecs = e.select(col("vec_id"), col("embedding"),
        norm(col("embedding")).as("nrm"))
      val withVec = asg.join(vecs, "vec_id")
      withVec
        .select(col("cluster"), col("vec_id").as("vec_a"),
          col("embedding").as("ea"), col("nrm").as("na"))
        .join(withVec.select(col("cluster"), col("vec_id").as("vec_b"),
          col("embedding").as("eb"), col("nrm").as("nb")), Seq("cluster"))
        .filter(col("vec_a") < col("vec_b"))
        .withColumn("cos", dot(col("ea"), col("eb")) / (col("na") * col("nb")))
        .filter(round(col("cos"), 9) >= 0.42)
        .select(col("cluster"), col("vec_a"), col("vec_b"),
          round(col("cos"), 9).as("cosine"))
        .orderBy("cluster", "vec_a", "vec_b")
    },

    // ----- hard-negative mining for contrastive training ----------------
    // The training-pair op embedding models need next to dedup: for each
    // anchor, the most-similar vectors that are NOT near-duplicates — high
    // enough cosine to be informative (the model currently confuses them),
    // below the dup threshold so they are true negatives. Mining band
    // [0.30, 0.42): the same k-means clusters as SemDeDup serve as the
    // blocking structure (a hard negative is by definition similar, so
    // in-cluster mining loses little), pairs are scored with the same
    // exact cosine, and each anchor keeps its top-2 hardest by a
    // per-anchor rank. Both DIRECTIONS are mined (a is an anchor for b and
    // vice versa) — contrastive batches are per-anchor, not per-pair.
    //
    // Scale: candidate volume is SemDeDup's Σ|c|² (the clustering is the
    // blocking); the band filter cuts the rank window's input to the
    // boundary population, and the window keys on anchor — fully
    // partitioned, nothing global. At 100 TB the same shape rides the IVF
    // lists (q_ann_ivf_topk) instead of flat clusters.
    QueryDef(
      "q_hard_negatives",
      s"""WITH $kmeansCtes,
         |p AS (
         |  SELECT a.vec_id AS anchor, b.vec_id AS neg,
         |         ROUND(${cosSql("ea.embedding", "eb.embedding")}, 9) AS cosine
         |  FROM a2 a JOIN a2 b ON a.cluster = b.cluster AND a.vec_id <> b.vec_id
         |  JOIN embeddings ea ON ea.vec_id = a.vec_id
         |  JOIN embeddings eb ON eb.vec_id = b.vec_id
         |  WHERE ROUND(${cosSql("ea.embedding", "eb.embedding")}, 9) >= 0.30
         |    AND ROUND(${cosSql("ea.embedding", "eb.embedding")}, 9) < 0.42),
         |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY anchor
         |                                   ORDER BY cosine DESC, neg) AS rk
         |      FROM p)
         |SELECT anchor, CAST(rk AS BIGINT) AS rk, neg, cosine
         |FROM r WHERE rk <= 2
         |ORDER BY anchor, rk""".stripMargin) { (s, d) =>
      hardNegatives(Tables.embeddings(s, d), k = 8)
    },

    // ----- hard negatives via IVF MULTI-PROBE (r13 verdict item 5) ------
    // The production answer to the pinned face's boundary blindness: the
    // k ∝ n probe measured 0.07% of hard negatives straddling finer
    // cluster boundaries; probing each anchor's nprobe=2 nearest lists
    // recovers them while candidates stay ≤ 2× the pinned volume.
    // Candidates are a structural SUPERSET of q_hard_negatives' (probe
    // rank 1 IS the primary list), so per-anchor results can only get
    // harder (higher-cosine) negatives. The oracle replays the top-2
    // probe ranks from the same Lloyd round-2 distances.
    QueryDef(
      "q_hard_negatives_ivf",
      s"""WITH $kmeansCtes,
         |ap AS (SELECT vec_id, cluster, CAST(rn AS INT) AS prb FROM (
         |         SELECT vec_id, cluster,
         |                ROW_NUMBER() OVER (PARTITION BY vec_id
         |                                   ORDER BY dist, cluster) AS rn
         |         FROM d2) WHERE rn <= 2),
         |p AS (
         |  SELECT a.vec_id AS anchor, b.vec_id AS neg,
         |         ROUND(${cosSql("ea.embedding", "eb.embedding")}, 9) AS cosine
         |  FROM ap a JOIN a2 b ON a.cluster = b.cluster AND a.vec_id <> b.vec_id
         |  JOIN embeddings ea ON ea.vec_id = a.vec_id
         |  JOIN embeddings eb ON eb.vec_id = b.vec_id
         |  WHERE ROUND(${cosSql("ea.embedding", "eb.embedding")}, 9) >= 0.30
         |    AND ROUND(${cosSql("ea.embedding", "eb.embedding")}, 9) < 0.42),
         |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY anchor
         |                                   ORDER BY cosine DESC, neg) AS rk
         |      FROM p)
         |SELECT anchor, CAST(rk AS BIGINT) AS rk, neg, cosine
         |FROM r WHERE rk <= 2
         |ORDER BY anchor, rk""".stripMargin) { (s, d) =>
      hardNegativesIvf(Tables.embeddings(s, d), k = 8, nprobe = 2)
    },

    // ----- Product quantization: PQ codes + ADC top-k (Jégou et al. 2011,
    // "Product Quantization for Nearest Neighbor Search") -----
    // The compressed-ANN path that makes 100 TB of embeddings scannable:
    // split each 64-dim vector into m=4 subspaces of 16 dims, train a
    // 16-centroid codebook per subspace (the same integer-exact Lloyd as
    // q_kmeans_assign, grouped by subspace), and store each vector as
    // m small codes — 4 bytes instead of 256, a 64× compression. A query
    // then precomputes one m×16 distance TABLE (query-to-centroid partial
    // squared distances) and scores every database vector as a sum of m
    // table lookups (Asymmetric Distance Computation) — the scan reads
    // codes, never raw floats. The ADC ranking is a SHORTLIST, not the
    // answer: a refine stage re-ranks the top R=50 by exact (quantized)
    // L2 — the FAISS IVFPQ+refine composition, which is what makes PQ's
    // lossy distances usable (SimilaritySpec measures both the raw-ADC
    // and post-refine recall against the exact top-k).
    //
    // Everything is BIGINT arithmetic on the ×10000-quantized components
    // (ties argmin-broken by code id), so codes, the distance table, and
    // the ADC ranking hash-gate cross-engine with no float divergence.
    //
    // Scale shape: codebooks are m×16×16-dim rows — always broadcast;
    // encoding is the k-means assignment pattern per subspace (linear,
    // keyed by (vec_id, sub)); the distance table is 64 rows — broadcast;
    // the ADC scan is codes ⋈ table then a per-vector 4-row sum, with
    // top-k as TakeOrderedAndProject. Nothing all-pairs, nothing
    // single-partition. IVF composes on top — q_ann_ivfpq_topk is that
    // composition (coarse lists pre-filter this same codes scan).
    QueryDef(
      "q_ann_pq_adc",
      s"""WITH $pqCtes,
         |adc AS (SELECT codes.vec_id, SUM(dt.d) AS adc_dist
         |        FROM codes JOIN dt ON codes.sub = dt.sub AND codes.cluster = dt.cluster
         |        GROUP BY 1),
         |short AS (SELECT vec_id FROM adc ORDER BY adc_dist, vec_id LIMIT 50),
         |rer AS (SELECT q.vec_id, SUM((q.v - qt.v) * (q.v - qt.v)) AS dist
         |        FROM q JOIN short ON q.vec_id = short.vec_id
         |        JOIN qt ON q.i = qt.i
         |        GROUP BY 1)
         |SELECT vec_id, CAST(dist AS BIGINT) AS l2q_dist
         |FROM rer
         |ORDER BY dist, vec_id
         |LIMIT 10""".stripMargin) { (s, d) =>
      val comp = quantizedComponents(Tables.embeddings(s, d))
      val (c1, codes) = pqTrain(comp)
      val qt = comp.filter(col("vec_id") === 42)
        .select(col("sub"), col("i"), col("v").as("qv"))
      val dt = qt.join(broadcast(c1), Seq("sub", "i"))
        .groupBy("sub", "cluster")
        .agg(sum((col("qv") * 100L - col("c")) * (col("qv") * 100L - col("c"))).as("d"))
      val adc = codes.join(broadcast(dt), Seq("sub", "cluster"))
        .groupBy("vec_id")
        .agg(sum(col("d")).as("adc_dist"))
      // refine stage (FAISS IVFPQ+refine pattern): the compressed scan
      // produces a SHORTLIST (TakeOrderedAndProject over ADC scores, R=50
      // — constant, never corpus-proportional), and only the shortlist's
      // raw vectors are re-read for an exact re-rank. At 100 TB the exact
      // stage touches R vectors, not the corpus.
      val short = adc.orderBy(col("adc_dist"), col("vec_id")).limit(50)
        .select("vec_id")
      comp.join(broadcast(short), Seq("vec_id"))
        .join(broadcast(qt.select(col("i"), col("qv"))), Seq("i"))
        .groupBy("vec_id")
        .agg(sum((col("v") - col("qv")) * (col("v") - col("qv"))).as("l2q_dist"))
        .orderBy(col("l2q_dist"), col("vec_id"))
        .limit(10)
    },

    // ----- Brute-force cosine scoring against a fixed query vector -----
    QueryDef(
      "q_cosine_brute",
      s"""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
         |SELECT e.vec_id, e.label,
         |       ROUND(${cosSql("e.embedding", "qv")}, 9) AS cosine
         |FROM embeddings e, q
         |WHERE e.vec_id <= 100
         |ORDER BY vec_id""".stripMargin) { (s, d) =>
      val e = Tables.embeddings(s, d)
      // norms are projected BELOW the join on each side, so every vector's
      // norm is computed once — not once per scored pair (same floating-
      // point ops per pair as cosine(), so results are bit-identical)
      val q = e.filter(col("vec_id") === 0)
        .select(col("embedding").as("qv"), norm(col("embedding")).as("nq"))
      e.filter(col("vec_id") <= 100)
        .withColumn("na", norm(col("embedding")))
        .crossJoin(broadcast(q))
        .select(col("vec_id"), col("label"),
          round(dot(col("embedding"), col("qv")) / (col("na") * col("nq")), 9).as("cosine"))
        .orderBy("vec_id")
    },

    // ----- Exact top-k neighbors (TakeOrderedAndProject, one pass) -----
    QueryDef(
      "q_ann_cosine_topk",
      s"""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
         |SELECT e.vec_id, e.label,
         |       ROUND(${cosSql("e.embedding", "qv")}, 9) AS cosine
         |FROM embeddings e, q
         |WHERE e.vec_id <> 0
         |ORDER BY cosine DESC, vec_id
         |LIMIT 10""".stripMargin) { (s, d) =>
      val e = Tables.embeddings(s, d)
      val q = e.filter(col("vec_id") === 0)
        .select(col("embedding").as("qv"), norm(col("embedding")).as("nq"))
      e.filter(col("vec_id") =!= 0)
        .withColumn("na", norm(col("embedding")))
        .crossJoin(broadcast(q))
        .select(col("vec_id"), col("label"),
          round(dot(col("embedding"), col("qv")) / (col("na") * col("nq")), 9).as("cosine"))
        .orderBy(col("cosine").desc, col("vec_id"))
        .limit(10)
    },

    // ----- Distributed KNN JOIN: top-k neighbors for EVERY query vector -----
    // The batch shape of similarity search: broadcast the (small) query set,
    // score map-side with the codegen'd dot product, per-query top-k via a
    // window over the query id. At scale the corpus side stays partitioned;
    // nothing but the k results per query ever shuffles.
    QueryDef(
      "q_ann_knn_join",
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 20),
         |c AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id >= 20),
         |scored AS (SELECT query_id, c.vec_id AS neighbor_id,
         |                  ROUND(${cosSql("c.embedding", "qv")}, 9) AS cosine
         |           FROM c, q)
         |SELECT query_id, neighbor_id, cosine FROM scored
         |QUALIFY ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) <= 5
         |ORDER BY query_id, cosine DESC, neighbor_id""".stripMargin) { (s, d) =>
      val e = Tables.embeddings(s, d)
      val q = e.filter(col("vec_id") < 20)
        .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
          norm(col("embedding")).as("nq"))
      val scored = e.filter(col("vec_id") >= 20)
        .withColumn("na", norm(col("embedding")))
        .crossJoin(broadcast(q))
        .select(col("query_id"), col("vec_id").as("neighbor_id"),
          round(dot(col("embedding"), col("qv")) / (col("na") * col("nq")), 9).as("cosine"))
      val w = Window.partitionBy("query_id").orderBy(col("cosine").desc, col("neighbor_id"))
      scored.withColumn("rn", row_number().over(w)).filter(col("rn") <= 5).drop("rn")
        .orderBy(col("query_id"), col("cosine").desc, col("neighbor_id"))
    },

    // ----- Random-hyperplane LSH KNN (the bucketed scale path for cosine) -----
    // 16 signed projections → 2 bands of 8 bits; candidates share a band,
    // then get exactly re-scored. The signatures are fixed-seed deterministic
    // but not DuckDB-expressible, so the oracle re-verifies the exact
    // re-scoring + per-query top-k over the STAGED candidate pairs;
    // SimilaritySpec still measures recall on genuinely clustered data.
    QueryDef(
      "q_ann_rp_lsh_topk",
      s"""WITH cand AS (SELECT query_id, neighbor_id FROM ${graft.OracleStage.pq("cands_rp_topk")}),
         |scored AS (SELECT query_id, neighbor_id,
         |                  ROUND(${cosSql("c.embedding", "q.embedding")}, 9) AS cosine
         |           FROM cand
         |           JOIN embeddings c ON c.vec_id = cand.neighbor_id
         |           JOIN embeddings q ON q.vec_id = cand.query_id)
         |SELECT query_id, neighbor_id, cosine FROM scored
         |QUALIFY ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) <= 5
         |ORDER BY query_id, cosine DESC, neighbor_id""".stripMargin) { (s, d) =>
      val e = Tables.embeddings(s, d)
      // band join + distinct over bare id pairs; vectors rejoin for scoring
      def banded(df: org.apache.spark.sql.DataFrame, idCol: String) = df
        .withColumn("sig", rpSignature(col("embedding")))
        .select(col(idCol),
          explode(array(
            struct(lit(0).as("band_id"), col("sig").bitwiseAND(0xFF).as("band_key")),
            struct(lit(1).as("band_id"), shiftright(col("sig"), 8).bitwiseAND(0xFF).as("band_key")))).as("b"))
        .select(col(idCol), col("b.band_id"), col("b.band_key"))
      val qs = banded(e.filter(col("vec_id") < 20)
        .select(col("vec_id").as("query_id"), col("embedding")), "query_id")
      val corpus = banded(e.filter(col("vec_id") >= 20), "vec_id")
      val cands = graft.OracleStage.stage("cands_rp_topk",
        corpus.join(qs, Seq("band_id", "band_key"))
          .select(col("query_id"), col("vec_id").as("neighbor_id"))
          .distinct())
      // corpus-side vector lookup unhinted (AQE decides); the 20-query side
      // is genuinely bounded → broadcast
      val vecs = e.select(col("vec_id"), col("embedding"), norm(col("embedding")).as("nrm"))
      val scored = cands
        .join(vecs.select(col("vec_id").as("neighbor_id"),
          col("embedding").as("ev"), col("nrm").as("na")), "neighbor_id")
        .join(broadcast(vecs.select(col("vec_id").as("query_id"),
          col("embedding").as("qv"), col("nrm").as("nq"))), "query_id")
        .select(col("query_id"), col("neighbor_id"),
          round(dot(col("ev"), col("qv")) / (col("na") * col("nq")), 9).as("cosine"))
      val w = Window.partitionBy("query_id").orderBy(col("cosine").desc, col("neighbor_id"))
      scored.withColumn("rn", row_number().over(w)).filter(col("rn") <= 5).drop("rn")
        .orderBy(col("query_id"), col("cosine").desc, col("neighbor_id"))
    },

    // ----- Embedding-cosine near-dup pairs: exact all-pairs baseline -----
    // The embedding-space analogue of q_dedup_ngram_jaccard: every pair with
    // cosine ≥ τ (τ sits at the top of this corpus's similarity range).
    // Correctness baseline = broadcast nested-loop with the codegen'd dot;
    // the banded variant below is the 100 TB path.
    QueryDef(
      "q_dedup_embedding",
      s"""SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         |       ROUND(${cosSql("a.embedding", "b.embedding")}, 9) AS cosine
         |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
         |WHERE ROUND(${cosSql("a.embedding", "b.embedding")}, 9) >= 0.42
         |ORDER BY vec_a, vec_b""".stripMargin) { (s, d) =>
      exactNearDupPairs(Tables.embeddings(s, d), minCos = 0.42)
    },

    // ----- Embedding near-dup via RP-LSH blocking (the scale path) -----
    // Candidates = band collisions (bits/bands sized by adaptiveBanding —
    // 10 bands × 3 sign bits at gate corpora, population-bounded beyond),
    // then exact re-scoring — the corpus never self-joins n². 3-bit bands
    // at the base because the dedup threshold τ=0.42 sits low:
    // p = 1-acos(τ)/π ≈ 0.64, so expected recall 1-(1-p³)^10 ≈ 0.95 vs
    // ≈ 0.77 for 8×4. The oracle re-verifies the exact cosine re-score +
    // threshold over the STAGED candidate pairs; SimilaritySpec asserts
    // ≥90% recall against q_dedup_embedding.
    QueryDef(
      "q_dedup_embedding_lsh",
      s"""WITH cand AS (SELECT vec_a, vec_b FROM ${graft.OracleStage.pq("cands_emb_lsh")})
         |SELECT c.vec_a, c.vec_b,
         |       ROUND(${cosSql("a.embedding", "b.embedding")}, 9) AS cosine
         |FROM cand c
         |JOIN embeddings a ON a.vec_id = c.vec_a
         |JOIN embeddings b ON b.vec_id = c.vec_b
         |WHERE ROUND(${cosSql("a.embedding", "b.embedding")}, 9) >= 0.42
         |ORDER BY vec_a, vec_b""".stripMargin) { (s, d) =>
      embeddingNearDupPairsLsh(Tables.embeddings(s, d), minCos = 0.42,
        stage = Some("cands_emb_lsh"))
    },

    // ----- IVF-style partitioned ANN: probe best partitions only -----
    // Recall depends on partition quality (SimilaritySpec measures recall@10
    // against brute force); the probe decision itself is deterministic, so
    // the oracle re-runs the probed-partition search — filter, exact cosine,
    // top-k — over the STAGED probe result.
    QueryDef(
      "q_ann_ivf_topk",
      s"""WITH probed AS (SELECT label FROM ${graft.OracleStage.pq("ivf_probed")}),
         |q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
         |SELECT e.vec_id, e.label,
         |       ROUND(${cosSql("e.embedding", "qv")}, 9) AS cosine
         |FROM embeddings e JOIN probed p ON e.label = p.label, q
         |WHERE e.vec_id <> 0
         |ORDER BY cosine DESC, vec_id
         |LIMIT 10""".stripMargin) { (s, d) =>
      val e = Tables.embeddings(s, d)
      val q = e.filter(col("vec_id") === 0)
        .select(col("embedding").as("qv"), norm(col("embedding")).as("nq"))
      // centroid per label: elementwise mean — 10 rows, broadcastable
      val dim = 64
      val centroids = e.groupBy("label")
        .agg(sumVectors(col("embedding"), dim).as("sumv"), count(lit(1)).as("n"))
        .select(col("label"),
          transform(col("sumv"), x => x / col("n")).as("centroid"))
      // probe: top-2 centroids by cosine to the query
      val probed = graft.OracleStage.stage("ivf_probed",
        centroids.crossJoin(broadcast(q))
          .select(col("label"), cosine(col("centroid"), col("qv")).as("cscore"))
          .orderBy(col("cscore").desc, col("label"))
          .limit(2)
          .select(col("label")))
      // search only the probed partitions (join prunes before scoring)
      e.filter(col("vec_id") =!= 0)
        .join(broadcast(probed), "label")
        .withColumn("na", norm(col("embedding")))
        .crossJoin(broadcast(q))
        .select(col("vec_id"), col("label"),
          round(dot(col("embedding"), col("qv")) / (col("na") * col("nq")), 9).as("cosine"))
        .orderBy(col("cosine").desc, col("vec_id"))
        .limit(10)
    },

    // ----- IVFPQ: coarse lists pre-filter the PQ codes scan (FAISS
    // IndexIVFPQ, by_residual=false) -----
    // The full compressed-ANN serving stack in one plan: the IVF coarse
    // stage picks nprobe=2 of the label lists, and the ADC scan reads ONLY
    // the codes stored in those lists — at 100 TB, with codes laid out
    // partitioned by list id, the probe is a partition prune and the scan
    // touches nprobe/nlists of the index, 4-byte codes not raw floats.
    // Then the usual shortlist → exact-refine tail (R=50, top-10).
    //
    // Unlike q_ann_ivf_topk (float centroid cosine, staged probe result),
    // the coarse stage here is INTEGER — per-list per-dim centroids in the
    // same ×10000 quantized domain as the codebooks, probe = argmin-2 of
    // integer L2 — so the probe DECISION itself hash-gates cross-engine
    // with no staged side file: the oracle replays coarse training, coarse
    // probe, PQ training, the pruned ADC scan, and the refine end to end.
    //
    // Scale shape: coarse centroids are nlists×64 rows (broadcast); the
    // codebook/distance-table sides are the same broadcast-size frames as
    // q_ann_pq_adc; the ONLY corpus-sized frames are the index build
    // (offline: one assignment pass per Lloyd iteration, keyed by
    // (vec_id, sub)) and the pruned codes scan (serving: nprobe lists).
    //
    // Recall honesty: pruning to nprobe=2 of 10 lists caps recall by how
    // much of the true neighborhood the probed lists hold — a DATA
    // property. On this gate's near-isotropic corpus the exact top-10
    // spreads over 8 labels, so recall@10 measures 0.3 vs plain-PQ's 0.7;
    // on clustered corpora (IVF's operating premise) the probed lists
    // contain the whole neighborhood and the composition matches or beats
    // the flat scan — SimilaritySpec pins both regimes.
    QueryDef(
      "q_ann_ivfpq_topk",
      s"""WITH $pqCtes,
         |lab AS (SELECT vec_id, label FROM embeddings),
         |cc AS (SELECT label, q.i, (SUM(q.v) * 100) // COUNT(*) AS c
         |       FROM q JOIN lab USING (vec_id) GROUP BY 1, 2),
         |cd AS (SELECT cc.label, SUM((qt.v*100 - cc.c) * (qt.v*100 - cc.c)) AS dist
         |       FROM qt JOIN cc ON qt.i = cc.i GROUP BY 1),
         |probed AS (SELECT label FROM cd ORDER BY dist, label LIMIT 2),
         |adc AS (SELECT codes.vec_id, SUM(dt.d) AS adc_dist
         |        FROM codes
         |        JOIN lab ON codes.vec_id = lab.vec_id
         |        JOIN probed ON lab.label = probed.label
         |        JOIN dt ON codes.sub = dt.sub AND codes.cluster = dt.cluster
         |        GROUP BY 1),
         |short AS (SELECT vec_id FROM adc ORDER BY adc_dist, vec_id LIMIT 50),
         |rer AS (SELECT q.vec_id, lab.label, SUM((q.v - qt.v) * (q.v - qt.v)) AS dist
         |        FROM q JOIN short ON q.vec_id = short.vec_id
         |        JOIN qt ON q.i = qt.i
         |        JOIN lab ON q.vec_id = lab.vec_id
         |        GROUP BY 1, 2)
         |SELECT vec_id, label, CAST(dist AS BIGINT) AS l2q_dist
         |FROM rer
         |ORDER BY dist, vec_id
         |LIMIT 10""".stripMargin) { (s, d) =>
      val e = Tables.embeddings(s, d)
      val comp = quantizedComponents(e)
      val lab = e.select(col("vec_id"), col("label"))
      // coarse quantizer: integer per-list centroids (nlists×64 rows)
      val cc = comp.join(lab, "vec_id")
        .groupBy("label", "i")
        .agg(expr("(SUM(v) * 100) DIV COUNT(1)").as("c"))
      val qt = comp.filter(col("vec_id") === 42)
        .select(col("sub"), col("i"), col("v").as("qv"))
      val cd = qt.join(broadcast(cc), Seq("i"))
        .groupBy("label")
        .agg(sum((col("qv") * 100L - col("c")) * (col("qv") * 100L - col("c"))).as("dist"))
      val probed = cd.orderBy(col("dist"), col("label")).limit(2).select("label")
      // index build (offline at scale): PQ codes stored WITH their list id
      val (c1, codes) = pqTrain(comp)
      val listed = codes.join(lab, "vec_id")
      // serving: the codes scan reads only the probed lists
      val pruned = listed.join(broadcast(probed), Seq("label"))
      val dt = qt.join(broadcast(c1), Seq("sub", "i"))
        .groupBy("sub", "cluster")
        .agg(sum((col("qv") * 100L - col("c")) * (col("qv") * 100L - col("c"))).as("d"))
      val adc = pruned.join(broadcast(dt), Seq("sub", "cluster"))
        .groupBy("vec_id")
        .agg(sum(col("d")).as("adc_dist"))
      val short = adc.orderBy(col("adc_dist"), col("vec_id")).limit(50)
        .select("vec_id")
      val rer = comp.join(broadcast(short), Seq("vec_id"))
        .join(broadcast(qt.select(col("i"), col("qv"))), Seq("i"))
        .groupBy("vec_id")
        .agg(sum((col("v") - col("qv")) * (col("v") - col("qv"))).as("l2q_dist"))
      lab.join(broadcast(rer), "vec_id")
        .select(col("vec_id"), col("label"), col("l2q_dist"))
        .orderBy(col("l2q_dist"), col("vec_id"))
        .limit(10)
    },

    // ----- batched IVFPQ serving: one pruned codes scan, many queries ----
    // The production serving shape (q_hybrid_rrf_batch's law applied to
    // ANN): a BATCH of queries (every 25th vector — corpus-derived so the
    // oracle replays it at any sf; production Q is workload-driven) rides
    // ONE codes scan. Everything query-sided stays broadcast-size — the
    // per-query probed lists (Q×nprobe rows) and ADC distance tables
    // (Q×m×16 rows) — so adding queries widens broadcasts, never adds
    // corpus passes. Per-query shortlists (R=20) and final top-10 ride
    // the BOUNDED kminBy aggregate (≤ R (key,id) pairs per partial, the
    // key IS the distance so the refine rank needs no re-join) — never a
    // corpus-wide rank window; the only windows partition by query_id
    // over nlists coarse rows. Serving cost: Q · n·nprobe/nlists · m code
    // lookups, embarrassingly parallel in BOTH the query batch and the
    // corpus.
    QueryDef(
      "q_ann_ivfpq_batch",
      s"""WITH $pqCtes,
         |lab AS (SELECT vec_id, label FROM embeddings),
         |cc AS (SELECT label, q.i, (SUM(q.v) * 100) // COUNT(*) AS c
         |       FROM q JOIN lab USING (vec_id) GROUP BY 1, 2),
         |qb AS (SELECT vec_id AS query_id, sub, i, v FROM q WHERE vec_id % 25 = 0),
         |cdq AS (SELECT qb.query_id, cc.label,
         |               SUM((qb.v*100 - cc.c) * (qb.v*100 - cc.c)) AS dist
         |        FROM qb JOIN cc ON qb.i = cc.i GROUP BY 1, 2),
         |prb AS (SELECT query_id, label FROM (
         |          SELECT query_id, label,
         |                 ROW_NUMBER() OVER (PARTITION BY query_id
         |                                    ORDER BY dist, label) AS rn
         |          FROM cdq) WHERE rn <= 2),
         |dtq AS (SELECT qb.query_id, c1.sub, c1.cluster,
         |               SUM((qb.v*100 - c1.c) * (qb.v*100 - c1.c)) AS d
         |        FROM qb JOIN c1 ON qb.sub = c1.sub AND qb.i = c1.i
         |        GROUP BY 1, 2, 3),
         |adcb AS (SELECT dtq.query_id, codes.vec_id, SUM(dtq.d) AS adc_dist
         |         FROM codes
         |         JOIN lab ON codes.vec_id = lab.vec_id
         |         JOIN prb ON lab.label = prb.label
         |         JOIN dtq ON prb.query_id = dtq.query_id
         |                AND codes.sub = dtq.sub AND codes.cluster = dtq.cluster
         |         GROUP BY 1, 2),
         |shortb AS (SELECT query_id, vec_id FROM (
         |             SELECT query_id, vec_id,
         |                    ROW_NUMBER() OVER (PARTITION BY query_id
         |                                       ORDER BY adc_dist, vec_id) AS rn
         |             FROM adcb) WHERE rn <= 20),
         |rerb AS (SELECT s.query_id, q.vec_id, SUM((q.v - qb.v) * (q.v - qb.v)) AS dist
         |         FROM q JOIN shortb s ON q.vec_id = s.vec_id
         |         JOIN qb ON qb.query_id = s.query_id AND q.i = qb.i
         |         GROUP BY 1, 2)
         |SELECT query_id, CAST(rk AS BIGINT) AS rk, vec_id,
         |       CAST(dist AS BIGINT) AS l2q_dist
         |FROM (SELECT query_id, vec_id, dist,
         |             ROW_NUMBER() OVER (PARTITION BY query_id
         |                                ORDER BY dist, vec_id) AS rk
         |      FROM rerb)
         |WHERE rk <= 10
         |ORDER BY query_id, rk""".stripMargin) { (s, d) =>
      val e = Tables.embeddings(s, d)
      val comp = quantizedComponents(e)
      val lab = e.select(col("vec_id"), col("label"))
      val cc = comp.join(lab, "vec_id")
        .groupBy("label", "i")
        .agg(expr("(SUM(v) * 100) DIV COUNT(1)").as("c"))
      val qb = comp.filter(col("vec_id") % 25 === 0)
        .select(col("vec_id").as("query_id"), col("sub"), col("i"),
          col("v").as("qv"))
      // coarse probe per query — the window is per query over nlists rows
      val cdq = qb.join(broadcast(cc), Seq("i"))
        .groupBy("query_id", "label")
        .agg(sum((col("qv") * 100L - col("c")) * (col("qv") * 100L - col("c"))).as("dist"))
      val prb = cdq.withColumn("rn", row_number().over(
          Window.partitionBy("query_id").orderBy("dist", "label")))
        .filter(col("rn") <= 2).select("query_id", "label")
      val (c1, codes) = pqTrain(comp)
      val listed = codes.join(lab, "vec_id")
      val dtq = qb.join(broadcast(c1), Seq("sub", "i"))
        .groupBy("query_id", "sub", "cluster")
        .agg(sum((col("qv") * 100L - col("c")) * (col("qv") * 100L - col("c"))).as("d"))
      // ONE pass over the listed codes serves the whole query batch
      val adc = listed.join(broadcast(prb), Seq("label"))
        .join(broadcast(dtq), Seq("query_id", "sub", "cluster"))
        .groupBy("query_id", "vec_id").agg(sum(col("d")).as("adc_dist"))
      val short = adc.groupBy("query_id")
        .agg(graft.functions.KMinAgg.kminBy(col("adc_dist"), col("vec_id"), 20).as("m"))
        .select(col("query_id"), explode(col("m")).as("x"))
        .select(col("query_id"), col("x.id").as("vec_id"))
      val rq = qb.select(col("query_id"), col("i"), col("qv"))
      val rer = comp.join(broadcast(short), Seq("vec_id"))
        .join(broadcast(rq), Seq("query_id", "i"))
        .groupBy("query_id", "vec_id")
        .agg(sum((col("v") - col("qv")) * (col("v") - col("qv"))).as("l2q_dist"))
      rer.groupBy("query_id")
        .agg(graft.functions.KMinAgg.kminBy(col("l2q_dist"), col("vec_id"), 10).as("m"))
        .select(col("query_id"), posexplode(col("m")).as(Seq("pos", "x")))
        .select(col("query_id"), (col("pos") + 1).cast("long").as("rk"),
          col("x.id").as("vec_id"), col("x.h").as("l2q_dist"))
        .orderBy("query_id", "rk")
    },

    // ----- int8 scalar quantization (per-dimension min-max) -----
    // The storage face of vector search: embeddings compressed 4× by
    // mapping each dimension's [min, max] onto 0..255 — the standard
    // scalar-quantization codec (e.g. FAISS SQ8). Cross-engine exactness:
    // float32 components promote to double identically in both engines and
    // the code is ONE expression shape — FLOOR(((x−mn)·255)/(mx−mn)) —
    // evaluated on identical doubles, so every IEEE intermediate is
    // bit-identical; outputs are integer codes and integer roll-ups.
    // Scale: per-dim stats are a 64-row aggregate (broadcast back); the
    // code pass is one explode + map — linear, and at 100 TB the stats
    // side stays 64 rows no matter the corpus.
    QueryDef(
      "q_quantize_int8",
      """WITH x AS (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS xv,
        |                  CAST(unnest(range(1, len(embedding)+1)) AS BIGINT) AS dim
        |           FROM embeddings),
        |st AS (SELECT dim, MIN(xv) AS mn, MAX(xv) AS mx FROM x GROUP BY dim),
        |c AS (SELECT x.dim,
        |             LEAST(255, CAST(FLOOR(((xv - mn) * 255) / (mx - mn)) AS BIGINT)) AS code
        |      FROM x JOIN st ON x.dim = st.dim WHERE mx > mn)
        |SELECT dim, COUNT(*) AS n_vals, MIN(code) AS code_min, MAX(code) AS code_max,
        |       CAST(SUM(code) AS BIGINT) AS sum_codes,
        |       COUNT(DISTINCT code) AS n_codes
        |FROM c GROUP BY dim ORDER BY dim""".stripMargin) { (s, d) =>
      val x = Tables.embeddings(s, d)
        .select(col("vec_id"), posexplode(col("embedding")).as(Seq("pos", "v")))
        .select((col("pos") + 1).cast("long").as("dim"), col("v").cast("double").as("xv"))
      val st = x.groupBy("dim").agg(min(col("xv")).as("mn"), max(col("xv")).as("mx"))
      x.join(broadcast(st), "dim")
        .filter(col("mx") > col("mn"))
        .select(col("dim"),
          least(lit(255), floor(((col("xv") - col("mn")) * 255) / (col("mx") - col("mn")))
            .cast("long")).as("code"))
        .groupBy("dim").agg(
          count(lit(1)).as("n_vals"),
          min(col("code")).as("code_min"),
          max(col("code")).as("code_max"),
          sum(col("code")).cast("long").as("sum_codes"),
          countDistinct(col("code")).as("n_codes"))
        .orderBy("dim")
    },

    // ----- 1-bit binary quantization + Hamming shortlist + exact rerank --
    // The 32× compression point of the vector-search storage ladder
    // (int8 = 4×, PQ = 64×): each dimension collapses to its sign against
    // the per-dimension midrange (mn+mx)/2, packed 32 bits per BIGINT word
    // (two words for the 64-dim corpus — never 1<<63, whose sign bit would
    // invite cross-engine overflow drift). Serving is the standard
    // two-stage shape (e.g. FAISS binary index + refine): Hamming distance
    // = popcount(xor) over the packed words prunes the corpus to a
    // `depth`-deep shortlist per query, then exact float cosine reranks
    // the survivors.
    //
    // Recall honesty: one bit per dimension is a COARSE filter — with only
    // 64 dims there are 64 code bits, which mostly identify the cluster,
    // not the within-cluster ordering, so recall@10 at a FIXED depth
    // decays as the corpus grows (measured on the gaussian-cluster
    // corpus: depth 50 → 0.64 mean at n=500, 0.42 at n=2000; depth 200 →
    // 0.95 / 0.75; depth 400 → 1.00 / 0.88 — BinaryHammingSpec gates the
    // monotone depth law). Production sizing is depth = oversample × k
    // with oversample chosen from this curve (or ≥4 bits/dim codes for
    // high-dim embeddings); the gate pins depth 50 = 5×k for a bounded,
    // DuckDB-replayable fixture.
    //
    // Cross-engine exactness: min/max are order-independent, the midrange
    // threshold and strict `>` compare identical doubles, the packed words
    // and Hamming counts are integers, and the rerank reuses the rounded
    // cosSql law. Scale: the code table is 2 BIGINTs/vector (3 % of the
    // float payload); the query batch broadcasts; the Hamming pass is ONE
    // map-side scan of the codes with a bounded kminBy(depth) shortlist —
    // no per-query corpus shuffle, ties broken (ham, vec_id) identically
    // to the oracle's window; rerank touches depth rows per query.
    QueryDef(
      "q_ann_binary_hamming",
      s"""WITH x AS (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS xv,
         |                  CAST(unnest(range(1, len(embedding)+1)) AS INT) AS dim
         |           FROM embeddings),
         |st AS (SELECT dim, (MIN(xv) + MAX(xv)) / 2 AS thr FROM x GROUP BY dim),
         |b AS (SELECT vec_id,
         |        CAST(SUM(CASE WHEN dim <= 32 AND xv > thr
         |                      THEN (CAST(1 AS BIGINT) << (dim - 1)) ELSE 0 END) AS BIGINT) AS w0,
         |        CAST(SUM(CASE WHEN dim > 32 AND xv > thr
         |                      THEN (CAST(1 AS BIGINT) << (dim - 33)) ELSE 0 END) AS BIGINT) AS w1
         |      FROM x JOIN st USING (dim) GROUP BY vec_id),
         |q AS (SELECT vec_id AS query_id, w0 AS q0, w1 AS q1 FROM b WHERE vec_id % 25 = 0),
         |h AS (SELECT query_id, vec_id,
         |             CAST(bit_count(xor(w0, q0)) + bit_count(xor(w1, q1)) AS BIGINT) AS ham
         |      FROM b, q WHERE vec_id <> query_id),
         |sl AS (SELECT query_id, vec_id FROM (
         |         SELECT query_id, vec_id,
         |                ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY ham, vec_id) AS rn
         |         FROM h) WHERE rn <= 50),
         |qe AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id % 25 = 0),
         |r AS (SELECT sl.query_id, sl.vec_id,
         |             ROUND(${cosSql("e.embedding", "qv")}, 9) AS cosine
         |      FROM sl JOIN embeddings e ON e.vec_id = sl.vec_id
         |              JOIN qe ON qe.query_id = sl.query_id)
         |SELECT query_id, rk, vec_id, cosine FROM (
         |  SELECT query_id, vec_id, cosine,
         |         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rk
         |  FROM r) WHERE rk <= 10
         |ORDER BY query_id, rk""".stripMargin) { (s, d) =>
      binaryHammingTopK(Tables.embeddings(s, d), depth = 50)
    },

    // ----- Matryoshka / truncated-prefix ANN + full-dim rerank -----------
    // The LATENCY rung of the ladder (binary = storage, PQ = both): MRL
    // (Kusupati et al. 2022) trains embeddings whose PREFIX is itself a
    // valid embedding, so search runs on the first 16 of 64 dims (4× less
    // arithmetic and bandwidth per candidate) and only the shortlist pays
    // full-dim cosine. Serving shape is identical to the binary face: one
    // corpus pass scoring prefix cosine against the broadcast query batch
    // in ×10⁹ fixed point, bounded kminBy(60) shortlist with (−cos, id)
    // ties, exact full-dim rerank of 60 rows per query. Cross-engine:
    // slice(embedding, 1, 16) == embedding[1:16] (1-based, 16 elements),
    // fixed-point prefix scores are BIGINTs, the rerank reuses the
    // rounded cosSql law. Scale: at 100 TB the prefix scan moves 25 % of
    // the vector bytes (or reads a separate 16-dim column — column
    // pruning makes truncation free in parquet); MatryoshkaSpec gates the
    // recall-vs-prefix-length monotone law.
    QueryDef(
      "q_ann_matryoshka",
      s"""WITH qe AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
         |            WHERE vec_id % 25 = 0),
         |h AS (SELECT query_id, e.vec_id,
         |             CAST(ROUND((${cosSql("(e.embedding[1:16])", "(qv[1:16])")})
         |                        * 1000000000) AS BIGINT) AS pcos
         |      FROM embeddings e CROSS JOIN qe WHERE e.vec_id <> query_id),
         |sl AS (SELECT query_id, vec_id FROM (
         |         SELECT query_id, vec_id,
         |                ROW_NUMBER() OVER (PARTITION BY query_id
         |                                   ORDER BY pcos DESC, vec_id) AS rn
         |         FROM h) WHERE rn <= 60),
         |r AS (SELECT sl.query_id, sl.vec_id,
         |             ROUND(${cosSql("e.embedding", "qv")}, 9) AS cosine
         |      FROM sl JOIN embeddings e ON e.vec_id = sl.vec_id
         |              JOIN qe ON qe.query_id = sl.query_id)
         |SELECT query_id, rk, vec_id, cosine FROM (
         |  SELECT query_id, vec_id, cosine,
         |         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rk
         |  FROM r) WHERE rk <= 10
         |ORDER BY query_id, rk""".stripMargin) { (s, d) =>
      matryoshkaTopK(Tables.embeddings(s, d), prefix = 16, depth = 60)
    },

    // ----- PCA-rotated 16-dim prefix ANN + exact rerank (OPQ stage 1) ----
    // What helps the raw-prefix face on embeddings that are NOT
    // matryoshka-trained: rotate into the eigenbasis first, THEN truncate —
    // the leading principal directions concentrate the between-cluster
    // variance a raw prefix spreads across all 64 dims (exactly OPQ's
    // rotation idea, with PCA as the rotation). Measured on this corpus at
    // the same depth-60 shortlist: recall@10 0.55 → 0.675 at 16 dims,
    // 0.805 → 0.945 at 32, and 1.0 at the full rotated 64 (so the residual
    // 16-dim miss is pure truncation: the clusters here are ISOTROPIC
    // gaussians, whose within-cluster neighbor ordering genuinely lives in
    // all 64 dims — no rotation can compress it; anisotropic real
    // embeddings compress better). MatryoshkaSpec gates the lift.
    //
    // Integer exactness: inputs quantized q = FLOOR(v·1024+0.5) (the
    // q_pca_project law), rotation rows quantized ×2⁸ and STAGED via
    // OracleStage (the eigen step is driver-side Jacobi — not
    // DuckDB-expressible, same contract as q_pca_project); rotated
    // coordinate r_c = ⟨p_c, q⟩ is a BIGINT, the shortlist criterion is
    // UNcentered 16-dim squared L2 (centering shifts every vector equally
    // and cancels in differences — dropping it keeps magnitudes ≤ 2⁵⁸,
    // overflow-safe) with (dist, vec_id) ties, and the rerank is the
    // rounded full-dim cosSql. Scale: covariance = d(d+1)/2 bounded
    // aggregate (the PCA contract), rotation broadcast, ONE map pass to
    // 16 coords per vector, bounded kminBy shortlist, 60-row rerank.
    QueryDef(
      "q_ann_pca_prefix",
      s"""WITH q AS (SELECT vec_id, i,
         |                  CAST(FLOOR(CAST(embedding[i] AS DOUBLE) * 1024 + 0.5) AS BIGINT) AS qv
         |           FROM embeddings, generate_series(1, 64) AS t(i)),
         |p AS (SELECT component, dim, p_q FROM ${graft.OracleStage.pq("pca_prefix_proj")}),
         |r AS (SELECT q.vec_id, p.component, CAST(SUM(qv * p_q) AS BIGINT) AS rc
         |      FROM q JOIN p ON p.dim = q.i GROUP BY 1, 2),
         |qr AS (SELECT vec_id AS query_id, component, rc AS qc FROM r
         |       WHERE vec_id % 25 = 0),
         |h AS (SELECT r.vec_id, qr.query_id,
         |             CAST(SUM((rc - qc) * (rc - qc)) AS BIGINT) AS dist16
         |      FROM r JOIN qr USING (component) WHERE r.vec_id <> qr.query_id
         |      GROUP BY 1, 2),
         |sl AS (SELECT query_id, vec_id FROM (
         |         SELECT query_id, vec_id,
         |                ROW_NUMBER() OVER (PARTITION BY query_id
         |                                   ORDER BY dist16, vec_id) AS rn
         |         FROM h) WHERE rn <= 60),
         |qe AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
         |       WHERE vec_id % 25 = 0),
         |re AS (SELECT sl.query_id, sl.vec_id,
         |              ROUND(${cosSql("e.embedding", "qv")}, 9) AS cosine
         |       FROM sl JOIN embeddings e ON e.vec_id = sl.vec_id
         |               JOIN qe ON qe.query_id = sl.query_id)
         |SELECT query_id, rk, vec_id, cosine FROM (
         |  SELECT query_id, vec_id, cosine,
         |         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rk
         |  FROM re) WHERE rk <= 10
         |ORDER BY query_id, rk""".stripMargin) { (s, d) =>
      pcaPrefixTopK(s, Tables.embeddings(s, d), components = 16, depth = 60)
    }
  )

  /** PCA-rotated `components`-dim prefix search + exact rerank with the
    * knobs exposed (MatryoshkaSpec compares it against the raw prefix at
    * equal depth). The rotation is computed from the corpus each run —
    * covariance assembly is the bounded-aggregate PCA contract.
    */
  private[graft] def pcaPrefixTopK(spark: org.apache.spark.sql.SparkSession,
      e: org.apache.spark.sql.DataFrame, components: Int, depth: Int,
      queryPred: org.apache.spark.sql.Column = col("vec_id") % 25 === 0)
      : org.apache.spark.sql.DataFrame = {
    val dim = 64
    val pScale = 256L // 8-bit rotation rows: |r_c| ≤ 2²⁶, dist16 ≤ 2⁵⁸
    // r18: 4-wide fan-out before the Gramian/rotation explodes (see Fanout)
    val q = Fanout(e.select(col("vec_id"), expr(
      "transform(embedding, v -> CAST(FLOOR(CAST(v AS DOUBLE) * 1024 + 0.5D) AS BIGINT))")
      .as("q")))
    // bounded corpus aggregates: Gramian upper triangle + sums + count
    val gram = q.select(explode(expr(
        s"""flatten(transform(sequence(0, ${dim - 1}), i ->
           |  transform(sequence(i, ${dim - 1}), j ->
           |    struct(i AS i, j AS j, element_at(q, i+1) * element_at(q, j+1) AS p))))"""
          .stripMargin)).as("c"))
      .groupBy(col("c.i"), col("c.j")).agg(sum(col("c.p")).as("g"))
      .collect()
    val sums = q.select(posexplode(col("q")).as(Seq("i", "qv")))
      .groupBy("i").agg(sum("qv").as("s")).collect()
    val n = e.count()
    val g = Array.ofDim[Double](dim, dim)
    gram.foreach { r =>
      val (i, j, x) = (r.getInt(0), r.getInt(1), r.getLong(2).toDouble)
      g(i)(j) = x; g(j)(i) = x
    }
    val sArr = Array.ofDim[Long](dim)
    sums.foreach(r => sArr(r.getInt(0)) = r.getLong(1))
    val nd = n.toDouble
    val cov = Array.tabulate(dim, dim)((i, j) =>
      g(i)(j) / nd - (sArr(i) / nd) * (sArr(j) / nd))
    val (_, vecs) = PcaQueries.jacobiEigen(cov)
    val pQ = (0 until components).flatMap { c =>
      (0 until dim).map(i =>
        (c, i + 1, math.floor(vecs(c)(i) * pScale + 0.5).toLong))
    }
    import spark.implicits._
    val p = graft.OracleStage.stage("pca_prefix_proj",
      pQ.toDF("component", "dim", "p_q"))
    // ONE map pass: 16 rotated BIGINT coords per vector
    val r = q.select(col("vec_id"), posexplode(col("q")).as(Seq("i0", "qv")))
      .withColumn("dim", col("i0") + 1)
      .join(broadcast(p), "dim")
      .groupBy("vec_id", "component").agg(sum(expr("qv * p_q")).as("rc"))
    val qr = broadcast(r.filter(queryPred)
      .select(col("vec_id").as("query_id"), col("component"), col("rc").as("qc")))
    val short = r.join(qr, Seq("component"))
      .filter(col("vec_id") =!= col("query_id"))
      .groupBy("query_id", "vec_id")
      .agg(sum((col("rc") - col("qc")) * (col("rc") - col("qc"))).as("dist16"))
      .groupBy("query_id")
      .agg(graft.functions.KMinAgg.kminBy(col("dist16"), col("vec_id"), depth).as("m"))
      .select(col("query_id"), explode(col("m")).as("x"))
      .select(col("query_id"), col("x.id").as("vec_id"))
    val qe = e.filter(queryPred)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
        norm(col("embedding")).as("nq"))
    e.join(broadcast(short), "vec_id")
      .join(broadcast(qe), "query_id")
      .select(col("query_id"), col("vec_id"),
        round(dot(col("embedding"), col("qv")) / (norm(col("embedding")) * col("nq")), 9)
          .as("cosine"))
      .withColumn("rk", row_number().over(
        Window.partitionBy("query_id").orderBy(col("cosine").desc, col("vec_id"))))
      .filter(col("rk") <= 10)
      .select(col("query_id"), col("rk").cast("long").as("rk"),
        col("vec_id"), col("cosine"))
      .orderBy("query_id", "rk")
  }

  /** Truncated-prefix search + full-dim rerank with the prefix length and
    * shortlist depth exposed — MatryoshkaSpec sweeps both to gate the
    * recall laws (longer prefix → better shortlist at fixed depth).
    */
  private[graft] def matryoshkaTopK(e: org.apache.spark.sql.DataFrame,
      prefix: Int, depth: Int,
      queryPred: org.apache.spark.sql.Column = col("vec_id") % 25 === 0)
      : org.apache.spark.sql.DataFrame = {
    val qe = broadcast(e.filter(queryPred)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
        norm(slice(col("embedding"), 1, prefix)).as("pnq"),
        norm(col("embedding")).as("nq")))
    val short = e
      .select(col("vec_id"), slice(col("embedding"), 1, prefix).as("pe"),
        norm(slice(col("embedding"), 1, prefix)).as("pna"))
      .crossJoin(qe).filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        round(dot(col("pe"), slice(col("qv"), 1, prefix)) / (col("pna") * col("pnq"))
          * 1000000000L, 0).cast("long").as("pcos"))
      .groupBy("query_id")
      .agg(graft.functions.KMinAgg.kminBy(-col("pcos"), col("vec_id"), depth).as("m"))
      .select(col("query_id"), explode(col("m")).as("x"))
      .select(col("query_id"), col("x.id").as("vec_id"))
    e.join(broadcast(short), "vec_id")
      .join(broadcast(qe.select(col("query_id"), col("qv"), col("nq"))), "query_id")
      .select(col("query_id"), col("vec_id"),
        round(dot(col("embedding"), col("qv")) / (norm(col("embedding")) * col("nq")), 9)
          .as("cosine"))
      .withColumn("rk", row_number().over(
        Window.partitionBy("query_id").orderBy(col("cosine").desc, col("vec_id"))))
      .filter(col("rk") <= 10)
      .select(col("query_id"), col("rk").cast("long").as("rk"),
        col("vec_id"), col("cosine"))
      .orderBy("query_id", "rk")
  }

  /** Packed 1-bit codes of the corpus: (vec_id, w0, w1) with bit d−1 of
    * the appropriate word set iff component d exceeds the per-dimension
    * midrange (mn+mx)/2 — 32 bits per BIGINT word, sign bit never used.
    */
  private[pipeline] def binaryCodes(
      e: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val x = e.select(col("vec_id"), posexplode(col("embedding")).as(Seq("pos", "vf")))
      .select(col("vec_id"), (col("pos") + 1).cast("int").as("dim"),
        col("vf").cast("double").as("xv"))
    val st = x.groupBy("dim")
      .agg(((min(col("xv")) + max(col("xv"))) / 2).as("thr"))
    x.join(broadcast(st), "dim")
      .groupBy("vec_id")
      .agg(
        sum(when(col("dim") <= 32 && col("xv") > col("thr"),
          expr("shiftleft(CAST(1 AS BIGINT), dim - 1)")).otherwise(lit(0L))).as("w0"),
        sum(when(col("dim") > 32 && col("xv") > col("thr"),
          expr("shiftleft(CAST(1 AS BIGINT), dim - 33)")).otherwise(lit(0L))).as("w1"))
  }

  /** Binary pre-filter + exact rerank at shortlist depth `depth`: the
    * q_ann_binary_hamming pipeline with the oversampling knob exposed —
    * BinaryHammingSpec sweeps it to gate the recall-vs-depth law, and
    * the `ann_ladder` probe face pins `queryPred` to a FIXED batch so the ×10 corpus
    * axis scales the scan without also scaling the query side.
    */
  private[graft] def binaryHammingTopK(e: org.apache.spark.sql.DataFrame,
      depth: Int,
      queryPred: org.apache.spark.sql.Column = col("vec_id") % 25 === 0)
      : org.apache.spark.sql.DataFrame = {
    val b = binaryCodes(e)
    val q = b.filter(queryPred)
      .select(col("vec_id").as("query_id"), col("w0").as("q0"), col("w1").as("q1"))
    val short = b.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        (expr("bit_count(w0 ^ q0)") + expr("bit_count(w1 ^ q1)")).cast("long").as("ham"))
      .groupBy("query_id")
      .agg(graft.functions.KMinAgg.kminBy(col("ham"), col("vec_id"), depth).as("m"))
      .select(col("query_id"), explode(col("m")).as("x"))
      .select(col("query_id"), col("x.id").as("vec_id"))
    val qe = e.filter(queryPred)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
        norm(col("embedding")).as("nq"))
    e.join(broadcast(short), "vec_id")
      .join(broadcast(qe), "query_id")
      .select(col("query_id"), col("vec_id"),
        round(dot(col("embedding"), col("qv")) / (norm(col("embedding")) * col("nq")), 9)
          .as("cosine"))
      .withColumn("rk", row_number().over(
        Window.partitionBy("query_id").orderBy(col("cosine").desc, col("vec_id"))))
      .filter(col("rk") <= 10)
      .select(col("query_id"), col("rk").cast("long").as("rk"),
        col("vec_id"), col("cosine"))
      .orderBy("query_id", "rk")
  }
}
