package graft.pipeline

import graft.SparkSpec
import graft.functions.VectorFunctions._
import org.apache.spark.sql.functions._

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  test("hard negatives: below the dup threshold, in the anchor's cluster, correctly ranked") {
    val e = graft.analytics.Tables.embeddings(spark, sf("sf0.01"))
    val hn = graft.SparkEntry.queries("q_hard_negatives")(spark, sf("sf0.01"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(hn.nonEmpty, "gate corpus must produce hard negatives")
    // every mined negative sits in the band — never a near-dup, never easy
    assert(hn.forall { case (_, _, _, c) => c >= 0.30 && c < 0.42 }, "cosine outside band")
    // per anchor: at most 2, ranked by descending cosine
    hn.groupBy(_._1).foreach { case (a, rows) =>
      assert(rows.length <= 2, s"anchor $a has ${rows.length} negatives")
      val byRank = rows.sortBy(_._2).map(_._4)
      assert(byRank.reverse.sorted.sameElements(byRank.sorted) &&
        byRank.zip(byRank.drop(1)).forall { case (hi, lo) => hi >= lo },
        s"anchor $a ranks out of order: ${rows.toSeq}")
    }
    // no mined pair may also be a SemDeDup near-dup pair (disjoint bands)
    val dups = graft.SparkEntry.queries("q_semdedup_pairs")(spark, sf("sf0.01"))
      .collect().map(r => (r.getLong(1), r.getLong(2))).toSet
    val mined = hn.map { case (a, _, n, _) => (math.min(a, n), math.max(a, n)) }.toSet
    assert(mined.intersect(dups).isEmpty, "a hard negative duplicated a near-dup pair")
    // anchor and negative share a k-means cluster (the blocking contract)
    val asg = SimilarityQueries.kmeansAssignments(e, k = 8)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(hn.forall { case (a, _, n, _) => asg(a) == asg(n) }, "cross-cluster negative")
  }

  test("IVF multi-probe hard negatives: superset of pinned, boundary recall >= pinned") {
    val dir = sf("sf0.01")
    val e = graft.analytics.Tables.embeddings(spark, dir)
    // candidate sets, pre-rank: nprobe=1 IS the pinned face's blocking
    def cand(nprobe: Int): Set[(Long, Long)] =
      SimilarityQueries.hardNegativeCandidatesIvf(e, k = 8, nprobe = nprobe)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val pinned = cand(1)
    val ivf = cand(2)
    assert(pinned.subsetOf(ivf),
      s"IVF candidates must contain the pinned set; missing=${(pinned -- ivf).take(5)}")

    // exact all-pairs band (the recall denominator), computed driver-side
    val vecs = e.select(col("vec_id"), col("embedding"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        d += a(i).toDouble * b(i); na += a(i).toDouble * a(i)
        nb += b(i).toDouble * b(i); i += 1
      }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val ids = vecs.keys.toArray
    val exact = (for {
      a <- ids; b <- ids if a != b
      c = BigDecimal(cos(vecs(a), vecs(b)))
        .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
      if c >= 0.30 && c < 0.42
    } yield (a, b)).toSet
    assert(exact.nonEmpty)

    val recallPinned = (pinned & exact).size.toDouble / exact.size
    val recallIvf = (ivf & exact).size.toDouble / exact.size
    assert(recallIvf >= recallPinned,
      s"IVF recall $recallIvf < pinned recall $recallPinned")
    // non-vacuous: the probe corpus actually HAS boundary pairs, and the
    // second probe recovered real band pairs the pinned face missed
    assert((ivf & exact).size > (pinned & exact).size,
      s"no boundary band pairs recovered (pinned=${(pinned & exact).size}, " +
        s"ivf=${(ivf & exact).size}) — the multi-probe face is vacuous here")
  }

  test("cosine matches a hand-computed value and self-similarity is 1") {
    val df = Seq((Array(1f, 2f, 3f), Array(4f, 5f, 6f))).toDF("a", "b")
    val c = df.select(cosine($"a", $"b").as("c")).collect()(0).getDouble(0)
    assert(math.abs(c - 0.9746318461970762) < 1e-12)
    val self = df.select(cosine($"a", $"a")).collect()(0).getDouble(0)
    assert(math.abs(self - 1.0) < 1e-12)
  }

  test("IVF top-k: exact within probed partitions, high recall on clustered data") {
    // the testdata embeddings' labels are not directional clusters, so IVF
    // recall there is a data property, not a code property. Verify the
    // mechanics on data with REAL clusters: 4 tight clusters around
    // orthogonal axes; probing 2/4 partitions must recover the brute top-k,
    // because all true neighbors share the query's cluster.
    val rnd = new scala.util.Random(7)
    val dim = 8
    def noisyAxis(axis: Int): Array[Float] =
      Array.tabulate(dim)(i => (if (i == axis) 1f else 0f) + (rnd.nextFloat() - 0.5f) * 0.1f)
    val vecs = (0L until 200L).map(i => (i, noisyAxis((i % 4).toInt), (i % 4).toInt))
    val df = vecs.toDF("vec_id", "embedding", "label")
    val q = df.filter($"vec_id" === 0).select($"embedding".as("qv"))

    def topk(base: org.apache.spark.sql.DataFrame) = base
      .filter($"vec_id" =!= 0)
      .crossJoin(broadcast(q))
      .select($"vec_id", round(cosine($"embedding", $"qv"), 9).as("c"))
      .orderBy($"c".desc, $"vec_id").limit(10)
      .collect().map(_.getLong(0)).toSet

    val brute = topk(df)
    // IVF: centroids per label, probe top-2, search only those partitions
    val centroids = df.groupBy("label")
      .agg(sumVectors($"embedding", dim).as("s"), count(lit(1)).as("n"))
      .select($"label", transform($"s", x => x / $"n").as("centroid"))
    val probed = centroids.crossJoin(broadcast(q))
      .select($"label", cosine($"centroid", $"qv").as("cs"))
      .orderBy($"cs".desc).limit(2).select($"label")
    val ivf = topk(df.join(broadcast(probed), "label"))

    val recall = (brute & ivf).size.toDouble / brute.size
    assert(recall >= 0.9, s"IVF recall@10 on clustered data = $recall")

    // and on the driver corpus the rows-only query must at least run and
    // return results drawn from the probed partitions only
    val ivfCorpus = graft.SparkEntry.queries("q_ann_ivf_topk")(spark, sf())
    assert(ivfCorpus.count() == 10)
    assert(ivfCorpus.select(countDistinct($"label")).collect()(0).getLong(0) <= 2)
  }

  test("embedding near-dup LSH: exact-verified subset of brute pairs, high recall") {
    def pairs(name: String) = graft.SparkEntry.queries(name)(spark, sf())
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairs("q_dedup_embedding")
    val lsh = pairs("q_dedup_embedding_lsh")
    assert(exact.nonEmpty)
    assert(lsh.subsetOf(exact), "LSH pairs must be exact-verified (no false positives)")
    // deterministic hyperplanes → stable recall; 10 bands × 3 bits gives
    // ~0.95 expected recall at this corpus's τ=0.42 similarity band
    val recall = lsh.size.toDouble / exact.size
    info(f"embedding near-dup LSH recall = $recall%.3f (${lsh.size}/${exact.size})")
    assert(recall >= 0.9, s"recall ${lsh.size}/${exact.size}")
  }

  test("exact near-dup baseline refuses corpora beyond its broadcast guard") {
    val df = (0L until 10L).map(i => (i, Array.fill(4)(i.toFloat + 1f))).toDF("vec_id", "embedding")
    // under the limit: builds and runs
    assert(SimilarityQueries.exactNearDupPairs(df, minCos = 2.0, maxCorpus = 10).count() == 0)
    // over the limit: refused at build time with the scale-path pointer
    val e = intercept[IllegalArgumentException] {
      SimilarityQueries.exactNearDupPairs(df, minCos = 2.0, maxCorpus = 9)
    }
    assert(e.getMessage.contains("q_dedup_embedding_lsh"))
  }

  test("codegen FloatVectorDot is bit-identical to the declarative HOF dot") {
    val e = graft.analytics.Tables.embeddings(spark, sf())
    val q = e.filter($"vec_id" === 0).select($"embedding".as("qv"))
    val both = e.crossJoin(broadcast(q))
      .select(dot($"embedding", $"qv").as("fast"), dotHof($"embedding", $"qv").as("hof"))
      .filter($"fast" =!= $"hof")
    assert(both.count() == 0)
  }

  test("FloatVectorDot matches the HOF on the divergent cases too: mismatch/null → NULL") {
    val df = Seq(
      (Seq(1.0f, 2.0f), Seq(3.0f, 4.0f)),          // ok: 11.0
      (Seq(1.0f, 2.0f, 9.0f), Seq(3.0f, 4.0f))     // dimension mismatch → NULL
    ).toDF("a", "b")
    val rows = df.select(dot($"a", $"b").as("d"), dotHof($"a", $"b").as("h")).collect()
    assert(rows(0).getDouble(0) == 11.0 && rows(0).getDouble(1) == 11.0)
    assert(rows(1).isNullAt(0) && rows(1).isNullAt(1))

    // null element → NULL (zip_with semantics), via SQL to exercise codegen
    org.apache.spark.sql.graft.VectorExpressions.register(spark)
    val nullElem = spark.sql(
      "SELECT float_vector_dot(array(CAST(1.0 AS FLOAT), CAST(NULL AS FLOAT)), " +
        "array(CAST(2.0 AS FLOAT), CAST(3.0 AS FLOAT))) AS d").collect()(0)
    assert(nullElem.isNullAt(0))
  }

  test("native RpBandKeys is bit-identical to the composed per-plane dot formulation") {
    // the composed form RpBandKeys replaced (bands×bits FloatVectorDot
    // columns + when(>0) bit packing) — kept here as the semantic reference
    def composed(v: org.apache.spark.sql.Column, bands: Int, bits: Int) =
      array((0 until bands).map { b =>
        (0 until bits).map { j =>
          val proj = dot(v, org.apache.spark.sql.graft.VectorExpressions.litFloatArray(
            SimilarityQueries.hyperplanesForTest(b * bits + j)))
          when(proj > 0, lit(1 << j)).otherwise(lit(0)): org.apache.spark.sql.Column
        }.reduce(_ bitwiseOR _)
      }: _*)
    val e = graft.analytics.Tables.embeddings(spark, sf())
    val diff = e.select(
        SimilarityQueries.rpBandKeys($"embedding", bands = 14, rowsPerBand = 4).as("fast"),
        composed($"embedding", 14, 4).as("ref"))
      .filter(not($"fast" <=> $"ref"))
    assert(diff.count() == 0)
    // null element / wrong dimension → NULL array (refuse, never truncate)
    val edge = Seq(Tuple1(Seq(1.0f, 2.0f))).toDF("v")
      .select(SimilarityQueries.rpBandKeys($"v", 2, 3).as("k")).collect()(0)
    assert(edge.isNullAt(0), "64-plane keys over a 2-dim vector must be NULL")
  }

  test("random-hyperplane LSH: near-perfect recall on clustered data, sane on corpus") {
    // clustered synthetic corpus: neighbors share the query's orthant, so
    // signed projections must bucket them together
    val rnd = new scala.util.Random(11)
    val dim = 64
    def member(axis: Int): Array[Float] =
      Array.tabulate(dim)(i => (if (i == axis % dim) 3f else 0f) + (rnd.nextFloat() - 0.5f) * 0.2f)
    val vecs = (0L until 300L).map(i => (i, member((i % 3).toInt)))
    val df = vecs.toDF("vec_id", "embedding")
    val q = df.filter($"vec_id" === 0).select($"embedding".as("qv"))
    def score(base: org.apache.spark.sql.DataFrame) = base
      .filter($"vec_id" =!= 0).crossJoin(broadcast(q))
      .select($"vec_id", round(cosine($"embedding", $"qv"), 9).as("c"))
      .orderBy($"c".desc, $"vec_id").limit(10)
      .collect().map(_.getLong(0)).toSet
    val brute = score(df)
    val sigs = df.withColumn("sig", graft.pipeline.SimilarityQueries.rpSignature($"embedding"))
    val qSig = sigs.filter($"vec_id" === 0).collect()(0).getAs[Int]("sig")
    // candidates share one of the two 8-bit bands with the query
    val cands = sigs.filter($"vec_id" =!= 0)
      .filter(($"sig".bitwiseAND(0xFF) === (qSig & 0xFF)) ||
        (shiftright($"sig", 8).bitwiseAND(0xFF) === ((qSig >> 8) & 0xFF)))
    val lsh = score(cands)
    val recall = (brute & lsh).size.toDouble / brute.size
    assert(recall >= 0.9, s"rp-LSH recall@10 on clustered data = $recall")

    // corpus query runs and returns 5 results per covered query
    val corpus = graft.SparkEntry.queries("q_ann_rp_lsh_topk")(spark, sf())
    val perQuery = corpus.groupBy("query_id").count()
    assert(perQuery.filter($"count" > 5).count() == 0)
  }

  test("float_vector_dot is callable from SQL after registration") {
    org.apache.spark.sql.graft.VectorExpressions.register(spark)
    val d = spark.sql(
      """SELECT float_vector_dot(
        |  array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT)),
        |  array(CAST(3.0 AS FLOAT), CAST(4.0 AS FLOAT))) AS d""".stripMargin)
      .collect()(0).getDouble(0)
    assert(d == 11.0)
  }

  test("centroid computation: sumVectors/count equals elementwise mean") {
    val df = Seq((1, Array(1f, 3f)), (1, Array(3f, 5f))).toDF("label", "v")
    val out = df.groupBy("label")
      .agg(sumVectors($"v", 2).as("s"), count(lit(1)).as("n"))
      .select(transform($"s", x => x / $"n").as("centroid"))
      .collect()(0).getSeq[Double](0)
    assert(out == Seq(2.0, 4.0))
  }

  test("k-means: every vector lands on its nearest final centroid; near-identical vectors co-cluster") {
    // mechanics on data with REAL structure: 8 tight groups, and ids 0..7
    // (the deterministic inits) land one per group so the 8 initial
    // centroids are DISTINCT. Every pair of same-group vectors must then
    // share a cluster: identical-up-to-noise vectors are nearest the same
    // centroid. (With duplicate inits — several near-identical centroids —
    // k-means legitimately splits a tight group; that is a property of
    // Lloyd with bad seeding, not of this implementation.)
    val rnd = new scala.util.Random(11)
    val dim = 16
    val base = Array.tabulate(8)(g => Array.tabulate(dim)(j =>
      if (j == g * 2) 0.4f else 0.01f))
    val vecs = (0 until 32).map { id =>
      val g = id % 8
      (id.toLong, base(g).map(x => x + (rnd.nextFloat() - 0.5f) * 0.02f), g)
    }
    val dir = java.nio.file.Files.createTempDirectory("graft-kmeans").toString
    vecs.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val out = graft.SparkEntry.queries("q_kmeans_assign")(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    (0 until 8).foreach { g =>
      val clusters = (0 until 32).filter(_ % 8 == g).map(id => out(id.toLong)).distinct
      assert(clusters.size == 1, s"group $g split across clusters $clusters")
    }
  }

  test("k-means: duplicate init vectors collapse to the lower cluster id, deterministically") {
    // two identical init vectors give two zero-distance clusters; the
    // argmin tie-break (min cluster id) must send BOTH — and every later
    // member — to the lower id, so the duplicate cluster empties out of the
    // centroid update and the final assignment, rather than flapping
    import spark.implicits._
    val v = Array.fill(8)(0.1f)
    val other = Array.tabulate(8)(j => if (j < 4) 0.5f else 0.01f)
    val vecs = (0 until 8).map { id =>
      // ids 0 and 5 are IDENTICAL inits; remaining inits are `other`+jitter
      val e =
        if (id == 0 || id == 5) v
        else other.map(x => x + id * 0.001f)
      (id.toLong, e, 0)
    } ++ Seq((100L, v.map(x => x + 0.0005f), 0)) // near the duplicate pair
    val dir = java.nio.file.Files.createTempDirectory("graft-kmeans-dup").toString
    vecs.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val out = graft.SparkEntry.queries("q_kmeans_assign")(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(out(0L) == out(5L), "identical vectors split across clusters")
    assert(out(100L) == out(0L), "near-duplicate did not follow the collapsed cluster")
    assert(!out.values.toSet.contains(5), "the duplicate init's cluster id must empty out")
  }

  test("k-means assignment is partitioning-independent") {
    // at 1000 executors the input arrives under an arbitrary partitioning;
    // every k-means quantity is an integer aggregate (min-of-struct argmin,
    // integer sums/floor-divisions — associative and commutative), so the
    // assignment must be bit-identical however the input is split
    val e = graft.analytics.Tables.embeddings(spark, sf())
    def run(d: org.apache.spark.sql.DataFrame) =
      SimilarityQueries.kmeansAssignments(d, k = 8)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(run(e) == run(e.repartition(7)))
    assert(run(e) == run(e.repartition(1)))
  }

  /** The relational Lloyd formulation the native kernels replaced — explode
    * every component, join it to every centroid's on the index, SUM per
    * (vector, cluster), min(struct(dist, cluster)) per vector. Kept here
    * only as the reference the kernels must reproduce bit for bit.
    */
  private object RelationalLloyd {
    type DF = org.apache.spark.sql.DataFrame
    def components(e: DF): DF =
      e.select($"vec_id", posexplode($"embedding").as(Seq("i", "vf")))
        .select($"vec_id", $"i",
          (round($"vf".cast("double") * 10000, 0).cast("long") + 10000L).as("v"))
    def distances(q: DF, cells: DF): DF = {
      val diff = $"v" * 100L - $"c"
      q.join(broadcast(cells), "i").groupBy("vec_id", "cluster").agg(sum(diff * diff).as("dist"))
    }
    def argmin(d: DF): DF =
      d.groupBy("vec_id").agg(min(struct($"dist", $"cluster")).as("m"))
        .select($"vec_id", $"m.cluster".as("cluster"), $"m.dist".as("dist"))
    def centroids(q: DF, k: Int): DF = {
      val c0 = q.filter($"vec_id" < k)
        .select($"vec_id".cast("int").as("cluster"), $"i", ($"v" * 100L).as("c"))
      q.join(argmin(distances(q, c0)).select("vec_id", "cluster"), "vec_id")
        .groupBy("cluster", "i").agg(expr("(SUM(v) * 100) DIV COUNT(1)").as("c"))
    }
  }

  private def rows(df: org.apache.spark.sql.DataFrame): Set[Seq[Any]] =
    df.collect().map(_.toSeq).toSet

  /** Kernel path == relational path on corpus `e`: quantized components,
    * round-2 centroids, the full round-2 distance table, and assignments.
    */
  private def assertKernelLloyd(e: org.apache.spark.sql.DataFrame, k: Int): Unit = {
    val q = SimilarityQueries.quantizedVectors(e)
    val rq = RelationalLloyd.components(e)
    assert(rows(q.select($"vec_id", posexplode($"qv").as(Seq("i", "v")))) == rows(rq),
      "quantizer differs from CAST(ROUND(x*10000, 0) AS BIGINT) + 10000")
    val cent = SimilarityQueries.lloydCentroids(q, k)
      .select(explode($"cent").as("m"))
      .select($"m.cluster".as("cluster"), posexplode($"m.c").as(Seq("i", "c")))
    val rcent = RelationalLloyd.centroids(rq, k)
    assert(rows(cent) == rows(rcent), "round-2 centroids differ")
    val dist = SimilarityQueries.kmeansDistances(e, k)
      .select($"vec_id", explode($"dc").as("m"))
      .select($"vec_id", $"m.cluster".as("cluster"), $"m.dist".as("dist"))
    val rdist = RelationalLloyd.distances(rq, rcent)
    assert(rows(dist) == rows(rdist), "round-2 distance table differs")
    assert(rows(SimilarityQueries.kmeansAssignments(e, k)) == rows(RelationalLloyd.argmin(rdist)),
      "assignments differ")
  }

  test("k-means kernels reproduce the relational Lloyd: random corpora") {
    Seq((1, 60, 16), (2, 200, 64), (3, 41, 7)).foreach { case (seed, n, dim) =>
      val rnd = new scala.util.Random(seed)
      val e = (0 until n).map(id =>
        (id.toLong, Array.fill(dim)((rnd.nextGaussian() * 0.3).toFloat))).toDF("vec_id", "embedding")
      assertKernelLloyd(e, k = 8)
    }
  }

  test("k-means kernels reproduce the relational Lloyd: x*10^4 on the .5 HALF_UP boundary, both signs") {
    // x = m/32 (m odd) is a float whose x*10^4 is EXACTLY m*312.5; its float
    // neighbours sit a hair either side of the boundary
    val rnd = new scala.util.Random(7)
    val onBoundary = (1 to 63 by 2).map(_ / 32f)
    val values = onBoundary.flatMap(x => Seq(x, -x, Math.nextUp(x), Math.nextDown(x),
      -Math.nextUp(x), -Math.nextDown(x))) ++
      Seq(0f, -0f, 0.00005f, -0.00005f, 0.00015f, -0.00015f, 1e-9f, -1e-9f) ++
      Seq.fill(400)((rnd.nextGaussian() * math.pow(10, rnd.nextInt(6) - 4)).toFloat)
    val dim = 8
    val e = values.grouped(dim).filter(_.size == dim).zipWithIndex
      .map { case (v, id) => (id.toLong, v.toArray) }.toSeq.toDF("vec_id", "embedding")
    assert(onBoundary.forall(x => math.abs(x.toDouble * 10000) % 1 == 0.5), "boundary fixture")
    assertKernelLloyd(e, k = 4)
  }

  test("k-means kernels reproduce the relational Lloyd: ties, an emptied cluster, NULL elements") {
    // a vector equidistant from two centroids takes the LOWER cluster, in
    // the full pipeline (vec 2 ties the inits 0 and 1 in round 1) ...
    val tie = Seq((0L, Array(0.1f, 0f)), (1L, Array(-0.1f, 0f)), (2L, Array(0f, 0.2f)),
      (3L, Array(0f, -0.2f)), (4L, Array(0.12f, 0.01f))).toDF("vec_id", "embedding")
    assertKernelLloyd(tie, k = 2)
    // ... and against explicit centroids: vec 0 = (0.1, 0) quantizes to
    // (11000, 10000), ×100 = (1100000, 1000000) — 10^10 from clusters 3
    // and 5, 1.04·10^10 from cluster 1
    val q = SimilarityQueries.quantizedVectors(tie)
    val cells = Seq((5, 0, 1000000L), (5, 1, 1000000L), (3, 0, 1100000L), (3, 1, 900000L),
      (1, 0, 1000000L), (1, 1, 1020000L)).toDF("cluster", "i", "c")
    val kern = SimilarityQueries.centroidDistances(q, SimilarityQueries.centroidArray(cells))
      .select($"vec_id", array_min($"dc").as("m"))
      .select($"vec_id", $"m.cluster".as("cluster"), $"m.dist".as("dist"))
    val rel = RelationalLloyd.argmin(RelationalLloyd.distances(RelationalLloyd.components(tie), cells))
    assert(rows(kern) == rows(rel))
    // vec 0 = (0.1, 0) → v = (11000, 10000): clusters 5 and 1 both at 10^10
    assert(rows(kern.filter($"vec_id" === 0)) == Set(Seq(0L, 3, 10000000000L)))

    // identical inits 0 and 5: cluster 5 is empty after round 1 and must
    // not survive as a centroid
    val v = Array.fill(8)(0.1f)
    val dup = ((0 until 8).map { id =>
      (id.toLong, if (id == 0 || id == 5) v else Array.tabulate(8)(j => (if (j < 4) 0.5f else 0.01f) + id * 0.001f))
    } :+ ((100L, v.map(_ + 0.0005f)))).toDF("vec_id", "embedding")
    assertKernelLloyd(dup, k = 8)
    assert(!SimilarityQueries.lloydCentroids(SimilarityQueries.quantizedVectors(dup), 8)
      .select(explode($"cent.cluster")).collect().map(_.getInt(0)).contains(5))

    // NULL elements (in an init vector and a later one), a NULL and an
    // empty vector: NULL components are skipped by SUM in both formulations
    val rnd = new scala.util.Random(5)
    def vec(nullAt: Set[Int]) = Seq.tabulate(6)(j =>
      if (nullAt(j)) None else Some((rnd.nextGaussian() * 0.3).toFloat))
    val withNulls = ((0 until 30).map(id => (id.toLong, Option(vec(
      if (id == 1) Set(2) else if (id == 20) Set(0, 5) else Set.empty)))) ++
      Seq((30L, None), (31L, Some(Seq.empty[Option[Float]]))))
      .toDF("vec_id", "embedding")
    assertKernelLloyd(withNulls, k = 4)
  }

  test("SemDeDup pairs: exact-cosine subset of the all-pairs baseline, recall is the blocking trade") {
    def pairSet(name: String) =
      graft.SparkEntry.queries(name)(spark, sf())
        .select("vec_a", "vec_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairSet("q_dedup_embedding")
    val sem = pairSet("q_semdedup_pairs")
    // within-cluster re-scoring uses the same exact cosine → no false
    // positives are possible; recall < 1 is the cluster-blocking trade
    // (cross-cluster near-dups are invisible BY DESIGN — τ=0.42 pairs are
    // correlated, not near-identical, and can straddle centroid borders)
    assert(sem.subsetOf(exact), s"false positives: ${sem -- exact}")
    assert(exact.nonEmpty)
    val recall = sem.size.toDouble / exact.size
    assert(recall >= 0.3, s"SemDeDup recall $recall collapsed (${sem.size}/${exact.size})")
  }

  /** Quantized integer components of the corpus embeddings — the exact
    * representation q_ann_pq_adc ranks in (×10000, +10000, per-dim).
    */
  private def quantized(dir: String) =
    graft.analytics.Tables.embeddings(spark, dir)
      .select($"vec_id", posexplode($"embedding").as(Seq("i", "vf")))
      .select($"vec_id", $"i",
        (round($"vf".cast("double") * 10000, 0).cast("long") + 10000L).as("v"))

  test("PQ-ADC + refine: distances are exact, self ranks first, recall beats chance") {
    val out = graft.SparkEntry.queries("q_ann_pq_adc")(spark, sf())
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    // the refine stage outputs EXACT quantized-L2 distances — check every
    // returned (vec_id, dist) against an independent brute-force
    val comp = quantized(sf())
    val qv = comp.filter($"vec_id" === 42L).select($"i", $"v".as("qv"))
    val exact = comp.join(qv, "i")
      .groupBy("vec_id")
      .agg(sum(($"v" - $"qv") * ($"v" - $"qv")).as("dist"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    out.foreach { case (id, dist) =>
      assert(exact(id) == dist, s"vec $id: refine dist $dist != exact ${exact(id)}")
    }
    assert(out.head == ((42L, 0L)), "the query itself must rank first at distance 0")
    // recall floor vs the exact top-10: these embeddings are near-isotropic
    // noise (the hardest regime for PQ — cell distortion is comparable to
    // neighbor gaps), so the bar is beats-chance-clearly, not clustered-
    // data recall: a random 50-of-500 shortlist would hit 10% in
    // expectation; the measured shortlist recall here is 40%
    val exactTop10 = exact.toSeq.sortBy { case (id, d) => (d, id) }.take(10).map(_._1).toSet
    val got = out.map(_._1).toSet
    val recall = (exactTop10 & got).size.toDouble / 10
    assert(recall >= 0.3, s"PQ+refine recall $recall vs exact top-10")
  }

  test("PQ-ADC + refine recovers planted clusters completely") {
    // on data with real structure (4 tight clusters on separated axes) the
    // PQ cells align with clusters and the shortlist contains the whole
    // true neighborhood — recall is a data property, the mechanics must
    // deliver 100% here
    val rnd = new scala.util.Random(11)
    val dim = 64
    def member(axis: Int): Array[Float] =
      Array.tabulate(dim)(i => (if (i == axis * 8) 5f else 0f) + (rnd.nextFloat() - 0.5f) * 0.2f)
    val dir = java.nio.file.Files.createTempDirectory("graft-pq").toString
    (0L until 200L).map(i => (i, member((i % 4).toInt), (i % 4).toInt))
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val out = graft.SparkEntry.queries("q_ann_pq_adc")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(out.head._1 == 42L && out.head._2 == 0L)
    // query 42 belongs to cluster 42 % 4 = 2; every neighbor must too
    out.foreach { case (id, _) =>
      assert(id % 4 == 2, s"vec $id from cluster ${id % 4} leaked into cluster-2 top-k")
    }
    assert(out.length == 10)
  }

  test("IVFPQ: exact within probed lists, self first, results confined to nprobe lists") {
    val out = graft.SparkEntry.queries("q_ann_ivfpq_topk")(spark, sf())
      .collect()
      .map(r => (r.getLong(0), r.getAs[Number]("label").longValue, r.getLong(2)))
    assert(out.length == 10)
    // the refine stage outputs EXACT quantized-L2 distances
    val comp = quantized(sf())
    val qv = comp.filter($"vec_id" === 42L).select($"i", $"v".as("qv"))
    val exact = comp.join(qv, "i")
      .groupBy("vec_id")
      .agg(sum(($"v" - $"qv") * ($"v" - $"qv")).as("dist"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    out.foreach { case (id, _, dist) =>
      assert(exact(id) == dist, s"vec $id: refine dist $dist != exact ${exact(id)}")
    }
    // the codes scan was pruned: every result comes from <= nprobe=2 lists
    val lists = out.map(_._2).toSet
    assert(lists.size <= 2, s"results from ${lists.size} lists: $lists")
    // self-first holds WHEN the query's own list survives the coarse
    // prune (on isotropic noise the coarse ordering is a data property —
    // the planted-cluster test below pins the unconditional form)
    val labels = graft.analytics.Tables.embeddings(spark, sf())
      .select($"vec_id", $"label".cast("long").as("label"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    if (lists.contains(labels(42L)))
      assert(out.head._1 == 42L && out.head._3 == 0L,
        s"own list probed but self not first: ${out.head}")
    // within the probed lists the composition is near-exact: the ADC
    // shortlist (R=50) contains the true in-list neighborhood and refine
    // re-ranks it exactly (measured 1.0 at sf0.01; floor at 0.8)
    val inListTop10 = exact.toSeq
      .filter { case (id, _) => lists.contains(labels(id)) }
      .sortBy { case (id, d) => (d, id) }.take(10).map(_._1).toSet
    val inListRecall = (inListTop10 & out.map(_._1).toSet).size.toDouble / 10
    assert(inListRecall >= 0.8, s"in-list recall $inListRecall")
  }

  test("IVFPQ recall matches-or-beats plain PQ on clustered data (IVF's premise)") {
    // on the near-isotropic gate corpus nprobe=2 of 10 lists CAPS recall
    // (the exact top-10 spreads over 8 labels: 0.3 vs flat PQ's 0.7 — a
    // data property). On clustered data — what IVF assumes — the probed
    // lists hold the whole neighborhood, so the composition must match or
    // beat the flat scan while reading ~nprobe/nlists of the codes.
    val rnd = new scala.util.Random(11)
    val dim = 64
    def member(axis: Int): Array[Float] =
      Array.tabulate(dim)(i => (if (i == axis * 8) 5f else 0f) + (rnd.nextFloat() - 0.5f) * 0.2f)
    val dir = java.nio.file.Files.createTempDirectory("graft-ivfpq").toString
    (0L until 200L).map(i => (i, member((i % 4).toInt), (i % 4).toInt))
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val exact = quantized(dir).join(
        quantized(dir).filter($"vec_id" === 42L).select($"i", $"v".as("qv")), "i")
      .groupBy("vec_id")
      .agg(sum(($"v" - $"qv") * ($"v" - $"qv")).as("dist"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val exactTop10 = exact.toSeq.sortBy { case (id, d) => (d, id) }
      .take(10).map(_._1).toSet
    val ivfpq = graft.SparkEntry.queries("q_ann_ivfpq_topk")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(2)))
    val pq = graft.SparkEntry.queries("q_ann_pq_adc")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(ivfpq.head == ((42L, 0L)), s"self not first: ${ivfpq.head}")
    ivfpq.foreach { case (id, _) =>
      assert(id % 4 == 2, s"vec $id from cluster ${id % 4} leaked through the prune")
    }
    val recallIvfpq = (exactTop10 & ivfpq.map(_._1).toSet).size.toDouble / 10
    val recallPq = (exactTop10 & pq.map(_._1).toSet).size.toDouble / 10
    assert(recallIvfpq >= recallPq,
      s"IVFPQ recall $recallIvfpq < flat-PQ recall $recallPq on clustered data")
    assert(recallIvfpq >= 0.9, s"IVFPQ recall $recallIvfpq on clustered data")
  }

  test("batched IVFPQ: per-query top-10s with exact refine distances, ranks consistent") {
    val out = graft.SparkEntry.queries("q_ann_ivfpq_batch")(spark, sf())
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val nVecs = graft.analytics.Tables.embeddings(spark, sf()).count()
    val queries = out.map(_._1).distinct.sorted
    assert(queries.length == ((nVecs + 24) / 25).toInt,
      s"expected every 25th vector as a query, got ${queries.length} of $nVecs")
    // every refine distance is the EXACT quantized L2 to its query
    val comp = quantized(sf())
    val qcomp = comp.filter($"vec_id" % 25 === 0)
      .select($"vec_id".as("query_id"), $"i", $"v".as("qv"))
    val exact = comp.join(qcomp, "i")
      .groupBy("query_id", "vec_id")
      .agg(sum(($"v" - $"qv") * ($"v" - $"qv")).as("dist"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    out.foreach { case (q, _, id, dist) =>
      assert(exact((q, id)) == dist,
        s"query $q vec $id: batch dist $dist != exact ${exact((q, id))}")
    }
    // per query: contiguous ranks from 1, distances nondecreasing in rank
    out.groupBy(_._1).foreach { case (q, rows) =>
      val sorted = rows.sortBy(_._2)
      assert(sorted.map(_._2).toSeq == (1L to sorted.length).toSeq,
        s"query $q ranks not contiguous: ${sorted.map(_._2).toSeq}")
      val keys = sorted.map(r => (r._4, r._3)).toSeq
      assert(keys.zip(keys.drop(1)).forall { case (a, b) =>
        a._1 < b._1 || (a._1 == b._1 && a._2 < b._2)
      }, s"query $q not ordered by (dist, vec)")
      // a query surviving its own coarse prune must rank itself first
      if (rows.exists(_._3 == q)) {
        assert(sorted.head._3 == q && sorted.head._4 == 0L,
          s"query $q present but not first at 0: ${sorted.head}")
      }
    }
  }
}
