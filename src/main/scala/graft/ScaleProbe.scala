package graft

import org.apache.spark.sql.functions._

/** ≥10× scale datapoint for the dedup family (r6 verdict item 6).
  *
  * Builds a corpus `SPARK_GRAFT_SCALE_REPLICAS`× the size of
  * `SPARK_GRAFT_SCALE_SRC` (default sf0.1 ×10 ≈ sf1: 50k docs / 20k
  * vectors), DECORRELATED so replicas are not near-dups of each other —
  * replica-k documents tag every token with `r<k>` (disjoint shingle
  * space) and replica-k embeddings apply a replica-seeded random SIGN FLIP
  * per dimension — signs square to 1, so every intra-replica cosine is
  * preserved bit-for-bit while cross-replica directions decorrelate (a
  * rotation does NOT work here: the synthetic vectors are smooth, so a
  * shifted copy stays similar to every replica of its own cluster and
  * cross-replica near-dup pairs explode). Postings, band-bucket
  * populations, and
  * per-replica pair structure therefore grow LINEARLY in the replica
  * count, which is exactly the axis the skew-guard/banding cost model
  * claims to be linear in — a super-linear runtime here means the model
  * is wrong, not the data.
  *
  * Runs the real registered queries (`SparkEntry.queries`, staging off —
  * full candidate generation), one rep each after cache-clear + GC, and
  * reports per-query seconds + minhash hot-bucket stats as ONE JSON line
  * (also written to bench/scale_probe.json). Record results in
  * BASELINE.md.
  */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val src = sys.env.getOrElse("SPARK_GRAFT_SCALE_SRC", "/root/testdata/sf0.1")
    val replicas = GraftSession.intEnv("SPARK_GRAFT_SCALE_REPLICAS", 10)
    // shuffle partitions default to the core count like Bench, but are
    // overridable: intermediate volume grows with the corpus while a fixed
    // partition count eventually spills — on a cluster AQE re-sizes this,
    // locally the probe lets you measure the effect directly
    val spark = GraftSession("spark.sql.shuffle.partitions" ->
      GraftSession.intEnv("SPARK_GRAFT_SHUFFLE_PARTITIONS", GraftSession.cpus).toString)
    val dir = new java.io.File(s"target/scale_probe_x$replicas").getAbsolutePath

    // SPARK_GRAFT_SCALE_REUSE=1 skips the corpus build when this replica
    // count's parquet already exists (iterating on one knob at a time);
    // SPARK_GRAFT_SCALE_QUERIES=a,b,c restricts the timed set
    val reuse = sys.env.get("SPARK_GRAFT_SCALE_REUSE").contains("1") &&
      new java.io.File(s"$dir/documents.parquet").exists() &&
      new java.io.File(s"$dir/embeddings.parquet").exists()

    if (!reuse) {
      val docs = spark.read.parquet(s"$src/documents.parquet")
      (0 until replicas).map { k =>
        if (k == 0) docs
        else docs.select(
          (col("doc_id") + lit(k * 10000000L)).as("doc_id"),
          regexp_replace(col("text"), "(\\S+)", s"r$k$$1").as("text"),
          col("lang"), col("source"), col("n_chars"))
      }.reduce(_ unionByName _)
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")

      val emb = spark.read.parquet(s"$src/embeddings.parquet")
      (0 until replicas).map { k =>
        if (k == 0) emb
        else emb.select(
          (col("vec_id") + lit(k * 10000000L)).as("vec_id"),
          expr(s"transform(embedding, (x, i) -> IF(pmod(hash(i, $k), 2) = 0, x, -x))")
            .as("embedding"),
          col("label"))
      }.reduce(_ unionByName _)
        .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    }

    // warm up IO + JIT before timing
    spark.read.parquet(s"$dir/documents.parquet").count()
    spark.read.parquet(s"$dir/embeddings.parquet").count()

    val allTargets = Seq("q_dedup_minhash_lsh", "q_dedup_simhash",
      "q_dedup_ngram_jaccard", "q_dedup_embedding_lsh", "q_corpus_clean")
    val targets = sys.env.get("SPARK_GRAFT_SCALE_QUERIES")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(allTargets)
    val timed = targets.map { name =>
      spark.catalog.clearCache(); System.gc()
      val t0 = System.nanoTime()
      val n = SparkEntry.queries(name)(spark, dir).count()
      (name, (System.nanoTime() - t0) / 1e9, n)
    }

    // hot-bucket profile of the minhash banding at this scale: how many
    // buckets trip the skew guard, the worst population, and the pair count
    // the guard saved (B² star vs linear chain)
    val bands = pipeline.DedupQueries.minhashBands(
      pipeline.DedupQueries.minhashSignature(
        pipeline.DedupQueries.shinglePostings(
          spark.read.parquet(s"$dir/documents.parquet"))))
    def hotStats(banded: org.apache.spark.sql.DataFrame, idCol: String) =
      pipeline.LshBlocking
        .bucketSkewStats(banded, Seq("band_id", "band_key"), idCol)
        .agg(count(lit(1)).as("hot_buckets"),
          coalesce(max(col("bucket_size")), lit(0L)).cast("long").as("max_bucket"),
          coalesce(sum(col("pairs_unguarded")), lit(0L)).cast("long").as("pairs_unguarded"),
          coalesce(sum(col("pairs_guarded")), lit(0L)).cast("long").as("pairs_guarded"))
        .collect()(0)
    val hot = hotStats(bands, "doc_id")
    // same profile for the adaptive RP-LSH embedding banding
    val embAll = spark.read.parquet(s"$dir/embeddings.parquet")
    val (bits, nBands) = pipeline.SimilarityQueries.adaptiveBanding(embAll.count())
    val embBands = embAll
      .select(col("vec_id"),
        posexplode(pipeline.SimilarityQueries.rpBandKeys(
          col("embedding"), bands = nBands, rowsPerBand = bits))
          .as(Seq("band_id", "band_key")))
    val embHot = hotStats(embBands, "vec_id")

    // optional recall stage: SPARK_GRAFT_SCALE_RECALL_TAU=0.8 measures the
    // adaptive LSH's recall against the EXACT all-pairs baseline at that
    // threshold on the scaled corpus (the baseline's O(n²) guard admits it
    // up to 100k vectors) — the datapoint behind the "sized for high-τ
    // dedup" claim in adaptiveBanding's scaladoc
    val recallJson = GraftSession.doubleOpt("SPARK_GRAFT_SCALE_RECALL_TAU").map { tau =>
      val key = (r: org.apache.spark.sql.Row) => (r.getLong(0), r.getLong(1))
      val exact = pipeline.SimilarityQueries
        .exactNearDupPairs(embAll, minCos = tau)
        .collect().map(key).toSet
      val lsh = pipeline.SimilarityQueries
        .embeddingNearDupPairsLsh(embAll, minCos = tau)
        .collect().map(key).toSet
      require(lsh.subsetOf(exact), "LSH pairs must be exact-verified")
      val recall = if (exact.isEmpty) 1.0 else lsh.size.toDouble / exact.size
      s""","recall_tau":$tau,"recall_exact_pairs":${exact.size},""" +
        s""""recall_lsh_pairs":${lsh.size},"recall":${BigDecimal(recall)
          .setScale(4, BigDecimal.RoundingMode.HALF_UP)}"""
    }.getOrElse("")

    // PLANTED-pair recall: the synthetic corpus has no pairs above cosine
    // 0.6, so exact-baseline recall at τ ≥ 0.8 is vacuous there (and the
    // exact baseline is O(n²)-guarded anyway). SPARK_GRAFT_SCALE_PLANT_TAU
    // plants SPARK_GRAFT_SCALE_PLANT_N controlled perturbations — copy_i =
    // cos(α)·v̂_i + sin(α)·û_i with û_i a seeded random unit vector ⊥ v_i,
    // α spread so pair cosines cover [τ, 1) — and measures what fraction of
    // the planted (known-similarity, exactly re-scored) pairs the adaptive
    // LSH emits at τ. This is the NON-VACUOUS datapoint behind the "14
    // bands clear ≥90% at τ=0.8" scaladoc claim.
    val plantJson = GraftSession.doubleOpt("SPARK_GRAFT_SCALE_PLANT_TAU").map { tau =>
      val nPlant = GraftSession.intEnv("SPARK_GRAFT_SCALE_PLANT_N", 500)
      val base = embAll.orderBy("vec_id").limit(nPlant)
        .select("vec_id", "embedding").collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
      // beyond any replica id offset (replica k shifts ids by k·10⁷, so at
      // ≥100 replicas a fixed 10⁹ would collide — scale with the count)
      val plantOffset = math.max(1000000000L, (replicas + 1) * 10000000L)
      val rng = new scala.util.Random(977)
      def dotD(a: Array[Float], b: Array[Float]): Double =
        a.indices.foldLeft(0.0)((s, i) => s + a(i).toDouble * b(i).toDouble)
      val planted = base.zipWithIndex.map { case ((id, v), k) =>
        val nv = math.sqrt(dotD(v, v))
        // target cosines sweep [tau, 1) deterministically across the set
        val target = tau + (1.0 - tau) * (k.toDouble / math.max(1, nPlant))
        val alpha = math.acos(target)
        val g = Array.fill(v.length)(rng.nextGaussian())
        val gv = g.indices.foldLeft(0.0)((s, i) => s + g(i) * v(i) / nv)
        val u = g.indices.map(i => g(i) - gv * v(i) / nv).toArray
        val nu = math.sqrt(u.foldLeft(0.0)((s, x) => s + x * x))
        val copy = v.indices.map(i =>
          (math.cos(alpha) * v(i) / nv + math.sin(alpha) * u(i) / nu).toFloat).toArray
        // EXACT pair cosine after float32 rounding, same arithmetic as the
        // re-score (float→double products, sequential sum, round 9 dp)
        val cos = BigDecimal(dotD(v, copy) /
          (math.sqrt(dotD(v, v)) * math.sqrt(dotD(copy, copy))))
          .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
        (id, id + plantOffset, copy, cos)
      }
      val truth = planted.filter(_._4 >= tau).map(p => (p._1, p._2)).toSet
      // schema-faithful planted rows: build a template from a REAL collected
      // row and replace only vec_id and embedding, so the label column (and
      // any future column) keeps its actual type
      val template = embAll.limit(1).collect()(0)
      val vecIdIdx = embAll.schema.fieldIndex("vec_id")
      val embIdx = embAll.schema.fieldIndex("embedding")
      val plantedDf = spark.createDataFrame(
        spark.sparkContext.parallelize(planted.toIndexedSeq.map { p =>
          val vals = template.toSeq.toArray
          vals(vecIdIdx) = p._2
          vals(embIdx) = p._3.toSeq
          org.apache.spark.sql.Row.fromSeq(vals.toIndexedSeq)
        }, 4),
        embAll.schema)
      val augmented = embAll.unionByName(plantedDf)
      val found = pipeline.SimilarityQueries
        .embeddingNearDupPairsLsh(augmented, minCos = tau)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val hit = truth.count(found.contains)
      val recall = if (truth.isEmpty) 1.0 else hit.toDouble / truth.size
      s""","plant_tau":$tau,"plant_pairs":${truth.size},"plant_found":$hit,""" +
        s""""plant_recall":${BigDecimal(recall).setScale(4, BigDecimal.RoundingMode.HALF_UP)}"""
    }.getOrElse("")

    def fmt(v: Double) = BigDecimal(v).setScale(4, BigDecimal.RoundingMode.HALF_UP).toString
    val qs = timed.map { case (k, secs, n) =>
      "\"" + k + "\":{\"sec\":" + fmt(secs) + ",\"rows\":" + n + "}"
    }.mkString("{", ",", "}")
    val json = s"""{"metric":"scale_probe","replicas":$replicas,"src":"$src","queries":$qs,""" +
      s""""minhash_hot_buckets":${hot.getAs[Long]("hot_buckets")},""" +
      s""""minhash_max_bucket":${hot.getAs[Long]("max_bucket")},""" +
      s""""minhash_pairs_unguarded":${hot.getAs[Long]("pairs_unguarded")},""" +
      s""""minhash_pairs_guarded":${hot.getAs[Long]("pairs_guarded")},""" +
      s""""emb_bits":$bits,"emb_bands":$nBands,""" +
      s""""emb_hot_buckets":${embHot.getAs[Long]("hot_buckets")},""" +
      s""""emb_max_bucket":${embHot.getAs[Long]("max_bucket")},""" +
      s""""emb_pairs_unguarded":${embHot.getAs[Long]("pairs_unguarded")},""" +
      s""""emb_pairs_guarded":${embHot.getAs[Long]("pairs_guarded")}$recallJson$plantJson}"""
    println(json)
    // recall/plant runs default to their OWN artifact names: a recall-only
    // invocation (restricted query set) must never overwrite the timing
    // artifact bench/scale_probe_x<k>.json with an empty "queries" map
    val defaultOut =
      if (sys.env.contains("SPARK_GRAFT_SCALE_PLANT_TAU"))
        s"bench/scale_probe_plant_x$replicas.json"
      else if (sys.env.contains("SPARK_GRAFT_SCALE_RECALL_TAU"))
        s"bench/scale_probe_recall_x$replicas.json"
      else s"bench/scale_probe_x$replicas.json"
    val outPath = java.nio.file.Paths.get(
      sys.env.getOrElse("SPARK_GRAFT_SCALE_OUT", defaultOut))
    Option(outPath.getParent).foreach(java.nio.file.Files.createDirectories(_))
    java.nio.file.Files.write(outPath, json.getBytes("UTF-8"))
    spark.stop()
  }
}
