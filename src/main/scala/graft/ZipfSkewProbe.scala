package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Adversarial-skew probe: makes the skew guards FIRE, then proves them
  * (r11 verdict item 2 — every ×10–×100 probe so far reported "zero hot
  * buckets", so the salted/star guards had never activated outside unit
  * tests).
  *
  * Three real-world pathologies are planted at ×`SPARK_GRAFT_SKEW_REPLICAS`
  * (default 10) on top of the sf0.1 corpus:
  *
  *  - NAME-FREQUENCY skew (the "thousand J. SMITHs"): 5% of customers draw
  *    their name from 100 hot entities with P(h) ∝ 1/h (inverse-CDF Zipf:
  *    h = ⌊100^u⌋), half of them with one hash-chosen digit substituted —
  *    so FastSS deletion-variant buckets of the head entity reach ~10³
  *    members at ×10 (vs cell = 256), and the bucket population GROWS with
  *    the corpus while the background (3000·k cold entities) stays flat.
  *    Exercises [[pipeline.LshBlocking.saltedBucketPairs]] in
  *    q_fuzzy_match_name / q_er_clusters.
  *  - BOILERPLATE documents: 3% of docs replaced by one shared 60-token
  *    boilerplate plus a doc-unique token (license headers, error pages) —
  *    pairwise Jaccard ≈ 0.94, so every minhash band collides and the
  *    band buckets hold the whole 15k-doc family. Exercises
  *    [[pipeline.LshBlocking.boundedBucketPairs]] (the star guard) in
  *    q_dedup_minhash_lsh.
  *  - DEFAULT-EMBEDDING vectors: 5% of vectors replaced by vec 0's
  *    embedding (a failed encoder emitting its default output) — identical
  *    vectors share every RP-LSH band key, one global mega-bucket.
  *    Exercises the star guard in q_dedup_embedding_lsh.
  *
  * What is asserted (and written to bench/skew_probe_x<k>.json):
  *  1. ACTIVATION — each blocking's hot-bucket stats are nonzero at ×k
  *     (variant buckets exceed the salt cell; band buckets trip tagHot).
  *  2. EXACTNESS — the salted fuzzy pairs equal the UNGUARDED plain
  *     self-join's pair set at full ×k (the salt is recall-preserving by
  *     construction; this is the on-data proof under real skew). The star
  *     guard is compared at ×1 (its unguarded face is quadratic in the hot
  *     family, which is the point) on the quantity dedup actually serves:
  *     DUP-MEMBERSHIP — the set of ids appearing in any verified pair —
  *     which the star preserves when hot-bucket members are mutual dups.
  *  3. BOUNDEDNESS — the worst reducer cell after the guard: cell² pairs
  *     (salt) / linear star arms, vs the B² a hot bucket would land on one
  *     reducer unguarded.
  *
  * The registered faces themselves are timed one rep each on the skewed
  * corpus (cache-clear + GC first), so the artifact also records what the
  * guards COST under the adversarial distribution they exist for.
  */
object ZipfSkewProbe {

  private def unguardedPairs(banded: DataFrame, keyCols: Seq[String],
      idCol: String): DataFrame = {
    val joinCond = (keyCols.map(k => col(s"x.$k") === col(s"y.$k")) :+
      (col(s"x.$idCol") < col(s"y.$idCol"))).reduce(_ && _)
    banded.as("x").join(banded.as("y"), joinCond)
      .select(col(s"x.$idCol").as("id_a"), col(s"y.$idCol").as("id_b"))
      .distinct()
  }

  private def members(pairs: DataFrame, a: String, b: String): DataFrame =
    pairs.select(explode(array(col(a), col(b))).as("id")).distinct()

  /** Symmetric distinct-set difference count — 0 means set equality. */
  private def setDiff(l: DataFrame, r: DataFrame): Long =
    l.exceptAll(r).count() + r.exceptAll(l).count()

  def main(args: Array[String]): Unit = {
    val src = sys.env.getOrElse("SPARK_GRAFT_SKEW_SRC", "/root/testdata/sf0.1")
    val replicas = GraftSession.intEnv("SPARK_GRAFT_SKEW_REPLICAS", 10)
    val spark = GraftSession("spark.sql.shuffle.partitions" ->
      GraftSession.intEnv("SPARK_GRAFT_SHUFFLE_PARTITIONS", GraftSession.cpus).toString)

    val dirBig = buildCorpus(spark, src, replicas)
    val dirOne = buildCorpus(spark, src, 1)

    // ---- 1. registered faces, timed on the adversarial corpus ----
    val faces = Seq("q_fuzzy_match_name", "q_er_clusters",
      "q_dedup_minhash_lsh", "q_dedup_embedding_lsh")
    val timed = faces.map { name =>
      spark.catalog.clearCache(); System.gc()
      val t0 = System.nanoTime()
      val n = SparkEntry.queries(name)(spark, dirBig).count()
      val secs = (System.nanoTime() - t0) / 1e9
      println(f"skew-probe face $name: $secs%.1f s, $n rows")
      (name, secs, n)
    }

    // ---- 2. activation stats at ×k ----
    val custBig = spark.read.parquet(s"$dirBig/customer.parquet")
      .select(col("c_custkey"), col("c_name"))
    val variants = pipeline.DedupQueries.nameVariants(custBig)
    val cell = 256
    val vb = variants.groupBy("variant").agg(count(lit(1)).as("b"))
      .agg(coalesce(sum(when(col("b") > cell, 1L)), lit(0L)).as("over_cell"),
        max(col("b")).as("max_bucket"),
        coalesce(sum(when(col("b") > cell, col("b") * (col("b") - 1) / 2)), lit(0L))
          .cast("long").as("pairs_unguarded_hot"))
      .collect()(0)
    val variantOverCell = vb.getLong(0)
    val variantMaxBucket = vb.getLong(1)
    val variantHotPairs = vb.getLong(2)
    require(variantOverCell > 0,
      s"fuzzy skew corpus failed to trip the salt: max variant bucket $variantMaxBucket <= cell $cell")

    def hotStats(banded: DataFrame, idCol: String) =
      pipeline.LshBlocking.bucketSkewStats(banded, Seq("band_id", "band_key"), idCol)
        .agg(count(lit(1)).as("hot_buckets"),
          coalesce(max(col("bucket_size")), lit(0L)).cast("long").as("max_bucket"),
          coalesce(sum(col("pairs_unguarded")), lit(0L)).cast("long").as("pairs_unguarded"),
          coalesce(sum(col("pairs_guarded")), lit(0L)).cast("long").as("pairs_guarded"))
        .collect()(0)

    val docsBig = spark.read.parquet(s"$dirBig/documents.parquet")
    val mhBands = pipeline.DedupQueries.minhashBands(
      pipeline.DedupQueries.minhashSignature(
        pipeline.DedupQueries.shinglePostings(docsBig)))
    val mhHot = hotStats(mhBands, "doc_id")
    require(mhHot.getLong(0) > 0, "boilerplate corpus failed to trip the minhash star guard")

    val embBig = spark.read.parquet(s"$dirBig/embeddings.parquet")
    val (bits, nBands) = pipeline.SimilarityQueries.adaptiveBanding(embBig.count())
    val embBands = embBig.select(col("vec_id"),
      posexplode(pipeline.SimilarityQueries.rpBandKeys(
        col("embedding"), bands = nBands, rowsPerBand = bits))
        .as(Seq("band_id", "band_key")))
    val embHot = hotStats(embBands, "vec_id")
    require(embHot.getLong(0) > 0, "default-embedding corpus failed to trip the RP-LSH star guard")

    // ---- 3a. exactness: salted fuzzy pairs == unguarded pairs, full ×k ----
    spark.catalog.clearCache(); System.gc()
    var t0 = System.nanoTime()
    val salted = pipeline.LshBlocking
      .saltedBucketPairs(variants, Seq("variant"), "c_custkey")
    val saltedN = salted.count()
    val saltedSec = (System.nanoTime() - t0) / 1e9
    spark.catalog.clearCache(); System.gc()
    t0 = System.nanoTime()
    val unguarded = unguardedPairs(variants, Seq("variant"), "c_custkey")
    val unguardedN = unguarded.count()
    val unguardedSec = (System.nanoTime() - t0) / 1e9
    val fuzzyDiff = setDiff(salted, unguarded)
    require(fuzzyDiff == 0L,
      s"salted pairs != unguarded pairs under skew: $fuzzyDiff rows differ")

    // ---- 3b. star-guard membership equality at ×1 (unguarded is quadratic
    // in the hot family — feasible only at the small scale, by design) ----
    val docsOne = spark.read.parquet(s"$dirOne/documents.parquet")
    val shOne = pipeline.DedupQueries.shinglePostings(docsOne)
    val sigOne = pipeline.DedupQueries.minhashSignature(shOne)
    val sizesOne = sigOne.select(col("doc_id"), col("n"))
    val bandsOne = pipeline.DedupQueries.minhashBands(sigOne)
    def mhMembers(cands: DataFrame): DataFrame =
      members(pipeline.DedupQueries.verifyByJaccard(
        cands.select(col("id_a").as("doc_a"), col("id_b").as("doc_b")),
        shOne, sizesOne, minJ = 0.8), "doc_a", "doc_b")
    val mhGuardMembers = mhMembers(pipeline.LshBlocking
      .boundedBucketPairs(bandsOne, Seq("band_id", "band_key"), "doc_id"))
    val mhFullMembers = mhMembers(
      unguardedPairs(bandsOne, Seq("band_id", "band_key"), "doc_id"))
    val mhMemberDiff = setDiff(mhGuardMembers, mhFullMembers)
    val mhMemberN = mhFullMembers.count()
    require(mhMemberDiff == 0L,
      s"minhash star guard changed dup-membership: $mhMemberDiff ids differ")

    val embOne = spark.read.parquet(s"$dirOne/embeddings.parquet")
    val (bits1, nBands1) = pipeline.SimilarityQueries.adaptiveBanding(embOne.count())
    val embBands1 = embOne.select(col("vec_id"),
      posexplode(pipeline.SimilarityQueries.rpBandKeys(
        col("embedding"), bands = nBands1, rowsPerBand = bits1))
        .as(Seq("band_id", "band_key")))
    def embMembers(cands: DataFrame): DataFrame = {
      val dot = (a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =>
        aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
          lit(0.0), (acc, x) => acc + x)
      val nrm = (a: org.apache.spark.sql.Column) => sqrt(dot(a, a))
      val vecs = embOne.select(col("vec_id"), col("embedding"), nrm(col("embedding")).as("nn"))
      cands
        .join(vecs.select(col("vec_id").as("id_a"),
          col("embedding").as("ea"), col("nn").as("na")), "id_a")
        .join(vecs.select(col("vec_id").as("id_b"),
          col("embedding").as("eb"), col("nn").as("nb")), "id_b")
        .filter(round(dot(col("ea"), col("eb")) / (col("na") * col("nb")), 9) >= 0.42)
        .select(explode(array(col("id_a"), col("id_b"))).as("id")).distinct()
    }
    val embGuardMembers = embMembers(pipeline.LshBlocking
      .boundedBucketPairs(embBands1, Seq("band_id", "band_key"), "vec_id"))
    val embFullMembers = embMembers(
      unguardedPairs(embBands1, Seq("band_id", "band_key"), "vec_id"))
    val embMemberDiff = setDiff(embGuardMembers, embFullMembers)
    val embMemberN = embFullMembers.count()
    require(embMemberDiff == 0L,
      s"RP-LSH star guard changed dup-membership: $embMemberDiff ids differ")

    val queriesJson = timed.map { case (n, s, r) =>
      s""""$n":{"secs":${BigDecimal(s).setScale(2, BigDecimal.RoundingMode.HALF_UP)},"rows":$r}"""
    }.mkString(",")
    val json =
      s"""{"metric":"skew_probe","replicas":$replicas,"src":"$src",
         |"queries":{$queriesJson},
         |"fuzzy":{"variant_buckets_over_cell":$variantOverCell,"max_bucket":$variantMaxBucket,
         |  "cell":$cell,"max_cell_pairs":${cell.toLong * cell},
         |  "hot_pairs_unguarded":$variantHotPairs,
         |  "salted_pairs":$saltedN,"salted_secs":${BigDecimal(saltedSec).setScale(2, BigDecimal.RoundingMode.HALF_UP)},
         |  "unguarded_pairs":$unguardedN,"unguarded_secs":${BigDecimal(unguardedSec).setScale(2, BigDecimal.RoundingMode.HALF_UP)},
         |  "pair_set_diff":$fuzzyDiff},
         |"minhash":{"hot_buckets":${mhHot.getLong(0)},"max_bucket":${mhHot.getLong(1)},
         |  "pairs_unguarded":${mhHot.getLong(2)},"pairs_guarded":${mhHot.getLong(3)},
         |  "membership_diff_x1":$mhMemberDiff,"members_x1":$mhMemberN},
         |"embedding":{"hot_buckets":${embHot.getLong(0)},"max_bucket":${embHot.getLong(1)},
         |  "pairs_unguarded":${embHot.getLong(2)},"pairs_guarded":${embHot.getLong(3)},
         |  "membership_diff_x1":$embMemberDiff,"members_x1":$embMemberN}}"""
        .stripMargin.replaceAll("\n", "")
    println(json)
    val out = new java.io.PrintWriter(s"bench/skew_probe_x$replicas.json")
    try out.println(json) finally out.close()
    spark.stop()
  }

  /** Materialize the adversarial corpus at ×`replicas` (reused when present
    * unless SPARK_GRAFT_SKEW_REBUILD=1). Replication schemes match
    * [[ScaleProbe]]/[[FamilyScaleProbe]] (disjoint-token docs, sign-flip
    * embeddings, shifted keys) so growth stays replica-decorrelated; the
    * pathologies are planted AFTER replication so the hot families are
    * GLOBAL — their populations scale with the corpus, which is exactly
    * what a frequency-skewed real distribution does.
    */
  private def buildCorpus(spark: SparkSession, src: String, replicas: Int): String = {
    val dir = new java.io.File(s"target/skew_probe_x$replicas").getAbsolutePath
    val rebuild = sys.env.get("SPARK_GRAFT_SKEW_REBUILD").contains("1")
    if (!rebuild && new java.io.File(s"$dir/embeddings.parquet").exists()) return dir

    def replicated(df: DataFrame)(copy: (DataFrame, Int) => DataFrame) =
      (0 until replicas).map(k => if (k == 0) df else copy(df, k)).reduce(_ unionByName _)

    // customers: Zipf head of 100 hot entities over 5% of rows; cold tail
    // spread over 3000·k entities so only the HEAD grows with scale. Names
    // are 9-digit entity renderings; half the rows substitute one
    // hash-chosen digit so the corpus holds real lev-1 near-misses, not
    // only exact duplicates.
    val cust = spark.read.parquet(s"$src/customer.parquet")
    val custAll = replicated(cust) { (df, k) =>
      df.withColumn("c_custkey", col("c_custkey") + lit(k * 10000000L))
    }
    val u = (seed: Int) => pmod(xxhash64(col("c_custkey"), lit(seed)), lit(1000000L))
    val hotEnt = floor(pow(lit(100.0), u(11).cast("double") / 1000000.0)).cast("long")
    val coldEnt = lit(1000L) + pmod(xxhash64(col("c_custkey"), lit(13)), lit(3000L * replicas))
    val base9 = lpad(when(u(7) < 50000L, hotEnt).otherwise(coldEnt).cast("string"), 9, "0")
    val pos = (pmod(xxhash64(col("c_custkey"), lit(17)), lit(9L)) + 1L).cast("int")
    val digit = pmod(xxhash64(col("c_custkey"), lit(19)), lit(10L)).cast("string")
    custAll
      .withColumn("b9", base9).withColumn("p", pos).withColumn("dg", digit)
      .withColumn("c_name",
        when(u(23) < 500000L,
          expr("concat(substr(b9, 1, p - 1), dg, substr(b9, p + 1))"))
          .otherwise(col("b9")))
      .drop("b9", "p", "dg")
      .write.mode("overwrite").parquet(s"$dir/customer.parquet")

    // documents: 3% boilerplate (shared 60 tokens + a doc-unique token)
    val boiler = (0 until 60).map(i => s"boilerplate$i").mkString(" ")
    val docs = spark.read.parquet(s"$src/documents.parquet")
    val docsAll = replicated(docs) { (df, k) =>
      df.select((col("doc_id") + lit(k * 10000000L)).as("doc_id"),
        regexp_replace(col("text"), "(\\S+)", s"r$k$$1").as("text"),
        col("lang"), col("source"), col("n_chars"))
    }
    docsAll
      .withColumn("text",
        when(pmod(xxhash64(col("doc_id"), lit(29)), lit(100L)) < 3L,
          concat(lit(boiler), lit(" uq"), col("doc_id").cast("string")))
          .otherwise(col("text")))
      .withColumn("n_chars", length(col("text")))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")

    // embeddings: 5% replaced by vec 0's embedding (identical vectors —
    // the fraction is sized so the family exceeds tagHot's minHot=64 even
    // at ×1, keeping the star-guard membership comparison non-vacuous)
    val emb = spark.read.parquet(s"$src/embeddings.parquet")
    val v0 = emb.orderBy("vec_id").limit(1).select("embedding")
      .collect()(0).getSeq[Float](0)
    val embAll = replicated(emb) { (df, k) =>
      df.select((col("vec_id") + lit(k * 10000000L)).as("vec_id"),
        expr(s"transform(embedding, (x, i) -> IF(pmod(hash(i, $k), 2) = 0, x, -x))")
          .as("embedding"),
        col("label"))
    }
    embAll
      .withColumn("embedding",
        when(pmod(xxhash64(col("vec_id"), lit(31)), lit(100L)) < 5L,
          typedlit(v0)).otherwise(col("embedding")))
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    dir
  }
}
