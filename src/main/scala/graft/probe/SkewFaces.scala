package graft
package probe

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Probe.{Face, Testdata, obj, replicate}

/** Adversarial-skew faces: each plants a pathology that makes a guard or
  * a skew-prone operator FIRE, and checks exactness against an unguarded
  * reference on the same skewed data.
  */
object SkewFaces {

  /** Makes the skew guards FIRE, then proves them (every ×10–×100 growth
    * run had reported "zero hot buckets", so the salted/star guards had
    * never activated outside unit tests).
    *
    * Three real-world pathologies are planted at ×10 on top of the sf0.1
    * corpus:
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
    * What is recorded:
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
  val zipfSkew: Face = Face("zipf_skew", "skew_probe", "skew_probe_x10.json",
      Some(s"$Testdata/sf0.1"), Some(10)) { run =>
    val spark = run.spark
    val dirBig = zipfCorpus(spark, run.src, run.replicas, run.dir(s"x${run.replicas}"))
    val dirOne = zipfCorpus(spark, run.src, 1, run.dir("x1"))

    // ---- 1. registered faces, timed on the adversarial corpus ----
    val timed = Seq("q_fuzzy_match_name", "q_er_clusters",
        "q_dedup_minhash_lsh", "q_dedup_embedding_lsh").map { name =>
      val (secs, n) = run.time(SparkEntry.queries(name)(spark, dirBig).count())
      println(f"zipf_skew face $name: $secs%.1f s, $n rows")
      name -> obj("secs" -> secs, "rows" -> n)
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
    val variantMaxBucket = vb.getLong(1)
    require(vb.getLong(0) > 0,
      s"fuzzy skew corpus failed to trip the salt: max variant bucket $variantMaxBucket <= cell $cell")

    def hotStats(banded: DataFrame, idCol: String) =
      pipeline.LshBlocking.bucketSkewStats(banded, Seq("band_id", "band_key"), idCol)
        .agg(count(lit(1)).as("hot_buckets"),
          coalesce(max(col("bucket_size")), lit(0L)).cast("long").as("max_bucket"),
          coalesce(sum(col("pairs_unguarded")), lit(0L)).cast("long").as("pairs_unguarded"),
          coalesce(sum(col("pairs_guarded")), lit(0L)).cast("long").as("pairs_guarded"))
        .collect()(0)

    val docsBig = spark.read.parquet(s"$dirBig/documents.parquet")
    val mhHot = hotStats(pipeline.DedupQueries.minhashBands(
      pipeline.DedupQueries.minhashSignature(
        pipeline.DedupQueries.shinglePostings(docsBig))), "doc_id")
    require(mhHot.getLong(0) > 0, "boilerplate corpus failed to trip the minhash star guard")

    val embHot = hotStats(rpBands(spark.read.parquet(s"$dirBig/embeddings.parquet")), "vec_id")
    require(embHot.getLong(0) > 0, "default-embedding corpus failed to trip the RP-LSH star guard")

    // ---- 3a. exactness: salted fuzzy pairs == unguarded pairs, full ×k ----
    def counted(df: DataFrame) = (df, df.count())
    val (saltedSec, (salted, saltedN)) = run.time(counted(pipeline.LshBlocking
      .saltedBucketPairs(variants, Seq("variant"), "c_custkey")))
    val (unguardedSec, (unguarded, unguardedN)) =
      run.time(counted(unguardedPairs(variants, Seq("variant"), "c_custkey")))
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
    val mhFullMembers = mhMembers(
      unguardedPairs(bandsOne, Seq("band_id", "band_key"), "doc_id"))
    val mhMemberDiff = setDiff(mhMembers(pipeline.LshBlocking
      .boundedBucketPairs(bandsOne, Seq("band_id", "band_key"), "doc_id")), mhFullMembers)
    val mhMemberN = mhFullMembers.count()
    require(mhMemberDiff == 0L,
      s"minhash star guard changed dup-membership: $mhMemberDiff ids differ")

    val embOne = spark.read.parquet(s"$dirOne/embeddings.parquet")
    val embBands1 = rpBands(embOne)
    def embMembers(cands: DataFrame): DataFrame = {
      val dot = (a: Column, b: Column) =>
        aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
          lit(0.0), (acc, x) => acc + x)
      val nrm = (a: Column) => sqrt(dot(a, a))
      val vecs = embOne.select(col("vec_id"), col("embedding"), nrm(col("embedding")).as("nn"))
      cands
        .join(vecs.select(col("vec_id").as("id_a"),
          col("embedding").as("ea"), col("nn").as("na")), "id_a")
        .join(vecs.select(col("vec_id").as("id_b"),
          col("embedding").as("eb"), col("nn").as("nb")), "id_b")
        .filter(round(dot(col("ea"), col("eb")) / (col("na") * col("nb")), 9) >= 0.42)
        .select(explode(array(col("id_a"), col("id_b"))).as("id")).distinct()
    }
    val embFullMembers = embMembers(
      unguardedPairs(embBands1, Seq("band_id", "band_key"), "vec_id"))
    val embMemberDiff = setDiff(embMembers(pipeline.LshBlocking
      .boundedBucketPairs(embBands1, Seq("band_id", "band_key"), "vec_id")), embFullMembers)
    val embMemberN = embFullMembers.count()
    require(embMemberDiff == 0L,
      s"RP-LSH star guard changed dup-membership: $embMemberDiff ids differ")

    Seq("replicas" -> run.replicas, "src" -> run.src,
      "queries" -> obj(timed: _*),
      "fuzzy" -> obj("variant_buckets_over_cell" -> vb.getLong(0),
        "max_bucket" -> variantMaxBucket, "cell" -> cell,
        "max_cell_pairs" -> cell.toLong * cell, "hot_pairs_unguarded" -> vb.getLong(2),
        "salted_pairs" -> saltedN, "salted_secs" -> saltedSec,
        "unguarded_pairs" -> unguardedN, "unguarded_secs" -> unguardedSec,
        "pair_set_diff" -> fuzzyDiff),
      "minhash" -> hotObj(mhHot, mhMemberDiff, mhMemberN),
      "embedding" -> hotObj(embHot, embMemberDiff, embMemberN))
  }

  private def hotObj(hot: org.apache.spark.sql.Row, diff: Long, members: Long) =
    obj("hot_buckets" -> hot.getLong(0), "max_bucket" -> hot.getLong(1),
      "pairs_unguarded" -> hot.getLong(2), "pairs_guarded" -> hot.getLong(3),
      "membership_diff_x1" -> diff, "members_x1" -> members)

  private def rpBands(emb: DataFrame): DataFrame = {
    val (bits, nBands) = pipeline.SimilarityQueries.adaptiveBanding(emb.count())
    emb.select(col("vec_id"),
      posexplode(pipeline.SimilarityQueries.rpBandKeys(
        col("embedding"), bands = nBands, rowsPerBand = bits))
        .as(Seq("band_id", "band_key")))
  }

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

  /** Materializes the adversarial corpus at ×`replicas` into `dir`.
    * Replication is the sf1 scheme ([[BuildSf1]]: disjoint-token docs,
    * sign-flip embeddings, shifted keys) so growth stays
    * replica-decorrelated; the pathologies are planted AFTER replication so
    * the hot families are GLOBAL — their populations scale with the
    * corpus, which is exactly what a frequency-skewed real distribution
    * does.
    */
  private def zipfCorpus(spark: SparkSession, src: String, replicas: Int, dir: String): String = {
    def replicated(df: DataFrame)(copy: (DataFrame, Int) => DataFrame) =
      replicate(replicas)(k => if (k == 0) df else copy(df, k))

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

  /** The round-13/14 operators' three untested skew axes, each with an
    * EXACTNESS check against an unguarded reference on the same skewed
    * data, plus the documented per-reducer bound:
    *
    *  1. deep BPE with a HYPER-FREQUENT symbol (every 2nd token replaced,
    *     ~50% of all adjacencies involve it): pair stats are map-side
    *     combinable so the hot pair never concentrates a reducer, and the
    *     trainer's internal fold-vs-closed-form identity (Σ n_merges ==
    *     token delta, hard-required every pass) is the exactness gate —
    *     the run THROWS if skew broke the batched application;
    *  2. batched retrieval with a term planted in EVERY document (df = n,
    *     the worst posting list): per-query candidates hit the corpus
    *     size, and the kminBy shortlist must equal the unguarded rank
    *     window's top-K pair for pair;
    *  3. bottom-k sampling with one source holding ~99% of documents: the
    *     kminBy sample of the hot group must equal the unguarded
    *     sort-based sample, with ≤ k pairs per partial buffer by
    *     construction;
    *  4. quantile sketch at the degenerate extremes: one value repeated
    *     for ~100% of a group (all count mass in one bucket cell) and
    *     max-domain values at the top-octave boundary (Long.MaxValue lands
    *     in the LAST bucket, where an exclusive hi bound would overflow) —
    *     the readout's containment flag must hold on every row.
    */
  val skewR14: Face = Face("skew_r14", "skew_probe_r14", "skew_probe_r14.json",
      Some(s"$Testdata/sf0.01")) { run =>
    val spark = run.spark
    val docs = spark.read.parquet(s"${run.src}/documents.parquet")

    // ---- 1. deep BPE under a hyper-frequent symbol ----
    // built THROUGH the shared phrase-state face (whole-doc alphabet
    // filter included), then every 2nd token replaced with the hot symbol
    val bpeState0 = pipeline.BpeQueries.deepPhraseState(docs)
      .select(col("word"), col("freq"),
        expr("transform(syms, (t, i) -> IF(i % 2 = 0, 'zz', t))").as("syms"))
    val hotShare = bpeState0
      .select(explode(col("syms")).as("s"))
      .agg(avg(when(col("s") === "zz", 1.0).otherwise(0.0)) * 100).collect()(0).getDouble(0)
    // trainDeepTrace HARD-FAILS if the batched fold diverges from the
    // closed-form site counts — under this skew that require IS the gate
    val (bpeSecs, bpeTrace) = run.clock(pipeline.BpeQueries.trainDeepTrace(
      bpeState0, passes = 4, batch = 8, stage = false, sep = " ").collect())
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

    // ---- 4. quantile sketch at the degenerate extremes ----
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

    Seq("src" -> run.src,
      "bpe" -> obj("hot_share_pct" -> hotShare, "rules" -> bpeTrace.length, "passes" -> 4,
        "secs" -> bpeSecs, "hard_check" -> "passed"),
      "rrf" -> obj("planted_df" -> hotDf, "n_docs" -> nDocs, "n_queries" -> nQueries,
        "max_cand_per_query" -> maxCand, "shortlist_diff" -> rrfDiff),
      "bottomk" -> obj("hot_group_docs" -> hotDocs, "total_docs" -> nDocs, "k" -> 8,
        "sample_diff" -> sampleDiff),
      "sketch" -> obj("const_rows" -> constRows, "const_buckets" -> constBuckets,
        "readout_rows" -> ro.length, "within_violations" -> withinViolations,
        "top_max_id" -> topMaxId, "num_buckets" -> QuantileSketch.NumBuckets))
  }

  /** The round-15 families' untested skew axes, each with an EXACTNESS
    * check against an unguarded reference on the same skewed data:
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
    */
  val skewR15: Face = Face("skew_r15", "skew_probe_r15", "skew_probe_r15.json",
      Some(s"$Testdata/sf0.01")) { run =>
    val spark = run.spark
    val cpus = GraftSession.cpus
    val docs = spark.read.parquet(s"${run.src}/documents.parquet")

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
    val (dsirSecs, dw) = run.clock(pipeline.SelectionQueries
      .docWeightsOf(hotDocs.filter(col("source") =!= "src0"), lam)
      .collect().map(r => r.getLong(0) -> r.getLong(4)).toMap)
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
    val (tieSecs, cut) = run.clock(operators.PrefixRank.withRunningTotal(tied,
        Seq(col("weight").desc, col("doc_id")), col("n_tok"), "cum", cpus)
      .select("doc_id", "cum")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap)
    val naive = tied.withColumn("cum",
        sum("n_tok").over(Window.orderBy(col("weight").desc, col("doc_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select("doc_id", "cum")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val tieDiff = cut.count { case (id, c) => naive.get(id) != Some(c) }

    // ---- 3. prototype rank with one cluster holding ~93% ----
    // synthetic assignments: 93% of vec_ids in cluster 0, rest spread
    val nVec = 20000
    val asg = spark.range(nVec.toLong).select(
      col("id").as("vec_id"),
      when(pmod(col("id"), lit(100)) < 93, lit(0))
        .otherwise(pmod(col("id"), lit(100)).cast("int") - 92).as("cluster"),
      pmod(col("id") * 2654435761L, lit(1000003L)).as("dist"))
    val hotFrac = asg.agg(avg(when(col("cluster") === 0, 1.0).otherwise(0.0)) * 100)
      .collect()(0).getDouble(0)
    val cn = asg.groupBy("cluster").agg(count(lit(1)).as("n_total"))
    val (protoSecs, kept) = run.clock(operators.PrefixRank.withGroupRank(asg, Seq("cluster"),
        Seq(col("dist"), col("vec_id")), "rk", cpus)
      .join(broadcast(cn), "cluster")
      .filter(col("rk") > expr("n_total DIV 2"))
      .select("cluster", "vec_id")
      .collect().map(r => (r.getInt(0), r.getLong(1))).toSet)
    val keptRef = asg.withColumn("rk", row_number().over(
        Window.partitionBy("cluster").orderBy(col("dist"), col("vec_id"))).cast("long"))
      .join(cn, "cluster")
      .filter(col("rk") > expr("n_total DIV 2"))
      .select("cluster", "vec_id")
      .collect().map(r => (r.getInt(0), r.getLong(1))).toSet
    val protoDiff = (kept diff keptRef).size + (keptRef diff kept).size

    Seq("src" -> run.src,
      "dsir_hot_bucket" -> obj("hot_gram_pct" -> hotShare, "secs" -> dsirSecs,
        "docs" -> dw.size, "diffs" -> dsirDiff),
      "prefix_total_tie" -> obj("secs" -> tieSecs, "docs" -> cut.size, "diffs" -> tieDiff),
      "proto_hot_cluster" -> obj("hot_cluster_pct" -> hotFrac, "secs" -> protoSecs,
        "kept" -> kept.size, "diffs" -> protoDiff))
  }

  /** The round-16 propagation faces' two untested skew axes, each with an
    * EXACTNESS check (plain-Scala BFS over the same collected graph) on the
    * same skewed data:
    *
    *  1. HUB FRONTIER: a near-duplicate blob (20k vectors within noise of
    *     one direction) turns the LSH candidate generator's star guard on —
    *     every band bucket is hot, candidates collapse to a star around the
    *     min id, and the kNN graph becomes ONE hub of degree ~n. The BFS
    *     then explodes: hop 1 is just the hub, hop 2 is the entire
    *     remaining corpus in a single round — the worst-case frontier the
    *     edge-keyed join + anti-join must absorb without a skewed reducer
    *     (the frontier side is the JOIN KEY side; the hub's 20k adjacency
    *     rows hash across partitions by dst).
    *  2. SEED SOURCE: ~50% of the corpus (every doc of one source) fails
    *     both Gopher cuts — the hop-0 frontier IS half the corpus, so the
    *     first anti-join carries the largest possible tainted set from
    *     round one.
    *
    * Both axes run the REAL gate machinery (annKnnEdges → hopMap — the
    * q_quality_propagate_ann path) on synthetic parquet in the run's
    * scratch directory, and both must match the independent Scala BFS
    * exactly (diffs = 0).
    */
  val skewR16: Face = Face("skew_r16", "skew_probe_r16", "skew_probe_r16.json") { run =>
    val spark = run.spark
    val n = 20000

    // seeds fail BOTH Gopher cuts (one token 100% of the doc); clean docs
    // have 12 distinct tokens (max fraction 8.3% < 11%)
    val seedText = "array_join(array_repeat('spam', 40), ' ')"
    val cleanText =
      "array_join(transform(sequence(1, 12), x -> concat('w', id, 'q', x)), ' ')"

    def axis(name: String, docsSql: (String, String), embSql: String): (String, Probe.Obj) = {
      val dir = run.dir(name)
      spark.range(n.toLong)
        .select(col("id").as("doc_id"), expr(docsSql._1).as("source"),
          expr(docsSql._2).as("text"))
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      spark.range(n.toLong)
        .select(col("id").as("vec_id"), expr(embSql).as("embedding"),
          pmod(col("id"), lit(10)).cast("int").as("label"))
        .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")

      val (edgesSecs, (edges, edgeRows)) = run.clock {
        val e = graft.pipeline.PropagateQueries
          .annKnnEdges(spark.read.parquet(s"$dir/embeddings.parquet"))
        (e, e.collect().map(r => (r.getLong(0), r.getLong(1))))
      }

      val (bfsSecs, gate) = run.clock(graft.pipeline.PropagateQueries
        .hopMap(spark.read.parquet(s"$dir/documents.parquet"),
          edges.localCheckpoint())
        .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap)

      // independent BFS over the same collected graph + replayed seeds
      val docs = spark.read.parquet(s"$dir/documents.parquet")
        .select("doc_id", "text").collect()
        .map(r => r.getLong(0) -> r.getString(1))
      val seeds = docs.collect { case (id, t)
        if t.startsWith("spam") => id }.toSet
      val adj = (edgeRows ++ edgeRows.map(_.swap)).groupBy(_._1)
        .map { case (k, vs) => k -> vs.map(_._2).toSet }
      var dist = seeds.map(_ -> 0L).toMap
      var frontier = seeds
      for (h <- 1 to 3) {
        val next = frontier.flatMap(adj.getOrElse(_, Set.empty)).diff(dist.keySet)
        dist = dist ++ next.map(_ -> h.toLong)
        frontier = next
      }
      val diffs = (gate.keySet ++ dist.keySet)
        .count(k => gate.get(k) != dist.get(k))
      val hops = gate.values.groupBy(identity).view.mapValues(_.size)
        .toSeq.sortBy(_._1).map { case (h, c) => h.toString -> c }
      val maxDegree = adj.values.map(_.size).max
      name -> obj("n" -> n, "max_degree" -> maxDegree, "seeds" -> seeds.size,
        "edges_secs" -> edgesSecs, "bfs_secs" -> bfsSecs, "hops" -> obj(hops: _*),
        "diffs" -> diffs)
    }

    Seq(
      // axis 1: a COLINEAR blob — every vector is the base direction scaled
      // by (1 + id·1e-6), so every hyperplane projection keeps its sign,
      // all 20k vectors share every band bucket, the star guard fires on
      // ALL of them, and the candidate set collapses to a star around the
      // min id: vec 0 becomes a hub of degree n−1. (Additive noise instead
      // of scaling flips signs on near-orthogonal planes and produces
      // uniformly-overfull buckets the RELATIVE skew guard correctly
      // ignores — that regime is the adaptive-banding population story,
      // probed by the dedup suites; this axis targets the BFS.)
      axis("hub_frontier",
        ("concat('src', pmod(id, 4))",
          s"IF(pmod(id, 20) = 0, $seedText, $cleanText)"),
        """transform(sequence(0, 63), j ->
          |  CAST((1.0 + (j % 7) * 0.1) * (1.0 + id / 1000000.0) AS FLOAT))"""
          .stripMargin),
      // axis 2: every doc of one source (50% of the corpus) is a seed
      axis("seed_source",
        ("IF(pmod(id, 2) = 0, 'spamsrc', concat('src', pmod(id, 3)))",
          s"IF(pmod(id, 2) = 0, $seedText, $cleanText)"),
        """transform(sequence(0, 63), j ->
          |  CAST(pmod(id * 2654435761 + j * 40503, 2003) / 2003.0 - 0.5 AS FLOAT))"""
          .stripMargin))
  }

  /** The perceptual-hash dedup face (q_multimodal_ahash) under the
    * exact-duplicate-image shape crawls actually produce — thousands of
    * byte-identical images — which makes EVERY Hamming band one bucket,
    * the same colinear-blob axis that cost the unguarded LSH path 1108 s
    * in the round-16 skew run. Two axes, both through the REAL gate
    * pipeline ([[pipeline.Multimodal.ahashPairs]]):
    *
    *  1. ALL-IDENTICAL: 20k copies of one image. The absHot=1024 star
    *     guard must fire on every band bucket, collapsing pair generation
    *     to the (min-id → other) star — n−1 pairs, every Hamming 0, and
    *     the ConnectedComponents ACTION face must still recover the single
    *     n-member cluster with survivor 0 (star edges are exactly what
    *     min-label needs: diameter 2).
    *  2. HALF-IDENTICAL: 10k copies + 10k id-derived images. The identical
    *     half stars (star_to_0 = 9 999, hot cluster exactly 10 000 — no
    *     leakage). The id-derived half turned out to be perceptually
    *     NEAR-DUP-dense itself (texts differ only in digits, so cycled
    *     pixels quantize to matching thumbnails): 810k true pairs — a
    *     measured receipt that heavy ORGANIC collision load (not just the
    *     degenerate single-bucket case) stays in the seconds range.
    */
  val ahashSkew: Face = Face("ahash_skew", "ahash_skew_probe", "ahash_skew_probe.json") { run =>
    val spark = run.spark
    val n = 20000L

    def axis(name: String, textSql: String): (String, Probe.Obj) = {
      val docs = spark.range(n)
        .select(col("id").as("doc_id"), expr(textSql).as("text"))
      val (pairSecs, (pairs, nPairs)) = run.clock {
        val p = pipeline.Multimodal.ahashPairs(docs).select("doc_a", "doc_b", "hamming").cache()
        (p, p.count())
      }
      val ham0 = pairs.filter(col("hamming") === 0).count()
      val starTo0 = pairs.filter(col("doc_a") === 0).count()
      // the ACTION face over the same pairs: one hot cluster, survivor 0
      val (ccSecs, hotSize) = run.clock(operators.ConnectedComponents
        .minLabel(pairs.select("doc_a", "doc_b")).toDF("vec_id", "rep")
        .filter(col("rep") === 0).count())
      pairs.unpersist()
      println(f"ahash-skew $name: pairs=$nPairs (${pairSecs}%.1f s), " +
        f"ham0=$ham0, star->0=$starTo0, hotCluster=$hotSize (${ccSecs}%.1f s)")
      name -> obj("n" -> n, "pairs" -> nPairs, "pair_secs" -> pairSecs, "ham0" -> ham0,
        "star_to_0" -> starTo0, "hot_cluster" -> hotSize, "cc_secs" -> ccSecs)
    }

    Seq(
      // axis 1: every image identical (constant text -> constant pixels)
      axis("all_identical", "'the quick brown fox jumps over the lazy dog'"),
      // axis 2: first half identical, second half distinct (id-derived text)
      axis("half_identical",
        s"CASE WHEN id < ${n / 2} THEN 'the quick brown fox jumps over the lazy dog' " +
          "ELSE array_join(transform(sequence(1, 24), x -> concat('w', id, 'q', x)), ' ') END"))
  }

  val all: Seq[Face] = Seq(zipfSkew, skewR14, skewR15, skewR16, ahashSkew)
}
