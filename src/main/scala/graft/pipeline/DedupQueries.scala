package graft.pipeline

import graft.QueryDef
import graft.analytics.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Near-duplicate detection over `documents` (SURVEY: training-data pipeline
  * operators). Three strategies, all shared-nothing:
  *
  *  1. exact n-gram Jaccard via an INVERTED-INDEX join — (doc, shingle)
  *     postings self-joined on the shingle; count per pair = |A∩B|. No O(n²)
  *     cross join ever materializes; the shuffle key is the shingle, so the
  *     plan scales with total postings, not documents².
  *  2. MinHash + LSH banding — constant-size signature per doc (k=32 slots,
  *     8 bands × 4 rows), candidates = band-bucket collisions, then exact
  *     Jaccard verification of the (tiny) candidate set. This is the 100 TB
  *     path: the signature is a single hash-aggregate over postings.
  *  3. SimHash — one 64-bit fingerprint per doc; near-dup iff Hamming ≤ r.
  *     Candidate generation via 4×16-bit chunk blocking (pigeonhole: any
  *     pair with Hamming ≤ 3 shares at least one exact chunk).
  *
  * All three are built from exploded rows + codegen'd projections + hash
  * aggregates — deliberately NOT from higher-order array functions, whose
  * lambda evaluation is interpreted and measured ~10× slower here.
  */
object DedupQueries {

  private val toksSql = graft.functions.TextFunctions.toksSql

  /** Shared DuckDB CTEs: distinct 3-shingle postings (`ex`) + per-doc
    * distinct-shingle counts (`sizes`) — the oracle-side mirror of
    * [[shinglePostings]], used by the ngram oracle and the staged-candidate
    * minhash oracle.
    */
  private val shingleCtes =
    s"""t AS (SELECT doc_id, $toksSql AS toks FROM documents),
       |sh AS (SELECT doc_id,
       |              CASE WHEN len(toks) >= 3
       |                   THEN list_distinct(list_transform(generate_series(1, len(toks)-2),
       |                                      i -> array_to_string(toks[i:i+2], ' ')))
       |                   ELSE [] END AS shingles
       |       FROM t),
       |ex AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
       |sizes AS (SELECT doc_id, len(shingles) AS n FROM sh)""".stripMargin

  /** Shared CTE chain for the fuzzy-name faces: FastSS deletion-variant
    * index over customer names → variant-blocked candidate pairs →
    * levenshtein-verified pairs (`lev`). Kept as one string so the pair
    * face and the cluster face gate against LITERALLY the same candidate
    * semantics.
    */
  private val fuzzyPairCtes =
    """v AS (
      |  SELECT DISTINCT c_custkey, c_name,
      |         unnest(list_append(
      |           list_transform(generate_series(1, length(c_name)),
      |             i -> substr(c_name, 1, i-1) || substr(c_name, i+1)),
      |           c_name)) AS variant
      |  FROM customer),
      |cand AS (
      |  SELECT DISTINCT a.c_custkey AS id_a, b.c_custkey AS id_b,
      |                  a.c_name AS name_a, b.c_name AS name_b
      |  FROM v a JOIN v b ON a.variant = b.variant
      |                   AND a.c_custkey < b.c_custkey),
      |lev AS (SELECT id_a, id_b, name_a, name_b FROM cand
      |        WHERE levenshtein(name_a, name_b) <= 1)""".stripMargin

  /** Levenshtein-≤1 name pairs via the FastSS deletion-neighborhood
    * blocking (full recall at the threshold; levenshtein only verifies
    * candidates). Shared by the pair face and the ER-cluster face.
    *
    * The variant self-join rides [[LshBlocking.saltedBucketPairs]] — the
    * recall-PRESERVING skew guard: real-world name-frequency skew (a
    * thousand "J SMITH"s share deletion variants) makes one variant bucket
    * quadratic on one reducer, and the star guard the shingle side uses
    * would silently drop candidate pairs that no other band recovers
    * (FastSS has exactly one index). The salt spreads a hot bucket's pairs
    * across (B/cell)² bounded cells instead; with ≤ cell members per
    * bucket (every current corpus) it degenerates to the plain self-join.
    * Pairs come back BARE (id_a, id_b) — names rejoin afterward, so the
    * skew-managed exchange never carries wide rows.
    */
  /** FastSS deletion-neighborhood keys of `c_name`: every single-deletion
    * plus the name itself, distinct per custkey. Shared by the fuzzy faces
    * and the skew probe (which measures the bucket-size distribution these
    * keys induce under adversarial name frequencies).
    */
  private[graft] def nameVariants(names: DataFrame): DataFrame =
    names
      // (r17: a pre-explode fan-out was prototyped and measured WORSE —
      // q_er_clusters wall 3.9 → 4.8 s, CPU 8.9 → 17.1 s; the deletion
      // explode is cheap substring work and the saltedBucketPairs windows'
      // variant exchange already distributes everything downstream.)
      //
      // r18 (guide §2.4 — remove shuffles outright): the old global
      // `.distinct()` here was a full (custkey, variant) exchange +
      // aggregate whose ONLY duplicates come from within one name's own
      // deletion array (deleting either of two equal adjacent chars yields
      // the same variant) — every variant of a custkey derives from that
      // custkey's single row, so per-row array_distinct is EXACTLY the
      // global distinct, map-side, no exchange. Plan: one Exchange fewer
      // on both fuzzy faces.
      .select(col("c_custkey"),
        explode(array_distinct(expr(
          """concat(
            |  transform(sequence(1, length(c_name)),
            |    i -> concat(substr(c_name, 1, i-1), substr(c_name, i+1))),
            |  array(c_name))""".stripMargin))).as("variant"))

  private def fuzzyNamePairs(s: SparkSession, d: String): DataFrame = {
    val names = Tables.customer(s, d).select(col("c_custkey"), col("c_name"))
    val variants = nameVariants(names)
    LshBlocking.saltedBucketPairs(variants, Seq("variant"), "c_custkey")
      .join(names.select(col("c_custkey").as("id_a"), col("c_name").as("name_a")), "id_a")
      .join(names.select(col("c_custkey").as("id_b"), col("c_name").as("name_b")), "id_b")
      .filter(levenshtein(col("name_a"), col("name_b")) <= 1)
      .select("id_a", "id_b", "name_a", "name_b")
  }

  /** Distinct (doc_id, sh) 3-word-shingle postings — the SAME set as
    * [[graft.functions.TextFunctions.wordShingles]] over the tokenized
    * text, derived entirely in the array domain: tokenize → per-doc
    * distinct shingle array → explode. MAP-ONLY, where the r16 shape
    * (posexplode every token instance, a doc_id-partitioned window of two
    * `lead`s, then a global (doc_id, sh) DISTINCT) shuffled every token
    * instance once and every shingle instance once — two exchanges and a
    * sort that existed only to reassemble adjacency the array already has
    * (r17 measurement: the corpus-clean family spent most of its wall
    * re-running that subtree per consumer; guide §2.3/§2.4 — don't shuffle
    * what a per-row expression can compute). Rows are distinct BY
    * CONSTRUCTION (array_distinct within one doc_id row), so the global
    * distinct is dropped, not moved. Callers must pass unique doc_id rows
    * (every caller keys by doc_id; duplicate ids would previously have
    * been collapsed by the global distinct).
    */
  def shinglePostings(docs: DataFrame): DataFrame = {
    import graft.functions.TextFunctions
    import graft.operators.Checkpoints.StableOps
    // r18 (verdict item 9): dropping the global DISTINCT is sound ONLY for
    // key-unique doc_id inputs. The caller contract is enforced here in
    // debug mode (-Dgraft.debug.assertUniqueDocs=1, set by
    // ShinglePostingsContractSpec, which drives every registered consumer
    // query through this assert) — a duplicate-id caller fails loudly in
    // the suite instead of silently double-counting postings.
    if (sys.props.get("graft.debug.assertUniqueDocs").contains("1")) {
      val n = docs.count()
      val nd = docs.select("doc_id").distinct().count()
      require(n == nd,
        s"shinglePostings caller fed duplicate doc_id rows: $n rows, $nd distinct ids")
    }
    // fan the raw doc rows out BEFORE the CPU-dominant shingle
    // derivation: the gate corpus is one parquet split, and without this
    // the whole tokenize+shingle explode runs on a single core (the
    // q_source_overlap lesson; measured again here in r17). Shuffling
    // raw docs is cheap (rows, not shingles); at 100 TB the scan has
    // thousands of splits and this is a no-op-sized skew safety net.
    // Width min(8, parallelism): r18
    // measured the r17 `defaultParallelism` (=32 local) width burning
    // 3-13x the process CPU of the serial shape for a ~1.2x wall win
    // (allocation/GC churn of 32 concurrent string-heavy explode tasks;
    // same pathology as the rejected PQ fan-out); 8 keeps ~all of the wall
    // win inside the CPU-mover gate.
    Fanout(docs, cap = 8)
      .select(col("doc_id"),
        explode(TextFunctions.wordShingles(TextFunctions.tokens(col("text")))).as("sh"))
      // EAGER checkpoint: every caller fans this frame into several
      // consumers (sizes, document frequencies, both sides of the pair
      // self-join); the r16 shape's global DISTINCT exchange doubled as
      // the shared materialization point, and removing it WITHOUT pinning
      // the frame re-ran scan+tokenize+shingle per consumer (measured 2-4x
      // worse). One checkpoint = one computation, zero shuffles.
      .stableCheckpoint()
  }

  private def shinglePostings(s: SparkSession, d: String): DataFrame =
    shinglePostings(Tables.documents(s, d))

  /** Bloom sizing for the decontamination pre-filter: 2¹⁶ bits / 2 probes
    * comfortably holds the sf-scale benchmark shingle sets (FP rate
    * (nk/m)² ≲ 10⁻²); production sizing derives m from the benchmark
    * cardinality the same way — it is a constant of the SMALL side only.
    */
  private val BloomLogM = 16
  private val BloomK = 2

  /** Shared final stage of both decontamination faces: per-doc hit counts
    * over the (pre-filtered or not) train∩bench postings, rated against
    * total per-doc shingle counts.
    */
  private def decontaminateFinal(hits: DataFrame, sizes: DataFrame): DataFrame =
    hits
      .groupBy("doc_id").agg(count(lit(1)).as("contaminated_shingles"))
      .join(sizes, "doc_id")
      .withColumn("contamination_rate",
        col("contaminated_shingles").cast("double") / col("n_shingles"))
      .select("doc_id", "contaminated_shingles", "n_shingles", "contamination_rate")
      .orderBy(col("contamination_rate").desc, col("doc_id"))
      .limit(100)

  private lazy val decontaminateOracle =
    s"""WITH $shingleCtes,
       |bench AS (SELECT DISTINCT s FROM ex WHERE doc_id % 97 = 0),
       |train AS (SELECT doc_id, s FROM ex WHERE doc_id % 97 <> 0),
       |hits AS (SELECT t.doc_id, COUNT(*) AS contaminated_shingles
       |         FROM train t JOIN bench b ON t.s = b.s
       |         GROUP BY t.doc_id)
       |SELECT h.doc_id, contaminated_shingles, sz.n AS n_shingles,
       |       CAST(contaminated_shingles AS DOUBLE) / sz.n AS contamination_rate
       |FROM hits h JOIN sizes sz ON h.doc_id = sz.doc_id
       |ORDER BY contamination_rate DESC, h.doc_id
       |LIMIT 100""".stripMargin

  /** NON-distinct n-gram instances per doc (one row per gram occurrence,
    * multiplicity preserved — the unit the span-duplication profile counts),
    * built with the same posexplode + window-lead shape as
    * [[shinglePostings]]. `carry` propagates extra per-doc columns (e.g.
    * `source`) through the explode.
    */
  def gramInstances(docs: DataFrame, n: Int, carry: Seq[String] = Seq.empty): DataFrame = {
    val carryCols = carry.map(col)
    val toks = docs
      .select(col("doc_id") +: carryCols :+
        posexplode(split(lower(trim(col("text"))), "\\s+")).as(Seq("pos", "tok")): _*)
      .filter(length(col("tok")) > 0)
    val w = Window.partitionBy("doc_id").orderBy("pos")
    val leads = (1 until n).map(i => lead("tok", i).over(w).as(s"t$i"))
    val gram = concat_ws(" ", col("tok") +: (1 until n).map(i => col(s"t$i")): _*)
    toks
      .select(col("doc_id") +: carryCols ++: col("pos") +: col("tok") +: leads: _*)
      .filter(col(s"t${n - 1}").isNotNull)
      .select(col("doc_id") +: carryCols :+ gram.as("gram"): _*)
  }

  /** Exact near-dup pairs (Jaccard ≥ minJ) via PPJoin-style PREFIX
    * filtering (Xiao et al., WWW 2008; Chaudhuri et al., ICDE 2006): rank
    * each document's shingles under one global canonical order (document
    * frequency ascending, shingle as tie-break — rarest first) and index
    * only the first |d| − ⌈minJ·|d|⌉ + 1 of them. Any two sets with
    * J ≥ minJ MUST share a prefix shingle under a common total order, so
    * joining prefixes (instead of full postings) loses nothing — while the
    * pair-generating join shrinks from all postings to ~(1−minJ)·|d|+1 per
    * doc (at minJ=0.8, ~5× fewer postings and far fewer candidate pairs,
    * since prefixes hold the RAREST shingles). True intersections are then
    * computed only for surviving candidates by joining back to the full
    * postings — the standard filter-verify shape.
    *
    * Same output contract as [[nearDupPairs]] (exact J ≥ minJ pairs), so
    * both faces share one oracle; DedupSpec asserts bit-equality.
    *
    * Scale: the quadratic-risk join consumes prefix postings only; the
    * verify joins are candidate-bounded (Σ_cand |a|), the PPJoin trade.
    * The df ranking reuses the postings exchange; everything is hash
    * aggregates + keyed joins, no window over the full posting stream —
    * the rank window partitions by doc_id (shard-local).
    */
  /** C4-style duplicated-span removal: every occurrence of a duplicated
    * n-gram except the corpus-wide FIRST (by (doc_id, pos) — a total order)
    * is removed, covered token positions drop, and documents rebuild from
    * surviving tokens. See the `q_dedup_span_removal` QueryDef comment for
    * the full scale rationale (argmin aggregate, no per-gram window, no
    * pair join).
    */
  /** (doc_id, pos, tok) token stream — contiguous 0-based positions. */
  private def tokenStream(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      posexplode(graft.functions.TextFunctions.tokens(col("text")))
        .as(Seq("pos", "tok")))

  /** (doc_id, pos, gram) n-gram occurrence stream over [[tokenStream]]. */
  private def gramOccurrences(toks: DataFrame, n: Int): DataFrame = {
    val w = Window.partitionBy("doc_id").orderBy("pos")
    val leads = (1 until n).map(i => lead("tok", i).over(w).as(s"t$i"))
    val gram = concat_ws(" ", col("tok") +: (1 until n).map(i => col(s"t$i")): _*)
    toks
      .select(col("doc_id") +: col("pos") +: col("tok") +: leads: _*)
      .filter(col(s"t${n - 1}").isNotNull)
      .select(col("doc_id"), col("pos"), gram.as("gram"))
  }

  /** Rebuild documents from the token stream minus `removed` gram
    * occurrences: positions covered by any removed occurrence drop, the
    * rest re-join in order.
    */
  private def rebuildWithout(toks: DataFrame, removed: DataFrame, n: Int): DataFrame = {
    val cover = removed
      .select(col("doc_id"),
        explode(sequence(col("pos"), col("pos") + lit(n - 1))).as("pos"))
      .distinct()
    val kept = toks.join(cover, Seq("doc_id", "pos"), "left_anti")
    val totals = toks.groupBy("doc_id").agg(count(lit(1)).as("n_total"))
    kept.groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_kept"),
        expr("array_join(transform(array_sort(collect_list(struct(pos, tok))), x -> x.tok), ' ')")
          .as("clean_text"))
      .join(totals, "doc_id")
      .select(col("doc_id"), col("n_kept"),
        (col("n_total") - col("n_kept")).as("n_removed"), col("clean_text"))
  }

  def removeDuplicatedSpans(docs: DataFrame, n: Int): DataFrame = {
    val toks = tokenStream(docs)
    val occ = gramOccurrences(toks, n)
    val firsts = occ.groupBy("gram").agg(
        count(lit(1)).as("cnt"),
        min(struct(col("doc_id"), col("pos"))).as("first"))
      .filter(col("cnt") >= 2)
    val removed = occ.join(firsts, "gram")
      .filter(!(col("doc_id") === col("first.doc_id") &&
        col("pos") === col("first.pos")))
    rebuildWithout(toks, removed, n)
  }

  /** Incremental span removal: dedupe an INCOMING batch's spans against a
    * standing corpus whose copies are canonical — the nightly face of
    * [[removeDuplicatedSpans]], mirroring [[nearDupPairsIncremental]]'s
    * contract. A batch occurrence is removed iff its gram exists ANYWHERE
    * in the index (the index copy is the keeper — the index is never
    * rewritten), or earlier in the batch itself ((doc_id, pos) argmin,
    * batch-internal). Only batch documents are rebuilt.
    *
    * Scale: the index contributes a distinct-gram set pruned to grams the
    * BATCH actually contains (a gram-keyed semi-join — index postings
    * participate in proportion to the increment's vocabulary, exactly the
    * has_inc prune the incremental near-dup audit pins); batch-internal
    * dedup is the same argmin aggregate as the full rewrite. Nothing
    * scans index text twice, no pair join.
    */
  def removeDuplicatedSpansIncremental(index: DataFrame, batch: DataFrame,
      n: Int): DataFrame = {
    val toksB = tokenStream(batch)
    val occB = gramOccurrences(toksB, n)
    val indexGrams = gramOccurrences(tokenStream(index), n)
      .select("gram")
      .join(occB.select("gram").distinct(), "gram") // prune to batch vocab
      .distinct()
    val inIndex = occB.join(indexGrams, "gram")
      .select("doc_id", "pos")
    val firstsB = occB.groupBy("gram").agg(
        count(lit(1)).as("cnt"),
        min(struct(col("doc_id"), col("pos"))).as("first"))
      .filter(col("cnt") >= 2)
    val laterInBatch = occB.join(firstsB, "gram")
      .filter(!(col("doc_id") === col("first.doc_id") &&
        col("pos") === col("first.pos")))
      .select("doc_id", "pos")
    rebuildWithout(toksB, inIndex.unionByName(laterInBatch).distinct(), n)
  }

  def nearDupPairsPrefix(docs: DataFrame, minJ: Double): DataFrame = {
    val sh = shinglePostings(docs)
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val dfreq = sh.groupBy("sh").agg(count(lit(1)).as("df"))
    val ranked = sh.join(dfreq, "sh")
      .withColumn("rk", row_number().over(
        Window.partitionBy("doc_id").orderBy("df", "sh")))
      .join(sizes, "doc_id")
    // prefix = rarest (n - ceil(minJ*n) + 1) shingles; singleton-df entries
    // occupy their prefix slots (the theorem needs ranks over ALL shingles)
    // but can never match, so they drop AFTER the rank is assigned
    val prefix = ranked
      .filter(col("rk") <= col("n") - ceil(lit(minJ) * col("n")) + 1)
      .filter(col("df") > 1)
      .select("doc_id", "sh", "n")
    val cand = prefix.as("a").join(prefix.as("b"),
        col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id") &&
          least(col("a.n"), col("b.n")) >= lit(minJ) * greatest(col("a.n"), col("b.n")))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.n").as("n_a"), col("b.n").as("n_b"))
      .distinct()
    val inter = cand
      .join(sh.select(col("doc_id").as("doc_a"), col("sh")), Seq("doc_a"))
      .join(sh.select(col("doc_id").as("doc_b"), col("sh")), Seq("doc_b", "sh"))
      .groupBy("doc_a", "doc_b", "n_a", "n_b")
      .agg(count(lit(1)).as("n_inter"))
    inter
      .withColumn("jaccard",
        col("n_inter").cast("double") / (col("n_a") + col("n_b") - col("n_inter")))
      .filter(col("jaccard") >= minJ)
      .select("doc_a", "doc_b", "n_a", "n_b", "n_inter", "jaccard")
  }

  /** Exact near-dup pairs (Jaccard ≥ minJ) for any (doc_id, text) frame —
    * the inverted-index plan shared by q_dedup_ngram_jaccard and the corpus
    * cleaning pipeline.
    *
    * Two exactness-preserving prunes make the self-join scale:
    *
    *  - df-prune: a shingle appearing in exactly ONE document cannot
    *    contribute to any pair, so singleton postings are dropped before
    *    the join. On natural corpora the long tail dominates (most shingles
    *    are singletons) and this shrinks the self-join input by an order of
    *    magnitude; on the dense synthetic testdata it removes only ~0.1% of
    *    postings and costs one hash aggregate — a deliberate trade in favor
    *    of the at-scale distribution.
    *  - size-ratio prune inside the join condition: Jaccard ≥ minJ forces
    *    min(|A|,|B|) ≥ minJ·max(|A|,|B|) (intersection ≤ smaller set, union
    *    ≥ larger set), so wildly different-sized docs never reach the
    *    pair-count aggregate.
    *
    * Pair sizes (n_a/n_b) still come from the UNPRUNED postings — the
    * Jaccard denominator must count singleton shingles.
    */
  def nearDupPairs(docs: DataFrame, minJ: Double): DataFrame = {
    val sh = shinglePostings(docs)
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    // document frequency as a HASH aggregate (partial combine collapses
    // singleton shingles map-side — a window over sh would sort every
    // posting instead); joined LAST so `shared` comes out partitioned by
    // sh and the pair self-join reuses that exchange on both sides
    val multiDoc = sh.groupBy("sh").agg(count(lit(1)).as("df"))
      .filter(col("df") > 1).select("sh")
    val shared = sh
      .join(sizes, "doc_id") // carry |doc| into the join for the ratio prune
      .join(multiDoc, "sh")
    val pairs = shared.as("a").join(shared.as("b"),
        col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id") &&
          least(col("a.n"), col("b.n")) >= lit(minJ) * greatest(col("a.n"), col("b.n")))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_inter"))
    pairs
      .join(sizes.select(col("doc_id").as("doc_a"), col("n").as("n_a")), "doc_a")
      .join(sizes.select(col("doc_id").as("doc_b"), col("n").as("n_b")), "doc_b")
      .withColumn("jaccard",
        col("n_inter").cast("double") / (col("n_a") + col("n_b") - col("n_inter")))
      .filter(col("jaccard") >= minJ)
      .select("doc_a", "doc_b", "n_a", "n_b", "n_inter", "jaccard")
  }

  /** INCREMENTAL near-dup pairs: new documents against an existing
    * (already-deduplicated) index — the nightly-ingest shape. A corpus that
    * grows by ΔN docs a day must not re-pair the full index against itself;
    * only (index × incoming) and (incoming × incoming) pairs are eligible,
    * and the posting join is additionally pruned to shingles occurring in
    * at least one INCOMING doc — so the index's postings participate in
    * proportion to the increment's shingle vocabulary, not the index size.
    * Survivor priority: index docs always win (they were there first), and
    * among incoming docs the lower doc_id wins — `doc_b` is always the
    * incoming victim candidate. Same df/size-ratio prunes and exact-Jaccard
    * re-score as [[nearDupPairs]]; doc_id spaces must be disjoint.
    */
  def nearDupPairsIncremental(index: DataFrame, incoming: DataFrame,
      minJ: Double): DataFrame = {
    // postings built PER SIDE with the src flag attached as a literal — at
    // index scale a join of postings back to a doc→src map would be a
    // second doc_id-keyed shuffle of every posting; the union is free
    val sh = shinglePostings(index.select("doc_id", "text")).withColumn("src", lit(0))
      .unionByName(
        shinglePostings(incoming.select("doc_id", "text")).withColumn("src", lit(1)))
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    // pairable shingles: in ≥2 docs overall AND ≥1 incoming doc — the
    // incremental analogue of the df-prune (an index-only shingle cannot
    // produce an eligible pair, however common it is in the index)
    val pairable = sh.groupBy("sh")
      .agg(count(lit(1)).as("df"), max(col("src")).as("has_inc"))
      .filter(col("df") > 1 && col("has_inc") === 1)
      .select("sh")
    val shared = sh.join(sizes, "doc_id").join(pairable, "sh")
    val precedes = (col("a.src") < col("b.src")) ||
      (col("a.src") === col("b.src") && col("a.doc_id") < col("b.doc_id"))
    val pairs = shared.as("a").join(shared.as("b"),
        col("a.sh") === col("b.sh") && col("b.src") === 1 && precedes &&
          least(col("a.n"), col("b.n")) >= lit(minJ) * greatest(col("a.n"), col("b.n")))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_inter"))
    pairs
      .join(sizes.select(col("doc_id").as("doc_a"), col("n").as("n_a")), "doc_a")
      .join(sizes.select(col("doc_id").as("doc_b"), col("n").as("n_b")), "doc_b")
      .withColumn("jaccard",
        col("n_inter").cast("double") / (col("n_a") + col("n_b") - col("n_inter")))
      .filter(col("jaccard") >= minJ)
      .select("doc_a", "doc_b", "n_a", "n_b", "n_inter", "jaccard")
  }

  /** (candidate pairs, postings) → exact-Jaccard-verified pairs ≥ minJ.
    * Intersections come from joining the candidates back to the postings on
    * both sides — proportional to the candidates' postings, never n².
    */
  /** 32-slot minhash signature per doc (+ shingle count `n`): 32
    * min-aggregates in ONE hash aggregate = the whole signature build.
    * Slot hashes re-hash the 64-bit shingle hash with a seed literal —
    * affine h*a+b would be cheaper still, but wrapping multiplication
    * throws under ANSI mode (Spark 4 default).
    */
  def minhashSignature(sh: DataFrame): DataFrame = {
    val hashed = sh.select(col("doc_id"), xxhash64(col("sh")).as("h"))
    val slotAggs = (0 until 32).map(i =>
      min(xxhash64(lit(i), col("h"))).as(s"m$i"))
    hashed.groupBy("doc_id")
      .agg(slotAggs.head, (slotAggs.tail :+ count(lit(1)).as("n")): _*)
  }

  /** The signature's 8×4 LSH banding: (doc_id, band_id, band_key). */
  def minhashBands(sig: DataFrame): DataFrame =
    sig.select(col("doc_id"),
      explode(array((0 until 8).map(b =>
        struct(lit(b).as("band_id"),
          xxhash64((b * 4 until b * 4 + 4).map(i => col(s"m$i")): _*).as("band_key"))): _*)).as("band"))
      .select(col("doc_id"), col("band.band_id"), col("band.band_key"))

  private[graft] def verifyByJaccard(cands: DataFrame, sh: DataFrame, sizes: DataFrame,
      minJ: Double): DataFrame = {
    val inter = cands
      .join(sh.select(col("doc_id").as("doc_a"), col("sh")), "doc_a")
      .join(sh.select(col("doc_id").as("doc_b"), col("sh")), Seq("doc_b", "sh"))
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("n_inter"))
    inter
      .join(sizes.select(col("doc_id").as("doc_a"), col("n").as("n_a")), "doc_a")
      .join(sizes.select(col("doc_id").as("doc_b"), col("n").as("n_b")), "doc_b")
      .withColumn("jaccard",
        col("n_inter").cast("double") / (col("n_a") + col("n_b") - col("n_inter")))
      .filter(col("jaccard") >= minJ)
      .select("doc_a", "doc_b", "n_a", "n_b", "n_inter", "jaccard")
      .orderBy("doc_a", "doc_b")
  }


  val defs: Seq[QueryDef] = Seq(

    // ----- Exact n-gram Jaccard near-dup pairs (inverted-index join) -----
    QueryDef(
      "q_dedup_ngram_jaccard",
      s"""WITH $shingleCtes,
         |pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
         |          FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
         |          GROUP BY 1, 2)
         |SELECT doc_a, doc_b, sa.n AS n_a, sb.n AS n_b, n_inter,
         |       CAST(n_inter AS DOUBLE) / (sa.n + sb.n - n_inter) AS jaccard
         |FROM pairs JOIN sizes sa ON doc_a = sa.doc_id JOIN sizes sb ON doc_b = sb.doc_id
         |WHERE CAST(n_inter AS DOUBLE) / (sa.n + sb.n - n_inter) >= 0.8
         |ORDER BY doc_a, doc_b""".stripMargin) { (s, d) =>
      nearDupPairs(Tables.documents(s, d), minJ = 0.8).orderBy("doc_a", "doc_b")
    },

    // ----- Prefix-filtered near-dup (PPJoin filter-verify) -----
    // Same answer as q_dedup_ngram_jaccard with a 4.7×-smaller pair-join
    // input: the pair join consumes only each doc's rarest
    // (1-minJ)-fraction prefix under a global (df, shingle) order — see
    // nearDupPairsPrefix. The oracle is the SAME exact-Jaccard SQL as the
    // inverted-index face: the gate proves prefix filtering is lossless.
    //
    // Measured honesty (r10, BASELINE.md): on THIS corpus there is no
    // crossover — steady-state the inverted-index face wins ~10-25% at ×1,
    // ×10, and ×20 (both scale sub-linearly per row; the ×20 probe's raw
    // 30.6× ratio was a first-execution artifact, 37 s rep1 vs 13.5 s
    // steady). The df-ranking stages (df join + per-doc window + sizes
    // join) cost more than the saved pair-join work when the df/size-ratio
    // prunes already bound candidates. PPJoin's payoff regime is
    // candidate-dominated corpora — high duplication rates and longer
    // documents where |candidates| approaches |postings|² — so the face is
    // kept as the published-algorithm alternative for that regime, not as
    // the default.
    QueryDef(
      "q_dedup_prefix_filter",
      s"""WITH $shingleCtes,
         |pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
         |          FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
         |          GROUP BY 1, 2)
         |SELECT doc_a, doc_b, sa.n AS n_a, sb.n AS n_b, n_inter,
         |       CAST(n_inter AS DOUBLE) / (sa.n + sb.n - n_inter) AS jaccard
         |FROM pairs JOIN sizes sa ON doc_a = sa.doc_id JOIN sizes sb ON doc_b = sb.doc_id
         |WHERE CAST(n_inter AS DOUBLE) / (sa.n + sb.n - n_inter) >= 0.8
         |ORDER BY doc_a, doc_b""".stripMargin) { (s, d) =>
      nearDupPairsPrefix(Tables.documents(s, d), minJ = 0.8).orderBy("doc_a", "doc_b")
    },

    // ----- Incremental dedup: nightly increment vs existing index -----
    // Split by doc_id parity: even = the standing index, odd = the new
    // batch. Only (index × new) and (new × new) pairs are eligible; the
    // index never re-pairs against itself, and doc_b is always the incoming
    // victim. The oracle mirrors the precedence rule (index-first, then
    // lower doc_id) in plain SQL.
    QueryDef(
      "q_dedup_incremental",
      s"""WITH $shingleCtes,
         |src AS (SELECT doc_id, doc_id % 2 AS src FROM documents),
         |exs AS (SELECT e.doc_id, e.s, c.src FROM ex e JOIN src c ON e.doc_id = c.doc_id),
         |pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
         |          FROM exs a JOIN exs b ON a.s = b.s AND b.src = 1
         |           AND (a.src < b.src OR (a.src = b.src AND a.doc_id < b.doc_id))
         |          GROUP BY 1, 2)
         |SELECT doc_a, doc_b, sa.n AS n_a, sb.n AS n_b, n_inter,
         |       CAST(n_inter AS DOUBLE) / (sa.n + sb.n - n_inter) AS jaccard
         |FROM pairs JOIN sizes sa ON doc_a = sa.doc_id JOIN sizes sb ON doc_b = sb.doc_id
         |WHERE CAST(n_inter AS DOUBLE) / (sa.n + sb.n - n_inter) >= 0.8
         |ORDER BY doc_a, doc_b""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      nearDupPairsIncremental(
        docs.filter(col("doc_id") % 2 === 0),
        docs.filter(col("doc_id") % 2 === 1), minJ = 0.8)
        .orderBy("doc_a", "doc_b")
    },

    // ----- MinHash + LSH banding, exact-verified (the at-scale dedup path) -----
    // Candidate generation is seeded-hash DETERMINISTIC but not expressible
    // in DuckDB; the ORACLE therefore re-verifies the exact-Jaccard final
    // stage over the STAGED candidate pairs (OracleStage), while DedupSpec
    // asserts the candidates recover the exact pair set on the test corpus.
    QueryDef(
      "q_dedup_minhash_lsh",
      s"""WITH $shingleCtes,
         |cand AS (SELECT doc_a, doc_b FROM ${graft.OracleStage.pq("cands_minhash")}),
         |inter AS (SELECT c.doc_a, c.doc_b, COUNT(*) AS n_inter
         |          FROM cand c
         |          JOIN ex a ON a.doc_id = c.doc_a
         |          JOIN ex b ON b.doc_id = c.doc_b AND b.s = a.s
         |          GROUP BY 1, 2)
         |SELECT doc_a, doc_b, sa.n AS n_a, sb.n AS n_b, n_inter,
         |       CAST(n_inter AS DOUBLE) / (sa.n + sb.n - n_inter) AS jaccard
         |FROM inter JOIN sizes sa ON doc_a = sa.doc_id JOIN sizes sb ON doc_b = sb.doc_id
         |WHERE CAST(n_inter AS DOUBLE) / (sa.n + sb.n - n_inter) >= 0.8
         |ORDER BY doc_a, doc_b""".stripMargin) { (s, d) =>
      val sh = shinglePostings(s, d)
      val sig = minhashSignature(sh)
      val bands = minhashBands(sig)
      // skew guard: bounded per-bucket pair generation (hot band buckets —
      // boilerplate/empty docs — degrade to a linear star, never B²)
      val cands = graft.OracleStage.stage("cands_minhash",
        LshBlocking.boundedBucketPairs(bands, Seq("band_id", "band_key"), "doc_id")
          .select(col("id_a").as("doc_a"), col("id_b").as("doc_b")))
      val sizes = sig.select(col("doc_id"), col("n"))
      verifyByJaccard(cands, sh, sizes, minJ = 0.8)
    },

    // ----- Benchmark decontamination: flag training docs overlapping a
    // held-out benchmark set by shared n-grams (the standard pre-training
    // hygiene step: no eval shingle may leak into the training corpus).
    // Same inverted-index shape as the near-dup join: shuffle key is the
    // shingle, the benchmark side is bounded by construction (benchmarks are
    // small) and broadcast, so the training corpus never shuffles at all —
    // a map-side semi-join at any scale. -----
    QueryDef(
      "q_decontaminate",
      decontaminateOracle) { (s, d) =>
      val sh = shinglePostings(s, d)
      // stand-in benchmark slice: every 97th doc (deterministic holdout)
      val benchSh = sh.filter(col("doc_id") % 97 === 0).select("sh").distinct()
      val train = sh.filter(col("doc_id") % 97 =!= 0)
      val sizes = train.groupBy("doc_id").agg(count(lit(1)).as("n_shingles"))
      decontaminateFinal(train.join(broadcast(benchSh), "sh"), sizes)
    },

    // ----- Decontamination, Bloom-pre-filtered face -----
    // Same contract as q_decontaminate (the oracle is LITERALLY the same
    // SQL — the Bloom filter is a lossless pre-filter given the exact
    // verify join), different scale regime. The broadcast-exact face
    // assumes the benchmark's distinct shingles fit a broadcast hash
    // table; real decontamination sets (every eval suite's 13-grams) can
    // reach 10⁸⁺ entries where an exact broadcast table blows the driver
    // /executor budget but a Bloom filter is ~256 MB at 1% FP. Shape:
    //  1. fold benchmark shingles into m bits via a distributed bit_or
    //     aggregate (one job over the SMALL side);
    //  2. bit-test every train posting MAP-SIDE (pure codegen'd projection
    //     — the corpus never shuffles to discover it is clean);
    //  3. exact semi-join ONLY the survivors (true hits + bloom FPs,
    //     ~hit-rate + 2⁻ᵏ′ of postings) against the benchmark to kill
    //     false positives. Catalyst picks broadcast here at test scale;
    //     at the 10⁸-shingle scale it plans a shuffled join whose left
    //     input the bloom already cut by ~99%.
    QueryDef(
      "q_decontaminate_bloom",
      decontaminateOracle) { (s, d) =>
      val sh = shinglePostings(s, d)
      val benchSh = sh.filter(col("doc_id") % 97 === 0).select("sh").distinct()
      val train = sh.filter(col("doc_id") % 97 =!= 0)
      val sizes = train.groupBy("doc_id").agg(count(lit(1)).as("n_shingles"))
      val words = graft.functions.BloomFilters.build(
        benchSh, col("sh"), logM = BloomLogM, k = BloomK)
      val pruned = train.filter(
        graft.functions.BloomFilters.mightContain(col("sh"), words, BloomLogM, BloomK))
      decontaminateFinal(pruned.join(broadcast(benchSh), "sh"), sizes)
    },

    // ----- Duplicated-SPAN profile (substring-level dedup) -----
    // Whole-doc Jaccard misses partial duplication: a doc that embeds a
    // copied paragraph in otherwise-unique text scores low overall. The
    // span profile (Lee et al. 2022's "Deduplicating Training Data Makes
    // Language Models Better" measure, shrunk from 50-token to 5-token
    // units for this corpus) counts, per document, the fraction of 5-gram
    // INSTANCES (with multiplicity — a repeated span inside one doc still
    // counts each occurrence) whose gram occurs in ≥2 distinct documents.
    //
    // Scale: strictly the inverted-index pattern WITHOUT a pair self-join —
    // gram instances aggregate to a distinct-doc frequency, and the
    // duplicated-vocabulary side joins back gram-keyed (vocabulary-sized,
    // far below the instance stream). Everything is one scan (the gram
    // stream's exchange is reused by both the df aggregate and the
    // join-back), map-side partial aggregation throughout, output bounded
    // by the document count.
    QueryDef(
      "q_dedup_span",
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |g AS (SELECT doc_id,
         |             unnest(CASE WHEN len(toks) >= 5
         |                    THEN list_transform(generate_series(1, len(toks)-4),
         |                         i -> array_to_string(toks[i:i+4], ' '))
         |                    ELSE [] END) AS gram
         |      FROM t),
         |dup AS (SELECT gram FROM (SELECT gram, COUNT(DISTINCT doc_id) AS ddf
         |                          FROM g GROUP BY 1) WHERE ddf >= 2),
         |per AS (SELECT g.doc_id, COUNT(*) AS n_grams,
         |               COUNT(dup.gram) AS n_dup_grams
         |        FROM g LEFT JOIN dup ON g.gram = dup.gram
         |        GROUP BY g.doc_id)
         |SELECT doc_id, n_grams, n_dup_grams,
         |       CAST(n_dup_grams AS DOUBLE) / n_grams AS dup_frac
         |FROM per
         |WHERE CAST(n_dup_grams AS DOUBLE) / n_grams >= 0.2
         |ORDER BY doc_id""".stripMargin) { (s, d) =>
      val grams = gramInstances(Tables.documents(s, d), n = 5)
      val dup = grams.select("doc_id", "gram").distinct()
        .groupBy("gram").agg(count(lit(1)).as("ddf"))
        .filter(col("ddf") >= 2)
        .select(col("gram"), lit(1).as("is_dup"))
      grams.join(dup, Seq("gram"), "left")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_grams"), count(col("is_dup")).as("n_dup_grams"))
        .withColumn("dup_frac", col("n_dup_grams").cast("double") / col("n_grams"))
        .filter(col("dup_frac") >= 0.2)
        .select("doc_id", "n_grams", "n_dup_grams", "dup_frac")
        .orderBy("doc_id")
    },

    // ----- Duplicated-span REMOVAL (the C4/Lee-et-al. rewrite step) -----
    // q_dedup_span PROFILES span duplication; this query performs the
    // actual corpus rewrite: every occurrence of a duplicated 5-gram except
    // the corpus-wide FIRST (ordered by doc_id, pos — a total order both
    // engines agree on) is removed, token positions covered by a removed
    // occurrence are dropped, and documents are rebuilt from the surviving
    // tokens. Ref behavior class: C4 §2.2 three-sentence-span dedup /
    // Lee et al. 2022 exact-substring dedup, re-expressed over word
    // 5-grams.
    //
    // Scale: the "first occurrence per gram" is an argmin AGGREGATE
    // (min(struct(doc_id, pos))) with map-side partial aggregation — NOT a
    // per-gram row_number window, whose hot-gram partitions would skew at
    // corpus scale. Occurrences join back gram-keyed (reusing the postings
    // exchange), cover expansion is a bounded ×n explode, and the rebuild
    // is one doc_id-keyed aggregate. No pair join anywhere; every stage is
    // linear in the token stream.
    QueryDef(
      "q_dedup_span_removal",
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |tok AS (SELECT doc_id, unnest(generate_series(1, len(toks))) AS i, toks FROM t),
         |tok2 AS (SELECT doc_id, i, toks[i] AS tok FROM tok),
         |g AS (SELECT doc_id, i AS pos, array_to_string(toks[i:i+4], ' ') AS gram
         |      FROM tok WHERE i + 4 <= len(toks)),
         |r AS (SELECT doc_id, pos,
         |             ROW_NUMBER() OVER (PARTITION BY gram ORDER BY doc_id, pos) AS rn
         |      FROM g),
         |cover AS (SELECT DISTINCT doc_id, i FROM (
         |            SELECT doc_id, unnest(generate_series(pos, pos + 4)) AS i
         |            FROM r WHERE rn >= 2)),
         |kept AS (SELECT tok2.doc_id, tok2.i, tok2.tok
         |         FROM tok2 LEFT JOIN cover
         |           ON tok2.doc_id = cover.doc_id AND tok2.i = cover.i
         |         WHERE cover.i IS NULL),
         |tot AS (SELECT doc_id, COUNT(*) AS n_total FROM tok2 GROUP BY 1),
         |k AS (SELECT doc_id, COUNT(*) AS n_kept,
         |             string_agg(tok, ' ' ORDER BY i) AS clean_text
         |      FROM kept GROUP BY 1)
         |SELECT k.doc_id, k.n_kept, tot.n_total - k.n_kept AS n_removed,
         |       k.clean_text
         |FROM k JOIN tot ON k.doc_id = tot.doc_id
         |ORDER BY k.doc_id""".stripMargin) { (s, d) =>
      removeDuplicatedSpans(Tables.documents(s, d), n = 5).orderBy("doc_id")
    },

    // ----- Incremental span removal: batch vs standing corpus -----
    // Same parity split as q_dedup_incremental (even = standing index,
    // odd = incoming batch): batch occurrences of any gram the index
    // already contains are removed (the index copy is canonical), plus
    // batch-internal non-first occurrences; only batch docs rebuild.
    QueryDef(
      "q_dedup_span_removal_inc",
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |tokB AS (SELECT doc_id, unnest(generate_series(1, len(toks))) AS i, toks
         |         FROM t WHERE doc_id % 2 = 1),
         |tok2B AS (SELECT doc_id, i, toks[i] AS tok FROM tokB),
         |gB AS (SELECT doc_id, i AS pos, array_to_string(toks[i:i+4], ' ') AS gram
         |       FROM tokB WHERE i + 4 <= len(toks)),
         |gI AS (SELECT DISTINCT array_to_string(toks[i:i+4], ' ') AS gram
         |       FROM (SELECT doc_id, unnest(generate_series(1, len(toks))) AS i, toks
         |             FROM t WHERE doc_id % 2 = 0) x
         |       WHERE i + 4 <= len(toks)),
         |rB AS (SELECT doc_id, pos, gram,
         |              ROW_NUMBER() OVER (PARTITION BY gram ORDER BY doc_id, pos) AS rn
         |       FROM gB),
         |rem AS (SELECT doc_id, pos FROM gB WHERE gram IN (SELECT gram FROM gI)
         |        UNION
         |        SELECT doc_id, pos FROM rB WHERE rn >= 2),
         |cover AS (SELECT DISTINCT doc_id, i FROM (
         |            SELECT doc_id, unnest(generate_series(pos, pos + 4)) AS i FROM rem)),
         |kept AS (SELECT tok2B.doc_id, tok2B.i, tok2B.tok
         |         FROM tok2B LEFT JOIN cover
         |           ON tok2B.doc_id = cover.doc_id AND tok2B.i = cover.i
         |         WHERE cover.i IS NULL),
         |tot AS (SELECT doc_id, COUNT(*) AS n_total FROM tok2B GROUP BY 1),
         |k AS (SELECT doc_id, COUNT(*) AS n_kept,
         |             string_agg(tok, ' ' ORDER BY i) AS clean_text
         |      FROM kept GROUP BY 1)
         |SELECT k.doc_id, k.n_kept, tot.n_total - k.n_kept AS n_removed,
         |       k.clean_text
         |FROM k JOIN tot ON k.doc_id = tot.doc_id
         |ORDER BY k.doc_id""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      removeDuplicatedSpansIncremental(
          index = docs.filter(col("doc_id") % 2 === 0),
          batch = docs.filter(col("doc_id") % 2 === 1), n = 5)
        .orderBy("doc_id")
    },

    // ----- Per-source boilerplate grams (C4-style template detection) -----
    // Web-scale corpora carry per-site templates (nav bars, footers, legal
    // boilerplate) that repeat across many documents of a SOURCE while
    // being rare corpus-wide — the C4 cleaning step drops them. This query
    // surfaces each source's template vocabulary: the top-10 5-grams by
    // within-source document share (≥2 docs), rank-based rather than an
    // absolute share floor so the output is non-degenerate at every corpus
    // scale (share distributions dilute as docs-per-source grows).
    //
    // Scale: distinct (source, gram, doc) postings → one (source, gram)
    // aggregate; the per-source doc counts are a tiny broadcast side; the
    // top-10 rank is a window partitioned BY SOURCE (shard-local, never a
    // single-partition sort). No self-join anywhere; output is bounded by
    // 10 × n_sources regardless of corpus size.
    QueryDef(
      "q_boilerplate_by_source",
      s"""WITH t AS (SELECT doc_id, source, $toksSql AS toks FROM documents),
         |g AS (SELECT DISTINCT doc_id, source,
         |             unnest(CASE WHEN len(toks) >= 5
         |                    THEN list_transform(generate_series(1, len(toks)-4),
         |                         i -> array_to_string(toks[i:i+4], ' '))
         |                    ELSE [] END) AS gram
         |      FROM t),
         |per_src AS (SELECT source, COUNT(DISTINCT doc_id) AS n_docs FROM t GROUP BY 1),
         |df AS (SELECT source, gram, COUNT(*) AS n_docs_with
         |       FROM g GROUP BY 1, 2 HAVING COUNT(*) >= 2),
         |ranked AS (
         |  SELECT df.source, gram, n_docs_with, n_docs,
         |         CAST(n_docs_with AS DOUBLE) / n_docs AS share,
         |         ROW_NUMBER() OVER (PARTITION BY df.source
         |           ORDER BY CAST(n_docs_with AS DOUBLE) / n_docs DESC, gram) AS rk
         |  FROM df JOIN per_src USING (source))
         |SELECT source, gram, n_docs_with, n_docs, share, rk
         |FROM ranked WHERE rk <= 10
         |ORDER BY source, rk""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      val grams = gramInstances(docs.select(col("doc_id"), col("source"), col("text")),
          n = 5, carry = Seq("source"))
        .select("doc_id", "source", "gram").distinct()
      val perSrc = docs.groupBy("source").agg(countDistinct(col("doc_id")).as("n_docs"))
      val w = Window.partitionBy("source")
        .orderBy(col("share").desc, col("gram"))
      grams.groupBy("source", "gram").agg(count(lit(1)).as("n_docs_with"))
        .filter(col("n_docs_with") >= 2)
        .join(broadcast(perSrc), "source")
        .withColumn("share", col("n_docs_with").cast("double") / col("n_docs"))
        .withColumn("rk", row_number().over(w).cast("long"))
        .filter(col("rk") <= 10)
        .select("source", "gram", "n_docs_with", "n_docs", "share", "rk")
        .orderBy("source", "rk")
    },

    // ----- Fuzzy entity matching (deletion-neighborhood blocking) -----
    // Entity-resolution for near-identical names: pairs of customers whose
    // names are within Levenshtein distance 1. Blocking is the FastSS
    // deletion neighborhood (Bocek et al. 2007): every string emits its
    // length+1 single-deletion variants (plus itself); any two strings at
    // edit distance <=1 MUST share a variant, so an inverted-index self-join
    // on the variant key has FULL recall at the threshold — no all-pairs
    // comparison anywhere, no LSH-style recall loss. levenshtein() is then
    // only a verification filter over the candidate pairs.
    //
    // Scale: index size is O(rows * len) postings; join fan-out is bounded
    // by variant-bucket sizes (names sharing a deletion), not the corpus.
    // The same shape extends to distance k with k-deletion variants.
    QueryDef(
      "q_fuzzy_match_name",
      s"""WITH $fuzzyPairCtes
         |SELECT id_a, id_b, name_a, name_b
         |FROM lev
         |ORDER BY id_a, id_b""".stripMargin) { (s, d) =>
      fuzzyNamePairs(s, d).orderBy("id_a", "id_b")
    },

    // ----- Entity-resolution clustering (pairs → transitive entities) -----
    // Record linkage does not stop at PAIRS: the deliverable is one entity
    // id per group of transitively-linked records (A~B, B~C ⇒ {A,B,C} is
    // one entity even when levenshtein(A,C) = 2). This face closes the
    // loop: the FastSS candidate pairs above feed the same min-label
    // connected-components kernel the near-dup survivor policy uses, and
    // each clustered record comes back with its entity id (the cluster's
    // minimum custkey — a deterministic canonical record choice) and the
    // entity's member count. Records matching nothing are their own
    // entity and are omitted (standard linkage output: clusters of size
    // >= 2).
    //
    // Scale: the pair graph after blocking is FAR smaller than the corpus
    // (only records sharing a deletion variant), so the CC step runs on
    // the bounded union-find path / distributed min-label loop of
    // [[graft.operators.ConnectedComponents]]; the members join-back is
    // keyed by custkey. The oracle replays the transitive closure as a
    // recursive CTE — label propagation to fixpoint, exactly the
    // distributed algorithm, so the gate covers the clustering itself,
    // not just the pairs.
    QueryDef(
      "q_er_clusters",
      s"""WITH RECURSIVE $fuzzyPairCtes,
         |edges AS (SELECT id_a AS a, id_b AS b FROM lev
         |          UNION SELECT id_b, id_a FROM lev),
         |reach AS (
         |  SELECT a AS id, a AS r FROM edges
         |  UNION
         |  SELECT e.a, reach.r FROM edges e JOIN reach ON e.b = reach.id),
         |rep AS (SELECT id, MIN(r) AS entity_id FROM reach GROUP BY 1),
         |sizes AS (SELECT entity_id, COUNT(*) AS n_members FROM rep GROUP BY 1)
         |SELECT rep.entity_id, c.c_custkey, c.c_name, sizes.n_members
         |FROM rep
         |JOIN customer c ON rep.id = c.c_custkey
         |JOIN sizes USING (entity_id)
         |ORDER BY entity_id, c_custkey""".stripMargin) { (s, d) =>
      val pairs = fuzzyNamePairs(s, d)
        .select(col("id_a").cast("long"), col("id_b").cast("long"))
      val cc = graft.operators.ConnectedComponents.minLabel(pairs)
      val sizes = cc.groupBy("rep").agg(count(lit(1)).as("n_members"))
      cc.join(sizes, "rep")
        .join(
          Tables.customer(s, d).select(col("c_custkey"), col("c_name")),
          cc("id") === col("c_custkey"))
        .select(col("rep").as("entity_id"), col("c_custkey"), col("c_name"),
          col("n_members"))
        .orderBy("entity_id", "c_custkey")
    },

    // ----- SimHash fingerprints + Hamming-blocked near-dup pairs -----
    // Fingerprints are deterministic xxhash64 votes (not DuckDB-expressible);
    // the oracle re-verifies the Hamming stage — XOR + popcount + threshold —
    // over the STAGED fingerprints and candidate pairs.
    QueryDef(
      "q_dedup_simhash",
      s"""WITH cand AS (SELECT doc_a, doc_b FROM ${graft.OracleStage.pq("cands_simhash")}),
         |fp AS (SELECT doc_id, simhash FROM ${graft.OracleStage.pq("fp_simhash")})
         |SELECT c.doc_a, c.doc_b,
         |       CAST(bit_count(xor(fa.simhash, fb.simhash)) AS INTEGER) AS hamming
         |FROM cand c
         |JOIN fp fa ON fa.doc_id = c.doc_a
         |JOIN fp fb ON fb.doc_id = c.doc_b
         |WHERE bit_count(xor(fa.simhash, fb.simhash)) <= 3
         |ORDER BY doc_a, doc_b""".stripMargin) { (s, d) =>
      val fp = graft.OracleStage.stage("fp_simhash",
        simHashByExplode(Tables.documents(s, d).select("doc_id", "text")))
      // 4 chunks of 16 bits; Hamming ≤ 3 ⇒ some chunk matches exactly — but
      // that pigeonhole completeness holds only for NON-HOT buckets: the skew
      // guard below degrades a hot chunk bucket (> max(64, 8× mean), i.e.
      // boilerplate/identical docs) to a star around a representative, and
      // unlike MinHash there are no other bands to recover a pair whose only
      // shared chunk was starred away. Accepted trade: at 100 TB an unguarded
      // hot bucket is B² pairs of near-identical docs, which no downstream
      // consumer wants enumerated anyway.
      val chunks = fp.select(col("doc_id"),
        explode(array((0 until 4).map(i =>
          struct(lit(i).as("chunk_id"),
            shiftright(col("simhash"), i * 16).bitwiseAND(0xFFFFL).as("chunk"))): _*)).as("c"))
        .select(col("doc_id"), col("c.chunk_id"), col("c.chunk"))
      // skew-guarded candidates as BARE id pairs; the 64-bit fingerprints
      // rejoin only for the Hamming check, so the chunk self-join never
      // shuffles them and hot chunks (identical docs) stay linear
      graft.OracleStage.stage("cands_simhash",
          LshBlocking.boundedBucketPairs(chunks, Seq("chunk_id", "chunk"), "doc_id")
            .withColumnRenamed("id_a", "doc_a").withColumnRenamed("id_b", "doc_b"))
        .join(fp.select(col("doc_id").as("doc_a"), col("simhash").as("sim_a")), "doc_a")
        .join(fp.select(col("doc_id").as("doc_b"), col("simhash").as("sim_b")), "doc_b")
        .withColumn("hamming", bit_count(col("sim_a").bitwiseXOR(col("sim_b"))))
        .filter(col("hamming") <= 3)
        .select("doc_a", "doc_b", "hamming")
        .orderBy("doc_a", "doc_b")
    }
  )

  /** SimHash via explode + 64 conditional sums — numerically identical to
    * TextFunctions.simHash64 (same per-token xxhash64 bit votes) but shaped
    * as a codegen'd hash aggregate instead of interpreted lambda folds.
    */
  def simHashByExplode(docs: DataFrame): DataFrame = {
    val toksH = docs
      .select(col("doc_id"), explode(split(lower(trim(col("text"))), "\\s+")).as("tok"))
      .filter(length(col("tok")) > 0)
      .select(col("doc_id"), xxhash64(col("tok")).as("h"))
    val votes = (0 until 64).map(i =>
      sum(when(shiftright(col("h"), i).bitwiseAND(1) === 1, 1L).otherwise(-1L)).as(s"c$i"))
    val sums = toksH.groupBy("doc_id").agg(votes.head, votes.tail: _*)
    val simhash = (0 until 64).map(i =>
      when(col(s"c$i") > 0, lit(1L << i)).otherwise(lit(0L)): Column)
      .reduce(_ bitwiseOR _)
    sums.select(col("doc_id"), simhash.as("simhash"))
  }
}
