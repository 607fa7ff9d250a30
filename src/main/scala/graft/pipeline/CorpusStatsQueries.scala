package graft.pipeline

import graft.QueryDef
import graft.analytics.Tables
import graft.functions.TextFunctions._
import graft.operators.Checkpoints.StableOps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.SketchExpressions

/** Corpus-statistics operators for the training-data pipeline, beyond the
  * per-document stats in [[TextPipelineQueries]]: repetition-based quality
  * rules, TF-IDF keyword extraction, vocabulary coverage / OOV rate,
  * deterministic sharded training order, and temperature-flattened source
  * mixing. (The reference declares the pipeline stages only — see
  * sql/0.init_healthcare.sql for its data model; these are the
  * corpus-level operations a 100 TB text pipeline runs on top.)
  *
  * Scale notes (the 100× question, per operator):
  *   - Every shuffle below is keyed by `doc_id`, `tok`, `lang` or `shard` —
  *     all high-cardinality or bounded keys, no global single-partition
  *     stage anywhere (the global training order is deliberately expressed
  *     as shard-local ranks, NOT one global `row_number`).
  *   - Bounded side tables (vocabulary, per-language rates, the 1-row
  *     corpus count) are explicitly `broadcast` — the big fact stream is
  *     never reshuffled to meet them.
  *   - All doubles in driver-visible output are produced by single-op
  *     IEEE chains (divide / multiply / sqrt / floor) that Spark and DuckDB
  *     evaluate bit-identically; no `ln`/`exp` whose last-ulp behavior
  *     differs between libm implementations (that is why TF-IDF below uses
  *     the log-free BM25-style rational idf).
  */
object CorpusStatsQueries {

  private val toksSql = graft.functions.TextFunctions.toksSql

  /** HLL register build over a (source, tok) frame: md5 computed ONCE per
    * row, bucket = first 8 hash bits, rho = leading-zeros+1 of the next 32.
    * `max` absorbs duplicate tokens, so the input needs no distinct and the
    * reduction map-side-combines to ≤ 256 partial registers per partition
    * (SketchSpec audits exactly that on this frame's plan). Hashing is the
    * native [[org.apache.spark.sql.graft.Md5Hi64]] (one digest + shifts;
    * the old md5→hex→conv chain was the suite's interpreted-mode worst
    * case) — the DuckDB oracle keeps the hex chain, so the gates prove the
    * derivations equal bit-for-bit.
    */
  private[pipeline] def hllRegisters(raw: DataFrame): DataFrame =
    raw.select(col("source"),
        SketchExpressions.md5Hi64(concat(lit("hll:"), col("tok"))).as("h8"))
      .select(col("source"),
        expr("shiftrightunsigned(h8, 56)").as("bucket"),
        expr("shiftrightunsigned(h8, 24) & 4294967295").as("hv"))
      .groupBy("source", "bucket")
      .agg(max(SketchExpressions.hllRho32(col("hv"))).as("m"))

  /** All counting units for the repetition metrics in ONE exploded stream:
    * (doc_id, kind, unit) where kind ∈ {tok, g2, g3}. Tokenize ONCE,
    * explode, build grams with window `lead` + codegen'd `concat_ws`, fan
    * out 3 units per token with `stack`. Deliberately NOT array-HOF
    * `transform`/`slice` grams: higher-order lambdas evaluate interpreted,
    * and a lambda body referencing the token array re-evaluates the whole
    * tokenizer per element — O(tokens²) regex splits per document (measured
    * 9.1 s for this query at sf0.1; this shape runs ~1 s). The window's
    * doc_id hash partitioning is inherited by every downstream per-doc
    * aggregate, so the whole rollup rides ONE exchange.
    */
  private def repetitionUnits(docs: DataFrame): DataFrame = {
    val w = Window.partitionBy("doc_id").orderBy("pos")
    docs
      .select(col("doc_id"), posexplode(tokens(col("text"))).as(Seq("pos", "tok")))
      .withColumn("tok1", lead("tok", 1).over(w))
      .withColumn("tok2", lead("tok", 2).over(w))
      .select(col("doc_id"), expr(
        """stack(3,
          |  'tok', tok,
          |  'g2', CASE WHEN tok1 IS NOT NULL THEN concat_ws(' ', tok, tok1) END,
          |  'g3', CASE WHEN tok2 IS NOT NULL THEN concat_ws(' ', tok, tok1, tok2) END
          |) AS (kind, unit)""".stripMargin))
      .filter(col("unit").isNotNull)
  }

  val defs: Seq[QueryDef] = Seq(

    // ----- Corpus-LM familiarity (CCNet-style perplexity filter) -----
    // CCNet ranks web documents by the perplexity of a KenLM n-gram model;
    // low-probability documents are gibberish/OOD. Re-expressed
    // integer-exact so the hash gate holds cross-engine: the "LM" is the
    // corpus's own bigram frequency table, and a document's familiarity is
    // the mean floor(log2(count)) of its bigrams — floor-log2 computed as
    // length(bin(count))-1, pure integer ops in both engines (a float
    // log() differs in the last ulp between libm implementations; a
    // BIGINT bit length cannot). Monotone in the geometric-mean bigram
    // probability, which is what the perplexity ranking actually uses.
    //
    // Scale: bigram instances stream once; the frequency aggregate is
    // map-side-combined and keyed by the gram (vocabulary-sized output),
    // and the join-back is the same gram-keyed equi-join as the span
    // profile — the instances exchange feeds both the count aggregate and
    // the join, so the corpus is shuffled once. Per-doc aggregation keys
    // on doc_id. Nothing single-partition, nothing all-pairs. Training on
    // a held-out reference corpus instead of self-scoring swaps the lm
    // side's input and nothing else.
    QueryDef(
      "q_lm_familiarity",
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |g AS (SELECT doc_id,
         |             unnest(CASE WHEN len(toks) >= 2
         |                    THEN list_transform(generate_series(1, len(toks)-1),
         |                         i -> array_to_string(toks[i:i+1], ' '))
         |                    ELSE [] END) AS gram
         |      FROM t),
         |lm AS (SELECT gram, COUNT(*) AS cnt FROM g GROUP BY 1),
         |per AS (SELECT g.doc_id, COUNT(*) AS n_bigrams,
         |               CAST(SUM(length(bin(lm.cnt)) - 1) AS BIGINT) AS familiarity_sum
         |        FROM g JOIN lm USING (gram) GROUP BY 1)
         |SELECT doc_id, n_bigrams, familiarity_sum,
         |       CAST(familiarity_sum AS DOUBLE) / n_bigrams AS familiarity
         |FROM per
         |ORDER BY familiarity ASC, doc_id
         |LIMIT 100""".stripMargin) { (s, d) =>
      val grams = DedupQueries.gramInstances(Tables.documents(s, d), n = 2)
      val lm = grams.groupBy("gram").agg(count(lit(1)).as("cnt"))
      grams.join(lm, "gram")
        .groupBy("doc_id")
        .agg(
          count(lit(1)).as("n_bigrams"),
          sum((length(bin(col("cnt"))) - 1).cast("long")).as("familiarity_sum"))
        .withColumn("familiarity",
          col("familiarity_sum").cast("double") / col("n_bigrams"))
        .orderBy(col("familiarity").asc, col("doc_id"))
        .limit(100)
    },

    // ----- Gopher-style repetition quality rules -----
    // The classic web-corpus filters: a document dominated by one token,
    // one bigram, or repeated trigrams is boilerplate/spam, not prose.
    // Per-doc fractions + a keep flag at thresholds that split this corpus
    // non-trivially (348/500 keep at sf0.01; dup_3gram_frac is rarely
    // binding here — the synthetic corpus has few repeated trigrams — but
    // the metric is exercised end to end).
    QueryDef(
      "q_repetition_gopher",
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |tok AS (SELECT doc_id, unnest(toks) AS tok FROM t),
         |tokc AS (SELECT doc_id, MAX(c) AS max_tok, CAST(SUM(c) AS BIGINT) AS n_tokens
         |         FROM (SELECT doc_id, tok, COUNT(*) AS c FROM tok GROUP BY 1, 2) GROUP BY 1),
         |g2 AS (SELECT doc_id, a || ' ' || b AS g
         |       FROM (SELECT doc_id, unnest(toks[1:len(toks)-1]) AS a,
         |                    unnest(toks[2:len(toks)]) AS b FROM t)),
         |g2c AS (SELECT doc_id, MAX(c) AS max_g2, CAST(SUM(c) AS BIGINT) AS n_g2
         |        FROM (SELECT doc_id, g, COUNT(*) AS c FROM g2 GROUP BY 1, 2) GROUP BY 1),
         |g3 AS (SELECT doc_id, a || ' ' || b || ' ' || c3 AS g
         |       FROM (SELECT doc_id, unnest(toks[1:len(toks)-2]) AS a,
         |                    unnest(toks[2:len(toks)-1]) AS b,
         |                    unnest(toks[3:len(toks)]) AS c3 FROM t)),
         |g3c AS (SELECT doc_id, COUNT(DISTINCT g) AS d3, COUNT(*) AS n3 FROM g3 GROUP BY 1)
         |SELECT tokc.doc_id, n_tokens,
         |       CAST(max_tok AS DOUBLE)/n_tokens AS max_tok_frac,
         |       CAST(max_g2 AS DOUBLE)/n_g2 AS top_2gram_frac,
         |       CAST(n3 - d3 AS DOUBLE)/n3 AS dup_3gram_frac,
         |       (CAST(max_tok AS DOUBLE)/n_tokens <= 0.11
         |        AND COALESCE(CAST(max_g2 AS DOUBLE)/n_g2 <= 0.06, TRUE)
         |        AND COALESCE(CAST(n3 - d3 AS DOUBLE)/n3 <= 0.2, TRUE)) AS keep
         |FROM tokc
         |LEFT JOIN g2c ON tokc.doc_id = g2c.doc_id
         |LEFT JOIN g3c ON tokc.doc_id = g3c.doc_id
         |ORDER BY tokc.doc_id""".stripMargin) { (s, d) =>
      // one scan, no joins: per-(doc,kind,unit) counts roll up to
      // per-(doc,kind) maxima/totals/distincts, then pivot per doc. Every
      // aggregate has map-side combine; a doc absent from a kind (e.g. a
      // 2-token doc has no trigrams) pivots to NULL, matching the oracle's
      // LEFT JOINs.
      val perKind = repetitionUnits(Tables.documents(s, d))
        .groupBy("doc_id", "kind", "unit").agg(count(lit(1)).as("c"))
        .groupBy("doc_id", "kind")
        .agg(max("c").as("max_c"), sum("c").as("n"), count(lit(1)).as("d"))
      def kindAgg(kind: String, c: org.apache.spark.sql.Column) =
        max(when(col("kind") === kind, c))
      val wide = perKind.groupBy("doc_id").agg(
        kindAgg("tok", col("max_c")).as("max_tok"),
        kindAgg("tok", col("n")).as("n_tokens"),
        kindAgg("g2", col("max_c")).as("max_g2"),
        kindAgg("g2", col("n")).as("n_g2"),
        kindAgg("g3", col("d")).as("d3"),
        kindAgg("g3", col("n")).as("n3"))
      val maxTokFrac = col("max_tok").cast("double") / col("n_tokens")
      val top2Frac = col("max_g2").cast("double") / col("n_g2")
      val dup3Frac = (col("n3") - col("d3")).cast("double") / col("n3")
      wide
        .select(
          col("doc_id"), col("n_tokens"),
          maxTokFrac.as("max_tok_frac"),
          top2Frac.as("top_2gram_frac"),
          dup3Frac.as("dup_3gram_frac"),
          (maxTokFrac <= 0.11 &&
            coalesce(top2Frac <= 0.06, lit(true)) &&
            coalesce(dup3Frac <= 0.2, lit(true))).as("keep"))
        .orderBy("doc_id")
    },

    // ----- Skip-gram co-occurrence counts (context window ≤ 2) -----
    // The counting pass behind co-occurrence matrices / word-vector
    // training: ordered token pairs (a precedes b) within distance 1 or 2,
    // aggregated corpus-wide. Pair generation is the same tokenize-once →
    // posexplode → window-lead shape as the repetition metrics (never an
    // array-HOF lambda — see repetitionUnits); the (a, b) aggregate is
    // vocabulary²-bounded, far smaller than the pair stream, and top-k is
    // TakeOrderedAndProject, never a global sort.
    QueryDef(
      "q_cooccurrence",
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |p AS (
         |  SELECT doc_id, unnest(toks[1:len(toks)-1]) AS a,
         |         unnest(toks[2:len(toks)]) AS b FROM t
         |  UNION ALL
         |  SELECT doc_id, unnest(toks[1:len(toks)-2]) AS a,
         |         unnest(toks[3:len(toks)]) AS b FROM t
         |)
         |SELECT a, b, COUNT(*) AS n_cooc, COUNT(DISTINCT doc_id) AS n_docs
         |FROM p GROUP BY a, b
         |ORDER BY n_cooc DESC, a, b
         |LIMIT 50""".stripMargin) { (s, d) =>
      val w = Window.partitionBy("doc_id").orderBy("pos")
      Tables.documents(s, d)
        .select(col("doc_id"), posexplode(tokens(col("text"))).as(Seq("pos", "tok")))
        .withColumn("tok1", lead("tok", 1).over(w))
        .withColumn("tok2", lead("tok", 2).over(w))
        .select(col("doc_id"),
          expr("stack(2, tok, tok1, tok, tok2) AS (a, b)"))
        .filter(col("b").isNotNull)
        .groupBy("a", "b")
        .agg(count(lit(1)).as("n_cooc"), countDistinct(col("doc_id")).as("n_docs"))
        .orderBy(col("n_cooc").desc, col("a"), col("b"))
        .limit(50)
    },

    // ----- TF-IDF keyword extraction (top-3 terms per document) -----
    // Document frequency is computed ONCE over the corpus and joined back
    // (vocabulary-sized side — AQE broadcasts it at any realistic vocab);
    // the corpus doc count is a 1-row broadcast. idf is the log-free
    // BM25-style rational (nd - df + 0.5)/(df + 0.5): ln() differs in the
    // last ulp between Java's and DuckDB's libm, which would break the
    // driver's exact hash gate — the rational form is bit-identical.
    QueryDef(
      "q_tfidf_topk",
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |tok AS (SELECT doc_id, unnest(toks) AS tok FROM t),
         |tf AS (SELECT doc_id, tok, COUNT(*) AS c FROM tok GROUP BY 1, 2),
         |ntok AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n FROM tf GROUP BY 1),
         |df AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY 1),
         |nd AS (SELECT COUNT(*) AS nd FROM ntok),
         |scored AS (
         |  SELECT tf.doc_id, tf.tok,
         |         (CAST(c AS DOUBLE)/n) * ((CAST(nd - df AS DOUBLE) + 0.5)/(CAST(df AS DOUBLE) + 0.5)) AS score
         |  FROM tf JOIN ntok USING (doc_id) JOIN df USING (tok) CROSS JOIN nd),
         |r AS (SELECT doc_id, tok, score,
         |             ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score DESC, tok) AS rk
         |      FROM scored)
         |SELECT doc_id, rk, tok AS term, score FROM r WHERE rk <= 3
         |ORDER BY doc_id, rk""".stripMargin) { (s, d) =>
      val tok = Tables.documents(s, d)
        .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
      val tf = tok.groupBy("doc_id", "tok").agg(count(lit(1)).as("c"))
      val ntok = tf.groupBy("doc_id").agg(sum("c").as("n"))
      val dfreq = tf.groupBy("tok").agg(count(lit(1)).as("df"))
      val nd = ntok.agg(count(lit(1)).as("nd"))
      val score = (col("c").cast("double") / col("n")) *
        (((col("nd") - col("df")).cast("double") + 0.5) /
          (col("df").cast("double") + 0.5))
      val w = Window.partitionBy("doc_id").orderBy(col("score").desc, col("tok"))
      tf.join(ntok, "doc_id").join(dfreq, "tok").crossJoin(broadcast(nd))
        .select(col("doc_id"), col("tok"), score.as("score"))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 3)
        // row_number is int32; driver-visible outputs are BIGINT-only
        // (DuckDB's ROW_NUMBER is BIGINT — the no-narrow-types rule)
        .select(col("doc_id"), col("rk").cast("long").as("rk"),
          col("tok").as("term"), col("score"))
        .orderBy("doc_id", "rk")
    },

    // ----- Vocabulary coverage / OOV rate -----
    // Build the top-N vocabulary by corpus frequency (TakeOrdered — never a
    // global sort), broadcast it, and measure per-language token coverage.
    // N = 16 here so the rate is non-vacuous on the 31-type synthetic
    // corpus; production N (50k–256k) changes only the literal — the
    // vocabulary stays broadcast-sized either way.
    QueryDef(
      "q_vocab_coverage",
      s"""WITH t AS (SELECT lang, unnest($toksSql) AS tok FROM documents),
         |lt AS (SELECT lang, tok, COUNT(*) AS c FROM t GROUP BY 1, 2),
         |tot AS (SELECT tok, CAST(SUM(c) AS BIGINT) AS tc FROM lt GROUP BY 1),
         |vocab AS (SELECT tok FROM tot ORDER BY tc DESC, tok LIMIT 16),
         |agg AS (SELECT lang,
         |               CAST(SUM(c) AS BIGINT) AS n_occurrences,
         |               CAST(SUM(CASE WHEN v.tok IS NOT NULL THEN c ELSE 0 END) AS BIGINT) AS covered_occurrences,
         |               COUNT(*) AS n_types,
         |               CAST(SUM(CASE WHEN v.tok IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS covered_types
         |        FROM lt LEFT JOIN vocab v USING (tok) GROUP BY lang)
         |SELECT lang, n_occurrences, covered_occurrences, n_types, covered_types,
         |       CAST(n_occurrences - covered_occurrences AS DOUBLE)/n_occurrences AS oov_rate
         |FROM agg ORDER BY lang""".stripMargin) { (s, d) =>
      val lt = Tables.documents(s, d)
        .select(col("lang"), explode(tokens(col("text"))).as("tok"))
        .groupBy("lang", "tok").agg(count(lit(1)).as("c"))
      val vocab = lt.groupBy("tok").agg(sum("c").as("tc"))
        .orderBy(col("tc").desc, col("tok")).limit(16)
        .select(col("tok"), lit(1).as("in_vocab"))
      lt.join(broadcast(vocab), Seq("tok"), "left")
        .groupBy("lang")
        .agg(
          sum("c").as("n_occurrences"),
          sum(when(col("in_vocab").isNotNull, col("c")).otherwise(lit(0L)))
            .as("covered_occurrences"),
          count(lit(1)).as("n_types"),
          sum(when(col("in_vocab").isNotNull, lit(1L)).otherwise(lit(0L)))
            .as("covered_types"))
        .withColumn("oov_rate",
          (col("n_occurrences") - col("covered_occurrences")).cast("double") /
            col("n_occurrences"))
        .orderBy("lang")
    },

    // ----- Deterministic sharded training order -----
    // Global training order for data loaders: shard = first hash byte
    // (≈256-way split), order within shard = (hash, doc_id). This IS the
    // scalable formulation — shard-local row_number after a hash partition,
    // never one global row_number (single-partition at 100 TB). The
    // order-sensitive checksum Σ rank·doc_id pins the exact permutation in
    // a distributive aggregate, so the gate verifies ORDER without any
    // per-shard collect_list.
    QueryDef(
      "q_train_order",
      """WITH h AS (SELECT doc_id, md5(CAST(doc_id AS VARCHAR) || ':order:42') AS hx FROM documents),
        |s AS (SELECT doc_id, hx, substr(hx, 1, 2) AS shard FROM h),
        |r AS (SELECT doc_id, hx, shard,
        |             ROW_NUMBER() OVER (PARTITION BY shard ORDER BY hx, doc_id) AS rk
        |      FROM s)
        |SELECT shard, COUNT(*) AS n_docs,
        |       CAST(SUM(rk * doc_id) AS BIGINT) AS order_checksum,
        |       MAX(CASE WHEN rk = 1 THEN doc_id END) AS first_doc_id,
        |       MAX(hx) AS max_hx
        |FROM r GROUP BY shard ORDER BY shard""".stripMargin) { (s, d) =>
      val w = Window.partitionBy("shard").orderBy("hx", "doc_id")
      Tables.documents(s, d)
        .select(col("doc_id"),
          md5(concat(col("doc_id").cast("string"), lit(":order:42"))
            .cast("binary")).as("hx"))
        .withColumn("shard", substring(col("hx"), 1, 2))
        .withColumn("rk", row_number().over(w))
        .groupBy("shard")
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("rk") * col("doc_id")).as("order_checksum"),
          max(when(col("rk") === 1, col("doc_id"))).as("first_doc_id"),
          max("hx").as("max_hx"))
        .orderBy("shard")
    },

    // ----- Sketch statistics: HLL distinct + approximate percentile -----
    // At 100 TB, exact COUNT(DISTINCT) and exact percentiles are the
    // operators you replace first: HyperLogLog merges with constant state
    // per partition (one shuffle of sketch bytes, not values), and
    // approximate quantiles stream in one pass. Both engines' sketches are
    // deterministic functions of the input multiset but NOT each other's
    // equals — so the gateable contract is the published error bound: the
    // oracle emits the exact value plus a "sketch within tolerance" flag,
    // and both engines must agree the flag is TRUE. (At these group sizes
    // both HLLs are in sparse/exact mode, so the flags are robustly green —
    // what's being gated is the sketch machinery and the error contract,
    // not sketch-vs-sketch equality, which is unverifiable cross-engine.)
    QueryDef(
      "q_sketch_stats",
      s"""WITH t AS (SELECT lang, len($toksSql) AS n_tokens, md5(text) AS h FROM documents),
         |agg AS (SELECT lang, COUNT(*) AS n_docs,
         |               COUNT(DISTINCT h) AS n_distinct_texts,
         |               approx_count_distinct(h) AS hll,
         |               quantile_cont(n_tokens, 0.5) AS p50,
         |               approx_quantile(n_tokens, 0.5) AS p50a
         |        FROM t GROUP BY lang)
         |SELECT lang, n_docs, n_distinct_texts,
         |       (CAST(abs(hll - n_distinct_texts) AS DOUBLE)/n_distinct_texts <= 0.05) AS hll_within_5pct,
         |       p50,
         |       (abs(p50a - p50)/p50 <= 0.1) AS p50_approx_within_10pct
         |FROM agg ORDER BY lang""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .select(col("lang"), size(tokens(col("text"))).as("n_tokens"),
          md5(col("text")).as("h"))
        .groupBy("lang")
        .agg(
          count(lit(1)).as("n_docs"),
          countDistinct("h").as("n_distinct_texts"),
          approx_count_distinct(col("h"), 0.02).as("hll"),
          expr("percentile(n_tokens, 0.5)").as("p50"),
          expr("percentile_approx(n_tokens, 0.5, 10000)").as("p50a"))
        .select(col("lang"), col("n_docs"), col("n_distinct_texts"),
          (abs(col("hll") - col("n_distinct_texts")).cast("double") /
            col("n_distinct_texts") <= 0.05).as("hll_within_5pct"),
          col("p50"),
          (abs(col("p50a") - col("p50")) / col("p50") <= 0.1)
            .as("p50_approx_within_10pct"))
        .orderBy("lang")
    },

    // ----- Temperature-flattened language mixing -----
    // Down-sample over-represented languages toward n^0.5 (temperature
    // α = 0.5 reweighting): target_l = min(n_l, ⌊10·√n_l⌋), realized by a
    // deterministic hash cutoff (first 4 md5 hex digits < the rate mapped
    // to a 16-bit hex bound) — reproducible across runs and engines, no
    // rand(). Per-language rates are a 5-row broadcast; selection is pure
    // map-side. Every double (sqrt / divide / multiply / floor) is a
    // single-op IEEE chain, and none of them reach the output columns.
    QueryDef(
      "q_mix_temperature",
      """WITH c AS (SELECT lang, COUNT(*) AS n_docs FROM documents GROUP BY 1),
        |r AS (SELECT lang, n_docs,
        |             LEAST(n_docs, CAST(FLOOR(10.0 * sqrt(CAST(n_docs AS DOUBLE))) AS BIGINT)) AS target_docs
        |      FROM c),
        |r2 AS (SELECT *, printf('%04x', CAST(FLOOR((CAST(target_docs AS DOUBLE)/n_docs) * 65536.0) AS INT)) AS cutoff_hex
        |       FROM r),
        |s AS (SELECT d.lang FROM documents d JOIN r2 USING (lang)
        |      WHERE target_docs >= n_docs
        |         OR substr(md5('mix:' || CAST(doc_id AS VARCHAR)), 1, 4) < cutoff_hex),
        |sc AS (SELECT lang, COUNT(*) AS n_sampled FROM s GROUP BY 1)
        |SELECT r2.lang, n_docs, target_docs, COALESCE(n_sampled, 0) AS n_sampled
        |FROM r2 LEFT JOIN sc USING (lang) ORDER BY lang""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      val rates = docs.groupBy("lang").agg(count(lit(1)).as("n_docs"))
        .withColumn("target_docs",
          least(col("n_docs"),
            floor(lit(10.0) * sqrt(col("n_docs").cast("double")))))
        // format_string mirrors the oracle's printf exactly — including the
        // 5-char "10000" at ratio 1.0 (keep-whole languages, where the
        // target>=n disjunct decides; lpad would have truncated it to a
        // DIFFERENT value than DuckDB's, a latent cross-engine divergence)
        .withColumn("cutoff_hex",
          format_string("%04x",
            floor((col("target_docs").cast("double") / col("n_docs")) * 65536.0)
              .cast("int")))
      val sampled = docs
        .select(col("lang"),
          md5(concat(lit("mix:"), col("doc_id").cast("string")).cast("binary"))
            .as("hx"))
        .join(broadcast(rates), Seq("lang"))
        .filter(col("target_docs") >= col("n_docs") ||
          substring(col("hx"), 1, 4) < col("cutoff_hex"))
        .groupBy("lang").agg(count(lit(1)).as("n_sampled"))
      rates
        .join(sampled, Seq("lang"), "left")
        .select(col("lang"), col("n_docs"), col("target_docs"),
          coalesce(col("n_sampled"), lit(0L)).as("n_sampled"))
        .orderBy("lang")
    },

    // ----- BM25 retrieval: multi-term query → top-k documents -----
    // The retrieval face on top of the corpus statistics: Okapi BM25
    // (Robertson & Walker 1994) with k1 = 1.2, b = 0.75, for a fixed
    // 3-term query. q_tfidf_topk ranks TERMS within a document; this
    // ranks DOCUMENTS for a query — the RAG/search-index workload.
    //
    // Integer-exact, because a per-document score is a SUM over query
    // terms and float addition is order-dependent (the one thing that
    // would break the cross-engine hash gate AND bit-reproducibility
    // across cluster sizes). With avgdl = L/N (corpus tokens / docs), the
    // BM25 term factor tf·(k1+1)/(tf + k1(1−b+b·dl/avgdl)) multiplies out
    // to the exact rational 22·tf·L / (10·L·tf + 3·L + 9·dl·N); it lands
    // in a ×10³ fixed-point via one integral DIV, the log-free rational
    // idf (2(N−df)+1)/(2·df+1) lands in its own ×10³, and the score is
    // Σ idf1k·tfn1k — pure BIGINT products and sums, scale ×10⁶.
    //
    // Scale: the query side collapses the posting scan to |q| terms
    // (predicate-pushed IN filter — at index scale this is the inverted
    // index lookup); df for those terms and the corpus totals (L, N) are
    // 1-row/|q|-row broadcasts; scoring joins tf⋈dl keyed by doc_id and
    // top-k is TakeOrderedAndProject, never a global sort. Document
    // lengths come from the same tokenize pass as the postings.
    QueryDef(
      "q_bm25_topk",
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |q AS (SELECT unnest(['spark', 'hash', 'join']) AS term),
         |tok AS (SELECT doc_id, unnest(toks) AS term FROM t),
         |tf AS (SELECT tok.doc_id, tok.term, COUNT(*) AS tf
         |       FROM tok JOIN q USING (term) GROUP BY 1, 2),
         |dl AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl FROM t),
         |gl AS (SELECT CAST(SUM(dl) AS BIGINT) AS l, COUNT(*) AS n FROM dl),
         |df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
         |contrib AS (
         |  SELECT tf.doc_id,
         |         ((2*(gl.n - df.df) + 1) * 1000) // (2*df.df + 1) AS idf1k,
         |         (22 * tf.tf * gl.l * 1000)
         |           // (10*gl.l*tf.tf + 3*gl.l + 9*dl.dl*gl.n) AS tfn1k
         |  FROM tf JOIN df USING (term) JOIN dl USING (doc_id) CROSS JOIN gl),
         |s AS (SELECT doc_id, COUNT(*) AS n_terms_matched,
         |             CAST(SUM(idf1k * tfn1k) AS BIGINT) AS score_x1m
         |      FROM contrib GROUP BY 1)
         |SELECT doc_id, n_terms_matched, score_x1m
         |FROM s
         |ORDER BY score_x1m DESC, doc_id
         |LIMIT 15""".stripMargin) { (s, d) =>
      val qTerms = Seq("spark", "hash", "join")
      val t = Tables.documents(s, d)
        .select(col("doc_id"), tokens(col("text")).as("toks"))
      val dl = t.select(col("doc_id"), size(col("toks")).cast("long").as("dl"))
      val gl = dl.agg(sum("dl").as("l"), count(lit(1)).as("n"))
      val tf = t.select(col("doc_id"), explode(col("toks")).as("term"))
        .filter(col("term").isin(qTerms: _*))
        .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
      tf.join(broadcast(dfreq), "term")
        .join(dl, "doc_id")
        .crossJoin(broadcast(gl))
        .select(col("doc_id"),
          expr("((2*(n - df) + 1) * 1000) DIV (2*df + 1)").as("idf1k"),
          expr("(22 * tf * l * 1000) DIV (10*l*tf + 3*l + 9*dl*n)").as("tfn1k"))
        .groupBy("doc_id")
        .agg(
          count(lit(1)).as("n_terms_matched"),
          sum(expr("idf1k * tfn1k")).as("score_x1m"))
        .orderBy(col("score_x1m").desc, col("doc_id"))
        .limit(15)
    },

    // ----- Corpus drift detection (token-distribution divergence) -----
    // The data-drift monitor between two corpus snapshots (here: the
    // doc_id parity halves, the repo's standing A/B split): per-token
    // occurrence RATES in each half, ranked by absolute rate divergence —
    // the per-token terms of total-variation distance. The monitoring
    // workload that catches a scraper change or a source going bad
    // between pipeline runs.
    //
    // Integer-exact: rates are ×10⁶ integer ratios (count·10⁶ DIV total),
    // drift is their absolute difference — no floats, so the ranking is
    // bit-stable cross-engine. One tokenize pass; per-token counts are a
    // map-side-combined conditional aggregate (never one table per half +
    // outer join); totals are a 1-row broadcast. Top-20 is TakeOrdered.
    QueryDef(
      "q_drift_tokens",
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |tok AS (SELECT doc_id % 2 AS half, unnest(toks) AS tok FROM t),
         |cnt AS (SELECT tok,
         |               CAST(SUM(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS BIGINT) AS c_a,
         |               CAST(SUM(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c_b
         |        FROM tok GROUP BY 1),
         |tot AS (SELECT CAST(SUM(c_a) AS BIGINT) AS na,
         |               CAST(SUM(c_b) AS BIGINT) AS nb FROM cnt),
         |r AS (SELECT tok, c_a, c_b,
         |             (c_a * 1000000) // na AS rate_a_x1m,
         |             (c_b * 1000000) // nb AS rate_b_x1m
         |      FROM cnt CROSS JOIN tot)
         |SELECT tok, c_a, c_b, rate_a_x1m, rate_b_x1m,
         |       ABS(rate_a_x1m - rate_b_x1m) AS drift_x1m
         |FROM r
         |ORDER BY drift_x1m DESC, tok
         |LIMIT 20""".stripMargin) { (s, d) =>
      val cnt = Tables.documents(s, d)
        .select((col("doc_id") % 2).as("half"), explode(tokens(col("text"))).as("tok"))
        .groupBy("tok")
        .agg(
          sum(when(col("half") === 0, 1L).otherwise(0L)).as("c_a"),
          sum(when(col("half") === 1, 1L).otherwise(0L)).as("c_b"))
      val tot = cnt.agg(sum("c_a").as("na"), sum("c_b").as("nb"))
      cnt.crossJoin(broadcast(tot))
        .select(col("tok"), col("c_a"), col("c_b"),
          expr("(c_a * 1000000) DIV na").as("rate_a_x1m"),
          expr("(c_b * 1000000) DIV nb").as("rate_b_x1m"))
        .withColumn("drift_x1m", abs(col("rate_a_x1m") - col("rate_b_x1m")))
        .orderBy(col("drift_x1m").desc, col("tok"))
        .limit(20)
    },

    // ----- Count-min sketch heavy hitters (Cormode & Muthukrishnan 2005) -----
    // The fixed-memory frequency sketch for streams/shards too hot for an
    // exact groupBy: d=4 hash rows × w=256 buckets of BIGINT counters;
    // estimate(x) = min over rows of its bucket counter — never an
    // undercount, overcount bounded by colliding mass. Hashes are
    // md5-derived bucket indices (not xxhash) PRECISELY so the oracle can
    // rebuild the identical sketch: every counter, estimate, and the
    // overcount column are exact BIGINTs in both engines.
    //
    // Scale: the sketch here folds the per-token partial counts (already
    // map-side combined) into 4×256 counters — a constant-size aggregate
    // that merges associatively, which is the whole point: shard sketches
    // on 1000 executors, bit_or-free BIGINT adds on merge, no vocabulary
    // shuffle. The top-10 exact side exists only as the gate's ground
    // truth (TakeOrdered, not a global sort).
    QueryDef(
      "q_heavy_hitters_cms",
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |exact AS (SELECT tok, COUNT(*) AS exact_c
         |          FROM (SELECT unnest(toks) AS tok FROM t) GROUP BY 1),
         |entries AS (
         |  SELECT tok, exact_c, r,
         |         CAST(('0x' || substr(md5('cms' || CAST(r AS VARCHAR) || ':' || tok), 1, 4)) AS BIGINT) % 256 AS bucket
         |  FROM exact, (SELECT unnest(generate_series(0, 3)) AS r)),
         |sketch AS (SELECT r, bucket, CAST(SUM(exact_c) AS BIGINT) AS bc
         |           FROM entries GROUP BY 1, 2),
         |top AS (SELECT tok, exact_c FROM exact ORDER BY exact_c DESC, tok LIMIT 10),
         |est AS (
         |  SELECT e.tok, MIN(s.bc) AS est_c
         |  FROM entries e JOIN sketch s ON e.r = s.r AND e.bucket = s.bucket
         |  JOIN top ON e.tok = top.tok
         |  GROUP BY 1)
         |SELECT top.tok, top.exact_c, est.est_c,
         |       est.est_c - top.exact_c AS overcount
         |FROM top JOIN est ON top.tok = est.tok
         |ORDER BY top.exact_c DESC, top.tok""".stripMargin) { (s, d) =>
      val exact = Tables.documents(s, d)
        .select(explode(tokens(col("text"))).as("tok"))
        .groupBy("tok").agg(count(lit(1)).as("exact_c"))
      val entries = exact
        .select(col("tok"), col("exact_c"), explode(expr("sequence(0, 3)")).as("r"))
        .withColumn("h8", SketchExpressions.md5Hi64(
          concat(lit("cms"), col("r").cast("string"), lit(":"), col("tok"))))
        .withColumn("bucket", expr("shiftrightunsigned(h8, 48) % 256"))
        .drop("h8")
      val sketch = entries.groupBy("r", "bucket").agg(sum("exact_c").as("bc"))
      val top = exact.orderBy(col("exact_c").desc, col("tok")).limit(10)
      val est = entries.join(broadcast(top.select("tok")), "tok")
        .join(broadcast(sketch), Seq("r", "bucket"))
        .groupBy("tok").agg(min("bc").as("est_c"))
      top.join(est, "tok")
        .select(col("tok"), col("exact_c"), col("est_c"),
          (col("est_c") - col("exact_c")).as("overcount"))
        .orderBy(col("exact_c").desc, col("tok"))
    },

    // ----- corpus-mixture overlap: pairwise source shingle-set Jaccard -----
    // How much content do two ingestion sources share? Per-source DISTINCT
    // 3-gram shingle sets (unigrams are useless here — this corpus's
    // sources share one token vocabulary, measured Jaccard 1.0 for every
    // pair; 3-grams discriminate at 12-84‰), pairwise |A∩B| via the
    // inverted index (shingle → its source SET: per-shingle fan-out is
    // bounded by C(#sources, 2) — the join grows with the shingle
    // VOCABULARY, never with corpus size², which is what makes
    // source-level set similarity tractable where doc-level needs
    // MinHash), |A∪B| by inclusion-exclusion from broadcast per-source
    // sizes, integral permille at the boundary. Top-20 most-overlapping
    // pairs via TakeOrdered.
    //
    // Shuffle budget: ONE exchange of the shingle instances (groupBy
    // shingle + collect_set dedups sources in the same aggregation —
    // the oracle's DISTINCT + self-join shape would shuffle the postings
    // three times; measured 5.4 s → the single-shuffle form below, with
    // pair expansion as an in-memory HOF over the ≤ #sources source set).
    // Per-source set sizes fall out of the same frame (each source counted
    // once per shingle set), so nothing else touches the corpus.
    QueryDef(
      "q_source_overlap",
      s"""WITH t AS (SELECT source, $toksSql AS toks FROM documents),
         |shd AS (SELECT source,
         |               CASE WHEN len(toks) >= 3
         |                    THEN list_distinct(list_transform(generate_series(1, len(toks)-2),
         |                                       i -> array_to_string(toks[i:i+2], ' ')))
         |                    ELSE [] END AS shingles
         |        FROM t),
         |tok AS (SELECT DISTINCT source, unnest(shingles) AS tok FROM shd),
         |sizes AS (SELECT source, COUNT(*) AS n FROM tok GROUP BY source),
         |inter AS (SELECT a.source AS source_a, b.source AS source_b, COUNT(*) AS n_common
         |          FROM tok a JOIN tok b ON a.tok = b.tok AND a.source < b.source
         |          GROUP BY 1, 2)
         |SELECT source_a, source_b, n_common, sa.n AS n_a, sb.n AS n_b,
         |       CAST(n_common * 1000 // (sa.n + sb.n - n_common) AS BIGINT) AS jaccard_permille
         |FROM inter
         |JOIN sizes sa ON source_a = sa.source
         |JOIN sizes sb ON source_b = sb.source
         |ORDER BY jaccard_permille DESC, source_a, source_b
         |LIMIT 20""".stripMargin) { (s, d) =>
      // repartition BEFORE the tokenize/shingle explode: the gate corpus is
      // one parquet split, and a single-partition scan serializes the
      // CPU-dominant shingle derivation (measured 8 s of the query's 5-9 s
      // on one core at sf0.1). Shuffling the raw docs is cheap (rows, not
      // shingles); at 100 TB the scan has thousands of splits and the
      // round-robin is a no-op-sized safety net against tiny-file skew.
      val inst = Tables.documents(s, d)
        .repartition(s.sparkContext.defaultParallelism)
        .select(col("source"), graft.functions.TextFunctions.tokens(col("text")).as("toks"))
        .select(col("source"), explode(graft.functions.TextFunctions.wordShingles(col("toks"))).as("tok"))
      // EAGER localCheckpoint (vocab-sized frame, ~27k rows at sf0.1): both
      // the per-source sizes and the pair expansion consume this
      // shingle→source-set frame, and a LAZY checkpoint lets AQE's
      // independent subtrees race into recomputing the whole
      // scan+explode+aggregate (the q_distinct_hll pathology — this query
      // measured 39 vs 149 process-CPU-s across reps of the same plan
      // before the switch)
      val bySh = inst.groupBy("tok").agg(collect_set(col("source")).as("srcs"))
        .stableCheckpoint()
      val sizes = bySh.select(explode(col("srcs")).as("source"))
        .groupBy("source").agg(count(lit(1)).as("n"))
      val inter = bySh.filter(size(col("srcs")) >= 2)
        .select(explode(expr(
          "filter(flatten(transform(srcs, a -> transform(srcs, b -> " +
            "struct(a AS source_a, b AS source_b)))), p -> p.source_a < p.source_b)")).as("p"))
        .select(col("p.source_a").as("source_a"), col("p.source_b").as("source_b"))
        .groupBy("source_a", "source_b").agg(count(lit(1)).as("n_common"))
      inter
        .join(broadcast(sizes.select(col("source").as("source_a"), col("n").as("n_a"))), "source_a")
        .join(broadcast(sizes.select(col("source").as("source_b"), col("n").as("n_b"))), "source_b")
        .select(col("source_a"), col("source_b"), col("n_common"), col("n_a"), col("n_b"),
          expr("CAST(n_common * 1000 DIV (n_a + n_b - n_common) AS BIGINT)").as("jaccard_permille"))
        .orderBy(col("jaccard_permille").desc, col("source_a"), col("source_b"))
        .limit(20)
    },

    // ----- HyperLogLog distinct-count sketch (Flajolet et al. 2007) -----
    // Per-source distinct-shingle cardinality via the classic m=256
    // register sketch, PLUS a `__union__` row whose estimate comes from
    // max-MERGING the per-source registers — the property that makes HLL
    // the distributed distinct-count workhorse: 256 bytes per shard,
    // merged by a commutative max, where exact COUNT(DISTINCT) must
    // shuffle every key. Hashes are md5-derived (bucket = first 8 hash
    // bits, rho = leading-zeros+1 of the next 32) PRECISELY so the oracle
    // rebuilds the identical registers: every register, the scaled
    // harmonic sum, and the estimate are exact BIGINTs in both engines
    // (rho via `length(bin(v))` — both engines print minimal binary).
    // Raw-HLL contract, no small-range correction: the HLL++ linear-count
    // branch needs `ln`, whose last-ulp cross-libm behavior this repo
    // bans from driver-visible output; the gate corpus sits above the
    // 2.5·m correction threshold on every row, where raw HLL is the
    // published estimator (err_permille column shows realized accuracy,
    // σ ≈ 1.04/√256 ≈ 6.5%).
    //
    // Scale: ONE corpus pass — a map-side-combined (source, shingle)
    // distinct (the exchange the exact gate face needs anyway), eagerly
    // localCheckpoint'ed at its post-distinct size (~200k rows at sf0.1,
    // 50× smaller than the 10M raw instances). The md5→conv→bin register
    // chain then hashes only the DISTINCT values — this matters doubly:
    // (a) 50× less hash work, and (b) that chain is the suite's most
    // interpreted-mode-sensitive generated code (measured 18 vs 290
    // process-CPU-s bimodal when the codegen class cache thrashes,
    // BASELINE.md batch 3), so shrinking its input bounds the worst case,
    // not just the average. Two earlier shapes are documented failures:
    // a LAZY shared checkpoint of the raw frame (AQE raced branches into
    // ~9× redundant recomputation, 58 vs 537 CPU-s) and a no-distinct
    // two-pass form (register max absorbs duplicates but hashes every
    // instance — the interpreted-mode exposure). At a true 100 TB where
    // even the distinct is unwanted, drop the exact face and aggregate
    // partial registers directly: max(rho) absorbs duplicates and each
    // partition emits ≤ 256 partial rows.
    QueryDef(
      "q_distinct_hll",
      s"""WITH t AS (SELECT source, $toksSql AS toks FROM documents),
         |shd AS (SELECT source,
         |               CASE WHEN len(toks) >= 3
         |                    THEN list_distinct(list_transform(generate_series(1, len(toks)-2),
         |                                       i -> array_to_string(toks[i:i+2], ' ')))
         |                    ELSE [] END AS sh
         |        FROM t),
         |tok AS (SELECT DISTINCT source, unnest(sh) AS tok FROM shd),
         |h AS (SELECT source,
         |             CAST(('0x' || substr(md5('hll:' || tok), 1, 2)) AS BIGINT) AS bucket,
         |             CAST(('0x' || substr(md5('hll:' || tok), 3, 8)) AS BIGINT) AS hv
         |      FROM tok),
         |rho AS (SELECT source, bucket,
         |               MAX(CASE WHEN hv = 0 THEN 33 ELSE 33 - length(bin(hv)) END) AS m
         |        FROM h GROUP BY 1, 2),
         |grid AS (SELECT s.source, g.bucket
         |         FROM (SELECT DISTINCT source FROM tok) s,
         |              (SELECT UNNEST(generate_series(0, 255)) AS bucket) g),
         |reg AS (SELECT g.source, g.bucket, COALESCE(r.m, 0) AS m
         |        FROM grid g LEFT JOIN rho r ON g.source = r.source AND g.bucket = r.bucket),
         |allreg AS (SELECT source, m FROM reg
         |           UNION ALL
         |           SELECT '__union__' AS source, MAX(m) AS m FROM reg GROUP BY bucket),
         |s AS (SELECT source, CAST(SUM(1::BIGINT << (33 - m)) AS BIGINT) AS ssum
         |      FROM allreg GROUP BY 1),
         |exact AS (SELECT source, COUNT(*) AS n_exact FROM tok GROUP BY 1
         |          UNION ALL
         |          SELECT '__union__', COUNT(DISTINCT tok) FROM tok),
         |est AS (SELECT source, (47072 * (1::BIGINT << 33)) // ssum AS n_est FROM s)
         |SELECT e.source, n_exact, n_est,
         |       ABS(n_est - n_exact) * 1000 // n_exact AS err_permille
         |FROM exact e JOIN est ON e.source = est.source
         |ORDER BY e.source""".stripMargin) { (s, d) =>
      // the one corpus pass: tokenize → shingle → map-side-combined
      // distinct, pinned to a single computation by the eager checkpoint
      val tok = Tables.documents(s, d)
        .repartition(s.sparkContext.defaultParallelism)
        .select(col("source"), graft.functions.TextFunctions.tokens(col("text")).as("toks"))
        .select(col("source"), explode(graft.functions.TextFunctions.wordShingles(col("toks"))).as("tok"))
        .distinct()
        .stableCheckpoint()
      // registers over DISTINCT values only (≤ 256·n_sources output rows)
      val rho = hllRegisters(tok)
      // exact gate face — per-source AND union distinct counts in one cube
      // pass (NULL grouping = the union row); countDistinct because the
      // union row must dedup the same shingle across sources
      val exact = tok.cube(col("source"))
        .agg(countDistinct("tok").as("n_exact"))
        .select(coalesce(col("source"), lit("__union__")).as("source"), col("n_exact"))
        .stableCheckpoint()
      val grid = exact.filter(col("source") =!= "__union__").select("source")
        .select(col("source"), explode(expr("sequence(0, 255)")).as("b"))
        .select(col("source"), col("b").cast("long").as("bucket"))
      val reg = grid.join(rho, Seq("source", "bucket"), "left")
        .select(col("source"), col("bucket"), coalesce(col("m"), lit(0)).as("m"))
      val allreg = reg.select("source", "m")
        .unionByName(reg.groupBy("bucket").agg(max("m").as("m"))
          .select(lit("__union__").as("source"), col("m")))
      val ssum = allreg.groupBy("source")
        .agg(sum(expr("shiftleft(CAST(1 AS BIGINT), 33 - m)")).as("ssum"))
      val est = ssum.select(col("source"),
        expr("(47072 * CAST(8589934592 AS BIGINT)) DIV ssum").as("n_est"))
      exact.join(est, "source")
        .select(col("source"), col("n_exact"), col("n_est"),
          expr("ABS(n_est - n_exact) * 1000 DIV n_exact").as("err_permille"))
        .orderBy("source")
    },

    // ----- K-minimum-values sketch: set INTERSECTION estimates -----
    // (Bar-Yossef et al. 2002; the Theta-sketch family's core idea.) HLL
    // registers merge by max → unions only; the KMV sketch (the k smallest
    // md5 hash values of each source's shingle set) additionally estimates
    // INTERSECTIONS: merge two sketches, keep the k smallest of the union —
    // a uniform sample of A∪B — and the fraction present in both input
    // sketches estimates Jaccard directly. Emitted per source pair next to
    // the exact Jaccard (same ground truth as q_source_overlap), so the
    // gate pins sketch AND error. Resolution is 1/k ≈ 4‰ at k=256; the
    // denominator is the realized union-sketch size (= k once both sets
    // exceed k, the whole set below — the estimator degrades to EXACT on
    // small inputs instead of diverging, which also keeps the sf0.001
    // smoke meaningful).
    //
    // Scale: the k-min per source is a bounded typed aggregate (KMinAgg):
    // every map-side partial holds ≤ k longs no matter the source's
    // distinct volume, merges are k-bounded merge-sorts, and no stage
    // ever ranks a full source partition (the single-window per-source
    // sort would be the exact-COUNT-DISTINCT shuffle the sketch exists
    // to avoid). Pair expansion is sketch×sketch:
    // 256·n_sources rows, broadcast-sized, corpus never touched again.
    QueryDef(
      "q_distinct_kmv_intersect",
      s"""WITH t AS (SELECT source, $toksSql AS toks FROM documents),
         |shd AS (SELECT source,
         |               CASE WHEN len(toks) >= 3
         |                    THEN list_distinct(list_transform(generate_series(1, len(toks)-2),
         |                                       i -> array_to_string(toks[i:i+2], ' ')))
         |                    ELSE [] END AS sh
         |        FROM t),
         |tok AS (SELECT DISTINCT source, unnest(sh) AS tok FROM shd),
         |h AS (SELECT source, tok,
         |             CAST(('0x' || substr(md5('kmv:' || tok), 1, 12)) AS BIGINT) AS hv
         |      FROM tok),
         |rk AS (SELECT source, hv, ROW_NUMBER() OVER (PARTITION BY source ORDER BY hv) AS r FROM h),
         |sk AS (SELECT source, hv FROM rk WHERE r <= 256),
         |srcs AS (SELECT DISTINCT source FROM tok),
         |pairs AS (SELECT a.source AS sa, b.source AS sb FROM srcs a, srcs b WHERE a.source < b.source),
         |member AS (
         |  SELECT p.sa, p.sb, s.hv,
         |         MAX(CASE WHEN s.source = p.sa THEN 1 ELSE 0 END) AS in_a,
         |         MAX(CASE WHEN s.source = p.sb THEN 1 ELSE 0 END) AS in_b
         |  FROM pairs p JOIN sk s ON s.source = p.sa OR s.source = p.sb
         |  GROUP BY 1, 2, 3),
         |mrk AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY sa, sb ORDER BY hv) AS r FROM member),
         |est AS (SELECT sa, sb,
         |               CAST(SUM(in_a * in_b) * 1000 // COUNT(*) AS BIGINT) AS est_jaccard_permille
         |        FROM mrk WHERE r <= 256 GROUP BY 1, 2),
         |sizes AS (SELECT source, COUNT(*) AS n FROM tok GROUP BY 1),
         |inter AS (SELECT a.source AS sa, b.source AS sb, COUNT(*) AS c
         |          FROM tok a JOIN tok b ON a.tok = b.tok AND a.source < b.source
         |          GROUP BY 1, 2),
         |exact AS (SELECT i.sa, i.sb,
         |                 CAST(i.c * 1000 // (za.n + zb.n - i.c) AS BIGINT) AS exact_jaccard_permille
         |          FROM inter i
         |          JOIN sizes za ON i.sa = za.source
         |          JOIN sizes zb ON i.sb = zb.source)
         |SELECT e.sa AS source_a, e.sb AS source_b,
         |       exact_jaccard_permille, est_jaccard_permille,
         |       ABS(est_jaccard_permille - exact_jaccard_permille) AS abs_err_permille
         |FROM exact e JOIN est ON e.sa = est.sa AND e.sb = est.sb
         |ORDER BY exact_jaccard_permille DESC, source_a, source_b
         |LIMIT 20""".stripMargin) { (s, d) =>
      val k = 256
      // EAGER checkpoint: five branches consume this frame (hash, sizes,
      // both sides of the exact self-join, the source list) — lazy
      // materialization lets AQE's independent subtrees race and recompute
      // the tokenize+distinct redundantly (see q_distinct_hll's comment);
      // eager pins it at one computation before any consumer starts
      val tok = Tables.documents(s, d)
        .repartition(s.sparkContext.defaultParallelism)
        .select(col("source"), graft.functions.TextFunctions.tokens(col("text")).as("toks"))
        .select(col("source"), explode(graft.functions.TextFunctions.wordShingles(col("toks"))).as("tok"))
        .distinct()
        .stableCheckpoint()
      val h = tok.select(col("source"), col("tok"),
          SketchExpressions.md5Hi64(concat(lit("kmv:"), col("tok"))).as("h8"))
        .select(col("source"), col("tok"), expr("shiftrightunsigned(h8, 16)").as("hv"))
      // bounded k-min aggregate: every partial holds ≤ k longs regardless
      // of the source's distinct volume (KMinAgg — the r12-advice fix for
      // the collect_set+slice shape, applied engine-wide)
      val sk = h
        .filter(col("hv").isNotNull) // null-skip parity with collect_set
        .groupBy(col("source"))
        .agg(graft.functions.KMinAgg.kmin(col("hv"), k).as("mins"))
        .select(col("source"), explode(col("mins")).as("hv"))
      val pairs = tok.select("source").distinct().as("a")
        .crossJoin(tok.select(col("source").as("sb")).distinct())
        .filter(col("source") < col("sb"))
        .select(col("source").as("sa"), col("sb"))
      val member = pairs
        .select(col("sa"), col("sb"), explode(array(col("sa"), col("sb"))).as("source"))
        .join(sk, "source")
        .groupBy("sa", "sb", "hv")
        .agg(
          max(when(col("source") === col("sa"), 1).otherwise(0)).as("in_a"),
          max(when(col("source") === col("sb"), 1).otherwise(0)).as("in_b"))
      val wp = org.apache.spark.sql.expressions.Window.partitionBy("sa", "sb").orderBy("hv")
      val est = member
        .withColumn("r", row_number().over(wp)).filter(col("r") <= k)
        .groupBy("sa", "sb")
        .agg(expr("CAST(SUM(in_a * in_b) * 1000 DIV COUNT(*) AS BIGINT)").as("est_jaccard_permille"))
      val sizes = tok.groupBy("source").agg(count(lit(1)).as("n"))
      val inter = tok.as("x").join(tok.as("y"),
          col("x.tok") === col("y.tok") && col("x.source") < col("y.source"))
        .groupBy(col("x.source").as("sa"), col("y.source").as("sb"))
        .agg(count(lit(1)).as("c"))
      val exact = inter
        .join(broadcast(sizes.select(col("source").as("sa"), col("n").as("n_a"))), "sa")
        .join(broadcast(sizes.select(col("source").as("sb"), col("n").as("n_b"))), "sb")
        .select(col("sa"), col("sb"),
          expr("CAST(c * 1000 DIV (n_a + n_b - c) AS BIGINT)").as("exact_jaccard_permille"))
      exact.join(est, Seq("sa", "sb"))
        .select(col("sa").as("source_a"), col("sb").as("source_b"),
          col("exact_jaccard_permille"), col("est_jaccard_permille"),
          abs(col("est_jaccard_permille") - col("exact_jaccard_permille")).as("abs_err_permille"))
        .orderBy(col("exact_jaccard_permille").desc, col("source_a"), col("source_b"))
        .limit(20)
    }
  )
}
