package graft.pipeline

import graft.QueryDef
import graft.analytics.Tables
import graft.functions.TextFunctions.{tokens, toksSql}
import graft.functions.VectorFunctions.{dot, norm}
import graft.operators.Checkpoints.StableOps
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Hybrid retrieval — the RAG-serving composition of the two retrieval
  * arms the engine already gates separately: lexical BM25 over the
  * `documents` postings (q_bm25_topk's integer-exact scoring) and dense
  * cosine over the `embeddings` table (q_ann_cosine_topk's broadcast
  * scoring), fused with Reciprocal Rank Fusion (Cormack, Clarke &
  * Büttcher 2009): score(d) = Σ_arms 1/(60 + rank_arm(d)).
  *
  * RRF is the production default for hybrid search precisely because it
  * consumes only RANKS — no score normalization across incomparable
  * scales (BM25 sums vs cosine) — which also makes it gate-friendly:
  * ranks are integers, the fused score is the ×10⁶ fixed-point sum of
  * two integral divisions, so the whole fusion is bit-exact cross-engine.
  *
  * Scale shape: each arm is already 100 TB-safe on its own (the lexical
  * arm collapses the posting scan to |q| terms with broadcast df/corpus
  * totals; the dense arm is a broadcast query vector + map-side scoring
  * with TakeOrderedAndProject top-k — swap in the IVF face for a larger
  * corpus). The fusion then joins two k-row lists — driver-trivial at any
  * corpus size. The doc_id↔vec_id correspondence is the testdata's
  * contract (row i's text and embedding describe the same document).
  */
object RetrievalQueries {

  private val qTerms = Seq("spark", "hash", "join")
  private val K = 20 // per-arm shortlist depth feeding the fusion
  private val RrfK = 60 // the standard RRF rank damping constant
  private val BatchQ = 100 // batched face: queries 1..BatchQ (doc/vec ids)
  private val QueryTerms = 3 // lexical terms per batched query
  private val Top = 10 // fused results returned per query
  private val MmrN = 24 // MMR relevance shortlist depth feeding the greedy
  private val MmrK = 8 // MMR diversified results returned per query
  private val MmrEvery = 50 // MMR query batch: every MmrEvery-th vec_id

  /** Batched-face query terms: each query doc's top-[[QueryTerms]] tokens
    * (tf DESC, token). Aggregates only the PRE-FILTERED query docs — the
    * per-doc rank window sees ≤ one doc's vocabulary.
    */
  private[graft] def batchQueryTerms(t: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    t.filter(col("doc_id").between(1, BatchQ))
      .select(col("doc_id"), explode(col("toks")).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      .withColumn("rn", row_number().over(Window.partitionBy("doc_id")
        .orderBy(col("tf").desc, col("term"))))
      .filter(col("rn") <= QueryTerms)
      .select(col("doc_id").as("query_id"), col("term"))

  /** Batched-face matched postings: the ONE corpus-sized exchange of the
    * lexical arm — per-(doc, term) frequencies, pruned to the query
    * batch's distinct terms (broadcast). RetrievalPlanSpec audits exactly
    * this shape.
    */
  private[graft] def batchTf(t: org.apache.spark.sql.DataFrame,
      qt: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    t.select(col("doc_id"), explode(col("toks")).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      .join(broadcast(qt.select("term").distinct()), "term")

  /** The batched lexical arm end-to-end over a (doc_id, toks) corpus:
    * (query_id, doc_id, score_x1m) for every matched (query, candidate)
    * pair, own-doc excluded. Shared by the registered gate and
    * the `skew_r14` probe face (which plants a term in EVERY document).
    */
  private[graft] def batchLexScores(t: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    // qt and tf are each read twice downstream — checkpoint EAGERLY so
    // the one corpus-sized (doc, term) aggregate runs once (plans don't
    // share subtrees; the r12 PageRank lesson)
    val qt = batchQueryTerms(t).stableCheckpoint()
    val tf = batchTf(t, qt).stableCheckpoint()
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val dlen = t.select(col("doc_id"), size(col("toks")).cast("long").as("dl"))
    val gl = dlen.agg(sum("dl").as("l"), count(lit(1)).as("n"))
    tf
      .join(broadcast(qt), "term").filter(col("doc_id") =!= col("query_id"))
      .join(broadcast(dfreq), "term")
      .join(dlen, "doc_id")
      .crossJoin(broadcast(gl))
      .select(col("query_id"), col("doc_id"),
        expr("((2*(n - df) + 1) * 1000) DIV (2*df + 1)").as("idf1k"),
        expr("(22 * tf * l * 1000) DIV (10*l*tf + 3*l + 9*dl*n)").as("tfn1k"))
      .groupBy("query_id", "doc_id")
      .agg(sum(expr("idf1k * tfn1k")).as("score_x1m"))
  }

  val defs: Seq[QueryDef] = Seq(

    // ----- Hybrid BM25 + dense-cosine retrieval, RRF-fused top-10 -----
    // Query fixture: the text query ['spark','hash','join'] with the
    // vec_id=0 embedding as its dense form; doc 0 is excluded from both
    // arms (it IS the query). A document missing from one arm's top-K
    // contributes only the other arm's term (rank reported as 0 = absent).
    QueryDef(
      "q_hybrid_rrf",
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents WHERE doc_id <> 0),
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
         |lex AS (SELECT doc_id, CAST(SUM(idf1k * tfn1k) AS BIGINT) AS score_x1m
         |        FROM contrib GROUP BY 1),
         |lexr AS (SELECT doc_id,
         |                ROW_NUMBER() OVER (ORDER BY score_x1m DESC, doc_id) AS r
         |         FROM lex QUALIFY r <= $K),
         |qv AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
         |dense AS (SELECT e.vec_id AS doc_id,
         |                 ROUND(${SimilarityQueries.cosSql("e.embedding", "qv")}, 9) AS cosine
         |          FROM embeddings e, qv WHERE e.vec_id <> 0),
         |denser AS (SELECT doc_id,
         |                  ROW_NUMBER() OVER (ORDER BY cosine DESC, doc_id) AS r
         |           FROM dense QUALIFY r <= $K),
         |fused AS (
         |  SELECT COALESCE(l.doc_id, d.doc_id) AS doc_id,
         |         COALESCE(l.r, 0) AS r_lex,
         |         COALESCE(d.r, 0) AS r_dense,
         |         (CASE WHEN l.r IS NULL THEN 0 ELSE 1000000 // ($RrfK + l.r) END
         |          + CASE WHEN d.r IS NULL THEN 0 ELSE 1000000 // ($RrfK + d.r) END)
         |           AS rrf_x1m
         |  FROM lexr l FULL OUTER JOIN denser d ON l.doc_id = d.doc_id)
         |SELECT doc_id, r_lex, r_dense, rrf_x1m
         |FROM fused
         |ORDER BY rrf_x1m DESC, doc_id
         |LIMIT 10""".stripMargin) { (s, d) =>
      // lexical arm: q_bm25_topk's integer-exact scoring, shortlist K
      val t = Tables.documents(s, d).filter(col("doc_id") =!= 0)
        .select(col("doc_id"), tokens(col("text")).as("toks"))
      val dlen = t.select(col("doc_id"), size(col("toks")).cast("long").as("dl"))
      val gl = dlen.agg(sum("dl").as("l"), count(lit(1)).as("n"))
      val tf = t.select(col("doc_id"), explode(col("toks")).as("term"))
        .filter(col("term").isin(qTerms: _*))
        .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
      val lex = tf.join(broadcast(dfreq), "term")
        .join(dlen, "doc_id")
        .crossJoin(broadcast(gl))
        .select(col("doc_id"),
          expr("((2*(n - df) + 1) * 1000) DIV (2*df + 1)").as("idf1k"),
          expr("(22 * tf * l * 1000) DIV (10*l*tf + 3*l + 9*dl*n)").as("tfn1k"))
        .groupBy("doc_id")
        .agg(sum(expr("idf1k * tfn1k")).as("score_x1m"))
      // top-K FIRST via TakeOrderedAndProject, THEN rank: the unpartitioned
      // row_number window only ever sees K rows, never the corpus
      val lexr = lex
        .orderBy(col("score_x1m").desc, col("doc_id")).limit(K)
        .withColumn("r_lex", row_number().over(
          Window.orderBy(col("score_x1m").desc, col("doc_id"))))
        .select("doc_id", "r_lex")

      // dense arm: q_ann_cosine_topk's broadcast scoring, shortlist K
      val e = Tables.embeddings(s, d)
      val qv = e.filter(col("vec_id") === 0)
        .select(col("embedding").as("qv"), norm(col("embedding")).as("nq"))
      val denser = e.filter(col("vec_id") =!= 0)
        .withColumn("na", norm(col("embedding")))
        .crossJoin(broadcast(qv))
        .select(col("vec_id").as("doc_id"),
          round(dot(col("embedding"), col("qv")) / (col("na") * col("nq")), 9).as("cosine"))
        .orderBy(col("cosine").desc, col("doc_id")).limit(K)
        .withColumn("r_dense", row_number().over(
          Window.orderBy(col("cosine").desc, col("doc_id"))))
        .select("doc_id", "r_dense")

      // RRF fusion over the two K-row shortlists (driver-trivial at any
      // corpus size); ×10⁶ fixed-point keeps the sum integer-exact
      lexr.join(denser, Seq("doc_id"), "full_outer")
        .select(col("doc_id"),
          coalesce(col("r_lex"), lit(0)).cast("long").as("r_lex"),
          coalesce(col("r_dense"), lit(0)).cast("long").as("r_dense"),
          (when(col("r_lex").isNull, 0L)
            .otherwise(expr(s"CAST(1000000 DIV ($RrfK + r_lex) AS BIGINT)")) +
           when(col("r_dense").isNull, 0L)
            .otherwise(expr(s"CAST(1000000 DIV ($RrfK + r_dense) AS BIGINT)")))
            .as("rrf_x1m"))
        .orderBy(col("rrf_x1m").desc, col("doc_id"))
        .limit(10)
    },

    // ----- BATCHED hybrid retrieval: ~100 queries in one plan -----
    // The SERVING shape (r13 verdict item 3): retrieval is never one
    // query at a time in production — a batch of queries joins the
    // postings and embedding sides AT ONCE, and the per-query work rides
    // the same exchanges. Query fixture: query q (1..100) = doc q's
    // top-3 tokens (tf DESC, token — deterministic) + embedding q; each
    // query's own doc is excluded from its candidates.
    //
    // Scale shape, per arm:
    //  - lexical: ONE corpus-sized exchange (the (doc, term) tf
    //    aggregate); query terms, df, and corpus totals are broadcast;
    //    scoring and the (query, doc) rollup run over MATCHED postings
    //    only — adding queries widens the broadcast, not the corpus scan,
    //    and there is no per-query job (RetrievalPlanSpec audits this);
    //  - dense: all 100 query vectors broadcast once, corpus rows score
    //    map-side against every query;
    //  - per-query top-K via the BOUNDED kminBy aggregate on the
    //    (−score, doc_id) key — ≤ K pairs per partial buffer, so no
    //    corpus-sized rank window anywhere (the r13 single-query face
    //    could TakeOrderedAndProject; a batch cannot, kminBy is its
    //    per-group equivalent). Ranks come from posexploding the ≤K-row
    //    sorted shortlist arrays.
    // Fusion then full-outer-joins two ≤K-row lists per query and
    // windows over ≤2K rows per query. Dense ranks use the ×10⁹
    // fixed-point cosine as the sort key so both engines rank the same
    // integers (the underlying doubles are bit-identical, as every
    // cosine gate already proves).
    QueryDef(
      "q_hybrid_rrf_batch",
      s"""WITH $hybridBatchCtes
         |SELECT query_id, doc_id, r_lex, r_dense, rrf_x1m
         |FROM top WHERE rn <= $Top
         |ORDER BY query_id, rrf_x1m DESC, doc_id""".stripMargin) { (s, d) =>
      hybridBatchFused(
        Tables.documents(s, d)
          .select(col("doc_id"), tokens(col("text")).as("toks")),
        Tables.embeddings(s, d))
        .filter(col("rn") <= Top)
        .select("query_id", "doc_id", "r_lex", "r_dense", "rrf_x1m")
        .orderBy(col("query_id"), col("rrf_x1m").desc, col("doc_id"))
    },


    // ----- MMR: diversified top-k (Carbonell & Goldstein 1998) -----
    // Post-retrieval diversification — the standard RAG re-rank that stops
    // k near-duplicate passages from filling the context window: greedily
    // select argmax λ·rel(d) − (1−λ)·max_{s∈S} sim(d, s), λ = 0.7, k = 8,
    // over a 24-deep relevance shortlist per query (batch: every 50th
    // vec_id, own vector excluded).
    //
    // Scale shape: corpus-sized work is exactly TWO broadcast-side scans —
    // the relevance pass (query batch broadcast, bounded kminBy(24)
    // shortlist, no corpus window) and one row-fetch of shortlist vectors
    // (broadcast semi-join). The greedy refinement then runs on
    // Q×24-bounded frames: pairwise sims are Q×24×23 rows, and each of the
    // 7 selection rounds is a join+argmax over ≤ Q×24 rows, eagerly
    // checkpointed so the union plan stays linear in k (the PageRank
    // round-lineage lesson). At 100 TB only the two scans grow.
    //
    // Cross-engine exactness: relevance and pairwise cosines enter the
    // greedy as ×10⁹ fixed-point BIGINTs (the q_hybrid_rrf_batch law), so
    // every MMR score is the integer 7·rel − 3·maxsim (= ×10¹⁰ fixed
    // point) and every argmax, tie (score DESC, vec_id), and step is
    // bit-identical in DuckDB's unrolled 8-step replay below.
    QueryDef(
      "q_retrieval_mmr",
      s"""WITH qv AS MATERIALIZED (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
         |            WHERE vec_id % $MmrEvery = 0),
         |rel0 AS MATERIALIZED (SELECT query_id, e.vec_id,
         |                CAST(ROUND((${SimilarityQueries.cosSql("e.embedding", "qv")})
         |                           * 1000000000) AS BIGINT) AS rel
         |         FROM embeddings e CROSS JOIN qv WHERE e.vec_id <> qv.query_id),
         |c AS MATERIALIZED (SELECT query_id, vec_id, rel FROM (
         |        SELECT query_id, vec_id, rel,
         |               ROW_NUMBER() OVER (PARTITION BY query_id
         |                                  ORDER BY rel DESC, vec_id) AS rn
         |        FROM rel0) WHERE rn <= $MmrN),
         |p AS MATERIALIZED (SELECT a.query_id, a.vec_id AS va, b.vec_id AS vb,
         |             CAST(ROUND((${SimilarityQueries.cosSql("ea.embedding", "eb.embedding")})
         |                        * 1000000000) AS BIGINT) AS sim
         |      FROM c a JOIN c b ON a.query_id = b.query_id AND a.vec_id <> b.vec_id
         |           JOIN embeddings ea ON ea.vec_id = a.vec_id
         |           JOIN embeddings eb ON eb.vec_id = b.vec_id),
         |s1 AS MATERIALIZED (SELECT query_id, vec_id, 7 * rel AS mmr_x1e10, 1 AS step FROM (
         |         SELECT query_id, vec_id, rel,
         |                ROW_NUMBER() OVER (PARTITION BY query_id
         |                                   ORDER BY rel DESC, vec_id) AS rn
         |         FROM c) WHERE rn = 1),
         |sel1 AS MATERIALIZED (SELECT query_id, vec_id FROM s1),
         |$mmrStepCtes
         |SELECT query_id, CAST(step AS BIGINT) AS step, vec_id, mmr_x1e10
         |FROM (${(1 to MmrK).map(i => s"SELECT * FROM s$i").mkString(" UNION ALL ")})
         |ORDER BY query_id, step""".stripMargin) { (s, d) =>
      val e = Tables.embeddings(s, d)
      // relevance pass: ONE corpus scan, queries broadcast, bounded top-N
      val shortlist = mmrShortlist(e).stableCheckpoint()
      // one row-fetch of shortlist vectors (broadcast semi-join on the
      // corpus), then the Q×24×23 pairwise sim frame — both bounded
      val sims = mmrSims(e, shortlist)

      // r18 (guide §2.4/§1.2 — the distributed algorithm first): the 7
      // greedy rounds were 7 global join+window+checkpoint barriers over
      // Q×24-bounded frames — ~0.3 s of fixed stage/job overhead per round
      // at ANY corpus size, and at 100 TB seven cluster-wide barriers for
      // per-query work that is constant-sized. Each query's greedy state
      // (24 candidates, 24×23 sims) is bounded by MmrN, NOT by the corpus,
      // so the whole 8-step fold runs inside ONE map stage per query in
      // the array domain: group the shortlist and sims per query_id, then
      // fold sequence(2..k) with an accumulator of (selected, remaining
      // candidates carrying their running max-sim-to-selected). The
      // incremental max (ms' = greatest(ms, sim(c, just-picked))) is the
      // same max the per-round join computed; argmax keys and integer
      // fixed-point scores are bit-identical (oracle + MmrSpec re-prove).
      // Plan: 9 jobs → 3; zero exchanges after the two grouping shuffles.
      val cands = shortlist.groupBy("query_id")
        .agg(collect_list(struct(col("vec_id"), col("rel"))).as("cs"))
      val simmaps = sims.groupBy("query_id")
        .agg(map_from_entries(collect_list(
          struct(struct(col("va"), col("vb")).as("k"), col("sim").as("v"))))
          .as("sm"))
      val greedy = cands.join(simmaps, Seq("query_id"), "left")
        .withColumn("sel", expr(
          s"""aggregate(
             |  sequence(2, $MmrK),
             |  named_struct(
             |    'sel', transform(
             |      array(array_max(transform(cs,
             |        c -> struct(c.rel AS rel, -c.vec_id AS nvid)))),
             |      p -> named_struct('step', 1L, 'vec_id', -p.nvid,
             |                        'mmr', 7L * p.rel)),
             |    'rem', transform(
             |      filter(cs, c -> c.vec_id !=
             |        -array_max(transform(cs,
             |           c2 -> struct(c2.rel AS rel, -c2.vec_id AS nvid))).nvid),
             |      c -> named_struct('vec_id', c.vec_id, 'rel', c.rel,
             |        'ms', try_element_at(sm, named_struct(
             |          'va', c.vec_id,
             |          'vb', -array_max(transform(cs,
             |             c2 -> struct(c2.rel AS rel, -c2.vec_id AS nvid))).nvid))))),
             |  (acc, i) -> IF(
             |    size(filter(acc.rem, c -> c.ms IS NOT NULL)) = 0,
             |    acc,
             |    named_struct(
             |      'sel', concat(acc.sel, transform(
             |        array(array_max(transform(
             |          filter(acc.rem, c -> c.ms IS NOT NULL),
             |          c -> struct(7L * c.rel - 3L * c.ms AS score,
             |                      -c.vec_id AS nvid)))),
             |        p -> named_struct('step', CAST(i AS BIGINT),
             |                          'vec_id', -p.nvid, 'mmr', p.score))),
             |      'rem', transform(
             |        filter(acc.rem, c -> c.vec_id <> -array_max(transform(
             |          filter(acc.rem, c2 -> c2.ms IS NOT NULL),
             |          c2 -> struct(7L * c2.rel - 3L * c2.ms AS score,
             |                       -c2.vec_id AS nvid))).nvid),
             |        c -> named_struct('vec_id', c.vec_id, 'rel', c.rel,
             |          'ms', greatest(c.ms, try_element_at(sm, named_struct(
             |            'va', c.vec_id,
             |            'vb', -array_max(transform(
             |              filter(acc.rem, c2 -> c2.ms IS NOT NULL),
             |              c2 -> struct(7L * c2.rel - 3L * c2.ms AS score,
             |                           -c2.vec_id AS nvid))).nvid))))))),
             |  acc -> acc.sel)""".stripMargin))
      greedy
        .select(col("query_id"), explode(col("sel")).as("x"))
        .select(col("query_id"), col("x.step").as("step"),
          col("x.vec_id").as("vec_id"), col("x.mmr").as("mmr_x1e10"))
        .orderBy("query_id", "step")
    })


  /** DuckDB CTE chain of the batched hybrid gate, ending in
    * `top(query_id, doc_id, r_lex, r_dense, rrf_x1m, rn)` where `rn` is
    * the FUSED rank — shared by the gate and the hybrid-ranking eval face.
    */
  // def, not val: `defs` above interpolates this during object init — a
  // val defined below it would still be null at that point
  private[graft] def hybridBatchCtes: String =
    s"""t AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |tok AS (SELECT doc_id, unnest(toks) AS term FROM t),
         |tf_all AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
         |qt AS (SELECT doc_id AS query_id, term FROM (
         |         SELECT doc_id, term, tf,
         |                ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY tf DESC, term) AS rn
         |         FROM tf_all WHERE doc_id BETWEEN 1 AND $BatchQ)
         |       WHERE rn <= $QueryTerms),
         |tf AS (SELECT doc_id, term, tf FROM tf_all
         |       WHERE term IN (SELECT DISTINCT term FROM qt)),
         |df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
         |dl AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl FROM t),
         |gl AS (SELECT CAST(SUM(dl) AS BIGINT) AS l, COUNT(*) AS n FROM dl),
         |contrib AS (
         |  SELECT qt.query_id, tf.doc_id,
         |         ((2*(gl.n - df.df) + 1) * 1000) // (2*df.df + 1) AS idf1k,
         |         (22 * tf.tf * gl.l * 1000)
         |           // (10*gl.l*tf.tf + 3*gl.l + 9*dl.dl*gl.n) AS tfn1k
         |  FROM qt JOIN tf USING (term) JOIN df USING (term)
         |       JOIN dl ON dl.doc_id = tf.doc_id CROSS JOIN gl
         |  WHERE tf.doc_id <> qt.query_id),
         |lex AS (SELECT query_id, doc_id, CAST(SUM(idf1k * tfn1k) AS BIGINT) AS score_x1m
         |        FROM contrib GROUP BY 1, 2),
         |lexr AS (SELECT query_id, doc_id,
         |                ROW_NUMBER() OVER (PARTITION BY query_id
         |                                   ORDER BY score_x1m DESC, doc_id) AS r
         |         FROM lex QUALIFY r <= $K),
         |qv AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
         |       WHERE vec_id BETWEEN 1 AND $BatchQ),
         |dense AS (SELECT qv.query_id, e.vec_id AS doc_id,
         |                 CAST(ROUND((${SimilarityQueries.cosSql("e.embedding", "qv")})
         |                            * 1000000000) AS BIGINT) AS cos_x1e9
         |          FROM embeddings e CROSS JOIN qv WHERE e.vec_id <> qv.query_id),
         |denser AS (SELECT query_id, doc_id,
         |                  ROW_NUMBER() OVER (PARTITION BY query_id
         |                                     ORDER BY cos_x1e9 DESC, doc_id) AS r
         |           FROM dense QUALIFY r <= $K),
         |fused AS (
         |  SELECT COALESCE(l.query_id, d.query_id) AS query_id,
         |         COALESCE(l.doc_id, d.doc_id) AS doc_id,
         |         COALESCE(l.r, 0) AS r_lex,
         |         COALESCE(d.r, 0) AS r_dense,
         |         (CASE WHEN l.r IS NULL THEN 0 ELSE 1000000 // ($RrfK + l.r) END
         |          + CASE WHEN d.r IS NULL THEN 0 ELSE 1000000 // ($RrfK + d.r) END)
         |           AS rrf_x1m
         |  FROM lexr l FULL OUTER JOIN denser d
         |    ON l.query_id = d.query_id AND l.doc_id = d.doc_id),
         |top AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
         |                                     ORDER BY rrf_x1m DESC, doc_id) AS rn
         |        FROM fused)""".stripMargin

  /** The fused frame (query_id, doc_id, r_lex, r_dense, rrf_x1m, rn) over
    * explicit (doc_id, toks) and embeddings inputs — the q_hybrid_rrf_batch
    * pipeline up to (not including) the top-[[Top]] cut.
    */
  private[graft] def hybridBatchFused(t: org.apache.spark.sql.DataFrame,
      e: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
      import graft.functions.KMinAgg

      val lex = batchLexScores(t)
      // bounded per-query top-K: kminBy on (−score, doc) — never a
      // corpus-sized sort or window
      val lexr = lex.groupBy("query_id")
        .agg(KMinAgg.kminBy(-col("score_x1m"), col("doc_id"), K).as("mins"))
        .select(col("query_id"), posexplode(col("mins")))
        .select(col("query_id"), col("col.id").as("doc_id"),
          (col("pos") + 1).cast("long").as("r_lex"))

      val qv = broadcast(e.filter(col("vec_id").between(1, BatchQ))
        .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
          norm(col("embedding")).as("nq")))
      val denser = e.withColumn("na", norm(col("embedding")))
        .crossJoin(qv).filter(col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id").as("doc_id"),
          round(dot(col("embedding"), col("qv")) / (col("na") * col("nq"))
            * 1000000000L, 0).cast("long").as("cos_x1e9"))
        .groupBy("query_id")
        .agg(KMinAgg.kminBy(-col("cos_x1e9"), col("doc_id"), K).as("mins"))
        .select(col("query_id"), posexplode(col("mins")))
        .select(col("query_id"), col("col.id").as("doc_id"),
          (col("pos") + 1).cast("long").as("r_dense"))

      val fused = lexr.join(denser, Seq("query_id", "doc_id"), "full_outer")
        .select(col("query_id"), col("doc_id"),
          coalesce(col("r_lex"), lit(0L)).as("r_lex"),
          coalesce(col("r_dense"), lit(0L)).as("r_dense"),
          (when(col("r_lex").isNull, 0L)
            .otherwise(expr(s"CAST(1000000 DIV ($RrfK + r_lex) AS BIGINT)")) +
           when(col("r_dense").isNull, 0L)
            .otherwise(expr(s"CAST(1000000 DIV ($RrfK + r_dense) AS BIGINT)")))
            .as("rrf_x1m"))
      fused.withColumn("rn", row_number().over(Window.partitionBy("query_id")
          .orderBy(col("rrf_x1m").desc, col("doc_id"))))

  }

  /** MMR relevance shortlist: ×10⁹ fixed-point cosine of every corpus row
    * against the broadcast query batch, bounded kminBy top-[[MmrN]] per
    * query — the ONE corpus-sized scan of the operator (PlanAuditSpec
    * audits exactly this frame).
    */
  private[graft] def mmrShortlist(e: org.apache.spark.sql.DataFrame,
      queryPred: org.apache.spark.sql.Column = col("vec_id") % MmrEvery === 0)
      : org.apache.spark.sql.DataFrame = {
    import graft.functions.KMinAgg
    val qv = broadcast(e.filter(queryPred)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
        norm(col("embedding")).as("nq")))
    e.withColumn("na", norm(col("embedding")))
      .crossJoin(qv).filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        round(dot(col("embedding"), col("qv")) / (col("na") * col("nq"))
          * 1000000000L, 0).cast("long").as("rel"))
      .groupBy("query_id")
      .agg(KMinAgg.kminBy(-col("rel"), col("vec_id"), MmrN).as("mins"))
      .select(col("query_id"), explode(col("mins")).as("x"))
      .select(col("query_id"), col("x.id").as("vec_id"), (-col("x.h")).as("rel"))
  }

  /** Pairwise ×10⁹ fixed-point sims between shortlist members of the same
    * query: one broadcast row-fetch of member vectors off the corpus, then
    * a Q×[[MmrN]]²-bounded self-join.
    */
  private[graft] def mmrSims(e: org.apache.spark.sql.DataFrame,
      shortlist: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val vecs = e.join(broadcast(shortlist.select("query_id", "vec_id")), "vec_id")
      .select(col("query_id"), col("vec_id"), col("embedding"),
        norm(col("embedding")).as("na"))
    vecs.select(col("query_id"), col("vec_id").as("va"),
        col("embedding").as("ea"), col("na").as("naa"))
      .join(broadcast(vecs.select(col("query_id"), col("vec_id").as("vb"),
        col("embedding").as("eb"), col("na").as("nab"))), Seq("query_id"))
      .filter(col("va") =!= col("vb"))
      .select(col("query_id"), col("va"), col("vb"),
        round(dot(col("ea"), col("eb")) / (col("naa") * col("nab"))
          * 1000000000L, 0).cast("long").as("sim"))
  }

  /** Unrolled DuckDB CTEs for MMR greedy rounds 2..[[MmrK]]: each round
    * computes max-sim-to-selected for the remaining shortlist members and
    * takes the (score DESC, vec_id) argmax — the exact fold the Spark loop
    * runs, in the same ×10⁹/×10¹⁰ integer fixed point.
    */
  private def mmrStepCtes: String = (2 to MmrK).map { i =>
    s"""m$i AS MATERIALIZED (SELECT p.query_id, p.va AS vec_id, MAX(p.sim) AS ms
       |        FROM p JOIN sel${i - 1} s ON p.query_id = s.query_id AND p.vb = s.vec_id
       |        GROUP BY 1, 2),
       |s$i AS MATERIALIZED (SELECT query_id, vec_id, mmr_x1e10, $i AS step FROM (
       |          SELECT c.query_id, c.vec_id, 7 * c.rel - 3 * m.ms AS mmr_x1e10,
       |                 ROW_NUMBER() OVER (PARTITION BY c.query_id
       |                                    ORDER BY 7 * c.rel - 3 * m.ms DESC, c.vec_id) AS rn
       |          FROM c JOIN m$i m ON c.query_id = m.query_id AND c.vec_id = m.vec_id
       |          WHERE NOT EXISTS (SELECT 1 FROM sel${i - 1} x
       |                            WHERE x.query_id = c.query_id AND x.vec_id = c.vec_id))
       |        WHERE rn = 1),
       |sel$i AS MATERIALIZED (SELECT query_id, vec_id FROM sel${i - 1}
       |          UNION ALL SELECT query_id, vec_id FROM s$i)""".stripMargin
  }.mkString(",\n")
}
