package graft
package probe

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.Probe.{Face, Testdata, cell, replicate, shiftOf, shifted}

/** ×k growth faces: each operator on its production axis, ×1 then ×k in
  * one JVM (warm rep first), so every ratio is self-contained against
  * ambient drift.
  */
object GrowthFaces {

  private val Sf01 = s"$Testdata/sf0.1"

  /** The round-15 ANN ladder + MMR corpus stages (binary Hamming,
    * raw-prefix matryoshka, PCA-rotated prefix, MMR shortlist/sims).
    *
    * Axis discipline: the registered gates derive the QUERY batch from the
    * corpus (`vec_id % 25/50 = 0`), so replicating the corpus would scale
    * queries × corpus = ×100 — not the production axis. Real serving holds
    * the query batch FIXED while the corpus grows, so this face pins the
    * batch to the base corpus's query ids (replica vec_ids shift by k·10⁷
    * and never match) and expects ≈ linear wall growth from the corpus
    * scans; shortlists, reranks, and the MMR pairwise frame stay bounded.
    * Vector VALUES replicate unchanged — ties resolve by (key, vec_id), and
    * the face measures throughput, not recall (the recall laws are gated
    * at base scale by BinaryHammingSpec / MatryoshkaSpec / MmrSpec).
    */
  val annLadder: Face = Face("ann_ladder", "ann_ladder_probe", "ann_ladder_probe_x10.json",
      Some(Sf01), Some(10)) { run =>
    val spark = run.spark
    val base = spark.read.parquet(s"${run.src}/embeddings.parquet")
    val nBase = base.count()
    // fixed query batch: the base corpus's gate queries, present in every
    // replica corpus under the same ids (replica shift k·10⁷ never lands
    // on them)
    val pred25 = col("vec_id") % 25 === 0 && col("vec_id") < nBase
    val pred50 = col("vec_id") % 50 === 0 && col("vec_id") < nBase

    val dir = run.dir(s"x${run.replicas}")
    replicate(run.replicas)(k =>
        base.withColumn("vec_id", col("vec_id") + lit(k.toLong * 10000000L)))
      .repartition(GraftSession.cpus)
      .write.mode("overwrite").parquet(dir)
    val big = spark.read.parquet(dir)
    def corpus(k: Int): DataFrame = if (k == 1) base else big

    Seq("src" -> run.src, "replicas" -> run.replicas, "n_base" -> nBase) ++
      run.growth("rows")(
        cell("binary_hamming")(k => pipeline.SimilarityQueries
          .binaryHammingTopK(corpus(k), depth = 50, queryPred = pred25).count()),
        cell("matryoshka")(k => pipeline.SimilarityQueries
          .matryoshkaTopK(corpus(k), prefix = 16, depth = 60, queryPred = pred25).count()),
        cell("pca_prefix")(k => pipeline.SimilarityQueries
          .pcaPrefixTopK(spark, corpus(k), components = 16, depth = 60, queryPred = pred25)
          .count()),
        cell("mmr_corpus_stages") { k =>
          val short = pipeline.RetrievalQueries.mmrShortlist(corpus(k), queryPred = pred50)
            .localCheckpoint()
          pipeline.RetrievalQueries.mmrSims(corpus(k), short).count()
        })
  }

  /** The tokenizer SERVING paths (WordPiece greedy longest-match, unigram
    * Viterbi): the production axis is a FIXED piece inventory (trained
    * once, persisted) serving a growing corpus, and the serving cost law
    * is
    *
    *   one corpus pass to (word, cnt)  +  encode over DISTINCT words.
    *
    * Replicas multiply BOTH terms linearly: replica-k documents prefix
    * every token with a letter-only tag (`aa`, `ab`, …) so the distinct
    * word inventory grows ×k with zero cross-replica overlap (the tags
    * stay inside [a-z]+, so the tagged words still flow through the
    * gates' regex filter; they segment via the char fallback). The
    * per-word encode cost is corpus-INDEPENDENT (expression over ≤ 32
    * chars), so the expected ×10 ratio is ≈ linear — a super-linear
    * ratio would mean the encode stopped being distinct-word-bounded.
    */
  val tokenizerServe: Face = Face("tokenizer_serve", "tokenizer_serve_probe",
      "tokenizer_serve_probe_x10.json", Some(Sf01), Some(10)) { run =>
    val spark = run.spark
    val docs = spark.read.parquet(s"${run.src}/documents.parquet")
    // serving inventories are trained ONCE on the base corpus's src0 —
    // the fixed-vocabulary contract this face pins
    val wpVocab = pipeline.WordPieceQueries.vocabTable(spark, run.src).collect()
      .map(r => (r.getString(0), r.getBoolean(1), r.getString(2))).toSeq
      .sortBy(v => (v._1, v._2))
    val uniCosts = pipeline.UnigramQueries.costTable(spark, run.src).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq.sortBy(_._1)

    def corpus(k: Int): DataFrame =
      replicate(k) { r =>
        val tag = "" + ('a' + r / 26).toChar + ('a' + r % 26).toChar
        val base = docs.select(col("source").as("grp"),
          explode(graft.functions.TextFunctions.tokens(col("text"))).as("word"))
        if (r == 0) base
        else base.select(col("grp"), concat(lit(tag), col("word")).as("word"))
      }.filter(col("word").rlike("^[a-z]+$"))

    // the serving law under measure: corpus → (word, cnt) → encode
    // distinct words → weighted piece total (one number out)
    def serve(enc: Column)(k: Int): Long = {
      val wc = corpus(k).groupBy("word").agg(count(lit(1)).as("cnt"))
      wc.select(col("cnt"), enc.as("e"))
        .select(sum(col("cnt") * size(col("e.toks"))).cast("long"))
        .collect()(0).getLong(0)
    }

    Seq("src" -> run.src, "replicas" -> run.replicas) ++ run.growth("pieces")(
      cell("wordpiece")(serve(pipeline.WordPieceQueries.encodeExpr(wpVocab))),
      cell("unigram")(serve(pipeline.UnigramQueries.encodeExpr(uniCosts))))
  }

  /** The data-selection family (q_dsir_weights / q_select_budget): the
    * corpus axis. Replicas multiply the POOL documents ×k (doc_id shift,
    * sources kept), so the feature pass, the per-doc weight aggregate, and
    * the budget prefix all grow ×k while λ stays a 4096-row broadcast
    * trained once on the base corpus — the production contract (train the
    * target/raw models once; score and select over an ever-growing pool).
    *
    * Expected law: both measured pipelines are one corpus pass + one
    * doc_id-keyed aggregate (+ for the budget face, PrefixRank's range
    * exchange) — wall should grow ≈ linearly; a super-linear ratio means
    * the selection stopped being corpus-pass-bounded (e.g. the λ join
    * stopped broadcasting or a global window snuck in).
    */
  val selection: Face = Face("selection", "selection_probe", "selection_probe_x10.json",
      Some(Sf01), Some(10)) { run =>
    val spark = run.spark
    val docs = spark.read.parquet(s"${run.src}/documents.parquet")
    val baseMax = docs.agg(max("doc_id")).collect()(0).getLong(0) + 1
    // λ trained ONCE on the base corpus — the fixed model being served
    val lam = pipeline.SelectionQueries.lambdaTable(spark, run.src)

    def pool(k: Int): DataFrame =
      replicate(k)(r => docs.filter(col("source") =!= "src0")
        .select((col("doc_id") + lit(r * baseMax)).as("doc_id"), col("source"), col("text")))

    def weightsTop(k: Int): Long =
      pipeline.SelectionQueries.docWeightsOf(pool(k), lam)
        .orderBy(col("weight").desc, col("doc_id")).limit(100)
        .agg(sum("weight")).collect()(0).getLong(0)

    def budgetSelect(k: Int): Long = {
      val dw = pipeline.SelectionQueries.docWeightsOf(pool(k), lam)
      val budget = dw.agg(expr("SUM(n_tok) DIV 4").as("budget"))
      graft.operators.PrefixRank.withRunningTotal(dw,
          Seq(col("weight").desc, col("doc_id")), col("n_tok"), "cum",
          GraftSession.cpus)
        .crossJoin(broadcast(budget))
        .filter(col("cum") <= col("budget"))
        .agg(count(lit(1))).collect()(0).getLong(0)
    }

    Seq("src" -> run.src, "replicas" -> run.replicas) ++ run.growth("out")(
      cell("dsir_weights")(weightsTop), cell("select_budget")(budgetSelect))
  }

  /** The round-16 operator additions, each on its production axis:
    *
    *  - q_decontaminate_semantic: corpus ×k against a FIXED eval set (the
    *    benchmark doesn't grow with the crawl) — banding is map-side, the
    *    eval side broadcast, candidates ∝ corpus ⇒ expect ≈ linear.
    *  - q_triplet_mining: corpus ×k, FIXED 20-anchor batch — one scan +
    *    Lloyd rounds, both linear.
    *  - q_influence_scores: corpus ×k — Gramian/moment/attribution are all
    *    single passes; the solve is corpus-independent driver math.
    *  - q_eval_retrieval: corpus ×k, FIXED 100-query batch (base doc ids
    *    1..100) — the two pruned-postings exchanges grow linearly.
    *  - q_multimodal_ahash: corpus ×k with per-replica text perturbation
    *    (distinct images — the honest new-documents axis, not k identical
    *    copies that would quadratically inflate true duplicate clusters).
    */
  val r16: Face = Face("r16", "r16_probe", "r16_probe_x10.json", Some(Sf01), Some(10)) { run =>
    val spark = run.spark
    val emb = spark.read.parquet(s"${run.src}/embeddings.parquet")
      .select("vec_id", "embedding")
    val docs = spark.read.parquet(s"${run.src}/documents.parquet")
      .select("doc_id", "text")
    val embShift = shiftOf(emb, "vec_id")
    val docShift = shiftOf(docs, "doc_id")

    def embPool(k: Int): DataFrame =
      replicate(k)(r => emb.select(shifted("vec_id", embShift, r), col("embedding")))

    // decon axis: corpus replicates; eval set stays the base fixture
    val evalFixed = emb.filter(col("vec_id") % 97 === 0)
      .select(col("vec_id").as("eval_id"), col("embedding"))
      .union(emb.filter(col("vec_id") % 50 === 0 && col("vec_id") % 97 =!= 0)
        .select((col("vec_id") + 1000000000L).as("eval_id"), col("embedding")))
    def deconCorpus(k: Int): DataFrame =
      replicate(k)(r => emb.filter(col("vec_id") % 97 =!= 0)
        .select(shifted("vec_id", embShift, r), col("embedding")))

    def docPool(k: Int, perturb: Boolean): DataFrame =
      replicate(k) { r =>
        val base = docs.select(shifted("doc_id", docShift, r), col("text"))
        if (perturb && r > 0)
          base.select(col("doc_id"), concat(lit(s"r$r "), col("text")).as("text"))
        else base
      }

    val baseN = emb.count()

    Seq("src" -> run.src, "replicas" -> run.replicas) ++ run.growth("out")(
      cell("decontaminate_semantic")(k => pipeline.SemanticDeconQueries
        .flaggedFrom(deconCorpus(k), evalFixed, baseN * k)
        .agg(sum(col("max_cos_x1e9") + col("vec_id"))).collect()(0).getLong(0)),
      cell("triplet_mining")(k => pipeline.TripletQueries.tripletsOf(embPool(k))
        .agg(sum("margin_x1e9")).collect()(0).getLong(0)),
      cell("influence_scores")(k => pipeline.InfluenceQueries.influenceOf(spark, embPool(k))
        .agg(sum("infl")).collect()(0).getLong(0)),
      cell("eval_retrieval")(k => pipeline.RetrievalEvalQueries
        .metricsOf(docPool(k, perturb = false).select(col("doc_id"),
          graft.functions.TextFunctions.tokens(col("text")).as("toks")))
        .agg(sum("ndcg_permille")).collect()(0).getLong(0)),
      cell("multimodal_ahash")(k => pipeline.Multimodal.ahashPairs(docPool(k, perturb = true))
        .agg(coalesce(sum(col("hamming") + 1L), lit(0L))).collect()(0).getLong(0)))
  }

  /** ×100 for the round-16 wave (wave-2 faces carried only ×10 receipts;
    * this applies the ×100 discipline). Each face runs on its production
    * axis:
    *
    *  - q_influence_scores: corpus ×k — the steepest ×10 mover (11.0×); the
    *    ×100 point decides linear-with-constant vs super-linear.
    *  - q_dedup_first_wins: corpus ×k with per-replica token renaming
    *    (distinct docs; un-perturbed copies would quadratically inflate the
    *    planted dup clusters) — pair graph + wave resolution both ∝ corpus.
    *  - q_dedup_containment: corpus ×k renamed — postings join is
    *    df-bounded, plants grow ∝ corpus.
    *  - q_eval_retrieval_hybrid: corpus ×k against the FIXED 100-query batch
    *    (base ids 1..100; replicas shift by ≥1000 so the batch never grows).
    *  - q_multimodal_ahash: corpus ×k perturbed (the r16 ×10 axis, one
    *    decade further).
    */
  val r17: Face = Face("r17", "r17_probe", "r17_probe_x100.json", Some(Sf01), Some(100)) { run =>
    val spark = run.spark
    val emb = spark.read.parquet(s"${run.src}/embeddings.parquet")
      .select("vec_id", "embedding")
    val docs = spark.read.parquet(s"${run.src}/documents.parquet")
      .select("doc_id", "text")
    // ONE shift for both tables: the hybrid face joins the doc and vec id
    // spaces query-side, so replicas must land on the same offsets
    val shift = math.max(shiftOf(emb, "vec_id"), shiftOf(docs, "doc_id"))

    def embPool(k: Int): DataFrame =
      replicate(k)(r => emb.select(shifted("vec_id", shift, r), col("embedding")))

    /** Replica perturbation comes in two strengths, chosen per face:
      *
      *  - `prefix`: one tag token prepended — enough for the aHash face
      *    (the pixel cycle shifts, so replica images are distinct) but NOT
      *    for shingle-Jaccard faces: two replicas of a doc still share all
      *    but one 3-shingle (J = s/(s+2) → 1), so every doc would grow a
      *    k-member cross-replica dup cluster and the pair graph would go
      *    QUADRATIC in k — the exact trap the perturbation exists to
      *    avoid (the un-fixed form wedged the first ×100 run for an hour).
      *  - `tagWords`: every TOKEN gets a per-replica suffix — a bijective
      *    token renaming, so within-replica Jaccard values (and therefore
      *    the dup/containment structure and per-replica workload) are
      *    EXACTLY those of the base corpus, while no shingle is shared
      *    across replicas (cross-replica J = 0). The honest new-documents
      *    axis for Jaccard faces.
      */
    def docPool(k: Int, perturb: Boolean, tagWords: Boolean = false): DataFrame =
      replicate(k) { r =>
        val base = docs.select(shifted("doc_id", shift, r), col("text"))
        if (tagWords && r > 0)
          base.select(col("doc_id"),
            regexp_replace(col("text"), "(\\S+)", "$1r" + r).as("text"))
        else if (perturb && r > 0)
          base.select(col("doc_id"), concat(lit(s"r$r "), col("text")).as("text"))
        else base
      }

    def evalHybrid(k: Int): Long = {
      val t = docPool(k, perturb = false)
        .select(col("doc_id"), graft.functions.TextFunctions.tokens(col("text")).as("toks"))
      val top = pipeline.RetrievalQueries.hybridBatchFused(t, embPool(k))
        .filter(col("rn") <= 10)
        .select(col("query_id"), col("doc_id"), col("rn").cast("long").as("r"))
      pipeline.RetrievalEvalQueries.metricsOfRanking(t, top)
        .agg(sum("ndcg_permille")).collect()(0).getLong(0)
    }

    Seq("src" -> run.src, "replicas" -> run.replicas) ++ run.growth("out")(
      cell("influence_scores")(k => pipeline.InfluenceQueries.influenceOf(spark, embPool(k))
        .agg(sum("infl")).collect()(0).getLong(0)),
      cell("dedup_first_wins")(k => pipeline.FirstWinsDedupQueries.resolveWaves(
          pipeline.DedupQueries.nearDupPairs(
              docPool(k, perturb = true, tagWords = true), minJ = 0.8)
            .select(col("doc_a").as("e"), col("doc_b").as("d")))
        .agg(sum(col("rnd") + when(col("kept"), 1L).otherwise(0L)))
        .collect()(0).getLong(0)),
      cell("dedup_containment")(k => pipeline.ContainmentQueries.containmentFace(
          docPool(k, perturb = true, tagWords = true))
        .agg(sum(col("n_inter") + col("n_contained"))).collect()(0).getLong(0)),
      cell("eval_retrieval_hybrid")(evalHybrid),
      cell("multimodal_ahash")(k => pipeline.Multimodal.ahashPairs(docPool(k, perturb = true))
        .agg(coalesce(sum(col("hamming") + 1L), lit(0L))).collect()(0).getLong(0)))
  }

  val all: Seq[Face] = Seq(annLadder, tokenizerServe, selection, r16, r17)
}
