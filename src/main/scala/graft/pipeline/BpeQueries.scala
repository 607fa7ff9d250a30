package graft.pipeline

import graft.QueryDef
import graft.analytics.Tables
import graft.functions.TextFunctions.{tokens, toksSql}
import graft.operators.Checkpoints.StableOps
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed BPE (byte-pair-encoding) merge training — the tokenizer-
  * construction stage of an LLM data pipeline (Sennrich, Haddow & Birch
  * 2016): iteratively merge the most frequent adjacent symbol pair.
  *
  * The 100 TB shape is the paper's own: the ONLY corpus-wide pass is the
  * word-frequency dictionary (one map-side-combinable groupBy over the
  * tokenized corpus); training then runs over the VOCABULARY — distinct
  * words weighted by frequency — whose size is language-bounded
  * (~10⁶–10⁷ rows), independent of corpus bytes. Each merge round is one
  * explode+groupBy over vocab rows, a one-row argmax collect (the same
  * bounded-collect pattern as the PageRank convergence delta), and a
  * map-only greedy merge application; every round's state is eagerly
  * checkpointed because each round reads it twice (pair counts + apply) —
  * the unrolled-twice-per-round shape whose tree otherwise doubles per
  * round (see GraphQueries' PageRank note).
  *
  * Exactness: pair counts and the greedy merge arithmetic are BIGINT;
  * greedy left-to-right non-overlapping application is a deterministic
  * fold; argmax ties break lexicographically (count DESC, left, right —
  * pure-ASCII symbols, so both engines collate identically). The training
  * trace is the gated output: per round, the chosen pair, its count, the
  * number of merge sites applied, and the post-merge token/vocab totals.
  * The DuckDB oracle is handed every round's STAGED state (OracleStage)
  * and independently recomputes the pair counts, the argmax, and the
  * greedy site count from round r's state (runs of consecutive candidate
  * sites → Σ freq·⌈run/2⌉, the closed form of the fold), and the totals
  * from round r+1's state — so a wrong merge choice OR a wrong
  * application breaks the hash (application additionally hard-fails
  * driver-side: tokens_after must equal tokens_before − merges).
  *
  * Fixture scope: letters-only words (`^[a-z]+$`, no escaping concerns in
  * generated SQL), no end-of-word marker (merges act within words), 8
  * rounds.
  */
object BpeQueries {

  private val Rounds = 8

  /** Per-round DuckDB block: recompute pair counts + argmax + greedy site
    * count from staged state r; totals from staged state r+1. Pairs come
    * from ZIPPED PARALLEL UNNESTS (slice offset by one) — the dialect's
    * replacement for lateral generate_series.
    */
  private def roundSql(r: Int): String = {
    val stR = graft.OracleStage.pq(s"bpe_state_$r")
    val stN = graft.OracleStage.pq(s"bpe_state_${r + 1}")
    s"""SELECT $r AS round, b.lsym, b.rsym, b.pair_cnt, nm.n_merges,
       |       aft.n_tokens_after, aft.vocab_after
       |FROM (
       |  SELECT lsym, rsym, cnt AS pair_cnt FROM (
       |    SELECT lsym, rsym, CAST(SUM(freq) AS BIGINT) AS cnt
       |    FROM (SELECT freq,
       |                 unnest(list_slice(syms, 1, len(syms)-1)) AS lsym,
       |                 unnest(list_slice(syms, 2, len(syms))) AS rsym
       |          FROM $stR WHERE len(syms) >= 2)
       |    GROUP BY 1, 2)
       |  ORDER BY cnt DESC, lsym, rsym LIMIT 1) b
       |CROSS JOIN (
       |  SELECT CAST(COALESCE(SUM(freq * ((c + 1) // 2)), 0) AS BIGINT) AS n_merges
       |  FROM (
       |    SELECT word, freq, COUNT(*) AS c
       |    FROM (
       |      SELECT word, freq, p,
       |             p - ROW_NUMBER() OVER (PARTITION BY word ORDER BY p) AS grp
       |      FROM (SELECT word, freq,
       |                   unnest(list_slice(syms, 1, len(syms)-1)) AS lsym,
       |                   unnest(list_slice(syms, 2, len(syms))) AS rsym,
       |                   unnest(generate_series(1, len(syms)-1)) AS p
       |            FROM $stR WHERE len(syms) >= 2) c0
       |      JOIN (SELECT lsym, rsym FROM (
       |              SELECT lsym, rsym, CAST(SUM(freq) AS BIGINT) AS cnt
       |              FROM (SELECT freq,
       |                           unnest(list_slice(syms, 1, len(syms)-1)) AS lsym,
       |                           unnest(list_slice(syms, 2, len(syms))) AS rsym
       |                    FROM $stR WHERE len(syms) >= 2)
       |              GROUP BY 1, 2)
       |            ORDER BY cnt DESC, lsym, rsym LIMIT 1) bb
       |        USING (lsym, rsym))
       |    GROUP BY word, freq, grp)) nm
       |CROSS JOIN (
       |  SELECT CAST(SUM(freq * len(syms)) AS BIGINT) AS n_tokens_after,
       |         (SELECT CAST(COUNT(DISTINCT s) AS BIGINT)
       |          FROM (SELECT unnest(syms) AS s FROM $stN)) AS vocab_after
       |  FROM $stN) aft""".stripMargin
  }

  /** Greedy non-overlapping site count for pair (l, r) over a `syms`
    * array column — the fold: merge at p iff p clears the previously
    * consumed position. Exposed for BpeSpec's edge cases (overlapping
    * candidates, l == r runs).
    */
  private[pipeline] def greedyCountExpr(l: String, r: String) = {
    requireCleanSymbols(Seq((l, r)))
    expr(
    s"""aggregate(
       |  IF(size(syms) < 2, CAST(array() AS ARRAY<INT>),
       |     filter(sequence(1, size(syms)-1), p ->
       |       element_at(syms, p) = '$l' AND element_at(syms, p+1) = '$r')),
       |  named_struct('pe', 0, 'c', 0L),
       |  (acc, p) -> IF(p > acc.pe,
       |                 named_struct('pe', p + 1, 'c', acc.c + 1L),
       |                 acc),
       |  acc -> acc.c)""".stripMargin)
  }

  /** Greedy left-to-right application of merge (l, r) to a `syms` array
    * column. Nested IFs so element_at(syms, i+1) is only reached when
    * i < size — If branches are lazy, AND operands may not be.
    */
  private[pipeline] def applyMergeExpr(l: String, r: String) = {
    requireCleanSymbols(Seq((l, r)))
    expr(
    s"""aggregate(
       |  sequence(1, size(syms)),
       |  named_struct('out', CAST(array() AS ARRAY<STRING>), 'sk', 0),
       |  (acc, i) -> IF(acc.sk = 1,
       |    named_struct('out', acc.out, 'sk', 0),
       |    IF(i >= size(syms),
       |       named_struct('out', concat(acc.out, array(element_at(syms, i))), 'sk', 0),
       |       IF(element_at(syms, i) = '$l' AND element_at(syms, i+1) = '$r',
       |          named_struct('out', concat(acc.out, array('$l$r')), 'sk', 1),
       |          named_struct('out', concat(acc.out, array(element_at(syms, i))), 'sk', 0)))),
       |  acc -> acc.out)""".stripMargin)
  }

  /** One round's argmax — the most frequent adjacent pair, lexicographic
    * ties — shared by [[trainTrace]] and [[trainedState]] so the two loops
    * cannot drift (they stage under the SAME bpe_state_* names, so their
    * round decisions must be identical by construction, not by copy-paste).
    * Fails with a diagnostic on a degenerate corpus (empty vocabulary or
    * every word already fully merged) instead of an index error.
    */
  private def bestPair(state: org.apache.spark.sql.DataFrame,
      round: Int): (String, String, Long) = {
    val rows = state.filter(size(col("syms")) >= 2)
      .select(col("freq"), explode(expr(
        """transform(sequence(1, size(syms)-1), i ->
          |  struct(element_at(syms, i) AS l, element_at(syms, i+1) AS r))"""
          .stripMargin)).as("p"))
      .groupBy(col("p.l").as("lsym"), col("p.r").as("rsym"))
      .agg(sum("freq").as("cnt"))
      .orderBy(col("cnt").desc, col("lsym"), col("rsym"))
      .limit(1).collect() // 1-row argmax, the bounded-collect pattern
    require(rows.nonEmpty,
      s"BPE round $round: no adjacent symbol pairs left — vocabulary is " +
        "empty or already fully merged; lower the round count or check the " +
        "word filter")
    (rows(0).getString(0), rows(0).getString(1), rows(0).getLong(2))
  }

  /** The training loop over a (word, freq) dictionary — separated from the
    * registered query so FamilyScaleProbe can drive it with a wider
    * alphabet over the replicated corpus (the ×k replica tokens carry
    * digits, which the registered letters-only fixture would drop).
    * `stage` toggles OracleStage materialization (the registered face
    * stages every round for the DuckDB oracle; the probe does not).
    */
  private[graft] def trainTrace(wf: org.apache.spark.sql.DataFrame,
      rounds: Int, stage: Boolean): org.apache.spark.sql.DataFrame = {
    val spark = wf.sparkSession
    import spark.implicits._
    def staged(name: String, df: org.apache.spark.sql.DataFrame) =
      if (stage) graft.OracleStage.stage(name, df) else df

    var state = staged("bpe_state_0",
        wf.select(col("word"), col("freq"),
          expr("filter(split(word, ''), c -> c <> '')").as("syms")))
        .stableCheckpoint()
      val t0 = state.agg(sum(expr("freq * size(syms)"))).collect()(0)
      require(!t0.isNullAt(0),
        "BPE: empty vocabulary after the word filter — nothing to train on")
      var tokensBefore = t0.getLong(0)

      val trace = (0 until rounds).map { r =>
        val (l, rr, cnt) = bestPair(state, r)

        // greedy non-overlapping site count (fold: merge at p iff p clears
        // the previous consumed position) — summed with word frequencies
        val applied = state.select(col("word"), col("freq"),
          applyMergeExpr(l, rr).as("syms"))
        state = staged(s"bpe_state_${r + 1}", applied)
          .stableCheckpoint() // each round reads state twice: truncate NOW

        val post = state.select(explode(col("syms")).as("s"), col("freq"))
          .agg(sum("freq").as("t"), countDistinct("s").as("v"))
          .collect()(0)
        val (tAfter, vAfter) = (post.getLong(0), post.getLong(1))

        // n_merges from the token-count delta (every greedy site removes
        // exactly one token). This is NOT self-referential in the gate:
        // the DuckDB oracle recomputes n_merges INDEPENDENTLY from round
        // r's staged state via the closed-form greedy run count, so a
        // wrong application breaks the hash; BpeSpec's reference-trace
        // equality pins the same law in-process. Deriving it here saves a
        // whole vocab pass per round ([[greedyCountExpr]] stays the
        // spec-tested definition).
        val nMerges = tokensBefore - tAfter
        tokensBefore = tAfter
        (r.toLong, l, rr, cnt, nMerges, tAfter, vAfter)
      }

      trace.toDF("round", "lsym", "rsym", "pair_cnt", "n_merges",
          "n_tokens_after", "vocab_after")
        .orderBy("round")
  }

  // ------------- deep (batched) training: r13 verdict item 1 -------------
  //
  // The round-serial trainer above costs 2–3 driver-coordinated jobs + one
  // checkpoint PER MERGE — at production merge depths (30k–50k) that is
  // ~10⁵ driver round-trips, a wall-clock ceiling bound by ROUND COUNT,
  // not corpus size. The deep trainer amortizes: each PASS selects a
  // whole BATCH of merges and applies them in one map-only fold, so
  // wall-clock grows with passes while merges grow with batch width
  // (BpeDeepProbe measures exactly that).
  //
  // Batch rule (deterministic, bounded, SQL-replayable): rank pairs by
  // priority (cnt DESC, lsym, rsym), take the top-M ranks (M = DeepScan,
  // a constant — the driver collect is M rows at ANY corpus size), scan
  // them in rank order and select a pair iff neither of its symbols is
  // used by an already-selected pair of this pass, stopping at B
  // selections. The rank-1 pair is always selected, so every pass yields
  // ≥ 1 merge, and B = 1 degenerates to the classical greedy trainer
  // EXACTLY (BpeDeepSpec pins both laws). The oracle replays the same
  // scan with a recursive CTE over the same top-M ranking.
  //
  // Exactness of the batched application: selected pairs are pairwise
  // symbol-DISJOINT, so a position consumed by one pair's merge can never
  // host another pair's site — one left-to-right fold with a per-position
  // batch-map lookup is therefore EQUAL to applying each pair's greedy
  // fold independently, and each pair's site count keeps the closed-form
  // run formula evaluated on the PRE-pass state. The driver hard-checks
  // the identity Σ n_merges == tokens_before − tokens_after every pass;
  // the DuckDB oracle independently replays selection + closed form +
  // totals from the staged per-pass states.

  private val DeepPasses = 18
  private val DeepBatch = 32
  private val DeepScan = 512 // rank depth of the per-pass selection scan
  private val DeepMinMerges = 256L // learned merge RULES across all passes

  /** Every adjacent pair's frequency-weighted occurrence count AND its
    * greedy non-overlapping site count, in one pass over the state.
    *
    * For l ≠ r two sites can NEVER overlap (a site at p and p+1 would
    * force syms[p+1] = l = r), so every site merges and n_merges = cnt —
    * a plain map-side-combinable groupBy, no window. Only l == r pairs
    * can run together ("a a a"): those few positions get the closed-form
    * run grouping (⌈run/2⌉ greedy merges per run), with the sort window
    * confined to the l == r SUBSET of positions instead of the whole
    * position stream. The DuckDB oracle keeps the uniform run formula
    * (for l ≠ r every site is its own run, so the two forms agree).
    */
  private def pairStats(state: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val pos = state.filter(size(col("syms")) >= 2)
      .select(col("word"), col("freq"), explode(expr(
        """transform(sequence(1, size(syms)-1), i ->
          |  struct(i AS p, element_at(syms, i) AS l, element_at(syms, i+1) AS r))"""
          .stripMargin)).as("x"))
      .select(col("word"), col("freq"), col("x.p").as("p"),
        col("x.l").as("l"), col("x.r").as("r"))
    val neq = pos.filter(col("l") =!= col("r"))
      .groupBy("l", "r").agg(sum("freq").as("cnt"))
      .withColumn("n_merges", col("cnt"))
    val eq = pos.filter(col("l") === col("r"))
      .withColumn("grp", col("p") - row_number().over(
        Window.partitionBy("word", "l").orderBy("p")))
      .groupBy("word", "freq", "l", "grp").agg(count(lit(1)).as("c"))
      .groupBy("l").agg(
        sum(expr("freq * c")).as("cnt"),
        sum(expr("freq * ((c + 1) DIV 2)")).as("n_merges"))
      .select(col("l"), col("l").as("r"), col("cnt"), col("n_merges"))
    neq.unionByName(eq)
  }

  /** The pass's batch AND the current state's totals in ONE action: the
    * top-`scanDepth` ranked pairs (bounded collect at any corpus size)
    * unioned with a tagged totals row (token count + vocab size of the
    * state the pairs were counted on — which is the PREVIOUS pass's
    * "after" totals, so the loop needs no separate totals job per pass).
    * The chain-greedy scan then selects up to `batch` pairwise
    * symbol-DISJOINT pairs driver-side. Returns the selection in rank
    * order plus (n_tokens, vocab) of the scanned state.
    */
  /** Probe seam (R17BpeOptProbe): the selection job alone. */
  private[pipeline] def probeSelect(state: org.apache.spark.sql.DataFrame,
      batch: Int, scanDepth: Int): Seq[(String, String, Long, Long)] =
    selectBatchAndTotals(state, batch, scanDepth)._1

  private def selectBatchAndTotals(state: org.apache.spark.sql.DataFrame,
      batch: Int, scanDepth: Int)
      : (Seq[(String, String, Long, Long)], Long, Long) = {
    val ranked = pairStats(state)
      .orderBy(col("cnt").desc, col("l"), col("r")).limit(scanDepth)
      .select(lit(0).as("tag"), col("l"), col("r"), col("cnt"), col("n_merges"))
    val totals = state.select(explode(col("syms")).as("s"), col("freq"))
      .agg(sum("freq").as("cnt"), countDistinct("s").as("n_merges"))
      .select(lit(1).as("tag"), lit("").as("l"), lit("").as("r"),
        col("cnt"), col("n_merges"))
    val rows = ranked.unionByName(totals).collect()
    val tot = rows.find(_.getInt(0) == 1).get
    require(!tot.isNullAt(3),
      "deep BPE: empty vocabulary — nothing to train on")
    // union order is not guaranteed: restore rank order driver-side
    val pairs = rows.filter(_.getInt(0) == 0)
      .map(r => (r.getString(1), r.getString(2), r.getLong(3), r.getLong(4)))
      .sortBy { case (l, r, c, _) => (-c, l, r) }
    val used = scala.collection.mutable.Set.empty[String]
    val sel = Seq.newBuilder[(String, String, Long, Long)]
    var n = 0
    pairs.foreach { case p @ (l, r, _, _) =>
      if (n < batch && !used(l) && !used(r)) {
        used += l; used += r; sel += p; n += 1
      }
    }
    (sel.result(), tot.getLong(3), tot.getLong(4))
  }

  /** One left-to-right greedy pass applying a whole batch of
    * symbol-disjoint merges: each position looks its (sym, next-sym) key
    * up in the batch map (try_element_at — ANSI element_at throws on a
    * missing map key) and merges on a hit. Disjointness makes this equal
    * to sequential per-pair greedy application (see the section comment).
    * `sep` joins the merged symbol's name: "" for character-level BPE
    * (classical concatenation), " " for phrase-level (so the phrase
    * "a b"+"c" reads naturally; identical surface forms intentionally
    * become one symbol, as in classical BPE).
    *
    * Two implementations, chosen by the batch's shape:
    *
    *  - NO l == r pair (the common phrase-level case): consecutive match
    *    positions are impossible (they would force a shared symbol), so
    *    the greedy skip state never chains — a position is CONSUMED iff
    *    the previous position matched, and the whole application is a
    *    per-position mask over a precomputed match array: transform +
    *    filter, O(L) per word, fully codegen, no accumulator;
    *  - any l == r pair: runs ("a a a") make the skip genuinely
    *    sequential — fall back to the left-to-right fold (O(L²) array
    *    accumulation, acceptable because char-level batches are small).
    *    BpeDeepSpec proves the two paths equal on run-free batches.
    */
  /** Symbols are interpolated into generated SQL map literals and '|'-keyed
    * lookup strings, so the alphabet is a hard contract: lowercase
    * letters, digits, and the phrase separator space ONLY. A quote would
    * make the expr unparseable; a '|' would silently corrupt lookup keys
    * (`a|b|c` is ambiguous). Every state-0 builder filters to this
    * alphabet; this require makes a missed filter loud instead of wrong.
    */
  private def requireCleanSymbols(pairs: Seq[(String, String)]): Unit =
    pairs.foreach { case (l, r) =>
      Seq(l, r).foreach(s => require(s.matches("^[a-z0-9 ]+$"),
        s"BPE symbol '$s' outside the [a-z0-9 ] contract — " +
          "filter the corpus tokens before training"))
    }

  private[pipeline] def applyBatchExpr(pairs: Seq[(String, String)],
      sep: String): org.apache.spark.sql.Column =
    expr(applyBatchSql(pairs, sep, "syms"))

  /** [[applyBatchExpr]] as SQL text over an arbitrary input reference `in`
    * (a column name or a lambda variable) — the seam that lets the deep-OOV
    * serving path compose 18 passes into ONE let-bound expression
    * (r18; see q_bpe_encode_deep_oov's comment). `in` must be a bare
    * identifier, referenced ~5× per level, so callers pass a lambda var
    * bound once per level, never a subexpression.
    */
  private[pipeline] def applyBatchSql(pairs: Seq[(String, String)],
      sep: String, in: String): String = {
    requireCleanSymbols(pairs)
    val entries = pairs
      .flatMap { case (l, r) => Seq(s"'$l|$r'", s"'$l$sep$r'") }.mkString(", ")
    val mtc = // match array: mtc[i] = merged token starting at i, or null
      s"""transform(sequence(1, size($in)), i ->
         |  IF(i < size($in),
         |     try_element_at(map($entries),
         |       concat(element_at($in, i), '|', element_at($in, i+1))),
         |     CAST(NULL AS STRING)))""".stripMargin
    // let-binding idiom: wrap the match array in a 1-element array and
    // transform over it, so `mt` is computed ONCE per row — inlining $mtc
    // at both use sites is NOT CSE'd through lambda scopes and would
    // recompute the whole array per position (measured 3× slower than the
    // fold it was meant to replace)
    if (!pairs.exists(p => p._1 == p._2))
      s"""element_at(transform(array($mtc), mt ->
         |  filter(
         |    zip_with(mt, sequence(1, size($in)), (m, i) ->
         |      IF(IF(i > 1, element_at(mt, i - 1), CAST(NULL AS STRING)) IS NOT NULL,
         |         CAST(NULL AS STRING),
         |         IF(m IS NOT NULL, m, element_at($in, i)))),
         |    x -> x IS NOT NULL)), 1)""".stripMargin
    else applyBatchFoldSql(pairs, sep, in)
  }

  /** The sequential fold path of [[applyBatchExpr]] — exposed separately
    * so BpeDeepSpec can prove the mask path equal to it on run-free
    * batches.
    */
  private[pipeline] def applyBatchFoldExpr(pairs: Seq[(String, String)],
      sep: String): org.apache.spark.sql.Column =
    expr(applyBatchFoldSql(pairs, sep, "syms"))

  private[pipeline] def applyBatchFoldSql(pairs: Seq[(String, String)],
      sep: String, in: String): String = {
    requireCleanSymbols(pairs)
    val entries = pairs
      .flatMap { case (l, r) => Seq(s"'$l|$r'", s"'$l$sep$r'") }.mkString(", ")
    s"""aggregate(
       |  sequence(1, size($in)),
       |  named_struct('out', CAST(array() AS ARRAY<STRING>), 'sk', 0),
       |  (acc, i) -> IF(acc.sk = 1,
       |    named_struct('out', acc.out, 'sk', 0),
       |    IF(i >= size($in),
       |       named_struct('out', concat(acc.out, array(element_at($in, i))), 'sk', 0),
       |       IF(try_element_at(map($entries),
       |            concat(element_at($in, i), '|', element_at($in, i+1))) IS NULL,
       |          named_struct('out', concat(acc.out, array(element_at($in, i))), 'sk', 0),
       |          named_struct('out', concat(acc.out, array(try_element_at(map($entries),
       |            concat(element_at($in, i), '|', element_at($in, i+1))))), 'sk', 1)))),
       |  acc -> acc.out)""".stripMargin
  }

  /** The deep training loop over a pre-built (word, freq, syms) symbol
    * state: `passes` batched passes of up to `batch` merges each. Per
    * pass: ONE selection job (pair stats + top-M collect + driver chain
    * scan), one map-only batch application + checkpoint, one totals job
    * — so driver round-trips scale with PASSES, not merges. Output: one
    * row per applied merge (pass, lsym, rsym, pair_cnt, n_merges) with
    * the pass's post-state totals repeated on each row.
    *
    * The state is symbol-AGNOSTIC: character symbols give classical BPE
    * (BpeDeepSpec proves B = 1 equals [[trainTrace]] exactly); word-token
    * symbols give phrase BPE — the registered gate's face, because the
    * synthetic corpus's word vocabulary is 30 words (structurally too
    * small for ≥256 character merges) while its phrase inventory is
    * unbounded.
    *
    * CONTRACT: `state0`'s `word` keys must be UNIQUE rows — pairStats'
    * l == r run window partitions by (word, l), so a duplicate key would
    * glue runs across rows and corrupt the closed-form site counts (the
    * per-pass hard check would catch it, but with a confusing message).
    * Every shipped state-0 builder satisfies it structurally:
    * [[deepPhraseState]] keys by doc_id, the char-level faces by a
    * groupBy("word") dictionary.
    *
    * `passWall`, when supplied, receives each pass's wall-clock seconds
    * (selection + application + checkpoint) — the depth probe's
    * per-pass-flatness instrumentation; gates never set it.
    */
  private[graft] def trainDeepTrace(state0: org.apache.spark.sql.DataFrame,
      passes: Int, batch: Int, stage: Boolean, sep: String,
      minMerges: Long = 0L,
      passWall: Option[scala.collection.mutable.Buffer[Double]] = None)
      : org.apache.spark.sql.DataFrame =
    deepLoop(state0, passes, batch, stage, sep, minMerges, passWall)._1

  /** The deep loop's FINAL (word, freq, syms) state — the phrase-vocabulary
    * serving artifact ([[BpeVocabStore.deepTrainedFinal]] persists it).
    * Runs the same loop as [[trainDeepTrace]] (per-pass selection is
    * driver-coordinated either way), staging the same `bpe_deep_state_*`
    * names, so whichever deep-gated query runs first materializes
    * identical states and the other reads them back.
    */
  private[graft] def trainDeepFinalState(state0: org.apache.spark.sql.DataFrame,
      passes: Int, batch: Int, stage: Boolean, sep: String,
      minMerges: Long = 0L): org.apache.spark.sql.DataFrame =
    deepLoop(state0, passes, batch, stage, sep, minMerges, None)._2

  private def deepLoop(state0: org.apache.spark.sql.DataFrame,
      passes: Int, batch: Int, stage: Boolean, sep: String,
      minMerges: Long,
      passWall: Option[scala.collection.mutable.Buffer[Double]])
      : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    require(passes > 0, s"deep BPE: passes = $passes, need >= 1 " +
      "(the trace is emitted one pass behind, so a 0-pass loop would " +
      "fail late with tokensBefore = -1)")
    val spark = state0.sparkSession
    import spark.implicits._
    def staged(name: String, df: org.apache.spark.sql.DataFrame) =
      if (stage) graft.OracleStage.stage(name, df) else df

    // (AQE stays on: turning it off for this loop was measured a loss in
    // r18 — 16.4 → 19.6 s wall, 31 → 128 CPU-s; OPTIMIZATION_r18.md.)
    var state = staged("bpe_deep_state_0",
      state0.select(col("word"), col("freq"), col("syms")))
      .stableCheckpoint()

    // 2 actions per pass (combined select+totals, checkpoint write) + one
    // final totals job: pass p's "after" totals arrive with pass p+1's
    // selection, so rows are emitted one pass behind
    val rows = Seq.newBuilder[(Long, String, String, Long, Long, Long, Long)]
    var totalRules = 0L
    var tokensBefore = -1L
    var pending: Seq[(String, String, Long, Long)] = Seq.empty
    def emit(pass: Int, tAfter: Long, vAfter: Long): Unit = {
      val applied = pending.map(_._4).sum
      // the batched-application exactness law, enforced every pass: the
      // fold must remove exactly the closed-form site total
      require(tokensBefore - tAfter == applied,
        s"deep BPE pass $pass: fold removed ${tokensBefore - tAfter} tokens, " +
          s"closed-form site total is $applied")
      pending.foreach { case (l, r, cnt, m) =>
        rows += ((pass.toLong, l, r, cnt, m, tAfter, vAfter))
      }
      tokensBefore = tAfter
    }
    for (p <- 0 until passes) {
      val tPass = System.nanoTime()
      val (sel, tokens, vocab) = selectBatchAndTotals(state, batch, DeepScan)
      if (p == 0) tokensBefore = tokens else emit(p - 1, tokens, vocab)
      require(sel.nonEmpty,
        s"deep BPE pass $p: no adjacent symbol pairs left — lower the pass count")
      totalRules += sel.size
      pending = sel
      state = staged(s"bpe_deep_state_${p + 1}",
        state.select(col("word"), col("freq"),
          applyBatchExpr(sel.map(x => (x._1, x._2)), sep).as("syms")))
        .stableCheckpoint() // read ≥ twice per pass: truncate NOW
      passWall.foreach(_ += (System.nanoTime() - tPass) / 1e9)
    }
    val post = state.select(explode(col("syms")).as("s"), col("freq"))
      .agg(sum("freq").as("t"), countDistinct("s").as("v")).collect()(0)
    emit(passes - 1, post.getLong(0), post.getLong(1))
    require(totalRules >= minMerges,
      s"deep BPE: only $totalRules merge rules learned in $passes passes " +
        s"(need ≥ $minMerges) — raise passes/batch")
    val trace = rows.result().toDF("pass", "lsym", "rsym", "pair_cnt",
        "n_merges", "n_tokens_after", "vocab_after")
      .orderBy(col("pass"), col("pair_cnt").desc, col("lsym"), col("rsym"))
    (trace, state)
  }

  /** The phrase-level state-0 builder shared by the registered gate,
    * BpeDeepProbe, SkewProbeR14, FamilyScaleProbe, and BpeDeepSpec: one
    * (word = doc key, freq = 1, syms = token sequence) row per document,
    * docs dropped WHOLE unless every token matches `tokenPattern`
    * (dropping individual tokens would glue non-adjacent words into fake
    * pairs; the pattern also enforces [[requireCleanSymbols]]' alphabet
    * at the source).
    */
  private[graft] def deepPhraseState(docs: org.apache.spark.sql.DataFrame,
      tokenPattern: String = "^[a-z]+$"): org.apache.spark.sql.DataFrame =
    docs.select(col("doc_id").cast("string").as("word"), lit(1L).as("freq"),
        tokens(col("text")).as("syms"))
      .filter(size(col("syms")) >= 2 &&
        forall(col("syms"), t => t.rlike(tokenPattern)))

  /** Per-pass DuckDB block for the deep gate: recompute pair stats, the
    * top-M ranking, the chain-greedy disjoint scan (a recursive CTE
    * stepping one rank per level, carrying the used-symbol list), and
    * each selected pair's closed-form site count from staged state p;
    * totals from state p+1.
    */
  private def deepRoundSql(p: Int, batch: Int, scanDepth: Int): String = {
    val stP = graft.OracleStage.pq(s"bpe_deep_state_$p")
    val stN = graft.OracleStage.pq(s"bpe_deep_state_${p + 1}")
    val ok = s"s.nsel < $batch AND NOT list_contains(s.used, r.l) " +
      "AND NOT list_contains(s.used, r.r)"
    s"""SELECT $p AS pass, b.l AS lsym, b.r AS rsym, b.cnt AS pair_cnt,
       |       b.n_merges, aft.n_tokens_after, aft.vocab_after
       |FROM (
       |  WITH RECURSIVE pos AS (
       |    SELECT word, freq,
       |           unnest(list_slice(syms, 1, len(syms)-1)) AS l,
       |           unnest(list_slice(syms, 2, len(syms))) AS r,
       |           unnest(generate_series(1, len(syms)-1)) AS p
       |    FROM $stP WHERE len(syms) >= 2),
       |  runs AS (
       |    SELECT word, freq, l, r, COUNT(*) AS c
       |    FROM (SELECT word, freq, l, r, p,
       |                 p - ROW_NUMBER() OVER (PARTITION BY word, l, r ORDER BY p) AS grp
       |          FROM pos)
       |    GROUP BY word, freq, l, r, grp),
       |  stats AS (
       |    SELECT l, r, CAST(SUM(freq * c) AS BIGINT) AS cnt,
       |           CAST(SUM(freq * ((c + 1) // 2)) AS BIGINT) AS n_merges
       |    FROM runs GROUP BY l, r),
       |  ranked AS (
       |    SELECT l, r, cnt, n_merges,
       |           ROW_NUMBER() OVER (ORDER BY cnt DESC, l, r) AS rk
       |    FROM stats QUALIFY rk <= $scanDepth),
       |  scan AS (
       |    SELECT CAST(0 AS BIGINT) AS rk, CAST([] AS VARCHAR[]) AS used,
       |           CAST([] AS BIGINT[]) AS selrk, 0 AS nsel
       |    UNION ALL
       |    SELECT r.rk,
       |           CASE WHEN $ok THEN s.used || [r.l, r.r] ELSE s.used END,
       |           CASE WHEN $ok THEN s.selrk || [r.rk] ELSE s.selrk END,
       |           s.nsel + CASE WHEN $ok THEN 1 ELSE 0 END
       |    FROM scan s JOIN ranked r ON r.rk = s.rk + 1)
       |  SELECT rr.l, rr.r, rr.cnt, rr.n_merges
       |  FROM ranked rr
       |  JOIN (SELECT unnest(selrk) AS rk FROM scan
       |        WHERE rk = (SELECT MAX(rk) FROM scan)) sp USING (rk)) b
       |CROSS JOIN (
       |  SELECT (SELECT CAST(SUM(freq * len(syms)) AS BIGINT) FROM $stN) AS n_tokens_after,
       |         (SELECT CAST(COUNT(DISTINCT sy) AS BIGINT)
       |          FROM (SELECT unnest(syms) AS sy FROM $stN)) AS vocab_after) aft"""
      .stripMargin
  }

  /** Persisted-vocabulary store (r13 verdict "what's wrong" #3): the
    * trained word→subwords map is a TABLE — train once, persist, encode
    * from the persisted copy. Without this, every encode run (bench reps
    * included) silently re-pays the whole training loop (~2 s of
    * q_bpe_encode's r13 median was training, not encoding), and at
    * production merge depths the encode face would be unusable.
    *
    * Keying: (training-code version, documents-parquet CONTENT digest,
    * training parameters). The digest hashes every part file's full path,
    * length, and parquet FOOTER bytes (driver-side, metadata-sized reads)
    * — a testdata regeneration invalidates the store even when byte count
    * and mtime tick are unchanged, instead of silently serving a stale
    * vocabulary. Bump [[VocabVersion]] on any training-algorithm change.
    *
    * Oracle-stage mode NEVER reuses a cross-JVM persisted copy: the gate's
    * DuckDB side reads the staged per-round states, so the staging and the
    * persisted vocab must come from the same in-JVM training run (the
    * in-JVM cache still collapses train+encode to one training pass).
    */
  private[pipeline] object BpeVocabStore {
    private val VocabVersion = 1
    private val cache = scala.collection.concurrent.TrieMap.empty[String, String]
    /** Test seam: number of training runs actually executed in this JVM. */
    @volatile private[pipeline] var trainRuns = 0

    /** SHA-256 over (full absolute path, length, parquet FOOTER bytes) of
      * every part file, sorted by path. The footer carries the row-group
      * and column metadata plus min/max stats, so ANY data change flips
      * the digest — including an in-place same-size regeneration within
      * one mtime tick (the r14 staleness window of the old (bytes, mtime)
      * scheme, now closed and spec-gated). The FULL path participates in
      * the digest, so two corpora whose sanitized suffixes collide still
      * get distinct keys; a readable truncated suffix is kept only for
      * humans browsing target/bpe_vocab.
      */
    private[pipeline] def fingerprint(dir: String,
        table: String = "documents"): String = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
        else Seq(f)
      val fs = walk(new java.io.File(s"$dir/$table.parquet")).sortBy(_.getPath)
      val md = java.security.MessageDigest.getInstance("SHA-256")
      fs.foreach { f =>
        md.update(f.getAbsolutePath.getBytes("UTF-8"))
        md.update(java.nio.ByteBuffer.allocate(8).putLong(f.length).array)
        // parquet tail layout: [footer thrift][4-byte footer len LE]["PAR1"]
        val len = f.length
        if (f.getName.endsWith(".parquet") && len >= 12) {
          val raf = new java.io.RandomAccessFile(f, "r")
          try {
            raf.seek(len - 8)
            val lb = new Array[Byte](4); raf.readFully(lb)
            val fl = java.nio.ByteBuffer.wrap(lb)
              .order(java.nio.ByteOrder.LITTLE_ENDIAN).getInt
            val take = math.min(math.max(fl.toLong, 0L), len - 8).toInt
            raf.seek(len - 8 - take)
            val fb = new Array[Byte](take); raf.readFully(fb)
            md.update(fb)
          } finally raf.close()
        }
      }
      val digest = md.digest().map("%02x".format(_)).mkString
      val suffix = new java.io.File(dir).getAbsolutePath
        .replaceAll("[^a-zA-Z0-9]+", "_").takeRight(40)
      s"${suffix}_$digest"
    }

    /** Publish a trained artifact ATOMICALLY: write to a temp dir next to
      * the target, then rename into place — a concurrent reader never sees
      * a half-written store (the r14-advice non-atomic-overwrite window).
      * If another JVM published first, its complete copy wins and ours is
      * discarded.
      */
    private[pipeline] def writeAtomic(df: org.apache.spark.sql.DataFrame,
        path: String): Unit = {
      val tmp = s"${path}_tmp_${ProcessHandle.current().pid()}_${System.nanoTime()}"
      df.write.mode("overwrite").parquet(tmp)
      def rm(f: java.io.File): Unit = {
        val kids = f.listFiles()
        if (kids != null) kids.foreach(rm)
        f.delete(): Unit
      }
      val dst = new java.io.File(path)
      if (dst.exists() && !new java.io.File(dst, "_SUCCESS").isFile)
        rm(dst) // crashed half-write from a dead JVM: clear and replace
      if (!new java.io.File(tmp).renameTo(dst)) {
        // a concurrent trainer published a COMPLETE copy first (same key
        // => same deterministic content) — keep theirs, drop ours
        require(new java.io.File(dst, "_SUCCESS").isFile,
          s"BpeVocabStore: could not publish $path and no complete copy exists")
        rm(new java.io.File(tmp))
      }
    }

    /** Generic keyed artifact: train-once-then-serve for any deterministic
      * training computation over `dir`'s documents. `keyPart` must
      * uniquely describe the computation (the corpus digest + code version
      * are prepended here). Cross-JVM reuse is disabled in oracle-stage
      * mode (class doc); the in-JVM cache still collapses repeat calls.
      */
    private[pipeline] def artifact(spark: org.apache.spark.sql.SparkSession,
        dir: String, keyPart: String, table: String = "documents")(
        train: => org.apache.spark.sql.DataFrame)
        : org.apache.spark.sql.DataFrame = {
      val key = s"v${VocabVersion}_${fingerprint(dir, table)}_$keyPart" +
        (if (graft.OracleStage.enabled) "_staged" else "")
      val path = new java.io.File(s"target/bpe_vocab/$key").getAbsolutePath
      val resolved = cache.get(key).getOrElse(synchronized {
        cache.getOrElse(key, {
          val onDisk = !graft.OracleStage.enabled &&
            new java.io.File(s"$path/_SUCCESS").isFile
          if (!onDisk) {
            trainRuns += 1
            writeAtomic(train, path)
          }
          cache.put(key, path)
          path
        })
      })
      // resolved artifact dirs are immutable after atomic publish — cache
      // the relation metadata per session (graft.RelationCache)
      graft.RelationCache.parquet(spark, resolved)
    }

    /** The final (word, freq, syms) vocabulary tokenization after `rounds`
      * merges over `dir`'s documents — persisted parquet, trained at most
      * once per (version, corpus, rounds) across JVMs (per JVM in
      * oracle-stage mode; see class doc).
      */
    def trainedFinal(spark: org.apache.spark.sql.SparkSession, dir: String,
        rounds: Int): org.apache.spark.sql.DataFrame =
      artifact(spark, dir, s"r$rounds")(
        trainedState(wordFreq(spark, dir), rounds,
          stage = graft.OracleStage.enabled))

    /** The DEEP trainer's final phrase-tokenized state (r14 verdict item
      * 2): one (word = doc key, freq, syms = phrase tokens) row per
      * document after [[DeepPasses]]×[[DeepBatch]] batched merges —
      * persisted once, served by q_bpe_encode_deep. Stages the same
      * `bpe_deep_state_*` names as q_bpe_train_deep's trace run, so in
      * oracle-stage mode whichever runs first materializes the states.
      */
    def deepTrainedFinal(spark: org.apache.spark.sql.SparkSession,
        dir: String): org.apache.spark.sql.DataFrame =
      artifact(spark, dir, s"deep_p${DeepPasses}_b$DeepBatch")(
        trainDeepFinalState(deepPhraseState(Tables.documents(spark, dir)),
          DeepPasses, DeepBatch, stage = graft.OracleStage.enabled,
          sep = " ", minMerges = DeepMinMerges))
  }

  /** The documents word-frequency dictionary the registered queries train
    * on (letters-only fixture scope — see class doc). `source` restricts
    * the dictionary to one corpus source — the OOV encode gate's
    * train-on-A face (BpeOovQueries).
    */
  private[pipeline] def wordFreq(spark: org.apache.spark.sql.SparkSession,
      d: String, source: Option[String] = None) = {
    val docs = Tables.documents(spark, d)
    source.map(s => docs.filter(col("source") === s)).getOrElse(docs)
      .select(explode(tokens(col("text"))).as("word"))
      .filter(col("word").rlike("^[a-z]+$") && length(col("word")) >= 2)
      .groupBy("word").agg(count(lit(1)).as("freq"))
  }

  /** Run the merge rounds and return only the FINAL (word, freq, syms)
    * vocabulary tokenization — the encode path's input. 2 jobs per round
    * (argmax + checkpoint write), no per-round metrics. Staging uses the
    * SAME state names as [[trainTrace]]: the computation is deterministic,
    * so whichever gated query runs first materializes identical states
    * and the other reads them back.
    */
  private[graft] def trainedState(wf: org.apache.spark.sql.DataFrame,
      rounds: Int, stage: Boolean): org.apache.spark.sql.DataFrame = {
    def staged(name: String, df: org.apache.spark.sql.DataFrame) =
      if (stage) graft.OracleStage.stage(name, df) else df
    var state = staged("bpe_state_0",
      wf.select(col("word"), col("freq"),
        expr("filter(split(word, ''), c -> c <> '')").as("syms")))
      .stableCheckpoint()
    for (r <- 0 until rounds) {
      val (l, rr, _) = bestPair(state, r)
      state = staged(s"bpe_state_${r + 1}",
        state.select(col("word"), col("freq"), applyMergeExpr(l, rr).as("syms")))
        .stableCheckpoint()
    }
    state
  }

  val defs: Seq[QueryDef] = Seq(

    // ----- BPE merge training over the documents vocabulary, 8 rounds -----
    QueryDef(
      "q_bpe_train",
      (0 until Rounds).map(roundSql).mkString(
        "SELECT * FROM (\n", "\nUNION ALL\n", "\n) ORDER BY round")) { (spark, d) =>
      // the one corpus-wide pass: word-frequency dictionary
      trainTrace(wordFreq(spark, d), Rounds, stage = true)
    },

    // ----- deep batched BPE training: ≥256 merge rules in 18 passes -----
    // Phrase-level face: symbols are word tokens, merges learn phrases
    // (the n-gram-vocabulary construction of a training pipeline). Docs
    // whose tokens are not all letters-only are dropped WHOLE (dropping
    // individual tokens would glue non-adjacent words into fake pairs);
    // the fixture corpus is entirely letters-only, so nothing drops.
    QueryDef(
      "q_bpe_train_deep",
      (0 until DeepPasses).map(p => deepRoundSql(p, DeepBatch, DeepScan)).mkString(
        "SELECT * FROM (\n", "\nUNION ALL\n",
        "\n) ORDER BY pass, pair_cnt DESC, lsym, rsym")) { (spark, d) =>
      trainDeepTrace(deepPhraseState(Tables.documents(spark, d)),
        DeepPasses, DeepBatch, stage = true, sep = " ",
        minMerges = DeepMinMerges)
    },

    // ----- BPE encode: corpus tokenization via the broadcast vocabulary -----
    // The PRODUCTION tokenization shape at 100 TB: the trained
    // word→subwords map is language-bounded (vocab rows), so the corpus
    // side is ONE broadcast join — every document word looks up its
    // precomputed subword sequence; no per-document merge loop ever runs
    // over corpus bytes. Gated output: per-source token accounting
    // (words, subword tokens, ×10³ fixed-point tokens/word — the
    // compression the tokenizer buys) plus the corpus-weighted top-5
    // multi-character subwords. The oracle reads the SAME staged final
    // state q_bpe_train's gate already proves round-by-round, re-joins the
    // DuckDB-tokenized corpus against it, and re-aggregates — so this gate
    // covers the encode join + accounting arithmetic end to end.
    QueryDef(
      "q_bpe_encode",
      s"""WITH st AS (SELECT word, syms FROM ${graft.OracleStage.pq(s"bpe_state_$Rounds")}),
         |w AS (SELECT source, unnest($toksSql) AS word FROM documents),
         |j AS (SELECT source, w.word, len(syms) AS n_sub, syms
         |      FROM w JOIN st ON st.word = w.word),
         |per_source AS (
         |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_words,
         |         CAST(SUM(n_sub) AS BIGINT) AS n_tokens,
         |         (CAST(SUM(n_sub) AS BIGINT) * 1000) // COUNT(*) AS tokens_per_word_x1k
         |  FROM j GROUP BY 1),
         |top_tok AS (
         |  SELECT s AS token, CAST(COUNT(*) AS BIGINT) AS cnt
         |  FROM (SELECT unnest(syms) AS s FROM j)
         |  WHERE len(s) >= 2 GROUP BY 1
         |  ORDER BY cnt DESC, token LIMIT 5)
         |SELECT source AS grp, n_words, n_tokens, tokens_per_word_x1k
         |FROM per_source
         |UNION ALL
         |SELECT 'top:' || token AS grp, CAST(0 AS BIGINT), cnt, CAST(0 AS BIGINT)
         |FROM top_tok
         |ORDER BY grp""".stripMargin) { (spark, d) =>
      // the PERSISTED vocabulary table — no live retraining on the encode
      // path (bench mode included); see BpeVocabStore
      val st = BpeVocabStore.trainedFinal(spark, d, Rounds)
        .select(col("word"), col("syms"), size(col("syms")).cast("long").as("n_sub"))
      val w = Tables.documents(spark, d)
        .select(col("source"), explode(tokens(col("text"))).as("word"))
      // broadcast the vocabulary: the corpus side never shuffles
      val j = w.join(broadcast(st), "word")
      val perSource = j.groupBy("source")
        .agg(count(lit(1)).as("n_words"), sum("n_sub").as("n_tokens"))
        .select(col("source").as("grp"), col("n_words"),
          col("n_tokens"),
          expr("n_tokens * 1000 DIV n_words").as("tokens_per_word_x1k"))
      val topTok = j.select(explode(col("syms")).as("s"))
        .filter(length(col("s")) >= 2)
        .groupBy("s").agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("s")).limit(5)
        .select(concat(lit("top:"), col("s")).as("grp"), lit(0L).as("n_words"),
          col("cnt").as("n_tokens"), lit(0L).as("tokens_per_word_x1k"))
      perSource.unionByName(topTok).orderBy("grp")
    },

    // ----- encode from the DEEP (phrase) vocabulary (r14 verdict item 2) -----
    // Composes r14's two halves: the deep trainer's final phrase-tokenized
    // state is PERSISTED once (BpeVocabStore.deepTrainedFinal) and the
    // serving path reads it back — per-source phrase accounting plus the
    // corpus-weighted top-5 learned phrases, with no live retraining on
    // the encode path (bench reps included). The oracle reads the SAME
    // staged final state q_bpe_train_deep's gate already proves
    // pass-by-pass, re-joins it to the documents table for source
    // attribution, and re-aggregates — covering the join + accounting
    // arithmetic end to end. Scale shape: the state is one row per doc
    // (linear), the join is doc-keyed (shuffle-on-key, no broadcast of a
    // corpus-sized side), top-5 is TakeOrderedAndProject.
    QueryDef(
      "q_bpe_encode_deep",
      s"""WITH st AS (SELECT word, syms FROM ${graft.OracleStage.pq(s"bpe_deep_state_$DeepPasses")}),
         |d AS (SELECT CAST(doc_id AS VARCHAR) AS word, source FROM documents),
         |j AS (SELECT source, syms FROM st JOIN d USING (word)),
         |per_source AS (
         |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |         CAST(SUM(len(syms)) AS BIGINT) AS n_tokens,
         |         CAST(SUM(len(list_filter(syms, s -> contains(s, ' ')))) AS BIGINT) AS n_phrases
         |  FROM j GROUP BY 1),
         |top_tok AS (
         |  SELECT s AS phrase, CAST(COUNT(*) AS BIGINT) AS cnt
         |  FROM (SELECT unnest(syms) AS s FROM j)
         |  WHERE contains(s, ' ') GROUP BY 1
         |  ORDER BY cnt DESC, phrase LIMIT 5)
         |SELECT source AS grp, n_docs, n_tokens, n_phrases,
         |       (n_tokens * 1000) // n_docs AS tokens_per_doc_x1k
         |FROM per_source
         |UNION ALL
         |SELECT 'top:' || phrase AS grp, CAST(0 AS BIGINT), cnt,
         |       CAST(0 AS BIGINT), CAST(0 AS BIGINT)
         |FROM top_tok
         |ORDER BY grp""".stripMargin) { (spark, d) =>
      val st = BpeVocabStore.deepTrainedFinal(spark, d)
      val docs = Tables.documents(spark, d)
        .select(col("doc_id").cast("string").as("word"), col("source"))
      val j = st.join(docs, "word")
      val perSource = j.groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(size(col("syms"))).cast("long").as("n_tokens"),
          sum(size(filter(col("syms"), s => s.contains(" "))))
            .cast("long").as("n_phrases"))
        .select(col("source").as("grp"), col("n_docs"), col("n_tokens"),
          col("n_phrases"),
          expr("n_tokens * 1000 DIV n_docs").as("tokens_per_doc_x1k"))
      val topPhrase = j.select(explode(col("syms")).as("s"))
        .filter(col("s").contains(" "))
        .groupBy("s").agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("s")).limit(5)
        .select(concat(lit("top:"), col("s")).as("grp"), lit(0L).as("n_docs"),
          col("cnt").as("n_tokens"), lit(0L).as("n_phrases"),
          lit(0L).as("tokens_per_doc_x1k"))
      perSource.unionByName(topPhrase).orderBy("grp")
    },

    // ----- deep OOV: phrase-encode UNSEEN documents by pass-batch replay --
    // The composition BpeOovQueries' scaladoc promises for deep rule
    // counts: instead of one [[applyMergeExpr]] fold per RULE (the
    // char-level OOV face), serving replays one [[applyBatchExpr]] per
    // PASS — the deep trainer's own exactness law (symbol-disjoint
    // batches equal rule-serial application) makes the pass-batched
    // replay the same function at 1/batch the projection depth.
    //
    // Train/serve split: the phrase vocabulary is trained ONLY on the
    // single-digit sources (src0–src9, 250 docs) and persisted; the gate
    // encodes the double-digit sources (src10–src19) the trainer NEVER
    // saw. The output is the generalization ledger: per unseen source,
    // raw vs encoded token counts (compress_x1k — how much the learned
    // phrases compress text they were not trained on) and the
    // corpus-weighted top-5 firing phrases.
    //
    // Exactness: the DuckDB oracle replays every pass independently from
    // the STAGED rule table — per pass: join each adjacent pair against
    // the pass's rules (disjoint symbols ⇒ at most one rule matches a
    // position, and consecutive matches are only possible within one
    // l = r run), group consecutive matches into runs, keep odd run
    // ranks (the greedy ⌈run/2⌉ parity), emit merged symbols, drop
    // consumed positions — so a wrong batch map, wrong pass order, or a
    // broken fold breaks the hash.
    //
    // Scale shape (100 TB): rules collect driver-side once (R rows,
    // tokenizer-spec-bounded); the replay is `passes` chained MAP-ONLY
    // projections over the unseen docs — no shuffle until the final
    // per-source aggregate; training amortizes through the vocab store.
    QueryDef(
      "q_bpe_encode_deep_oov",
      s"""WITH rules AS (SELECT pass, lsym, rsym FROM ${graft.OracleStage.pq("bpe_deep_oov_rules")}),
         |dd AS (SELECT CAST(doc_id AS VARCHAR) AS word, source,
         |              ${graft.functions.TextFunctions.toksSql} AS toks
         |       FROM documents WHERE len(source) = 5),
         |w AS (SELECT word, source, toks FROM dd
         |      WHERE len(toks) >= 2
         |        AND len(list_filter(toks, t -> NOT regexp_matches(t, '^[a-z]+$$'))) = 0),
         |s0 AS (SELECT word, toks AS syms FROM w),
         |${(0 until DeepPasses).map(deepOovStepSql).mkString(",\n")},
         |j AS (SELECT w.source, w.word, len(w.toks) AS n_raw, sN.syms
         |      FROM s$DeepPasses sN JOIN w USING (word)),
         |per_source AS (
         |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |         CAST(SUM(n_raw) AS BIGINT) AS n_raw,
         |         CAST(SUM(len(syms)) AS BIGINT) AS n_tokens,
         |         CAST(SUM(len(list_filter(syms, s -> contains(s, ' ')))) AS BIGINT) AS n_phrases
         |  FROM j GROUP BY 1),
         |top_tok AS (
         |  SELECT s AS phrase, CAST(COUNT(*) AS BIGINT) AS cnt
         |  FROM (SELECT unnest(syms) AS s FROM j)
         |  WHERE contains(s, ' ') GROUP BY 1
         |  ORDER BY cnt DESC, phrase LIMIT 5)
         |SELECT source AS grp, n_docs, n_raw, n_tokens, n_phrases,
         |       (n_tokens * 1000) // n_raw AS compress_x1k
         |FROM per_source
         |UNION ALL
         |SELECT 'top:' || phrase AS grp, CAST(0 AS BIGINT), CAST(0 AS BIGINT),
         |       cnt, CAST(0 AS BIGINT), CAST(0 AS BIGINT)
         |FROM top_tok
         |ORDER BY grp""".stripMargin) { (spark, d) =>
      val docs = Tables.documents(spark, d)
      val rulesDf = graft.OracleStage.stage("bpe_deep_oov_rules",
        BpeVocabStore.artifact(spark, d, s"deepoov_p${DeepPasses}_b$DeepBatch")(
          trainDeepTrace(
            deepPhraseState(docs.filter(length(col("source")) === 4)),
            DeepPasses, DeepBatch, stage = false, sep = " ")
            .select(col("pass"), col("lsym"), col("rsym"))))
      // bounded driver collect: R rows, R = learned rule count
      val batches = rulesDf.collect()
        .map(r => (r.getLong(0), (r.getString(1), r.getString(2))))
        .groupBy(_._1).toSeq.sortBy(_._1)
        .map(_._2.map(_._2).toSeq)
      val unseen = docs.filter(length(col("source")) === 5)
      val st0 = deepPhraseState(unseen)
        .withColumn("n_raw", size(col("syms")).cast("long"))
      // r18 (guide §7.3 — driver-side work IS the bottleneck here): the
      // r15-r17 shape was 18 chained `.select`s, one per pass, checkpointed
      // every 6 — each select re-analyzes the whole accumulated plan, so
      // the chain paid O(k²) analyzer visits of these large array exprs:
      // the r18 tail probe measured 5.66 s of BUILD (driver analysis) vs
      // 0.18 s of execution for the whole query. All 18 passes now compose
      // into ONE let-bound expression — each level wraps the previous in
      // `element_at(transform(array(<inner>), v -> applyBatch over v), 1)`,
      // so the inner level is referenced ONCE (tree linear in k, immune to
      // the optimizer-inlining blowup that OOM'd the un-truncated alias
      // chain) and the analyzer sees the chain once, in one select. One
      // eager checkpoint materializes the encoded corpus for the two
      // consumers below, exactly as before. Execution semantics unchanged:
      // the same 18 applyBatchExpr laws evaluate per row in pass order.
      val composed = batches.zipWithIndex.foldLeft("syms") {
        case (inner, (b, i)) =>
          s"element_at(transform(array($inner), _s$i -> ${applyBatchSql(b, " ", s"_s$i")}), 1)"
      }
      // the unseen corpus is one parquet split: fan out before the 18-level
      // interpreted eval or it runs on a single core. Width 8 by
      // measurement (build 2.0 s at 4-wide, 1.38 at 8, 1.44 at 16): this
      // is pure interpreted-HOF CPU, the regime where the shingle A/B also
      // picked 8 (Fanout doc).
      val encoded = Fanout(st0, "SPARK_GRAFT_OOV_FANOUT", default = 8)
        .select(col("word"), col("freq"), col("n_raw"),
          expr(composed).as("syms")).stableCheckpoint()
      val j = encoded.join(
        unseen.select(col("doc_id").cast("string").as("word"), col("source")),
        "word")
      val perSource = j.groupBy("source").agg(
          count(lit(1)).as("n_docs"),
          sum("n_raw").as("n_raw"),
          sum(size(col("syms"))).cast("long").as("n_tokens"),
          sum(size(filter(col("syms"), s => s.contains(" "))))
            .cast("long").as("n_phrases"))
        .select(col("source").as("grp"), col("n_docs"), col("n_raw"),
          col("n_tokens"), col("n_phrases"),
          expr("n_tokens * 1000 DIV n_raw").as("compress_x1k"))
      val top = j.select(explode(col("syms")).as("s"))
        .filter(col("s").contains(" "))
        .groupBy("s").agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("s")).limit(5)
        .select(concat(lit("top:"), col("s")).as("grp"), lit(0L).as("n_docs"),
          lit(0L).as("n_raw"), col("cnt").as("n_tokens"),
          lit(0L).as("n_phrases"), lit(0L).as("compress_x1k"))
      perSource.unionByName(top).orderBy("grp")
    })

  /** One deep-OOV pass, DuckDB side — [[applyBatchExpr]]'s law over the
    * staged rules of pass `k`: each adjacent (sym, next) pair joins the
    * pass's rule batch (symbol-DISJOINT, so at most one rule matches a
    * position and consecutive matches only arise within an l = r run),
    * consecutive matches group into runs, the odd run ranks merge (greedy
    * ⌈run/2⌉ parity), consumed positions drop, the sequence reassembles
    * in position order. Mirrors BpeOovQueries.oovStepSql generalized from
    * one scalar rule to a per-pass rule TABLE with ' '-joined outputs.
    */
  private def deepOovStepSql(k: Int): String =
    s"""rl$k AS (SELECT lsym AS l, rsym AS r, lsym || ' ' || rsym AS m
       |         FROM rules WHERE pass = $k),
       |e$k AS (SELECT word, unnest(syms) AS sym,
       |               unnest(generate_series(1, len(syms))) AS pos FROM s$k),
       |x$k AS (SELECT e.word, e.pos, e.sym, rl.m AS mg
       |        FROM (SELECT word, pos, sym,
       |                     LEAD(sym) OVER (PARTITION BY word ORDER BY pos) AS nxt
       |              FROM e$k) e
       |        LEFT JOIN rl$k rl ON e.sym = rl.l AND e.nxt = rl.r),
       |g$k AS (SELECT *, (mg IS NOT NULL) AS mtch,
       |               pos - ROW_NUMBER() OVER (PARTITION BY word, (mg IS NOT NULL)
       |                                        ORDER BY pos) AS grp
       |        FROM x$k),
       |k$k AS (SELECT *, mtch AND (ROW_NUMBER() OVER (PARTITION BY word, mtch, grp
       |                                               ORDER BY pos) % 2 = 1) AS kept
       |        FROM g$k),
       |s${k + 1} AS (
       |  SELECT word, list(CASE WHEN kept THEN mg ELSE sym END ORDER BY pos) AS syms
       |  FROM (SELECT *, COALESCE(LAG(kept) OVER (PARTITION BY word ORDER BY pos), FALSE) AS pk
       |        FROM k$k)
       |  WHERE kept OR NOT pk
       |  GROUP BY word)""".stripMargin
}
