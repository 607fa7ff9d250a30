package graft

/** Drives the deep BPE trainer an order of magnitude past the gated
  * regime (r14 verdict item 4): the registered gate proves 18×32 ≈ 274
  * rules; production tokenizers need 30k+. This probe trains ≥ 4,096
  * rules on a SYNTHETIC wide-vocabulary corpus (the sf corpora have only
  * 30 distinct words — structurally too narrow for deep phrase
  * vocabularies) and records the depth law's two invariants:
  *
  *  - wall-per-pass FLATNESS: each pass costs one bounded selection job,
  *    one map-only batch application, one checkpoint — so per-pass wall
  *    must sit in a narrow band regardless of how many rules have
  *    already been learned (the old round-serial trainer's cost grew
  *    with cumulative merge count via driver round-trips);
  *  - rules-per-pass: the chain-greedy disjoint scan keeps finding
  *    near-full batches pass after pass when the vocabulary is wide.
  *
  * The trainer's own per-pass hard check (fold removed exactly the
  * closed-form site total) and the minMerges floor run INSIDE
  * trainDeepTrace — the probe completing at all certifies both; the
  * artifact records them for the spec gate. Corpus: `docs` documents ×
  * `tokens_per_doc` tokens drawn deterministically (xxhash64) from a
  * `vocab`-word inventory of 3-letter words, so the run is reproducible
  * bit-for-bit. Results → bench/bpe_depth_probe.json (gated by
  * BpeDepthProbeArtifactSpec).
  */
object BpeDepthProbe {
  def main(args: Array[String]): Unit = {
    val nDocs = GraftSession.longEnv("SPARK_GRAFT_DEPTH_DOCS", 20000)
    val tokensPerDoc = 64
    // wide enough that disjoint batches never starve, dense enough
    // (E[adjacency count per pair] = tokens/vocab² ≈ 1.2) that the
    // top-512 ranking stays count-driven instead of collapsing into
    // lexical cnt=1 ties that share left symbols
    val vocab = GraftSession.intEnv("SPARK_GRAFT_DEPTH_VOCAB", 1024)
    // ~150-170 disjoint rules survive each top-512 scan (symbol collisions
    // take the rest), so 32 passes clears the 4096-rule floor with margin
    val passes = GraftSession.intEnv("SPARK_GRAFT_DEPTH_PASSES", 32)
    val batch = 256 // ≤ DeepScan/2 so a full batch is always reachable
    val minRules = 4096L
    val spark = GraftSession()

    // deterministic wide-vocabulary corpus: token j of doc i is word
    // pmod(xxhash64(i, j), vocab), rendered as a 3-letter base-26 word
    // (26³ ≥ vocab) — matches deepPhraseState's ^[a-z]+$ contract
    def docs = spark.range(nDocs).selectExpr(
      "CAST(id AS STRING) AS doc_id",
      s"""array_join(transform(sequence(0, ${tokensPerDoc - 1}), j ->
         |  concat(char(97 + (pmod(xxhash64(id, j), $vocab) DIV 676) % 26),
         |         char(97 + (pmod(xxhash64(id, j), $vocab) DIV 26) % 26),
         |         char(97 + pmod(xxhash64(id, j), $vocab) % 26))), ' ')
         |AS text""".stripMargin)
    def state0 = pipeline.BpeQueries.deepPhraseState(docs)

    // untimed warmup: the trainer's expr-heavy codegen JITs per pass, so
    // warm the shared machinery (pair stats, selection, checkpoint path)
    // before the measured run (same discipline as BpeDeepProbe)
    pipeline.BpeQueries.trainDeepTrace(
      state0, passes = 2, batch = batch, stage = false, sep = " ").collect()

    val walls = scala.collection.mutable.Buffer.empty[Double]
    val t0 = System.nanoTime()
    val trace = pipeline.BpeQueries.trainDeepTrace(
      state0, passes, batch, stage = false, sep = " ",
      minMerges = minRules, passWall = Some(walls)).collect()
    val secs = (System.nanoTime() - t0) / 1e9
    val rules = trace.length
    val perPass = trace.groupBy(_.getLong(0)).toSeq.sortBy(_._1)
      .map(_._2.length)
    def d2(x: Double) = BigDecimal(x).setScale(2, BigDecimal.RoundingMode.HALF_UP)
    val sortedW = walls.sorted
    val medianW =
      if (sortedW.size % 2 == 1) sortedW(sortedW.size / 2)
      else (sortedW(sortedW.size / 2 - 1) + sortedW(sortedW.size / 2)) / 2
    println(f"bpe depth probe: $rules rules in $passes passes, $secs%.1f s " +
      f"(median pass ${medianW}%.2f s, max ${sortedW.last}%.2f s)")
    val json =
      s"""{"metric":"bpe_depth_probe","docs":$nDocs,"tokens_per_doc":$tokensPerDoc,""" +
        s""""vocab":$vocab,"passes":$passes,"batch":$batch,"secs":${d2(secs)},""" +
        s""""rules":$rules,"min_rules":$minRules,"hard_check":"passed",""" +
        s""""wall_per_pass":[${walls.map(d2).mkString(",")}],""" +
        s""""rules_per_pass":[${perPass.mkString(",")}]}"""
    println(json)
    val out = new java.io.PrintWriter("bench/bpe_depth_probe.json")
    try out.println(json) finally out.close()
    spark.stop()
  }
}
