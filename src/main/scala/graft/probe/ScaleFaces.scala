package graft
package probe

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AQEShuffleReadExec, AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.functions._

import graft.Probe.{Face, Testdata, obj, replicate, shiftOf, shifted}

/** Scale-law faces: shuffle sizing, a multi-executor run, the k ∝ n
  * contract, and the deep BPE trainer's passes-not-merges and depth laws.
  */
object ScaleFaces {

  /** AQE shuffle sizing on real pipeline shapes, so the 100 TB story ("set
    * partitions high for the big stages, let AQE coalesce the small ones")
    * rests on observed plans rather than the Spark manual.
    *
    *  1. COALESCE: the DSIR feature collapse (tokenize → bigram lead →
    *     per-doc aggregate) over the ×10 corpus, planned with a
    *     cluster-sized `spark.sql.shuffle.partitions = 512`. AQE must
    *     coalesce every post-shuffle read far below 512 (the stage's data
    *     fits a handful of advisory-sized partitions), and the RESULT must
    *     be bit-identical to the same plan at partitions = 32 — the
    *     partition-count invariance every operator in this repo claims.
    *  2. SKEW SPLIT: a 90%-hot-key join (the shape salting guards against
    *     when AQE is off). With `spark.sql.adaptive.skewJoin` on, the plan
    *     must mark the join skew=true (OptimizeSkewedJoin split the hot
    *     partition) and agree with the 32-partition run's aggregate.
    *
    * The genuine multi-executor datapoint is the `cluster` face; this one
    * pins what local mode CAN pin: AQE's partition arithmetic and result
    * invariance on this engine's own plan shapes.
    */
  val aqe: Face = Face("aqe", "aqe_probe_r16", "aqe_probe_r16.json", Some("target/sf1")) { run =>
    def session(parts: Int): SparkSession = run.session(
      "spark.sql.shuffle.partitions" -> parts.toString,
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      // the skew axis models corpus-sized-both-sides (at 100 TB neither
      // join side broadcasts), and the skew/advisory thresholds scale to
      // the face's MB-sized data so the SAME code path fires that
      // default thresholds fire at production sizes
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "2m",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "1m")
    def rows(df: DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).sorted

    // ---- pass 1: cluster-sized partitions, AQE on ----
    val s512 = session(512)
    featureCollapse(s512, run.src).collect() // warm (JIT + page cache)
    val (wideSecs, (wide, wideRows)) = run.clock {
      val w = featureCollapse(s512, run.src)
      (w, rows(w))
    }
    val reads = aqeReadSizes(finalPlan(wide))
    val sk = skewJoin(s512)
    val skRow = sk.collect()(0)
    val skewMarked = finalPlan(sk).toString.contains("skew=true")

    // ---- pass 2: the repo's local default, results must be identical ----
    val s32 = session(32)
    val (narrowSecs, narrowRows) = run.clock(rows(featureCollapse(s32, run.src)))
    val skRow32 = skewJoin(s32).collect()(0)

    Seq("src" -> run.src, "docs" -> wideRows.length, "initial_partitions" -> 512,
      "aqe_reads" -> reads, "wall_512" -> wideSecs, "wall_32" -> narrowSecs,
      "results_identical" -> wideRows.sameElements(narrowRows),
      "skew_join_marked" -> skewMarked,
      "skew_results_identical" -> (skRow.getLong(0) == skRow32.getLong(0) &&
        skRow.getLong(1) == skRow32.getLong(1)))
  }

  /** The FINAL adaptive plan (AQEShuffleRead nodes live inside the
    * AdaptiveSparkPlanExec wrapper, invisible to a tree-collect on it).
    */
  private def finalPlan(df: DataFrame): SparkPlan = df.queryExecution.executedPlan match {
    case a: AdaptiveSparkPlanExec => a.executedPlan
    case p => p
  }

  /** Post-shuffle read partition counts, unwrapping query-stage
    * boundaries (QueryStageExec keeps its subtree in a `plan` field, so a
    * plain tree-collect stops at every stage).
    */
  private def aqeReadSizes(p: SparkPlan): Seq[Int] = {
    val here = p match {
      case r: AQEShuffleReadExec => Seq(r.partitionSpecs.size)
      case _ => Nil
    }
    val kids = p match {
      case q: QueryStageExec => Seq(q.plan)
      case other => other.children
    }
    here ++ kids.flatMap(aqeReadSizes)
  }

  /** The DSIR feature collapse over `src` — one tokenize pass, window
    * lead, per-doc aggregate (the q_dsir_weights corpus shape).
    */
  private def featureCollapse(spark: SparkSession, src: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("doc_id").orderBy("pos")
    spark.read.parquet(s"$src/documents.parquet")
      .select(col("doc_id"),
        posexplode(split(lower(trim(col("text"))), "\\s+")).as(Seq("pos", "tok")))
      .withColumn("nxt", lead("tok", 1).over(w))
      .select(col("doc_id"), expr(
        """stack(2, tok, 1L,
          |  CASE WHEN nxt IS NOT NULL THEN concat_ws(' ', tok, nxt) END, 0L
          |) AS (gram, isu)""".stripMargin))
      .filter(col("gram").isNotNull)
      .withColumn("bucket", pmod(xxhash64(col("gram")), lit(4096)))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_feats"), sum("isu").as("n_tok"),
        sum("bucket").as("bucket_sum"))
  }

  /** 90%-hot-key join + aggregate. */
  private def skewJoin(spark: SparkSession): DataFrame = {
    val left = spark.range(2000000L)
      .select(col("id"),
        when(pmod(col("id"), lit(10)) < 9, lit(0L))
          .otherwise(pmod(col("id"), lit(1000))).as("k"))
    val right = spark.range(1000L)
      .select(col("id").as("k"), (col("id") * 7L).as("payload"))
    left.join(right, "k")
      .groupBy()
      .agg(count(lit(1)).as("n"), sum(col("id") + col("payload")).as("chk"))
  }

  /** A real multi-executor datapoint: every other face runs on local[n],
    * where "shuffle" is an in-process memcpy — this one runs the ×20
    * embedding-LSH dedup corpus on a Spark STANDALONE cluster of two 8-core
    * worker JVMs (distinct executor processes, real serialized shuffle
    * blocks over the loopback network, real executor-side broadcast
    * decode) and proves the answer is bit-identical to the local run of
    * the same code.
    *
    * What this measures that local[n] cannot: cross-JVM shuffle
    * write/fetch (serialization + netty transfer, not pointer passing),
    * per-executor broadcast materialization, task scheduling over
    * heterogeneous executor processes, and executor-local checkpoint blocks.
    * What it still cannot measure: real network latency/bandwidth between
    * machines — the cluster is one box.
    *
    * Workloads: the RP-LSH embedding near-dup face over a ×20 replica pool
    * (40k vectors — banded candidates, skew-guarded bucket pairs, exact
    * re-score) and the corpus cleaner at sf0.1 (tokenize → window → shingle
    * postings self-join → anti-joins: the suite's most shuffle-diverse
    * plan). Each runs cluster-first then local[16] in the same JVM (context
    * restarted), checksums compared exactly.
    *
    * Cluster setup (one box): `deploy.master.Master --host 127.0.0.1 --port
    * 7077` + two `deploy.worker.Worker --cores 8 --memory 16g
    * spark://127.0.0.1:7077`, all on the Spark distribution classpath; the
    * face ships the repo classes to executors via spark.jars
    * (`SPARK_GRAFT_JAR`).
    */
  val cluster: Face = Face("cluster", "cluster_probe", "cluster_probe_x20.json",
      Some(s"$Testdata/sf0.1"), Some(20)) { run =>
    val masterUrl = sys.env.getOrElse("SPARK_GRAFT_CLUSTER_MASTER", "spark://127.0.0.1:7077")
    lazy val jar = sys.env.getOrElse("SPARK_GRAFT_JAR",
      sys.error("SPARK_GRAFT_JAR must point at the packaged graft jar"))

    def embPool(spark: SparkSession, k: Int): DataFrame = {
      val emb = spark.read.parquet(s"${run.src}/embeddings.parquet")
        .select("vec_id", "embedding")
      val shift = shiftOf(emb, "vec_id")
      replicate(k)(r => emb.select(shifted("vec_id", shift, r), col("embedding")))
    }

    // checksums are order-independent integer sums — identical plans on
    // identical data must produce identical values on any topology
    val cells = Seq[(String, SparkSession => Long)](
      "emb_lsh_x20" -> (spark => pipeline.SimilarityQueries.embeddingNearDupPairsLsh(
          embPool(spark, run.replicas), minCos = 0.42, stage = None)
        .agg(sum(col("vec_a") + col("vec_b") +
          round(col("cosine") * 1000000000L, 0).cast("long")))
        .collect()(0).getLong(0)),
      "corpus_clean" -> (spark => pipeline.CorpusPipeline.clean(
          spark.read.parquet(s"${run.src}/documents.parquet"))
        .agg(sum(col("doc_id") + col("n_tokens"))).collect()(0).getLong(0)))

    def runAll(master: String): (Int, Map[String, (Double, Long)]) = {
      val spark = run.session(Seq("spark.master" -> master,
        "spark.sql.shuffle.partitions" -> "32") ++ (
        if (master.startsWith("spark://"))
          Seq("spark.jars" -> jar, "spark.executor.cores" -> "8",
            "spark.executor.memory" -> "12g", "spark.cores.max" -> "16")
        else Nil): _*)
      // executor registration is async: wait for both worker JVMs before
      // timing (getExecutorInfos includes the driver, hence the +1)
      if (master.startsWith("spark://")) {
        val deadline = System.nanoTime() + 60L * 1000000000L
        while (spark.sparkContext.statusTracker.getExecutorInfos.length < 3 &&
          System.nanoTime() < deadline) Thread.sleep(500)
      }
      val out = cells.map { case (name, f) =>
        f(spark) // warm rep
        name -> run.clock(f(spark))
      }.toMap
      // capture AFTER the work: registration has settled by now
      (spark.sparkContext.statusTracker.getExecutorInfos.length - 1, out)
    }

    val (clusterExecs, onCluster) = runAll(masterUrl)
    val (_, onLocal) = runAll("local[16]")

    Seq("master" -> masterUrl, "replicas" -> run.replicas,
        "cluster_executors" -> clusterExecs) ++ cells.map { case (name, _) =>
      val (cs, cn) = onCluster(name)
      val (ls, ln) = onLocal(name)
      println(f"cluster $name: cluster $cs%.2f s ($cn) vs local $ls%.2f s ($ln) match=${cn == ln}")
      name -> obj("cluster_sec" -> cs, "local_sec" -> ls,
        "checksum_cluster" -> cn, "checksum_local" -> ln, "match" -> (cn == ln))
    }
  }

  /** The k ∝ n contract of the cluster-blocked pair families (SemDeDup /
    * hard-negative mining): their candidate volume is Σ|c|², so a cluster
    * count PINNED while the corpus grows turns a linear axis quadratic —
    * the sf1 suite run showed q_hard_negatives at 18.8× for 10× data with
    * the gate's k=8. This face runs the SAME mining body
    * ([[pipeline.SimilarityQueries.hardNegatives]]) on the ×10 corpus at
    * k=8 (the gate's oracle-replayable pin) and k=64 (k scaled with the
    * corpus) and records wall seconds plus the Σ|c|² budget per k — the
    * measured form of BASELINE.md's "the knob is k, not the operator"
    * attribution.
    */
  val clusterK: Face = Face("cluster_k", "cluster_k_probe", "cluster_k_probe_x10.json",
      Some("target/sf1")) { run =>
    val e = run.spark.read.parquet(s"${run.src}/embeddings.parquet")
    val n = e.count()

    val cells = Seq(8, 64).map { k =>
      val (nc, maxC, sumSq) = pipeline.SimilarityQueries.clusterPairBudget(e, k)
      val (secs, rows) = run.time(pipeline.SimilarityQueries.hardNegatives(e, k).count())
      println(f"cluster_k k=$k: $secs%.1f s, $rows rows, max|c|=$maxC, sum|c|^2=$sumSq")
      s"k$k" -> obj("secs" -> secs, "rows" -> rows, "clusters" -> nc,
        "max_cluster" -> maxC, "pair_budget" -> sumSq)
    }
    // the IVF multi-probe face under the SAME k ∝ n scaling: nprobe=2
    // doubles the anchor-side lists, so candidates stay ≤ 2× the pinned
    // budget while the boundary pairs the finer clustering would hide are
    // recovered — k∝n and multi-probe COMPOSE (the production setting)
    val ivfCells = Seq(8, 64).map { k =>
      val (secs, rows) =
        run.time(pipeline.SimilarityQueries.hardNegativesIvf(e, k, nprobe = 2).count())
      println(f"cluster_k ivf k=$k nprobe=2: $secs%.1f s, $rows rows")
      s"ivf_k$k" -> obj("secs" -> secs, "rows" -> rows)
    }
    Seq("src" -> run.src, "n_vectors" -> n) ++ cells ++ ivfCells
  }

  /** The deep BPE trainer's wall-clock law: cost grows with PASSES, not
    * with merges. The round-serial trainer pays 2–3 driver jobs + a
    * checkpoint PER MERGE; the batched trainer pays them per PASS. This
    * face runs the SAME pass loop ([[pipeline.BpeQueries.trainDeepTrace]])
    * over the sf0.1 phrase corpus at batch = 1 (one merge per pass — the
    * round-serial shape) and batch = 32 (a full batch per pass), same pass
    * count, and records wall seconds and learned merge rules for each. The
    * claim: secs ratio ≈ 1 while the rules ratio is an order of magnitude —
    * so production merge depths are a batch-width knob, not a wall-clock
    * wall.
    */
  val bpeDeep: Face = Face("bpe_deep", "bpe_deep_probe", "bpe_deep_probe.json",
      Some(s"$Testdata/sf0.1")) { run =>
    val passes = 6
    def state0 = pipeline.BpeQueries.deepPhraseState(
      run.spark.read.parquet(s"${run.src}/documents.parquet"))
    // JIT/IO warmup so batch=1 (measured first) isn't charged startup
    // cost: one UNTIMED short trainer run — count() alone warms IO but
    // not the trainer's expr-heavy codegen, which would bill its JIT to
    // the first measured cell and flatter the secs ratio
    pipeline.BpeQueries.trainDeepTrace(
      state0, passes = 2, batch = 32, stage = false, sep = " ").collect()

    val cells = Seq(1, 32).map { batch =>
      val (secs, trace) = run.time(pipeline.BpeQueries.trainDeepTrace(
        state0, passes, batch, stage = false, sep = " ").collect())
      println(f"bpe_deep batch=$batch: $secs%.1f s, ${trace.length} rules in $passes passes")
      s"batch$batch" -> obj("secs" -> secs, "rules" -> trace.length)
    }
    Seq("src" -> run.src, "passes" -> passes) ++ cells
  }

  /** Drives the deep BPE trainer an order of magnitude past the gated
    * regime: the registered gate proves 18×32 ≈ 274 rules; production
    * tokenizers need 30k+. This face trains ≥ 4,096 rules on a SYNTHETIC
    * wide-vocabulary corpus (the sf corpora have only 30 distinct words —
    * structurally too narrow for deep phrase vocabularies) and records the
    * depth law's two invariants:
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
    * trainDeepTrace — the face completing at all certifies both; the
    * artifact records them for the spec gate. Corpus: `docs` documents ×
    * `tokens_per_doc` tokens drawn deterministically (xxhash64) from a
    * `vocab`-word inventory of 3-letter words, so the run is reproducible
    * bit-for-bit.
    */
  val bpeDepth: Face = Face("bpe_depth", "bpe_depth_probe", "bpe_depth_probe.json") { run =>
    val nDocs = 20000L
    val tokensPerDoc = 64
    // wide enough that disjoint batches never starve, dense enough
    // (E[adjacency count per pair] = tokens/vocab² ≈ 1.2) that the
    // top-512 ranking stays count-driven instead of collapsing into
    // lexical cnt=1 ties that share left symbols
    val vocab = 1024
    // ~150-170 disjoint rules survive each top-512 scan (symbol collisions
    // take the rest), so 32 passes clears the 4096-rule floor with margin
    val passes = 32
    val batch = 256 // ≤ DeepScan/2 so a full batch is always reachable
    val minRules = 4096L

    // deterministic wide-vocabulary corpus: token j of doc i is word
    // pmod(xxhash64(i, j), vocab), rendered as a 3-letter base-26 word
    // (26³ ≥ vocab) — matches deepPhraseState's ^[a-z]+$ contract
    def docs = run.spark.range(nDocs).selectExpr(
      "CAST(id AS STRING) AS doc_id",
      s"""array_join(transform(sequence(0, ${tokensPerDoc - 1}), j ->
         |  concat(char(97 + (pmod(xxhash64(id, j), $vocab) DIV 676) % 26),
         |         char(97 + (pmod(xxhash64(id, j), $vocab) DIV 26) % 26),
         |         char(97 + pmod(xxhash64(id, j), $vocab) % 26))), ' ')
         |AS text""".stripMargin)
    def state0 = pipeline.BpeQueries.deepPhraseState(docs)

    // untimed warmup: the trainer's expr-heavy codegen JITs per pass, so
    // warm the shared machinery (pair stats, selection, checkpoint path)
    // before the measured run (same discipline as bpe_deep)
    pipeline.BpeQueries.trainDeepTrace(
      state0, passes = 2, batch = batch, stage = false, sep = " ").collect()

    val walls = scala.collection.mutable.Buffer.empty[Double]
    val (secs, trace) = run.clock(pipeline.BpeQueries.trainDeepTrace(
      state0, passes, batch, stage = false, sep = " ",
      minMerges = minRules, passWall = Some(walls)).collect())
    val perPass = trace.groupBy(_.getLong(0)).toSeq.sortBy(_._1).map(_._2.length)
    println(f"bpe_depth: ${trace.length} rules in $passes passes, $secs%.1f s")
    Seq("docs" -> nDocs, "tokens_per_doc" -> tokensPerDoc, "vocab" -> vocab,
      "passes" -> passes, "batch" -> batch, "secs" -> secs, "rules" -> trace.length,
      "min_rules" -> minRules, "hard_check" -> "passed",
      "wall_per_pass" -> walls.toSeq, "rules_per_pass" -> perPass)
  }

  val all: Seq[Face] = Seq(aqe, cluster, clusterK, bpeDeep, bpeDepth)
}
