package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** ×10 growth datapoints for the round-8 operator families (r8 verdict
  * item 5): SCD2 versioning, sessionization, changelog compaction, the
  * stream-stream interval join, skip-gram co-occurrence, and the
  * incremental near-dup's two growth axes (batch vs index).
  *
  * The REGISTERED faces of the event families cap `user_id` (≤40/60/100)
  * to keep their DuckDB oracles reviewable, so replicating the corpus
  * would not scale their work — this probe times the UNCAPPED shapes
  * (same plans as the registered queries minus the oracle cap; the window
  * specs, day arithmetic, and join predicates are restated verbatim).
  * Each family runs on the base corpus (×1) and the replicated corpus
  * (×k) in ONE JVM, so the reported ratio is self-contained and does not
  * depend on cross-run ambient-load comparisons (BASELINE.md documents a
  * ±1.5× ambient band on this box for cross-run probe diffs).
  *
  * Replication axes match the linearity claims: replica-k events shift
  * `user_id`/`event_id` by k·10⁷ (keys grow linearly; per-key event
  * counts, session structure, and day spans are UNCHANGED — so per-key
  * window state and per-user join fan-out stay constant while the key
  * count scales, exactly the axis a 1000-executor cluster scales on).
  * Documents replicate with the same disjoint-token scheme as
  * [[ScaleProbe]] (replica-k tokens prefixed `r<k>` → shingle/vocab space
  * grows linearly, no cross-replica pairs).
  */
object FamilyScaleProbe {
  def main(args: Array[String]): Unit = {
    val src = sys.env.getOrElse("SPARK_GRAFT_SCALE_SRC", "/root/testdata/sf0.1")
    val replicas = GraftSession.intEnv("SPARK_GRAFT_SCALE_REPLICAS", 10)
    val spark = GraftSession("spark.sql.shuffle.partitions" ->
      GraftSession.intEnv("SPARK_GRAFT_SHUFFLE_PARTITIONS", GraftSession.cpus).toString)
    val dir = new java.io.File(s"target/scale_probe_x$replicas").getAbsolutePath

    // corpus build (documents as in ScaleProbe; events new here) — reused
    // across probe invocations when already materialized
    if (!new java.io.File(s"$dir/documents.parquet").exists()) {
      val docs = spark.read.parquet(s"$src/documents.parquet")
      (0 until replicas).map { k =>
        if (k == 0) docs
        else docs.select(
          (col("doc_id") + lit(k * 10000000L)).as("doc_id"),
          regexp_replace(col("text"), "(\\S+)", s"r$k$$1").as("text"),
          col("lang"), col("source"), col("n_chars"))
      }.reduce(_ unionByName _)
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    }
    if (!new java.io.File(s"$dir/events.parquet").exists()) {
      val ev = spark.read.parquet(s"$src/events.parquet")
      (0 until replicas).map { k =>
        if (k == 0) ev
        else ev.select(
          (col("event_id") + lit(k * 10000000L)).as("event_id"),
          col("ts"),
          (col("user_id") + lit(k * 10000000L)).as("user_id"),
          col("event_type"), col("value"), col("props"))
      }.reduce(_ unionByName _)
        .write.mode("overwrite").parquet(s"$dir/events.parquet")
    }
    if (!new java.io.File(s"$dir/customer.parquet").exists()) {
      // replica names re-derive from the shifted key so every replica name
      // is a REAL distinct 9-digit name (cross-replica Levenshtein-1 pairs
      // are genuine near-matches, e.g. 010000001 vs 000000001 — output
      // grows slightly faster than rows BY DESIGN; the cost claim is about
      // the postings index and bucket sizes, which stay linear/bounded)
      val cust = spark.read.parquet(s"$src/customer.parquet")
      (0 until replicas).map { k =>
        if (k == 0) cust
        else cust
          .withColumn("c_custkey", col("c_custkey") + lit(k * 10000000L))
          .withColumn("c_name", format_string("Customer#%09d", col("c_custkey")))
      }.reduce(_ unionByName _)
        .write.mode("overwrite").parquet(s"$dir/customer.parquet")
    }
    if (!new java.io.File(s"$dir/orders.parquet").exists()) {
      // grouping-sets probe axis: fact rows grow linearly, the grouping
      // grid (status × priority) stays constant-cardinality — exactly the
      // Expand+partial-agg shape whose map-side combine should absorb the
      // growth (subtotal output rows do NOT scale with the corpus).
      val ord = spark.read.parquet(s"$src/orders.parquet")
      (0 until replicas).map { k =>
        if (k == 0) ord
        else ord
          .withColumn("o_orderkey", col("o_orderkey") + lit(k * 10000000L))
          .withColumn("o_custkey", col("o_custkey") + lit(k * 10000000L))
      }.reduce(_ unionByName _)
        .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    }
    if (!new java.io.File(s"$dir/lineitem.parquet").exists()) {
      // pagerank probe axis: orderkey shifts keep lineitems attached to
      // their replica's orders; custkey/suppkey shifts make each replica a
      // disjoint purchase graph — node count ×k, per-node degree and
      // component structure UNCHANGED (the axis a cluster scales on).
      // l_partkey shifts with the replica too (r10): the co-supply graph
      // families (triangles) need each replica to be a DISJOINT part space
      // — shared partkeys would multiply suppliers-per-part by k and turn
      // the linear axis quadratic. PageRank never reads partkey, so the
      // added shift changes nothing for it.
      val li = spark.read.parquet(s"$src/lineitem.parquet")
      (0 until replicas).map { k =>
        if (k == 0) li
        else li
          .withColumn("l_orderkey", col("l_orderkey") + lit(k * 10000000L))
          .withColumn("l_suppkey", col("l_suppkey") + lit(k * 10000000L))
          .withColumn("l_partkey", col("l_partkey") + lit(k * 10000000L))
      }.reduce(_ unionByName _)
        .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    }
    if (!new java.io.File(s"$dir/embeddings.parquet").exists()) {
      // vec_id shifts keep replica vectors identical — k-means assignment
      // work scales with the population while centroids stay put (init ids
      // 0..7 resolve to the same vectors), exactly the axis a cluster
      // scales on. (semdedup pair output would grow quadratically on this
      // corpus BY DESIGN — replicas are genuine duplicates — so only the
      // assignment face is probed.)
      val emb = spark.read.parquet(s"$src/embeddings.parquet")
      (0 until replicas).map { k =>
        if (k == 0) emb
        else emb.withColumn("vec_id", col("vec_id") + lit(k * 10000000L))
      }.reduce(_ unionByName _)
        .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    }
    // warm IO + JIT before timing
    spark.read.parquet(s"$dir/documents.parquet").count()
    spark.read.parquet(s"$dir/events.parquet").count()
    spark.read.parquet(s"$dir/customer.parquet").count()
    spark.read.parquet(s"$src/documents.parquet").count()
    spark.read.parquet(s"$src/events.parquet").count()

    def eventsSec(d: String): DataFrame =
      analytics.Tables.events(spark, d)
        .select(col("user_id"), col("event_id"), col("event_type"),
          col("ts").cast("long").as("ts_sec"))

    // ---- uncapped family shapes (registered plans minus the oracle cap) ----

    def scd2(d: String): DataFrame = {
      val w = Window.partitionBy("user_id").orderBy("ts_sec", "event_id")
      eventsSec(d).select(
        col("user_id"),
        row_number().over(w).cast("long").as("version_seq"),
        col("event_type").as("state"),
        col("ts_sec").as("valid_from_sec"),
        lead(col("ts_sec"), 1).over(w).as("valid_to_sec"))
    }

    def sessionize(d: String): DataFrame = {
      val w = Window.partitionBy("user_id").orderBy("ts_sec", "event_id")
      eventsSec(d)
        .withColumn("is_new",
          when(lag("ts_sec", 1).over(w).isNull ||
            col("ts_sec") - lag("ts_sec", 1).over(w) > 1800, 1).otherwise(0))
        .withColumn("session_idx", sum("is_new").over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy("user_id", "session_idx")
        .agg(count(lit(1)).as("n_events"),
          min("ts_sec").as("session_start_sec"), max("ts_sec").as("session_end_sec"))
    }

    def compaction(d: String): DataFrame = {
      val ev = eventsSec(d).withColumn("day_num", expr("CAST(ts_sec DIV 86400 AS BIGINT)"))
      val wf = Window.partitionBy("user_id", "day_num").orderBy(col("ts_sec"), col("event_id"))
      val wl = Window.partitionBy("user_id", "day_num")
        .orderBy(col("ts_sec").desc, col("event_id").desc)
      ev.withColumn("rn_first", row_number().over(wf))
        .withColumn("rn_last", row_number().over(wl))
        .groupBy("user_id", "day_num")
        .agg(
          max(when(col("rn_first") === 1, col("event_type"))).as("first_state"),
          max(when(col("rn_last") === 1, col("event_type"))).as("last_state"),
          count(lit(1)).as("n_changes"))
    }

    def intervalJoin(d: String): DataFrame = {
      val ev = analytics.Tables.events(spark, d)
        .withColumn("ts", date_trunc("second", col("ts")))
      streaming.StreamOps.intervalJoin(
        ev.filter(col("event_type") === "purchase"),
        ev.filter(col("event_type") === "click"),
        "user_id", "24 hours")
        .select(col("l.user_id"), col("l.event_id"), col("r.event_id"))
    }

    def cooccurrence(d: String): DataFrame =
      SparkEntry.queries("q_cooccurrence")(spark, d)

    def time(f: => DataFrame): (Double, Long) = {
      spark.catalog.clearCache(); System.gc()
      val t0 = System.nanoTime()
      val n = f.count()
      ((System.nanoTime() - t0) / 1e9, n)
    }

    // round-9 families: already uncapped in their registered faces, so the
    // probe drives the registered plans directly (count() lets Catalyst
    // drop the output orderBy — the timed work is the operator, not the
    // presentation sort). stream_dedup restates the registered shape minus
    // its oracle cap.
    def registered(name: String)(d: String): DataFrame =
      SparkEntry.queries(name)(spark, d)

    def gapfill(d: String): DataFrame = {
      // the registered q_gapfill_ffill minus its oracle cap (user_id ≤ 30
      // would exclude every replica) — window specs and grid arithmetic
      // restated verbatim
      val wDay = Window.partitionBy("user_id", "day")
        .orderBy(col("ts").desc, col("event_id").desc)
      val obs = analytics.Tables.events(spark, d)
        .withColumn("day", col("ts").cast("date"))
        .withColumn("rn", row_number().over(wDay))
        .filter(col("rn") === 1)
        .select(col("user_id"), col("day"), col("value").as("close"))
      val grid = obs.groupBy("user_id")
        .agg(min("day").as("d0"), max("day").as("d1"))
        .select(col("user_id"),
          explode(expr("sequence(d0, d1, interval 1 day)")).as("day"))
      val wFill = Window.partitionBy("user_id").orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      grid.join(obs, Seq("user_id", "day"), "left")
        .select(col("user_id"), col("day"),
          last(col("close"), ignoreNulls = true).over(wFill).as("filled_close"),
          col("close").isNotNull.as("is_observed"))
    }

    def streamDedup(d: String): DataFrame = {
      val ev = eventsSec(d)
      val redelivered = ev.filter(col("event_id") % 7 === 0)
        .withColumn("ts_sec", col("ts_sec") + 120)
      streaming.StreamOps.dedupByDigest(
        ev.unionAll(redelivered).withColumn("ekey", col("event_id").cast("string")),
        tsCol = "ts_sec", contentCol = "ekey", idCol = "event_id")
    }

    def twapUncapped(d: String): DataFrame = {
      // q_twap minus its user_id ≤ 80 oracle cap — window + agg restated
      val w = Window.partitionBy("user_id").orderBy("ts_sec", "event_id")
      analytics.Tables.events(spark, d)
        .select(col("user_id"), col("event_id"),
          round(col("value") * 100).cast("long").as("v_cents"),
          col("ts").cast("long").as("ts_sec"))
        .withColumn("next_sec", lead(col("ts_sec"), 1).over(w))
        .filter(col("next_sec").isNotNull)
        .groupBy("user_id").agg(
          count(lit(1)).as("n_segments"),
          sum(col("v_cents") * (col("next_sec") - col("ts_sec"))).as("weighted_sum"),
          sum(col("next_sec") - col("ts_sec")).as("total_sec"))
    }

    def streamLeftOuterUncapped(d: String): DataFrame = {
      // q_stream_left_outer minus its user_id ≤ 100 oracle cap
      val ev = analytics.Tables.events(spark, d)
        .withColumn("ts", date_trunc("second", col("ts")))
      streaming.StreamOps.intervalJoin(
        ev.filter(col("event_type") === "purchase"),
        ev.filter(col("event_type") === "click"),
        "user_id", "2 hours", joinType = "left_outer")
        .select(col("l.user_id"), col("l.event_id"), col("r.event_id"))
    }

    def rateLimitUncapped(d: String): DataFrame = {
      import spark.implicits._
      val ev = eventsSec(d)
        .withColumn("day_num", expr("CAST(ts_sec DIV 86400 AS BIGINT)"))
        .select("user_id", "day_num", "event_id", "ts_sec")
        .as[streaming.StreamOps.QuotaEvent]
      streaming.StreamOps.rateLimit(ev, cap = 2).toDF()
        .groupBy("user_id", "day_num")
        .agg(count(lit(1)).as("n_events"),
          count(when(col("accepted"), 1)).as("n_accepted"))
    }

    // FAMILIES=<comma list> restricts the probe — a ×20 run over every
    // family costs tens of minutes, and the crossover questions (PPJoin vs
    // inverted-index, fuzzy-match fan-out) only need their own families.
    val familyFilter = sys.env.get("SPARK_GRAFT_SCALE_FAMILIES")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .filter(_.nonEmpty)
    val allFamilies = Seq[(String, String => DataFrame)](
      "scd2" -> scd2, "sessionize" -> sessionize, "compaction" -> compaction,
      "interval_join" -> intervalJoin, "cooccurrence" -> cooccurrence,
      "dedup_span" -> registered("q_dedup_span"),
      "dedup_prefix" -> registered("q_dedup_prefix_filter"),
      "dedup_fulljoin" -> registered("q_dedup_ngram_jaccard"),
      "boilerplate" -> registered("q_boilerplate_by_source"),
      "fuzzy_match" -> registered("q_fuzzy_match_name"),
      "pii_scrub" -> registered("q_pii_scrub"),
      "salted_join" -> registered("q_skew_salted_join"),
      "stream_dedup" -> streamDedup,
      "span_removal" -> registered("q_dedup_span_removal"),
      "kmeans" -> registered("q_kmeans_assign"),
      "train_export" -> registered("q_train_export"),
      // round-10 late additions. Replica embeddings are identical vectors
      // (vec_id-shifted), so PQ codebooks (vec_id<16) and the query vector
      // stay fixed while encode/ADC work scales with the population;
      // replica documents carry disjoint token spaces, so the bloom
      // benchmark side and the bigram LM both grow linearly with no
      // cross-replica hits; quality_classifier is the map-only envelope;
      // grouping_sets rides the replicated orders fact (constant grid).
      // (hc_gdpr_erasure is fixture-store-rooted, not dir-driven — its
      // scale argument is the broadcast key-set join shape, spec'd in
      // GdprErasureSpec, so it has no corpus-replica axis to probe.)
      // round-10 graph/retrieval/modality families. pagerank rides the
      // replicated purchase graph (disjoint per-replica components);
      // er_clusters rides the re-derived replica names (cross-replica
      // lev-1 pairs are genuine matches — output grows faster than rows BY
      // DESIGN, the cost claim is about variant-bucket sizes, same as
      // fuzzy_match); bm25 scales the CORPUS under a fixed query (tf stays
      // constant, the tokenize/length side grows — the retrieval axis);
      // audio is linear decode+agg; gapfill is restated uncapped.
      "pagerank" -> registered("q_pagerank"),
      "er_clusters" -> registered("q_er_clusters"),
      "gapfill" -> gapfill,
      "bm25" -> registered("q_bm25_topk"),
      "audio" -> registered("q_audio_features"),
      "pq_adc" -> registered("q_ann_pq_adc"),
      "decontaminate_bloom" -> registered("q_decontaminate_bloom"),
      "lm_familiarity" -> registered("q_lm_familiarity"),
      "quality_classifier" -> registered("q_quality_classifier"),
      "grouping_sets" -> registered("q_grouping_sets"),
      // round-10 profiling/governance families. triangles rides the
      // part-shifted lineitem (disjoint co-supply graphs per replica:
      // nodes ×k, degree bounded by the kNN prune at ANY k);
      // snapshot_diff / sample_weighted / kanonymity / corr_matrix /
      // median_disc / hist_equidepth / dl_distance are registered
      // UNCAPPED, so the registered plans probe directly — the profile
      // axes are: keys ×k with constant per-key history (diff), linear
      // scan under a constant-k TakeOrdered (sampling), constant class
      // grid under ×k members (k-anonymity), linear single-scan sums
      // (corr), per-stratum windows at stratum size ×k (quantiles/
      // histogram), and a sequential-key equi-join ×k (dl). twap and
      // stream_left_outer restate their registered shapes minus the
      // user_id oracle caps (replica users shift beyond them).
      "triangles" -> registered("q_graph_triangles"),
      "snapshot_diff" -> registered("q_snapshot_diff"),
      "sample_weighted" -> registered("q_sample_weighted"),
      "kanonymity" -> registered("q_kanonymity"),
      "corr_matrix" -> registered("q_corr_matrix"),
      "median_disc" -> registered("q_median_disc"),
      "hist_equidepth" -> registered("q_hist_equidepth"),
      "benford" -> registered("q_benford"),
      "dl_distance" -> registered("q_dl_distance"),
      "twap" -> twapUncapped,
      "stream_left_outer" -> streamLeftOuterUncapped,
      // round-10 batch-2 families: unicode_nfc is map-only over ×k names;
      // quantize rides ×k embeddings under a constant 64-row stats side;
      // source_overlap's shingle postings grow ×k while per-shingle
      // fan-out stays bounded by C(#sources,2) (sources are constant);
      // rate_limit restates the registered shape minus the user cap.
      "unicode_nfc" -> registered("q_unicode_nfc"),
      "quantize_int8" -> registered("q_quantize_int8"),
      "source_overlap" -> registered("q_source_overlap"),
      "rate_limit" -> rateLimitUncapped,
      // round-10 batch-3 families: the distinct sketches ride the
      // disjoint-token replicas (vocabulary ×k under a CONSTANT
      // 256-register/256-slot sketch per source — the claim is that only
      // the shared distinct exchange grows, the sketch reduction stays
      // fixed-size); zorder is a map-only key chain + 32-group rollup
      // over ×k orders; stream_enrich joins ×k events to the ×k broadcast
      // dim (replica users land on replica customers, per-window groups
      // ×constant segments).
      "distinct_hll" -> registered("q_distinct_hll"),
      "kmv_intersect" -> registered("q_distinct_kmv_intersect"),
      "zorder_layout" -> registered("q_zorder_layout"),
      "stream_enrich" -> registered("q_stream_enrich"),
      // eval family: score+label derivations ride ×k docs (each a
      // doc-keyed rollup), the AUC prefix-sum window rides the CONSTANT
      // bin grid — the claim is the histogram formulation keeps the
      // global-ranking step corpus-size-independent.
      "classifier_auc" -> registered("q_classifier_auc"),
      // rolling-distinct sketch: ×k events (shifted users) grow the
      // register-build input linearly while the rolling merge stays
      // days×128 rows — the decomposable-sliding-distinct claim. (The
      // exact gate face's 7× fan-out join also rides along; at 100 TB it
      // wouldn't exist.)
      "rolling_hll" -> registered("q_distinct_rolling_hll"),
      // rollup rewrite: the probe times maintenance (full overwrite, grows
      // with ×k orders) + the rewritten serve (a rollup scan whose size
      // grows only with the DATE grain). The serving claim proper —
      // base parquet absent from the executed plan — is PlanAuditSpec's.
      "rollup_serve" -> registered("q_rollup_serve"),
      // A-not-B churn: ×k events (shifted users) grow the per-day distinct
      // and the exact face linearly; the sketch pipeline stays k-bounded
      // per day after the salt-local k-min.
      "anotb_kmv" -> registered("q_distinct_anotb_kmv"),
      // chi-square readout: one map-side-combined 4-cell aggregate over
      // ×k events — the flat-cost shape class.
      "ab_chisq" -> registered("q_ab_chisq"),
      // round-11 additions. stream_hll's batch face: ×k events feed a
      // map-side-combined register aggregate whose output stays days×128
      // rows (the register reduction is the fixed-size part; the exact
      // gate face's per-day countDistinct rides the same exchange).
      // rollup_window: maintenance grows with ×k orders, the SERVED query
      // reads only the date-grain rollup with the range pushed into its
      // scan — serve cost tracks the grain, not the fact table.
      "stream_hll" -> registered("q_stream_distinct_hll"),
      "rollup_window" -> registered("q_rollup_serve_window"),
      // split_leakfree rides the disjoint-token document replicas: the
      // cleaner's pair graph grows linearly (no cross-replica pairs), CC
      // stays bounded, and the split assignment is a map-side hash — the
      // whole composite should track corpus_clean_cc's growth.
      "split_leakfree" -> registered("q_split_leakfree"),
      // bucketed_join times table materialization (rep 1 of each corpus —
      // bucketBy write, linear in the fact rows) + the co-located serve;
      // the PROBE's timed rep is the serve (warm rep materializes), whose
      // scan grows linearly with zero shuffle on the key at any size.
      "bucketed_join" -> registered("q_bucketed_join"),
      // round-12 additions, all UNCAPPED registered faces. consistent_cut
      // and chunked_bootstrap are one latest-wins window over the key
      // exchange plus constant-size rollups — keys grow 10×, per-key state
      // constant. bloom_fileskip's build is two map-side-combined
      // aggregates over the scan; at ×10 each file's 2¹⁶-bit filter
      // SATURATES by design (bits_set caps, every probe reads "maybe") —
      // the probe measures that the BUILD stays linear; production sizes
      // m with rows-per-file (the Scaladoc's knob), which the gate keeps
      // fixed for the DuckDB replay.
      "consistent_cut" -> registered("q_cdc_consistent_cut"),
      "chunked_bootstrap" -> registered("q_cdc_chunked_bootstrap"),
      "bloom_fileskip" -> registered("q_bloom_fileskip"),
      // round-13 additions. bpe_train restates the registered rounds with
      // a digit-tolerant alphabet so the r<k>-prefixed replica tokens
      // COUNT: vocabulary grows ×k (disjoint replica word spaces), so the
      // probe scales the per-round pair-count exchange — the claim is
      // that round cost tracks VOCAB rows, never corpus bytes, and the
      // argmax stays a 1-row collect. pca_project rides ×k identical
      // vec_id-shifted embeddings: both corpus passes (Gramian, sums) are
      // constant-output aggregates, the driver eigen is corpus-free, the
      // projection map-only. hybrid_rrf grows the lexical arm's
      // tokenize/length side and the dense scan linearly under constant
      // K-row fusion (replica tokens never match the fixed query terms —
      // same retrieval axis as the bm25 family).
      "bpe_train" -> { (d: String) =>
        import org.apache.spark.sql.functions.{col, count, explode, length, lit}
        val wf = analytics.Tables.documents(spark, d)
          .select(explode(graft.functions.TextFunctions.tokens(col("text"))).as("word"))
          .filter(col("word").rlike("^[a-z0-9]+$") && length(col("word")) >= 2)
          .groupBy("word").agg(count(lit(1)).as("freq"))
        pipeline.BpeQueries.trainTrace(wf, 8, stage = false)
      },
      "pca_project" -> registered("q_pca_project"),
      "hybrid_rrf" -> registered("q_hybrid_rrf"),
      // round-14 additions. bpe_train_deep restates the registered phrase
      // face with a digit-tolerant token filter so the r<k>-prefixed
      // replica tokens COUNT: replica phrase spaces are disjoint, so pair
      // diversity grows ×k while per-pass cost should track corpus
      // POSITIONS linearly (the selection stays a 512-row bounded
      // collect, the apply stays map-only) — the passes-not-merges law
      // measured on a growing corpus. hybrid_rrf_batch: queries stay the
      // 100 base docs (replica tokens never match base query terms), so
      // the matched postings stay ×1-sized while the corpus tf exchange
      // and the dense scan grow ×k under constant per-query K.
      // quantile_sketch rides ×k orders: the bucket state is ≤1888 rows
      // per group at any size; only the bucketing scan and the
      // VERIFICATION side's exact rank window grow.
      "bpe_train_deep" -> { (d: String) =>
        pipeline.BpeQueries.trainDeepTrace(
          pipeline.BpeQueries.deepPhraseState(
            analytics.Tables.documents(spark, d), tokenPattern = "^[a-z0-9]+$"),
          passes = 6, batch = 32, stage = false, sep = " ")
      },
      "hybrid_rrf_batch" -> registered("q_hybrid_rrf_batch"),
      "quantile_sketch" -> registered("q_quantile_sketch"),
      "stream_quantile_sketch" -> registered("q_stream_quantile_sketch"))
    familyFilter.foreach { names =>
      val unknown = names.diff(allFamilies.map(_._1).toSet + "incremental")
      require(unknown.isEmpty, s"unknown families: ${unknown.mkString(", ")}")
    }
    val families = allFamilies.filter { case (n, _) => familyFilter.forall(_.contains(n)) }

    val rows = families.map { case (name, f) =>
      // untimed warm rep per (family, CORPUS): a shape's first execution
      // pays whole-stage-codegen COMPILATION (comparable to the whole ×1
      // wall time at this scale), and its first execution AT SCALE pays
      // one-off shuffle-buffer/heap growth — measured r10 on dedup_prefix
      // ×20: 37 s first execution vs 13.5 s steady state, enough to turn a
      // true ~3× ratio into a reported 30×. Warm both sides.
      f(src).count()
      val (s1, n1) = time(f(src))
      f(dir).count()
      val (sk, nk) = time(f(dir))
      (name, s1, n1, sk, nk)
    }

    // ---- incremental near-dup: the two growth axes, separately ----
    // base split = the registered q_dedup_incremental (even index / odd
    // batch); the ×k variants scale exactly ONE side. Replica token spaces
    // are disjoint, so a 10× index adds postings/vocabulary but no new
    // eligible pairs for the base batch — the "index-sublinear" claim is
    // that its cost grows with the index SCAN (shingling), not the pair
    // join; the 10× batch axis carries the full pair workload and should
    // stay ~linear.
    val docsBase = analytics.Tables.documents(spark, src)
    val docsAll = analytics.Tables.documents(spark, dir)
    val baseIdx = docsBase.filter(col("doc_id") % 2 === 0)
    val baseBatch = docsBase.filter(col("doc_id") % 2 === 1)
    val runIncremental = familyFilter.forall(_.contains("incremental"))
    // same warm-rep discipline: the base split runs once untimed first
    if (runIncremental)
      pipeline.DedupQueries.nearDupPairsIncremental(baseIdx, baseBatch, 0.8).count()
    val incRows = (if (!runIncremental) Seq.empty[(String, () => DataFrame)] else Seq[(String, () => DataFrame)](
      "dedup_incremental" ->
        (() => pipeline.DedupQueries.nearDupPairsIncremental(baseIdx, baseBatch, 0.8)),
      "dedup_incremental_batch10x" ->
        (() => pipeline.DedupQueries.nearDupPairsIncremental(
          baseIdx, docsAll.filter(col("doc_id") % 2 === 1), 0.8)),
      "dedup_incremental_index10x" ->
        (() => pipeline.DedupQueries.nearDupPairsIncremental(
          docsAll.filter(col("doc_id") % 2 === 0), baseBatch, 0.8))
    )).map { case (name, f) =>
      f().count() // same warm-both-sides discipline as the families above
      val (s, n) = time(f())
      (name, s, n)
    }

    def fmt(v: Double) = BigDecimal(v).setScale(4, BigDecimal.RoundingMode.HALF_UP).toString
    val famJson = rows.map { case (name, s1, n1, sk, nk) =>
      s""""$name":{"x1_sec":${fmt(s1)},"x1_rows":$n1,"x${replicas}_sec":${fmt(sk)},""" +
        s""""x${replicas}_rows":$nk,"ratio":${fmt(sk / math.max(s1, 1e-9))}}"""
    }.mkString(",")
    val incJson = incRows.map { case (name, s, n) =>
      s""""$name":{"sec":${fmt(s)},"rows":$n}"""
    }.mkString(",")
    val json = s"""{"metric":"family_scale_probe","replicas":$replicas,"src":"$src",""" +
      s""""families":{$famJson},"incremental":{$incJson}}"""
    println(json)
    val outPath = java.nio.file.Paths.get(sys.env.getOrElse(
      "SPARK_GRAFT_SCALE_OUT", s"bench/scale_probe_families_x$replicas.json"))
    Option(outPath.getParent).foreach(java.nio.file.Files.createDirectories(_))
    java.nio.file.Files.write(outPath, json.getBytes("UTF-8"))
    spark.stop()
  }
}
