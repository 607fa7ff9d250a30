package graft.analytics

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, count, expr, lit, max, sum}

/** Physical-plan audits: the scale properties the engine claims are
  * asserted against the actual plans, not just documented —
  * filter/projection pushdown into the parquet scan, broadcast joins for
  * dimension tables, TakeOrderedAndProject for top-k (no global sort),
  * whole-stage codegen on the hot paths.
  */
class PlanAuditSpec extends SparkSpec {

  private def planOf(name: String): String = {
    val df: DataFrame = graft.SparkEntry.queries(name)(spark, sf())
    df.queryExecution.sparkPlan.toString
  }

  private def executedPlanOf(name: String): String = {
    val df: DataFrame = graft.SparkEntry.queries(name)(spark, sf())
    df.collect()
    df.queryExecution.executedPlan.toString
  }

  test("filters and projections push into the parquet scan") {
    val p = planOf("q_proj_filter")
    assert(p.contains("PushedFilters: [IsNotNull(o_totalprice), GreaterThan(o_totalprice"), p)
    // column pruning: the scan must read only the 3 projected columns
    assert(p.contains("ReadSchema: struct<o_orderkey:bigint,o_totalprice:double,o_orderpriority:string"), p)
  }

  test("date-range predicates reach the scan for the pricing query") {
    val p = planOf("q_agg_pricing")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"), p)
  }

  test("dimension joins broadcast — no shuffle of the fact side") {
    assert(planOf("q_join_2way").contains("BroadcastHashJoin"))
    val multiway = planOf("q_join_multiway")
    assert(multiway.contains("BroadcastHashJoin"))
    assert(!multiway.contains("SortMergeJoin"), "dimension chain must not sort-merge")
  }

  test("top-k plans as TakeOrderedAndProject, not a global sort") {
    assert(planOf("q_topk_customers").contains("TakeOrderedAndProject"))
    assert(planOf("q_ann_cosine_topk").contains("TakeOrderedAndProject"))
  }

  test("aggregations run partial+final (map-side combine)") {
    val p = planOf("q_agg_pricing")
    assert(p.contains("HashAggregate(keys="), p)
    // partial + final = two HashAggregate nodes around the exchange
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
  }

  test("hot paths stay inside whole-stage codegen") {
    // codegen'd stages render as "*(n) Operator" in the plan string
    val p = executedPlanOf("q_agg_pricing")
    assert(p.contains("*(1) "), p)
    val knn = executedPlanOf("q_ann_knn_join")
    assert(knn.contains("*(1) "), knn)
  }

  test("CDC latest-per-key shuffles exactly once (on the key)") {
    val df = graft.SparkEntry.queries("q_cdc_latest_per_key")(spark, sf())
    val exchanges = "Exchange ".r.findAllIn(df.queryExecution.sparkPlan.toString).size
    // one hashpartitioning exchange for the window; the final orderBy adds a
    // range exchange — anything beyond that means a redundant shuffle
    assert(exchanges <= 2, df.queryExecution.sparkPlan.toString)
  }

  test("incremental rollup deltas key-prune the state scans (left-semi, no cartesian)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val spec = graft.operators.IncrementalRollup.Spec(Seq("g"), Seq("m" -> col("m")))
    val st = Seq((1L, "a", 2L, false)).toDF("id", "g", "m", "_del")
    val delta = graft.operators.IncrementalRollup.batchDelta(
      st, st, Seq(1L).toDF("id"), "id", col("_del") === false, spec)
    val p = delta.queryExecution.sparkPlan.toString
    // the before/after contributions must reach the state via LeftSemi on
    // the touched keys — the O(batch) claim hinges on this join shape
    assert("LeftSemi".r.findAllIn(p).size >= 2, p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("incremental dedup pair join is shingle-keyed, never cartesian") {
    val p = planOf("q_dedup_incremental")
    assert(!p.contains("CartesianProduct"), p)
    // df/has-incoming prune exists: an aggregate over sh feeds the join
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
  }

  test("incremental dedup: postings computed once per side; index pruned BEFORE the pair join") {
    // the suite-ceiling query (r8 driver median 6.3 s) — its two scale
    // claims pinned against the FINAL adaptive plan:
    //  1. the shingle-postings frame is MATERIALIZED once per source side
    //     (r17: an eager checkpoint inside shinglePostings — stronger than
    //     the r16 reliance on ReusedExchange, which the corpus-clean plan
    //     audit showed does not always fire) and every consumer (sizes,
    //     the df/has_inc aggregate, n_a/n_b, both pair-join sides) reads
    //     the checkpointed RDD — at a 100 TB index, re-shingling per
    //     consumer would multiply the dominant cost 4×.
    //  2. the vocabulary prune (df > 1 AND has_inc = 1, i.e. "shingle
    //     occurs in ≥1 INCOMING doc") filters BOTH pair-join sides BELOW
    //     the join, through ONE shared exchange — the index's postings
    //     join in proportion to the increment's vocabulary, not the
    //     index's size.
    val finalPlan = executedPlanOf("q_dedup_incremental").split("== Initial Plan ==")(0)
    // (1) every consumer reads the per-side CHECKPOINTED postings RDD
    // (doc_id, sh leaves) — ≥4 such scans and NO re-derivation of the
    // postings from raw text inside this plan (zero Generate/posexplode
    // of the shingle pipeline; the only explodes permitted are none)
    val postingsScans =
      raw"Scan ExistingRDD\[doc_id#\d+L?,\s?sh#\d+".r.findAllIn(finalPlan).size
    assert(postingsScans >= 4,
      s"expected >=4 scans of the checkpointed per-side postings RDDs, got $postingsScans\n" +
        finalPlan.take(4000))
    // (2) the prune exists, feeds one broadcast exchange, and that exchange
    // serves BOTH pair-join sides (original + ReusedExchange = plan_id twice)
    assert(finalPlan.contains("has_inc"), finalPlan.take(4000))
    // (r18: the predicate's printed paren nesting changed with the plan —
    // `Filter ((isnotnull(has_inc…` — so match `\(+` instead of one literal
    // paren; DISTINCT ids assert uniqueness, occurrence count the reuse)
    val pruneIds =
      raw"BroadcastExchange [^\n]*\[plan_id=(\d+)\]\n[^\n]*\n[^\n]*Filter \(+isnotnull\(has_inc".r
        .findAllMatchIn(finalPlan).map(_.group(1)).toList
    assert(pruneIds.distinct.size == 1,
      s"expected ONE distinct has_inc prune exchange, got $pruneIds")
    val uses = raw"\[plan_id=${pruneIds.head}\]".r.findAllIn(finalPlan).size
    assert(uses >= 2,
      s"the has_inc prune exchange must serve both pair-join sides, got $uses uses\n" +
        finalPlan.take(4000))
    // the pair join itself keys on the shingle with the size-ratio prune
    // riding the condition
    assert(raw"(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin) \[sh#".r
      .findFirstIn(finalPlan).isDefined, finalPlan.take(4000))
    assert(finalPlan.contains("least("), finalPlan.take(4000))
  }

  test("embedding LSH candidate generation shuffles bare ids, not vectors") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.types.ArrayType
    // AQE off for a fully-materialized exchange tree (sparkPlan has no
    // exchanges yet; the adaptive executedPlan hides them in query stages)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val df = graft.SparkEntry.queries("q_dedup_embedding_lsh")(spark, sf())
      val shuffles = df.queryExecution.executedPlan.collect { case e: ShuffleExchangeLike => e }
      // every band-keyed exchange (candidate generation: the skew-guard
      // window, bucket self-join sides) must move (id, band) rows only — a
      // 64-float array riding a band shuffle multiplies candidate-stage
      // shuffle volume ~30x at scale
      val bandShuffles = shuffles.filter(_.outputPartitioning.toString.contains("band_key"))
      assert(bandShuffles.nonEmpty, "expected band-keyed exchanges in the LSH plan")
      bandShuffles.foreach { e =>
        assert(!e.output.exists(_.dataType.isInstanceOf[ArrayType]),
          s"vector array in a band-keyed exchange:\n$e")
      }
      // vectors may enter at most the two re-score joins' exchanges
      val arrayCarrying = shuffles.filter(_.output.exists(_.dataType.isInstanceOf[ArrayType]))
      assert(arrayCarrying.size <= 2, s"${arrayCarrying.size} exchanges carry arrays")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  // ---- healthcare (reference-suite) plans over the materialized parquet ----

  test("healthcare dimension joins broadcast (patients/doctors are dims)") {
    val sched = planOf("hc_todays_schedule")
    assert(sched.contains("BroadcastHashJoin"), sched)
    assert(!sched.contains("SortMergeJoin"), "3-way dim join must not sort-merge")
    val util = planOf("hc_doctor_utilization_today")
    assert(util.contains("BroadcastHashJoin"), util)
  }

  test("healthcare date filters push into the materialized parquet scan") {
    // appointment_date is a DATE column in the fixture parquet: the 30-day
    // range must reach the scan as min/max-prunable pushed filters. Read
    // scan metadata directly — the plan STRING truncates long filter lists.
    val df = graft.SparkEntry.queries("hc_completion_rate_30d")(spark, sf())
    val pushed = df.queryExecution.sparkPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec =>
        s.metadata.getOrElse("PushedFilters", "")
    }.mkString(" ")
    assert(pushed.contains("GreaterThanOrEqual(appointment_date"), pushed)
    assert(pushed.contains("LessThanOrEqual(appointment_date"), pushed)
    // soft-delete flag prunes at the scan too
    assert(pushed.contains("_snowflake_deleted"), pushed)
  }

  test("healthcare scans prune to the queried columns") {
    val p = planOf("hc_status_distribution")
    // only status / appointment_time / _snowflake_deleted are needed
    assert(!p.contains("reason_for_visit"), p)
    assert(!p.contains("created_at"), p)
  }

  test("semi/anti joins plan as LeftSemi/LeftAnti, not join+distinct") {
    val p = planOf("q_semi_anti_join")
    assert(p.contains("LeftSemi"), p)
    assert(p.contains("LeftAnti"), p)
    assert(!p.contains("SortMergeJoin"), "key-only build side should broadcast: " + p)
  }

  test("pivot plans as aggregates in one pipeline, not per-column self-joins") {
    val df = graft.SparkEntry.queries("q_pivot_status")(spark, sf())
    val p = df.queryExecution.sparkPlan.toString
    // two partial+final pairs: count by (prio,status), then pivotfirst by
    // prio — crucially a single pipeline, no join per pivot column
    assert("HashAggregate".r.findAllIn(p).size <= 4, p)
    assert(p.contains("pivotfirst"), p)
    assert(!p.contains("Join"), p)
  }

  test("range join: bucket equi-join, never a nested loop over points x intervals") {
    val df = graft.SparkEntry.queries("q_range_join_attr")(spark, sf())
    val p = df.queryExecution.sparkPlan.toString
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    // the containment predicate must ride on a bucket equi-join
    assert("(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin) \\[_bucket".r
      .findFirstIn(p).isDefined, p)
  }

  test("embedding near-dup LSH: band-bucket equi-joins only; the O(n^2) loop stays in the exact baseline") {
    val df = graft.SparkEntry.queries("q_dedup_embedding_lsh")(spark, sf())
    val p = df.queryExecution.sparkPlan.toString
    assert(!p.contains("CartesianProduct"), p)
    // every UNKEYED join must have a provably single-row side (the skew
    // guard's broadcast 1-row mean) — an O(n) fan-out, not an O(n²) loop.
    // Keyed joins (the band-bucket equi-joins) are what everything else
    // must be.
    import org.apache.spark.sql.catalyst.plans.logical.Join
    df.queryExecution.optimizedPlan.collect { case j: Join => j }.foreach { j =>
      val oneRowSide = j.left.maxRows.exists(_ <= 1) || j.right.maxRows.exists(_ <= 1)
      assert(j.condition.isDefined || oneRowSide,
        s"unkeyed join without a 1-row side:\n$j")
    }
  }

  test("ngram near-dup: the pair join keys on the shingle, never cross-joins") {
    val df = graft.SparkEntry.queries("q_dedup_ngram_jaccard")(spark, sf())
    val p = df.queryExecution.sparkPlan.toString
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    // the pair join is an EQUI-join keyed on the shingle (broadcast at this
    // tiny SF; hash-partitioned by sh at scale — never a nested loop)
    assert("(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin) \\[sh#".r
      .findFirstIn(p).isDefined, p)
  }

  test("repetition metrics: one scan, no joins, one doc_id exchange, no HOF lambdas") {
    val df = graft.SparkEntry.queries("q_repetition_gopher")(spark, sf())
    val p = df.queryExecution.sparkPlan.toString
    assert(!p.contains("Join"), p)          // pivot, not per-kind self-joins
    assert("Scan parquet".r.findAllIn(p).size == 1, "must read documents once: " + p)
    // grams must come from window lead + stack, not interpreted transform()
    // lambdas whose body re-evaluates the tokenizer per element (O(tokens²)
    // per doc — the 9.1 s regression this shape fixed). The single
    // permitted lambda is tokens()'s empty-filter, applied once per doc.
    assert(!p.contains("transform("), p)
    assert(p.contains("stack"), p)
    // the window's doc_id partitioning must feed the whole rollup chain:
    // exactly one hash exchange in the FINAL plan (strip AQE's trailing
    // "Initial Plan" echo before counting)
    val finalPlan = executedPlanOf("q_repetition_gopher").split("== Initial Plan ==")(0)
    val hashExchanges = "Exchange hashpartitioning".r.findAllIn(finalPlan).size
    assert(hashExchanges == 1, s"expected 1 hash exchange, got $hashExchanges")
  }

  test("tfidf: the corpus-count side is a broadcast 1-row aggregate, df join is keyed") {
    val df = graft.SparkEntry.queries("q_tfidf_topk")(spark, sf())
    val p = df.queryExecution.sparkPlan.toString
    assert(!p.contains("CartesianProduct"), p)
    import org.apache.spark.sql.catalyst.plans.logical.Join
    df.queryExecution.optimizedPlan.collect { case j: Join => j }.foreach { j =>
      val oneRowSide = j.left.maxRows.exists(_ <= 1) || j.right.maxRows.exists(_ <= 1)
      assert(j.condition.isDefined || oneRowSide, s"unkeyed join without a 1-row side:\n$j")
    }
  }

  test("vocabulary: top-N plans as TakeOrdered and joins back broadcast") {
    val p = graft.SparkEntry.queries("q_vocab_coverage")(spark, sf())
      .queryExecution.sparkPlan.toString
    assert(p.contains("TakeOrderedAndProject"), p) // never a global sort for top-N
    assert(p.contains("BroadcastHashJoin"), p)     // vocab side broadcast
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("training order: shard-local ranks, never a single-partition window") {
    // exchanges materialize in the executed plan (sparkPlan predates
    // EnsureRequirements); a global row_number would plan as
    // Exchange SinglePartition — the whole point of the shard formulation
    // is that it never appears
    val p = executedPlanOf("q_train_order")
    assert(!p.contains("Exchange SinglePartition"), p)
    assert(p.contains("Window"), p)
    assert(p.contains("hashpartitioning(shard"), p)
  }

  test("window functions: three orderings share ONE customer exchange, never single-partition") {
    val finalPlan = executedPlanOf("q_window_funcs").split("== Initial Plan ==")(0)
    assert(!finalPlan.contains("Exchange SinglePartition"), finalPlan)
    // all three windows partition by o_custkey: the first exchange
    // satisfies the other two (a sort each), so exactly one hash exchange
    val hashEx = "Exchange hashpartitioning".r.findAllIn(finalPlan).size
    assert(hashEx == 1, s"expected 1 hash exchange, got $hashEx\n$finalPlan")
  }

  test("full outer join co-partitions with its aggregate inputs (no third exchange)") {
    val finalPlan = executedPlanOf("q_join_full_outer").split("== Initial Plan ==")(0)
    assert(!finalPlan.contains("BroadcastNestedLoopJoin"), finalPlan)
    // each side exchanges once for its groupBy on the join key; the full
    // outer join must reuse that partitioning, not add a third exchange
    val hashEx = "Exchange hashpartitioning".r.findAllIn(finalPlan).size
    assert(hashEx <= 2, s"expected <=2 hash exchanges, got $hashEx\n$finalPlan")
  }

  test("salted aggregation: two exchanges — salted partial phase, then key merge") {
    val finalPlan = executedPlanOf("q_skew_salted_agg").split("== Initial Plan ==")(0)
    assert(finalPlan.contains("_salt"), finalPlan)
    // phase 1 exchanges on (event_type, _salt), phase 2 on event_type —
    // exactly two hash exchanges, the whole point of the two-phase shape
    val hashEx = "Exchange hashpartitioning".r.findAllIn(finalPlan).size
    assert(hashEx == 2, s"expected 2 hash exchanges, got $hashEx\n$finalPlan")
  }

  test("SCD2: ROW_NUMBER and LEAD share one window — one hash exchange, one Window op") {
    val finalPlan = executedPlanOf("q_cdc_scd2").split("== Initial Plan ==")(0)
    assert(!finalPlan.contains("Exchange SinglePartition"), finalPlan)
    val hashEx = "Exchange hashpartitioning".r.findAllIn(finalPlan).size
    assert(hashEx == 1, s"expected 1 hash exchange, got $hashEx\n$finalPlan")
    // both window functions share the window spec, so Catalyst evaluates
    // them in a single Window operator over a single sort
    val windows = "Window \\[".r.findAllIn(finalPlan).size
    assert(windows == 1, s"expected 1 Window operator, got $windows\n$finalPlan")
  }

  test("moving window: daily rollup reduces BEFORE the RANGE frame; never single-partition") {
    val finalPlan = executedPlanOf("q_window_moving").split("== Initial Plan ==")(0)
    assert(!finalPlan.contains("Exchange SinglePartition"), finalPlan)
    // exchange 1: the (prio, day) rollup; exchange 2: re-key the bounded
    // daily series by prio for the frame — the window must consume the
    // aggregate, not raw orders
    val hashEx = "Exchange hashpartitioning".r.findAllIn(finalPlan).size
    assert(hashEx == 2, s"expected 2 hash exchanges, got $hashEx\n$finalPlan")
    assert(finalPlan.contains("specifiedwindowframe(RangeFrame"), finalPlan)
  }

  test("changelog compaction: both orderings and the aggregate share ONE exchange") {
    val finalPlan = executedPlanOf("q_cdc_compaction").split("== Initial Plan ==")(0)
    assert(!finalPlan.contains("Exchange SinglePartition"), finalPlan)
    val hashEx = "Exchange hashpartitioning".r.findAllIn(finalPlan).size
    assert(hashEx == 1, s"expected 1 hash exchange, got $hashEx\n$finalPlan")
  }

  test("SCD2 as-of snapshot: interval filter rides the same single exchange") {
    val finalPlan = executedPlanOf("q_cdc_scd2_asof").split("== Initial Plan ==")(0)
    assert(!finalPlan.contains("Exchange SinglePartition"), finalPlan)
    val hashEx = "Exchange hashpartitioning".r.findAllIn(finalPlan).size
    assert(hashEx == 1, s"expected 1 hash exchange, got $hashEx\n$finalPlan")
  }

  test("co-occurrence: lead+stack pair stream, top-k as TakeOrdered, no HOF lambdas") {
    val p = planOf("q_cooccurrence")
    assert(p.contains("TakeOrderedAndProject"), p) // never a global sort for top-50
    assert(!p.contains("transform("), p)           // pairs via window lead, not interpreted lambdas
    assert(p.contains("stack"), p)
    assert(!p.contains("Join"), p)                 // one scan, no self-join over positions
  }

  test("sessionize: lag window, running sum, and session aggregate share ONE user exchange") {
    // both windows partition by user_id with the same ordering, and the
    // final groupBy(user_id, session_idx) is subset-clustered on user_id —
    // the whole chain rides one exchange
    val finalPlan = executedPlanOf("q_sessionize").split("== Initial Plan ==")(0)
    assert(!finalPlan.contains("Exchange SinglePartition"), finalPlan)
    val hashEx = "Exchange hashpartitioning".r.findAllIn(finalPlan).size
    assert(hashEx == 1, s"expected 1 hash exchange, got $hashEx\n$finalPlan")
  }

  test("mixture sampling: per-language rates broadcast to a map-side filter") {
    val p = graft.SparkEntry.queries("q_mix_temperature")(spark, sf())
      .queryExecution.sparkPlan.toString
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("span profile: ONE documents scan; the gram postings exchange feeds both branches") {
    // the duplicated-span profile references the gram stream twice (the
    // distinct-doc frequency aggregate and the instance join-back) — at
    // 100 TB, re-tokenizing per consumer would double the dominant cost.
    // The doc_id postings exchange must be ReusedExchange'd, leaving ONE
    // parquet scan in the final plan.
    val finalPlan = executedPlanOf("q_dedup_span").split("== Initial Plan ==")(0)
    assert(!finalPlan.contains("CartesianProduct"), finalPlan)
    assert("FileScan parquet".r.findAllIn(finalPlan).size == 1,
      "documents must be scanned once: " + finalPlan.take(4000))
    assert(finalPlan.contains("ReusedExchange"), finalPlan.take(4000))
  }

  test("k-means: centroids broadcast on every assignment round; no cartesian") {
    // both Lloyd rounds score each vector row against ONE row holding the
    // current k×64 centroids — at any corpus size that side is one row, so
    // the assignment must plan as a broadcast nested-loop join (the vector
    // stream never shuffles for it) and nothing may degrade to a cartesian.
    val finalPlan = executedPlanOf("q_kmeans_assign").split("== Initial Plan ==")(0)
    assert(!finalPlan.contains("CartesianProduct"), finalPlan.take(4000))
    assert(finalPlan.contains("BroadcastNestedLoopJoin"), finalPlan.take(4000))
    assert(!finalPlan.contains("SortMergeJoin"),
      "centroid join degraded to SMJ: " + finalPlan.take(4000))
  }

  test("k-means: assignment passes are per-row kernels — no join on the component index") {
    // the relational Lloyd pass exploded every component and joined it to
    // every centroid's on `i`; the kernel pass keeps one row per vector
    // and its only joins are unkeyed against the ≤1-row centroid array
    import org.apache.spark.sql.catalyst.plans.logical.Join
    val df = graft.SparkEntry.queries("q_kmeans_assign")(spark, sf())
    val joins = df.queryExecution.optimizedPlan.collect { case j: Join => j }
    assert(joins.size == 2, s"expected one centroid join per Lloyd round:\n${joins.mkString("\n")}")
    joins.foreach { j =>
      assert(!j.condition.exists(_.references.exists(_.name == "i")),
        s"assignment joins on the component index:\n$j")
      assert(j.condition.isEmpty && j.right.maxRows.exists(_ <= 1),
        s"centroid side is not a single broadcast row:\n$j")
    }
  }

  test("exact embedding dedup: the sort sits on a single-partition exchange, not a range exchange on the nested-loop join") {
    // a range exchange samples its input: directly on the O(n²) join that
    // sample job ran every dot product once and the shuffle ran them again
    import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
    object H extends AdaptiveSparkPlanHelper
    val df = graft.SparkEntry.queries("q_dedup_embedding")(spark, sf())
    df.collect()
    val plan = df.queryExecution.executedPlan
    def hasBnlj(p: org.apache.spark.sql.execution.SparkPlan) =
      H.find(p)(_.isInstanceOf[BroadcastNestedLoopJoinExec]).isDefined
    assert(hasBnlj(plan), plan.toString)
    val rangeOverJoin = H.collect(plan) {
      case x: ShuffleExchangeExec
          if x.outputPartitioning.isInstanceOf[RangePartitioning] && hasBnlj(x.child) => x
    }
    assert(rangeOverJoin.isEmpty, plan.toString)
  }

  test("time travel: journal winners anti-join the snapshot; no cartesian") {
    val finalPlan = executedPlanOf("hc_time_travel_asof").split("== Initial Plan ==")(0)
    assert(!finalPlan.contains("CartesianProduct"), finalPlan.take(4000))
    assert(finalPlan.contains("LeftAnti"),
      "snapshot must exclude touched keys via LEFT ANTI, not a rewrite: " +
        finalPlan.take(4000))
  }

  test("span removal: first-occurrence via argmin AGGREGATE, never a per-gram window") {
    // the rewrite ranks occurrences per GRAM — a row_number window
    // partitioned by gram would put every occurrence of a hot gram ("the
    // end of" at web scale) in one task; the plan must instead compute the
    // corpus-wide first occurrence as min(struct(doc_id, pos)), which
    // partial-aggregates map-side. No pair join anywhere in the rewrite.
    val finalPlan = executedPlanOf("q_dedup_span_removal").split("== Initial Plan ==")(0)
    assert(!finalPlan.contains("CartesianProduct"), finalPlan.take(4000))
    // exactly ONE window operator (the per-doc lead() gram builder,
    // doc_id-partitioned); a second would be the per-gram rank
    assert("Window".r.findAllIn(finalPlan).size <= 2, // Window + its sort node name overlap
      "unexpected extra Window (per-gram rank?): " + finalPlan.take(4000))
    assert(!finalPlan.contains("partitionBy(gram)") &&
      !finalPlan.contains("windowspecdefinition(gram"),
      "per-gram window found: " + finalPlan.take(4000))
    assert(finalPlan.contains("min(struct("), // the argmin first-occurrence
      "argmin aggregate missing: " + finalPlan.take(4000))
  }

  test("fuzzy match: variant-keyed equi-join, salted cells, bare pairs — never all-pairs") {
    // FastSS blocking's whole value is replacing the O(n²) name comparison
    // with an inverted-index join — the plan must show the variant-keyed
    // equi-join carrying the salt-cell coordinates (the r11 skew guard:
    // (variant, _p, _q) keys spread a hot bucket's exact pair set across
    // bounded reducer cells), with levenshtein as a post-filter. The pairs
    // travel BARE (id_a, id_b) and names rejoin from a second customer
    // scan — two scans total is the contract (variant derivation + name
    // lookup; the two name sides dedupe via ReusedExchange).
    val finalPlan = executedPlanOf("q_fuzzy_match_name").split("== Initial Plan ==")(0)
    assert(!finalPlan.contains("CartesianProduct"), finalPlan)
    assert(!finalPlan.contains("BroadcastNestedLoopJoin"), finalPlan)
    assert(raw"(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin) \[variant#".r
      .findFirstIn(finalPlan).isDefined, finalPlan.take(4000))
    assert("FileScan parquet".r.findAllIn(finalPlan).size <= 2,
      "customer scanned more than twice (variants + name rejoin): " + finalPlan.take(4000))
    assert(finalPlan.contains("levenshtein"), finalPlan.take(4000))
  }

  test("boilerplate: per-source rank is shard-local; doc-count side broadcasts") {
    val finalPlan = executedPlanOf("q_boilerplate_by_source").split("== Initial Plan ==")(0)
    assert(!finalPlan.contains("Exchange SinglePartition"), finalPlan)
    assert(!finalPlan.contains("CartesianProduct"), finalPlan)
    assert(finalPlan.contains("BroadcastHashJoin") || finalPlan.contains("BroadcastExchange"),
      finalPlan.take(4000))
  }

  test("salted join: salt rides the join key; dim replicates on the build side") {
    val finalPlan = executedPlanOf("q_skew_salted_join").split("== Initial Plan ==")(0)
    assert(finalPlan.contains("_salt"), finalPlan.take(4000))
    // the join must key on (type, salt) — the fan-out that spreads a hot key
    assert(raw"(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin) \[event_type#\d+, _salt#".r
      .findFirstIn(finalPlan).isDefined, finalPlan.take(4000))
    assert(!finalPlan.contains("CartesianProduct"), finalPlan)
  }

  test("PQ-ADC: codebooks and distance table broadcast; shortlist is TakeOrdered") {
    val finalPlan = executedPlanOf("q_ann_pq_adc").split("== Initial Plan ==")(0)
    assert(!finalPlan.contains("CartesianProduct"), finalPlan)
    assert(!finalPlan.contains("BroadcastNestedLoopJoin"), finalPlan)
    // every join in the pipeline (assignment, encoding, ADC lookup,
    // refine) carries a broadcast side — the corpus stream is never
    // shuffled against another large relation
    assert(finalPlan.contains("BroadcastHashJoin"), finalPlan.take(4000))
    assert(!finalPlan.contains("SortMergeJoin"), finalPlan.take(4000))
    // the ADC shortlist must be a top-k, not a global sort
    assert(finalPlan.contains("TakeOrderedAndProject"), finalPlan.take(4000))
  }

  test("quality classifier: map-only — one scan, no joins, no pre-sort exchange") {
    val finalPlan = executedPlanOf("q_quality_classifier").split("== Initial Plan ==")(0)
    assert(!finalPlan.contains("Join"), finalPlan)
    assert("FileScan parquet".r.findAllIn(finalPlan).size == 1, finalPlan)
    // only the final ORDER BY may exchange (rangepartitioning); the
    // classification itself must not shuffle
    assert(!finalPlan.contains("Exchange hashpartitioning"), finalPlan)
  }

  test("lm familiarity: one scan; token exchange reused; LM side broadcasts") {
    val finalPlan = executedPlanOf("q_lm_familiarity").split("== Initial Plan ==")(0)
    assert("FileScan parquet".r.findAllIn(finalPlan).size == 1,
      "documents must be scanned once: " + finalPlan.take(4000))
    assert(finalPlan.contains("ReusedExchange"),
      "the bigram stream must be computed once and reused: " + finalPlan.take(4000))
    assert(finalPlan.contains("BroadcastHashJoin"),
      "the vocabulary-sized LM joins broadcast at this scale: " + finalPlan.take(4000))
    assert(!finalPlan.contains("CartesianProduct"), finalPlan)
  }

  test("bloom decontamination: bit test filters the corpus BELOW the verify join") {
    // the whole point of the bloom face: the corpus stream is cut by a
    // map-side codegen'd bit test (xxhash64 probes against an array
    // literal) before any join sees it — the verify join's input is the
    // pruned stream, not the full postings
    val finalPlan = executedPlanOf("q_decontaminate_bloom").split("== Initial Plan ==")(0)
    assert(!finalPlan.contains("CartesianProduct"), finalPlan)
    // a Filter node carrying the probe hashes must exist (the bit test),
    // and it must sit in the same stage as the scan side of the join —
    // i.e. the plan contains the xxhash64 probe at all (the plain face has
    // no xxhash64 anywhere)
    assert(finalPlan.contains("xxhash64"), finalPlan.take(4000))
    assert("Filter.*xxhash64".r.findFirstIn(finalPlan).isDefined, finalPlan.take(4000))
    val plain = executedPlanOf("q_decontaminate").split("== Initial Plan ==")(0)
    assert(!plain.contains("xxhash64"), "control: plain face must not carry probes")
  }

  test("PII scrub: map-only — no joins, no exchanges before the final sort") {
    val finalPlan = executedPlanOf("q_pii_scrub").split("== Initial Plan ==")(0)
    assert(!finalPlan.contains("Join"), finalPlan)
    assert("FileScan parquet".r.findAllIn(finalPlan).size == 1, finalPlan)
    // only the output orderBy's range exchange is allowed
    assert("Exchange hashpartitioning".r.findAllIn(finalPlan).isEmpty, finalPlan)
  }

  test("LSH skew guard: pair-generating consumers share ONE banded exchange") {
    // tagHot is a window over the bucket key precisely so the PAIR-GENERATING
    // consumers — both self-join sides and the hot-star branch — hang off a
    // single exchange of the banded rows (the agg+join-back shape recomputed
    // the whole upstream — for MinHash, the signature pipeline — once per
    // consumer; AQE stage reuse can't unify a partial-agg exchange with a
    // raw-row exchange). The one consumer that legitimately keeps its own
    // exchange is the 1-row mean: column pruning drops the id from its
    // branch, so its exchange carries a narrower schema and cannot be the
    // same shuffle. AQE prints a reused stage's subtree at every use site,
    // so DISTINCT plan_ids in the FINAL plan (not occurrence count) is the
    // dedup evidence: 4 consumers, ≤2 distinct exchanges, and the modal one
    // serves ≥3 use sites.
    val df = graft.SparkEntry.queries("q_dedup_simhash")(spark, sf())
    df.collect()
    val finalPlan = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    val ids =
      raw"Exchange hashpartitioning\(chunk_id#\d+, chunk#\d+L?, \d+\), ENSURE_REQUIREMENTS, \[plan_id=(\d+)\]".r
        .findAllMatchIn(finalPlan).map(_.group(1)).toList
    val distinct = ids.toSet
    assert(distinct.size <= 2, s"banded exchange duplicated: $ids\n${finalPlan.take(4000)}")
    val modalUses = ids.groupBy(identity).values.map(_.size).max
    assert(modalUses >= 3,
      s"expected the shared banded exchange at ≥3 use sites, got $ids\n${finalPlan.take(4000)}")
  }

  test("PageRank: broadcast 1-row N, keyed contribution joins, top-k without global sort") {
    val p = planOf("q_pagerank")
    assert(p.contains("TakeOrderedAndProject"), p.take(2000))
    // the only nested-loops are broadcasts of the 1-ROW node count: one per
    // re-expanded iteration lineage (iterations + 1 = 4 — the declarative
    // form re-derives init under every round; a production run persists the
    // edge/init frames per the operator's Scaladoc, which collapses these)
    assert(!p.contains("CartesianProduct"), p.take(2000))
    val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(p).size
    assert(bnlj <= 4, s"unexpected nested-loop joins ($bnlj)\n${p.take(2000)}")
    // per-round contribution aggregates are partial+final on the dst key
    assert(p.contains("HashAggregate(keys=[node#"), p.take(2000))
  }

  test("ER clustering: keyed member join-back, no all-pairs anywhere") {
    val p = planOf("q_er_clusters")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      p.take(2000))
    // the join back to customer is an equi-join on the custkey
    assert(p.contains("Join [id#") || p.contains("[c_custkey#"), p.take(2000))
  }

  test("gap-fill: daily close rides WindowGroupLimit, fill window is user-partitioned") {
    val p = planOf("q_gapfill_ffill")
    // rn=1 per (user, day) plans as a group-limit pushdown, not a full
    // window materialization (partial+final pre-shuffle prune)
    assert(p.contains("WindowGroupLimit"), p.take(3000))
    // the forward-fill window is partitioned — never "move all to one"
    assert(p.contains("windowspecdefinition(user_id#"), p.take(3000))
    assert(!p.contains("CartesianProduct"), p.take(3000))
  }

  test("BM25: query-side stats broadcast, per-doc score partial+final, top-k TakeOrdered") {
    val p = planOf("q_bm25_topk")
    assert(p.contains("TakeOrderedAndProject"), p.take(2000))
    // df (per-term) and (L, N) corpus totals reach the scoring join as
    // broadcasts; the corpus-totals side is the 1-row nested-loop build
    assert("BroadcastExchange|BroadcastHashJoin|BroadcastNestedLoopJoin".r
      .findAllIn(p).size >= 2, p.take(3000))
    // score = Σ idf·tfn per doc: map-side combine before the doc_id exchange
    assert(p.contains("partial_sum((idf1k#"), p.take(3000))
  }

  test("audio features: decode-only MapPartitions, aggregates keyed by doc_id") {
    val p = planOf("q_audio_features")
    assert(p.contains("MapPartitions"), p.take(2000))
    assert(p.contains("HashAggregate(keys=[doc_id#"), p.take(2000))
    assert(!p.contains("CartesianProduct"), p.take(2000))
  }

  test("weighted sampling: k-smallest via TakeOrdered; rank window only over the k survivors") {
    val p = planOf("q_sample_weighted")
    assert(p.contains("TakeOrderedAndProject(limit=50"), p.take(2000))
    // the ONLY window sits ABOVE the TakeOrdered — it ranks the ≤ 50
    // survivors, never the corpus (a global rank-then-filter would be the
    // single-partition-sort anti-shape)
    assert(p.indexOf("Window ") < p.indexOf("TakeOrderedAndProject"), p.take(2000))
    assert(p.contains("PushedFilters: [IsNotNull(n_chars), GreaterThan(n_chars,0)]"), p.take(2000))
  }

  test("snapshot diff: latest-per-key prunes pre-shuffle; keyed full-outer merge; frontier pushed") {
    val p = planOf("q_snapshot_diff")
    assert(p.contains("FullOuter"), p.take(3000))
    // rn=1 plans as WindowGroupLimit partial+final in BOTH snapshot
    // branches — each side ships at most one candidate row per key per
    // input partition into the shuffle, not the whole history
    assert("WindowGroupLimit".r.findAllIn(p).size >= 4, p.take(3000))
    // the old-frontier predicate reaches the parquet scan
    assert(p.contains("LessThan(ts,2024-01-15"), p.take(3000))
  }

  test("TWAP: LEAD window and aggregate share ONE user exchange; sums partial+final") {
    val p = planOf("q_twap")
    assert(p.contains("partial_sum((v_cents"), p.take(3000))
    assert(p.contains("windowspecdefinition(user_id#"), p.take(3000))
    // AQE's toString prints Final AND Initial plans — count only the final
    val ep = executedPlanOf("q_twap").split("== Initial Plan ==").head
    val userExchanges = "Exchange hashpartitioning\\(user_id#".r.findAllIn(ep).size
    assert(userExchanges == 1, s"expected 1 user_id exchange, got $userExchanges\n${ep.take(3000)}")
  }

  test("correlation matrix: ONE lineitem scan feeds all nine sufficient statistics") {
    val p = planOf("q_corr_matrix")
    assert("FileScan parquet".r.findAllIn(p).size == 1, p.take(3000))
    assert(p.contains("partial_sum((price_usd"), p.take(3000))
    // the 3-pair reshape explodes the single aggregate output row
    assert(p.contains("Generate explode(array(struct"), p.take(3000))
  }

  test("triangles: kNN prune via WindowGroupLimit; part join is keyed; only 1-row cross joins") {
    val p = planOf("q_graph_triangles")
    assert(!p.contains("CartesianProduct"), p.take(3000))
    // top-5-per-node prunes partial+final BEFORE the undirected dedup
    assert(p.contains("WindowGroupLimit"), p.take(3000))
    // co-supply pair generation is an equi-join on the part key
    assert(p.contains("Join [p#") || p.contains("BroadcastHashJoin [p#"), p.take(3000))
    // the only nested-loop joins assemble the three 1-ROW aggregate outputs
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).size <= 2, p.take(3000))
  }

  test("DL distance: native expression in-plan; neighbor pairing is a keyed join, never all-pairs") {
    val p = planOf("q_dl_distance")
    assert(p.contains("damerau_levenshtein("), p.take(3000))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p.take(3000))
    // both pair populations feed one partial+final histogram aggregate
    assert(p.contains("partial_count(1)"), p.take(3000))
  }

  test("equi-depth histogram and discrete quantiles: windows are stratum-partitioned") {
    val ph = planOf("q_hist_equidepth")
    assert(ph.contains("windowspecdefinition(lang#"), ph.take(2000))
    val pm = planOf("q_median_disc")
    assert(pm.contains("windowspecdefinition(source#"), pm.take(2000))
    // the rank and per-group-count windows share the (source) exchange:
    // exactly one source-keyed shuffle in the executed plan
    val ep = executedPlanOf("q_median_disc").split("== Initial Plan ==").head
    val srcExchanges = "Exchange hashpartitioning\\(source#".r.findAllIn(ep).size
    assert(srcExchanges == 1, s"expected 1 source exchange, got $srcExchanges\n${ep.take(3000)}")
  }

  test("k-anonymity: one map-side-combined aggregate over a pruned scan") {
    val p = planOf("q_kanonymity")
    assert(p.contains("partial_count(1)"), p.take(2000))
    assert(p.contains("ReadSchema: struct<c_nationkey:int,c_acctbal:double,c_mktsegment:string"), p.take(2000))
  }

  test("int8 quantization: per-dim stats broadcast back; one explode pass, no cartesian") {
    val p = planOf("q_quantize_int8")
    assert(p.contains("BroadcastHashJoin [dim#"), p.take(3000))
    assert("Generate posexplode".r.findAllIn(p).size <= 2, p.take(3000))
    assert(!p.contains("CartesianProduct"), p.take(3000))
  }

  test("source overlap: per-source sizes broadcast; top-20 via TakeOrdered, no all-pairs docs") {
    val p = planOf("q_source_overlap")
    assert(p.contains("TakeOrderedAndProject"), p.take(3000))
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
    assert(!p.contains("CartesianProduct"), p.take(3000))
  }

  test("NFC normalization: map-only — native expression, no exchanges before the 1-row aggregate") {
    val p = planOf("q_unicode_nfc")
    assert(p.contains("nfc_normalize("), p.take(2000))
    assert(!p.contains("Join"), p.take(2000))
  }

  test("rate limit: tagging window and the day aggregate share the (user, day) clustering") {
    val p = planOf("q_rate_limit")
    assert(p.contains("windowspecdefinition(user_id#"), p.take(3000))
    // tag + aggregate run off one hash exchange on (user_id, day_num)
    val ep = executedPlanOf("q_rate_limit").split("== Initial Plan ==").head
    val exchanges = "Exchange hashpartitioning\\(user_id#".r.findAllIn(ep).size
    assert(exchanges == 1, s"expected 1 (user, day) exchange, got $exchanges\n${ep.take(3000)}")
  }

  test("stream left-outer interval join: outer keyed join with the range condition in the plan") {
    val p = planOf("q_stream_left_outer")
    assert(p.contains("LeftOuter"), p.take(3000))
    // the time-range rides the join condition (what bounds streaming state)
    assert(p.contains("HOUR") && !p.contains("CartesianProduct"), p.take(3000))
    assert(p.contains("EqualTo(event_type,click)"), p.take(3000))
  }

  test("HLL sketch: downstream of the checkpointed aggregates — broadcast grid join, no cartesian") {
    // the register build's own partial+final shape is audited in SketchSpec
    // (the final plan reads the eager checkpoints, so it isn't visible here)
    val p = planOf("q_distinct_hll")
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
    assert(!p.contains("CartesianProduct"), p.take(3000))
  }

  test("KMV sketch: bounded k-min aggregate with map-side partials; pairs side is bounded") {
    val p = planOf("q_distinct_kmv_intersect")
    // r13: the typed KMinAgg replaced the salt+window two-level — the plan
    // must show the bounded aggregate (≤ k longs per partial buffer,
    // ObjectHashAggregate with the kmin function) and no collect_set
    // anywhere. The one remaining row_number is the union-sketch member
    // re-rank over ≤ 2k rows per source pair — WindowGroupLimit-capped,
    // never a window over raw hashes.
    assert(p.contains("ObjectHashAggregate") && p.contains("kmin(hv#"), p.take(4000))
    assert(!p.contains("collect_set"), p.take(4000))
    val ep = executedPlanOf("q_distinct_kmv_intersect").split("== Initial Plan ==").head
    assert(ep.contains("WindowGroupLimit"), ep.take(4000))
    assert(!p.contains("CartesianProduct"), p.take(4000))
  }

  test("z-order layout: map-only key chain, one combined rollup, no joins, codegen'd") {
    val p = planOf("q_zorder_layout")
    assert(!p.contains("Join"), p.take(3000))
    assert(p.contains("partial_min") && p.contains("partial_max"), p.take(3000))
    val ep = executedPlanOf("q_zorder_layout").split("== Initial Plan ==").head
    assert(ep.contains("*(1) "), ep.take(3000))
  }

  test("stream enrichment: static dim broadcasts — the stream side is never re-keyed") {
    val p = planOf("q_stream_enrich")
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
    assert(!p.contains("SortMergeJoin"), p.take(3000))
  }

  test("A/B chi-square: one map-side-combined aggregate, no joins") {
    val p = planOf("q_ab_chisq")
    assert(p.contains("partial_sum"), p.take(3000))
    assert(!p.contains("Join"), p.take(3000))
  }

  test("rollup rewrite: the base-table aggregate is served from the rollup scan") {
    val ep = executedPlanOf("q_rollup_serve")
    assert(ep.contains("rollup_store"), ep.take(3000))
    // the base parquet must be ABSENT from the executed plan — the whole
    // point of the rewrite is that 100 TB of orders is never scanned
    assert(!ep.contains("orders.parquet"), ep.take(3000))
    // and the Aggregate itself is gone (the rollup rows are pre-aggregated)
    assert(!ep.contains("HashAggregate"), ep.take(3000))
  }

  test("bucketed join: both fact scans deliver the partitioning — no exchange on the join key") {
    // at the gate corpus size Catalyst rightly broadcasts the tiny orders
    // side (also exchange-free); the claim under audit is the AT-SCALE
    // path — both sides too big to broadcast — so force it off and the
    // bucket metadata must carry the join alone
    val before = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val df = graft.SparkEntry.queries("q_bucketed_join")(spark, sf())
      df.collect()
      val ep = df.queryExecution.executedPlan.toString
      assert(ep.contains("SortMergeJoin") || ep.contains("ShuffledHashJoin"), ep.take(4000))
      assert(ep.contains("Bucketed: true"), "scans must report bucket metadata: " + ep.take(4000))
      // no shuffle on either join key — the whole point; the only exchange
      // allowed is the rollup's (o_orderpriority)
      assert(raw"Exchange hashpartitioning\((o_orderkey|l_orderkey)".r.findFirstIn(ep).isEmpty,
        "join key was shuffled despite bucketing: " + ep.take(4000))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", before)
  }

  test("rollup rewrite fires under a grain-level date-range filter (dashboard shape)") {
    val ep = executedPlanOf("q_rollup_serve_window")
    assert(ep.contains("rollup_store"), ep.take(3000))
    // base orders parquet absent AND no re-aggregation — the range filter
    // commuted above the rollup scan instead
    assert(!ep.contains("orders.parquet"), ep.take(3000))
    assert(!ep.contains("HashAggregate"), ep.take(3000))
    // and the range pushed into the ROLLUP scan (partition/row-group
    // pruning at 100 TB rides the normal pushdown machinery)
    assert(ep.contains("PushedFilters: [IsNotNull(o_orderdate)"), ep.take(3000))
  }

  test("rollup rewrite serves an aggregate over a fact ⋈ dim join from rollup ⋈ dim") {
    val ep = executedPlanOf("q_rollup_serve_join")
    // the served plan scans the per-customer ROLLUP, never the base fact
    assert(ep.contains("rollup_store"), ep.take(4000))
    assert(!ep.contains("orders.parquet"), ep.take(4000))
    // the dim joins BROADCAST (the replacement pins the hint — at 100 TB
    // the rollup side still shuffles only for the final regroup)
    assert(ep.contains("BroadcastHashJoin"), ep.take(4000))
    assert(ep.contains("customer.parquet"), ep.take(4000))
  }

  test("join rollup rewrite does NOT fire for an outer join or a filtered shape") {
    graft.SparkEntry.queries("q_rollup_serve_join")(spark, sf()) // rule + spec installed
    // LEFT join: not the registered inner shape — must scan the base
    val outer = graft.analytics.Tables.orders(spark, sf())
      .join(graft.analytics.Tables.customer(spark, sf()),
        col("o_custkey") === col("c_custkey"), "left")
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_orders"),
        sum(expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)")).as("sum_cents"))
    outer.collect()
    val epOuter = outer.queryExecution.executedPlan.toString
    assert(epOuter.contains("orders.parquet"), epOuter.take(3000))
    // a filter between scan and aggregate: blocks (it filters rows the
    // rollup already merged away)
    val filtered = graft.analytics.Tables.orders(spark, sf())
      .filter(col("o_orderpriority") === "1-URGENT")
      .join(graft.analytics.Tables.customer(spark, sf()),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_orders"),
        sum(expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)")).as("sum_cents"))
    filtered.collect()
    val epF = filtered.queryExecution.executedPlan.toString
    assert(epF.contains("orders.parquet"), epF.take(3000))
    // and a different aggregate signature over the same join: blocks
    val other = graft.analytics.Tables.orders(spark, sf())
      .join(graft.analytics.Tables.customer(spark, sf()),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(max(col("o_totalprice")).as("max_price"))
    other.collect()
    val epO = other.queryExecution.executedPlan.toString
    assert(epO.contains("orders.parquet"), epO.take(3000))
  }

  test("rollup rewrite does NOT fire when the filter touches a non-grouping column") {
    // a predicate WITHIN the group (o_orderpriority is not in the grain)
    // cannot be answered from pre-aggregated rows — must scan the base
    graft.SparkEntry.queries("q_rollup_serve")(spark, sf()) // ensure rule installed
    val q = graft.analytics.Tables.orders(spark, sf())
      .filter(col("o_orderpriority") === "1-URGENT")
      .groupBy("o_orderdate")
      .agg(count(lit(1)).as("n_orders"),
        sum(expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)")).as("sum_cents"))
    q.collect()
    val ep = q.queryExecution.executedPlan.toString
    assert(ep.contains("orders.parquet"), ep.take(3000))
    assert(ep.contains("HashAggregate"), ep.take(3000))
  }

  test("rollup rewrite does NOT fire for a non-matching aggregate over the same base") {
    // same base table, different grouping — must scan the base and aggregate
    graft.SparkEntry.queries("q_rollup_serve")(spark, sf()) // ensure rule installed
    val other = graft.analytics.Tables.orders(spark, sf())
      .groupBy("o_orderpriority").agg(count(lit(1)).as("n"))
    other.collect()
    val ep = other.queryExecution.executedPlan.toString
    assert(ep.contains("orders.parquet"), ep.take(3000))
    assert(ep.contains("HashAggregate"), ep.take(3000))
  }

  test("AUC: per-bin rollup map-side combined; the prefix-sum window consumes BINS, not docs") {
    val p = planOf("q_classifier_auc")
    assert(p.contains("partial_sum"), p.take(4000))
    assert(!p.contains("CartesianProduct"), p.take(4000))
    // the global-order window's child must be the binned aggregate (bin
    // cardinality), never the raw doc frame: plans print top-down, so the
    // feeding HashAggregate(keys=[bin…]) appears right AFTER the Window
    val win = p.indexOf("Window ")
    val aggUnderWin = p.indexOf("HashAggregate(keys=[bin", win)
    assert(win >= 0 && aggUnderWin > win, p.take(4000))
  }

  test("batched hybrid retrieval: one corpus tf exchange, bounded top-K, no global windows") {
    // the postings builder — the lexical arm's ONLY corpus-sized work —
    // has exactly ONE (doc, term) exchange, with the query-term prune
    // broadcast into it
    val t = spark.read.parquet(s"${sf()}/documents.parquet")
      .select(col("doc_id"),
        graft.functions.TextFunctions.tokens(col("text")).as("toks"))
    val qt = graft.pipeline.RetrievalQueries.batchQueryTerms(t).localCheckpoint()
    val tfPlan = graft.pipeline.RetrievalQueries.batchTf(t, qt)
      .queryExecution.executedPlan.toString
    assert("hashpartitioning\\(doc_id#\\d+L?, term#\\d+".r.findAllIn(tfPlan).size == 1,
      tfPlan.take(4000))
    assert(tfPlan.contains("BroadcastHashJoin"), tfPlan.take(4000))

    // the registered query: postings and query terms enter via their
    // eager checkpoints, so the final plan has ZERO corpus-sized
    // (doc, term) exchanges — adding queries widens broadcasts only
    val p = executedPlanOf("q_hybrid_rrf_batch")
    assert("hashpartitioning\\(doc_id#\\d+L?, term#\\d+".r.findAllIn(p).isEmpty,
      p.take(4000))
    // both arms' per-query top-K ride the BOUNDED kminBy aggregate (≤ K
    // pairs per partial), partial+final — never a corpus-wide rank window
    // (AQE prints materialized stage subtrees twice, so count ≥, not ==)
    assert("partial_kminby".r.findAllIn(p).size >= 2, p.take(4000))
    // every window is partitioned per query — a batched serving plan must
    // have NO unpartitioned window anywhere
    val partitioned = "windowspecdefinition\\((query_id|doc_id)#"
    assert("windowspecdefinition\\(".r.findAllIn(p).size ==
      partitioned.r.findAllIn(p).size, p.take(4000))
    // the only sort-merge join joins the two ≤K-row-per-query shortlists
    // (≤ 2 matches: AQE prints the one materialized stage subtree twice)
    assert("SortMergeJoin".r.findAllIn(p).size <= 2, p.take(4000))
  }

  test("IVFPQ: the ADC codes scan is list-pruned by a broadcast of the probed lists") {
    val p = executedPlanOf("q_ann_ivfpq_topk")
    // the ADC aggregate is the partial sum of broadcast distance-table
    // lookups — find it, then check its SUBTREE (plans print top-down):
    // the codes feed through a label-keyed BroadcastHashJoin — the
    // nprobe prune — so the scan that reaches ADC covers the probed
    // lists only, never the whole codes index
    val adcAgg = p.indexOf("partial_sum(d#")
    assert(adcAgg >= 0, p.take(4000))
    val labJoin = "BroadcastHashJoin \\[label#\\d+".r
      .findFirstMatchIn(p.substring(adcAgg))
    assert(labJoin.isDefined,
      "no label-keyed broadcast prune under the ADC aggregate\n" + p.take(4000))
    // and the probed-lists side is a 2-row broadcast, never a shuffle:
    // no sort-merge join anywhere on the serving path
    assert(!p.substring(adcAgg).contains("SortMergeJoin"), p.take(4000))
  }

  test("batched IVFPQ: query sides broadcast, bounded kminBy shortlists, per-query windows only") {
    val p = executedPlanOf("q_ann_ivfpq_batch")
    // the codes scan is list-pruned by a label-keyed broadcast of the
    // per-query probed lists — queries ride the scan, never re-scan it
    assert("BroadcastHashJoin \\[label#\\d+".r.findFirstIn(p).isDefined,
      p.take(4000))
    // both the ADC shortlist and the refine top-10 ride the bounded
    // kminBy aggregate (≤ R pairs per partial), partial+final — never a
    // corpus-wide rank window (AQE prints stage subtrees twice: ≥, not ==)
    assert("partial_kminby".r.findAllIn(p).size >= 2, p.take(4000))
    // every window partitions per query (the coarse probe over nlists
    // rows) — a batched serving plan has NO unpartitioned window
    val partitioned = "windowspecdefinition\\(query_id#"
    assert("windowspecdefinition\\(".r.findAllIn(p).size ==
      partitioned.r.findAllIn(p).size, p.take(4000))
  }

  test("binary Hamming ANN: one broadcast codes pass, bounded shortlist, no shuffle joins") {
    val p = executedPlanOf("q_ann_binary_hamming")
    // the Hamming pass rides the codes scan with the query codes
    // broadcast (non-equi self-pair → nested-loop against a ≤Q-row side)
    assert(p.contains("BroadcastNestedLoopJoin"), p.take(4000))
    // per-query shortlist is the bounded kminBy aggregate, partial+final
    assert("partial_kminby".r.findAllIn(p).size >= 1, p.take(4000))
    // rerank windows partition per query; nothing sorts the corpus
    val partitioned = "windowspecdefinition\\(query_id#"
    assert("windowspecdefinition\\(".r.findAllIn(p).size ==
      partitioned.r.findAllIn(p).size, p.take(4000))
    assert(!p.contains("SortMergeJoin"), p.take(4000))
  }

  test("matryoshka ANN: prefix scan broadcast-joined, bounded shortlist, no shuffle joins") {
    val p = executedPlanOf("q_ann_matryoshka")
    // prefix scoring rides the corpus scan with the query batch broadcast
    assert(p.contains("BroadcastNestedLoopJoin"), p.take(4000))
    assert("partial_kminby".r.findAllIn(p).size >= 1, p.take(4000))
    val partitioned = "windowspecdefinition\\(query_id#"
    assert("windowspecdefinition\\(".r.findAllIn(p).size ==
      partitioned.r.findAllIn(p).size, p.take(4000))
    assert(!p.contains("SortMergeJoin"), p.take(4000))
  }

  test("MMR: corpus-sized work is the kminBy shortlist scan and one broadcast row-fetch") {
    val e = graft.analytics.Tables.embeddings(spark, sf())
    // relevance pass: query batch broadcast into ONE parquet scan, the
    // per-query shortlist bounded by kminBy — never a corpus rank window
    val short = graft.pipeline.RetrievalQueries.mmrShortlist(e)
    short.collect()
    val sp = short.queryExecution.executedPlan.toString
    assert(sp.contains("BroadcastNestedLoopJoin"), sp.take(4000))
    assert("partial_kminby".r.findAllIn(sp).size >= 1, sp.take(4000))
    assert(!"windowspecdefinition\\(".r.findFirstIn(sp).isDefined, sp.take(4000))
    assert(!sp.contains("SortMergeJoin"), sp.take(4000))
    // pairwise sims: member vectors fetched off the corpus via a
    // BROADCAST of the bounded shortlist — the corpus never shuffles
    val sims = graft.pipeline.RetrievalQueries.mmrSims(e, short.localCheckpoint())
    sims.collect()
    // assert on the FINAL plan only — AQE's toString appends the initial
    // (pre-reoptimization) plan, which is not what executed
    val pp = sims.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    assert(pp.contains("BroadcastHashJoin"), pp.take(4000))
    assert(!pp.contains("SortMergeJoin"), pp.take(4000))
  }
}
