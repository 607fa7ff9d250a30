package graft.analytics

import java.nio.file.Paths
import graft.cdc._
import graft.fixtures.HealthcareFixtures
import graft.model.HealthcareSchema
import graft.operators.Checkpoints.StableOps
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Materialized healthcare world for the oracle gate.
  *
  * Writes the deterministic fixture to parquet at a FIXED location once per
  * JVM, so that (a) every `hc_*`/`sm_*` query is a genuine parquet-scan query
  * whose DuckDB oracle reads the very same files — the independent
  * correctness gate the reference suite needs — and (b) queries stop paying
  * per-invocation fixture regeneration (they read immutable parquet, like any
  * production table). Reads go through [[graft.RelationCache]], whose view
  * names carry a content stamp, so a rebuild needs no invalidation.
  *
  * Two states are materialized:
  *
  *  1. `patients/doctors/appointments/visits` — the post-initial-snapshot
  *     state (reference sql/2.verify_snapshot.sql): CDC metadata stamped,
  *     `_snowflake_updated_at` all NULL.
  *  2. `appointments_live/visits_live/doctors_live` — the state after a
  *     deterministic replay of the reference's live CDC demo
  *     (sql/3.live_appointments.sql) through the real
  *     [[graft.cdc.CdcPipeline]] into a one-bucket
  *     [[graft.cdc.BucketedTableStore]] (a whole-table merge): staged
  *     micro-batches of INSERT (new + walk-in appointments, lines 39-42,
  *     163-165, 282-287), UPDATE status transitions
  *     (confirmed→checked_in→in_progress→completed, lines 56-131),
  *     UPDATE…RETURNING→INSERT visit creation (lines 246-270), retention
  *     DELETEs of old cancelled appointments (lines 324-334), and the
  *     doctor-availability UPDATE (lines 349-351). One adaptation: the seed
  *     fixture has no same-day appointments (past rows end at now-1), so the
  *     intraday status transitions run on the demo's own walk-ins (174, 175)
  *     rather than seed rows.
  *
  * Every batch applies with a distinct frozen clock, so the CDC-audit
  * queries (update-frequency histogram, 24 h change volume, recent
  * modifications) see realistic staged `_snowflake_*` timestamps — all
  * deterministic, anchored at `Now` = 2025-01-15.
  */
object HealthcareData {

  val Now: String = HealthcareFixtures.DefaultNow
  /** Frozen CURRENT_TIMESTAMP for today-anchored queries: end of the demo. */
  val NowTs: String = s"$Now 13:00:00"

  /** Fixed absolute location; also embedded in the DuckDB oracle SQL. */
  val Root: String = new java.io.File("target/healthcare_oracle").getAbsolutePath

  /** DuckDB table expression for a materialized table. */
  def pq(table: String): String = s"read_parquet('$Root/$table/*.parquet')"

  private var built = false
  /** Names of the streaming replays already run in this JVM. */
  private val replayed = scala.collection.mutable.Set.empty[String]

  /** The demo's staged micro-batches, recorded by [[build]] so the streaming
    * and bucketed replays apply the IDENTICAL event sequence.
    */
  private var recordedBatches: Seq[(String, Seq[CdcEvent])] = Nil

  def ensure(spark: SparkSession): Unit = synchronized {
    if (!built) { build(spark); built = true }
  }

  /** The live-demo micro-batches `(applyTs, events)` for operators that
    * replay the identical sequence (streamed/bucketed replays do so
    * internally; `incrementalVisitRollup` does so externally).
    */
  def demoBatches(spark: SparkSession): Seq[(String, Seq[graft.cdc.CdcEvent])] =
    synchronized { ensure(spark); recordedBatches }

  /** The daily-revenue rollup maintained INCREMENTALLY through the demo's
    * CDC batches ([[graft.operators.IncrementalRollup]]): bootstrap from the
    * snapshot state, then per batch fold in the touched-keys delta around
    * the same `CdcApplier.applyBatch` kernel the table itself uses. The
    * `hc_rollup_incremental` oracle recomputes the rollup from scratch over
    * the independently-materialized final `visits_live` parquet — if the
    * two agree hash-exactly (LONG counts, integer-cents LONG revenue: fully
    * additive, no FP drift), incremental maintenance is proven equivalent
    * to the reference's rescan-the-world dashboard refresh on this feed.
    * Per-batch cost is O(touched keys + rollup), never O(table) — the
    * 100 TB dashboard answer.
    */
  def incrementalVisitRollup(spark: SparkSession): DataFrame = {
    import graft.cdc.CdcApplier
    import graft.operators.IncrementalRollup
    val batches = demoBatches(spark)
    val spec = IncrementalRollup.Spec(Seq("visit_date"), Seq(
      "revenue_cents" -> HealthcareQueries.cents(col("total_charge"))))
    val live = col(CdcApplier.MetaDeleted) === false
    val schema = graft.model.HealthcareSchema.all("visits")
    var state = graft.RelationCache.parquet(spark, s"$Root/visits")
    var rollup = IncrementalRollup.full(state.filter(live), spec).stableCheckpoint()
    batches.foreach { case (at, evs) =>
      val vEvents = evs.filter(_.table == "visits")
      if (vEvents.nonEmpty) {
        import spark.implicits._
        val raw = spark.createDataset(vEvents).toDF()
        val typed = raw.select(
          Seq(col("op"), col("lsn"), col("commitTs"), col("key")) ++
            CdcApplier.afterImageColumns(schema, "visit_id"): _*)
        val touched = typed.select(col("key").as("visit_id")).distinct()
        // localCheckpoint per batch: the production shape persists state in
        // the table store anyway; here it keeps the 8-batch replay's plan
        // from nesting eight merges deep
        val after = CdcApplier.applyBatch(state, typed, "visit_id",
          lit(at).cast("timestamp_ntz")).stableCheckpoint()
        val delta = IncrementalRollup.batchDelta(
          state, after, touched, "visit_id", live, spec)
        rollup = IncrementalRollup.merge(rollup, delta, spec).stableCheckpoint()
        state = after
      }
    }
    rollup.select(col("visit_date"), col("n").as("visit_count"), col("revenue_cents"))
      .orderBy("visit_date")
  }

  /** Post-snapshot tables (reference verify_snapshot state). */
  def tables(spark: SparkSession): HealthcareTables = {
    ensure(spark)
    HealthcareTables(
      graft.RelationCache.parquet(spark, s"$Root/patients"),
      graft.RelationCache.parquet(spark, s"$Root/doctors"),
      graft.RelationCache.parquet(spark, s"$Root/appointments"),
      graft.RelationCache.parquet(spark, s"$Root/visits"))
  }

  /** Post-live-demo tables (patients are untouched by the demo). */
  def liveTables(spark: SparkSession): HealthcareTables = {
    ensure(spark)
    HealthcareTables(
      graft.RelationCache.parquet(spark, s"$Root/patients"),
      graft.RelationCache.parquet(spark, s"$Root/doctors_live"),
      graft.RelationCache.parquet(spark, s"$Root/appointments_live"),
      graft.RelationCache.parquet(spark, s"$Root/visits_live"))
  }

  /** Post-evolution appointments (state 4): the demo replayed with a source
    * `ALTER TABLE ADD COLUMN priority` before the 12:00 batch — the pipeline
    * auto-widens the destination; pre-evolution rows read NULL.
    */
  def evolvedAppointments(spark: SparkSession): DataFrame = {
    ensure(spark)
    graft.RelationCache.parquet(spark, s"$Root/appointments_evolved")
  }

  /** Post-live-demo tables from the 16-bucket store — the same event
    * batches merged partition-scoped instead of whole-table. Queries over
    * these reuse the flat-path oracles, giving a three-way check:
    * bucketed merge ≡ whole-table merge ≡ DuckDB expectation.
    */
  def bucketedLiveTables(spark: SparkSession): HealthcareTables = {
    ensure(spark)
    storeTables(spark, "bucketed", nBuckets = 16)
  }

  /** Post-live-demo tables reached through the REAL STREAMING path: the
    * recorded demo batches written as a JSON-lines file feed, consumed by
    * `readStream` → 60 s-cadence trigger (collapsed to AvailableNow for the
    * gate) → `foreachBatch` merge — reference EP1/T1 end to end. The
    * change-volume oracle over this state reuses the flat path's DuckDB
    * expectation, because the merge kernel is batch-split-invariant: the
    * soft-delete flags and updated_at NULL-ness converge no matter how the
    * source slices the feed into micro-batches.
    */
  def streamedLiveTables(spark: SparkSession): HealthcareTables = {
    ensure(spark)
    replayOnce("stream")(buildStreamed(spark))
    storeTables(spark, "stream_store")
  }

  /** Post-live-demo tables reached through the DEBEZIUM CONNECTOR face
    * ([[graft.cdc.DebeziumSource]]): the recorded demo batches encoded as
    * public Debezium change-event JSON (c/u/d ops, before/after images,
    * source.lsn), fed as a file stream standing in for the Kafka topic,
    * parsed back into events by the adapter, and applied by the same
    * pipeline. The change-volume oracle over this state reuses the flat
    * path's DuckDB expectation — a green gate proves the full connector
    * boundary (encode → wire JSON → parse → merge) converges to the
    * identical state as the in-process feed.
    */
  def debeziumLiveTables(spark: SparkSession): HealthcareTables = {
    ensure(spark)
    replayOnce("dbz") {
      replayStream(spark, "dbz",
        (evs, feedDir) => DebeziumSource.encode(evs, HealthcareSchema.keyColumns)
          .coalesce(1).write.mode("append").text(feedDir),
        feedDir => DebeziumSource.fileStream(spark, feedDir, HealthcareSchema.keyColumns))
    }
    storeTables(spark, "dbz_store")
  }

  private def store(spark: SparkSession, dir: String, nBuckets: Int = 1) =
    new BucketedTableStore(spark, s"$Root/$dir", nBuckets)

  private def storeTables(spark: SparkSession, dir: String,
      nBuckets: Int = 1): HealthcareTables = {
    val s = store(spark, dir, nBuckets)
    HealthcareTables(s.read("patients"), s.read("doctors"),
      s.read("appointments"), s.read("visits"))
  }

  private def replayOnce(name: String)(build: => Unit): Unit = synchronized {
    if (!replayed(name)) { build; replayed += name }
  }

  /** Replay the recorded demo batches through the streaming pipeline into
    * `<name>_store`: `writeFeed` appends one batch's events to the feed
    * directory, `source` reads that directory back as an event stream.
    */
  private def replayStream(spark: SparkSession, name: String,
      writeFeed: (Dataset[CdcEvent], String) => Unit,
      source: String => Dataset[CdcEvent]): org.apache.spark.sql.streaming.StreamingQuery = {
    import spark.implicits._
    val feedDir = s"$Root/${name}_feed"
    Seq("feed", "ckpt", "store").foreach(d =>
      graft.cdc.FsUtils.deleteRecursively(Paths.get(s"$Root/${name}_$d")))
    recordedBatches.foreach { case (_, evs) => writeFeed(spark.createDataset(evs), feedDir) }
    val pipeline = new CdcPipeline(spark, store(spark, s"${name}_store"), HealthcareSchema.all,
      HealthcareSchema.keyColumns,
      clock = () => lit(NowTs).cast("timestamp_ntz"))
    pipeline.loadSnapshot(HealthcareFixtures.all(spark, Now))
    val q = pipeline.start(source(feedDir), s"$Root/${name}_ckpt",
      org.apache.spark.sql.streaming.Trigger.AvailableNow())
    require(q.awaitTermination(300000), s"$name CDC replay did not drain in 300 s")
    q
  }

  private def buildStreamed(spark: SparkSession): Unit = {
    import spark.implicits._
    val q = replayStream(spark, "stream",
      (evs, feedDir) => evs.coalesce(1).write.mode("append").json(feedDir),
      feedDir => CdcPipeline.fileEventStream(spark, feedDir))
    // per-batch apply metrics → parquet, so the 60 s sync SLA (reference
    // sql/3.live_appointments.sql:21-22,48-49) is an oracle-gated fact, not
    // a spec-only claim. Values are run-dependent wall-clock, but the gate
    // compares Spark vs DuckDB over the SAME materialized rows — exact.
    val sums = CdcMetrics.summarize(q)
    require(sums.nonEmpty, "streamed replay reported no progress")
    sums.map(s => (s.batchId, s.inputRows, s.applyMillis, s.applyMillis <= 60000L))
      .toDF("batch_id", "input_rows", "apply_millis", "within_budget")
      .coalesce(1).write.mode("overwrite").parquet(s"$Root/cdc_metrics")
  }

  /** Per-micro-batch apply metrics of the streamed replay ([[CdcMetrics]]
    * over the real `StreamingQuery` progress), for the cadence gate.
    */
  def cdcMetrics(spark: SparkSession): DataFrame = {
    ensure(spark)
    replayOnce("stream")(buildStreamed(spark))
    graft.RelationCache.parquet(spark, s"$Root/cdc_metrics")
  }

  private def write(df: DataFrame, table: String): Unit =
    df.coalesce(1).write.mode("overwrite").parquet(s"$Root/$table")

  private def build(spark: SparkSession): Unit = {
    import spark.implicits._
    graft.cdc.FsUtils.deleteRecursively(Paths.get(Root))

    // ---- state 1: initial snapshot (loadTs = Now 00:00) ----
    val snap = HealthcareFixtures.snapshotTables(spark, Now)
    snap.foreach { case (name, df) => write(df, name) }

    // ---- state 2: live-demo replay through the CDC pipeline ----
    var clock = s"$Now 00:00:00"
    val flat = store(spark, "store")
    val pipeline = new CdcPipeline(spark, flat, HealthcareSchema.all,
      HealthcareSchema.keyColumns,
      clock = () => lit(clock).cast("timestamp_ntz"))
    pipeline.loadSnapshot(HealthcareFixtures.all(spark, Now))

    def day(offset: Int): String = java.time.LocalDate.parse(Now).plusDays(offset).toString
    def apptInsert(lsn: Long, id: Long, patientId: Int, doctorId: Int, dayOffset: Int,
        time: String, status: String, reason: String, aType: String): CdcEvent =
      CdcEvent("appointments", CdcOp.Insert, lsn, java.sql.Timestamp.valueOf(clock), id, Map(
        "patient_id" -> patientId.toString, "doctor_id" -> doctorId.toString,
        "appointment_date" -> day(dayOffset), "appointment_time" -> time,
        "status" -> status, "reason_for_visit" -> reason, "appointment_type" -> aType,
        "created_at" -> clock, "updated_at" -> clock))
    // full after-image for a status transition on a demo walk-in (the
    // connector ships complete row images on UPDATE)
    def walkInUpdate(lsn: Long, id: Long, patientId: Int, doctorId: Int,
        time: String, status: String, reason: String, createdAt: String): CdcEvent =
      CdcEvent("appointments", CdcOp.Update, lsn, java.sql.Timestamp.valueOf(clock), id, Map(
        "patient_id" -> patientId.toString, "doctor_id" -> doctorId.toString,
        "appointment_date" -> Now, "appointment_time" -> time,
        "status" -> status, "reason_for_visit" -> reason, "appointment_type" -> "urgent",
        "created_at" -> createdAt, "updated_at" -> clock))
    // `events` is by-name: the batch clock must be set BEFORE the event
    // constructors read it for created_at/updated_at/commitTs. Each batch is
    // also recorded for the replays below.
    val recorded = scala.collection.mutable.ListBuffer.empty[(String, Seq[CdcEvent])]
    def applyBatch(at: String)(events: => Seq[CdcEvent]): Unit = {
      clock = at
      val evs = events
      recorded += ((at, evs))
      pipeline.applyEventBatch(spark.createDataset(evs))
    }

    // 8:00 AM — three patients book new appointments (script lines 39-42)
    applyBatch(s"$Now 08:00:00")(Seq(
      apptInsert(1, 171, 5, 1, 3, "09:00:00", "scheduled", "Persistent cough and fever", "urgent"),
      apptInsert(2, 172, 17, 2, 5, "10:30:00", "scheduled", "Blood sugar monitoring", "follow_up"),
      apptInsert(3, 173, 29, 3, 7, "14:00:00", "scheduled", "Annual wellness visit", "routine")))
    // 10:00 AM — urgent walk-ins for TODAY (lines 163-165)
    applyBatch(s"$Now 10:00:00")(Seq(
      apptInsert(4, 174, 41, 1, 0, "10:45:00", "confirmed", "Severe allergic reaction", "urgent"),
      apptInsert(5, 175, 53, 3, 0, "11:15:00", "confirmed", "Chest pain evaluation", "urgent")))
    // 11:00 AM — check-ins (lines 198-231)
    applyBatch(s"$Now 11:00:00")(Seq(
      walkInUpdate(6, 174, 41, 1, "10:45:00", "checked_in", "Severe allergic reaction", s"$Now 10:00:00"),
      walkInUpdate(7, 175, 53, 3, "11:15:00", "checked_in", "Chest pain evaluation", s"$Now 10:00:00")))
    // 11:30 AM — doctor starts seeing patient 174's visit (lines 220-231)
    applyBatch(s"$Now 11:30:00")(Seq(
      walkInUpdate(8, 174, 41, 1, "10:45:00", "in_progress", "Severe allergic reaction", s"$Now 10:00:00")))
    // 12:00 PM — five future appointments (lines 282-287)
    applyBatch(s"$Now 12:00:00")(Seq(
      apptInsert(9, 176, 8, 4, 10, "09:30:00", "scheduled", "Follow-up cardiac evaluation", "follow_up"),
      apptInsert(10, 177, 19, 6, 12, "10:00:00", "scheduled", "Child immunization", "routine"),
      apptInsert(11, 178, 31, 8, 14, "14:30:00", "scheduled", "Sports injury follow-up", "follow_up"),
      apptInsert(12, 179, 44, 9, 15, "11:00:00", "scheduled", "Skin condition check", "routine"),
      apptInsert(13, 180, 57, 10, 17, "13:00:00", "scheduled", "Chronic disease management", "follow_up")))
    // 12:15 PM — complete 174 and create its visit record: the
    // UPDATE…RETURNING → INSERT chain, with the script's 11:30 AM visit
    // formulas (diagnosis id%4, follow_up id%4=0, prescription id%3=0,
    // charge 150+(id%8)*20, +30 min; lines 245-270). 174 → 'Contact
    // dermatitis', false, true, 270.00.
    applyBatch(s"$Now 12:15:00")(Seq(
      walkInUpdate(14, 174, 41, 1, "10:45:00", "completed", "Severe allergic reaction", s"$Now 10:00:00"),
      CdcEvent("visits", CdcOp.Insert, 15, java.sql.Timestamp.valueOf(s"$Now 12:15:00"), 101, Map(
        "appointment_id" -> "174", "patient_id" -> "41", "doctor_id" -> "1",
        "visit_date" -> Now,
        "visit_start_time" -> s"$Now 10:45:00", "visit_end_time" -> s"$Now 11:15:00",
        "diagnosis" -> "Contact dermatitis",
        "treatment_notes" -> "Comprehensive examination completed. Lab work ordered as needed. Follow-up scheduled if required.",
        "follow_up_required" -> "false", "prescription_given" -> "true",
        "total_charge" -> "270.00"))))
    // 12:30 PM — retention policy: delete the two oldest cancelled
    // appointments older than 60 days (lines 320-334; ids are data-dependent
    // hash draws, resolved from the fixture exactly as the script's
    // ORDER BY appointment_id LIMIT 2 subquery does)
    val oldCancelled = HealthcareFixtures.appointments(spark, Now)
      .filter(col("status") === "cancelled" &&
        col("appointment_date") < date_sub(lit(Now).cast("date"), 60))
      .orderBy("appointment_id").limit(2)
      .select("appointment_id").as[Long].collect()
    applyBatch(s"$Now 12:30:00")(oldCancelled.zipWithIndex.toSeq.map { case (id, i) =>
      CdcEvent("appointments", CdcOp.Delete, 16 + i, java.sql.Timestamp.valueOf(clock), id, Map.empty)
    })
    // 12:45 PM — doctor 9 stops accepting new patients (lines 345-351);
    // the full row image comes from the fixture, with the one flag flipped
    val doc9 = HealthcareFixtures.doctors(spark).filter(col("doctor_id") === 9).collect()(0)
    applyBatch(s"$Now 12:45:00")(Seq(
      CdcEvent("doctors", CdcOp.Update, 18, java.sql.Timestamp.valueOf(s"$Now 12:45:00"), 9, Map(
        "first_name" -> doc9.getAs[String]("first_name"),
        "last_name" -> doc9.getAs[String]("last_name"),
        "specialization" -> doc9.getAs[String]("specialization"),
        "department" -> doc9.getAs[String]("department"),
        "phone" -> doc9.getAs[String]("phone"),
        "email" -> doc9.getAs[String]("email"),
        "years_of_experience" -> doc9.getAs[Int]("years_of_experience").toString,
        "accepting_new_patients" -> "false"))))

    write(flat.read("appointments"), "appointments_live")
    write(flat.read("visits"), "visits_live")
    write(flat.read("doctors"), "doctors_live")

    // the recorded demo again, from a fresh snapshot, into another store;
    // `widen` may rewrite each batch's events before they apply
    def replay(dest: CdcDestination)(
        widen: (String, Seq[CdcEvent]) => Seq[CdcEvent] = (_, evs) => evs): Unit = {
      val p = new CdcPipeline(spark, dest, HealthcareSchema.all,
        HealthcareSchema.keyColumns,
        clock = () => lit(clock).cast("timestamp_ntz"))
      clock = s"$Now 00:00:00"
      p.loadSnapshot(HealthcareFixtures.all(spark, Now))
      recorded.foreach { case (at, evs) =>
        clock = at
        p.applyEventBatch(spark.createDataset(widen(at, evs)))
      }
    }

    // ---- state 4 (built here so `recorded` is in scope): schema evolution.
    // The source runs ALTER TABLE appointments ADD COLUMN priority mid-
    // stream (reference: the connector owns/widens the destination schema,
    // sql/1.snowflake_setup.sql:47-49): replay the SAME demo, but from the
    // 12:00 batch on, every appointment after-image carries `priority`.
    // Pre-evolution rows must read NULL; evolved upserts carry the value.
    val evStore = store(spark, "evolution_store")
    val evolutionAt = s"$Now 12:00:00"
    replay(evStore) { (at, evs) =>
      if (at < evolutionAt) evs
      else evs.map { e =>
        if (e.table == "appointments" && e.op != CdcOp.Delete)
          // deterministic source value: urgent appointments are 'high'
          e.copy(after = e.after +
            ("priority" -> (if (e.after.getOrElse("appointment_type", "") == "urgent") "high" else "normal")))
        else e
      }
    }
    write(evStore.read("appointments"), "appointments_evolved")

    // ---- state 3: the SAME demo through a 16-bucket store (partition-
    // scoped merges via the destination-agnostic pipeline;
    // hc_cdc_bucketed_scenario reuses the flat path's oracle, so the
    // whole-table and the partition-scoped merge cross-check) ----
    replay(store(spark, "bucketed", nBuckets = 16))()
    recordedBatches = recorded.toList
  }
}
