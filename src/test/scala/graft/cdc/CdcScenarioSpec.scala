package graft.cdc

import java.nio.file.Files
import java.sql.Timestamp
import graft.SparkSpec
import graft.fixtures.HealthcareFixtures
import graft.model.HealthcareSchema
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** End-to-end replay of the reference's live CDC demo
  * (/root/reference sql/3.live_appointments.sql): snapshot → batched
  * insert/update/delete events → final-state assertions matching the
  * script's summary (3+2+5 inserts, status updates, visit inserts from
  * completions, 2 soft deletes, 1 doctor update — lines 39-42,163-165,
  * 282-287,324-334,349-351,366-402).
  */
class CdcScenarioSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  private def bucketsLabel(n: Int) = if (n == 1) "1 bucket" else s"$n buckets"

  private def apptEvent(op: String, lsn: Long, id: Long, status: String,
      date: String = "2025-01-15", time: String = "08:00:00"): CdcEvent =
    CdcEvent("appointments", op, lsn, ts("2025-01-15 08:00:00"), id,
      if (op == CdcOp.Delete) Map.empty
      else Map(
        "patient_id" -> (id % 100 + 1).toString,
        "doctor_id" -> (id % 10 + 1).toString,
        "appointment_date" -> date,
        "appointment_time" -> time,
        "status" -> status,
        "reason_for_visit" -> "Walk-in",
        "appointment_type" -> "urgent",
        "created_at" -> "2025-01-15 07:00:00",
        "updated_at" -> "2025-01-15 07:00:00"))

  private def visitEvent(lsn: Long, id: Long, apptId: Long): CdcEvent =
    CdcEvent("visits", CdcOp.Insert, lsn, ts("2025-01-15 10:00:00"), id, Map(
      "appointment_id" -> apptId.toString,
      "patient_id" -> (apptId % 100 + 1).toString,
      "doctor_id" -> (apptId % 10 + 1).toString,
      "visit_date" -> "2025-01-15",
      "visit_start_time" -> "2025-01-15 08:00:00",
      "visit_end_time" -> "2025-01-15 08:25:00",
      "diagnosis" -> "Acute bronchitis",
      "treatment_notes" -> "Rest and fluids",
      "follow_up_required" -> "false",
      "prescription_given" -> "true",
      "total_charge" -> "125.00"))

  private def doctorEvent(lsn: Long, id: Long): CdcEvent =
    CdcEvent("doctors", CdcOp.Update, lsn, ts("2025-01-15 10:05:00"), id, Map(
      "first_name" -> s"DocFirst$id", "last_name" -> s"DocLast$id",
      "specialization" -> "Dermatology", "department" -> "Dermatology",
      "phone" -> "555-0209", "email" -> s"doc$id@clinic.example",
      "years_of_experience" -> "12", "accepting_new_patients" -> "false"))

  test("live_appointments scenario: snapshot + 5 batches converge to the scripted state") {
    val root = Files.createTempDirectory("graft-cdc").toString
    val store = new BucketedTableStore(spark, root, nBuckets = 1)
    val pipeline = new CdcPipeline(spark, store, HealthcareSchema.all,
      HealthcareSchema.keyColumns,
      clock = () => lit("2025-01-15 08:00:00").cast("timestamp_ntz"))

    pipeline.loadSnapshot(HealthcareFixtures.all(spark))
    assert(store.read("appointments").count() == 170)
    assert(store.read("patients").count() == 100)
    assert(store.read("doctors").count() == 10)
    assert(store.read("visits").count() == 100)
    // snapshot invariant: inserted_at set, updated_at all NULL
    assert(store.read("appointments").filter(col(CdcApplier.MetaUpdated).isNotNull).count() == 0)

    def applyBatch(evs: Seq[CdcEvent]): Unit =
      pipeline.applyEventBatch(spark.createDataset(evs))

    // batch 1: 8:00 AM — 3 new appointments (script lines 39-42)
    applyBatch(Seq(
      apptEvent(CdcOp.Insert, 101, 201, "scheduled"),
      apptEvent(CdcOp.Insert, 102, 202, "scheduled"),
      apptEvent(CdcOp.Insert, 103, 203, "confirmed")))
    // batch 2: morning flow — check-ins / in-progress (lines 56-107)
    applyBatch(Seq(
      apptEvent(CdcOp.Update, 104, 201, "checked_in"),
      apptEvent(CdcOp.Update, 105, 202, "checked_in"),
      apptEvent(CdcOp.Update, 106, 201, "in_progress")))
    // batch 3: completions + visit creation (UPDATE..RETURNING feeding INSERT, lines 122-149)
    applyBatch(Seq(
      apptEvent(CdcOp.Update, 107, 201, "completed"),
      visitEvent(108, 201, 201),
      apptEvent(CdcOp.Update, 109, 202, "completed"),
      visitEvent(110, 202, 202)))
    // batch 4: walk-ins + cancellation + retention deletes (lines 163-334)
    applyBatch(Seq(
      apptEvent(CdcOp.Insert, 111, 204, "scheduled"),
      apptEvent(CdcOp.Insert, 112, 205, "scheduled"),
      apptEvent(CdcOp.Update, 113, 203, "cancelled"),
      apptEvent(CdcOp.Delete, 114, 1, null),
      apptEvent(CdcOp.Delete, 115, 2, null)))
    // batch 5: doctor 9 stops accepting patients (lines 349-351)
    applyBatch(Seq(doctorEvent(116, 9)))

    val appts = store.read("appointments")
    // 170 + 5 inserts = 175 rows; soft deletes keep rows
    assert(appts.count() == 175)
    assert(appts.filter(col(CdcApplier.MetaDeleted) === true).count() == 2)
    assert(appts.filter($"appointment_id" === 201 && $"status" === "completed").count() == 1)
    assert(appts.filter($"appointment_id" === 203 && $"status" === "cancelled").count() == 1)
    // updated_at only on touched rows: 201,202,203 updated; 1,2 deleted ⇒ 5
    assert(appts.filter(col(CdcApplier.MetaUpdated).isNotNull).count() == 5)

    assert(store.read("visits").count() == 102)
    val doc9 = store.read("doctors").filter($"doctor_id" === 9)
    assert(doc9.select("accepting_new_patients").collect()(0).getBoolean(0) === false)
    assert(doc9.select(CdcApplier.MetaUpdated).collect()(0).get(0) != null)

    // journal holds every event (S5/T5)
    assert(store.readJournal("appointments").count() == 13)
    assert(store.readJournal("visits").count() == 2)
    assert(store.readJournal("doctors").count() == 1)

    // CHECK-constraint parity: nothing invalid slipped through the cast layer
    assert(HealthcareFixtures.checkViolations(
      appts.filter(col(CdcApplier.MetaDeleted) === false), store.read("visits")) == 0)
  }

  test("streaming apply: file event feed through foreachBatch reaches the same state") {
    val root = Files.createTempDirectory("graft-cdc-stream").toString
    val feedDir = Files.createTempDirectory("graft-feed").toString
    val store = new BucketedTableStore(spark, root, nBuckets = 1)
    val pipeline = new CdcPipeline(spark, store, HealthcareSchema.all,
      HealthcareSchema.keyColumns,
      clock = () => lit("2025-01-15 08:00:00").cast("timestamp_ntz"))
    pipeline.loadSnapshot(HealthcareFixtures.all(spark))

    // one JSON-lines feed file = one source batch
    val evs = Seq(
      apptEvent(CdcOp.Insert, 201, 301, "scheduled"),
      apptEvent(CdcOp.Update, 202, 301, "completed"),
      apptEvent(CdcOp.Delete, 203, 3, null))
    spark.createDataset(evs).write.mode("overwrite").json(feedDir)

    val q = pipeline.start(
      CdcPipeline.fileEventStream(spark, feedDir),
      Files.createTempDirectory("graft-ckpt").toString,
      Trigger.AvailableNow())
    q.awaitTermination(120000)

    val appts = store.read("appointments")
    assert(appts.count() == 171)
    assert(appts.filter($"appointment_id" === 301 && $"status" === "completed").count() == 1)
    assert(appts.filter($"appointment_id" === 3 && col(CdcApplier.MetaDeleted)).count() == 1)
  }

  for (nBuckets <- Seq(1, 8))
  test(s"schema evolution: mid-stream ADD COLUMN widens the destination (${bucketsLabel(nBuckets)})") {
    val root = Files.createTempDirectory("graft-cdc-evolve").toString
    val store = new BucketedTableStore(spark, root, nBuckets)
    val pipeline = new CdcPipeline(spark, store, HealthcareSchema.all,
      HealthcareSchema.keyColumns,
      clock = () => lit("2025-01-15 08:00:00").cast("timestamp_ntz"))
    pipeline.loadSnapshot(Map("appointments" -> HealthcareFixtures.appointments(spark)))

    // pre-evolution batch: declared schema, no new column anywhere
    pipeline.applyEventBatch(spark.createDataset(Seq(
      apptEvent(CdcOp.Insert, 101, 201, "scheduled"))))
    assert(!store.read("appointments").columns.contains("priority"))

    // source runs ALTER TABLE ADD COLUMN priority: after-images carry it now
    val ev202 = apptEvent(CdcOp.Insert, 102, 202, "scheduled")
    pipeline.applyEventBatch(spark.createDataset(Seq(
      ev202.copy(after = ev202.after + ("priority" -> "high")),
      apptEvent(CdcOp.Delete, 103, 1, null)))) // image-less delete, same batch
    assert(pipeline.currentSchema("appointments").fieldNames.contains("priority"))

    val appts = store.read("appointments")
    assert(appts.columns.contains("priority"))
    // the evolved upsert carries the source value
    assert(appts.filter($"appointment_id" === 202)
      .select("priority").collect()(0).getString(0) == "high")
    // every pre-evolution row — snapshot rows, the batch-1 insert, and the
    // soft-deleted key — reads NULL, like ALTER TABLE ADD COLUMN gives them
    // (with several buckets this exercises the mixed-schema read: only
    // touched buckets were rewritten with the wider schema)
    assert(appts.filter($"priority".isNotNull).count() == 1)
    assert(appts.filter($"appointment_id" === 1 && col(CdcApplier.MetaDeleted)).count() == 1)

    // the widening is sticky: a later batch without the column keeps it,
    // and untouched rows keep their values
    pipeline.applyEventBatch(spark.createDataset(Seq(
      apptEvent(CdcOp.Update, 104, 201, "confirmed"))))
    val after = store.read("appointments")
    assert(after.columns.contains("priority"))
    assert(after.filter($"appointment_id" === 202)
      .select("priority").collect()(0).getString(0) == "high")
    assert(after.count() == 172)

    // a RESTART loses the widened in-memory schema: a fresh pipeline whose
    // next batch lacks the column must not drop the destination column
    // (applyBatch keeps destination columns absent from the events)
    val pipeline2 = new CdcPipeline(spark, store, HealthcareSchema.all,
      HealthcareSchema.keyColumns,
      clock = () => lit("2025-01-15 09:00:00").cast("timestamp_ntz"))
    pipeline2.applyEventBatch(spark.createDataset(Seq(
      apptEvent(CdcOp.Update, 105, 201, "completed"))))
    val afterRestart = store.read("appointments")
    assert(afterRestart.columns.contains("priority"))
    assert(afterRestart.filter($"appointment_id" === 202)
      .select("priority").collect()(0).getString(0) == "high")

    // time travel respects the historic schema: a pre-evolution manifest
    // reads WITHOUT the added column (each manifest commits its own schema)
    val preEvo = store.readManifestVersion("appointments", 1) // m1 = batch-1 merge
    assert(!preEvo.columns.contains("priority"))
    assert(preEvo.count() == 171)

    // disaster recovery reproduces the evolution from the journal alone:
    // the rebuilt table carries the added column with the same values
    val rebuilt = CdcRecovery.rebuild(
      store.readManifestVersion("appointments", 0),
      store.readJournal("appointments"),
      HealthcareSchema.all("appointments"), "appointment_id",
      lit("2025-01-15 08:00:00").cast("timestamp_ntz"))
    assert(rebuilt.columns.contains("priority"))
    val contentCols = afterRestart.columns
      .filterNot(c => c == CdcApplier.MetaInserted || c == CdcApplier.MetaUpdated)
      .sorted.toSeq
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select(contentCols.map(col): _*).collect().map(_.toString).sorted
    assert(canon(rebuilt).sameElements(canon(afterRestart)))
  }

  test("journal replay rebuilds the destination: snapshot v0 + one batch apply") {
    val root = Files.createTempDirectory("graft-cdc-rebuild").toString
    val store = new BucketedTableStore(spark, root, nBuckets = 1)
    val pipeline = new CdcPipeline(spark, store, HealthcareSchema.all,
      HealthcareSchema.keyColumns,
      clock = () => lit("2025-01-15 08:00:00").cast("timestamp_ntz"))
    pipeline.loadSnapshot(Map("appointments" -> HealthcareFixtures.appointments(spark)))
    // three separate micro-batches
    pipeline.applyEventBatch(spark.createDataset(Seq(
      apptEvent(CdcOp.Insert, 901, 950, "scheduled"),
      apptEvent(CdcOp.Insert, 902, 951, "confirmed"))))
    pipeline.applyEventBatch(spark.createDataset(Seq(
      apptEvent(CdcOp.Update, 903, 950, "completed"),
      apptEvent(CdcOp.Delete, 904, 6, null))))
    pipeline.applyEventBatch(spark.createDataset(Seq(
      apptEvent(CdcOp.Update, 905, 951, "cancelled"))))

    // "disaster": rebuild from the retained snapshot version + the journal
    val rebuilt = CdcRecovery.rebuild(
      store.readManifestVersion("appointments", 0),
      store.readJournal("appointments"),
      HealthcareSchema.all("appointments"), "appointment_id",
      lit("2025-01-15 08:00:00").cast("timestamp_ntz"))

    // content equality: data columns + deleted flag + lsn HWM (stamp TIMES
    // are per-batch clocks, not recoverable from content — see CdcRecovery)
    val contentCols = store.read("appointments").columns
      .filterNot(c => c == CdcApplier.MetaInserted || c == CdcApplier.MetaUpdated)
      .sorted.toSeq
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select(contentCols.map(col): _*).collect().map(_.toString).sorted
    assert(canon(rebuilt).sameElements(canon(store.read("appointments"))))
    assert(rebuilt.count() == 172)
  }

  for (nBuckets <- Seq(1, 16))
  test(s"journal retention: vacuum to a covered horizon keeps rebuild exact (${bucketsLabel(nBuckets)})") {
    val root = Files.createTempDirectory("graft-cdc-retention").toString
    val store = new BucketedTableStore(spark, root, nBuckets)
    val pipeline = new CdcPipeline(spark, store, HealthcareSchema.all,
      HealthcareSchema.keyColumns,
      clock = () => lit("2025-01-15 08:00:00").cast("timestamp_ntz"))
    pipeline.loadSnapshot(Map("appointments" -> HealthcareFixtures.appointments(spark)))

    def ev(op: String, lsn: Long, id: Long, status: String, commit: String) =
      apptEvent(op, lsn, id, status).copy(commitTs = ts(commit))
    // three batches on three distinct commit DATES → three journal partitions
    pipeline.applyEventBatch(spark.createDataset(Seq(
      ev(CdcOp.Insert, 901, 950, "scheduled", "2025-01-10 09:00:00"),
      ev(CdcOp.Insert, 902, 951, "confirmed", "2025-01-10 10:00:00"))))
    pipeline.applyEventBatch(spark.createDataset(Seq(
      ev(CdcOp.Update, 903, 950, "completed", "2025-01-12 09:00:00"),
      ev(CdcOp.Delete, 904, 6, null, "2025-01-12 10:00:00"))))
    // this version's state COVERS the journal through 01-12 — the horizon
    val coveringVersion = store.currentManifest("appointments").get
    pipeline.applyEventBatch(spark.createDataset(Seq(
      ev(CdcOp.Update, 905, 951, "cancelled", "2025-01-14 09:00:00"))))

    // retention: drop everything strictly before 01-14 (covered by the
    // retained version); the 01-14 partition must survive
    val dropped = store.vacuumJournal("appointments", java.time.LocalDate.parse("2025-01-14"))
    assert(dropped.toSet ==
      Set("_journal_date=2025-01-10", "_journal_date=2025-01-12"), s"dropped $dropped")
    assert(store.readJournal("appointments").count() == 1)

    // disaster recovery still lands exactly on the live state: retained
    // version (≥ horizon) + retained journal
    val rebuilt = CdcRecovery.rebuild(
      store.readManifestVersion("appointments", coveringVersion),
      store.readJournal("appointments"),
      HealthcareSchema.all("appointments"), "appointment_id",
      lit("2025-01-15 08:00:00").cast("timestamp_ntz"))
    val contentCols = store.read("appointments").columns
      .filterNot(c => c == CdcApplier.MetaInserted || c == CdcApplier.MetaUpdated)
      .sorted.toSeq
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select(contentCols.map(col): _*).collect().map(_.toString).sorted
    assert(canon(rebuilt).sameElements(canon(store.read("appointments"))))

    // vacuuming PAST the covered horizon would lose events — the doc'd
    // contract: rebuild from the pre-horizon version no longer matches
    val rebuiltTooOld = CdcRecovery.rebuild(
      store.readManifestVersion("appointments", 0),
      store.readJournal("appointments"),
      HealthcareSchema.all("appointments"), "appointment_id",
      lit("2025-01-15 08:00:00").cast("timestamp_ntz"))
    assert(!canon(rebuiltTooOld).sameElements(canon(store.read("appointments"))))
  }

  // the restart guarantee must hold at every bucket count — exercised
  // against a whole-table (1 bucket) and a partition-scoped (16) store
  for (nBuckets <- Seq(1, 16))
  test(s"restart from checkpoint resumes exactly-once (${bucketsLabel(nBuckets)})") {
    val root = Files.createTempDirectory("graft-cdc-restart").toString
    val feedDir = Files.createTempDirectory("graft-feed-restart").toString
    val ckpt = Files.createTempDirectory("graft-ckpt-restart").toString
    val clock = () => lit("2025-01-15 08:00:00").cast("timestamp_ntz")
    val store = new BucketedTableStore(spark, root, nBuckets)
    val pipeline = new CdcPipeline(spark, store, HealthcareSchema.all,
      HealthcareSchema.keyColumns, clock)
    pipeline.loadSnapshot(HealthcareFixtures.all(spark))

    val phase1 = Seq(
      apptEvent(CdcOp.Insert, 301, 401, "scheduled"),
      apptEvent(CdcOp.Insert, 302, 402, "confirmed"),
      apptEvent(CdcOp.Update, 303, 401, "checked_in"))
    val phase2 = Seq(
      apptEvent(CdcOp.Update, 304, 401, "completed"),
      visitEvent(305, 301, 401),
      apptEvent(CdcOp.Delete, 306, 4, null))

    // phase 1 feed, then KILL the running stream (not AvailableNow — a real
    // ProcessingTime loop stopped mid-life, like a worker crash)
    spark.createDataset(phase1).coalesce(1).write.mode("append").json(feedDir)
    val q1 = pipeline.start(CdcPipeline.fileEventStream(spark, feedDir), ckpt,
      Trigger.ProcessingTime("1 second"))
    q1.processAllAvailable()
    q1.stop()
    assert(store.read("appointments").count() == 172)

    // events keep arriving while the pipeline is down
    spark.createDataset(phase2).coalesce(1).write.mode("append").json(feedDir)

    // resume from the SAME checkpoint
    val q2 = pipeline.start(CdcPipeline.fileEventStream(spark, feedDir), ckpt,
      Trigger.AvailableNow())
    q2.awaitTermination(120000)

    // reference state: the same events applied through the batch path
    val refStore = new BucketedTableStore(spark,
      Files.createTempDirectory("graft-cdc-restart-ref").toString, nBuckets = 1)
    val refPipeline = new CdcPipeline(spark, refStore, HealthcareSchema.all,
      HealthcareSchema.keyColumns, clock)
    refPipeline.loadSnapshot(HealthcareFixtures.all(spark))
    refPipeline.applyEventBatch(spark.createDataset(phase1))
    refPipeline.applyEventBatch(spark.createDataset(phase2))

    for (t <- Seq("appointments", "visits")) {
      val got = store.read(t).collect().map(_.toString).sorted
      val want = refStore.read(t).collect().map(_.toString).sorted
      assert(got.sameElements(want), s"$t state after restart != batch-applied reference")
    }
    // exactly-once: phase-1 events were NOT re-journaled on resume
    assert(store.readJournal("appointments").count() == 5)
    assert(store.readJournal("visits").count() == 1)
  }
}
