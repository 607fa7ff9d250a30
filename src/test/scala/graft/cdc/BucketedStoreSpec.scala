package graft.cdc

import java.nio.file.Files
import java.sql.Timestamp
import scala.jdk.CollectionConverters._
import graft.SparkSpec
import graft.fixtures.HealthcareFixtures
import graft.model.HealthcareSchema
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The partition-scoped merge must be OBSERVABLY identical to the
  * whole-table merge (same CdcApplier kernel, different write scope), while
  * actually rewriting only the buckets a batch touches.
  */
class BucketedStoreSpec extends SparkSpec {
  import spark.implicits._

  private val clock = () => lit("2025-01-15 08:00:00").cast("timestamp_ntz")

  private def apptEvent(op: String, lsn: Long, id: Long, status: String): CdcEvent =
    CdcEvent("appointments", op, lsn, Timestamp.valueOf("2025-01-15 08:00:00"), id,
      if (op == CdcOp.Delete) Map.empty
      else Map(
        "patient_id" -> (id % 100 + 1).toString,
        "doctor_id" -> (id % 10 + 1).toString,
        "appointment_date" -> "2025-01-15",
        "appointment_time" -> "08:00:00",
        "status" -> status,
        "reason_for_visit" -> "Walk-in",
        "appointment_type" -> "urgent",
        "created_at" -> "2025-01-15 07:00:00",
        "updated_at" -> "2025-01-15 07:00:00"))

  private def typed(evs: Seq[CdcEvent]): DataFrame =
    spark.createDataset(evs).toDF().select(
      Seq(col("op"), col("lsn"), col("commitTs"), col("key")) ++
        CdcApplier.afterImageColumns(HealthcareSchema.all("appointments"), "appointment_id"): _*)

  private def stateOf(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("bucketed merge state == whole-table merge state, batch by batch") {
    // the reference is an in-memory fold of the merge kernel: it shares no
    // store code (layout, manifest, bucketed write) with the store it checks
    var flat = CdcApplier.snapshot(HealthcareFixtures.appointments(spark), clock())
      .localCheckpoint()
    val bucketed = new BucketedTableStore(spark,
      Files.createTempDirectory("bs-buck").toString, nBuckets = 16)
    bucketed.commitSnapshot("appointments", flat, "appointment_id")
    assert(stateOf(bucketed.read("appointments")) == stateOf(flat))

    val batches = Seq(
      Seq(apptEvent(CdcOp.Insert, 101, 201, "scheduled"),
        apptEvent(CdcOp.Insert, 102, 202, "scheduled")),
      Seq(apptEvent(CdcOp.Update, 103, 201, "completed"),
        apptEvent(CdcOp.Delete, 104, 1, null)),
      Seq(apptEvent(CdcOp.Update, 105, 202, "cancelled")))
    batches.foreach { evs =>
      val t = typed(evs)
      flat = CdcApplier.applyBatch(flat, t, "appointment_id", clock()).localCheckpoint()
      bucketed.mergeBatch("appointments", t, "appointment_id", clock())
      assert(stateOf(bucketed.read("appointments")) == stateOf(flat))
    }
  }

  test("merge rewrites only touched buckets; the rest carry forward by reference") {
    val store = new BucketedTableStore(spark,
      Files.createTempDirectory("bs-cow").toString, nBuckets = 16)
    val snap = CdcApplier.snapshot(HealthcareFixtures.appointments(spark), clock())
    store.commitSnapshot("appointments", snap, "appointment_id")
    val before = store.manifest("appointments")

    // one batch touching exactly 2 keys → at most 2 buckets
    store.mergeBatch("appointments",
      typed(Seq(
        apptEvent(CdcOp.Update, 201, 5, "completed"),
        apptEvent(CdcOp.Insert, 202, 300, "scheduled"))),
      "appointment_id", clock())
    val after = store.manifest("appointments")

    val changed = after.filter { case (b, v) => before.get(b) != Some(v) }
    assert(changed.size <= 2, s"batch with 2 keys rewrote ${changed.size} buckets")
    assert(changed.nonEmpty)
    // untouched buckets: same version entry = same immutable files
    (before.keySet -- changed.keySet).foreach { b =>
      assert(after(b) == before(b), s"untouched bucket $b was rewritten")
    }
    // state still correct
    val appts = store.read("appointments")
    assert(appts.count() == 171)
    assert(appts.filter($"appointment_id" === 5 && $"status" === "completed").count() == 1)
  }

  test("inserts landing in previously-empty buckets create them") {
    val store = new BucketedTableStore(spark,
      Files.createTempDirectory("bs-empty").toString, nBuckets = 64)
    // 3-row snapshot over 64 buckets: most buckets empty
    val snap = CdcApplier.snapshot(
      HealthcareFixtures.appointments(spark).filter($"appointment_id" <= 3), clock())
    store.commitSnapshot("appointments", snap, "appointment_id")
    val nStart = store.manifest("appointments").size
    assert(nStart <= 3)

    val inserts = (1000L until 1020L).zipWithIndex.map { case (id, i) =>
      apptEvent(CdcOp.Insert, 300 + i, id, "scheduled")
    }
    store.mergeBatch("appointments", typed(inserts), "appointment_id", clock())
    assert(store.read("appointments").count() == 23)
    assert(store.manifest("appointments").size > nStart)
  }

  test("streaming pipeline runs unchanged against the bucketed destination") {
    val feedDir = Files.createTempDirectory("bs-feed").toString
    val store = new BucketedTableStore(spark,
      Files.createTempDirectory("bs-stream").toString, nBuckets = 16)
    val pipeline = new CdcPipeline(spark, store, HealthcareSchema.all,
      HealthcareSchema.keyColumns, clock)
    pipeline.loadSnapshot(Map("appointments" -> HealthcareFixtures.appointments(spark)))
    val evs = Seq(
      apptEvent(CdcOp.Insert, 501, 600, "scheduled"),
      apptEvent(CdcOp.Update, 502, 600, "completed"),
      apptEvent(CdcOp.Delete, 503, 9, null))
    spark.createDataset(evs).write.mode("overwrite").json(feedDir)
    val q = pipeline.start(CdcPipeline.fileEventStream(spark, feedDir),
      Files.createTempDirectory("bs-ckpt").toString,
      org.apache.spark.sql.streaming.Trigger.AvailableNow())
    q.awaitTermination(120000)
    val appts = store.read("appointments")
    assert(appts.count() == 171)
    assert(appts.filter($"appointment_id" === 600 && $"status" === "completed").count() == 1)
    assert(appts.filter($"appointment_id" === 9 && col(CdcApplier.MetaDeleted)).count() == 1)
    assert(store.readJournal("appointments").count() == 3)
    // observability: per-batch volume + apply latency within the 60s budget
    val stats = CdcMetrics.summarize(q)
    assert(stats.nonEmpty && stats.map(_.inputRows).sum == 3)
    assert(CdcMetrics.withinCadence(q, budgetMillis = 60000),
      s"apply latency blew the trigger budget: $stats")
  }

  test("vacuum drops superseded bucket versions, current state unchanged") {
    val store = new BucketedTableStore(spark,
      Files.createTempDirectory("bs-vac").toString, nBuckets = 16)
    val snap = CdcApplier.snapshot(HealthcareFixtures.appointments(spark), clock())
    store.commitSnapshot("appointments", snap, "appointment_id")
    store.mergeBatch("appointments",
      typed(Seq(apptEvent(CdcOp.Update, 601, 10, "completed"))), "appointment_id", clock())
    store.mergeBatch("appointments",
      typed(Seq(apptEvent(CdcOp.Update, 602, 10, "cancelled"))), "appointment_id", clock())
    val before = stateOf(store.read("appointments"))
    store.vacuum("appointments")
    assert(stateOf(store.read("appointments")) == before)
    // the twice-rewritten bucket keeps only its current version dir
    val m = store.manifest("appointments")
    val (b, v) = m.maxBy(_._2)
    assert(v == 2)
    val root = store.read("appointments").inputFiles.head
      .replaceAll("/b\\d+/v\\d+/.*$", "")
    val dirs = Files.list(java.nio.file.Paths.get(root.stripPrefix("file:"), s"b$b"))
      .iterator()
    assert(dirs.asScala.map(_.getFileName.toString).toSet == Set(s"v$v"))
  }

  test("empty-table snapshot is mergeable: _schema anchor recovers the schema") {
    val store = new BucketedTableStore(spark,
      Files.createTempDirectory("bs-empty-snap").toString, nBuckets = 16)
    val empty = CdcApplier.snapshot(
      HealthcareFixtures.appointments(spark).filter($"appointment_id" < 0), clock())
    store.commitSnapshot("appointments", empty, "appointment_id")
    assert(store.read("appointments").count() == 0)
    // first events arrive only via CDC — must merge into the empty table
    store.mergeBatch("appointments",
      typed(Seq(apptEvent(CdcOp.Insert, 801, 900, "scheduled"))), "appointment_id", clock())
    val out = store.read("appointments")
    assert(out.count() == 1)
    assert(out.filter($"appointment_id" === 900 && $"status" === "scheduled").count() == 1)
  }

  test("vacuum keepVersions=2 preserves time travel to the prior manifest") {
    val store = new BucketedTableStore(spark,
      Files.createTempDirectory("bs-vac2").toString, nBuckets = 16)
    val snap = CdcApplier.snapshot(HealthcareFixtures.appointments(spark), clock())
    val m0 = store.commitSnapshot("appointments", snap, "appointment_id")
    val m1 = store.mergeBatch("appointments",
      typed(Seq(apptEvent(CdcOp.Update, 901, 11, "completed"))), "appointment_id", clock())
    val m2 = store.mergeBatch("appointments",
      typed(Seq(apptEvent(CdcOp.Update, 902, 11, "cancelled"))), "appointment_id", clock())
    store.vacuum("appointments", keepVersions = 2)
    // m1 and m2 both readable; m0 vacuumed away together with its data
    assert(store.readManifestVersion("appointments", m2)
      .filter($"appointment_id" === 11 && $"status" === "cancelled").count() == 1)
    assert(store.readManifestVersion("appointments", m1)
      .filter($"appointment_id" === 11 && $"status" === "completed").count() == 1)
    assertThrows[Exception](
      store.readManifestVersion("appointments", m0).count())
  }

  test("time travel: prior manifests read prior consistent states") {
    val store = new BucketedTableStore(spark,
      Files.createTempDirectory("bs-tt").toString, nBuckets = 16)
    val snap = CdcApplier.snapshot(HealthcareFixtures.appointments(spark), clock())
    val m0 = store.commitSnapshot("appointments", snap, "appointment_id")
    val m1 = store.mergeBatch("appointments",
      typed(Seq(apptEvent(CdcOp.Insert, 701, 800, "scheduled"))), "appointment_id", clock())
    assert(store.readManifestVersion("appointments", m0).count() == 170)
    assert(store.readManifestVersion("appointments", m1).count() == 171)
    // old state unchanged: the new key is absent from manifest m0
    assert(store.readManifestVersion("appointments", m0)
      .filter($"appointment_id" === 800).count() == 0)
  }

  test("merge retry is idempotent (lsn high-water mark)") {
    val store = new BucketedTableStore(spark,
      Files.createTempDirectory("bs-retry").toString, nBuckets = 16)
    val snap = CdcApplier.snapshot(HealthcareFixtures.appointments(spark), clock())
    store.commitSnapshot("appointments", snap, "appointment_id")
    val batch = typed(Seq(
      apptEvent(CdcOp.Update, 401, 7, "completed"),
      apptEvent(CdcOp.Delete, 402, 8, null)))
    store.mergeBatch("appointments", batch, "appointment_id", clock())
    val first = stateOf(store.read("appointments"))
    store.mergeBatch("appointments", batch, "appointment_id", clock()) // retry
    assert(stateOf(store.read("appointments")) == first)
  }
}
