package graft.cdc

import java.nio.file.Files
import java.sql.Timestamp
import graft.SparkSpec
import graft.fixtures.HealthcareFixtures
import graft.model.HealthcareSchema
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** The Debezium connector boundary ([[DebeziumSource]]): wire-format
  * round-trip, both envelope flavors, op mapping, resilience to
  * non-publication lines, checkpointed restart, and schema evolution —
  * the reference's connector contract (sql/1.snowflake_setup.sql:73-91)
  * proven on the public change-event JSON format.
  */
class DebeziumFaceSpec extends SparkSpec {
  import spark.implicits._

  private val keyCols = HealthcareSchema.keyColumns

  private def ts(s: String) = Timestamp.valueOf(s)

  private def evt(op: String, lsn: Long, id: Long, status: String = "scheduled",
      extra: Map[String, String] = Map.empty): CdcEvent =
    CdcEvent("appointments", op, lsn, ts("2025-01-15 08:00:00"), id,
      if (op == CdcOp.Delete) Map.empty
      else Map(
        "patient_id" -> (id % 100 + 1).toString,
        "doctor_id" -> (id % 10 + 1).toString,
        "appointment_date" -> "2025-01-15",
        "appointment_time" -> "09:00:00",
        "status" -> status,
        "reason_for_visit" -> "Walk-in",
        "appointment_type" -> "urgent",
        "created_at" -> "2025-01-15 07:00:00",
        "updated_at" -> "2025-01-15 07:00:00") ++ extra)

  test("parse ∘ encode = id over insert/update/delete across tables") {
    val events = Seq(
      evt(CdcOp.Insert, 1, 201),
      evt(CdcOp.Update, 2, 201, "completed"),
      evt(CdcOp.Delete, 3, 150),
      CdcEvent("visits", CdcOp.Insert, 4, ts("2025-01-15 10:00:00"), 900, Map(
        "appointment_id" -> "201", "patient_id" -> "2", "doctor_id" -> "2",
        "visit_date" -> "2025-01-15", "visit_start_time" -> "2025-01-15 09:00:00",
        "visit_end_time" -> "2025-01-15 09:30:00", "diagnosis" -> "Flu",
        "treatment_notes" -> "rest", "follow_up_required" -> "false",
        "prescription_given" -> "true", "total_charge" -> "150.00")),
      CdcEvent("doctors", CdcOp.Update, 5, ts("2025-01-15 10:05:00"), 9, Map(
        "first_name" -> "A", "last_name" -> "B", "specialization" -> "Derm",
        "department" -> "Derm", "phone" -> "555", "email" -> "a@b.c",
        "years_of_experience" -> "12", "accepting_new_patients" -> "false")))
    val wire = DebeziumSource.encode(spark.createDataset(events), keyCols)
    val back = DebeziumSource.parse(wire, keyCols).collect().sortBy(_.lsn)
    assert(back.toSeq == events)
  }

  test("bare-payload flavor (schemas disabled) parses identically") {
    val events = Seq(evt(CdcOp.Insert, 1, 201), evt(CdcOp.Delete, 2, 201))
    val wrapped = DebeziumSource.encode(spark.createDataset(events), keyCols)
    // strip the {"payload": ...} wrapper → the schemas.enable=false shape
    val bare = wrapped.select(
      regexp_extract(col("value"), "^\\{\"payload\":(.*)\\}$", 1).as("value"))
    val back = DebeziumSource.parse(bare, keyCols).collect().sortBy(_.lsn)
    assert(back.toSeq == events)
  }

  test("op 'r' (snapshot read) maps to INSERT; heartbeat/foreign lines drop") {
    val lines = Seq(
      // snapshot-read record, bare flavor
      """{"before":null,"after":{"appointment_id":"7","status":"scheduled"},""" +
        """"source":{"table":"appointments","lsn":10,"ts_ms":1736899200000},"op":"r"}""",
      // connector heartbeat (no table) — must be dropped, not thrown on
      """{"op":"m","ts_ms":1736899200000}""",
      // a table outside the publication — dropped
      """{"after":{"x":"1"},"source":{"table":"not_published","lsn":11,"ts_ms":0},"op":"c"}""",
      // malformed JSON — dropped
      """{"op": nope""").toDF("value")
    val out = DebeziumSource.parse(lines, keyCols).collect()
    assert(out.length == 1)
    assert(out(0).op == CdcOp.Insert && out(0).key == 7L && out(0).lsn == 10L)
  }

  test("dead-letter queue routes every dropped line with its drop cause") {
    val good =
      """{"before":null,"after":{"appointment_id":"7","status":"scheduled"},""" +
        """"source":{"table":"appointments","lsn":10,"ts_ms":1736899200000},"op":"r"}"""
    val heartbeat = """{"op":"m","ts_ms":1736899200000}"""
    val foreign =
      """{"after":{"x":"1"},"source":{"table":"not_published","lsn":11,"ts_ms":0},"op":"c"}"""
    val broken = """{"op": nope"""
    val noLsn =
      """{"after":{"appointment_id":"8"},"source":{"table":"appointments","ts_ms":0},"op":"c"}"""
    val noKey =
      """{"after":{"status":"x"},"source":{"table":"appointments","lsn":12,"ts_ms":0},"op":"c"}"""
    val badKey =
      """{"after":{"appointment_id":"not-a-number"},"source":{"table":"appointments","lsn":13,"ts_ms":0},"op":"c"}"""
    val noTable = """{"after":{"appointment_id":"9"},"op":"c","ts_ms":0}"""
    val raw = Seq(good, heartbeat, foreign, broken, noLsn, noKey, badKey, noTable)
      .toDF("value")
    val (events, dlq) = DebeziumSource.parseWithDlq(raw, keyCols)
    assert(events.collect().map(_.key).toSeq == Seq(7L))
    val reasons = dlq.collect().map(r => (r.getString(0), r.getString(1))).toMap
    assert(reasons == Map(
      heartbeat -> "malformed", broken -> "malformed",
      foreign -> "unpublished_table",
      noLsn -> "missing_lsn", noKey -> "missing_key",
      badKey -> "unparseable_key", noTable -> "missing_table"))
    // conservation: every input line is exactly one of event or DLQ row
    assert(events.count() + dlq.count() == raw.count())
  }

  test("delete key resolves from the PK-only before image") {
    val line =
      """{"payload":{"before":{"appointment_id":42},"after":null,""" +
        """"source":{"table":"appointments","lsn":99,"ts_ms":1736899200000},"op":"d"}}"""
    val out = DebeziumSource.parse(Seq(line).toDF("value"), keyCols).collect()
    assert(out.length == 1)
    assert(out(0).op == CdcOp.Delete && out(0).key == 42L && out(0).after.isEmpty)
  }

  test("full scenario through the Debezium face with a mid-feed restart") {
    val base = Files.createTempDirectory("graft-dbz").toString
    val feed = s"$base/feed"; val ckpt = s"$base/ckpt"
    val clock = () => lit("2025-01-15 13:00:00").cast("timestamp_ntz")

    // reference state: the same events applied in-process
    val refStore = new BucketedTableStore(spark, s"$base/ref", nBuckets = 1)
    val refPipe = new CdcPipeline(spark, refStore, HealthcareSchema.all,
      HealthcareSchema.keyColumns, clock)
    refPipe.loadSnapshot(HealthcareFixtures.all(spark))

    val dbzStore = new BucketedTableStore(spark, s"$base/dbz", nBuckets = 1)
    val dbzPipe = new CdcPipeline(spark, dbzStore, HealthcareSchema.all,
      HealthcareSchema.keyColumns, clock)
    dbzPipe.loadSnapshot(HealthcareFixtures.all(spark))

    val firstHalf = Seq(
      evt(CdcOp.Insert, 1, 201), evt(CdcOp.Insert, 2, 202),
      evt(CdcOp.Update, 3, 201, "confirmed"))
    val secondHalf = Seq(
      evt(CdcOp.Update, 4, 201, "completed"),
      evt(CdcOp.Delete, 5, 202), evt(CdcOp.Insert, 6, 203))
    (firstHalf ++ secondHalf).grouped(3).foreach(b =>
      refPipe.applyEventBatch(spark.createDataset(b)))

    DebeziumSource.encode(spark.createDataset(firstHalf), keyCols)
      .coalesce(1).write.mode("append").text(feed)
    val q1 = dbzPipe.start(DebeziumSource.fileStream(spark, feed, keyCols),
      ckpt, Trigger.AvailableNow())
    assert(q1.awaitTermination(120000))
    // the KILL: q1 is gone; more wire traffic lands; restart from checkpoint
    DebeziumSource.encode(spark.createDataset(secondHalf), keyCols)
      .coalesce(1).write.mode("append").text(feed)
    val q2 = dbzPipe.start(DebeziumSource.fileStream(spark, feed, keyCols),
      ckpt, Trigger.AvailableNow())
    assert(q2.awaitTermination(120000))

    val cols = Seq("appointment_id", "status", CdcApplier.MetaDeleted)
    val refRows = refStore.read("appointments")
      .select(cols.map(col): _*).collect().toSet
    val dbzRows = dbzStore.read("appointments")
      .select(cols.map(col): _*).collect().toSet
    assert(dbzRows == refRows)
  }

  test("schema evolution arrives through the wire format as a new map key") {
    val base = Files.createTempDirectory("graft-dbz-evo").toString
    val store = new BucketedTableStore(spark, s"$base/store", nBuckets = 1)
    val pipe = new CdcPipeline(spark, store, HealthcareSchema.all,
      HealthcareSchema.keyColumns,
      clock = () => lit("2025-01-15 13:00:00").cast("timestamp_ntz"))
    pipe.loadSnapshot(HealthcareFixtures.all(spark))
    val widened = Seq(
      evt(CdcOp.Insert, 1, 201, extra = Map("priority" -> "high")),
      evt(CdcOp.Insert, 2, 202, extra = Map("priority" -> "normal")))
    val wire = DebeziumSource.encode(spark.createDataset(widened), keyCols)
    pipe.applyEventBatch(DebeziumSource.parse(wire, keyCols))
    val out = store.read("appointments")
    assert(out.columns.contains("priority"))
    assert(out.filter(col("appointment_id") === 201 && col("priority") === "high").count() == 1)
    // pre-evolution rows read NULL in the widened column
    assert(out.filter(col("priority").isNull).count() == 170)
  }
}
