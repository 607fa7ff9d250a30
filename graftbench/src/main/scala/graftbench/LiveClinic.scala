package graftbench

import java.sql.Timestamp
import java.time.{LocalDate, LocalDateTime}
import scala.collection.mutable
import scala.util.Random
import org.apache.spark.sql.{DataFrame, Encoders, Row}
import graft.analytics.{HealthcareQueries, HealthcareTables}
import graft.cdc._
import graft.fixtures.HealthcareFixtures
import graft.model.HealthcareSchema
import graft.semantic.{QueryBuilder, SemanticModel}

/** The clinic's change feed: a seeded generator that also keeps the source
  * tables it is changing, so each event is valid against the source state
  * and the dashboard's totals are known for every round.
  */
final class ClinicFeed(seed: Long, val snapshot: Map[String, Map[Long, Map[String, String]]]) {
  val feed = mutable.ArrayBuffer.empty[CdcEvent]
  private val live = snapshot.map { case (t, rows) => t -> mutable.LinkedHashMap(rows.toSeq: _*) }
  private val apptKeys = mutable.ArrayBuffer(live("appointments").keys.toSeq: _*)
  private var nextAppt = live("appointments").keys.max + 1
  private var lsn = 1000L
  private val base = LocalDateTime.parse(s"${HealthcareFixtures.DefaultNow}T08:00:00")

  private val statuses = HealthcareSchema.AppointmentStatuses
  private val types = HealthcareSchema.AppointmentTypes
  private val reasons = Seq("Annual physical", "Flu symptoms", "Back pain", "Headache",
    "Blood pressure check", "Follow-up visit", "Skin rash", "Cough")

  def liveStatusCounts: Map[String, Long] =
    live("appointments").values.groupBy(_("status")).map { case (s, rs) => s -> rs.size.toLong }
  def liveAppointments: Long = live("appointments").size.toLong
  def lastLsn: Long = lsn
  def anyLiveAppointment: (Long, Map[String, String]) = live("appointments").head

  private def emit(out: mutable.ArrayBuffer[CdcEvent], table: String, op: String, key: Long,
      img: Map[String, String]): Unit = {
    lsn += 1
    val e = CdcEvent(table, op, lsn, Timestamp.valueOf(base.plusSeconds(lsn)), key, img)
    out += e
    feed += e
    if (op == CdcOp.Delete) live(table).remove(key) else live(table)(key) = img
  }

  private def pick[T](rng: Random, xs: Seq[T]): T = xs(rng.nextInt(xs.size))

  /** One micro-batch of appointment churn in CdcSoak's 60/30/10
    * update/insert/delete mix — the traffic of sql/3.live_appointments.sql.
    */
  def batch(b: Int, appointmentEvents: Int): Seq[CdcEvent] = {
    val rng = new Random(seed * 1000003L + b)
    val out = mutable.ArrayBuffer.empty[CdcEvent]
    val at = Cells.ts(base.plusSeconds(lsn + 1))
    for (_ <- 0 until appointmentEvents) {
      val roll = rng.nextInt(10)
      if (roll < 6 && apptKeys.nonEmpty) {
        val key = apptKeys(rng.nextInt(apptKeys.size))
        val status = pick(rng, statuses)
        val img = live("appointments")(key) ++ Map("status" -> status, "updated_at" -> at)
        emit(out, "appointments", CdcOp.Update, key, img)
      } else if (roll < 9 || apptKeys.isEmpty) {
        val slot = rng.nextInt(18)
        val img = Map(
          "patient_id" -> (rng.nextInt(100) + 1).toString,
          "doctor_id" -> (rng.nextInt(10) + 1).toString,
          "appointment_date" -> LocalDate.parse(HealthcareFixtures.DefaultNow).plusDays(rng.nextInt(30) + 1L).toString,
          "appointment_time" -> f"${8 + slot / 2}%02d:${(slot % 2) * 30}%02d:00",
          "status" -> (if (rng.nextBoolean()) "scheduled" else "confirmed"),
          "reason_for_visit" -> pick(rng, reasons),
          "appointment_type" -> pick(rng, types),
          "created_at" -> at, "updated_at" -> at)
        emit(out, "appointments", CdcOp.Insert, nextAppt, img)
        apptKeys += nextAppt
        nextAppt += 1
      } else {
        val i = rng.nextInt(apptKeys.size)
        val key = apptKeys(i)
        apptKeys(i) = apptKeys.last
        apptKeys.remove(apptKeys.size - 1)
        emit(out, "appointments", CdcOp.Delete, key, Map.empty)
      }
    }
    out.toSeq
  }

  /** Replay the whole feed per key over the snapshot — the latest lsn
    * decides op and lsn, the latest non-delete image decides the data — and
    * compare with the rows the store holds for `table`.
    */
  def replay(table: String, stored: Array[Row], keyCol: String, dataCols: Seq[String]): ReplayResult = {
    val snap = snapshot(table)
    val byKey = feed.filter(_.table == table).groupBy(_.key)
    val expected = (snap.keySet ++ byKey.keySet).iterator.map { k =>
      val evs = byKey.getOrElse(k, Nil).sortBy(_.lsn)
      val img = evs.filter(_.op != CdcOp.Delete).lastOption.map(_.after).getOrElse(snap(k))
      k -> (evs.lastOption.map(_.lsn).getOrElse(0L), evs.lastOption.exists(_.op == CdcOp.Delete), img)
    }.toMap
    val actual = stored.groupBy(_.getAs[Long](keyCol))
    val mismatched = expected.count { case (k, (lsn, deleted, img)) =>
      actual.get(k).exists { rs =>
        val r = rs.head
        r.getAs[Long](CdcApplier.MetaLsn) != lsn || r.getAs[Boolean](CdcApplier.MetaDeleted) != deleted ||
          dataCols.exists(c => Cells(r.getAs[Any](c)) != img.getOrElse(c, Cells.Null))
      }
    }
    ReplayResult(
      missing = expected.keySet.count(k => !actual.contains(k)).toLong,
      mismatched = mismatched.toLong,
      extra = actual.count { case (k, rs) => !expected.contains(k) || rs.length > 1 }.toLong,
      rows = stored.length.toLong)
  }
}

/** live_clinic: the reference seed snapshotted into a 16-bucket store, then
  * rounds of one ~120-event micro-batch followed by one dashboard refresh
  * (a panel per category of the reference's analytics suite plus the
  * semantic model's verified queries), all read through the store.
  */
final class LiveClinic(ctx: Ctx) extends Workload {
  import ctx._

  private val now = HealthcareFixtures.DefaultNow
  private val appointmentEvents = if (tiny) 20 else 120

  private var rig: CdcRig = _
  private var model: SemanticModel = _
  private var gen: ClinicFeed = _
  private var next: Seq[CdcEvent] = Nil

  def setup(rep: Int): Unit = {
    if (rig != null) rig.drop()
    rig = new CdcRig(ctx, s"$work/store-$rep", HealthcareSchema.all, HealthcareSchema.keyColumns)
    val sources = HealthcareFixtures.all(spark)
    gen = new ClinicFeed(seed, sources.map { case (t, df) =>
      val key = HealthcareSchema.keyColumns(t)
      t -> df.collect().map(r => r.getAs[Long](key) -> Cells.image(r, rig.dataCols(t))).toMap
    })
    rig.pipeline.loadSnapshot(sources)
    model = SemanticModel.loadResource("/healthcare_semantic_model.yaml")
  }

  // The panels the feed moves — status mix, today's schedule, CDC audit —
  // and the verified semantic summary. Four calls, so that a run, warm-up
  // included, fits the benchmark's time budget.
  private val panels: Seq[(String, HealthcareTables => DataFrame)] = Seq(
    "status_distribution" -> (t => HealthcareQueries.statusDistribution(t)),
    "doctor_utilization_today" -> (t => HealthcareQueries.doctorUtilizationToday(t, now)),
    "recently_modified" -> (t => HealthcareQueries.recentlyModified(t, s"$now 00:00:00")))
  private val verified = Seq("total_appointments_summary")

  override def prepare(r: Int): Unit = next = gen.batch(r, appointmentEvents)

  def round(r: Int): Unit = {
    rig.apply(r, spark.createDataset(next)(Encoders.product[CdcEvent]), next.size.toLong)
    val expectStatus = gen.liveStatusCounts
    val expectTotal = gen.liveAppointments
    ops.timed("refresh", "dashboard") {
      val d = rig.dest
      val t = HealthcareTables(d.read("patients"), d.read("doctors"), d.read("appointments"), d.read("visits"))
      val byName = Map("patients" -> t.patients, "doctors" -> t.doctors,
        "appointments" -> t.appointments, "visits" -> t.visits)
      val qb = new QueryBuilder(model, byName(_))
      val panelRows = panels.map { case (name, f) => name -> query("analytics", name)(f(t))._2 }.toMap
      val semRows = verified.map(v => v -> query("semantic", v, "compile")(qb.verified(v))._2).toMap
      (panelRows("status_distribution"), semRows("total_appointments_summary"))
    }.foreach { case (statusRows, summary) =>
      val status = statusRows.map(row => row.getAs[String]("status") -> row.getAs[Long]("appointment_count")).toMap
      val total = summary.head.getAs[Long]("total_appointments")
      if (status != expectStatus || total != expectTotal)
        ops.failLast("refresh", s"dashboard totals: status=$status expected=$expectStatus " +
          s"total=$total expected=$expectTotal")
    }
  }

  def finish(): Unit = {
    if (corrupt) {
      // one stored row changed behind the feed's back: the replay must see it
      val (key, img) = gen.anyLiveAppointment
      val bad = CdcEvent("appointments", CdcOp.Update, gen.lastLsn + 1, new Timestamp(0L), key,
        img + ("reason_for_visit" -> "corrupted"))
      rig.pipeline.applyEventBatch(spark.createDataset(Seq(bad))(Encoders.product[CdcEvent]))
    }
    rig.tables.foreach { t =>
      val res = gen.replay(t, rig.store.read(t).collect(), HealthcareSchema.keyColumns(t), rig.dataCols(t))
      ops.check(s"replay.$t", res.ok, res.detail)
    }
  }

  override def ownEndToEnd(measured: Set[Int]): Seq[(String, Double, String)] =
    rig.endToEnd(measured) ++
      CdcRig.quantiles("refresh", ops.all.filter(o => o.kind == "refresh" && measured(o.round)).map(_.ms).toSeq)

  override def layerMetrics(measured: Set[Int], jobs: Seq[JobStat]): Seq[(String, Double, String)] = {
    val rounds = measured.toSeq.sorted
    val spans = tracer.spans.filter(s => measured(s.round))
    val jobsBySpan = jobs.groupBy(_.span)
    def med(f: Int => Double): Double = Main.median(rounds.map(f))
    def ms(r: Int, layer: String, phase: String) =
      spans.filter(s => s.round == r && s.layer == layer && s.phase == phase).map(_.ms).sum
    def analyticsJobs(r: Int) =
      spans.filter(s => s.round == r && s.layer == "analytics").flatMap(s => jobsBySpan.getOrElse(s.id, Nil))
    rig.layerMetrics(measured, jobs) ++ Seq(
      ("store.read_ms", med(ms(_, "store", "read")), "ms"),
      ("analytics.build_ms", med(ms(_, "analytics", "build")), "ms"),
      ("analytics.plan_ms", med(ms(_, "analytics", "plan")), "ms"),
      ("analytics.exec_ms", med(ms(_, "analytics", "exec")), "ms"),
      ("analytics.jobs_per_refresh", med(r => analyticsJobs(r).size.toDouble), "count"),
      ("analytics.tasks_per_refresh", med(r => analyticsJobs(r).map(_.tasks).sum.toDouble), "count"),
      ("semantic.compile_ms", med(ms(_, "semantic", "compile")), "ms"),
      ("semantic.plan_ms", med(ms(_, "semantic", "plan")), "ms"),
      ("semantic.exec_ms", med(ms(_, "semantic", "exec")), "ms"))
  }

  override def notes: Map[String, Any] = Map("events_per_batch" -> rig.batchEvents.toSeq.sorted.map(_._2))
}
