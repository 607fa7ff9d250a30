package graftbench

import org.apache.spark.sql.{Column, DataFrame, Encoders}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.cdc.{CdcApplier, CdcEvent, CdcOp}
import graft.model.HealthcareSchema

/** cdc_backfill: catch-up after downtime. A seeded appointments destination
  * of 10^6 rows, then one large batch per round (updates of existing keys,
  * some repeated inside the batch at a higher lsn, inserts, deletes), applied
  * with `applyEventBatch` and nothing else: no query reads the store.
  */
final class CdcBackfill(ctx: Ctx) extends Workload {
  import ctx._

  private val rows = if (tiny) 20000L else 1000000L
  private val eventsPerBatch = if (tiny) 5000L else 100000L
  private val schemas = Map("appointments" -> HealthcareSchema.appointments)
  private val keys = Map("appointments" -> "appointment_id")
  private val feedDir = s"$work/feed"
  private var rig: CdcRig = _
  private var next: DataFrame = _

  private def h(salt: Int, id: Column, b: Int): Column = xxhash64(lit(seed), lit(b), lit(salt), id)
  private def draw(salt: Int, id: Column, b: Int, n: Long): Column = pmod(h(salt, id, b), lit(n))

  /** A row image drawn from (seed, batch, `key`); every value is written as
    * the string Spark casts the typed value to.
    */
  private def image(key: Column, b: Int): Seq[(String, Column)] = {
    val statuses = array(HealthcareSchema.AppointmentStatuses.map(lit): _*)
    val types = array(HealthcareSchema.AppointmentTypes.map(lit): _*)
    val date = date_add(lit("2024-01-01").cast("date"), draw(8, key, b, 730).cast("int"))
    Seq(
      "patient_id" -> (draw(6, key, b, 100000) + 1),
      "doctor_id" -> (draw(7, key, b, 1000) + 1),
      "appointment_date" -> date,
      "appointment_time" -> format_string("%02d:%02d:00", draw(9, key, b, 9) + 8, draw(10, key, b, 2) * 30),
      "status" -> element_at(statuses, (draw(11, key, b, 7) + 1).cast("int")),
      "reason_for_visit" -> concat(lit("reason "), draw(12, key, b, 50)),
      "appointment_type" -> element_at(types, (draw(13, key, b, 4) + 1).cast("int")),
      "created_at" -> date.cast("timestamp_ntz"),
      "updated_at" -> format_string("%s %02d:00:00", date.cast("string"), draw(14, key, b, 24))
    ).map { case (c, v) => c -> v.cast("string") }
  }

  private def snapshotDf: DataFrame = {
    val key = col("id")
    spark.range(1, rows + 1).select(key.as("appointment_id") +:
      image(key, -1).map { case (c, v) => v.cast(HealthcareSchema.appointments(c).dataType).as(c) }: _*)
  }

  /** Batch `b`: a 60/30/10 update/insert/delete roll per event. Updates hit
    * keys not divisible by 10 and a tenth of them reuse the previous slot's
    * key (a repeat at a higher lsn); deletes hit keys divisible by 10;
    * inserts take fresh keys above every earlier one.
    */
  private def batchDf(b: Int): DataFrame = {
    val i = col("id")
    val roll = draw(1, i, b, 10)
    val slot = when(draw(4, i, b, 10) === 0, i - 1).otherwise(i)
    val updKey = draw(2, slot, b, rows / 10) * 10 + draw(3, slot, b, 9) + 1
    val delKey = (draw(5, i, b, rows / 10 - 1) + 1) * 10
    val insKey = lit(rows + 1 + b.toLong * eventsPerBatch) + i
    val op = when(roll < 6, lit(CdcOp.Update)).when(roll < 9, lit(CdcOp.Insert)).otherwise(lit(CdcOp.Delete))
    val key = when(roll < 6, updKey).when(roll < 9, insKey).otherwise(delKey)
    val lsn = lit(1000L + b.toLong * eventsPerBatch) + i
    spark.range(eventsPerBatch)
      .select(op.as("op"), key.as("key"), lsn.as("lsn"))
      .select(lit("appointments").as("table"), col("op"), col("lsn"),
        timestamp_seconds(lit(1735689600L) + col("lsn")).as("commitTs"), col("key"),
        when(col("op") === CdcOp.Delete, map().cast("map<string,string>"))
          .otherwise(map(image(col("lsn"), b).flatMap { case (c, v) => Seq(lit(c), v) }: _*)).as("after"))
  }

  def setup(rep: Int): Unit = {
    if (rig != null) rig.drop()
    rig = new CdcRig(ctx, s"$work/store-$rep", schemas, keys)
    rig.pipeline.loadSnapshot(Map("appointments" -> snapshotDf))
  }

  /** Generate round `r`'s batch into the feed directory, outside the timed round. */
  override def prepare(r: Int): Unit = {
    batchDf(r).write.mode("overwrite").parquet(s"$feedDir/b$r")
    next = spark.read.parquet(s"$feedDir/b$r")
  }

  def round(r: Int): Unit = rig.apply(r, next.as[CdcEvent](Encoders.product[CdcEvent]), eventsPerBatch)

  def finish(): Unit = {
    val cols = rig.dataCols("appointments")
    val feed = spark.read.parquet(rig.batchEvents.keys.toSeq.sorted.map(r => s"$feedDir/b$r"): _*)
    val w = Window.partitionBy("key").orderBy(col("lsn").desc)
    val last = feed.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("key"), col("lsn").as("e_lsn"), (col("op") === CdcOp.Delete).as("e_del"))
    val lastImage = feed.filter(col("op") =!= CdcOp.Delete)
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("key").as("i_key"), col("after"))
    val snap = snapshotDf.select(col("appointment_id").as("s_key") +:
      cols.map(c => col(c).cast("string").as(s"s_$c")): _*)
    val expected = snap
      .join(last, col("s_key") === col("key"), "full_outer")
      .join(lastImage, coalesce(col("s_key"), col("key")) === col("i_key"), "left")
      .select(coalesce(col("s_key"), col("key")).as("x_key") +:
        coalesce(col("e_lsn"), lit(0L)).as("x_lsn") +:
        coalesce(col("e_del"), lit(false)).as("x_del") +:
        cols.map(c => coalesce(element_at(col("after"), c), col(s"s_$c")).as(s"x_$c")): _*)
    val stored = rig.store.read("appointments")
    val actual = stored.select(col("appointment_id").as("a_key") +:
      col(CdcApplier.MetaLsn).as("a_lsn") +: col(CdcApplier.MetaDeleted).as("a_del") +:
      cols.map(c => col(c).cast("string").as(s"a_$c")): _*)
    val differs = (Seq(col("x_lsn") =!= col("a_lsn"), col("x_del") =!= col("a_del")) ++
      cols.map(c => !(col(s"x_$c") <=> col(s"a_$c")))).reduce(_ || _)
    val tally = expected.join(actual, col("x_key") === col("a_key"), "full_outer")
      .agg(
        sum(when(col("a_key").isNull, 1).otherwise(0)).as("missing"),
        sum(when(col("x_key").isNull, 1).otherwise(0)).as("extra"),
        sum(when(col("x_key").isNotNull && col("a_key").isNotNull && differs, 1).otherwise(0)).as("mismatched"),
        count(col("a_key")).as("rows"), countDistinct(col("a_key")).as("keys"))
      .head()
    def n(c: String) = Option(tally.getAs[Any](c)).map(_.toString.toLong).getOrElse(0L)
    val res = ReplayResult(n("missing"), n("mismatched"), n("extra") + n("rows") - n("keys"), n("rows"))
    ops.check("replay.appointments", res.ok, res.detail)
  }

  override def ownEndToEnd(measured: Set[Int]): Seq[(String, Double, String)] = rig.endToEnd(measured)

  override def layerMetrics(measured: Set[Int], jobs: Seq[JobStat]): Seq[(String, Double, String)] =
    rig.layerMetrics(measured, jobs)
}
