package graft

import java.nio.file.{Files, Paths}
import graft.cdc.{BucketedTableStore, CdcApplier, CdcEvent, CdcMetrics, CdcOp, CdcPipeline}
import graft.fixtures.HealthcareFixtures
import graft.model.HealthcareSchema
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Wall-clock CDC soak (r10 verdict item 4): the streaming applier run for
  * real minutes at the reference's 60 s trigger cadence
  * (sql/3.live_appointments.sql:21-22,48-49), against a live feed thread
  * that keeps writing event files while the pipeline runs, with ≥1
  * mid-soak KILL + RESTART from the checkpoint. The scenario specs verify
  * the applier's semantics under simulated time; this measures the thing
  * they cannot — per-batch apply latency headroom against the trigger
  * budget over a real clock, across a restart, with the feed never
  * pausing.
  *
  * Output: one JSON line (and `bench/cdc_soak.json`) with batch latency
  * quantiles, restart count, row volumes, and a correctness field
  * computed by replaying the ENTIRE generated feed per key (argmax lsn)
  * against the final store state — `state_mismatches` must be 0.
  * `CdcSoakArtifactSpec` gates the committed artifact (≥ the minimum
  * span, ≥1 restart, p99 ≪ budget, 0 mismatches).
  *
  * Round-12 extensions (r11 verdict item 7): the destination is the
  * BUCKETED copy-on-write store, and at 75%
  * of the soak the feeder starts shipping a NEW COLUMN in its after-images
  * (`checkin_kiosk`, the source-side ALTER TABLE ADD COLUMN) — the
  * pipeline's widening probe must evolve the live destination mid-stream,
  * and the full-feed replay then also checks the evolved column per key
  * (pre-evolution rows NULL, post-evolution rows exact).
  *
  * Knobs: SPARK_GRAFT_SOAK_MINUTES (default 31), SPARK_GRAFT_SOAK_TRIGGER_SEC
  * (default 60), SPARK_GRAFT_SOAK_FEED_SEC (default 12).
  */
object CdcSoak {

  private def quantile(sorted: Seq[Long], q: Double): Long =
    if (sorted.isEmpty) 0L
    else sorted(math.min(sorted.size - 1, math.ceil(q * sorted.size).toInt - 1).max(0))

  def main(args: Array[String]): Unit = {
    val minutes = GraftSession.doubleEnv("SPARK_GRAFT_SOAK_MINUTES", 31)
    val triggerSec = GraftSession.intEnv("SPARK_GRAFT_SOAK_TRIGGER_SEC", 60)
    val feedSec = GraftSession.intEnv("SPARK_GRAFT_SOAK_FEED_SEC", 12)
    // recentProgress is a ring buffer (default ~100); a multi-hour soak at
    // the 60 s trigger exceeds it and the post-stop tally would silently
    // drop the oldest batches — size it to the longest soak we run
    val spark = GraftSession("spark.sql.streaming.numRecentProgressUpdates" -> "1000")
    import spark.implicits._

    val base = Files.createTempDirectory("graft-cdc-soak")
    val storeRoot = s"$base/store"
    val feedDir = s"$base/feed"
    val ckpt = s"$base/ckpt"
    Files.createDirectories(Paths.get(feedDir))

    val store = new BucketedTableStore(spark, storeRoot, nBuckets = 16)
    val pipeline = new CdcPipeline(spark, store, HealthcareSchema.all,
      HealthcareSchema.keyColumns)
    pipeline.loadSnapshot(HealthcareFixtures.all(spark))

    // ---- live feeder: monotone-lsn appointment churn, one file per tick ----
    val statuses = Array("scheduled", "confirmed", "checked_in", "in_progress",
      "completed", "cancelled")
    val lsn = new java.util.concurrent.atomic.AtomicLong(1000L)
    @volatile var feederStop = false
    @volatile var eventsWritten = 0L
    // the source-side ALTER TABLE ADD COLUMN switch: once set, every
    // insert/update after-image carries the new column; the first lsn that
    // shipped it bounds the replay's pre/post-evolution expectation
    @volatile var evolve = false
    @volatile var evolutionLsn = Long.MaxValue
    val rng = new scala.util.Random(2026)
    def apptEvent(l: Long, id: Long, op: String): CdcEvent = {
      val status = statuses(rng.nextInt(statuses.length))
      CdcEvent("appointments", op, l,
        java.sql.Timestamp.from(java.time.Instant.now()), id,
        if (op == CdcOp.Delete) Map.empty
        else Map(
          "patient_id" -> ((id % 100) + 1).toString,
          "doctor_id" -> ((id % 10) + 1).toString,
          "appointment_date" -> "2025-01-15",
          "appointment_time" -> "10:00:00",
          "status" -> status,
          "reason_for_visit" -> s"soak lsn $l",
          "appointment_type" -> "urgent",
          "created_at" -> "2025-01-15 07:00:00",
          "updated_at" -> "2025-01-15 07:00:00") ++
          (if (evolve) {
            if (evolutionLsn == Long.MaxValue) evolutionLsn = l
            Map("checkin_kiosk" -> s"K-${id % 7}")
          } else Map.empty))
    }
    val feeder = new Thread(() => {
      var tick = 0
      while (!feederStop) {
        // ~60% updates to the snapshot's live keys (1..170), ~30% inserts of
        // fresh keys, ~10% deletes of recent keys — rotating so every batch
        // touches both existing and new rows
        val evs = (0 until 120).map { i =>
          val l = lsn.incrementAndGet()
          val roll = rng.nextInt(10)
          if (roll < 6) apptEvent(l, (rng.nextInt(170) + 1).toLong, CdcOp.Update)
          else if (roll < 9) apptEvent(l, 10000L + tick * 200 + i, CdcOp.Insert)
          else apptEvent(l, (rng.nextInt(170) + 1).toLong, CdcOp.Delete)
        }
        spark.createDataset(evs).coalesce(1).write.mode("append").json(feedDir)
        eventsWritten += evs.size
        tick += 1
        Thread.sleep(feedSec * 1000L)
      }
    }, "cdc-soak-feeder")
    feeder.setDaemon(true)

    val trigger = Trigger.ProcessingTime(s"$triggerSec seconds")
    val t0 = System.nanoTime()
    feeder.start()
    var q = pipeline.start(CdcPipeline.fileEventStream(spark, feedDir), ckpt, trigger)

    val halfMs = (minutes * 60000 / 2).toLong
    Thread.sleep(halfMs)
    // ---- the KILL: stop mid-life (feed keeps flowing), restart from ckpt ----
    // summarize AFTER stop(): a batch committing between a pre-stop summarize
    // and the stop would be counted in neither half and spuriously fail the
    // rows_applied == events_written artifact gate. recentProgress survives
    // stop(), so post-stop reads see every committed batch of this run.
    q.stop()
    q.awaitTermination()
    val firstHalf = CdcMetrics.summarize(q)
    val killedAtSec = (System.nanoTime() - t0) / 1e9
    Thread.sleep(5000) // the pipeline is down; events keep arriving
    q = pipeline.start(CdcPipeline.fileEventStream(spark, feedDir), ckpt, trigger)
    Thread.sleep(halfMs / 2)
    // ---- the ALTER TABLE: at 75% of the soak the source grows a column;
    // the live pipeline must widen the destination without a restart ----
    evolve = true
    val evolvedAtSec = (System.nanoTime() - t0) / 1e9
    Thread.sleep(halfMs - halfMs / 2)

    feederStop = true
    feeder.join(20000)
    q.processAllAvailable() // drain the tail so the correctness check is total
    q.stop()
    q.awaitTermination()
    val secondHalf = CdcMetrics.summarize(q) // post-stop, same as firstHalf
    val spanSec = (System.nanoTime() - t0) / 1e9

    // ---- correctness: full-feed replay (argmax lsn per key) vs the store ----
    val feed = spark.read
      .schema(org.apache.spark.sql.Encoders.product[CdcEvent].schema)
      .json(feedDir)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("key").orderBy(col("lsn").desc)
    val expected = feed.filter(col("table") === "appointments")
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("key").as("appointment_id"),
        col("lsn").as("exp_lsn"),
        (col("op") === CdcOp.Delete).as("exp_deleted"),
        col("after.status").as("exp_status"),
        // pre-evolution events never shipped the column → NULL expectation;
        // post-evolution events must match exactly (CdcEvent's after is a
        // string map, so element_at is total: absent key = NULL)
        element_at(col("after"), "checkin_kiosk").as("exp_kiosk"))
    val stored = store.read("appointments")
    val storedKiosk =
      if (stored.columns.contains("checkin_kiosk")) col("checkin_kiosk")
      else lit(null).cast("string") // evolution never fired (short run)
    val actual = stored
      .select(col("appointment_id"), col(CdcApplier.MetaLsn).as("act_lsn"),
        col(CdcApplier.MetaDeleted).as("act_deleted"), col("status").as("act_status"),
        storedKiosk.as("act_kiosk"))
    val joined = expected.join(actual, Seq("appointment_id"), "left")
    val missing = joined.filter(col("act_lsn").isNull).count()
    val mismatches = joined.filter(col("act_lsn").isNotNull &&
      (col("act_lsn") =!= col("exp_lsn") ||
        col("act_deleted") =!= col("exp_deleted") ||
        (!col("exp_deleted") && (!(col("act_status") <=> col("exp_status")) ||
          !(col("act_kiosk") <=> col("exp_kiosk")))))).count()
    // how many live rows actually carry the evolved column — proves the
    // widening fired on real volume, not just on one probe row
    val evolvedRows = joined.filter(!col("exp_deleted") && col("act_kiosk").isNotNull).count()

    val batches = (firstHalf ++ secondHalf).filter(_.inputRows > 0)
    val lat = batches.map(_.applyMillis).sorted
    def fmt(v: Double) = BigDecimal(v).setScale(2, BigDecimal.RoundingMode.HALF_UP).toString
    val json =
      s"""{"metric":"cdc_soak","span_sec":${fmt(spanSec)},"trigger_sec":$triggerSec,""" +
        s""""feed_period_sec":$feedSec,"events_written":$eventsWritten,""" +
        s""""n_restarts":1,"killed_at_sec":${fmt(killedAtSec)},""" +
        s""""n_batches":${batches.size},""" +
        s""""rows_applied":${batches.map(_.inputRows).sum},""" +
        s""""apply_ms_p50":${quantile(lat, 0.50)},"apply_ms_p95":${quantile(lat, 0.95)},""" +
        s""""apply_ms_p99":${quantile(lat, 0.99)},"apply_ms_max":${if (lat.isEmpty) 0L else lat.last},""" +
        s""""bucketed":true,"evolved_at_sec":${fmt(evolvedAtSec)},""" +
        s""""evolution_lsn":${if (evolutionLsn == Long.MaxValue) -1 else evolutionLsn},""" +
        s""""evolved_rows":$evolvedRows,""" +
        s""""state_missing":$missing,"state_mismatches":$mismatches}"""
    println(json)
    val out = Paths.get(sys.env.getOrElse("SPARK_GRAFT_SOAK_OUT", "bench/cdc_soak.json"))
    Option(out.getParent).foreach(Files.createDirectories(_))
    Files.write(out, json.getBytes("UTF-8"))
    spark.stop()
  }
}
