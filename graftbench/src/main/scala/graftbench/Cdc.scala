package graftbench

import java.nio.file.{Files, Path, Paths}
import java.time.{LocalDate, LocalDateTime}
import java.time.format.DateTimeFormatter
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Column, DataFrame, Dataset, Row}
import org.apache.spark.sql.types.StructType
import graft.cdc._

/** Times the destination's calls in traced runs: journal and merge inside
  * `applyEventBatch`, and the reads a refresh makes.
  */
final class TracedDestination(inner: CdcDestination, tracer: Tracer) extends CdcDestination {
  def read(table: String): DataFrame = tracer.span("store", table, "read")(inner.read(table))
  def commitSnapshot(table: String, df: DataFrame, keyCol: String): Long =
    tracer.span("store", table, "snapshot")(inner.commitSnapshot(table, df, keyCol))
  def mergeBatch(table: String, events: DataFrame, keyCol: String, applyTs: Column): Long =
    tracer.span("cdc", table, "merge")(inner.mergeBatch(table, events, keyCol, applyTs))
  def appendJournal(table: String, events: DataFrame): Unit =
    tracer.span("cdc", table, "journal")(inner.appendJournal(table, events))
  def readJournal(table: String): DataFrame = inner.readJournal(table)
  def vacuumJournal(table: String, olderThan: LocalDate): Seq[String] = inner.vacuumJournal(table, olderThan)
}

/** Row values as the strings a change event carries, so stored rows and
  * generated after-images compare directly.
  */
object Cells {
  private val tsFmt = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
  val Null = "\\N"
  def ts(t: LocalDateTime): String = t.format(tsFmt)
  def apply(v: Any): String = v match {
    case null => Null
    case t: LocalDateTime => if (t.getNano == 0) ts(t) else ts(t) + f".${t.getNano / 1000}%06d"
    case d: java.math.BigDecimal => d.toPlainString
    case other => other.toString
  }
  def image(row: Row, cols: Seq[String]): Map[String, String] =
    cols.map(c => c -> apply(row.getAs[Any](c))).toMap
}

/** Outcome of replaying a whole feed against the final store. */
final case class ReplayResult(missing: Long, mismatched: Long, extra: Long, rows: Long) {
  def ok: Boolean = missing == 0 && mismatched == 0 && extra == 0
  def detail: String = s"missing=$missing mismatched=$mismatched extra=$extra rows=$rows"
}

/** A 16-bucket store, the pipeline over it, and the per-batch bookkeeping
  * both CDC workloads share.
  */
final class CdcRig(ctx: Ctx, val root: String, schemas: Map[String, StructType],
    keys: Map[String, String]) {
  import ctx._

  val tables: Seq[String] = schemas.keys.toSeq.sorted
  val store = new BucketedTableStore(spark, root, nBuckets = 16)
  val dest: CdcDestination = if (tracer.enabled) new TracedDestination(store, tracer) else store
  val pipeline = new CdcPipeline(spark, dest, schemas, keys)
  val batchEvents = mutable.Map.empty[Int, Long]
  private val diffs = mutable.Map.empty[Int, (Int, Long, Int)] // round -> (buckets, bytes, files)

  def dataCols(t: String): Seq[String] = schemas(t).fieldNames.toSeq.filterNot(_ == keys(t))

  private def dataFiles(t: String, b: Int, v: Long): Seq[Path] = {
    val ls = Files.list(Paths.get(root, t, s"b$b", s"v$v"))
    try ls.iterator.asScala.filter(_.getFileName.toString.startsWith("part-")).toSeq
    finally ls.close()
  }

  private def manifests(): Map[String, Map[Int, Long]] =
    tables.filter(store.exists).map(t => t -> store.manifest(t)).toMap

  /** Apply one micro-batch of `n` events as round `r`'s timed apply op. In
    * traced runs, also diff the manifests to count what the commit rewrote.
    */
  def apply(r: Int, events: Dataset[CdcEvent], n: Long): Unit = {
    batchEvents(r) = n
    val before = if (tracer.enabled) manifests() else Map.empty[String, Map[Int, Long]]
    ops.timed("apply", "applyEventBatch") {
      tracer.span("cdc", "applyEventBatch", "apply")(pipeline.applyEventBatch(events))
    }
    if (tracer.enabled) {
      val rewritten = manifests().toSeq.flatMap { case (t, m) =>
        m.filter { case (b, v) => !before.getOrElse(t, Map.empty[Int, Long]).get(b).contains(v) }
          .map { case (b, v) => (t, b, v) }
      }
      val files = rewritten.flatMap { case (t, b, v) => dataFiles(t, b, v) }
      diffs(r) = (rewritten.size, files.map(Files.size).sum, files.size)
    }
  }

  def drop(): Unit = {
    val walk = Files.walk(Paths.get(root))
    try walk.iterator.asScala.toSeq.reverse.foreach(Files.delete)
    finally walk.close()
  }

  /** apply_p50_ms (p75 too once a run holds 40 batches) and apply_events_per_s. */
  def endToEnd(measured: Set[Int]): Seq[(String, Double, String)] = {
    val applies = ops.all.filter(o => o.kind == "apply" && measured(o.round)).toSeq
    CdcRig.quantiles("apply", applies.map(_.ms)) :+
      (("apply_events_per_s", applies.map(o => batchEvents(o.round)).sum / (applies.map(_.ms).sum / 1000), "events/s"))
  }

  def layerMetrics(measured: Set[Int], jobs: Seq[JobStat]): Seq[(String, Double, String)] = {
    val kids = tracer.children
    val jobsBySpan = jobs.groupBy(_.span)
    val applyOf = tracer.spans.filter(s => measured(s.round) && s.phase == "apply").map(s => s.round -> s).toMap
    val rounds = measured.toSeq.sorted
    def med(f: Int => Double): Double = Main.median(rounds.map(f))
    def tree(r: Int): Seq[Span] = applyOf.get(r).map(tracer.subtree(_, kids)).getOrElse(Nil)
    def work(r: Int): JobStat = {
      val acc = new JobStat(-1, 0, 0L)
      tree(r).flatMap(s => jobsBySpan.getOrElse(s.id, Nil)).foreach(acc.add)
      acc
    }
    def phaseMs(r: Int, phase: String) = tree(r).filter(_.phase == phase).map(_.ms).sum
    val liveFiles = manifests().toSeq.map { case (t, m) =>
      m.toSeq.map { case (b, v) => dataFiles(t, b, v).size }.sum
    }.sum
    Seq(
      ("cdc.apply_self_ms", med(r => applyOf.get(r).map(tracer.selfMs(_, kids)).getOrElse(0.0)), "ms"),
      ("cdc.journal_ms", med(phaseMs(_, "journal")), "ms"),
      ("cdc.merge_ms", med(phaseMs(_, "merge")), "ms"),
      ("cdc.jobs_per_batch", med(r => tree(r).map(s => jobsBySpan.getOrElse(s.id, Nil).size).sum.toDouble), "count"),
      ("cdc.tasks_per_batch", med(r => work(r).tasks.toDouble), "count"),
      ("cdc.task_cpu_ms_per_batch", med(r => work(r).cpuNs / 1e6), "ms"),
      ("cdc.shuffle_bytes_per_event", med(r => work(r).shuffleWrite.toDouble / batchEvents(r)), "bytes"),
      ("cdc.spill_bytes_per_batch", med(r => work(r).spill.toDouble), "bytes"),
      ("store.buckets_rewritten_per_batch", med(r => diffs(r)._1.toDouble), "count"),
      ("store.bytes_written_per_event", med(r => diffs(r)._2.toDouble / batchEvents(r)), "bytes"),
      ("store.files_written_per_batch", med(r => diffs(r)._3.toDouble), "count"),
      ("store.live_files", liveFiles.toDouble, "count"))
  }
}

object CdcRig {
  /** A median, and a p75 only when at least ten samples lie beyond it. */
  def quantiles(name: String, ms: Seq[Double]): Seq[(String, Double, String)] =
    Seq((s"${name}_p50_ms", Main.median(ms), "ms")) ++
      (if (ms.size >= 40) Seq((s"${name}_p75_ms", ms.sorted.apply(ms.size * 3 / 4), "ms")) else Nil)
}
