package graftbench

import java.nio.file.{Files, Paths}
import java.security.MessageDigest
import java.time.ZoneOffset
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.Row
import graft.SparkEntry

/** Order-insensitive digest of a query result. digests.py computes the same
  * digest from DuckDB rows: columns sorted by name, each value written in a
  * form both engines agree on (doubles by their IEEE bits, timestamps as UTC
  * epoch microseconds, decimals in plain notation), each row hashed, and the
  * sorted row hashes hashed again.
  */
object Digest {
  def cell(v: Any): String = v match {
    case null => "\\N"
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN) "7ff8000000000000" else f"${java.lang.Double.doubleToLongBits(d)}%016x"
    case f: Float => cell(f.toDouble)
    case n @ (_: Byte | _: Short | _: Int | _: Long) => n.toString
    case d: java.math.BigDecimal => d.toPlainString
    case d: scala.math.BigDecimal => d.bigDecimal.toPlainString
    case s: String => s
    case d: java.sql.Date => d.toLocalDate.toString
    case d: java.time.LocalDate => d.toString
    case t: java.sql.Timestamp => (Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000).toString
    case t: java.time.Instant => (t.getEpochSecond * 1000000L + t.getNano / 1000).toString
    case t: java.time.LocalDateTime => (t.toEpochSecond(ZoneOffset.UTC) * 1000000L + t.getNano / 1000).toString
    case r: Row => r.toSeq.map(cell).mkString("{", ",", "}")
    case b: Array[Byte] => b.map(x => f"$x%02x").mkString
    case xs: scala.collection.Seq[_] => xs.map(cell).mkString("[", ",", "]")
    case other => other.toString
  }

  private def sha256(s: String): String =
    MessageDigest.getInstance("SHA-256").digest(s.getBytes("UTF-8")).map(b => f"$b%02x").mkString

  def apply(cols: Seq[String], rows: Array[Row]): String = {
    val order = cols.zipWithIndex.sortBy(_._1)
    val rowHashes = rows.map(r => sha256(order.map { case (_, i) => cell(r.get(i)) }.mkString("\u0001"))).sorted
    sha256(order.map(_._1).mkString("\u0001") + "\n" + rowHashes.mkString("\n"))
  }
}

/** corpus_batch: a fixed mix of registered queries over the sf0.1 corpus
  * tables kept beside the benchmark, in a seeded order per round. Each
  * result is collected in full and its digest checked against the DuckDB
  * oracle's.
  */
final class CorpusBatch(ctx: Ctx) extends Workload {
  import ctx._

  private val dir = s"$benchDir/corpus"
  private val mix = if (tiny) CorpusBatch.Mix.filter(CorpusBatch.SubSecond) else CorpusBatch.Mix
  private val registry = SparkEntry.queries
  private val expected: Map[String, (String, Long)] = {
    val root = Main.json.readTree(Files.readString(Paths.get(dir, "digests.json")))
    root.fields().asScala.map(e => e.getKey -> (e.getValue.get("digest").asText, e.getValue.get("rows").asLong)).toMap
  }
  private val rowsIn = mutable.LinkedHashMap.empty[String, Long]

  /** Open every input table the mix reads and count its rows. */
  def setup(rep: Int): Unit =
    CorpusBatch.Tables.foreach(t => rowsIn(t) = spark.read.parquet(s"$dir/$t.parquet").count())

  def round(r: Int): Unit = {
    val order = new scala.util.Random(seed * 7919L + r).shuffle(mix)
    order.foreach { q =>
      ops.timed("query", q)(query("pipeline", q)(registry(q)(spark, dir))).foreach { case (cols, rows) =>
        val got = Digest(cols, rows)
        expected.get(q) match {
          case Some((d, n)) if d == got && n == rows.length =>
          case other => ops.failLast("query", s"digest $got rows=${rows.length} expected $other")
        }
      }
    }
  }

  def finish(): Unit = ()

  override def layerMetrics(measured: Set[Int], jobs: Seq[JobStat]): Seq[(String, Double, String)] = {
    val spans = tracer.spans.toSeq.filter(s => measured(s.round))
    val jobsBySpan = jobs.groupBy(_.span)
    val rounds = measured.toSeq.sorted
    def med(f: Int => Double) = Main.median(rounds.map(f))
    def of(r: Int, q: String) = spans.filter(s => s.round == r && s.name == q)
    def js(ss: Seq[Span]) = ss.flatMap(s => jobsBySpan.getOrElse(s.id, Nil))
    mix.sorted.flatMap { q =>
      Seq(
        (s"pipeline.$q.build_ms", med(r => of(r, q).filter(_.phase == "build").map(_.ms).sum), "ms"),
        (s"pipeline.$q.plan_ms", med(r => of(r, q).filter(_.phase == "plan").map(_.ms).sum), "ms"),
        (s"pipeline.$q.exec_ms", med(r => of(r, q).filter(_.phase == "exec").map(_.ms).sum), "ms"),
        (s"pipeline.$q.jobs", med(r => js(of(r, q)).size.toDouble), "count"),
        (s"pipeline.$q.task_cpu_ms", med(r => js(of(r, q)).map(_.cpuNs).sum / 1e6), "ms"))
    } ++ Seq(
      ("pipeline.shuffle_bytes_per_round", med(r => js(spans.filter(_.round == r)).map(_.shuffleWrite).sum.toDouble), "bytes"),
      ("pipeline.spill_bytes_per_round", med(r => js(spans.filter(_.round == r)).map(_.spill).sum.toDouble), "bytes"))
  }

  override def notes: Map[String, Any] = Map("mix" -> mix, "input_rows" -> rowsIn)
}

object CorpusBatch {
  /** One dedup and one ANN query, both compute-bound, and one sub-second
    * overhead-bound one. The heavier dedup and PQ queries (containment,
    * MinHash, PQ-ADC: 3-5 s a call on 4 cores) do not fit a round.
    */
  val Mix: Seq[String] = Seq("q_dedup_embedding", "q_kmeans_assign", "q_global_kpi")
  val SubSecond: Set[String] = Set("q_global_kpi")
  /** The corpus tables the mix reads. */
  val Tables: Seq[String] = Seq("embeddings", "orders")

  /** The DuckDB oracle SQL of every query in the mix, for digests.py. */
  def writeOracleSql(out: String): Unit = {
    val sql = SparkEntry.oracleSql
    Files.writeString(Paths.get(out), Main.json.writeValueAsString(mutable.LinkedHashMap(Mix.map(q => q -> sql(q)): _*)))
  }
}
