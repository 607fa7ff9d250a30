package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit, max}

/** The one probe entry point: `runMain graft.Probe <face>`.
  *
  * A face measures one claim and writes one gated artifact under `bench/`
  * (`ProbeArtifactSpec` holds each artifact's checks). The harness owns
  * what every face shares:
  *  - the session, from [[GraftSession]], stopped at the end;
  *  - the timers and the ×1/×k growth cell (a warm ×1 rep, then ×1 and
  *    ×k timed cold, then their ratio);
  *  - key-shift replication ([[replicate]]);
  *  - a scratch directory, `target/probe/<face>`, emptied before every
  *    run, so a replicated corpus always comes from this run's input;
  *  - the artifact writer: Jackson, every Double rounded to 2 decimals
  *    (HALF_UP), keys in the order the face gives them.
  *
  * A face's sizes are constants: the values its committed artifact
  * records. Its input directory is its default unless
  * `SPARK_GRAFT_PROBE_SRC` names another.
  */
object Probe {

  /** The generated test corpora (TESTDATA.md), the faces' default inputs. */
  val Testdata = "/root/testdata"

  /** One artifact object; keys keep their insertion order. */
  type Obj = ListMap[String, Any]
  def obj(fields: (String, Any)*): Obj = ListMap(fields: _*)

  /** One gated artifact. `body` returns the fields after `metric`; `src`
    * is the default input directory (None: the face builds its own data);
    * `replicas` is the face's fixed ×k for a replicated corpus.
    */
  final case class Face(name: String, metric: String, artifact: String,
      src: Option[String] = None, replicas: Option[Int] = None)(val body: Run => Seq[(String, Any)])

  /** A growth cell: its name and its measured count at a replica count. */
  def cell(name: String)(f: Int => Long): (String, Int => Long) = name -> f

  /** What a face body runs against. */
  final class Run(val face: String, val src: String, val replicas: Int, val work: Path,
      open: => SparkSession) {
    private var active: Option[SparkSession] = None

    /** The face's session, opened on first use. */
    def spark: SparkSession = active.getOrElse { val s = open; active = Some(s); s }

    /** Replaces the session with one built on `overrides` (a shuffle
      * width, a standalone master); the current context is stopped first
      * so the new conf is honored from scratch.
      */
    def session(overrides: (String, String)*): SparkSession = {
      stop()
      SparkSession.getActiveSession.foreach(_.stop())
      val s = GraftSession(overrides: _*)
      active = Some(s)
      s
    }

    def stop(): Unit = { active.foreach(_.stop()); active = None }

    /** An absolute path under this run's scratch directory. */
    def dir(name: String): String = work.resolve(name).toString

    /** Wall seconds of `f`, as run. */
    def clock[A](f: => A): (Double, A) = {
      val t0 = System.nanoTime()
      val a = f
      ((System.nanoTime() - t0) / 1e9, a)
    }

    /** Wall seconds of `f` after clearing cached frames and a GC. */
    def time[A](f: => A): (Double, A) = {
      spark.catalog.clearCache(); System.gc()
      clock(f)
    }

    /** ×1/×[[replicas]] growth cells: each records both times, their
      * ratio, and its count (`<count>_x1`, `<count>_x<k>`) at both sizes.
      */
    def growth(count: String)(cells: (String, Int => Long)*): Seq[(String, Obj)] = {
      val k = replicas
      cells.map { case (name, f) =>
        f(1) // warm rep: JIT + codegen off the measured cells
        val (s1, n1) = time(f(1))
        val (sk, nk) = time(f(k))
        val ratio = sk / math.max(s1, 1e-9)
        println(f"$face $name: x1 $s1%.2f s ($n1), x$k $sk%.2f s ($nk), ratio $ratio%.1f")
        name -> obj("secs_x1" -> s1, s"secs_x$k" -> sk, "ratio" -> ratio,
          s"${count}_x1" -> n1, s"${count}_x$k" -> nk)
      }
    }
  }

  /** `k` copies of a frame, copy `r` made by `copy(r)`, unioned by name. */
  def replicate(k: Int)(copy: Int => DataFrame): DataFrame =
    (0 until k).map(copy).reduce(_ unionByName _)

  /** Replica shift for an id column: the next multiple of 1000 above its
    * max, so the %10/%25/%50 class structure of derived splits survives
    * replication.
    */
  def shiftOf(df: DataFrame, id: String): Long =
    (df.agg(max(id)).collect()(0).getLong(0) / 1000 + 1) * 1000

  /** `id` moved to replica `r` of a `by`-wide key space. */
  def shifted(id: String, by: Long, r: Int): Column = (col(id) + lit(r * by)).as(id)

  lazy val faces: Seq[Face] =
    probe.GrowthFaces.all ++ probe.SkewFaces.all ++ probe.ScaleFaces.all

  def face(name: String): Face = faces.find(_.name == name).getOrElse(
    throw new IllegalArgumentException(
      s"unknown probe face '$name'; faces: ${faces.map(_.name).mkString(", ")}"))

  /** Runs `face` and writes its artifact into `outDir`; returns its path. */
  def write(face: Face, run: Run, outDir: Path): Path = {
    cdc.FsUtils.deleteRecursively(run.work)
    Files.createDirectories(run.work)
    val json = render(obj(("metric" -> face.metric) +: face.body(run): _*))
    println(json)
    val out = Files.createDirectories(outDir).resolve(face.artifact)
    Files.write(out, (json + "\n").getBytes(UTF_8))
  }

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  def render(o: Obj): String = mapper.writeValueAsString(toJava(o))

  private def toJava(v: Any): AnyRef = v match {
    case d: Double =>
      java.math.BigDecimal.valueOf(d).setScale(2, java.math.RoundingMode.HALF_UP)
    case m: collection.Map[_, _] =>
      val j = new java.util.LinkedHashMap[String, AnyRef]()
      m.foreach { case (k, x) => j.put(k.toString, toJava(x)) }
      j
    case s: Iterable[_] => s.map(toJava).toSeq.asJava
    case x => x.asInstanceOf[AnyRef]
  }

  def main(args: Array[String]): Unit = {
    val f = face(args.headOption.getOrElse(""))
    val src = f.src.map(sys.env.getOrElse("SPARK_GRAFT_PROBE_SRC", _)).getOrElse("")
    val run = new Run(f.name, src, f.replicas.getOrElse(1),
      Paths.get("target", "probe", f.name).toAbsolutePath, GraftSession())
    try write(f, run, Paths.get("bench")) finally run.stop()
  }
}
