package graft

import org.scalatest.funsuite.AnyFunSuite

/** Source-level discipline guards for rules that type-checking cannot
  * enforce — each one is a regression class that actually shipped once.
  */
class SourceDisciplineSpec extends AnyFunSuite {

  private def sources(dir: String): Seq[java.io.File] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles.toSeq.flatMap(walk)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    walk(new java.io.File(dir))
  }
  private def mainSources: Seq[java.io.File] = sources("src/main/scala")
  private def read(f: java.io.File): String =
    new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")

  test("no lazy localCheckpoint in main source (AQE races multi-consumer lazy checkpoints)") {
    // A lazy checkpoint shared by multiple plan subtrees lets AQE race the
    // branches into redundantly recomputing the whole upstream — measured
    // ~9× recomputation / 58-vs-537 process-CPU-s on q_distinct_hll, and
    // the same signature on q_source_overlap and q_pagerank (BASELINE.md
    // round-10 batch 3). Checkpoint EAGERLY, at the smallest reusable
    // frame, or not at all.
    val offenders = mainSources.filter(f => read(f).contains("localCheckpoint(false)"))
    assert(offenders.isEmpty,
      s"lazy localCheckpoint(false) in: ${offenders.map(_.getPath).mkString(", ")}")
  }

  test("every session comes from GraftSession (no second SparkSession builder)") {
    // A hand-built session can ship without the nanos flag or UTC: the
    // copied builder blocks drifted (three mains lacked nanosAsLong, one
    // lacked UTC, and the CPU default differed three ways).
    val needle = "SparkSession" + ".builder"
    val offenders = (mainSources ++ sources("src/test/scala"))
      .filter(f => f.getName != "GraftSession.scala" && read(f).contains(needle))
    assert(offenders.isEmpty,
      s"$needle outside GraftSession in: ${offenders.map(_.getPath).mkString(", ")}")
  }

  test("the README knob table lists exactly the SPARK_GRAFT_* names src/main reads") {
    val knob = "SPARK_GRAFT_[A-Z0-9_]+".r
    val inCode = mainSources.flatMap(f => knob.findAllIn(read(f))).toSet
    val row = ("^\\| `(" + knob.regex + ")`").r
    val inTable = read(new java.io.File("README.md")).linesIterator
      .flatMap(l => row.findPrefixMatchOf(l).map(_.group(1))).toSet
    assert(inCode.nonEmpty)
    assert(inCode.diff(inTable).isEmpty, s"undocumented: ${inCode.diff(inTable).toSeq.sorted}")
    assert(inTable.diff(inCode).isEmpty, s"documented, unread: ${inTable.diff(inCode).toSeq.sorted}")
  }
}
