package graft

import java.nio.file.{Files, Path, Paths}
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.functions.col

/** The probe harness: the registry agrees with the artifact checks, and the
  * growth faces, run at ×2 on the small corpus, write every field those
  * checks read.
  */
class ProbeSpec extends SparkSpec {

  private def tmp(): Path = Files.createTempDirectory("graft-probe")

  /** Runs `face` on `src` at ×`k` into `out`; returns the parsed artifact. */
  private def runFace(face: Probe.Face, src: String, k: Int, out: Path): JsonNode = {
    val run = new Probe.Run(face.name, src, k, out.resolve("work"), spark)
    new ObjectMapper().readTree(Files.readAllBytes(Probe.write(face, run, out)))
  }

  test("the registry's faces are the artifact checks' faces, each with a committed artifact") {
    assert(Probe.faces.map(_.name).toSet == ProbeArtifactSpec.gates.keySet)
    assert(Probe.faces.map(_.name).distinct.size == Probe.faces.size)
    Probe.faces.foreach { f =>
      assert(Files.exists(Paths.get("bench", f.artifact)), s"${f.name}: bench/${f.artifact} missing")
    }
  }

  test("an unknown face fails with the list of faces") {
    val e = intercept[IllegalArgumentException](Probe.face("no_such_face"))
    assert(e.getMessage.contains("no_such_face"))
    Probe.faces.foreach(f => assert(e.getMessage.contains(f.name), e.getMessage))
  }

  test("the writer rounds doubles to 2 decimals, keeps key order, and escapes strings") {
    val json = Probe.render(Probe.obj("b" -> 1.005, "a" -> 2.0, "s" -> "q\"\\", "n" -> 3L,
      "o" -> Probe.obj("z" -> true, "y" -> Seq[Any](0.125, 7))))
    assert(json == """{"b":1.01,"a":2.00,"s":"q\"\\","n":3,"o":{"z":true,"y":[0.13,7]}}""")
  }

  test("growth faces at x2 write every cell with its times, ratio and counts") {
    val out = tmp()
    for ((name, gate) <- ProbeArtifactSpec.gates; cells <- gate.cells) {
      val root = runFace(Probe.face(name), sf(), 2, out)
      assert(root.get("metric").asText() == Probe.face(name).metric)
      assert(root.get("replicas").asInt() == 2, name)
      cells.names.foreach { c =>
        val node = root.get(c)
        assert(node != null, s"$name: cell $c missing")
        Seq("secs_x1", "secs_x2", "ratio", s"${cells.count}_x1", s"${cells.count}_x2")
          .foreach(k => assert(node.hasNonNull(k), s"$name.$c: $k missing"))
      }
    }
  }

  test("a rerun on another input rebuilds the replicated corpus from that input") {
    val out = tmp()
    val half = out.resolve("half").toString
    spark.read.parquet(s"${sf()}/embeddings.parquet").filter(col("vec_id") % 2 === 0)
      .write.parquet(s"$half/embeddings.parquet")
    val face = Probe.face("ann_ladder")
    val full = runFace(face, sf(), 2, out).get("n_base").asLong()
    val second = runFace(face, half, 2, out).get("n_base").asLong()
    assert(second == spark.read.parquet(s"$half/embeddings.parquet").count())
    assert(second < full)
    assert(spark.read.parquet(out.resolve("work/x2").toString).count() == 2 * second,
      "the x2 corpus still holds the first input")
  }
}
