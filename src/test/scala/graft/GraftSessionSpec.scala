package graft

import org.scalatest.funsuite.AnyFunSuite

/** The shared session policy, checked on the pure conf: no SparkContext is
  * started here (the suite JVM already runs `SparkSpec`'s).
  */
class GraftSessionSpec extends AnyFunSuite {

  test("default conf: local[cpus], partitions = cpus, UTC, nanosAsLong, UI off") {
    assert(GraftSession.conf(7) == Map(
      "spark.master" -> "local[7]",
      "spark.sql.shuffle.partitions" -> "7",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      "spark.ui.enabled" -> "false"))
  }

  test("the test session runs the mains' conf pinned to 4 cores") {
    assert(SparkSpec.Cpus == 4)
    val c = GraftSession.conf(SparkSpec.Cpus)
    assert(c("spark.master") == "local[4]")
    assert(c("spark.sql.shuffle.partitions") == "4")
  }

  test("override pairs win over the defaults and add to them") {
    val aqe = GraftSession.conf(8,
      "spark.sql.shuffle.partitions" -> "512", "spark.sql.adaptive.enabled" -> "true")
    assert(aqe("spark.sql.shuffle.partitions") == "512")
    assert(aqe("spark.sql.adaptive.enabled") == "true")
    assert(aqe("spark.master") == "local[8]")
    assert(aqe("spark.sql.legacy.parquet.nanosAsLong") == "true")

    val cluster = GraftSession.conf(8, "spark.master" -> "spark://127.0.0.1:7077")
    assert(cluster("spark.master") == "spark://127.0.0.1:7077")
    assert(cluster("spark.sql.session.timeZone") == "UTC")

    val soak = GraftSession.conf(8, "spark.sql.streaming.numRecentProgressUpdates" -> "1000")
    assert(soak("spark.sql.streaming.numRecentProgressUpdates") == "1000")
    assert(soak.size == GraftSession.conf(8).size + 1)
  }

  test("SPARK_GRAFT_CPUS: set, unset, and malformed or blank values name the variable") {
    assert(GraftSession.cpusFrom(Map("SPARK_GRAFT_CPUS" -> "12")) == 12)
    assert(GraftSession.cpusFrom(Map.empty) == Runtime.getRuntime.availableProcessors)
    for (bad <- Seq("", "  ", "four", "4.5", "0", "-2")) {
      val e = intercept[IllegalArgumentException](
        GraftSession.cpusFrom(Map("SPARK_GRAFT_CPUS" -> bad)))
      assert(e.getMessage.contains("SPARK_GRAFT_CPUS") && e.getMessage.contains(s"'$bad'"),
        e.getMessage)
    }
  }

  test("numeric knobs: default when unset, parsed when set, malformed values name the variable") {
    assert(GraftSession.intFrom(Map.empty, "SPARK_GRAFT_BENCH_REPS", 3) == 3)
    assert(GraftSession.intFrom(Map("SPARK_GRAFT_BENCH_REPS" -> " 5 "),
      "SPARK_GRAFT_BENCH_REPS", 3) == 5)
    assert(GraftSession.doubleFrom(Map("SPARK_GRAFT_SOAK_MINUTES" -> "0.5"),
      "SPARK_GRAFT_SOAK_MINUTES", 31) == 0.5)
    val cases: Seq[(String, String, Map[String, String] => Any)] = Seq(
      ("SPARK_GRAFT_BENCH_REPS", "3x", GraftSession.intFrom(_, "SPARK_GRAFT_BENCH_REPS", 3)),
      ("SPARK_GRAFT_SCALE_REPLICAS", "", GraftSession.intFrom(_, "SPARK_GRAFT_SCALE_REPLICAS", 10)),
      ("SPARK_GRAFT_SOAK_MINUTES", "half", GraftSession.doubleFrom(_, "SPARK_GRAFT_SOAK_MINUTES", 31)))
    for ((name, bad, read) <- cases) {
      val e = intercept[IllegalArgumentException](read(Map(name -> bad)))
      assert(e.getMessage == s"$name='$bad' is not " +
        (if (name == "SPARK_GRAFT_SOAK_MINUTES") "a number" else "an integer"))
    }
  }
}
