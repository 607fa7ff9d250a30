package graft.pipeline

import graft.SparkSpec

class FanoutSpec extends SparkSpec {

  test("fan-out env knob: integers parse, a malformed value falls back to the default") {
    assert(Fanout.parse("SPARK_GRAFT_PQ_FANOUT", Some("6")) == Some(6))
    assert(Fanout.parse("SPARK_GRAFT_PQ_FANOUT", Some(" 2 ")) == Some(2))
    assert(Fanout.parse("SPARK_GRAFT_PQ_FANOUT", None) == None)
    // a typo must not throw NumberFormatException out of query construction
    Seq("four", "4x", "", "9999999999", "2.5").foreach { bad =>
      assert(Fanout.parse("SPARK_GRAFT_PQ_FANOUT", Some(bad)) == None, bad)
    }
    val df = spark.range(10).toDF("id")
    val parallelism = spark.sparkContext.defaultParallelism
    assert(Fanout.width(df, "GRAFT_TEST_UNSET_FANOUT", default = 3) ==
      math.min(3, parallelism))
  }
}
