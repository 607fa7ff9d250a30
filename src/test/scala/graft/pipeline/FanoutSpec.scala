package graft.pipeline

import graft.SparkSpec

class FanoutSpec extends SparkSpec {

  test("fan-out width is the cap bounded by default parallelism") {
    val df = spark.range(10).toDF("id")
    val parallelism = spark.sparkContext.defaultParallelism
    assert(Fanout.width(df, cap = 3) == math.min(3, parallelism))
    assert(Fanout.width(df, cap = 8) == math.min(8, parallelism))
  }
}
