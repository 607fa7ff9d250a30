package graft.pipeline

import org.apache.spark.sql.DataFrame

/** r18 shared fan-out for the single-split explode→aggregate shapes (the
  * Gramian/moment/quantized-component passes): the gate corpus is one
  * parquet row group, so without a repartition the ×64-×2145 explode runs
  * on one core; the r17 32-wide fan-outs were rejected for 5-7× process-CPU
  * inflation, which r18 root-caused (bench/r18_cpu_probe.json +
  * OPTIMIZATION_r18.md) as downstream per-task overhead × width plus
  * concurrency stalls billed as busy CPU — so what matters is WIDTH. Idle
  * A/Bs (md doc) picked min(4, parallelism) for the Gramian and PQ passes
  * and min(8, parallelism) for the string-heavy shingle and OOV encodes:
  * most of the wall win at ≤1.5× CPU, inside the committed CPU-mover gate.
  * At 100 TB the scans have thousands of splits and the repartition is a
  * skew safety net; width stays parallelism-derived, never a local constant.
  */
private[pipeline] object Fanout {

  /** The fan-out width: min(`cap`, parallelism). */
  def width(df: DataFrame, cap: Int): Int =
    math.min(cap, df.sparkSession.sparkContext.defaultParallelism)

  def apply(df: DataFrame, cap: Int = 4): DataFrame = {
    val fan = width(df, cap)
    if (fan <= 1) df else df.repartition(fan)
  }
}
