package graft.pipeline

import org.apache.spark.sql.DataFrame

/** r18 shared fan-out for the single-split explode→aggregate shapes (the
  * Gramian/moment/quantized-component passes): the gate corpus is one
  * parquet row group, so without a repartition the ×64-×2145 explode runs
  * on one core; the r17 32-wide fan-outs were rejected for 5-7× process-CPU
  * inflation, which r18 root-caused (bench/r18_cpu_probe.json +
  * OPTIMIZATION_r18.md) as downstream per-task overhead × width plus
  * concurrency stalls billed as busy CPU — so the knob is WIDTH. Idle A/Bs
  * (md doc) picked min(4, parallelism) as the default: most of the wall
  * win at ≤1.5× CPU, inside the committed CPU-mover gate. At 100 TB the
  * scans have thousands of splits and the repartition is a skew safety
  * net; width stays parallelism-derived, never a local constant.
  */
private[pipeline] object Fanout {
  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** The fan-out width: `envVar` when it is set to an integer, else
    * min(`default`, parallelism). A malformed value falls back to the
    * default with a warning naming the variable — a typo in a tuning knob
    * must not fail the query with a bare NumberFormatException.
    */
  def width(df: DataFrame, envVar: String, default: Int): Int = {
    lazy val fallback = math.min(default, df.sparkSession.sparkContext.defaultParallelism)
    parse(envVar, sys.env.get(envVar)).getOrElse(fallback)
  }

  /** `raw` as an integer width; None when unset or malformed (warned). */
  private[pipeline] def parse(envVar: String, raw: Option[String]): Option[Int] =
    raw.flatMap { s =>
      val n = s.trim.toIntOption
      if (n.isEmpty)
        log.warn(s"$envVar='$s' is not an integer; using the default fan-out width")
      n
    }

  def apply(df: DataFrame, envVar: String, default: Int = 4): DataFrame = {
    val fan = width(df, envVar, default)
    if (fan <= 1) df else df.repartition(fan)
  }
}
