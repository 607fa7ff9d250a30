package graft

import org.apache.spark.sql.SparkSession

/** The one place a SparkSession is built: every main and the test harness
  * run on the same policy —
  *  - `local[cpus]`, with `spark.sql.shuffle.partitions = cpus`;
  *  - UTC session time zone;
  *  - `spark.sql.legacy.parquet.nanosAsLong`: nanosecond `events.ts`
  *    parquet reads as raw longs, which `Tables.events` normalizes;
  *  - UI off, WARN logging.
  * Callers that need more pass conf pairs, which win over the defaults.
  *
  * Numeric `SPARK_GRAFT_*` knobs are parsed here too, so a malformed value
  * fails with the variable's name and value instead of a bare
  * NumberFormatException (or, for the CPU count, Spark's "Could not parse
  * Master URL").
  */
object GraftSession {

  /** `SPARK_GRAFT_CPUS`, else every processor the JVM sees. */
  lazy val cpus: Int = cpusFrom(sys.env)

  def cpusFrom(env: Map[String, String]): Int = {
    val n = intFrom(env, "SPARK_GRAFT_CPUS", Runtime.getRuntime.availableProcessors)
    if (n < 1) malformed("SPARK_GRAFT_CPUS", env("SPARK_GRAFT_CPUS"), "a positive integer")
    n
  }

  /** The session conf: the shared defaults, then `overrides` (later wins). */
  def conf(cpus: Int, overrides: (String, String)*): Map[String, String] =
    Map(
      "spark.master" -> s"local[$cpus]",
      "spark.sql.shuffle.partitions" -> cpus.toString,
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      "spark.ui.enabled" -> "false") ++ overrides

  /** A session on [[cpus]] cores. */
  def apply(overrides: (String, String)*): SparkSession = build(cpus, overrides: _*)

  def build(cpus: Int, overrides: (String, String)*): SparkSession = {
    val spark = conf(cpus, overrides: _*)
      .foldLeft(SparkSession.builder()) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def intEnv(name: String, default: Int): Int = intFrom(sys.env, name, default)
  def doubleEnv(name: String, default: Double): Double = doubleFrom(sys.env, name, default)

  def intFrom(env: Map[String, String], name: String, default: Int): Int =
    parse(env, name, "an integer")(_.toIntOption).getOrElse(default)
  def doubleFrom(env: Map[String, String], name: String, default: Double): Double =
    parse(env, name, "a number")(_.toDoubleOption).getOrElse(default)

  /** `name`'s value parsed by `p`; None when unset, and a blank or
    * unparseable value throws naming the variable.
    */
  private def parse[A](env: Map[String, String], name: String, what: String)(
      p: String => Option[A]): Option[A] =
    env.get(name).map(raw => p(raw.trim).getOrElse(malformed(name, raw, what)))

  private def malformed(name: String, raw: String, what: String): Nothing =
    throw new IllegalArgumentException(s"$name='$raw' is not $what")
}
