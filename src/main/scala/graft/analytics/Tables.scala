package graft.analytics

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Loaders for the driver-generated testdata (TESTDATA.md).
  *
  * All tables are parquet; reads are lazy DataFrames so Catalyst can push
  * filters/projections into the scan (verify via `.explain`: `PushedFilters`,
  * `ReadSchema`). At 100 TB these would be partitioned/bucketed tables behind
  * the same names — every query below only depends on the logical schema.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Resolved once per session as a temp view — catalog metadata (schema
    * + file index), never rows; see [[graft.RelationCache]].
    */
  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    graft.RelationCache.parquet(spark, s"$dir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = load(s, d, "lineitem")
  /** `events.ts` has appeared in three parquet encodings across testdata
    * generations, and every one must normalize to a session-TZ TIMESTAMP
    * (LTZ) so downstream epoch-seconds derivations (`cast("long")`) stay
    * legal — Spark 4 forbids TIMESTAMP_NTZ→numeric casts:
    *
    *  - TIMESTAMP(NANOS): Spark only reads it as a raw long
    *    (`spark.sql.legacy.parquet.nanosAsLong=true`, set by Verify/Bench).
    *    Convert by integer division — truncation, matching DuckDB's ns→µs
    *    behavior exactly. A double division would silently lose precision
    *    (2024-epoch nanos exceed 2^53).
    *  - timestamp[us] isAdjustedToUTC=false → TIMESTAMP_NTZ: cast to
    *    TIMESTAMP, which interprets the wall-clock value in the session
    *    timezone (always UTC here) — value-identical, and restores the
    *    legal cast-to-long. Same conversion DuckDB applies implicitly.
    *  - timestamp[us] isAdjustedToUTC=true → TIMESTAMP: already right.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    val raw = load(s, d, "events")
    raw.schema("ts").dataType match {
      case LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
      case TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast(TimestampType))
      case _ => raw
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}
