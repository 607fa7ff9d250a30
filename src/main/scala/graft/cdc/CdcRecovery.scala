package graft.cdc

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{MapType, StringType, StructType}

/** Disaster recovery from first principles of the merge kernel: the journal
  * keeps every raw event (reference S5), and [[CdcApplier.applyBatch]] is
  * SPLIT-INVARIANT — any partitioning of the same events converges to the
  * same state (property-tested in CdcMergePropertySpec). Therefore a lost
  * or corrupted destination table rebuilds as
  *
  *   snapshot state  +  ONE latest-wins apply of the ENTIRE journal
  *
  * — no per-batch replay loop, one shuffle by key over the journal, exactly
  * the cost of a single large merge. Data columns, soft-delete flags, and
  * lsn high-water marks land bit-identically to the incrementally-merged
  * table; only the `_snowflake_*` STAMP TIMES differ (each original batch
  * stamped with its own clock — unrecoverable from content alone, so the
  * caller passes the clock the rebuilt stamps should carry).
  */
object CdcRecovery {

  /** Rebuild one table from a base state + its full journal.
    *
    * Schema evolution is recovered from the journal itself: after-image
    * keys beyond the declared schema (a mid-stream source ADD COLUMN)
    * re-widen the rebuilt table via the SAME
    * [[CdcApplier.discoverNewColumns]] the live pipeline uses — its
    * first-appearance-lsn ordering makes the rebuilt column order equal
    * the live destination's even when evolution spanned many batches.
    * Disaster recovery needs no record of when the source schema changed,
    * because the journal witnesses every image.
    *
    * @param base    the recovery starting point — typically the retained
    *                initial snapshot manifest
    *                (`BucketedTableStore.readManifestVersion(t, 0)`)
    * @param journal raw journal rows: op, lsn, commitTs, key, after (JSON)
    * @param schema  declared destination data schema (incl. key)
    */
  def rebuild(base: DataFrame, journal: DataFrame, schema: StructType,
      keyCol: String, clock: Column): DataFrame = {
    val parsed = journal
      .withColumn("after", from_json(col("after"), MapType(StringType, StringType)))
    val widened = CdcApplier.widen(schema,
      CdcApplier.discoverNewColumns(parsed, schema))
    val typed = parsed.select(
      Seq(col("op"), col("lsn"), col("commitTs"), col("key")) ++
        CdcApplier.afterImageColumns(widened, keyCol): _*)
    CdcApplier.applyBatch(base, typed, keyCol, clock)
  }
}
