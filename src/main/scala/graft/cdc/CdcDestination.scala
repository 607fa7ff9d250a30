package graft.cdc

import org.apache.spark.sql.{Column, DataFrame}

/** Destination-side contract of the CDC pipeline: snapshot commit,
  * micro-batch merge, journal. One implementation ships —
  * [[BucketedTableStore]] (bucket-partitioned copy-on-write: rewrites only
  * the key buckets a batch touches; one bucket is a whole-table store). The
  * streaming pipeline ([[CdcPipeline]]) is destination-agnostic; the bucket
  * count changes write amplification, never semantics, which
  * BucketedStoreSpec proves batch-by-batch against an in-memory fold.
  */
trait CdcDestination {

  /** Current queryable state of a table. */
  def read(table: String): DataFrame

  /** Initial full-table commit (post-[[CdcApplier.snapshot]] frame). */
  def commitSnapshot(table: String, df: DataFrame, keyCol: String): Long

  /** Merge one table's typed event batch (op, lsn, commitTs, key + data
    * columns) into the destination via [[CdcApplier.applyBatch]].
    */
  def mergeBatch(table: String, events: DataFrame, keyCol: String,
      applyTs: Column): Long

  /** Append raw events to the table's journal (reference S5). */
  def appendJournal(table: String, events: DataFrame): Unit

  def readJournal(table: String): DataFrame

  /** Journal retention: drop journal partitions whose commit date is
    * strictly before `olderThan`; returns the dropped partition names.
    * SAFE iff a retained table version covers everything up to the horizon —
    * [[CdcRecovery.rebuild]] from (version committed at-or-after the
    * horizon) + (retained journal) still reproduces the live state
    * (CdcScenarioSpec proves it). Vacuuming the journal past every retained
    * version forfeits disaster recovery for the dropped range.
    */
  def vacuumJournal(table: String, olderThan: java.time.LocalDate): Seq[String]
}
