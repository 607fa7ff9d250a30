package graft.cdc

import java.nio.file.{Files, Paths, StandardCopyOption}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** Versioned parquet-backed destination tables.
  *
  * Spark cannot overwrite a parquet path while reading it, so each merge
  * commit writes a NEW version directory `<root>/<table>/v<N>/` and then
  * atomically swaps a pointer file — a miniature copy-on-write table format
  * (the same shape as a Delta/Iceberg commit: immutable data files + a
  * pointer swap). Readers resolve the pointer at read time; a crash between
  * write and swap leaves the previous version intact.
  *
  * At scale, version directories also give time travel and safe concurrent
  * readers for free; vacuuming old versions is the retention knob.
  */
final class TableStore(spark: SparkSession, root: String, outputFiles: Int = 0)
    extends CdcDestination {

  private def ptr(table: String) = Paths.get(root, table, "_CURRENT")

  def currentVersion(table: String): Option[Long] = {
    val p = ptr(table)
    if (Files.exists(p)) Some(Files.readString(p).trim.toLong) else None
  }

  def exists(table: String): Boolean = currentVersion(table).isDefined

  override def read(table: String): DataFrame = {
    val v = currentVersion(table).getOrElse(
      throw new IllegalStateException(s"table $table has no committed version under $root"))
    // the resolved relation (schema + file index) is a session temp view,
    // renamed whenever the version dir's contents change; see graft.RelationCache
    graft.RelationCache.parquet(spark, Paths.get(root, table, s"v$v").toString)
  }

  /** Time travel: any still-retained version is a consistent snapshot. */
  def readVersion(table: String, version: Long): DataFrame =
    graft.RelationCache.parquet(spark, Paths.get(root, table, s"v$version").toString)

  override def commitSnapshot(table: String, df: DataFrame, keyCol: String): Long =
    commit(table, df)

  /** Whole-table merge: read → applyBatch → commit a full new version. */
  override def mergeBatch(table: String, events: DataFrame, keyCol: String,
      applyTs: org.apache.spark.sql.Column): Long =
    commit(table, CdcApplier.applyBatch(read(table), events, keyCol, applyTs))

  /** Write df as the next version of `table` and commit the pointer swap.
    * `outputFiles > 0` coalesces the write — the file-count knob for small
    * tables/demos, where one file per shuffle partition is pure overhead
    * (production-size tables keep the plan's parallelism with the default 0).
    */
  def commit(table: String, df: DataFrame): Long = {
    val next = currentVersion(table).map(_ + 1).getOrElse(0L)
    val dir = Paths.get(root, table, s"v$next")
    val out = if (outputFiles > 0) df.coalesce(outputFiles) else df
    out.write.mode(SaveMode.Overwrite).parquet(dir.toString)
    val tmp = Paths.get(root, table, s"_CURRENT.tmp$next")
    Files.createDirectories(tmp.getParent)
    Files.writeString(tmp, next.toString)
    Files.move(tmp, ptr(table), StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
    next
  }

  /** Append-only journal sink (reference S5): every raw CDC event is kept. */
  override def appendJournal(table: String, events: DataFrame): Unit =
    Journals.append(root, table, events)

  override def readJournal(table: String): DataFrame =
    Journals.read(spark, root, table)

  override def vacuumJournal(table: String, olderThan: java.time.LocalDate): Seq[String] =
    Journals.vacuum(root, table, olderThan)
}
