package graft.cdc

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** Filesystem helpers for the store and its journal — one place for the
  * recursive delete and the directory listing (which must CLOSE the
  * underlying stream: `Files.list` holds a directory fd until closed, and a
  * 60 s micro-batch cadence would leak one per batch).
  */
private[graft] object FsUtils {

  def deleteRecursively(p: Path): Unit =
    if (Files.exists(p)) {
      val walk = Files.walk(p)
      try walk.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(f => Files.delete(f))
      finally walk.close()
    }

  /** Eager, stream-closing directory listing. */
  def listDir(p: Path): Seq[Path] = {
    val s = Files.list(p)
    try s.iterator().asScala.toList finally s.close()
  }
}

/** Append-only journal sink/source of the [[CdcDestination]]
  * (reference S5: keep every raw CDC event), layout
  * `<root>/<table>_journal/_journal_date=YYYY-MM-DD/`.
  *
  * The journal is hive-partitioned by the event's COMMIT date so that
  * retention is a directory drop, not a rewrite — at a 60 s cadence on a
  * busy source the journal is the first thing to fill a disk, and rewriting
  * 100 TB of history to expire a day is not a retention strategy. Date
  * partitioning also gives time-range journal analytics partition pruning
  * for free. Readers never see the partition column.
  */
private[cdc] object Journals {

  private val PartCol = "_journal_date"

  private def dir(root: String, table: String) =
    Paths.get(root, s"${table}_journal")

  /** OS-level single-writer enforcement: every journal append runs under
    * an exclusive `FileChannel.tryLock` on `<journal>/_writer.lock`, so the
    * deployment's single-writer rule is an enforced invariant, not a
    * scaladoc assumption — a second process appending to the same journal
    * root fails fast with a clear error instead of interleaving its files.
    * Same-JVM threads serialize on a per-directory monitor BEFORE touching
    * the file lock, because JVM file locks are held per-process and a second
    * channel lock attempt from the same JVM throws
    * `OverlappingFileLockException` (which we also treat as contention — it
    * genuinely means another writer holds the journal). An OS file lock dies
    * with its process, so a crashed writer never wedges the journal. The
    * lock file's underscore name keeps it invisible to parquet readers.
    */
  private val writerMonitors =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  private def withWriterLock[T](base: Path)(body: => T): T =
    writerMonitors.computeIfAbsent(base.toAbsolutePath.toString, _ => new Object).synchronized {
      Files.createDirectories(base)
      val ch = java.nio.channels.FileChannel.open(base.resolve("_writer.lock"),
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.WRITE)
      try {
        val lock =
          try ch.tryLock()
          catch { case _: java.nio.channels.OverlappingFileLockException => null }
        if (lock == null) throw new IllegalStateException(
          s"journal $base is locked by another writer process " +
            "(single-writer rule: one pipeline owns a journal root)")
        try body finally lock.release()
      } finally ch.close()
    }

  def append(root: String, table: String, events: DataFrame): Unit =
    withWriterLock(dir(root, table)) {
      events
        .withColumn(PartCol, org.apache.spark.sql.functions.to_date(
          org.apache.spark.sql.functions.col("commitTs")))
        .write.mode(SaveMode.Append)
        .partitionBy(PartCol)
        .parquet(dir(root, table).toString)
    }

  /** Readers take no lock: appends only ever add files. */
  def read(spark: SparkSession, root: String, table: String): DataFrame =
    spark.read.parquet(dir(root, table).toString).drop(PartCol)

  /** Drop journal partitions with commit date STRICTLY BEFORE `olderThan`.
    * Returns the dropped partition names. Unparseable partition values
    * (null-commitTs rows land in Hive's default partition) are never
    * dropped — retention must not silently discard events it can't date.
    */
  def vacuum(root: String, table: String, olderThan: java.time.LocalDate): Seq[String] = {
    val base = dir(root, table)
    if (!Files.exists(base)) Seq.empty
    else FsUtils.listDir(base)
      .filter { p =>
        val n = p.getFileName.toString
        n.startsWith(s"$PartCol=") &&
          scala.util.Try(java.time.LocalDate.parse(n.stripPrefix(s"$PartCol=")))
            .toOption.exists(_.isBefore(olderThan))
      }
      .map { p => FsUtils.deleteRecursively(p); p.getFileName.toString }
  }
}
