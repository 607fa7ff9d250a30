package graft.cdc

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** Shared filesystem + journal helpers for the store implementations —
  * one place for the recursive delete and the directory listing (which
  * must CLOSE the underlying stream: `Files.list` holds a directory fd
  * until closed, and a 60 s micro-batch cadence would leak one per batch).
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

/** Append-only journal sink/source shared by every [[CdcDestination]]
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

  /** OS-level single-writer enforcement: every journal MUTATION (append,
    * migration) runs under an exclusive `FileChannel.tryLock` on
    * `<journal>/_writer.lock`, so the deployment's single-writer rule is an
    * enforced invariant, not a scaladoc assumption — a second process
    * appending or migrating the same journal root fails fast with a clear
    * error instead of interleaving staged copies. Reentrant within a thread
    * (append → ensureLayout nests); same-JVM threads serialize on a
    * per-directory monitor BEFORE touching the file lock, because JVM file
    * locks are held per-process and a second channel lock attempt from the
    * same JVM throws `OverlappingFileLockException` (which we also treat as
    * contention — it genuinely means another writer holds the journal).
    * The lock file's underscore name keeps it invisible to parquet readers.
    */
  private val writerMonitors =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private val heldLocks = ThreadLocal.withInitial[java.util.HashSet[String]](
    () => new java.util.HashSet[String]())

  private def withWriterLock[T](base: Path)(body: => T): T = {
    val key = base.toAbsolutePath.toString
    if (heldLocks.get.contains(key)) body // reentrant nested call
    else writerMonitors.computeIfAbsent(key, _ => new Object).synchronized {
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
        heldLocks.get.add(key)
        try body finally { heldLocks.get.remove(key); lock.release() }
      } finally ch.close()
    }
  }

  def append(root: String, table: String, events: DataFrame): Unit =
    withWriterLock(dir(root, table)) {
      ensureLayout(events.sparkSession, dir(root, table))
      events
        .withColumn(PartCol, org.apache.spark.sql.functions.to_date(
          org.apache.spark.sql.functions.col("commitTs")))
        .write.mode(SaveMode.Append)
        .partitionBy(PartCol)
        .parquet(dir(root, table).toString)
    }

  def read(spark: SparkSession, root: String, table: String): DataFrame = {
    ensureLayout(spark, dir(root, table))
    spark.read.parquet(dir(root, table).toString).drop(PartCol)
  }

  /** Root-level data files = a journal written before the hive-partitioned
    * layout. Mixing them with partition dirs makes Spark's partition
    * discovery fail ("conflicting directory structures"), and the journal is
    * the one dataset meant to be durable forever — so migrate, don't break.
    */
  private def flatFiles(base: Path): Seq[Path] =
    if (!Files.exists(base)) Seq.empty
    else FsUtils.listDir(base).filter(p =>
      !Files.isDirectory(p) && p.getFileName.toString.endsWith(".parquet"))

  /** One-time, crash-safe migration of a pre-partitioning flat journal into
    * the `_journal_date=` layout, via an isolated STAGING copy — live
    * `_journal_date=` partition dirs are NEVER deleted, at any crash point:
    *
    *  1. `_flat_migration_pending` (listing the flat files) is written,
    *     then the partitioned copy is built under
    *     `_flat_migration_staging/` (wiping any half-built staging first);
    *  2. `_flat_migration_staged` (a manifest of `partdir/file` staged data
    *     files) is written — the commit point for the copy;
    *  3. the manifest is replayed: each staged file moves into its live
    *     partition dir (a file already gone from staging was moved by a
    *     previous crashed run — the replay is idempotent);
    *  4. the flat originals named in `pending` are deleted, then staging
    *     and both markers.
    *
    * A crash before step 2 redoes the copy into a fresh staging dir; a crash
    * after it resumes the move/cleanup from the manifest (the resume runs
    * FIRST, so a flat file dropped while a crashed cycle was pending is
    * picked up by a fresh cycle in the same call). The staged manifest —
    * the protocol's commit point — is published with tmp-write + ATOMIC_MOVE
    * so a torn write reads as "no commit" and the copy is redone. Unlike a
    * wipe-partitions-and-recopy recovery, a flat file that appears AFTER
    * partitioned history exists (old-version writer in a rolling upgrade, a
    * manual backfill drop) starts a new migration cycle that only ever ADDS
    * its own staged files — the existing partitioned history is untouchable
    * by construction. Concurrency: within a JVM, `withWriterLock`'s
    * per-directory monitor serializes; across PROCESSES the single-writer
    * rule is ENFORCED by the `_writer.lock` file lock — a second live
    * process attempting to append or migrate the same journal fails fast
    * instead of duplicating staged events. Crash-then-restart sequences,
    * which is what the markers exist for, are safe in any order (an OS file
    * lock dies with its process, so a crashed writer never wedges the
    * journal).
    */
  /** Steps 3-4: replay the committed manifest idempotently (a staged file
    * already gone was moved by a crashed run), retire the flat originals
    * named in `pending`, then clear staging and both markers.
    */
  private def finishCycle(base: Path): Unit = {
    val pending = base.resolve("_flat_migration_pending")
    val staged = base.resolve("_flat_migration_staged")
    val staging = base.resolve("_flat_migration_staging")
    Files.readAllLines(staged).asScala.filter(_.nonEmpty).foreach { rel =>
      val src = staging.resolve(rel)
      if (Files.exists(src)) {
        val dst = base.resolve(rel)
        Files.createDirectories(dst.getParent)
        Files.move(src, dst, java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      }
    }
    if (Files.exists(pending))
      Files.readAllLines(pending).asScala.filter(_.nonEmpty)
        .foreach(n => Files.deleteIfExists(base.resolve(n)))
    FsUtils.deleteRecursively(staging)
    Files.deleteIfExists(pending)
    Files.deleteIfExists(staged)
  }

  /** Lock-free probe: does this journal dir have migration work (a committed
    * staged manifest to finish, or flat legacy files to migrate)? Steady-
    * state readers see `false` and never touch the writer lock — only when
    * work exists does ensureLayout take the lock (and re-check inside it:
    * the work may have been done by the racing writer that held it).
    */
  private def migrationNeeded(base: Path): Boolean =
    Files.exists(base.resolve("_flat_migration_staged")) || flatFiles(base).nonEmpty

  private def ensureLayout(spark: SparkSession, base: Path): Unit =
    if (migrationNeeded(base)) withWriterLock(base) { migrateLocked(spark, base) }

  private def migrateLocked(spark: SparkSession, base: Path): Unit = {
    val pending = base.resolve("_flat_migration_pending")
    val staged = base.resolve("_flat_migration_staged")
    val staging = base.resolve("_flat_migration_staging")
    // resume a committed-but-unfinished cycle FIRST: its flat originals are
    // retired here, so the fresh-cycle check below sees only NEW flat files
    if (Files.exists(staged)) finishCycle(base)
    val flat = flatFiles(base)
    if (flat.nonEmpty) {
      FsUtils.deleteRecursively(staging) // a half-built copy from a crash
      Files.write(pending,
        flat.map(_.getFileName.toString).mkString("\n").getBytes("UTF-8"))
      spark.read.parquet(flat.map(_.toString): _*)
        .withColumn(PartCol, org.apache.spark.sql.functions.to_date(
          org.apache.spark.sql.functions.col("commitTs")))
        .write.mode(SaveMode.Append)
        .partitionBy(PartCol)
        .parquet(staging.toString)
      val stagedFiles = FsUtils.listDir(staging)
        .filter(p => Files.isDirectory(p) &&
          p.getFileName.toString.startsWith(s"$PartCol="))
        .flatMap(d => FsUtils.listDir(d)
          .filter(_.getFileName.toString.endsWith(".parquet"))
          .map(f => s"${d.getFileName}/${f.getFileName}"))
      // commit point: a torn manifest must read as "no commit", so publish
      // via tmp + ATOMIC_MOVE (same pattern as every pointer swap here)
      val tmp = base.resolve("_flat_migration_staged.tmp")
      Files.write(tmp, stagedFiles.mkString("\n").getBytes("UTF-8"))
      Files.move(tmp, staged, java.nio.file.StandardCopyOption.ATOMIC_MOVE,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      finishCycle(base)
    }
  }

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
