package graft.cdc

import java.nio.file.{Files, Path, Paths}

import graft.SparkSpec
import org.apache.spark.sql.DataFrame

/** The journal's single-writer rule (Journals' `_writer.lock`): a second
  * writer process is refused, and readers never take the lock.
  */
class JournalWriterLockSpec extends SparkSpec {

  import spark.implicits._

  private def events(ids: Range, date: String): DataFrame =
    ids.map(i => (i.toLong, s"$date 10:00:00")).toDF("id", "commitTs")
      .selectExpr("id", "CAST(commitTs AS TIMESTAMP) AS commitTs")

  private def freshRoot(): (String, Path) = {
    val root = Files.createTempDirectory("journal-lock").toString
    (root, Paths.get(root, "t_journal"))
  }

  private def readIds(root: String): Seq[Long] =
    Journals.read(spark, root, "t").select("id").collect().map(_.getLong(0)).toSeq.sorted

  /** Stand-in for a second PROCESS: an exclusive lock on `_writer.lock`
    * through an independent FileChannel. From another process Journals'
    * `tryLock` returns null; from this JVM it throws
    * OverlappingFileLockException — Journals treats both as contention, so
    * the refusal path under test is the same one a real second process hits.
    */
  private def holdingForeignWriterLock[T](base: Path)(body: => T): T = {
    Files.createDirectories(base)
    val ch = java.nio.channels.FileChannel.open(base.resolve("_writer.lock"),
      java.nio.file.StandardOpenOption.CREATE, java.nio.file.StandardOpenOption.WRITE)
    try { val l = ch.lock(); try body finally l.release() } finally ch.close()
  }

  test("a second writer process is refused: append fails fast under a foreign lock") {
    val (root, base) = freshRoot()
    Journals.append(root, "t", events(0 until 5, "2025-01-10"))
    holdingForeignWriterLock(base) {
      val e = intercept[IllegalStateException] {
        Journals.append(root, "t", events(5 until 10, "2025-01-11"))
      }
      assert(e.getMessage.contains("locked by another writer"))
    }
    assert(readIds(root) == (0L until 5L), "refused append must write nothing")
    // lock died with the "process": the journal is not wedged
    Journals.append(root, "t", events(5 until 10, "2025-01-11"))
    assert(readIds(root) == (0L until 10L))
  }

  test("a foreign lock never blocks steady-state reads") {
    val (root, base) = freshRoot()
    Journals.append(root, "t", events(0 until 5, "2025-01-10"))
    holdingForeignWriterLock(base) {
      assert(readIds(root) == (0L until 5L))
    }
  }
}
