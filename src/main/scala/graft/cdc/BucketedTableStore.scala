package graft.cdc

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Bucket-partitioned copy-on-write destination tables: the CDC
  * pipeline's one store, from a demo table to the 100 TB merge path.
  *
  * Rewriting the WHOLE table per micro-batch commit is correct, but costs
  * O(table) write amplification per batch. At CDC batch sizes (a few
  * thousand changed keys against billions of rows) almost all of that work
  * rewrites rows the batch never touched. This store keys every row into one
  * of `nBuckets` hash buckets of the primary key and gives each bucket its
  * own version chain:
  *
  * {{{
  *   <root>/<table>/b<bucket>/v<K>/part-*.parquet   immutable bucket data
  *   <root>/<table>/m<N>                            manifest: "schema {json}" + "bucket version" lines
  *   <root>/<table>/_CURRENT                        current manifest number
  * }}}
  *
  * A merge commit (a) derives the touched buckets from the batch's keys —
  * at most `nBuckets` values, collected as a bounded int set, never data-
  * sized; (b) reads ONLY those buckets' current files; (c) runs the same
  * [[CdcApplier.applyBatch]] kernel against that slice; (d) writes new
  * versions for the touched buckets; and (e) commits a new manifest that
  * re-points touched buckets and carries every untouched bucket's entry
  * forward BY REFERENCE — untouched data files are neither read nor
  * rewritten. Write amplification drops from O(table) to
  * O(table × touched/nBuckets): the same file-granular copy-on-write shape
  * as a Delta/Iceberg MERGE, in plain parquet + a pointer file.
  *
  * The bucket function is `pmod(xxhash64(key), nBuckets)` — deterministic
  * row content (retry-safe, same reasoning as
  * [[graft.operators.LayoutOps.writePartitionedByDate]]). The merge join
  * itself still shuffles by key like any MERGE — but only the TOUCHED
  * SLICE of the table enters that join, so read volume, shuffle volume,
  * and write volume all scale with the batch's bucket footprint instead of
  * the table. Readers get the current snapshot as a union of per-bucket
  * paths; a crash between version write and manifest swap leaves the
  * previous manifest (and all files it references) intact.
  *
  * `nBuckets = 1` is the whole-table store: every merge reads and rewrites
  * the one bucket — right for small and demo tables, where more buckets
  * only add files.
  *
  * Mirrors the reference connector's observable MERGE behavior
  * (/root/reference sql/3.live_appointments.sql:48-49 sync cycles,
  * sql/4.analytics_queries.sql:395-403 metadata effects) at the storage
  * layer a Spark deployment actually needs.
  */
final class BucketedTableStore(
    spark: SparkSession, root: String, nBuckets: Int = 64)
    extends CdcDestination {

  require(nBuckets > 0)

  /** Manifest line carrying the committed table schema as single-line JSON. */
  private val SchemaLine = "schema "

  def bucketOf(key: Column): Column = pmod(xxhash64(key), lit(nBuckets))

  private def tableDir(table: String): Path = Paths.get(root, table)
  private def ptr(table: String): Path = tableDir(table).resolve("_CURRENT")

  def currentManifest(table: String): Option[Long] = {
    val p = ptr(table)
    if (Files.exists(p)) Some(Files.readString(p).trim.toLong) else None
  }

  def exists(table: String): Boolean = currentManifest(table).isDefined

  /** bucket → bucket-version map of the current manifest. */
  def manifest(table: String): Map[Int, Long] =
    manifestAt(table, currentManifest(table).getOrElse(throw new IllegalStateException(
      s"table $table has no committed manifest under $root")))

  /** ONE manifest-file parse → (bucket→version map, committed schema).
    * Every read path needs both; parsing once per operation halves manifest
    * I/O at the 60 s cadence and guarantees map and schema come from the
    * same read of the file. The schema is None for manifests written before
    * schema tracking.
    */
  private def parseManifest(table: String, n: Long):
      (Map[Int, Long], Option[org.apache.spark.sql.types.StructType]) = {
    val lines = Files.readAllLines(tableDir(table).resolve(s"m$n")).asScala
    val m = lines
      .filter(l => l.nonEmpty && !l.startsWith(SchemaLine))
      .map { line =>
        val Array(b, v) = line.split(' '); b.toInt -> v.toLong
      }.toMap
    val schema = lines.find(_.startsWith(SchemaLine))
      .map(l => org.apache.spark.sql.types.DataType.fromJson(l.stripPrefix(SchemaLine))
        .asInstanceOf[org.apache.spark.sql.types.StructType])
    (m, schema)
  }

  /** bucket → bucket-version map of a specific manifest (time travel). */
  def manifestAt(table: String, n: Long): Map[Int, Long] = parseManifest(table, n)._1

  /** Time travel: the table as of manifest `n` — consistent as long as the
    * versions it references have not been vacuumed.
    */
  def readManifestVersion(table: String, n: Long): DataFrame = {
    val (m, schema) = parseManifest(table, n)
    readWith(table, m, m, schema)
  }

  private def bucketPath(table: String, bucket: Int, version: Long): String =
    tableDir(table).resolve(s"b$bucket").resolve(s"v$version").toString

  private def pathsFor(table: String, m: Map[Int, Long]): Seq[String] =
    m.toSeq.sorted.map { case (b, v) => bucketPath(table, b, v) }

  private def currentParsed(table: String):
      (Map[Int, Long], Option[org.apache.spark.sql.types.StructType]) =
    parseManifest(table, currentManifest(table).getOrElse(throw new IllegalStateException(
      s"table $table has no committed manifest under $root")))

  /** Current snapshot: union of every bucket's current version. */
  override def read(table: String): DataFrame = {
    val (m, schema) = currentParsed(table)
    readWith(table, m, m, schema)
  }

  /** Read the buckets of `slice` under the manifest's committed `schema`
    * (older bucket files null-fill columns added since they were written);
    * `full` (the whole manifest, parsed ONCE by the caller) anchors the
    * schema when the slice is empty and no schema was committed.
    */
  private def readWith(table: String, slice: Map[Int, Long], full: Map[Int, Long],
      schema: Option[org.apache.spark.sql.types.StructType]): DataFrame = {
    val paths = pathsFor(table, slice)
    (paths.nonEmpty, schema) match {
      case (true, Some(s)) => spark.read.schema(s).parquet(paths: _*)
      case (true, None) => spark.read.parquet(paths: _*)
      case (false, Some(s)) =>
        spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], s)
      case (false, None) =>
        // pre-schema-tracking layout: the `_schema` anchor (or any current
        // file) keeps the schema recoverable for an empty slice
        val anchor =
          if (full.nonEmpty) pathsFor(table, full).head
          else tableDir(table).resolve("_schema").toString
        spark.read.parquet(anchor).limit(0)
    }
  }

  /** Next never-used version for a bucket: 1 + the highest version dir ON
    * DISK (not just in the manifest). Versions are allocated monotonically
    * and NEVER reused — so a re-bootstrap snapshot can't overwrite dirs
    * older manifests still reference, and a crashed commit's orphan dirs
    * are simply superseded (vacuum removes anything unreferenced).
    */
  private def nextVersion(table: String, bucket: Int): Long = {
    val bDir = tableDir(table).resolve(s"b$bucket")
    if (!Files.exists(bDir)) 0L
    else FsUtils.listDir(bDir)
      .map(_.getFileName.toString)
      .filter(n => n.startsWith("v") && n.stripPrefix("v").forall(_.isDigit))
      .map(_.stripPrefix("v").toLong)
      .foldLeft(-1L)(math.max) + 1
  }

  /** Write df's rows to per-bucket version dirs and return bucket→version.
    * Goes through a staging `partitionBy` write, then a driver-side move of
    * each `_bucket=<b>` leaf into the bucket's next version dir (the same
    * rename-commit pattern all parquet committers use). Crash-retry safe by
    * version monotonicity (see [[nextVersion]]).
    */
  private def writeBuckets(table: String, df: DataFrame, keyCol: String): Map[Int, Long] = {
    val stage = tableDir(table).resolve(s"_stage${System.nanoTime()}")
    try {
      // repartition on the bucket column: each bucket's rows land in exactly
      // one task, so partitionBy emits one file per bucket
      val bucketed = df.withColumn("_bucket", bucketOf(col(keyCol)))
        .repartition(col("_bucket"))
      bucketed.write.mode(SaveMode.Overwrite).partitionBy("_bucket").parquet(stage.toString)
      FsUtils.listDir(stage)
        .filter(p => p.getFileName.toString.startsWith("_bucket="))
        .map { p =>
          val b = p.getFileName.toString.stripPrefix("_bucket=").toInt
          val v = nextVersion(table, b)
          val dest = Paths.get(bucketPath(table, b, v))
          Files.createDirectories(dest.getParent)
          Files.move(p, dest, StandardCopyOption.ATOMIC_MOVE)
          b -> v
        }.toMap
    } finally FsUtils.deleteRecursively(stage)
  }

  private def commitManifest(table: String, m: Map[Int, Long],
      schema: org.apache.spark.sql.types.StructType): Long = {
    val next = currentManifest(table).map(_ + 1).getOrElse(0L)
    val dir = tableDir(table)
    Files.createDirectories(dir)
    // schema travels IN the manifest: one atomic pointer swap commits data
    // pointers and schema together (StructType.json is single-line)
    val body = (s"$SchemaLine${schema.json}" +:
      m.toSeq.sorted.map { case (b, v) => s"$b $v" }).mkString("\n")
    Files.writeString(dir.resolve(s"m$next"), body)
    val tmp = dir.resolve(s"_CURRENT.tmp$next")
    Files.writeString(tmp, next.toString)
    Files.move(tmp, ptr(table), StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
    next
  }

  /** Full-table commit (initial snapshot): every row bucketed and written,
    * plus a zero-row `_schema` parquet so an EMPTY snapshot (a table with no
    * rows yet at snapshot time) still records its schema — later merges into
    * it read `emptyLike` from the anchor instead of failing.
    *
    * A RE-bootstrap (snapshot over an existing table) allocates fresh
    * versions above anything on disk — never overwriting live version dirs
    * that prior manifests still reference — and the new manifest lists only
    * the fresh buckets (full replace).
    */
  override def commitSnapshot(table: String, df: DataFrame, keyCol: String): Long = {
    df.limit(0).coalesce(1).write.mode(SaveMode.Overwrite)
      .parquet(tableDir(table).resolve("_schema").toString)
    val written = writeBuckets(table, df, keyCol)
    commitManifest(table, written, df.schema)
  }

  /** Partition-scoped merge: apply one table's typed event batch (op, lsn,
    * commitTs, key + data columns) rewriting ONLY the touched buckets. The
    * manifest is parsed ONCE per merge and threaded through read + commit.
    */
  override def mergeBatch(table: String, events: DataFrame, keyCol: String,
      applyTs: Column): Long = {
    // bounded collect: ≤ nBuckets ints, derived from keys — never row data
    val touched = events.select(bucketOf(col("key")).cast("int").as("b"))
      .distinct().collect().map(_.getInt(0)).toSet
    val (prev, prevSchema) = currentParsed(table)
    val dest = readWith(table, prev.view.filterKeys(touched).toMap, prev, prevSchema)
    val merged = CdcApplier.applyBatch(dest, events, keyCol, applyTs)
    val written = writeBuckets(table, merged, keyCol)
    // untouched buckets carry forward by reference — files untouched; if the
    // batch widened the schema, the new manifest's schema line widens every
    // carried-forward bucket at read time (null-filled new columns)
    commitManifest(table, prev ++ written, merged.schema)
  }

  /** Append-only journal sink (reference S5), see [[Journals]]. */
  override def appendJournal(table: String, events: DataFrame): Unit =
    Journals.append(root, table, events)

  override def readJournal(table: String): DataFrame =
    Journals.read(spark, root, table)

  override def vacuumJournal(table: String, olderThan: java.time.LocalDate): Seq[String] =
    Journals.vacuum(root, table, olderThan)

  /** Retention: keep the last `keepVersions` MANIFESTS (current included)
    * and delete (a) older manifests and (b) every bucket version directory
    * no retained manifest references. Time travel via
    * [[readManifestVersion]] keeps working for exactly the retained
    * manifests — data files and the manifests that can reach them are
    * always vacuumed together.
    */
  def vacuum(table: String, keepVersions: Int = 1): Unit = {
    require(keepVersions >= 1)
    val cur = currentManifest(table).getOrElse(throw new IllegalStateException(
      s"table $table has no committed manifest under $root"))
    val oldest = math.max(0L, cur - keepVersions + 1)
    val retained = (oldest to cur)
      .filter(n => Files.exists(tableDir(table).resolve(s"m$n")))
    // every bucket version any retained manifest references stays
    val referenced: Map[Int, Set[Long]] = retained
      .flatMap(n => manifestAt(table, n).toSeq)
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    FsUtils.listDir(tableDir(table))
      .filter(_.getFileName.toString.startsWith("b"))
      .foreach { bDir =>
        val bName = bDir.getFileName.toString.stripPrefix("b")
        if (bName.forall(_.isDigit)) {
          val keep = referenced.getOrElse(bName.toInt, Set.empty)
          FsUtils.listDir(bDir)
            .filter { p =>
              val n = p.getFileName.toString
              n.startsWith("v") && !keep.contains(n.stripPrefix("v").toLong)
            }
            .foreach(FsUtils.deleteRecursively)
        }
      }
    FsUtils.listDir(tableDir(table))
      .filter { p =>
        val n = p.getFileName.toString
        n.startsWith("m") && n.stripPrefix("m").forall(_.isDigit) &&
          n.stripPrefix("m").toLong < oldest
      }
      .foreach(Files.delete)
  }
}
