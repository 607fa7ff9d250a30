package graft

import org.apache.spark.sql.{AnalysisException, DataFrame, SparkSession}

/** Resolved parquet base relations, kept as session temp views — catalog
  * metadata only (schema + file index), exactly what a warehouse engine
  * keeps in its catalog between queries.
  *
  * Why (r18, guide §1/§7.3 driver-side work): every query construction was
  * re-running `spark.read.parquet(path)` — a driver file listing plus a
  * parquet footer schema read (one Spark job) — for each of its 1-4 tables,
  * every bench rep. The hc_ and sm_ families spent 0.24-0.31 s per rep in
  * CONSTRUCTION vs 0.07-0.15 s executing. A temp view holds the analyzed
  * relation, so `spark.table` skips that re-resolution; the query's own
  * analysis/optimization/execution is untouched and recomputed per rep.
  *
  * The view name is `graft_rel_<sha1(canonical path)[0..16]>_<stamp>`:
  *  - the canonical path makes every spelling of one directory (relative,
  *    absolute, `dir/./name`, a symlink) share one view;
  *  - the stamp hashes the directory and its direct children, so any
  *    rewrite (new part files, changed sizes or mtimes) yields a new name
  *    and a fresh resolve — no writer has to invalidate anything, and an
  *    in-place regeneration can never serve a stale file list
  *    (IvfPqServeSpec's regeneration test pins this);
  *  - views live in the session's catalog, so they die with the session.
  *
  * Catalog tables plus `REFRESH TABLE` cannot replace the stamp: a path
  * rewritten by code that never calls refresh (that regeneration test)
  * would then read deleted files.
  *
  * What this is NOT: result or data caching. No rows are materialized,
  * and `spark.catalog.clearCache()` (the bench's isolation step) has
  * nothing of ours to clear.
  */
object RelationCache {

  /** Cheap staleness stamp: (mtime, length, name) of the path and its
    * DIRECT children, hashed — a handful of stat calls (~µs), vs the full
    * listing + footer schema read a re-resolution costs.
    */
  private def stamp(f: java.io.File): Long = {
    var h = f.lastModified * 31 + f.length
    val kids = f.listFiles()
    if (kids != null) kids.foreach { k =>
      h = h * 31 + k.getName.hashCode
      h = h * 31 + k.lastModified
      h = h * 31 + k.length
    }
    h
  }

  /** The temp-view name for `path`'s current contents. */
  private def viewName(path: String): String = {
    val f = new java.io.File(path).getCanonicalFile
    val sha = java.security.MessageDigest.getInstance("SHA-1")
      .digest(f.getPath.getBytes("UTF-8")).take(8).map("%02x".format(_)).mkString
    s"graft_rel_${sha}_${java.lang.Long.toHexString(stamp(f))}"
  }

  /** The resolved relation for `path`: a view hit costs a catalog lookup,
    * a miss resolves the path once and registers it.
    */
  def parquet(spark: SparkSession, path: String): DataFrame = {
    val name = viewName(path)
    try spark.table(name)
    catch {
      case _: AnalysisException =>
        spark.read.parquet(path).createOrReplaceTempView(name)
        spark.table(name)
    }
  }
}
