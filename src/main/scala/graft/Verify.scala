package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    // materialize deterministic candidate stages so their exact-verification
    // final stage is DuckDB-checkable (see OracleStage)
    System.setProperty("graft.oracle.stage", "1")
    // drop any previous run's staged candidates: a query that dies before
    // (re)staging must surface as a missing-file oracle error, not silently
    // compare against a stale parquet from an earlier run
    OracleStage.clean()
    val spark = GraftSession()
    new java.io.File(outDir).mkdirs()
    // local-iteration filter: comma-separated names → dump only those
    // (the driver never sets this; full runs stay the default). An empty
    // var is treated as unset, and names matching no registered query fail
    // fast — a typo must not silently dump nothing after OracleStage.clean()
    // has already wiped the previous run's staged candidates.
    val only = sys.env.get("SPARK_GRAFT_VERIFY_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .filter(_.nonEmpty)
    only.foreach { names =>
      val unknown = names.diff(SparkEntry.queries.keySet)
      require(unknown.isEmpty,
        s"SPARK_GRAFT_VERIFY_ONLY names no registered query: ${unknown.mkString(", ")}")
    }
    // A thrown query must be VISIBLE in the correctness artifact, not
    // silently absent (r9 lesson: six analysis-erroring queries vanished
    // from CORRECTNESS_r09.json while the file read "all green"). On error
    // we still write the query's output dir — a 1-row parquet whose single
    // `__graft_error` column carries the exception — so the driver's DuckDB
    // compare produces a loudly-red schema/hash-mismatch row instead of
    // omitting the query. errors.json records the same map for humans.
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        val msg = s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}".take(2000)
        errors(name) = msg
        System.err.println(s"[verify] $name failed: $msg")
        import spark.implicits._
        Seq(msg).toDF("__graft_error").coalesce(1)
          .write.mode("overwrite").parquet(s"$outDir/$name")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // format-source oracles embed a staged path derived from the input dir
    // (__KEY__ placeholder) — resolve for THIS run's sfDir so the oracle
    // reads exactly the files the Spark side staged
    val json = SparkEntry.oracleSql
      .map { case (k, v) => k -> sources.FormatSources.resolveOracle(sfDir, v) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val errJson = errors.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/errors.json"), errJson)
    if (errors.nonEmpty)
      println(s"[verify] ${errors.size} quer${if (errors.size == 1) "y" else "ies"} FAILED: " +
        errors.keys.mkString(", "))
    spark.stop()
  }
}
