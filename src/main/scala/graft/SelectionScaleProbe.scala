package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** ×10 growth datapoints for the data-selection family (q_dsir_weights /
  * q_select_budget): the corpus axis. Replicas multiply the POOL
  * documents ×k (doc_id shift, sources kept), so the feature pass, the
  * per-doc weight aggregate, and the budget prefix all grow ×k while λ
  * stays a 4096-row broadcast trained once on the base corpus — the
  * production contract (train the target/raw models once; score and
  * select over an ever-growing pool).
  *
  * Expected law: both measured pipelines are one corpus pass + one
  * doc_id-keyed aggregate (+ for the budget face, PrefixRank's range
  * exchange) — wall should grow ≈ linearly; a super-linear ratio means
  * the selection stopped being corpus-pass-bounded (e.g. the λ join
  * stopped broadcasting or a global window snuck in).
  *
  * One JVM, ×1 then ×10, warm rep first. Results →
  * bench/selection_probe_x10.json (SelectionProbeArtifactSpec).
  */
object SelectionScaleProbe {
  def main(args: Array[String]): Unit = {
    val src = sys.env.getOrElse("SPARK_GRAFT_SCALE_SRC", "/root/testdata/sf0.1")
    val replicas = GraftSession.intEnv("SPARK_GRAFT_SCALE_REPLICAS", 10)
    val cpus = GraftSession.cpus
    val spark = GraftSession()

    val docs = spark.read.parquet(s"$src/documents.parquet")
    val baseMax = docs.agg(max("doc_id")).collect()(0).getLong(0) + 1
    // λ trained ONCE on the base corpus — the fixed model being served
    val lam = pipeline.SelectionQueries.lambdaTable(spark, src)

    def pool(k: Int): DataFrame =
      (0 until k).map { r =>
        docs.filter(col("source") =!= "src0")
          .select((col("doc_id") + lit(r * baseMax)).as("doc_id"),
            col("source"), col("text"))
      }.reduce(_ unionAll _)

    def time(f: => Long): (Double, Long) = {
      spark.catalog.clearCache(); System.gc()
      val t0 = System.nanoTime()
      val n = f
      ((System.nanoTime() - t0) / 1e9, n)
    }

    def weightsTop(k: Int): Long =
      pipeline.SelectionQueries.docWeightsOf(pool(k), lam)
        .orderBy(col("weight").desc, col("doc_id")).limit(100)
        .agg(sum("weight")).collect()(0).getLong(0)

    def budgetSelect(k: Int): Long = {
      val dw = pipeline.SelectionQueries.docWeightsOf(pool(k), lam)
      val budget = dw.agg(expr("SUM(n_tok) DIV 4").as("budget"))
      graft.operators.PrefixRank.withRunningTotal(dw,
          Seq(col("weight").desc, col("doc_id")), col("n_tok"), "cum",
          cpus)
        .crossJoin(broadcast(budget))
        .filter(col("cum") <= col("budget"))
        .agg(count(lit(1))).collect()(0).getLong(0)
    }

    def cell(name: String, f: Int => Long): String = {
      f(1) // warm rep: JIT + λ store
      val (s1, n1) = time(f(1))
      val (sK, nK) = time(f(replicas))
      val ratio = sK / math.max(s1, 1e-9)
      println(f"selection $name: x1 $s1%.2f s ($n1), x$replicas $sK%.2f s ($nK), ratio $ratio%.1f")
      def d(x: Double) = BigDecimal(x).setScale(2, BigDecimal.RoundingMode.HALF_UP)
      s""""$name":{"secs_x1":${d(s1)},"secs_x$replicas":${d(sK)},"ratio":${d(ratio)},"out_x1":$n1,"out_x$replicas":$nK}"""
    }

    val cells = Seq(
      cell("dsir_weights", weightsTop),
      cell("select_budget", budgetSelect))

    val json =
      s"""{"metric":"selection_probe","src":"$src","replicas":$replicas,""" +
        cells.mkString(",") + "}"
    println(json)
    val out = new java.io.PrintWriter(s"bench/selection_probe_x$replicas.json")
    try out.println(json) finally out.close()
    spark.stop()
  }
}
