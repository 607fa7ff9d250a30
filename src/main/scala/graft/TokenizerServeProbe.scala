package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** ×10 growth datapoints for the tokenizer SERVING paths (WordPiece
  * greedy longest-match, unigram Viterbi): the production axis is a
  * FIXED piece inventory (trained once, persisted) serving a growing
  * corpus, and the serving cost law is
  *
  *   one corpus pass to (word, cnt)  +  encode over DISTINCT words.
  *
  * Replicas multiply BOTH terms linearly: replica-k documents prefix
  * every token with a letter-only tag (`aa`, `ab`, …) so the distinct
  * word inventory grows ×k with zero cross-replica overlap (the tags
  * stay inside [a-z]+, so the tagged words still flow through the
  * gates' regex filter; they segment via the char fallback). The
  * per-word encode cost is corpus-INDEPENDENT (expression over ≤ 32
  * chars), so the expected ×10 ratio is ≈ linear — a super-linear
  * ratio would mean the encode stopped being distinct-word-bounded.
  *
  * One JVM, ×1 then ×10, warm rep first. Results →
  * bench/tokenizer_serve_probe_x10.json (TokenizerServeProbeArtifactSpec).
  */
object TokenizerServeProbe {
  def main(args: Array[String]): Unit = {
    val src = sys.env.getOrElse("SPARK_GRAFT_SCALE_SRC", "/root/testdata/sf0.1")
    val replicas = GraftSession.intEnv("SPARK_GRAFT_SCALE_REPLICAS", 10)
    val spark = GraftSession()

    val docs = spark.read.parquet(s"$src/documents.parquet")
    // serving inventories are trained ONCE on the base corpus's src0 —
    // the fixed-vocabulary contract this probe pins
    val wpVocab = pipeline.WordPieceQueries.vocabTable(spark, src).collect()
      .map(r => (r.getString(0), r.getBoolean(1), r.getString(2))).toSeq
      .sortBy(v => (v._1, v._2))
    val uniCosts = pipeline.UnigramQueries.costTable(spark, src).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq.sortBy(_._1)

    def corpus(k: Int): DataFrame =
      (0 until k).map { r =>
        val tag = "" + ('a' + r / 26).toChar + ('a' + r % 26).toChar
        val base = docs.select(col("source").as("grp"),
          explode(graft.functions.TextFunctions.tokens(col("text"))).as("word"))
        if (r == 0) base
        else base.select(col("grp"), concat(lit(tag), col("word")).as("word"))
      }.reduce(_ unionAll _).filter(col("word").rlike("^[a-z]+$"))

    def time(f: => Long): (Double, Long) = {
      spark.catalog.clearCache(); System.gc()
      val t0 = System.nanoTime()
      val rows = f
      ((System.nanoTime() - t0) / 1e9, rows)
    }
    // the serving law under measure: corpus → (word, cnt) → encode
    // distinct words → weighted piece total (one number out)
    def serve(c: DataFrame, enc: org.apache.spark.sql.Column): Long = {
      val wc = c.groupBy("word").agg(count(lit(1)).as("cnt"))
      wc.select(col("cnt"), enc.as("e"))
        .select(sum(col("cnt") * size(col("e.toks"))).cast("long"))
        .collect()(0).getLong(0)
    }
    def cell(name: String, enc: org.apache.spark.sql.Column): String = {
      serve(corpus(1), enc) // warm rep
      val (s1, p1) = time(serve(corpus(1), enc))
      val (s10, p10) = time(serve(corpus(replicas), enc))
      val ratio = s10 / math.max(s1, 1e-9)
      println(f"tokenizer serve $name: x1 $s1%.2f s ($p1 pieces), x$replicas $s10%.2f s ($p10 pieces), ratio $ratio%.1f")
      def d(x: Double) = BigDecimal(x).setScale(2, BigDecimal.RoundingMode.HALF_UP)
      s""""$name":{"secs_x1":${d(s1)},"secs_x$replicas":${d(s10)},"ratio":${d(ratio)},"pieces_x1":$p1,"pieces_x$replicas":$p10}"""
    }

    val cells = Seq(
      cell("wordpiece", pipeline.WordPieceQueries.encodeExpr(wpVocab)),
      cell("unigram", pipeline.UnigramQueries.encodeExpr(uniCosts)))

    val json =
      s"""{"metric":"tokenizer_serve_probe","src":"$src","replicas":$replicas,""" +
        cells.mkString(",") + "}"
    println(json)
    val out = new java.io.PrintWriter(s"bench/tokenizer_serve_probe_x$replicas.json")
    try out.println(json) finally out.close()
    spark.stop()
  }
}
