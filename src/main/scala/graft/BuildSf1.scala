package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Materialize a full ×10 testdata directory ("sf1") from sf0.1 so the
  * WHOLE 200+-query suite can run at one scale step up in one JVM (r11
  * verdict item 8: the ×10–×100 probes cover the steep families
  * individually, but only a full-suite run surfaces cross-query JIT /
  * code-cache / memory effects).
  *
  * Replication is FK-consistent and replica-decorrelated, so every table's
  * growth axis matches the linearity claims already measured per family:
  *  - PKs and the FKs that reference them shift by k·10⁷ per replica
  *    (customer/orders/lineitem/part/supplier stay join-consistent;
  *    each replica is a disjoint purchase / co-supply graph);
  *  - dimension enumerations (region, nation, and every non-key column)
  *    are untouched — group-by grids keep constant cardinality while fact
  *    rows grow, exactly like a warehouse;
  *  - customer names re-derive from the shifted key (distinct real names,
  *    not ×10 copies — copied names would quadratically inflate the fuzzy
  *    family instead of scaling its input);
  *  - documents tag tokens per replica (disjoint shingle space) and
  *    embeddings sign-flip per replica (intra-replica cosines preserved
  *    bit-for-bit, cross-replica decorrelated).
  *
  * Usage: `runMain graft.BuildSf1` → target/sf1; then
  * `SPARK_GRAFT_SF_DIR=target/sf1
  *  SPARK_GRAFT_BENCH_OUT=bench/last_run_sf1.json runMain graft.Bench`.
  * At ×10 the whole registry runs unmodified (20k vectors stay under the
  * exact baseline's O(n²) fence); beyond ~×50, SPARK_GRAFT_BENCH_EXCLUDE
  * exists to skip exactly the faces whose CONTRACT is to refuse the size
  * (q_dedup_embedding) without recording them as failures.
  */
object BuildSf1 {
  def main(args: Array[String]): Unit = {
    val src = sys.env.getOrElse("SPARK_GRAFT_SF1_SRC", "/root/testdata/sf0.1")
    val replicas = GraftSession.intEnv("SPARK_GRAFT_SF1_REPLICAS", 10)
    val spark = GraftSession()
    val dir = new java.io.File(sys.env.getOrElse("SPARK_GRAFT_SF1_DIR", "target/sf1"))
      .getAbsolutePath

    val shift = 10000000L
    def out(name: String) = s"$dir/$name.parquet"
    def done(name: String) = new java.io.File(out(name)).exists()
    def replicate(name: String)(copy: (DataFrame, Int) => DataFrame): Unit = {
      if (done(name)) return
      val base = spark.read.parquet(s"$src/$name.parquet")
      (0 until replicas).map(k => if (k == 0) base else copy(base, k))
        .reduce(_ unionByName _)
        .write.mode("overwrite").parquet(out(name))
      println(s"sf1: wrote $name")
    }
    def shifted(name: String, keys: String*): Unit = replicate(name) { (df, k) =>
      keys.foldLeft(df)((d, c) => d.withColumn(c, col(c) + lit(k * shift)))
    }

    // dimensions with fixed enumerations: copy once, unreplicated
    Seq("region", "nation").foreach { name =>
      if (!done(name))
        spark.read.parquet(s"$src/$name.parquet").write.mode("overwrite").parquet(out(name))
    }
    replicate("customer") { (df, k) =>
      df.withColumn("c_custkey", col("c_custkey") + lit(k * shift))
        .withColumn("c_name", format_string("Customer#%09d", col("c_custkey")))
    }
    replicate("supplier") { (df, k) =>
      df.withColumn("s_suppkey", col("s_suppkey") + lit(k * shift))
        .withColumn("s_name", format_string("Supplier#%09d", col("s_suppkey")))
    }
    shifted("part", "p_partkey")
    shifted("orders", "o_orderkey", "o_custkey")
    shifted("lineitem", "l_orderkey", "l_partkey", "l_suppkey")
    shifted("events", "event_id", "user_id")
    replicate("documents") { (df, k) =>
      df.select((col("doc_id") + lit(k * shift)).as("doc_id"),
        regexp_replace(col("text"), "(\\S+)", s"r$k$$1").as("text"),
        col("lang"), col("source"), col("n_chars"))
    }
    replicate("embeddings") { (df, k) =>
      df.select((col("vec_id") + lit(k * shift)).as("vec_id"),
        expr(s"transform(embedding, (x, i) -> IF(pmod(hash(i, $k), 2) = 0, x, -x))")
          .as("embedding"),
        col("label"))
    }
    println(s"sf1 corpus ready at $dir")
    spark.stop()
  }
}
