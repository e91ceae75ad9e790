package graft

import graft.core.Tables
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Deterministic 10× scale-up of a driver testdata directory — the
  * sf1 probe data the scale-headroom benchmark runs against.
  *
  * `runMain graft.ScaleUp <srcSfDir> <dstDir> [copies]`
  *
  * Each table becomes `copies` shifted replicas of itself with every
  * key column offset by `k · stride` (stride = max key + 1, so ids
  * stay dense and unique) and every foreign key shifted by the SAME
  * stride — referential integrity holds exactly, per-key fan-outs
  * (lineitems per order, orders per customer, events per user) stay
  * constant, and dimension tables (region, nation) stay fixed, which
  * is precisely how a real 10× of this schema scales. Pure column
  * arithmetic — no RNG — so the output is bit-reproducible.
  *
  * Naive replication would create degenerate 10-way duplicate groups
  * where uniqueness carries semantics, so copies k ≥ 1 perturb:
  *
  *  - continuous measures (+0.01·k on 2-decimal prices/balances,
  *    +0.0001·k on 4-decimal event values): distinct-value
  *    cardinality grows 10× like real data, quantization contracts
  *    the queries rely on are preserved;
  *  - document text (every 4th word suffixed `~k`): ≥ 60% of 3-word
  *    shingles differ between copies, so cross-copy pairs sit far
  *    below every near-dup threshold and duplicate-cluster sizes
  *    scale linearly (10× the clusters, same cluster size) instead of
  *    quadratically (same clusters, 10× the size);
  *  - embeddings (circular dimension shift by k): a vector and its
  *    shifted copy are geometrically unrelated, so ANN/semantic-dedup
  *    neighborhoods scale linearly for the same reason;
  *  - key-derived labels (`c_name`) are re-derived from the new key.
  *
  * Timestamps keep their original window: 10× the rows in the same
  * time range (event density grows, the calendar does not) — matching
  * how an org's fact tables actually grow.
  */
object ScaleUp {
  def main(args: Array[String]): Unit = {
    val spark = SparkEntry.session(16)
    spark.sparkContext.setLogLevel("WARN")
    try run(spark, args(0), args(1),
      if (args.length > 2) args(2).toInt else 10)
    finally spark.stop()
  }

  def run(spark: SparkSession, src: String, dst: String, copies: Int): Unit = {
    def stride(df: DataFrame, key: String): Long =
      df.agg(max(col(key))).head().getLong(0) + 1L

    /** `copies` stacked replicas with per-copy column rewrites. */
    def replicate(df: DataFrame, rewrite: (DataFrame, Int) => DataFrame): DataFrame =
      (0 until copies).map(k => rewrite(df, k)).reduce(_ unionAll _)

    def write(df: DataFrame, name: String, parts: Int): Unit = {
      df.repartition(parts)
        .write.mode("overwrite").parquet(s"$dst/$name.parquet")
      println(s"[scaleup] wrote $name")
    }

    // dimensions: fixed (a 10× business has the same regions/nations)
    write(Tables(spark, src, "region"), "region", 1)
    write(Tables(spark, src, "nation"), "nation", 1)

    val cust = Tables(spark, src, "customer")
    val sCust = stride(cust, "c_custkey")
    write(replicate(cust, (d, k) => d
      .withColumn("c_custkey", col("c_custkey") + k * sCust)
      .withColumn("c_name",
        concat(lit("Customer#"), format_string("%09d", col("c_custkey"))))
      .withColumn("c_acctbal", col("c_acctbal") + k * 0.01)), "customer", 4)

    val supp = Tables(spark, src, "supplier")
    val sSupp = stride(supp, "s_suppkey")
    write(replicate(supp, (d, k) => d
      .withColumn("s_suppkey", col("s_suppkey") + k * sSupp)
      .withColumn("s_acctbal", col("s_acctbal") + k * 0.01)), "supplier", 1)

    val part = Tables(spark, src, "part")
    val sPart = stride(part, "p_partkey")
    write(replicate(part, (d, k) => d
      .withColumn("p_partkey", col("p_partkey") + k * sPart)
      .withColumn("p_retailprice", col("p_retailprice") + k * 0.01)), "part", 4)

    val ord = Tables(spark, src, "orders")
    val sOrd = stride(ord, "o_orderkey")
    write(replicate(ord, (d, k) => d
      .withColumn("o_orderkey", col("o_orderkey") + k * sOrd)
      .withColumn("o_custkey", col("o_custkey") + k * sCust)
      .withColumn("o_totalprice", col("o_totalprice") + k * 0.01)), "orders", 8)

    val li = Tables(spark, src, "lineitem")
    write(replicate(li, (d, k) => d
      .withColumn("l_orderkey", col("l_orderkey") + k * sOrd)
      .withColumn("l_partkey", col("l_partkey") + k * sPart)
      .withColumn("l_suppkey", col("l_suppkey") + k * sSupp)
      .withColumn("l_extendedprice", col("l_extendedprice") + k * 0.01)),
      "lineitem", 16)

    val ev = Tables.events(spark, src)
    val sEv = stride(ev, "event_id")
    val sUser = stride(ev, "user_id")
    write(replicate(ev, (d, k) => d
      .withColumn("event_id", col("event_id") + k * sEv)
      .withColumn("user_id", col("user_id") + k * sUser)
      .withColumn("value", col("value") + k * 0.0001))
      // keep the source physical layout (µs, no UTC adjustment)
      .withColumn("ts", col("ts").cast("timestamp_ntz")), "events", 8)

    val docs = Tables(spark, src, "documents")
    val sDoc = stride(docs, "doc_id")
    write(replicate(docs, (d, k) => {
      val txt =
        if (k == 0) col("text")
        else array_join(transform(split(col("text"), " "),
          (w, i) => when(i % 4 === 3, concat(w, lit(s"~$k"))).otherwise(w)), " ")
      d.withColumn("doc_id", col("doc_id") + k * sDoc)
        .withColumn("text", txt)
        .withColumn("n_chars", length(col("text")).cast("long"))
    }), "documents", 8)

    val emb = Tables(spark, src, "embeddings")
    val sVec = stride(emb, "vec_id")
    val dim = emb.select(size(col("embedding"))).head().getInt(0)
    write(replicate(emb, (d, k) => d
      .withColumn("vec_id", col("vec_id") + k * sVec)
      .withColumn("embedding",
        if (k == 0) col("embedding")
        else transform(sequence(lit(0), lit(dim - 1)),
          i => col("embedding")(pmod(i + k, lit(dim)))))), "embeddings", 2)
  }
}
