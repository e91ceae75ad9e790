package graft.relational

import graft.core.Tables
import graft.stats.CoxPH
import graft.variance.{CoxInfluence, Influence, Jackknife, JointVariance}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** Third batch: sliding event windows, approximate sketches (the
  * 100-TB path of the exact operators), and the integrated
  * influence/jackknife heavy paths as bench-visible queries.
  */
object RelationalQueries3 {
  import QueryDef._

  private def t(s: SparkSession, d: String, n: String) = Tables(s, d, n)

  private def rnd(x: Double, k: Int): Double =
    BigDecimal(x).setScale(k, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** S4 engine side, exposed for PlanSpec's shuffle-free assertion:
    * writes lineitem and orders CLUSTERED BY the join key into the same
    * bucket count (sorted within buckets), registers them in the
    * session catalog with an explicit LOCATION under a fresh temp dir,
    * and returns the un-aggregated bucket-scan join. With
    * `spark.sql.sources.bucketing.enabled` (default on) the join plans
    * as SortMergeJoin over the bucket layout — NO Exchange on either
    * side. Table names are session-scoped; re-runs overwrite. */
  private[graft] def bucketedJoin(s: SparkSession, d: String): DataFrame = {
    // the bucketed layout is written ONCE per (session, sfDir) and
    // reused by later invocations — that's the whole point of bucketing
    // (pay the clustered write once, join repeatedly with no shuffle),
    // and it's what repeated benchmark passes should measure
    val key = d.replaceAll("[^a-zA-Z0-9]", "_")
    val li = s"graft_li_bkt_$key"; val ord = s"graft_ord_bkt_$key"
    if (!s.catalog.tableExists(li) || !s.catalog.tableExists(ord)) {
      val tmp = java.nio.file.Files.createTempDirectory("graft_s4").toString
      s.sql(s"DROP TABLE IF EXISTS $li")
      s.sql(s"DROP TABLE IF EXISTS $ord")
      t(s, d, "lineitem").select(col("l_orderkey"), col("l_extendedprice"))
        .write.mode("overwrite").format("parquet")
        .bucketBy(8, "l_orderkey").sortBy("l_orderkey")
        .option("path", s"$tmp/li").saveAsTable(li)
      t(s, d, "orders").select(col("o_orderkey"), col("o_orderpriority"))
        .write.mode("overwrite").format("parquet")
        .bucketBy(8, "o_orderkey").sortBy("o_orderkey")
        .option("path", s"$tmp/ord").saveAsTable(ord)
    }
    // MERGE hint: at test scale the planner would broadcast the dim and
    // skip the bucket layout entirely; the co-location story under test
    // is the sort-merge path (at fact×fact scale broadcast is off the
    // table anyway), where aligned buckets remove BOTH exchanges.
    s.table(li).hint("merge")
      .join(s.table(ord).hint("merge"),
        col("l_orderkey") === col("o_orderkey"))
  }

  /** S5 engine side, exposed for PlanSpec's partition-pruning
    * assertion: documents re-written hive-partitioned by lang, read
    * back filtered to one partition. */
  private[graft] def partitionedScan(s: SparkSession, d: String): DataFrame = {
    val tmp = java.nio.file.Files.createTempDirectory("graft_s5").toString
    t(s, d, "documents").write.mode("overwrite")
      .partitionBy("lang").parquet(tmp)
    s.read.parquet(tmp).filter(col("lang") === "en")
  }

  /** Unrolled fixed-iteration Cox Newton-Raphson (1 covariate, Breslow
    * ties) as chained DuckDB CTEs — the same pinned-iteration technique
    * as StatQueries.irlsSql: NR is a contraction, so engine ulp
    * differences in the group sums decay instead of amplifying. Emits
    * CTEs `base`, `it0(b)`..`it$iters(b)` plus per-iteration `g$k`/`sc$k`
    * (the last of which carries the information sum at the penultimate
    * β, matching CoxPH.fit's `lastInfo`). */
  private[relational] def coxNrCtes(iters: Int, baseSql: String): String = {
    val sb = new StringBuilder
    sb.append(s"WITH base AS ($baseSql),\n")
    sb.append("it0(b) AS (SELECT CAST(0.0 AS DOUBLE)),\n")
    for (k <- 1 to iters) {
      sb.append(
        s"""g$k AS (SELECT t,
           |    SUM(w*EXP(p.b*x)) AS s0g, SUM(w*EXP(p.b*x)*x) AS s1g,
           |    SUM(w*EXP(p.b*x)*x*x) AS s2g,
           |    SUM(w*d) AS wd, SUM(w*d*x) AS ux, MAX(p.b) AS b
           |  FROM base, it${k - 1} p GROUP BY t),
           |sc$k AS (SELECT t, wd, ux, b,
           |    SUM(s0g) OVER rw AS s0, SUM(s1g) OVER rw AS s1,
           |    SUM(s2g) OVER rw AS s2
           |  FROM g$k WINDOW rw AS (ORDER BY t DESC
           |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
           |it$k(b) AS (SELECT MAX(b)
           |    + SUM(ux - wd*s1/s0) / SUM(wd*(s2/s0 - s1*s1/(s0*s0)))
           |  FROM sc$k WHERE wd > 0),
           |""".stripMargin)
    }
    sb.toString.stripSuffix(",\n")
  }

  private val survBaseSql =
    """SELECT l_quantity AS t,
      |  CASE WHEN l_returnflag <> 'A' THEN 1.0 ELSE 0.0 END AS d,
      |  1.0 + (l_orderkey % 5) AS w,
      |  l_discount * 10 AS x, l_orderkey FROM lineitem
      |WHERE l_orderkey % 3 = 0""".stripMargin

  val all: Seq[QueryDef] = Seq(

    // ---- S2: sink roundtrip — parquet write → read → CSV write →
    //      schema-enforced CSV read must reproduce the source rows ----
    sqlChecked("s2_sink",
      """SELECT n_nationkey, n_name, n_regionkey FROM nation
        |ORDER BY n_nationkey""".stripMargin) { (s, d) =>
      val tmp = java.nio.file.Files.createTempDirectory("graft_s2").toString
      val df = t(s, d, "nation").select("n_nationkey", "n_name", "n_regionkey")
      df.write.mode("overwrite").parquet(s"$tmp/p")
      s.read.parquet(s"$tmp/p")
        .write.mode("overwrite").option("header", "true").csv(s"$tmp/c")
      s.read.option("header", "true").schema(df.schema).csv(s"$tmp/c")
        .orderBy("n_nationkey")
    },

    // ---- S4: bucketed co-located join — both sides written CLUSTERED
    //      BY the join key into the same bucket count, then joined with
    //      NO exchange on either side (PlanSpec asserts the bucket scan
    //      feeds SortMergeJoin shuffle-free). This is the 100-TB
    //      co-location strategy: pay the bucketed write once, join
    //      repeatedly without reshuffling the fact table. Oracle is the
    //      same join/agg straight off the source parquet. ----
    sqlChecked("s4_bucketed",
      """SELECT o_orderpriority, COUNT(*) AS n,
        |  ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE), 2)
        |    AS rev
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin) { (s, d) =>
      bucketedJoin(s, d).groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double"), 2)
            .as("rev"))
        .orderBy(col("o_orderpriority"))
    },

    // ---- S6: JSON-lines sink/scan roundtrip — write the documents
    //      table as JSONL, read it back schema-enforced, roll up; the
    //      oracle aggregates the source directly, so the roundtrip must
    //      be lossless ----
    sqlChecked("s6_json_sink",
      """SELECT lang, COUNT(*) AS n, CAST(SUM(n_chars) AS BIGINT) AS chars
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin) { (s, d) =>
      val tmp = java.nio.file.Files.createTempDirectory("graft_s6").toString
      val src = t(s, d, "documents")
      src.write.mode("overwrite").json(s"$tmp/j")
      s.read.schema(src.schema).json(s"$tmp/j")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("chars"))
        .orderBy(col("lang"))
    },

    // ---- S7: ORC sink/scan roundtrip (same contract, columnar
    //      format #2) ----
    sqlChecked("s7_orc_sink",
      """SELECT o_orderpriority, COUNT(*) AS n,
        |  ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2)
        |    AS total
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin) { (s, d) =>
      val tmp = java.nio.file.Files.createTempDirectory("graft_s7").toString
      t(s, d, "orders").write.mode("overwrite").orc(s"$tmp/o")
      s.read.orc(s"$tmp/o")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("o_totalprice").cast("decimal(18,2)")).cast("double"), 2)
            .as("total"))
        .orderBy(col("o_orderpriority"))
    },

    // ---- S5: hive-partitioned sink + partition-pruned scan — the
    //      documents corpus written partitionBy(lang), then one
    //      language's rollup read back. PlanSpec asserts the lang
    //      predicate lands in PartitionFilters (directory pruning, zero
    //      I/O on other languages) — at corpus scale the difference
    //      between scanning one partition and everything. ----
    sqlChecked("s5_partitioned",
      """SELECT source, COUNT(*) AS n, CAST(SUM(n_chars) AS BIGINT) AS chars
        |FROM documents WHERE lang = 'en'
        |GROUP BY source ORDER BY source""".stripMargin) { (s, d) =>
      partitionedScan(s, d).groupBy(col("source"))
        .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("chars"))
        .orderBy(col("source"))
    },

    // ---- A8: kernel-weight Jacobian ∂kw/∂γ (Gaussian closed form).
    //      The survey side is a FIXED-SIZE probability sample
    //      (c_custkey < 15000 pins it to the sf0.1 draw at every scale
    //      factor — the reference's setting: the survey is a designed
    //      sample of bounded n, only the cohort grows with the data).
    //      Without the pin both sides grew with sf and the dense
    //      n_s·n_c kernel cross was quadratic BY FIXTURE (the growth
    //      tool fit e = 2.13); with it, pairs = 155 · n_c → linear. ----
    sqlChecked("a8_kw_jacobian",
      """WITH sv AS (SELECT c_custkey AS sid, c_acctbal / 1000.0 AS qs,
        |    1.0 + (c_custkey % 3) AS wt, c_nationkey / 10.0 AS xs
        |  FROM customer WHERE c_custkey % 97 = 0 AND c_custkey < 15000),
        |ch AS (SELECT s_suppkey AS cid, s_acctbal / 1000.0 AS qc,
        |    s_nationkey / 10.0 AS xc
        |  FROM supplier WHERE s_suppkey % 7 = 0),
        |p AS (SELECT sid, cid, wt, (qs - qc) / 0.5 AS u, xs, xc
        |  FROM sv CROSS JOIN ch),
        |k AS (SELECT sid, cid, wt,
        |    EXP(-u * u / 2) / SQRT(2 * PI()) AS k,
        |    (-u) * EXP(-u * u / 2) / SQRT(2 * PI()) * (xs - xc) / 0.5 AS dk
        |  FROM p),
        |r AS (SELECT sid, SUM(k) AS row_k, SUM(dk) AS row_dk
        |  FROM k GROUP BY sid)
        |SELECT cid AS c_id, ROUND(SUM(wt * k / row_k), 8) AS kw,
        |  ROUND(SUM(wt * (dk * row_k - k * row_dk) / (row_k * row_k)), 8)
        |    AS d_kw_0
        |FROM k JOIN r USING (sid) WHERE row_k > 0
        |GROUP BY cid ORDER BY c_id""".stripMargin) { (s, d) =>
      val surv = t(s, d, "customer")
        .filter(col("c_custkey") % 97 === 0 && col("c_custkey") < 15000)
        .select(col("c_custkey").as("sid"),
          (col("c_acctbal") / 1000.0).as("qs"),
          (lit(1.0) + col("c_custkey") % 3).cast("double").as("wt"),
          (col("c_nationkey") / 10.0).as("xs"))
      val coh = t(s, d, "supplier").filter(col("s_suppkey") % 7 === 0)
        .select(col("s_suppkey").as("cid"),
          (col("s_acctbal") / 1000.0).as("qc"),
          (col("s_nationkey") / 10.0).as("xc"))
      graft.weights.KernelWeights.attachJacobian(
          surv, col("qs"), col("wt"),
          coh, col("qc"), h = 0.5,
          sFeatures = Seq(col("xs")), cFeatures = Seq(col("xc")))
        .select(col("cid").as("c_id"), round(col("kw"), 8).as("kw"),
          round(col("d_kw_0"), 8).as("d_kw_0"))
        .orderBy(col("c_id"))
    },

    // ---- sliding windows: each event lands in 2 overlapping 1h/30m buckets ----
    sqlChecked("ev_sliding",
      """WITH b AS (
        |  SELECT time_bucket(INTERVAL '30 minutes', ts) AS w1, value FROM events),
        |exploded AS (
        |  SELECT w1 AS win, value FROM b
        |  UNION ALL
        |  SELECT w1 - INTERVAL '30 minutes' AS win, value FROM b)
        |SELECT CAST(epoch(win) AS BIGINT) AS win, COUNT(*) AS n,
        |  ROUND(SUM(value), 4) AS v
        |FROM exploded GROUP BY 1 ORDER BY win""".stripMargin) { (s, d) =>
      Tables.events(s, d)
        .groupBy(window(col("ts"), "1 hour", "30 minutes").as("w"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 4).as("v"))
        .select(unix_timestamp(col("w.start")).as("win"), col("n"), col("v"))
        .orderBy(col("win"))
    },

    // ---- approximate sketches: the documented scale path for exact
    //      percentile / count-distinct. Sketch INTERNALS are
    //      engine-specific, so the oracle contract is: exact-side
    //      values (hash-comparable across engines) plus banded
    //      verdicts the Spark side computes against its OWN sketches
    //      and the oracle asserts as TRUE — a sketch drifting out of
    //      band flips the boolean and fails the hash compare loudly.
    //      Bands: HLL++ at rsd 0.01 against a 5% band (5σ — the
    //      default rsd 0.05 put the band at 1σ and the sf10 draw
    //      landed outside it; ~16 KB of registers per group is the
    //      honest price of a band a sketch should essentially never
    //      cross);
    //      percentile_approx at accuracy 10000 on the ≤50-value
    //      l_quantity domain is the exact DISCRETE median, banded at
    //      4% against the continuous exact median (discrete-vs-cont
    //      gap ≤ 0.5 absolute on a median ~25, plus zero sketch
    //      error). ApproxSpec keeps the tighter per-sketch contract.
    sqlChecked("a_approx_sketches",
      """SELECT l_returnflag,
        |  COUNT(DISTINCT l_partkey) AS acd_exact,
        |  ROUND(quantile_cont(l_quantity, 0.5), 4) AS p50_exact,
        |  TRUE AS acd_ok, TRUE AS p50_ok, TRUE AS cms_ok
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      val li = t(s, d, "lineitem")
      // the exact COUNT(DISTINCT) runs as its own two-level hash
      // aggregate: a distinct aggregate mixed into the sketch agg
      // forces the TypedImperative sketch buffers (HLL, CMS,
      // percentile) through the Expand + sort-fallback path — measured
      // 15x the split plan at sf0.1. The join recombining them is
      // 3 rows a side (one per returnflag).
      val exact = li.select(col("l_returnflag"), col("l_partkey"))
        .distinct()
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("acd_exact"))
      val sk = li.groupBy(col("l_returnflag"))
        .agg(
          approx_count_distinct(col("l_partkey"), 0.01).as("acd_part"),
          percentile_approx(col("l_quantity"), lit(0.5), lit(10000)).as("p50a"),
          round(expr("percentile(l_quantity, 0.5)"), 4).as("p50_exact"),
          count_min_sketch(col("l_suppkey"), lit(0.01), lit(0.95), lit(42))
            .as("cms"))
      sk.join(exact, Seq("l_returnflag"))
        .select(col("l_returnflag"), col("acd_exact"), col("p50_exact"),
          (abs(col("acd_part") - col("acd_exact")) <=
            col("acd_exact") * lit(0.05)).as("acd_ok"),
          (abs(col("p50a") - col("p50_exact")) <=
            abs(col("p50_exact")) * lit(0.04)).as("p50_ok"),
          (length(col("cms")) > 0).as("cms_ok"))
        .orderBy(col("l_returnflag"))
    },

    // ---- M13 integrated: joint (β,γ)-corrected PPS variance of Cox β,
    //      4 pinned NR iterations + the full influence algebra replayed
    //      by DuckDB (deterministic l_orderkey%3 subset) ----
    sqlChecked("m13_joint_var",
      coxNrCtes(4, survBaseSql) + ",\n" +
        """i3(i1) AS (SELECT SUM(wd*(s2/s0 - s1*s1/(s0*s0)))
          |  FROM sc4 WHERE wd > 0),
          |g5 AS (SELECT t, SUM(w*EXP(p.b*x)) AS s0g,
          |    SUM(w*EXP(p.b*x)*x) AS s1g, SUM(w*d) AS wd
          |  FROM base, it4 p GROUP BY t),
          |sc5 AS (SELECT t, wd,
          |    SUM(s0g) OVER rw AS s0, SUM(s1g) OVER rw AS s1
          |  FROM g5 WINDOW rw AS (ORDER BY t DESC
          |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
          |steps AS (SELECT t, s0, s1,
          |    SUM(CASE WHEN wd > 0 THEN wd/s0 ELSE 0 END) OVER pw AS G0,
          |    SUM(CASE WHEN wd > 0 THEN wd*s1/(s0*s0) ELSE 0 END) OVER pw AS G1
          |  FROM sc5 WINDOW pw AS (ORDER BY t ASC
          |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
          |unit AS (SELECT b.d, b.x, EXP(p.b*b.x) AS rh,
          |    s.s0, s.s1, s.G0, s.G1, i.i1
          |  FROM base b JOIN steps s ON b.t = s.t
          |  CROSS JOIN it4 p CROSS JOIN i3 i),
          |dev AS (SELECT (d*(x - s1/s0) - rh*(x*G0 - G1)) / i1 AS dbeta
          |  FROM unit)
          |SELECT ROUND((SELECT b FROM it4), 8) AS beta,
          |  ROUND(VAR_SAMP(dbeta) * COUNT(*), 10) AS v_pps
          |FROM dev""".stripMargin) { (s, d) =>
      import s.implicits._
      val base = t(s, d, "lineitem").filter(col("l_orderkey") % 3 === 0).select(
        col("l_quantity").cast("double").as("t"),
        when(col("l_returnflag") =!= "A", 1.0).otherwise(0.0).as("d"),
        (lit(1.0) + col("l_orderkey") % 5).cast("double").as("w"),
        (col("l_discount") * 10).cast("double").as("x"))
      val fit = CoxPH.fit(base, col("t"), col("d"), col("w"), Seq(col("x")),
        maxIter = 4, tol = 0.0)
      val dev = CoxInfluence.deviates(base, col("t"), col("d"), col("w"),
        Seq(col("x")), fit.coefficients, fit.infoPacked,
        sizeHint = graft.core.Windows.SizeHint.Small)
      val corrected = JointVariance.correctedDeviates(dev, p = 1,
        dwdGamma = Seq(-col("__w") * col("__x0")),
        gammaDevs = Seq(lit(0.0)), infoPacked = fit.infoPacked)
      // the query reads only the PPS n·cov, so π is immaterial
      val v = Influence.contract(corrected, Seq(col("dbeta_tot_0")),
        pi = lit(1.0))(Nil).pps(0)
      Seq((rnd(fit.coefficients(0), 8), rnd(v, 10))).toDF("beta", "v_pps")
    },

    // ---- M13 flagship: the COMPLETE composed Taylor-inference IPSW
    //      chain (taylor_deviate.R:38-236) — 6 pinned IRLS iterations
    //      for γ, IPSW pseudo-weights, 4 pinned Cox NR iterations for
    //      β, then the per-unit influence of β and Λ(t*) with the full
    //      γ-chain + β-chain (survey units as γ-only blocks) and the
    //      Poisson contraction — every step replayed by DuckDB ----
    sqlChecked("m13_ipsw_chain", {
      val A = 0.3
      val irls = (1 to 6).map { k =>
        s"""git$k AS (
           |  SELECT g0 + (h11*s0 - h01*s1)/(h00*h11 - h01*h01) AS g0,
           |         g1 + (h00*s1 - h01*s0)/(h00*h11 - h01*h01) AS g1,
           |         h00, h01, h11
           |  FROM (SELECT MAX(z.g0) AS g0, MAX(z.g1) AS g1,
           |      SUM(z.wps*z.mu*(1-z.mu)) AS h00,
           |      SUM(z.wps*z.mu*(1-z.mu)*z.x) AS h01,
           |      SUM(z.wps*z.mu*(1-z.mu)*z.x*z.x) AS h11,
           |      SUM(z.wps*(z.trt-z.mu)) AS s0, SUM(z.wps*(z.trt-z.mu)*z.x) AS s1
           |    FROM (SELECT c.trt, c.x, c.wps, p.g0, p.g1,
           |        1/(1+EXP(-(p.g0 + p.g1*c.x))) AS mu
           |      FROM com2 c, git${k - 1} p) z) zz)""".stripMargin
      }.mkString(",\n")
      val coxnr = (1 to 4).map { k =>
        s"""cg$k AS (SELECT t,
           |    SUM(w*EXP(p.b*x)) AS s0g, SUM(w*EXP(p.b*x)*x) AS s1g,
           |    SUM(w*EXP(p.b*x)*x*x) AS s2g,
           |    SUM(w*d) AS wd, SUM(w*d*x) AS ux, MAX(p.b) AS b
           |  FROM cbase, cit${k - 1} p GROUP BY t),
           |csc$k AS (SELECT t, wd, ux, b,
           |    SUM(s0g) OVER rw AS s0, SUM(s1g) OVER rw AS s1,
           |    SUM(s2g) OVER rw AS s2
           |  FROM cg$k WINDOW rw AS (ORDER BY t DESC
           |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
           |cit$k(b) AS (SELECT MAX(b)
           |    + SUM(ux - wd*s1/s0) / SUM(wd*(s2/s0 - s1*s1/(s0*s0)))
           |  FROM csc$k WHERE wd > 0)""".stripMargin
      }.mkString(",\n")
      s"""WITH com AS (
         |  SELECT l_quantity AS t,
         |    CASE WHEN l_returnflag <> 'A' THEN 1.0 ELSE 0.0 END AS d,
         |    l_discount * 10 AS x,
         |    CASE WHEN l_suppkey % 2 = 0 THEN 1.0 ELSE 0.0 END AS trt,
         |    1.0 + (l_orderkey % 5) AS wt
         |  FROM lineitem WHERE l_orderkey % 3 = 0),
         |com2 AS (SELECT t, d, x, trt,
         |    CASE WHEN trt = 1 THEN 1.0 ELSE wt * $A END AS wps, wt
         |  FROM com),
         |git0 AS (SELECT CAST(0 AS DOUBLE) AS g0, CAST(0 AS DOUBLE) AS g1,
         |  CAST(0 AS DOUBLE) AS h00, CAST(0 AS DOUBLE) AS h01,
         |  CAST(0 AS DOUBLE) AS h11),
         |$irls,
         |units AS (SELECT c.*,
         |    CASE WHEN trt = 1 THEN EXP(-(g.g0 + g.g1*x)) / $A ELSE 0.0 END AS ipsw,
         |    CASE WHEN trt = 1 THEN EXP(-(g.g0 + g.g1*x)) / $A ELSE wt END AS psw,
         |    CASE WHEN trt = 1 THEN $A * EXP(g.g0 + g.g1*x) ELSE 1.0/wt END AS pi,
         |    wps*(trt - 1/(1+EXP(-(g.g0 + g.g1*x)))) AS resid
         |  FROM com2 c, git6 g),
         |gd AS (SELECT u.*,
         |    (g.h11 * resid - g.h01 * resid * x) / (g.h00*g.h11 - g.h01*g.h01) AS gd0,
         |    (g.h00 * resid * x - g.h01 * resid) / (g.h00*g.h11 - g.h01*g.h01) AS gd1,
         |    CASE WHEN trt = 1 THEN -ipsw ELSE 0.0 END AS pg0,
         |    CASE WHEN trt = 1 THEN -ipsw * x ELSE 0.0 END AS pg1
         |  FROM units u, git6 g),
         |cbase AS (SELECT t, d, x, ipsw AS w FROM gd WHERE trt = 1),
         |cit0(b) AS (SELECT CAST(0.0 AS DOUBLE)),
         |$coxnr,
         |i3(i1) AS (SELECT SUM(wd*(s2/s0 - s1*s1/(s0*s0))) FROM csc4 WHERE wd > 0),
         |hg AS (SELECT t, SUM(w*EXP(p.b*x)) AS s0g, SUM(w*EXP(p.b*x)*x) AS s1g,
         |    SUM(w*d) AS wd,
         |    SUM(pg0*d) AS dn0g, SUM(pg1*d) AS dn1g,
         |    SUM(pg0*EXP(p.b*x)) AS dz0g, SUM(pg1*EXP(p.b*x)) AS dz1g
         |  FROM (SELECT t, d, x, ipsw AS w, pg0, pg1 FROM gd WHERE trt = 1) c,
         |    cit4 p GROUP BY t),
         |hsc AS (SELECT t, wd,
         |    SUM(s0g) OVER rw AS s0, SUM(s1g) OVER rw AS s1,
         |    SUM(dz0g) OVER rw AS dz0, SUM(dz1g) OVER rw AS dz1,
         |    dn0g, dn1g
         |  FROM hg WINDOW rw AS (ORDER BY t DESC
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
         |steps AS (SELECT t, s0, s1, wd,
         |    SUM(CASE WHEN wd > 0 THEN wd/s0 ELSE 0 END) OVER pw AS LAM,
         |    SUM(CASE WHEN wd > 0 THEN wd/(s0*s0) ELSE 0 END) OVER pw AS GL,
         |    SUM(CASE WHEN wd > 0 THEN wd*s1/(s0*s0) ELSE 0 END) OVER pw AS C,
         |    SUM(CASE WHEN wd > 0 THEN wd/s0 ELSE 0 END) OVER pw AS G0,
         |    SUM(CASE WHEN wd > 0 THEN (dn0g - wd*dz0/s0)/s0 ELSE 0 END) OVER pw AS CN0,
         |    SUM(CASE WHEN wd > 0 THEN (dn1g - wd*dz1/s0)/s0 ELSE 0 END) OVER pw AS CN1
         |  FROM hsc WINDOW pw AS (ORDER BY t ASC
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
         |dmat AS (SELECT
         |    SUM((u.d*(u.x - s.s1/s.s0) - EXP(p.b*u.x)*(u.x*s.G0 - s.C)) * u.pg0) AS d0,
         |    SUM((u.d*(u.x - s.s1/s.s0) - EXP(p.b*u.x)*(u.x*s.G0 - s.C)) * u.pg1) AS d1
         |  FROM (SELECT t, d, x, pg0, pg1 FROM gd WHERE trt = 1) u
         |  JOIN steps s ON u.t = s.t CROSS JOIN cit4 p),
         |dev AS (SELECT u.trt, u.pi, u.psw, u.gd0, u.gd1,
         |    u.t, u.d, CASE WHEN u.trt = 1 THEN EXP(p.b*u.x) ELSE 0 END AS rh,
         |    CASE WHEN u.trt = 1 THEN
         |      u.psw * (u.d*(u.x - s.s1/s.s0) - EXP(p.b*u.x)*(u.x*s.G0 - s.C)) / i.i1
         |      ELSE 0 END
         |      + (m.d0/i.i1) * u.gd0 + (m.d1/i.i1) * u.gd1 AS dbeta_m,
         |    s.s0 AS Z, s.GL AS GLu
         |  FROM gd u LEFT JOIN steps s ON u.t = s.t
         |  CROSS JOIN cit4 p CROSS JOIN i3 i CROSS JOIN dmat m),
         |probes(t_star) AS (SELECT CAST(x AS DOUBLE) FROM (VALUES (10), (20),
         |  (30), (40), (50)) v(x)),
         |tc AS (SELECT t_star,
         |    COALESCE((SELECT GL FROM steps WHERE t <= t_star
         |      ORDER BY t DESC LIMIT 1), 0) AS GLs,
         |    COALESCE((SELECT C FROM steps WHERE t <= t_star
         |      ORDER BY t DESC LIMIT 1), 0) AS Cs,
         |    COALESCE((SELECT LAM FROM steps WHERE t <= t_star
         |      ORDER BY t DESC LIMIT 1), 0) AS LAMs,
         |    COALESCE((SELECT CN0 FROM steps WHERE t <= t_star
         |      ORDER BY t DESC LIMIT 1), 0) AS CN0s,
         |    COALESCE((SELECT CN1 FROM steps WHERE t <= t_star
         |      ORDER BY t DESC LIMIT 1), 0) AS CN1s
         |  FROM probes),
         |longd AS (SELECT tc.t_star, tc.LAMs, d.pi,
         |    CASE WHEN d.trt = 1 THEN d.psw * (
         |        CASE WHEN d.d = 1 AND d.t <= tc.t_star THEN 1.0/d.Z ELSE 0 END
         |        - d.rh * LEAST(d.GLu, tc.GLs)) ELSE 0 END
         |      - d.dbeta_m * tc.Cs
         |      + d.gd0 * tc.CN0s + d.gd1 * tc.CN1s AS dl
         |  FROM dev d CROSS JOIN tc),
         |bvar AS (SELECT SUM((1.0 - pi) * dbeta_m * dbeta_m) AS vb,
         |    (SELECT b FROM cit4) AS beta FROM dev)
         |SELECT l.t_star, ROUND(MAX(l.LAMs), 8) AS cum_hzd,
         |  ROUND(SUM((1.0 - l.pi) * l.dl * l.dl), 8) AS var_lambda,
         |  ROUND(MAX(b.beta), 8) AS beta,
         |  ROUND(MAX(b.vb), 8) AS var_beta
         |FROM longd l CROSS JOIN bvar b
         |GROUP BY l.t_star ORDER BY l.t_star""".stripMargin
    }) { (s, d) =>
      import s.implicits._
      val li = t(s, d, "lineitem").filter(col("l_orderkey") % 3 === 0)
      def side(m: Int) = li.filter(col("l_suppkey") % 2 === m).select(
        col("l_quantity").cast("double").as("t"),
        when(col("l_returnflag") =!= "A", 1.0).otherwise(0.0).as("d"),
        (col("l_discount") * 10).cast("double").as("x"),
        (lit(1.0) + col("l_orderkey") % 5).cast("double").as("wt"))
      val inf = graft.pipeline.TaylorInference.ipswChain(
        side(0).drop("wt"), side(1), col("wt"), col("t"), col("d"),
        Seq("x"), Seq("x"), Seq(10.0, 20.0, 30.0, 40.0, 50.0),
        a = 0.3, psIters = 6, coxIters = 4,
        sizeHint = graft.core.Windows.SizeHint.Small)
      inf.lambda.toSeq.sortBy(_._1).map { case (ts, e) =>
        (ts, rnd(e.estimate, 8), rnd(e.varPoisson, 8),
          rnd(inf.beta(0), 8), rnd(inf.betaVarPoisson(0), 8))
      }.toDF("t_star", "cum_hzd", "var_lambda", "beta", "var_beta")
        .orderBy(col("t_star"))
    },

    // ---- M14×M2 integrated: all-replicates-at-once jackknifed Cox,
    //      3 pinned NR iterations per replicate, DuckDB replaying all
    //      10 replicates through grouped windows ----
    sqlChecked("m14_cox_jk",
      s"""WITH b0 AS ($survBaseSql),
         |r(rep) AS (SELECT CAST(range AS INT) FROM range(10)),
         |base AS (SELECT rep, t, d, x,
         |    CASE WHEN l_orderkey % 10 = rep THEN 0.0
         |         ELSE w * 10.0 / 9.0 END AS w
         |  FROM b0 CROSS JOIN r),
         |it0 AS (SELECT rep, CAST(0.0 AS DOUBLE) AS b FROM r),
         |""".stripMargin +
        (1 to 3).map { k =>
          s"""g$k AS (SELECT base.rep, t,
             |    SUM(w*EXP(p.b*x)) AS s0g, SUM(w*EXP(p.b*x)*x) AS s1g,
             |    SUM(w*EXP(p.b*x)*x*x) AS s2g,
             |    SUM(w*d) AS wd, SUM(w*d*x) AS ux, MAX(p.b) AS b
             |  FROM base JOIN it${k - 1} p ON base.rep = p.rep
             |  GROUP BY base.rep, t),
             |sc$k AS (SELECT rep, t, wd, ux, b,
             |    SUM(s0g) OVER rw AS s0, SUM(s1g) OVER rw AS s1,
             |    SUM(s2g) OVER rw AS s2
             |  FROM g$k WINDOW rw AS (PARTITION BY rep ORDER BY t DESC
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
             |it$k AS (SELECT rep, MAX(b)
             |    + SUM(ux - wd*s1/s0) / SUM(wd*(s2/s0 - s1*s1/(s0*s0))) AS b
             |  FROM sc$k WHERE wd > 0 GROUP BY rep),
             |""".stripMargin
        }.mkString +
        """est AS (SELECT rep, b AS beta FROM it3)
          |SELECT ROUND(9.0 / 10.0 *
          |    SUM((beta - t_bar) * (beta - t_bar)), 12) AS jk_var_beta
          |FROM est, (SELECT AVG(beta) AS t_bar FROM est)""".stripMargin) { (s, d) =>
      import s.implicits._
      val m = 10
      val base = t(s, d, "lineitem").filter(col("l_orderkey") % 3 === 0).select(
        col("l_orderkey"),
        col("l_quantity").cast("double").as("t"),
        when(col("l_returnflag") =!= "A", 1.0).otherwise(0.0).as("d"),
        (lit(1.0) + col("l_orderkey") % 5).cast("double").as("w"),
        (col("l_discount") * 10).cast("double").as("x"))
      val rep = Jackknife.replicated(base, (col("l_orderkey") % m).cast("int"),
        col("w"), m)
      val joint = graft.stats.CoxPHReplicated.fit(rep, col("jk_r"), col("t"),
        col("d"), col("jk_wt"), Seq(col("x")), m, maxIter = 3, tol = 0.0)
      val est = joint.betas.toSeq.map { case (r, b) => (r, b(0)) }.toDF("r", "beta")
      val v = Jackknife.variance(est, col("beta"), m).head().getDouble(0)
      Seq(rnd(v, 12)).toDF("jk_var_beta")
    },

    // ---- M14 recal.wt=T: the reference's DEFAULT jackknife branch
    //      (jk_fun.R:279,292-341) — the propensity model is re-fit
    //      INSIDE every delete-a-group replicate (4 pinned IRLS
    //      iterations per replicate, all replicates per pass via
    //      GLMReplicated), pseudo-weights ipsw = exp(−x'γ_r)/a are
    //      recomputed from each replicate's own γ_r, and the weighted
    //      Cox fit (3 pinned NR iterations, CoxPHReplicated) runs at
    //      those refit weights. DuckDB replays all 10 replicates through
    //      grouped IRLS + NR CTEs. Survey rows keep their weights in
    //      every replicate (the cohort-group loop drops cohort rows
    //      only, jk_fun.R:315-318). ----
    sqlChecked("m14_recal", {
      val A = 0.3
      val irls = (1 to 4).map { k =>
        s"""git$k AS (SELECT rep,
           |    g0 + (h11*s0 - h01*s1)/(h00*h11 - h01*h01) AS g0,
           |    g1 + (h00*s1 - h01*s0)/(h00*h11 - h01*h01) AS g1
           |  FROM (SELECT z.rep, MAX(z.g0) AS g0, MAX(z.g1) AS g1,
           |      SUM(z.w*z.mu*(1-z.mu)) AS h00,
           |      SUM(z.w*z.mu*(1-z.mu)*z.x) AS h01,
           |      SUM(z.w*z.mu*(1-z.mu)*z.x*z.x) AS h11,
           |      SUM(z.w*(z.trt-z.mu)) AS s0, SUM(z.w*(z.trt-z.mu)*z.x) AS s1
           |    FROM (SELECT e.rep, e.trt, e.x, e.w, p.g0, p.g1,
           |        1.0/(1.0+EXP(-(p.g0 + p.g1*e.x))) AS mu
           |      FROM ex e JOIN git${k - 1} p ON e.rep = p.rep) z
           |    GROUP BY z.rep) zz)""".stripMargin
      }.mkString(",\n")
      val coxnr = (1 to 3).map { k =>
        s"""cg$k AS (SELECT cbase.rep, t,
           |    SUM(w*EXP(p.b*x)) AS s0g, SUM(w*EXP(p.b*x)*x) AS s1g,
           |    SUM(w*EXP(p.b*x)*x*x) AS s2g,
           |    SUM(w*d) AS wd, SUM(w*d*x) AS ux, MAX(p.b) AS b
           |  FROM cbase JOIN cit${k - 1} p ON cbase.rep = p.rep
           |  GROUP BY cbase.rep, t),
           |csc$k AS (SELECT rep, t, wd, ux, b,
           |    SUM(s0g) OVER rw AS s0, SUM(s1g) OVER rw AS s1,
           |    SUM(s2g) OVER rw AS s2
           |  FROM cg$k WINDOW rw AS (PARTITION BY rep ORDER BY t DESC
           |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
           |cit$k AS (SELECT rep, MAX(b)
           |    + SUM(ux - wd*s1/s0) / SUM(wd*(s2/s0 - s1*s1/(s0*s0))) AS b
           |  FROM csc$k WHERE wd > 0 GROUP BY rep)""".stripMargin
      }.mkString(",\n")
      s"""WITH b0 AS (SELECT l_orderkey, l_quantity AS t,
         |    CASE WHEN l_returnflag <> 'A' THEN 1.0 ELSE 0.0 END AS d,
         |    l_discount * 10 AS x, 1.0 + (l_orderkey % 5) AS wt,
         |    CASE WHEN l_suppkey % 2 = 0 THEN 1.0 ELSE 0.0 END AS trt
         |  FROM lineitem WHERE l_orderkey % 3 = 0),
         |r(rep) AS (SELECT CAST(range AS INT) FROM range(10)),
         |ex AS MATERIALIZED (SELECT rep, trt, x, t, d,
         |    CASE WHEN trt = 1 THEN
         |      (CASE WHEN l_orderkey % 10 = rep THEN 0.0 ELSE 10.0/9.0 END)
         |    ELSE wt * $A END AS w
         |  FROM b0 CROSS JOIN r),
         |git0 AS (SELECT rep, CAST(0 AS DOUBLE) AS g0, CAST(0 AS DOUBLE) AS g1
         |  FROM r),
         |$irls,
         |cbase AS MATERIALIZED (SELECT e.rep, e.t, e.d, e.x,
         |    CASE WHEN e.w = 0 THEN 0.0
         |         ELSE EXP(-(p.g0 + p.g1*e.x))/$A END AS w
         |  FROM ex e JOIN git4 p ON e.rep = p.rep WHERE e.trt = 1),
         |cit0 AS (SELECT rep, CAST(0.0 AS DOUBLE) AS b FROM r),
         |$coxnr,
         |est AS (SELECT rep, b AS beta FROM cit3)
         |SELECT ROUND(AVG(beta), 10) AS beta_bar,
         |  ROUND(9.0 / 10.0 * SUM((beta - t_bar) * (beta - t_bar)), 12)
         |    AS jk_var_beta
         |FROM est, (SELECT AVG(beta) AS t_bar FROM est)""".stripMargin
    }) { (s, d) =>
      import s.implicits._
      val m = 10
      val A = 0.3
      val li = t(s, d, "lineitem").filter(col("l_orderkey") % 3 === 0).select(
        col("l_orderkey"),
        col("l_quantity").cast("double").as("t"),
        when(col("l_returnflag") =!= "A", 1.0).otherwise(0.0).as("d"),
        (col("l_discount") * 10).cast("double").as("x"),
        (lit(1.0) + col("l_orderkey") % 5).cast("double").as("wt"),
        when(col("l_suppkey") % 2 === 0, 1.0).otherwise(0.0).as("trt"))
      val cohortRep = Jackknife.replicated(li.filter(col("trt") === 1.0),
        (col("l_orderkey") % m).cast("int"), lit(1.0), m)
      val surveyRep = li.filter(col("trt") === 0.0)
        .withColumn("jk_r", explode(sequence(lit(0), lit(m - 1))))
        .withColumn("jk_wt", col("wt") * lit(A))
      val cols = Seq("jk_r", "jk_wt", "trt", "x", "t", "d").map(col)
      val ex = cohortRep.select(cols: _*).unionByName(surveyRep.select(cols: _*))
      val ps = graft.stats.GLMReplicated.logistic(ex, col("jk_r"),
        Seq(lit(1.0), col("x")), col("trt"), col("jk_wt"), m,
        maxIter = 4, tol = 0.0)
      val coxIn = cohortRep
        .withColumn("__q", ps.coef(col("jk_r"), 0) + ps.coef(col("jk_r"), 1) * col("x"))
        .withColumn("__cw",
          when(col("jk_wt") === 0.0, 0.0).otherwise(exp(-col("__q")) / lit(A)))
      val fit = graft.stats.CoxPHReplicated.fit(coxIn, col("jk_r"), col("t"),
        col("d"), col("__cw"), Seq(col("x")), m, maxIter = 3, tol = 0.0)
      val est = fit.betas.toSeq.map { case (r, b) => (r, b(0)) }.toDF("r", "beta")
      val v = Jackknife.variance(est, col("beta"), m).head().getDouble(0)
      val bbar = est.agg(avg(col("beta"))).head().getDouble(0)
      Seq((rnd(bbar, 10), rnd(v, 12))).toDF("beta_bar", "jk_var_beta")
    },

    // ---- M13 flagship twin: the COMPLETE composed KW (kernel-weight)
    //      inference chain (taylor_deviate.R:209-236, simu_fun.R:168-211)
    //      — 6 pinned IRLS iterations for γ, the full kernel matrix with
    //      row-normalization (simu_fun.R:186-189) and quotient-rule
    //      Jacobian ∂kw/∂γ (simu_fun.R:192-205), 4 pinned Cox NR
    //      iterations at the kernel weights, then the per-unit influence
    //      of β and Λ(t*) with the kernel γ-chain + β-chain and the
    //      Poisson contraction — every step replayed by DuckDB.
    //      ∂kw/∂γ₀ ≡ 0 (the intercept shifts every score equally, so
    //      kernel differences are invariant), kept as an explicit zero
    //      column to exercise the full q=2 chain shape. ----
    sqlChecked("m13_kw_chain", {
      val A = 0.3
      val H = 0.4
      val irls = (1 to 6).map { k =>
        s"""git$k AS MATERIALIZED (
           |  SELECT g0 + (h11*s0 - h01*s1)/(h00*h11 - h01*h01) AS g0,
           |         g1 + (h00*s1 - h01*s0)/(h00*h11 - h01*h01) AS g1,
           |         h00, h01, h11
           |  FROM (SELECT MAX(z.g0) AS g0, MAX(z.g1) AS g1,
           |      SUM(z.wps*z.mu*(1-z.mu)) AS h00,
           |      SUM(z.wps*z.mu*(1-z.mu)*z.x) AS h01,
           |      SUM(z.wps*z.mu*(1-z.mu)*z.x*z.x) AS h11,
           |      SUM(z.wps*(z.trt-z.mu)) AS s0, SUM(z.wps*(z.trt-z.mu)*z.x) AS s1
           |    FROM (SELECT c.trt, c.x, c.wps, p.g0, p.g1,
           |        1/(1+EXP(-(p.g0 + p.g1*c.x))) AS mu
           |      FROM com2 c, git${k - 1} p) z) zz)""".stripMargin
      }.mkString(",\n")
      val coxnr = (1 to 4).map { k =>
        s"""cg$k AS MATERIALIZED (SELECT t,
           |    SUM(w*EXP(p.b*x)) AS s0g, SUM(w*EXP(p.b*x)*x) AS s1g,
           |    SUM(w*EXP(p.b*x)*x*x) AS s2g,
           |    SUM(w*d) AS wd, SUM(w*d*x) AS ux, MAX(p.b) AS b
           |  FROM cbase, cit${k - 1} p GROUP BY t),
           |csc$k AS MATERIALIZED (SELECT t, wd, ux, b,
           |    SUM(s0g) OVER rw AS s0, SUM(s1g) OVER rw AS s1,
           |    SUM(s2g) OVER rw AS s2
           |  FROM cg$k WINDOW rw AS (ORDER BY t DESC
           |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
           |cit$k(b) AS (SELECT MAX(b)
           |    + SUM(ux - wd*s1/s0) / SUM(wd*(s2/s0 - s1*s1/(s0*s0)))
           |  FROM csc$k WHERE wd > 0)""".stripMargin
      }.mkString(",\n")
      s"""WITH com AS (
         |  SELECT l_orderkey * 10 + l_linenumber AS uid,
         |    l_quantity AS t,
         |    CASE WHEN l_returnflag <> 'A' THEN 1.0 ELSE 0.0 END AS d,
         |    l_discount * 10 AS x,
         |    CASE WHEN l_suppkey % 2 = 0 THEN 1.0 ELSE 0.0 END AS trt,
         |    1.0 + (l_orderkey % 5) AS wt
         |  FROM lineitem WHERE l_orderkey % 50 = 0),
         |com2 AS MATERIALIZED (SELECT uid, t, d, x, trt,
         |    CASE WHEN trt = 1 THEN 1.0 ELSE wt * $A END AS wps, wt
         |  FROM com),
         |git0 AS (SELECT CAST(0 AS DOUBLE) AS g0, CAST(0 AS DOUBLE) AS g1,
         |  CAST(0 AS DOUBLE) AS h00, CAST(0 AS DOUBLE) AS h01,
         |  CAST(0 AS DOUBLE) AS h11),
         |$irls,
         |scored AS MATERIALIZED (SELECT c.*, g.g0 + g.g1*x AS q FROM com2 c, git6 g),
         |svp AS (SELECT q, x, SUM(wt) AS wt FROM scored WHERE trt = 0
         |  GROUP BY q, x),
         |chp AS (SELECT q, x, CAST(COUNT(*) AS DOUBLE) AS cm
         |  FROM scored WHERE trt = 1 GROUP BY q, x),
         |prs AS (SELECT s.q AS qs, s.x AS xs, c.q AS qc, c.x AS xc,
         |    s.wt, c.cm,
         |    EXP(-((s.q - c.q)/$H)*((s.q - c.q)/$H)/2)/SQRT(2*PI()) AS k,
         |    (-((s.q - c.q)/$H))
         |      * EXP(-((s.q - c.q)/$H)*((s.q - c.q)/$H)/2)/SQRT(2*PI())
         |      * (s.x - c.x) / $H AS dk1
         |  FROM svp s CROSS JOIN chp c),
         |rsum AS MATERIALIZED (SELECT qs, xs,
         |    SUM(cm * k) AS row_k, SUM(cm * dk1) AS row_dk1
         |  FROM prs GROUP BY qs, xs),
         |kwj AS MATERIALIZED (SELECT qc, xc, SUM(p.wt * p.k / r.row_k) AS kw,
         |    SUM(p.wt * (p.dk1 * r.row_k - p.k * r.row_dk1)
         |        / (r.row_k * r.row_k)) AS dkw1
         |  FROM prs p JOIN rsum r ON p.qs = r.qs AND p.xs = r.xs
         |  WHERE r.row_k > 0 GROUP BY qc, xc),
         |units AS MATERIALIZED (SELECT s.uid, s.t, s.d, s.x, s.trt, s.wt, s.q,
         |    CASE WHEN s.trt = 1 THEN j.kw ELSE 0.0 END AS wtc,
         |    CASE WHEN s.trt = 1 THEN j.kw ELSE s.wt END AS psw,
         |    CASE WHEN s.trt = 1 THEN $A * EXP(s.q) ELSE 1.0/s.wt END AS pi,
         |    s.wps * (s.trt - 1/(1+EXP(-s.q))) AS resid,
         |    CASE WHEN s.trt = 1 THEN COALESCE(j.dkw1, 0.0) ELSE 0.0 END AS pg1,
         |    0.0 AS pg0
         |  FROM scored s LEFT JOIN kwj j ON s.q = j.qc AND s.x = j.xc),
         |gd AS MATERIALIZED (SELECT u.*,
         |    (g.h11 * resid - g.h01 * resid * x) / (g.h00*g.h11 - g.h01*g.h01) AS gd0,
         |    (g.h00 * resid * x - g.h01 * resid) / (g.h00*g.h11 - g.h01*g.h01) AS gd1
         |  FROM units u, git6 g),
         |cbase AS MATERIALIZED (SELECT t, d, x, wtc AS w FROM gd WHERE trt = 1),
         |cit0(b) AS (SELECT CAST(0.0 AS DOUBLE)),
         |$coxnr,
         |i3(i1) AS MATERIALIZED (SELECT SUM(wd*(s2/s0 - s1*s1/(s0*s0))) FROM csc4 WHERE wd > 0),
         |hg AS MATERIALIZED (SELECT t, SUM(w*EXP(p.b*x)) AS s0g, SUM(w*EXP(p.b*x)*x) AS s1g,
         |    SUM(w*d) AS wd,
         |    SUM(pg0*d) AS dn0g, SUM(pg1*d) AS dn1g,
         |    SUM(pg0*EXP(p.b*x)) AS dz0g, SUM(pg1*EXP(p.b*x)) AS dz1g
         |  FROM (SELECT t, d, x, wtc AS w, pg0, pg1 FROM gd WHERE trt = 1) c,
         |    cit4 p GROUP BY t),
         |hsc AS MATERIALIZED (SELECT t, wd,
         |    SUM(s0g) OVER rw AS s0, SUM(s1g) OVER rw AS s1,
         |    SUM(dz0g) OVER rw AS dz0, SUM(dz1g) OVER rw AS dz1,
         |    dn0g, dn1g
         |  FROM hg WINDOW rw AS (ORDER BY t DESC
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
         |steps AS MATERIALIZED (SELECT t, s0, s1, wd,
         |    SUM(CASE WHEN wd > 0 THEN wd/s0 ELSE 0 END) OVER pw AS LAM,
         |    SUM(CASE WHEN wd > 0 THEN wd/(s0*s0) ELSE 0 END) OVER pw AS GL,
         |    SUM(CASE WHEN wd > 0 THEN wd*s1/(s0*s0) ELSE 0 END) OVER pw AS C,
         |    SUM(CASE WHEN wd > 0 THEN wd/s0 ELSE 0 END) OVER pw AS G0,
         |    SUM(CASE WHEN wd > 0 THEN (dn0g - wd*dz0/s0)/s0 ELSE 0 END) OVER pw AS CN0,
         |    SUM(CASE WHEN wd > 0 THEN (dn1g - wd*dz1/s0)/s0 ELSE 0 END) OVER pw AS CN1
         |  FROM hsc WINDOW pw AS (ORDER BY t ASC
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
         |dmat AS MATERIALIZED (SELECT
         |    SUM((u.d*(u.x - s.s1/s.s0) - EXP(p.b*u.x)*(u.x*s.G0 - s.C)) * u.pg0) AS d0,
         |    SUM((u.d*(u.x - s.s1/s.s0) - EXP(p.b*u.x)*(u.x*s.G0 - s.C)) * u.pg1) AS d1
         |  FROM (SELECT t, d, x, pg0, pg1 FROM gd WHERE trt = 1) u
         |  JOIN steps s ON u.t = s.t CROSS JOIN cit4 p),
         |dev AS MATERIALIZED (SELECT u.trt, u.pi, u.psw, u.gd0, u.gd1,
         |    u.t, u.d, CASE WHEN u.trt = 1 THEN EXP(p.b*u.x) ELSE 0 END AS rh,
         |    CASE WHEN u.trt = 1 THEN
         |      u.psw * (u.d*(u.x - s.s1/s.s0) - EXP(p.b*u.x)*(u.x*s.G0 - s.C)) / i.i1
         |      ELSE 0 END
         |      + (m.d0/i.i1) * u.gd0 + (m.d1/i.i1) * u.gd1 AS dbeta_m,
         |    s.s0 AS Z, s.GL AS GLu
         |  FROM gd u LEFT JOIN steps s ON u.t = s.t
         |  CROSS JOIN cit4 p CROSS JOIN i3 i CROSS JOIN dmat m),
         |probes(t_star) AS (SELECT CAST(x AS DOUBLE) FROM (VALUES (10), (20),
         |  (30), (40), (50)) v(x)),
         |tc AS MATERIALIZED (SELECT t_star,
         |    COALESCE((SELECT GL FROM steps WHERE t <= t_star
         |      ORDER BY t DESC LIMIT 1), 0) AS GLs,
         |    COALESCE((SELECT C FROM steps WHERE t <= t_star
         |      ORDER BY t DESC LIMIT 1), 0) AS Cs,
         |    COALESCE((SELECT LAM FROM steps WHERE t <= t_star
         |      ORDER BY t DESC LIMIT 1), 0) AS LAMs,
         |    COALESCE((SELECT CN0 FROM steps WHERE t <= t_star
         |      ORDER BY t DESC LIMIT 1), 0) AS CN0s,
         |    COALESCE((SELECT CN1 FROM steps WHERE t <= t_star
         |      ORDER BY t DESC LIMIT 1), 0) AS CN1s
         |  FROM probes),
         |longd AS (SELECT tc.t_star, tc.LAMs, d.pi,
         |    CASE WHEN d.trt = 1 THEN d.psw * (
         |        CASE WHEN d.d = 1 AND d.t <= tc.t_star THEN 1.0/d.Z ELSE 0 END
         |        - d.rh * LEAST(d.GLu, tc.GLs)) ELSE 0 END
         |      - d.dbeta_m * tc.Cs
         |      + d.gd0 * tc.CN0s + d.gd1 * tc.CN1s AS dl
         |  FROM dev d CROSS JOIN tc),
         |bvar AS MATERIALIZED (SELECT SUM((1.0 - pi) * dbeta_m * dbeta_m) AS vb,
         |    (SELECT b FROM cit4) AS beta FROM dev)
         |SELECT l.t_star, ROUND(MAX(l.LAMs), 8) AS cum_hzd,
         |  ROUND(SUM((1.0 - l.pi) * l.dl * l.dl), 8) AS var_lambda,
         |  ROUND(MAX(b.beta), 8) AS beta,
         |  ROUND(MAX(b.vb), 8) AS var_beta
         |FROM longd l CROSS JOIN bvar b
         |GROUP BY l.t_star ORDER BY l.t_star""".stripMargin
    }) { (s, d) =>
      import s.implicits._
      val li = t(s, d, "lineitem").filter(col("l_orderkey") % 50 === 0)
      def side(m: Int) = li.filter(col("l_suppkey") % 2 === m).select(
        col("l_quantity").cast("double").as("t"),
        when(col("l_returnflag") =!= "A", 1.0).otherwise(0.0).as("d"),
        (col("l_discount") * 10).cast("double").as("x"),
        (lit(1.0) + col("l_orderkey") % 5).cast("double").as("wt"))
      val inf = graft.pipeline.TaylorInference.kwChain(
        side(0).drop("wt"), side(1), col("wt"),
        col("t"), col("d"),
        Seq("x"), Seq("x"), Seq(10.0, 20.0, 30.0, 40.0, 50.0),
        a = 0.3, bandwidth = Some(0.4), psIters = 6, coxIters = 4,
        sizeHint = graft.core.Windows.SizeHint.Small)
      inf.lambda.toSeq.sortBy(_._1).map { case (ts, e) =>
        (ts, rnd(e.estimate, 8), rnd(e.varPoisson, 8),
          rnd(inf.beta(0), 8), rnd(inf.betaVarPoisson(0), 8))
      }.toDF("t_star", "cum_hzd", "var_lambda", "beta", "var_beta")
        .orderBy(col("t_star"))
    },

    // ---- skew-salted equi-join: 5 ultra-hot keys over the whole
    //      lineitem table, salted 8 ways so no reducer owns a key's
    //      full mass; output must equal the plain join (the oracle IS
    //      the unsalted join). l_quantity is integer-valued and the
    //      factors are quarter steps, so the double sums are exact and
    //      order-free. ----
    sqlChecked("j_salted",
      """WITH dim AS (SELECT CAST(range AS BIGINT) AS k,
        |    1.0 + range * 0.25 AS f FROM range(5))
        |SELECT k, CAST(COUNT(*) AS BIGINT) AS n,
        |  ROUND(SUM(l_quantity * f), 4) AS wq
        |FROM lineitem JOIN dim ON l_suppkey % 5 = k
        |GROUP BY k ORDER BY k""".stripMargin) { (s, d) =>
      import s.implicits._
      val dim = (0 until 5).map(i => (i.toLong, 1.0 + i * 0.25)).toDF("k", "f")
      val big = t(s, d, "lineitem").withColumn("k", col("l_suppkey") % 5)
      graft.core.Salting.saltedJoin(big, dim, "k", salts = 8)
        .groupBy(col("k"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("l_quantity") * col("f")), 4).as("wq"))
        .orderBy(col("k"))
    },

  )
  // §3.1 Monte-Carlo driver (pipeline.Simulation) is exercised by
  // SimulationSpec rather than declared as a query: its ~40 NR/IRLS
  // iterations would dominate the benchmark without adding oracle value.
}
