package graft.relational

import graft.core.{AsOf, Tables, Windows}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** The general relational operator surface (SURVEY.md §2.1-§2.7 +
  * extended ops), every query DuckDB-oracle-checked on the driver test
  * tables. Spark side is the declarative DataFrame API throughout —
  * filters/projections reach the parquet scan (PushedFilters/ReadSchema),
  * joins pick broadcast for dimension tables, aggregations run
  * partial+final — nothing below hand-schedules what Catalyst does.
  */
object RelationalQueries {
  import QueryDef._

  private def t(s: SparkSession, d: String, n: String) = Tables(s, d, n)

  val all: Seq[QueryDef] = Seq(

    // ---- S1: scan with projection + predicate pushdown ----
    sqlChecked("s1_scan",
      """SELECT l_orderkey, l_linenumber, l_quantity
        |FROM lineitem WHERE l_quantity < 10
        |ORDER BY l_orderkey, l_linenumber""".stripMargin) { (s, d) =>
      t(s, d, "lineitem")
        .filter(col("l_quantity") < 10)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    },

    // ---- P1: subset filter ----
    sqlChecked("p1_filter",
      """SELECT o_orderkey, o_totalprice FROM orders
        |WHERE o_orderstatus = 'O' AND o_totalprice > 200000
        |ORDER BY o_orderkey""".stripMargin) { (s, d) =>
      t(s, d, "orders")
        .filter(col("o_orderstatus") === "O" && col("o_totalprice") > 200000)
        .select(col("o_orderkey"), col("o_totalprice"))
        .orderBy(col("o_orderkey"))
    },

    // ---- P2: column projection ----
    sqlChecked("p2_project",
      """SELECT c_custkey, c_mktsegment FROM customer
        |ORDER BY c_custkey""".stripMargin) { (s, d) =>
      t(s, d, "customer").select(col("c_custkey"), col("c_mktsegment"))
        .orderBy(col("c_custkey"))
    },

    // ---- P3: derived column ----
    sqlChecked("p3_derived",
      """SELECT l_orderkey, l_linenumber,
        |  ROUND(l_extendedprice * (1 - l_discount) * (1 + l_tax), 6) AS gross
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin) { (s, d) =>
      t(s, d, "lineitem").select(col("l_orderkey"), col("l_linenumber"),
          round(col("l_extendedprice") * (lit(1) - col("l_discount")) *
            (lit(1) + col("l_tax")), 6).as("gross"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    },

    // ---- P4: conditional update / clipping (jk_fun.R:54) ----
    sqlChecked("p4_clip",
      """SELECT c_custkey,
        |  ROUND(CASE WHEN c_acctbal < 0 THEN 0.00001 ELSE c_acctbal END, 5) AS bal_clip,
        |  ROUND(GREATEST(c_acctbal, 0.0), 2) AS bal_floor
        |FROM customer ORDER BY c_custkey""".stripMargin) { (s, d) =>
      t(s, d, "customer").select(col("c_custkey"),
          round(when(col("c_acctbal") < 0, 0.00001).otherwise(col("c_acctbal")), 5)
            .as("bal_clip"),
          round(greatest(col("c_acctbal"), lit(0.0)), 2).as("bal_floor"))
        .orderBy(col("c_custkey"))
    },

    // ---- P5: quantile discretization (cut at probs .3/.6, simu_fun.R:217) ----
    sqlChecked("p5_bin",
      """WITH q AS (SELECT quantile_cont(c_acctbal, 0.3) AS q30,
        |                  quantile_cont(c_acctbal, 0.6) AS q60 FROM customer)
        |SELECT c_custkey,
        |  CASE WHEN c_acctbal <= q30 THEN 1 WHEN c_acctbal <= q60 THEN 2 ELSE 3 END AS bin
        |FROM customer, q ORDER BY c_custkey""".stripMargin) { (s, d) =>
      val c = t(s, d, "customer")
      val qs = graft.stats.WeightedQuantile.interpolatedQuantilesGlobal(
        c, col("c_acctbal"), lit(1L), Seq(0.3, 0.6))
      val (q30, q60) = (qs(0), qs(1))
      c.select(col("c_custkey"),
          when(col("c_acctbal") <= q30, 1)
            .when(col("c_acctbal") <= q60, 2).otherwise(3).as("bin"))
        .orderBy(col("c_custkey"))
    },

    // ---- P6: composite cell code (simu_fun.R:218) ----
    sqlChecked("p6_cellcode",
      """SELECT c_nationkey * 100 + (c_custkey % 10) AS cell, COUNT(*) AS n
        |FROM customer GROUP BY 1 ORDER BY cell""".stripMargin) { (s, d) =>
      t(s, d, "customer")
        .groupBy((col("c_nationkey") * 100 + col("c_custkey") % 10).as("cell"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("cell"))
    },

    // ---- P7: deterministic row-id assignment ----
    sqlChecked("p7_rowid",
      """SELECT n_name, ROW_NUMBER() OVER (ORDER BY n_name) AS rid
        |FROM nation ORDER BY rid""".stripMargin) { (s, d) =>
      // nation is a fixed 25-row dimension table: the global
      // row_number window is bounded by the schema, not the data
      t(s, d, "nation")
        .select(col("n_name"),
          row_number().over(Window.orderBy(col("n_name"))).as("rid"))
        .orderBy(col("rid"))
    },

    // ---- P8: one-hot indicators (taylor_deviate.R:967) ----
    sqlChecked("p8_onehot",
      """SELECT c_nationkey,
        |  CAST(SUM(CASE WHEN c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END) AS BIGINT) AS seg_building,
        |  CAST(SUM(CASE WHEN c_mktsegment = 'AUTOMOBILE' THEN 1 ELSE 0 END) AS BIGINT) AS seg_auto,
        |  CAST(SUM(CASE WHEN c_mktsegment NOT IN ('BUILDING','AUTOMOBILE') THEN 1 ELSE 0 END) AS BIGINT) AS seg_other
        |FROM customer GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin) { (s, d) =>
      t(s, d, "customer").groupBy(col("c_nationkey"))
        .agg(
          sum(when(col("c_mktsegment") === "BUILDING", 1).otherwise(0)).as("seg_building"),
          sum(when(col("c_mktsegment") === "AUTOMOBILE", 1).otherwise(0)).as("seg_auto"),
          sum(when(!col("c_mktsegment").isin("BUILDING", "AUTOMOBILE"), 1).otherwise(0))
            .as("seg_other"))
        .orderBy(col("c_nationkey"))
    },

    // ---- P9: design-matrix-as-array + fixed-coefficient dot product ----
    sqlChecked("p9_design",
      // the square is parenthesized so both engines associate the
      // product identically (coef * (bal*bal), matching FeatureArray's
      // interaction feature) — unparenthesized, (1e-7*bal)*bal drifts
      // an ulp and flipped round-6 boundaries on the sf1 probe
      """SELECT c_custkey,
        |  ROUND(0.5 + 0.001 * c_acctbal - 0.0000001 * (c_acctbal * c_acctbal), 6) AS eta
        |FROM customer ORDER BY c_custkey""".stripMargin) { (s, d) =>
      val feats = graft.core.FeatureArray.withInteractions(
        Seq(col("c_acctbal")), Seq((0, 0)))  // [1, bal, bal²]
      t(s, d, "customer").select(col("c_custkey"),
          round(graft.core.FeatureArray.dot(feats, Array(0.5, 0.001, -0.0000001)), 6)
            .as("eta"))
        .orderBy(col("c_custkey"))
    },

    // ---- J1: vertical stack with source flag (simu_fun.R:22) ----
    sqlChecked("j1_union",
      """SELECT id, trt, ROUND(bal, 2) AS bal FROM (
        |  SELECT c_custkey AS id, 1 AS trt, c_acctbal AS bal FROM customer
        |  UNION ALL
        |  SELECT s_suppkey + 1000000 AS id, 0 AS trt, s_acctbal AS bal FROM supplier)
        |ORDER BY id, trt""".stripMargin) { (s, d) =>
      val c = t(s, d, "customer").select(col("c_custkey").as("id"),
        lit(1).as("trt"), col("c_acctbal").as("bal"))
      val su = t(s, d, "supplier").select((col("s_suppkey") + 1000000).as("id"),
        lit(0).as("trt"), col("s_acctbal").as("bal"))
      c.unionByName(su).select(col("id"), col("trt"), round(col("bal"), 2).as("bal"))
        .orderBy(col("id"), col("trt"))
    },

    // ---- multiway dimension join (broadcast), TPC-H Q5 shape ----
    sqlChecked("j_multiway",
      """SELECT n_name, ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name IN ('ASIA','EUROPE')
        |GROUP BY n_name ORDER BY n_name""".stripMargin) { (s, d) =>
      t(s, d, "lineitem")
        .join(t(s, d, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(t(s, d, "customer"), col("o_custkey") === col("c_custkey"))
        .join(broadcast(t(s, d, "nation")), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(t(s, d, "region")), col("n_regionkey") === col("r_regionkey"))
        .filter(col("r_name").isin("ASIA", "EUROPE"))
        .groupBy(col("n_name"))
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
          .as("revenue"))
        .orderBy(col("n_name"))
    },

    // ---- J2: kernel cross join (simu_fun.R:52) ----
    sqlChecked("j2_kernel_cross",
      // round to 4: the 150k-term kernel sums accumulate in different
      // orders per engine (~1e-9 associativity drift, growing with
      // scale) — a round-6 boundary flipped on the sf1 probe. The
      // supplier (survey) side is capped at 1000 like a7_kernel_norm:
      // fixed survey sample, cohort-linear cost (no-op at ≤ sf0.1).
      """SELECT s_suppkey,
        |  ROUND(SUM(EXP(-POW((s_acctbal - c_acctbal) / 1000.0, 2) / 2)
        |            / SQRT(2 * PI())), 4) AS ksum
        |FROM supplier CROSS JOIN customer
        |WHERE s_suppkey < 1000
        |GROUP BY s_suppkey ORDER BY s_suppkey""".stripMargin) { (s, d) =>
      val u = (col("s_acctbal") - col("c_acctbal")) / 1000.0
      // stream the cohort (the growing side), broadcast the 1000-row
      // survey sample — the pair stream then parallelizes by cohort
      // partitions, not by the survey filter's single partition
      val c0 = t(s, d, "customer").select(col("c_acctbal"))
      val para = s.sparkContext.defaultParallelism
      val c = if (c0.rdd.getNumPartitions < para) c0.repartition(para) else c0
      c.crossJoin(broadcast(t(s, d, "supplier")
          .filter(col("s_suppkey") < 1000)
          .select(col("s_suppkey"), col("s_acctbal"))))
        .groupBy(col("s_suppkey"))
        .agg(round(sum(graft.stats.Kernels.gaussian(u)), 4).as("ksum"))
        .orderBy(col("s_suppkey"))
    },

    // ---- J3: group-key lookup join (taylor_deviate.R:969) ----
    sqlChecked("j3_group_lookup",
      """WITH tot AS (SELECT c_nationkey AS nk, SUM(c_acctbal) AS nat_bal,
        |             COUNT(*) AS nat_n FROM customer GROUP BY 1)
        |SELECT c_custkey, ROUND(c_acctbal / NULLIF(nat_bal, 0), 8) AS bal_share
        |FROM customer JOIN tot ON c_nationkey = nk
        |ORDER BY c_custkey""".stripMargin) { (s, d) =>
      val c = t(s, d, "customer")
      val tot = c.groupBy(col("c_nationkey").as("nk"))
        .agg(sum(col("c_acctbal")).as("nat_bal"), count(lit(1)).as("nat_n"))
      c.join(broadcast(tot), col("c_nationkey") === col("nk"))
        .select(col("c_custkey"),
          round(col("c_acctbal") / when(col("nat_bal") === 0, null)
            .otherwise(col("nat_bal")), 8).as("bal_share"))
        .orderBy(col("c_custkey"))
    },

    // ---- J4: full outer join by time + LOCF (taylor_deviate.R:908-912) ----
    sqlChecked("j4_fullouter_locf",
      """WITH o AS (SELECT date_trunc('month', o_orderdate) AS m,
        |             ROUND(SUM(o_totalprice), 2) AS ord_tot
        |           FROM orders GROUP BY 1),
        |     l AS (SELECT date_trunc('month', l_shipdate) AS m,
        |             ROUND(SUM(l_quantity), 2) AS ship_qty
        |           FROM lineitem GROUP BY 1),
        |     j AS (SELECT COALESCE(o.m, l.m) AS m, ord_tot, ship_qty
        |           FROM o FULL OUTER JOIN l ON o.m = l.m)
        |SELECT CAST(epoch(m) AS BIGINT) AS mth,
        |  COALESCE(last_value(ord_tot IGNORE NULLS) OVER w, 0.0) AS ord_tot,
        |  COALESCE(last_value(ship_qty IGNORE NULLS) OVER w, 0.0) AS ship_qty
        |FROM j
        |WINDOW w AS (ORDER BY m ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |ORDER BY mth""".stripMargin) { (s, d) =>
      val o = t(s, d, "orders")
        .groupBy(date_trunc("month", col("o_orderdate")).as("m"))
        .agg(round(sum(col("o_totalprice")), 2).as("ord_tot"))
      val l = t(s, d, "lineitem")
        .groupBy(date_trunc("month", col("l_shipdate")).as("m"))
        .agg(round(sum(col("l_quantity")), 2).as("ship_qty"))
      val j = o.join(l, Seq("m"), "full_outer")
      AsOf.locfPartitioned(j, col("m"), Seq("ord_tot", "ship_qty"))
        .select(unix_timestamp(col("m")).as("mth"),
          coalesce(col("ord_tot"), lit(0.0)).as("ord_tot"),
          coalesce(col("ship_qty"), lit(0.0)).as("ship_qty"))
        .orderBy(col("mth"))
    },

    // ---- J5: as-of (step-function) lookup (taylor_deviate.R:914-916) ----
    sqlChecked("j5_asof",
      """WITH daily AS (
        |  SELECT o_orderdate AS dt, SUM(o_totalprice) AS day_tot FROM orders GROUP BY 1),
        |cum AS (
        |  SELECT dt, SUM(day_tot) OVER (ORDER BY dt
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tot FROM daily),
        |probes(t_star) AS (VALUES (DATE '1995-06-30'), (DATE '1996-12-31'),
        |                          (DATE '1998-06-30'), (DATE '2000-12-31'))
        |SELECT CAST(epoch(t_star) AS BIGINT) AS t_star,
        |  ROUND(COALESCE((SELECT cum_tot FROM cum WHERE dt <= t_star
        |                  ORDER BY dt DESC LIMIT 1), 0.0), 2) AS value
        |FROM probes ORDER BY t_star""".stripMargin) { (s, d) =>
      val daily = t(s, d, "orders")
        .groupBy(col("o_orderdate").as("dt"))
        .agg(sum(col("o_totalprice")).as("day_tot"))
      val cum = Windows.cumSum(daily, col("dt"), col("day_tot"), "cum_tot")
        .withColumn("dtl", unix_timestamp(col("dt")))
      val probes = Seq("1995-06-30", "1996-12-31", "1998-06-30", "2000-12-31")
        .map(x => java.time.LocalDate.parse(x).toEpochDay * 86400.0)
      AsOf.lookup(cum, col("dtl"), col("cum_tot"), probes)
        .select(col("t_star").cast("long").as("t_star"),
          round(col("value"), 2).as("value"))
        .orderBy(col("t_star"))
    },

    // ---- J6: keyed tie-propagation join (taylor_deviate.R:622-624) ----
    sqlChecked("j6_tie_join",
      """WITH per_t AS (SELECT l_quantity AS q, SUM(l_extendedprice) AS t_tot,
        |               COUNT(*) AS t_n FROM lineitem GROUP BY 1)
        |SELECT l_orderkey, l_linenumber, ROUND(t_tot, 2) AS t_tot, t_n
        |FROM lineitem JOIN per_t ON l_quantity = q
        |ORDER BY l_orderkey, l_linenumber, t_n""".stripMargin) { (s, d) =>
      val li = t(s, d, "lineitem")
      val perT = li.groupBy(col("l_quantity").as("q"))
        .agg(sum(col("l_extendedprice")).as("t_tot"), count(lit(1)).as("t_n"))
      li.join(broadcast(perT), col("l_quantity") === col("q"))
        .select(col("l_orderkey"), col("l_linenumber"),
          round(col("t_tot"), 2).as("t_tot"), col("t_n"))
        // t_n tiebreak: the synthetic lineitem has duplicate
        // (orderkey, linenumber) keys, so without it the sort is not
        // total and an order-sensitive compare could flap
        .orderBy(col("l_orderkey"), col("l_linenumber"), col("t_n"))
    },

    // ---- J7: semi / anti join subsetting (simu_fun.R:409) ----
    sqlChecked("j7_semi_anti",
      """SELECT 'with_orders' AS kind, COUNT(*) AS n FROM customer
        |WHERE c_custkey IN (SELECT o_custkey FROM orders)
        |UNION ALL
        |SELECT 'without_orders' AS kind, COUNT(*) AS n FROM customer
        |WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
        |ORDER BY kind""".stripMargin) { (s, d) =>
      val c = t(s, d, "customer")
      val o = t(s, d, "orders").select(col("o_custkey"))
      val semi = c.join(o, col("c_custkey") === col("o_custkey"), "left_semi")
        .agg(count(lit(1)).as("n")).select(lit("with_orders").as("kind"), col("n"))
      val anti = c.join(o, col("c_custkey") === col("o_custkey"), "left_anti")
        .agg(count(lit(1)).as("n")).select(lit("without_orders").as("kind"), col("n"))
      semi.unionByName(anti).orderBy(col("kind"))
    },

    // ---- A1/A2/A6: grouped aggregates (the flagship q1 shape) ----
    // Exact-arithmetic formulation: quantities are integral doubles and
    // prices/discounts carry 2 decimal digits, so summing over BIGINT /
    // DECIMAL makes every aggregate independent of partition summation
    // order (bit-identical across engines; plain double SUM/AVG is not).
    sqlChecked("q1_agg",
      """SELECT l_returnflag, l_linestatus,
        |  ROUND(CAST(SUM(CAST(l_quantity AS BIGINT)) AS DOUBLE), 2) AS sum_qty,
        |  ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_base,
        |  ROUND(CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE), 2) AS sum_disc,
        |  ROUND(CAST(SUM(CAST(l_quantity AS BIGINT)) AS DOUBLE) / COUNT(*), 6) AS avg_qty,
        |  COUNT(*) AS n,
        |  CAST(SUM(CASE WHEN l_quantity > 25 THEN 1 ELSE 0 END) AS BIGINT) AS n_big
        |FROM lineitem GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin) { (s, d) =>
      t(s, d, "lineitem").groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          round(sum(col("l_quantity").cast("bigint")).cast("double"), 2).as("sum_qty"),
          round(sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double"), 2)
            .as("sum_base"),
          round(sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
            .cast("decimal(18,4)")).cast("double"), 2).as("sum_disc"),
          round(sum(col("l_quantity").cast("bigint")).cast("double") / count(lit(1)), 6)
            .as("avg_qty"),
          count(lit(1)).as("n"),
          sum(when(col("l_quantity") > 25, 1).otherwise(0)).as("n_big"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    },

    // ---- A3: weighted total / weighted mean (svytotal/svymean) ----
    sqlChecked("a3_weighted_mean",
      """SELECT ROUND(SUM(l_quantity * l_discount), 4) AS w_total,
        |  ROUND(SUM(l_quantity * l_discount) / SUM(l_quantity), 8) AS w_mean
        |FROM lineitem""".stripMargin) { (s, d) =>
      t(s, d, "lineitem").agg(
        round(sum(col("l_quantity") * col("l_discount")), 4).as("w_total"),
        round(sum(col("l_quantity") * col("l_discount")) / sum(col("l_quantity")), 8)
          .as("w_mean"))
    },

    // ---- A4: Gram matrix X'WX via the flat-column Gram builder ----
    sqlChecked("a4_gram",
      """SELECT
        |  ROUND(SUM(w), 6) AS g00,
        |  ROUND(SUM(w * x), 6) AS g01,
        |  ROUND(SUM(w * x * x), 6) AS g11,
        |  ROUND(SUM(w * y), 6) AS xy0,
        |  ROUND(SUM(w * x * y), 6) AS xy1
        |FROM (SELECT c_acctbal / 1000.0 AS x, (c_custkey % 3) + 1.0 AS w,
        |             CASE WHEN c_mktsegment = 'BUILDING' THEN 1.0 ELSE 0.0 END AS y
        |      FROM customer)""".stripMargin) { (s, d) =>
      import s.implicits._
      val base = t(s, d, "customer").select(
        graft.core.FeatureArray.withIntercept(Seq(col("c_acctbal") / 1000.0)).as("x"),
        when(col("c_mktsegment") === "BUILDING", 1.0).otherwise(0.0).as("y"),
        (col("c_custkey") % 3 + 1.0).cast("double").as("w"))
      val sums = graft.core.Gram.columns(
        (0 until 2).map(i => col("x").getItem(i).cast("double")), col("w"), Some(col("y")))
      val Array(g00, g01, g11, xy0, xy1) =
        graft.core.Gram.read(base.agg(sums.head, sums.tail: _*).head(), 0, 5)
      Seq((rnd(g00), rnd(g01), rnd(g11), rnd(xy0), rnd(xy1)))
        .toDF("g00", "g01", "g11", "xy0", "xy1")
    },

    // ---- A5: covariance / variance blocks per stratum ----
    sqlChecked("a5_cov",
      """SELECT c_mktsegment,
        |  ROUND(covar_samp(c_acctbal, c_custkey % 100), 6) AS cov_bk,
        |  ROUND(var_samp(c_acctbal), 4) AS var_bal,
        |  COUNT(*) AS n
        |FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin) { (s, d) =>
      t(s, d, "customer").groupBy(col("c_mktsegment"))
        .agg(
          round(covar_samp(col("c_acctbal"), (col("c_custkey") % 100).cast("double")), 6)
            .as("cov_bk"),
          round(var_samp(col("c_acctbal")), 4).as("var_bal"),
          count(lit(1)).as("n"))
        .orderBy(col("c_mktsegment"))
    },

    // ---- A7: kernel row-normalization + column sum (simu_fun.R:173-189).
    //      The survey side is CAPPED at the first 1000 suppliers: a
    //      probability survey sample has FIXED size while the cohort
    //      grows with the data (the reference's own setting), and the
    //      dense Gaussian pair stream is O(n_s · n_c) — letting both
    //      sides scale made this the one super-linear query in the sf1
    //      probe (94× on 10× data). At sf0.1 and below the cap covers
    //      the whole supplier table, so driver-gate results are
    //      unchanged; above it the query scales linearly in the
    //      cohort. ----
    sqlChecked("a7_kernel_norm",
      """WITH s AS (SELECT s_suppkey AS s_id, s_acctbal / 1000.0 AS q_s,
        |             (s_suppkey % 5) + 1.0 AS wt_s FROM supplier
        |           WHERE s_suppkey < 1000),
        |     c AS (SELECT c_custkey AS c_id, c_acctbal / 1000.0 AS q_c FROM customer),
        |     k AS (SELECT s_id, wt_s, c_id,
        |             EXP(-POW(q_s - q_c, 2) / 2) / SQRT(2 * PI()) AS k
        |           FROM s CROSS JOIN c),
        |     rs AS (SELECT s_id, SUM(k) AS row_k FROM k GROUP BY 1)
        |SELECT c_id, ROUND(SUM(wt_s * k.k / row_k), 8) AS kw
        |FROM k JOIN rs USING (s_id) WHERE row_k > 0
        |GROUP BY c_id ORDER BY c_id""".stripMargin) { (s, d) =>
      graft.weights.KernelWeights.compute(
          t(s, d, "supplier").filter(col("s_suppkey") < 1000),
          col("s_acctbal") / 1000.0,
          (col("s_suppkey") % 5 + 1.0).cast("double"),
          t(s, d, "customer"), col("c_custkey"), col("c_acctbal") / 1000.0,
          h = 1.0, kernel = graft.stats.Kernels.gaussian)
        .select(col("c_id"), round(col("kw"), 8).as("kw"))
        .orderBy(col("c_id"))
    },

    // ---- A9: stratified variance of totals ----
    sqlChecked("a9_var_total",
      """SELECT l_returnflag,
        |  ROUND(COUNT(*) * var_samp(l_extendedprice * (1 - l_discount)), -6) AS v_pps
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) { (s, d) =>
      t(s, d, "lineitem").groupBy(col("l_returnflag"))
        // v_pps is O(1e15) at sf1 — a positive-scale quantum sits below
        // the double's own ulp (0.25 there), so round to the nearest 1e6
        .agg(round(count(lit(1)) *
          var_samp(col("l_extendedprice") * (lit(1) - col("l_discount"))), -6).as("v_pps"))
        .orderBy(col("l_returnflag"))
    },

    // ---- O1 + top-k: TakeOrderedAndProject ----
    sqlChecked("o1_topk",
      """SELECT o_orderkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 25""".stripMargin) { (s, d) =>
      t(s, d, "orders").select(col("o_orderkey"), col("o_totalprice"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(25)
    },

    // ---- O3: suffix (reverse) cumulative sum — risk-set totals ----
    sqlChecked("o3_suffix_cumsum",
      """WITH g AS (SELECT l_quantity AS q, SUM(l_extendedprice) AS v
        |           FROM lineitem GROUP BY 1)
        |SELECT q, ROUND(SUM(v) OVER (ORDER BY q DESC
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS risk_tot
        |FROM g ORDER BY q""".stripMargin) { (s, d) =>
      val g = t(s, d, "lineitem").groupBy(col("l_quantity").as("q"))
        .agg(sum(col("l_extendedprice")).as("v"))
      Windows.suffixSum(g, col("q"), Seq(col("v") -> "risk_tot"))
        .select(col("q"), round(col("risk_tot"), 2).as("risk_tot"))
        .orderBy(col("q"))
    },

    // ---- O4: prefix cumulative sum ----
    sqlChecked("o4_prefix_cumsum",
      """WITH g AS (SELECT date_trunc('month', o_orderdate) AS m, SUM(o_totalprice) AS v
        |           FROM orders GROUP BY 1)
        |SELECT CAST(epoch(m) AS BIGINT) AS mth, ROUND(SUM(v) OVER (ORDER BY m
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS cum_tot
        |FROM g ORDER BY mth""".stripMargin) { (s, d) =>
      val g = t(s, d, "orders")
        .groupBy(date_trunc("month", col("o_orderdate")).as("m"))
        .agg(sum(col("o_totalprice")).as("v"))
      Windows.cumSum(g, col("m"), col("v"), "cum_tot")
        .select(unix_timestamp(col("m")).as("mth"),
          round(col("cum_tot"), 2).as("cum_tot"))
        .orderBy(col("mth"))
    },

    // ---- O5: dedup to first per key after sort ----
    sqlChecked("o5_dedup_first",
      """SELECT o_custkey, o_orderkey AS first_order,
        |       CAST(epoch(o_orderdate) AS BIGINT) AS first_date
        |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY o_custkey
        |        ORDER BY o_orderdate, o_orderkey) AS rn FROM orders)
        |WHERE rn = 1 ORDER BY o_custkey""".stripMargin) { (s, d) =>
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      t(s, d, "orders").withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("o_custkey"), col("o_orderkey").as("first_order"),
          unix_timestamp(col("o_orderdate")).as("first_date"))
        .orderBy(col("o_custkey"))
    },

    // ---- O6: exact quantiles + bandwidth inputs (bw.nrd0, O6) ----
    sqlChecked("o6_quantile",
      """SELECT ROUND(quantile_cont(l_quantity, 0.25), 6) AS q25,
        |  ROUND(quantile_cont(l_quantity, 0.50), 6) AS q50,
        |  ROUND(quantile_cont(l_quantity, 0.75), 6) AS q75,
        |  ROUND(stddev_samp(l_quantity), 6) AS sd
        |FROM lineitem""".stripMargin) { (s, d) =>
      t(s, d, "lineitem").agg(
        round(expr("percentile(l_quantity, 0.25)"), 6).as("q25"),
        round(expr("percentile(l_quantity, 0.50)"), 6).as("q50"),
        round(expr("percentile(l_quantity, 0.75)"), 6).as("q75"),
        round(stddev_samp(col("l_quantity")), 6).as("sd"))
    },

    // ---- set ops ----
    sqlChecked("set_intersect",
      """SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
        |INTERSECT
        |SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
        |ORDER BY o_custkey""".stripMargin) { (s, d) =>
      val o = t(s, d, "orders")
      o.filter(col("o_orderstatus") === "O").select(col("o_custkey"))
        .intersect(o.filter(col("o_orderstatus") === "F").select(col("o_custkey")))
        .orderBy(col("o_custkey"))
    },

    sqlChecked("set_except",
      """SELECT c_custkey FROM customer
        |EXCEPT SELECT o_custkey FROM orders
        |ORDER BY c_custkey""".stripMargin) { (s, d) =>
      t(s, d, "customer").select(col("c_custkey"))
        .except(t(s, d, "orders").select(col("o_custkey")))
        .orderBy(col("c_custkey"))
    },

    // ---- rollup / grouping sets ----
    sqlChecked("agg_rollup",
      """SELECT COALESCE(l_returnflag, 'ALL') AS l_returnflag,
        |  COALESCE(l_linestatus, 'ALL') AS l_linestatus,
        |  ROUND(SUM(l_quantity), 2) AS sum_qty
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY l_returnflag, l_linestatus""".stripMargin) { (s, d) =>
      t(s, d, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(round(sum(col("l_quantity")), 2).as("sum_qty"))
        .select(coalesce(col("l_returnflag"), lit("ALL")).as("l_returnflag"),
          coalesce(col("l_linestatus"), lit("ALL")).as("l_linestatus"), col("sum_qty"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    },

    // ---- window ranking per partition ----
    sqlChecked("w_rank",
      """SELECT o_custkey, o_orderkey, rnk FROM (
        |  SELECT o_custkey, o_orderkey, RANK() OVER (PARTITION BY o_custkey
        |    ORDER BY o_totalprice DESC, o_orderkey) AS rnk FROM orders)
        |WHERE rnk <= 2 ORDER BY o_custkey, rnk, o_orderkey""".stripMargin) { (s, d) =>
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      t(s, d, "orders").withColumn("rnk", rank().over(w))
        .filter(col("rnk") <= 2)
        .select(col("o_custkey"), col("o_orderkey"), col("rnk"))
        .orderBy(col("o_custkey"), col("rnk"), col("o_orderkey"))
    },

    // ---- window moving frame ----
    // NOTE: (l_orderkey, l_linenumber) is NOT unique in the generated
    // lineitem at larger scale factors; the frame order must be TOTAL or
    // the engines may tiebreak differently. Full rows are unique, so
    // ordering by every remaining column pins it.
    sqlChecked("w_moving_avg",
      """SELECT l_suppkey, l_orderkey, l_linenumber,
        |  ROUND(AVG(l_quantity) OVER (PARTITION BY l_suppkey
        |    ORDER BY l_shipdate, l_orderkey, l_linenumber, l_quantity,
        |      l_extendedprice, l_discount, l_tax, l_partkey,
        |      l_returnflag, l_linestatus
        |    ROWS BETWEEN 3 PRECEDING AND CURRENT ROW), 6) AS mavg
        |FROM lineitem ORDER BY l_suppkey, l_orderkey, l_linenumber, mavg""".stripMargin) { (s, d) =>
      val w = Window.partitionBy(col("l_suppkey"))
        .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"),
          col("l_quantity"), col("l_extendedprice"), col("l_discount"),
          col("l_tax"), col("l_partkey"), col("l_returnflag"), col("l_linestatus"))
        .rowsBetween(-3, 0)
      t(s, d, "lineitem")
        .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
          round(avg(col("l_quantity")).over(w), 6).as("mavg"))
        .orderBy(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"), col("mavg"))
    },

    // ---- windows: value-based RANGE frame (peers by value, not row
    //      position) — same-customer orders within ±100.0 of each
    //      order's total ----
    sqlChecked("w_range_frame",
      """SELECT o_custkey, o_orderkey,
        |  COUNT(*) OVER (PARTITION BY o_custkey ORDER BY o_totalprice
        |    RANGE BETWEEN 100.0 PRECEDING AND 100.0 FOLLOWING) AS n_near
        |FROM orders ORDER BY o_custkey, o_orderkey""".stripMargin) { (s, d) =>
      val w = Window.partitionBy(col("o_custkey")).orderBy(col("o_totalprice"))
        .rangeBetween(-100L, 100L)
      t(s, d, "orders")
        .select(col("o_custkey"), col("o_orderkey"),
          count(lit(1)).over(w).as("n_near"))
        .orderBy(col("o_custkey"), col("o_orderkey"))
    },

    // ---- explicit GROUPING SETS (beyond rollup/cube): two single-dim
    //      margins + grand total in one pass ----
    sqlChecked("agg_grouping_sets",
      """SELECT COALESCE(l_returnflag, 'ALL') AS rf,
        |  COALESCE(l_linestatus, 'ALL') AS ls,
        |  COUNT(*) AS n, CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        |ORDER BY rf, ls""".stripMargin) { (s, d) =>
      t(s, d, "lineitem").createOrReplaceTempView("graft_li_gs")
      s.sql(
        """SELECT COALESCE(l_returnflag, 'ALL') AS rf,
          |  COALESCE(l_linestatus, 'ALL') AS ls,
          |  COUNT(*) AS n, SUM(CAST(l_quantity AS BIGINT)) AS qty
          |FROM graft_li_gs
          |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
          |ORDER BY rf, ls""".stripMargin)
    },

    // ---- scalar function battery: math ----
    sqlChecked("f_math",
      """SELECT l_orderkey, l_linenumber,
        |  ROUND(EXP(l_discount) + LN(1 + l_quantity) + SQRT(l_tax + 1)
        |        + POW(l_discount, 2) + ABS(l_quantity - 25), 6) AS v,
        |  ROUND(LEAST(l_quantity, 10.0), 2) AS lo,
        |  ROUND(GREATEST(l_quantity, 40.0), 2) AS hi,
        |  CASE WHEN l_quantity <= 25 THEN 1.0 ELSE 0.0 END AS ind
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin) { (s, d) =>
      t(s, d, "lineitem").select(col("l_orderkey"), col("l_linenumber"),
          round(exp(col("l_discount")) + log(lit(1) + col("l_quantity")) +
            sqrt(col("l_tax") + 1) + pow(col("l_discount"), 2) +
            abs(col("l_quantity") - 25), 6).as("v"),
          round(least(col("l_quantity"), lit(10.0)), 2).as("lo"),
          round(greatest(col("l_quantity"), lit(40.0)), 2).as("hi"),
          when(col("l_quantity") <= 25, 1.0).otherwise(0.0).as("ind"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    },

    // ---- scalar function battery: strings ----
    sqlChecked("f_string",
      """SELECT p_partkey,
        |  UPPER(SUBSTR(p_name, 1, 8)) AS head8,
        |  LENGTH(p_name) AS len,
        |  CASE WHEN p_type LIKE '%BRASS%' THEN 1 ELSE 0 END AS is_brass,
        |  CONCAT(p_brand, '#', CAST(p_size AS VARCHAR)) AS brand_size
        |FROM part ORDER BY p_partkey""".stripMargin) { (s, d) =>
      t(s, d, "part").select(col("p_partkey"),
          upper(substring(col("p_name"), 1, 8)).as("head8"),
          length(col("p_name")).as("len"),
          when(col("p_type").like("%BRASS%"), 1).otherwise(0).as("is_brass"),
          concat(col("p_brand"), lit("#"), col("p_size").cast("string")).as("brand_size"))
        .orderBy(col("p_partkey"))
    },

    // ---- scalar function battery: date/time ----
    sqlChecked("f_date",
      """SELECT CAST(year(o_orderdate) AS INT) AS yr,
        |  CAST(month(o_orderdate) AS INT) AS mo,
        |  COUNT(*) AS n, ROUND(SUM(o_totalprice), 2) AS tot
        |FROM orders GROUP BY 1, 2 ORDER BY yr, mo""".stripMargin) { (s, d) =>
      t(s, d, "orders").groupBy(
          year(col("o_orderdate")).as("yr"), month(col("o_orderdate")).as("mo"))
        .agg(count(lit(1)).as("n"), round(sum(col("o_totalprice")), 2).as("tot"))
        .orderBy(col("yr"), col("mo"))
    },

    // ---- scalar function battery: JSON ----
    sqlChecked("f_json",
      """SELECT event_id,
        |  CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
        |FROM events ORDER BY event_id""".stripMargin) { (s, d) =>
      Tables.events(s, d).select(col("event_id"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))
        .orderBy(col("event_id"))
    },

    // ---- events: tumbling time-window aggregation (§2.10 batch analogue) ----
    sqlChecked("ev_tumbling",
      """SELECT CAST(epoch(time_bucket(INTERVAL '1 hour', ts)) AS BIGINT) AS win,
        |  event_type, COUNT(*) AS n, ROUND(SUM(value), 4) AS v
        |FROM events GROUP BY 1, 2 ORDER BY win, event_type""".stripMargin) { (s, d) =>
      Tables.events(s, d)
        .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 4).as("v"))
        .select(unix_timestamp(col("w.start")).as("win"), col("event_type"),
          col("n"), col("v"))
        .orderBy(col("win"), col("event_type"))
    },

    // ---- events: sessionization (gap > 30 min ⇒ new session) ----
    sqlChecked("ev_session",
      """WITH g AS (
        |  SELECT user_id, ts,
        |    CASE WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER
        |           (PARTITION BY user_id ORDER BY ts, event_id) > 1800000000 OR
        |         LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
        |    THEN 1 ELSE 0 END AS new_s
        |  FROM events),
        |s AS (SELECT user_id, SUM(new_s) OVER (PARTITION BY user_id
        |        ORDER BY ts ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess
        |      FROM g)
        |SELECT user_id, CAST(COUNT(DISTINCT sess) AS BIGINT) AS n_sessions
        |FROM s GROUP BY user_id ORDER BY user_id""".stripMargin) { (s, d) =>
      val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val g = Tables.events(s, d).withColumn("prev",
          lag(col("ts"), 1).over(byUser))
        .withColumn("new_s",
          when(col("prev").isNull ||
            unix_micros(col("ts")) - unix_micros(col("prev")) > 1800000000L, 1)
          .otherwise(0))
      g.withColumn("sess", sum(col("new_s")).over(
          Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy(col("user_id"))
        .agg(countDistinct(col("sess")).as("n_sessions"))
        .orderBy(col("user_id"))
    },

    // ---- stateful first-seen dedup per (user, event_type): the
    //      mapGroupsWithState op executed on the batch frame; its
    //      streaming twin is parity-checked in StreamingSpec ----
    sqlChecked("ev_first_seen",
      """SELECT user_id, event_type, MIN(epoch_us(ts)) AS first_us,
        |  COUNT(*) AS n
        |FROM events GROUP BY user_id, event_type
        |ORDER BY user_id, event_type""".stripMargin) { (s, d) =>
      graft.streaming.EventStreams.firstSeen(Tables.events(s, d))
        .orderBy(col("user_id"), col("event_type"))
    },

    // ---- equi-width histogram: 10 fixed buckets over order totals
    //      (clamped tails) — one arithmetic projection + hash agg ----
    sqlChecked("a_histogram",
      """SELECT LEAST(GREATEST(CAST(FLOOR((o_totalprice - 1000.0) / 30000.0)
        |    AS BIGINT), 0), 9) AS bucket,
        |  COUNT(*) AS n,
        |  ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2)
        |    AS mass
        |FROM orders GROUP BY 1 ORDER BY bucket""".stripMargin) { (s, d) =>
      t(s, d, "orders")
        .groupBy(least(greatest(floor((col("o_totalprice") - 1000.0) / 30000.0)
          .cast("bigint"), lit(0L)), lit(9L)).as("bucket"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("o_totalprice").cast("decimal(18,2)")).cast("double"), 2)
            .as("mass"))
        .orderBy(col("bucket"))
    },

    // ---- cohort retention: users first seen in hour h0 (their cohort)
    //      and the count still active k hours later — one first-seen
    //      aggregate + an hour-bucketed activity join ----
    sqlChecked("ev_retention",
      """WITH f AS (SELECT user_id,
        |    MIN(epoch_us(ts) // 3600000000) AS h0 FROM events GROUP BY user_id),
        |a AS (SELECT DISTINCT user_id,
        |    epoch_us(ts) // 3600000000 AS h FROM events)
        |SELECT CAST(a.h - f.h0 AS BIGINT) AS k,
        |  COUNT(DISTINCT a.user_id) AS active_users
        |FROM a JOIN f ON a.user_id = f.user_id
        |WHERE a.h - f.h0 <= 5
        |GROUP BY 1 ORDER BY k""".stripMargin) { (s, d) =>
      // `div`, not `/`: Column `/` is double division, and the ~1.7e18
      // micros overflow a double's 53-bit mantissa (same trap as the
      // events ns→µs conversion in Tables.events)
      val ev = Tables.events(s, d).select(col("user_id"),
        expr("unix_micros(ts) div 3600000000").as("h"))
      val f = ev.groupBy(col("user_id")).agg(min(col("h")).as("h0"))
      ev.distinct().join(f, Seq("user_id"))
        .filter(col("h") - col("h0") <= 5)
        .groupBy((col("h") - col("h0")).as("k"))
        .agg(countDistinct(col("user_id")).as("active_users"))
        .orderBy(col("k"))
    },

    // ---- ordered funnel: view → first click after the view → first
    //      purchase after that click, per user; stage conversion counts.
    //      Three dimension-sized min-aggregates chained by equi-joins —
    //      no sequence scan, no window over the full event stream ----
    sqlChecked("ev_funnel",
      """WITH v AS (SELECT user_id, MIN(epoch_us(ts)) AS t1 FROM events
        |    WHERE event_type = 'view' GROUP BY user_id),
        |c AS (SELECT e.user_id, MIN(epoch_us(e.ts)) AS t2 FROM events e
        |    JOIN v ON e.user_id = v.user_id AND epoch_us(e.ts) > v.t1
        |    WHERE e.event_type = 'click' GROUP BY e.user_id),
        |p AS (SELECT e.user_id, MIN(epoch_us(e.ts)) AS t3 FROM events e
        |    JOIN c ON e.user_id = c.user_id AND epoch_us(e.ts) > c.t2
        |    WHERE e.event_type = 'purchase' GROUP BY e.user_id)
        |SELECT (SELECT COUNT(*) FROM v) AS n_view,
        |  (SELECT COUNT(*) FROM c) AS n_view_click,
        |  (SELECT COUNT(*) FROM p) AS n_view_click_purchase""".stripMargin) { (s, d) =>
      import s.implicits._
      val ev = Tables.events(s, d)
        .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("us"))
      val v = ev.filter(col("event_type") === "view")
        .groupBy(col("user_id")).agg(min(col("us")).as("t1"))
      val c = ev.filter(col("event_type") === "click").as("e")
        .join(v, Seq("user_id")).filter(col("us") > col("t1"))
        .groupBy(col("user_id")).agg(min(col("us")).as("t2"))
      val p = ev.filter(col("event_type") === "purchase")
        .join(c, Seq("user_id")).filter(col("us") > col("t2"))
        .groupBy(col("user_id")).agg(min(col("us")).as("t3"))
      Seq((v.count(), c.count(), p.count()))
        .toDF("n_view", "n_view_click", "n_view_click_purchase")
    },

    // ---- stream-stream interval join (batch analogue): clicks matched
    //      to the same user's views in the preceding 5 minutes. Equi-key
    //      shuffle + in-key time range — the watermark-boundable
    //      stream-stream join shape; streaming parity in StreamingSpec ----
    sqlChecked("ev_interval_join",
      """SELECT c.user_id, c.event_id AS click_id, v.event_id AS view_id,
        |  epoch_us(c.ts) - epoch_us(v.ts) AS gap_us
        |FROM events c JOIN events v ON c.user_id = v.user_id
        |  AND c.event_type = 'click' AND v.event_type = 'view'
        |  AND epoch_us(v.ts) < epoch_us(c.ts)
        |  AND epoch_us(v.ts) >= epoch_us(c.ts) - 300000000
        |ORDER BY click_id, view_id""".stripMargin) { (s, d) =>
      val ev = Tables.events(s, d)
      graft.streaming.EventStreams.viewsBeforeClicks(
          ev.filter(col("event_type") === "click"),
          ev.filter(col("event_type") === "view"))
        .orderBy(col("click_id"), col("view_id"))
    }
  )

  private def rnd(x: Double, k: Int = 6): Double =
    BigDecimal(x).setScale(k, BigDecimal.RoundingMode.HALF_UP).toDouble
}
