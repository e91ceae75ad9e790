package graft.relational

import graft.core.{AsOf, FeatureArray, Rng, Tables, Windows}
import graft.stats.{CoxPH, Kernels, WeightedGLM}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** Statistical-operator queries (SURVEY.md §2.8 M1-M17) mapped onto the
  * driver test tables per FIXTURES.md's oracle mapping (weights ↔
  * quantities/balances, event time ↔ l_quantity, strata ↔ segments).
  * Model-fitting oracles pin the iteration count so DuckDB can replay
  * the identical fixed-point arithmetic (unrolled IRLS CTEs); iterative
  * convergence itself is covered by ScalaTest fixtures.
  */
object StatQueries {
  import QueryDef._

  private def t(s: SparkSession, d: String, n: String) = Tables(s, d, n)

  private def rnd(x: Double, k: Int): Double =
    BigDecimal(x).setScale(k, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** The survival frame shared by the Cox/hazard queries:
    * event time = l_quantity (discrete ⇒ heavy ties, exercising Breslow
    * tie-collapse), event indicator from l_returnflag, integer-ish
    * design weight, covariate from l_discount. */
  private[relational] def survFrame(s: SparkSession, d: String): DataFrame =
    t(s, d, "lineitem").select(
      col("l_quantity").cast("double").as("t"),
      when(col("l_returnflag") =!= "A", 1.0).otherwise(0.0).as("d"),
      (lit(1.0) + col("l_orderkey") % 5).cast("double").as("w"),
      (col("l_discount") * 10).cast("double").as("x"))

  private[relational] val survSql =
    """SELECT l_quantity AS t,
      |  CASE WHEN l_returnflag <> 'A' THEN 1.0 ELSE 0.0 END AS d,
      |  1.0 + (l_orderkey % 5) AS w,
      |  l_discount * 10 AS x FROM lineitem""".stripMargin

  /** Unrolled fixed-iteration IRLS as chained DuckDB CTEs (2-parameter
    * logistic: intercept + x). */
  private def irlsSql(nIter: Int, baseSql: String, roundTo: Int): String = {
    val sb = new StringBuilder
    sb.append(s"WITH base AS ($baseSql),\n")
    sb.append("it0 AS (SELECT CAST(0.0 AS DOUBLE) AS b0, CAST(0.0 AS DOUBLE) AS b1),\n")
    for (k <- 1 to nIter) {
      sb.append(
        s"""it$k AS (
           |  SELECT b0 + (h11*g0 - h01*g1)/(h00*h11 - h01*h01) AS b0,
           |         b1 + (h00*g1 - h01*g0)/(h00*h11 - h01*h01) AS b1
           |  FROM (
           |    SELECT MAX(s.b0) AS b0, MAX(s.b1) AS b1,
           |      SUM(w*mu*(1-mu)) AS h00, SUM(w*mu*(1-mu)*x) AS h01,
           |      SUM(w*mu*(1-mu)*x*x) AS h11,
           |      SUM(w*(y-mu)) AS g0, SUM(w*(y-mu)*x) AS g1
           |    FROM (SELECT base.y, base.x, base.w, p.b0, p.b1,
           |            1/(1+EXP(-(p.b0 + p.b1*base.x))) AS mu
           |          FROM base, it${k - 1} p) s))""".stripMargin)
      sb.append(if (k < nIter) ",\n" else "\n")
    }
    sb.append(s"SELECT ROUND(b0, $roundTo) AS b0, ROUND(b1, $roundTo) AS b1 FROM it$nIter")
    sb.toString
  }

  val all: Seq[QueryDef] = Seq(

    // ---- M1: weighted logistic IRLS, 6 pinned iterations ----
    sqlChecked("m1_logistic_irls",
      irlsSql(6,
        """SELECT CASE WHEN o_orderstatus = 'F' THEN 1.0 ELSE 0.0 END AS y,
          |  o_totalprice / 100000.0 AS x,
          |  1.0 + (o_orderkey % 3) AS w FROM orders""".stripMargin,
        roundTo = 6)) { (s, d) =>
      import s.implicits._
      val base = t(s, d, "orders").select(
        when(col("o_orderstatus") === "F", 1.0).otherwise(0.0).as("y"),
        (col("o_totalprice") / 100000.0).as("x"),
        (lit(1.0) + col("o_orderkey") % 3).cast("double").as("w"))
      val fit = WeightedGLM.logistic(base,
        FeatureArray.withIntercept(Seq(col("x"))), col("y"), col("w"),
        p = 2, maxIter = 6, tol = 0.0)
      Seq((rnd(fit.coefficients(0), 6), rnd(fit.coefficients(1), 6))).toDF("b0", "b1")
    },

    // ---- M2: Cox score + information at fixed β (Breslow ties) ----
    sqlChecked("m2_cox_score",
      s"""WITH base AS ($survSql),
         |g AS (
         |  SELECT t,
         |    SUM(w * EXP(0.25 * x)) AS s0g,
         |    SUM(w * EXP(0.25 * x) * x) AS s1g,
         |    SUM(w * EXP(0.25 * x) * x * x) AS s2g,
         |    SUM(w * d) AS wd, SUM(w * d * x) AS ux
         |  FROM base GROUP BY t),
         |sc AS (
         |  SELECT t, wd, ux,
         |    SUM(s0g) OVER rw AS s0, SUM(s1g) OVER rw AS s1, SUM(s2g) OVER rw AS s2
         |  FROM g WINDOW rw AS (ORDER BY t DESC
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
         |SELECT ROUND(SUM(ux - wd * s1 / s0), 4) AS score_u,
         |  ROUND(SUM(wd * (s2 / s0 - s1 * s1 / (s0 * s0))), 4) AS info_i
         |FROM sc WHERE wd > 0""".stripMargin) { (s, d) =>
      import s.implicits._
      val (u, info) = CoxPH.scoreAndInfo(survFrame(s, d),
        col("t"), col("d"), col("w"), Seq(col("x")), Array(0.25))
      Seq((rnd(u(0), 4), rnd(info(0), 4))).toDF("score_u", "info_i")
    },

    // ---- M2 tie-expanded score diagnostic (U2): the reference's
    //      per-subject residual form U = Σ d·w·(x − H1(t)/H2(t))
    //      (taylor_deviate.R:1167-1198) — risk-set suffix cumsums on
    //      the tie-collapsed time table, propagated back to EVERY
    //      subject at a tied time (the R code's H_uniq re-expansion),
    //      then the weighted residual sum. Algebraically equal to the
    //      grouped form in m2_cox_score; this query pins the EXPANSION
    //      mechanics (tie join-back) both engines must share. Sums
    //      collapse to (t,x,w) cells first so double addition runs
    //      over ≤dozens of terms per cell — engine/oracle agree far
    //      beyond the rounding. ----
    sqlChecked("m2_cox_score2",
      s"""WITH base AS ($survSql),
         |c AS (SELECT t, x, w, SUM(d) AS nd, COUNT(*) AS n
         |  FROM base GROUP BY t, x, w),
         |g AS (SELECT t, SUM(n * w * EXP(0.25 * x)) AS s0g,
         |    SUM(n * w * EXP(0.25 * x) * x) AS s1g
         |  FROM c GROUP BY t),
         |h AS (SELECT t,
         |    SUM(s0g) OVER rw AS s0, SUM(s1g) OVER rw AS s1
         |  FROM g WINDOW rw AS (ORDER BY t DESC
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
         |SELECT ROUND(SUM(c.nd * c.w * (c.x - h.s1 / h.s0)), 4) AS score_u2,
         |  CAST(COUNT(DISTINCT c.t) AS BIGINT) AS n_times,
         |  CAST(SUM(c.n) AS BIGINT) AS n_rows
         |FROM c JOIN h ON h.t = c.t""".stripMargin) { (s, d) =>
      val base = survFrame(s, d)
      val cells = base.groupBy(col("t"), col("x"), col("w"))
        .agg(sum(col("d")).as("nd"), count(lit(1)).as("n"))
      val we = col("n") * col("w") * exp(lit(0.25) * col("x"))
      val g = cells.groupBy(col("t"))
        .agg(sum(we).as("s0g"), sum(we * col("x")).as("s1g"))
      // risk-set totals at each distinct time (suffix sums over the
      // tie-collapsed step table), broadcast back onto the cells —
      // the tie expansion as a join, no per-subject window
      val h = Windows.suffixSum(g, col("t"),
        Seq(col("s0g") -> "s0", col("s1g") -> "s1"))
      cells.join(broadcast(h.select(col("t"), col("s0"), col("s1"))), Seq("t"))
        .agg(
          round(sum(col("nd") * col("w") *
            (col("x") - col("s1") / col("s0"))), 4).as("score_u2"),
          countDistinct(col("t")).as("n_times"),
          sum(col("n")).as("n_rows"))
    },

    // ---- M2 full NR fit: 4 pinned Newton iterations, unrolled into
    //      DuckDB CTEs (free convergence is ScalaTest-covered) ----
    sqlChecked("m2_cox_fit",
      RelationalQueries3.coxNrCtes(4, survSql) +
        "\nSELECT ROUND(b, 8) AS beta FROM it4") { (s, d) =>
      import s.implicits._
      val fit = CoxPH.fit(survFrame(s, d), col("t"), col("d"), col("w"),
        Seq(col("x")), maxIter = 4, tol = 0.0)
      Seq(rnd(fit.coefficients(0), 8)).toDF("beta")
    },

    // ---- M3: weighted least squares (closed form) ----
    sqlChecked("m3_wls",
      """WITH base AS (
        |  SELECT o_totalprice / 1000.0 AS y, CAST(o_custkey % 100 AS DOUBLE) AS x,
        |         1.0 + (o_orderkey % 3) AS w FROM orders),
        |m AS (SELECT SUM(w) AS sw, SUM(w*x) AS swx, SUM(w*x*x) AS swxx,
        |             SUM(w*y) AS swy, SUM(w*x*y) AS swxy FROM base)
        |SELECT ROUND((swxx*swy - swx*swxy)/(sw*swxx - swx*swx), 8) AS b0,
        |       ROUND((sw*swxy - swx*swy)/(sw*swxx - swx*swx), 8) AS b1
        |FROM m""".stripMargin) { (s, d) =>
      import s.implicits._
      val base = t(s, d, "orders").select(
        (col("o_totalprice") / 1000.0).as("y"),
        (col("o_custkey") % 100).cast("double").as("x"),
        (lit(1.0) + col("o_orderkey") % 3).cast("double").as("w"))
      val fit = WeightedGLM.wls(base,
        FeatureArray.withIntercept(Seq(col("x"))), col("y"), col("w"), p = 2)
      Seq((rnd(fit.coefficients(0), 8), rnd(fit.coefficients(1), 8))).toDF("b0", "b1")
    },

    // ---- M4: IPSW pseudo-weights at fixed γ ----
    sqlChecked("m4_ipsw",
      """SELECT c_custkey,
        |  ROUND(EXP(-(0.2 + 0.3 * c_acctbal / 1000.0)), 8) AS ipsw
        |FROM customer ORDER BY c_custkey""".stripMargin) { (s, d) =>
      val feats = FeatureArray.withIntercept(Seq(col("c_acctbal") / 1000.0))
      t(s, d, "customer").select(col("c_custkey"),
          round(graft.weights.Ipsw.fromFeatures(feats, Array(0.2, 0.3)), 8).as("ipsw"))
        .orderBy(col("c_custkey"))
    },

    // ---- M5: KW pseudo-weights, compact kernel + zero-row rescue.
    //      Survey side capped at 1000 suppliers like a7_kernel_norm
    //      (fixed survey sample; no-op at <= sf0.1) — the engine's
    //      band join is cohort-linear either way, but the oracle's
    //      dense replay is not. ----
    sqlChecked("m5_kw",
      """WITH s AS (SELECT s_suppkey AS s_id, s_acctbal / 1000.0 AS q_s,
        |             (s_suppkey % 5) + 1.0 AS wt_s FROM supplier
        |           WHERE s_suppkey < 1000),
        |     c AS (SELECT c_custkey AS c_id, c_acctbal / 1000.0 AS q_c FROM customer),
        |     k AS (SELECT s_id, wt_s, c_id,
        |             GREATEST(0.0, 1.0 - ABS((q_s - q_c) / 0.05)) AS k
        |           FROM s CROSS JOIN c),
        |     rs AS (SELECT s_id, MAX(wt_s) AS wt_s, SUM(k) AS row_k FROM k GROUP BY 1),
        |     flat AS (SELECT COALESCE(SUM(wt_s), 0.0) / (SELECT COUNT(*) FROM c) AS fl
        |              FROM rs WHERE row_k = 0)
        |SELECT c_id, ROUND(SUM(wt_s * kk / row_k) + MAX(fl), 8) AS kw
        |FROM (SELECT k.c_id, k.wt_s, k.k AS kk, rs.row_k FROM k
        |      JOIN rs USING (s_id) WHERE rs.row_k > 0), flat
        |GROUP BY c_id ORDER BY c_id""".stripMargin) { (s, d) =>
      // compact support ⇒ the bucketed band join is exactly equivalent
      // to the dense cross join (band≡dense asserted in StatsSpec) and
      // prunes the pair stream to O(matching pairs)
      graft.weights.KernelWeights.compute(
          t(s, d, "supplier").filter(col("s_suppkey") < 1000),
          col("s_acctbal") / 1000.0,
          (col("s_suppkey") % 5 + 1.0).cast("double"),
          t(s, d, "customer"), col("c_custkey"), col("c_acctbal") / 1000.0,
          h = 0.05, kernel = Kernels.triangular, bandJoin = true)
        .select(col("c_id"), round(col("kw"), 8).as("kw"))
        .orderBy(col("c_id"))
    },

    // ---- M5 rm.s=T: drop unmatched survey units instead of the flat
    // spread (krnwt's declared alternate mode, simu_fun.R:13-15,172-183:
    // row.krn is set to 1 against an all-zero kernel row, so the unit
    // contributes nothing and its mass leaves the system) ----
    sqlChecked("m5_kw_rms",
      """WITH s AS (SELECT s_suppkey AS s_id, s_acctbal / 1000.0 AS q_s,
        |             (s_suppkey % 5) + 1.0 AS wt_s FROM supplier
        |           WHERE s_suppkey < 1000),
        |     c AS (SELECT c_custkey AS c_id, c_acctbal / 1000.0 AS q_c FROM customer),
        |     k AS (SELECT s_id, wt_s, c_id,
        |             GREATEST(0.0, 1.0 - ABS((q_s - q_c) / 0.05)) AS k
        |           FROM s CROSS JOIN c),
        |     rs AS (SELECT s_id, SUM(k) AS row_k FROM k GROUP BY 1),
        |     contrib AS (SELECT k.c_id, SUM(k.wt_s * k.k / rs.row_k) AS kw_raw
        |                 FROM k JOIN rs USING (s_id)
        |                 WHERE rs.row_k > 0 GROUP BY 1)
        |SELECT c.c_id, ROUND(COALESCE(contrib.kw_raw, 0.0), 8) AS kw
        |FROM c LEFT JOIN contrib ON contrib.c_id = c.c_id
        |ORDER BY c.c_id""".stripMargin) { (s, d) =>
      graft.weights.KernelWeights.compute(
          t(s, d, "supplier").filter(col("s_suppkey") < 1000),
          col("s_acctbal") / 1000.0,
          (col("s_suppkey") % 5 + 1.0).cast("double"),
          t(s, d, "customer"), col("c_custkey"), col("c_acctbal") / 1000.0,
          h = 0.05, kernel = Kernels.triangular, bandJoin = true,
          removeUnmatched = true)
        .select(col("c_id"), round(col("kw"), 8).as("kw"))
        .orderBy(col("c_id"))
    },

    // ---- M6: post-stratification ----
    sqlChecked("m6_poststrat",
      """WITH pop AS (SELECT c_nationkey AS nk, c_mktsegment AS seg,
        |               CAST(COUNT(*) AS DOUBLE) AS nh FROM customer GROUP BY 1, 2),
        |     samp AS (SELECT c_custkey, c_nationkey AS nk, c_mktsegment AS seg,
        |                3.0 AS w FROM customer WHERE c_custkey % 3 = 0),
        |     hat AS (SELECT nk, seg, SUM(w) AS nh_hat FROM samp GROUP BY 1, 2)
        |SELECT c_custkey, ROUND(nh / nh_hat, 8) AS ps_f,
        |       ROUND(3.0 * nh / nh_hat, 8) AS ps_wt
        |FROM samp JOIN hat USING (nk, seg) JOIN pop USING (nk, seg)
        |ORDER BY c_custkey""".stripMargin) { (s, d) =>
      val pop = t(s, d, "customer")
        .groupBy(col("c_nationkey"), col("c_mktsegment"))
        .agg(count(lit(1)).cast("double").as("N_h"))
        .select(concat_ws("|", col("c_nationkey"), col("c_mktsegment")).as("cell"),
          col("N_h"))
      val samp = t(s, d, "customer").filter(col("c_custkey") % 3 === 0)
        .withColumn("w", lit(3.0))
      graft.weights.PostStratify.calibrate(samp,
          concat_ws("|", col("c_nationkey"), col("c_mktsegment")), col("w"), pop)
        .select(col("c_custkey"), round(col("ps_f"), 8).as("ps_f"),
          round(col("ps_wt"), 8).as("ps_wt"))
        .orderBy(col("c_custkey"))
    },

    // ---- M7: GREG linear calibration (intercept + x, closed form) ----
    sqlChecked("m7_greg",
      """WITH pop AS (SELECT CAST(COUNT(*) AS DOUBLE) AS v0,
        |               SUM(c_acctbal / 100.0) AS v1 FROM customer),
        |     samp AS (SELECT c_custkey, c_acctbal / 100.0 AS x, 2.0 AS w
        |              FROM customer WHERE c_custkey % 2 = 0),
        |     m AS (SELECT SUM(w) AS a00, SUM(w*x) AS a01, SUM(w*x*x) AS a11,
        |                  SUM(w) AS vh0, SUM(w*x) AS vh1 FROM samp),
        |     lam AS (SELECT (a11*(v0-vh0) - a01*(v1-vh1))/(a00*a11 - a01*a01) AS l0,
        |                    (a00*(v1-vh1) - a01*(v0-vh0))/(a00*a11 - a01*a01) AS l1
        |             FROM m, pop)
        |SELECT c_custkey, ROUND(1.0 + l0 + l1 * x, 8) AS greg_f,
        |       ROUND(CASE WHEN w * (1.0 + l0 + l1 * x) < 0 THEN 0.00001
        |             ELSE w * (1.0 + l0 + l1 * x) END, 8) AS greg_wt
        |FROM samp, lam ORDER BY c_custkey""".stripMargin) { (s, d) =>
      val c = t(s, d, "customer")
      val popRow = c.agg(count(lit(1)).cast("double"),
        sum(col("c_acctbal") / 100.0)).head()
      val targets = Array(popRow.getDouble(0), popRow.getDouble(1))
      val samp = c.filter(col("c_custkey") % 2 === 0)
        .select(col("c_custkey"), (col("c_acctbal") / 100.0).as("x"), lit(2.0).as("w"))
      val feats = FeatureArray.withIntercept(Seq(col("x")))
      graft.weights.Greg.calibrate(samp, feats, col("w"), targets)
        .select(col("c_custkey"), round(col("greg_f"), 8).as("greg_f"),
          round(col("greg_wt"), 8).as("greg_wt"))
        .orderBy(col("c_custkey"))
    },

    // ---- M8: Breslow cumulative baseline hazard at the t* grid ----
    sqlChecked("m8_breslow",
      s"""WITH base AS ($survSql),
         |g AS (SELECT t, SUM(w) AS s0g, SUM(w * d) AS num FROM base GROUP BY t),
         |sc AS (SELECT t, num, SUM(s0g) OVER (ORDER BY t DESC
         |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s0 FROM g),
         |ev AS (SELECT t, num / s0 AS lambda FROM sc WHERE num > 0),
         |cum AS (SELECT t, SUM(lambda) OVER (ORDER BY t
         |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ch FROM ev),
         |probes(t_star) AS (SELECT CAST(x AS DOUBLE) FROM (VALUES (10), (20), (30),
         |  (40), (50)) v(x))
         |SELECT t_star, ROUND(COALESCE((SELECT ch FROM cum WHERE t <= t_star
         |  ORDER BY t DESC LIMIT 1), 0.0), 8) AS cum_hzd
         |FROM probes ORDER BY t_star""".stripMargin) { (s, d) =>
      graft.hazard.Breslow.cumulativeHazardAt(survFrame(s, d),
          col("t"), col("d"), col("w"), lit(1.0),
          tStar = Seq(10.0, 20.0, 30.0, 40.0, 50.0),
          sizeHint = Windows.SizeHint.Small)
        .select(col("t_star"), round(col("cum_hzd"), 8).as("cum_hzd"))
        .orderBy(col("t_star"))
    },

    // ---- M9: discrete hazard λ(u) + attributable risk ar(u) ----
    sqlChecked("m9_hazard_ar",
      s"""WITH base AS ($survSql),
         |g AS (SELECT t, SUM(w * d) AS num, SUM(w * EXP(0.1 * x)) AS zg,
         |        SUM(w) AS yg FROM base GROUP BY t),
         |sc AS (SELECT t, num,
         |  SUM(zg) OVER rw AS z, SUM(yg) OVER rw AS y
         |  FROM g WINDOW rw AS (ORDER BY t DESC
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
         |SELECT t, ROUND(num / z, 8) AS lambda, ROUND(1.0 - y / z, 8) AS ar
         |FROM sc WHERE num > 0 ORDER BY t""".stripMargin) { (s, d) =>
      graft.hazard.DiscreteHazard.steps(survFrame(s, d),
          col("t"), col("d"), col("w"), exp(lit(0.1) * col("x")),
          sizeHint = Windows.SizeHint.Small)
        .select(col("t"), round(col("lambda"), 8).as("lambda"),
          round(col("ar"), 8).as("ar"))
        .orderBy(col("t"))
    },

    // ---- M10: cumulative hazard Λ(t*) via prefix cumsum + as-of ----
    sqlChecked("m10_cum_hazard",
      s"""WITH base AS ($survSql),
         |g AS (SELECT t, SUM(w * d) AS num, SUM(w * EXP(0.1 * x)) AS zg
         |      FROM base GROUP BY t),
         |sc AS (SELECT t, num, SUM(zg) OVER (ORDER BY t DESC
         |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS z FROM g),
         |cum AS (SELECT t, SUM(num / z) OVER (ORDER BY t
         |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ch
         |  FROM sc WHERE num > 0),
         |probes(t_star) AS (SELECT CAST(x AS DOUBLE) FROM (VALUES (5), (15), (25),
         |  (35), (45)) v(x))
         |SELECT t_star, ROUND(COALESCE((SELECT ch FROM cum WHERE t <= t_star
         |  ORDER BY t DESC LIMIT 1), 0.0), 8) AS cum_hzd
         |FROM probes ORDER BY t_star""".stripMargin) { (s, d) =>
      val steps = graft.hazard.DiscreteHazard.steps(survFrame(s, d),
        col("t"), col("d"), col("w"), exp(lit(0.1) * col("x")),
        sizeHint = Windows.SizeHint.Small)
      val cum = graft.hazard.DiscreteHazard.cumulative(steps,
        sizeHint = Windows.SizeHint.Small)
      AsOf.lookup(cum, col("t"), col("cum_hzd"), Seq(5.0, 15.0, 25.0, 35.0, 45.0))
        .select(col("t_star"), round(col("value"), 8).as("cum_hzd"))
        .orderBy(col("t_star"))
    },

    // ---- M11: Gail hazard — population λ* ⋈ sample ar, LOCF, cumsum ----
    sqlChecked("m11_gail",
      s"""WITH lstar AS (
         |  SELECT CAST(CEIL(l_quantity / 5.0) * 5 AS DOUBLE) AS t,
         |    AVG(l_discount) / 10.0 AS lambda_star
         |  FROM lineitem GROUP BY 1),
         |sb AS (SELECT l_quantity AS t,
         |    CASE WHEN l_returnflag <> 'A' THEN 1.0 ELSE 0.0 END AS d,
         |    1.0 + (l_orderkey % 5) AS w, l_discount * 10 AS x
         |  FROM lineitem WHERE l_suppkey % 2 = 0),
         |g AS (SELECT t, SUM(w * d) AS num, SUM(w * EXP(0.1 * x)) AS zg,
         |        SUM(w) AS yg FROM sb GROUP BY t),
         |sc AS (SELECT t, num, SUM(zg) OVER rw AS z, SUM(yg) OVER rw AS y
         |  FROM g WINDOW rw AS (ORDER BY t DESC
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
         |ar AS (SELECT t, 1.0 - y / z AS ar FROM sc WHERE num > 0),
         |j AS (SELECT COALESCE(lstar.t, ar.t) AS t, lambda_star, ar,
         |        lstar.t IS NOT NULL AS is_step
         |      FROM lstar FULL OUTER JOIN ar ON lstar.t = ar.t),
         |f AS (SELECT t, is_step, lambda_star,
         |        COALESCE(last_value(ar IGNORE NULLS) OVER (ORDER BY t
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0.0) AS arf
         |      FROM j),
         |cum AS (SELECT t, SUM(CASE WHEN is_step THEN lambda_star * (1.0 - arf)
         |          ELSE 0.0 END) OVER (ORDER BY t
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cg
         |        FROM f),
         |probes(t_star) AS (SELECT CAST(x AS DOUBLE) FROM (VALUES (10), (25),
         |  (40), (55)) v(x))
         |SELECT t_star, ROUND(COALESCE((SELECT cg FROM cum WHERE t <= t_star
         |  ORDER BY t DESC LIMIT 1), 0.0), 8) AS cum_gail
         |FROM probes ORDER BY t_star""".stripMargin) { (s, d) =>
      val lstar = t(s, d, "lineitem")
        .groupBy((ceil(col("l_quantity") / 5.0) * 5).cast("double").as("t"))
        .agg((avg(col("l_discount")) / 10.0).as("lambda_star"))
      val sampFiltered = t(s, d, "lineitem").filter(col("l_suppkey") % 2 === 0)
        .select(col("l_quantity").cast("double").as("t"),
          when(col("l_returnflag") =!= "A", 1.0).otherwise(0.0).as("d"),
          (lit(1.0) + col("l_orderkey") % 5).cast("double").as("w"),
          (col("l_discount") * 10).cast("double").as("x"))
      val ar = graft.hazard.DiscreteHazard.steps(sampFiltered,
          col("t"), col("d"), col("w"), exp(lit(0.1) * col("x")),
          sizeHint = Windows.SizeHint.Small)
        .select(col("t"), col("ar"))
      graft.hazard.GailHazard.at(lstar, ar, Seq(10.0, 25.0, 40.0, 55.0),
        sizeHint = Windows.SizeHint.Small)
        .select(col("t_star"), round(col("cum_gail"), 8).as("cum_gail"))
        .orderBy(col("t_star"))
    },

    // ---- M12: absolute risk from cumulative hazard ----
    sqlChecked("m12_absrisk",
      s"""WITH base AS ($survSql),
         |g AS (SELECT t, SUM(w) AS s0g, SUM(w * d) AS num FROM base GROUP BY t),
         |sc AS (SELECT t, num, SUM(s0g) OVER (ORDER BY t DESC
         |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s0 FROM g),
         |cum AS (SELECT t, SUM(num / s0) OVER (ORDER BY t
         |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ch
         |  FROM sc WHERE num > 0),
         |probes(t_star) AS (SELECT CAST(x AS DOUBLE) FROM (VALUES (10), (20), (30),
         |  (40), (50)) v(x))
         |SELECT t_star,
         |  ROUND(1.0 - EXP(-COALESCE((SELECT ch FROM cum WHERE t <= t_star
         |    ORDER BY t DESC LIMIT 1), 0.0) * EXP(0.3)), 8) AS abs_risk
         |FROM probes ORDER BY t_star""".stripMargin) { (s, d) =>
      val cum = graft.hazard.Breslow.cumulativeHazardAt(survFrame(s, d),
        col("t"), col("d"), col("w"), lit(1.0), Seq(10.0, 20.0, 30.0, 40.0, 50.0),
        sizeHint = Windows.SizeHint.Small)
      graft.hazard.AbsoluteRisk.at(cum, eta0 = 0.3)
        .select(col("t_star"), round(col("abs_risk"), 8).as("abs_risk"))
        .orderBy(col("t_star"))
    },

    // ---- M13: Poisson-linearization variance of a weighted total ----
    sqlChecked("m13_poisson_var",
      """SELECT ROUND(SUM((1.0 - pi) * delta * delta), 4) AS v_poisson
        |FROM (SELECT (1.0 + (l_orderkey % 5)) * l_extendedprice
        |        * (1 - l_discount) / 100000.0 AS delta,
        |        ((l_orderkey % 9) + 1.0) / 10.0 AS pi
        |      FROM lineitem)""".stripMargin) { (s, d) =>
      import s.implicits._
      val base = t(s, d, "lineitem").select(
        ((lit(1.0) + col("l_orderkey") % 5) * col("l_extendedprice") *
          (lit(1) - col("l_discount")) / 100000.0).as("delta"),
        ((col("l_orderkey") % 9 + 1.0) / 10.0).as("pi"))
      val v = graft.variance.Influence.contract(base, Seq(col("delta")), col("pi"))(Nil)
        .poisson(0)
      Seq(rnd(v, 4)).toDF("v_poisson")
    },

    // ---- M13 hazard chain: Poisson-linearized variance of Λ(t*) with
    //      the full influence function (direct + β-chain terms) at a
    //      pinned β, so DuckDB replays the identical algebra
    //      (taylor_deviate.R:746-900, 110-111) ----
    sqlChecked("m13_hazard_var",
      s"""WITH base AS (SELECT t, d, w, x, ((l_orderkey % 9) + 1.0) / 10.0 AS pi
         |  FROM (SELECT l_quantity AS t,
         |    CASE WHEN l_returnflag <> 'A' THEN 1.0 ELSE 0.0 END AS d,
         |    1.0 + (l_orderkey % 5) AS w,
         |    l_discount * 10 AS x, l_orderkey FROM lineitem)),
         |g AS (SELECT t, SUM(w * d) AS ng, SUM(w * EXP(0.25 * x)) AS zg,
         |    SUM(w * EXP(0.25 * x) * x) AS ag,
         |    SUM(w * EXP(0.25 * x) * x * x) AS s2g
         |  FROM base GROUP BY t),
         |sc AS (SELECT t, ng,
         |    SUM(zg) OVER rw AS Z, SUM(ag) OVER rw AS A, SUM(s2g) OVER rw AS S2
         |  FROM g WINDOW rw AS (ORDER BY t DESC
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
         |steps AS (SELECT t, ng, Z, A,
         |    SUM(CASE WHEN ng > 0 THEN ng / Z ELSE 0 END) OVER pw AS LAM,
         |    SUM(CASE WHEN ng > 0 THEN ng / (Z * Z) ELSE 0 END) OVER pw AS GL,
         |    SUM(CASE WHEN ng > 0 THEN ng * A / (Z * Z) ELSE 0 END) OVER pw AS C,
         |    SUM(CASE WHEN ng > 0 THEN ng / Z ELSE 0 END) OVER pw AS G0
         |  FROM sc WINDOW pw AS (ORDER BY t ASC
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
         |info AS (SELECT SUM(ng * (S2 / Z - A * A / (Z * Z))) AS i1
         |  FROM sc WHERE ng > 0),
         |unit AS (SELECT b.t, b.d, b.w, b.pi, EXP(0.25 * b.x) AS rh,
         |    s.Z, s.GL, s.G0, s.C,
         |    (b.d * (b.x - s.A / s.Z)
         |      - EXP(0.25 * b.x) * (b.x * s.G0 - s.C)) / i.i1 AS dbeta
         |  FROM base b JOIN steps s ON b.t = s.t CROSS JOIN info i),
         |probes(t_star) AS (SELECT CAST(x AS DOUBLE) FROM (VALUES (10), (20),
         |  (30), (40), (50)) v(x)),
         |tc AS (SELECT t_star,
         |    COALESCE((SELECT GL FROM steps WHERE t <= t_star
         |      ORDER BY t DESC LIMIT 1), 0.0) AS GLs,
         |    COALESCE((SELECT C FROM steps WHERE t <= t_star
         |      ORDER BY t DESC LIMIT 1), 0.0) AS Cs,
         |    COALESCE((SELECT LAM FROM steps WHERE t <= t_star
         |      ORDER BY t DESC LIMIT 1), 0.0) AS LAMs
         |  FROM probes),
         |dev AS (SELECT tc.t_star, tc.LAMs, u.w, u.pi,
         |    (CASE WHEN u.d = 1 AND u.t <= tc.t_star THEN 1.0 / u.Z ELSE 0 END
         |      - u.rh * LEAST(u.GL, tc.GLs) - u.dbeta * tc.Cs) AS dl
         |  FROM unit u CROSS JOIN tc)
         |SELECT t_star, ROUND(MAX(LAMs), 6) AS cum_hzd,
         |  ROUND(SUM((1.0 - pi) * w * dl * w * dl), 4) AS var_poisson
         |FROM dev GROUP BY t_star ORDER BY t_star""".stripMargin) { (s, d) =>
      val sf = t(s, d, "lineitem").select(
        col("l_quantity").cast("double").as("t"),
        when(col("l_returnflag") =!= "A", 1.0).otherwise(0.0).as("d"),
        (lit(1.0) + col("l_orderkey") % 5).cast("double").as("w"),
        (col("l_discount") * 10).cast("double").as("x"),
        (((col("l_orderkey") % 9) + 1.0) / 10.0).as("pi"))
      val (_, info) = CoxPH.scoreAndInfo(sf, col("t"), col("d"), col("w"),
        Seq(col("x")), Array(0.25))
      val steps = graft.hazard.RiskSet.steps(sf, col("t"), col("d"), col("w"),
        graft.variance.CoxInfluence.relHzd(Seq(col("x")), Array(0.25)),
        Seq(col("x")), sizeHint = Windows.SizeHint.Small)
      val dev = graft.variance.CoxInfluence.deviates(sf, col("t"),
        col("d"), col("w"), Seq(col("x")), Array(0.25), info, steps,
        Seq(col("pi")), Windows.SizeHint.Small)
      val long = graft.variance.HazardInfluence.cumulativeDeviates(
        dev, steps, p = 1, tStar = Seq(10.0, 20.0, 30.0, 40.0, 50.0),
        sizeHint = Windows.SizeHint.Small,
        passthrough = Seq(col("pi")))
      long.groupBy(col("t_star"))
        .agg(round(max(col("cum_hzd")), 6).as("cum_hzd"),
          round(sum((lit(1.0) - col("pi")) * col("__w") * col("d_cum_hzd")
            * col("__w") * col("d_cum_hzd")), 4).as("var_poisson"))
        .orderBy(col("t_star"))
    },

    // ---- M13 Gail chain: Poisson-linearized variance of ΛG(t*) (the
    //      population-hazard-rescaled cumulative hazard, LambdaG_w /
    //      taylor_deviate.R:903-929) and of the absolute risks
    //      absR/absRG (absR_w, 933-953), at a pinned β. The engine's
    //      algebra buckets the λ* grid mass by governing event and
    //      min-composes prefix step functions (never an n×|grid|
    //      matrix); DuckDB replays it with correlated-subquery LOCF
    //      lookups over the tiny grid/event domains — agreement proves
    //      the collapse is exact. ----
    sqlChecked("m13_gail_var",
      s"""WITH base AS (SELECT t, d, w, x, ((l_orderkey % 9) + 1.0) / 10.0 AS pi
         |  FROM (SELECT l_quantity AS t,
         |    CASE WHEN l_returnflag <> 'A' THEN 1.0 ELSE 0.0 END AS d,
         |    1.0 + (l_orderkey % 5) AS w,
         |    l_discount * 10 AS x, l_orderkey FROM lineitem)),
         |g AS (SELECT t, SUM(w * d) AS ng, SUM(w * EXP(0.25 * x)) AS zg,
         |    SUM(w) AS ygg, SUM(w * EXP(0.25 * x) * x) AS ag,
         |    SUM(w * EXP(0.25 * x) * x * x) AS s2g
         |  FROM base GROUP BY t),
         |sc AS (SELECT t, ng,
         |    SUM(zg) OVER rw AS Z, SUM(ygg) OVER rw AS Y,
         |    SUM(ag) OVER rw AS A, SUM(s2g) OVER rw AS S2
         |  FROM g WINDOW rw AS (ORDER BY t DESC
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
         |steps AS (SELECT t, ng, Z, A,
         |    SUM(CASE WHEN ng > 0 THEN ng / Z ELSE 0 END) OVER pw AS LAM,
         |    SUM(CASE WHEN ng > 0 THEN ng / (Z * Z) ELSE 0 END) OVER pw AS GL,
         |    SUM(CASE WHEN ng > 0 THEN ng * A / (Z * Z) ELSE 0 END) OVER pw AS C,
         |    SUM(CASE WHEN ng > 0 THEN ng / Z ELSE 0 END) OVER pw AS G0
         |  FROM sc WINDOW pw AS (ORDER BY t ASC
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
         |info AS (SELECT SUM(ng * (S2 / Z - A * A / (Z * Z))) AS i1
         |  FROM sc WHERE ng > 0),
         |ev AS (SELECT t, Z, A, 1.0 - Y / Z AS ar FROM sc WHERE ng > 0),
         |grid(s, ls) AS (SELECT * FROM (VALUES (0.5, 0.004), (7.0, 0.003),
         |  (13.0, 0.0025), (22.0, 0.0035), (25.0, 0.002), (33.0, 0.003),
         |  (41.0, 0.0015), (47.0, 0.0025)) v(s, ls)),
         |gev AS (SELECT gr.s, gr.ls, e.t AS et, e.Z AS eZ, e.ar AS ear,
         |    e.A AS eA
         |  FROM grid gr LEFT JOIN ev e ON e.t =
         |    (SELECT MAX(t) FROM ev WHERE ev.t <= gr.s)),
         |gcum AS (SELECT s,
         |    SUM(CASE WHEN et IS NULL THEN ls ELSE ls * (1 - ear) END)
         |      OVER po AS LG,
         |    SUM(CASE WHEN et IS NULL THEN 0 ELSE ls / eZ END) OVER po AS GA,
         |    SUM(CASE WHEN et IS NULL THEN 0 ELSE ls * (1 - ear) / eZ END)
         |      OVER po AS GB,
         |    SUM(CASE WHEN et IS NULL THEN 0
         |        ELSE ls * (1 - ear) * eA / eZ END) OVER po AS CG
         |  FROM gev WINDOW po AS (ORDER BY s ASC
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
         |ivals AS (SELECT et, SUM(ls / eZ) AS ta,
         |    SUM(ls * (1 - ear) / eZ) AS tb
         |  FROM gev WHERE et IS NOT NULL GROUP BY et),
         |eacum AS (SELECT et,
         |    SUM(ta) OVER eo AS EAv, SUM(tb) OVER eo AS EBv
         |  FROM ivals WINDOW eo AS (ORDER BY et ASC
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
         |ue AS (SELECT ut.t,
         |    COALESCE((SELECT e.EAv FROM eacum e WHERE e.et <= ut.t
         |      ORDER BY e.et DESC LIMIT 1), 0) AS EAu,
         |    COALESCE((SELECT e.EBv FROM eacum e WHERE e.et <= ut.t
         |      ORDER BY e.et DESC LIMIT 1), 0) AS EBu
         |  FROM (SELECT DISTINCT t FROM base) ut),
         |unit AS (SELECT b.t, b.d, b.w, b.pi, EXP(0.25 * b.x) AS rh,
         |    s.Z, s.GL, ue.EAu, ue.EBu,
         |    (b.d * (b.x - s.A / s.Z)
         |      - EXP(0.25 * b.x) * (b.x * s.G0 - s.C)) / i.i1 AS dbeta
         |  FROM base b JOIN steps s ON b.t = s.t JOIN ue ON b.t = ue.t
         |  CROSS JOIN info i),
         |probes(t_star) AS (SELECT CAST(x AS DOUBLE) FROM (VALUES (10), (20),
         |  (30), (40), (50)) v(x)),
         |tc AS (SELECT t_star,
         |    COALESCE((SELECT GL FROM steps WHERE t <= t_star
         |      ORDER BY t DESC LIMIT 1), 0.0) AS GLs,
         |    COALESCE((SELECT C FROM steps WHERE t <= t_star
         |      ORDER BY t DESC LIMIT 1), 0.0) AS Cs,
         |    COALESCE((SELECT LAM FROM steps WHERE t <= t_star
         |      ORDER BY t DESC LIMIT 1), 0.0) AS LAMs,
         |    COALESCE((SELECT LG FROM gcum WHERE s <= t_star
         |      ORDER BY s DESC LIMIT 1), 0.0) AS LGs,
         |    COALESCE((SELECT GA FROM gcum WHERE s <= t_star
         |      ORDER BY s DESC LIMIT 1), 0.0) AS GAs,
         |    COALESCE((SELECT GB FROM gcum WHERE s <= t_star
         |      ORDER BY s DESC LIMIT 1), 0.0) AS GBs,
         |    COALESCE((SELECT CG FROM gcum WHERE s <= t_star
         |      ORDER BY s DESC LIMIT 1), 0.0) AS CGs
         |  FROM probes),
         |dev AS (SELECT tc.t_star, tc.LAMs, tc.LGs, u.w, u.pi, u.dbeta,
         |    (CASE WHEN u.d = 1 AND u.t <= tc.t_star THEN 1.0 / u.Z ELSE 0 END
         |      - u.rh * LEAST(u.GL, tc.GLs) - u.dbeta * tc.Cs) AS dl,
         |    (LEAST(u.EAu, tc.GAs) - u.rh * LEAST(u.EBu, tc.GBs)
         |      - u.dbeta * tc.CGs) AS dg
         |  FROM unit u CROSS JOIN tc)
         |SELECT t_star, ROUND(MAX(LGs), 6) AS cum_gail,
         |  ROUND(SUM((1.0 - pi) * w * dg * w * dg), 4) AS var_gail,
         |  ROUND(MAX(1.0 - EXP(-LAMs * EXP(0.25))), 8) AS abs_risk,
         |  ROUND(SUM((1.0 - pi)
         |    * w * (EXP(-LAMs * EXP(0.25)) * EXP(0.25) * (LAMs * dbeta + dl))
         |    * w * (EXP(-LAMs * EXP(0.25)) * EXP(0.25) * (LAMs * dbeta + dl))),
         |    4) AS var_absr,
         |  ROUND(MAX(1.0 - EXP(-LGs * EXP(0.25))), 8) AS abs_risk_gail,
         |  ROUND(SUM((1.0 - pi)
         |    * w * (EXP(-LGs * EXP(0.25)) * EXP(0.25) * (LGs * dbeta + dg))
         |    * w * (EXP(-LGs * EXP(0.25)) * EXP(0.25) * (LGs * dbeta + dg))),
         |    4) AS var_absr_gail
         |FROM dev GROUP BY t_star ORDER BY t_star""".stripMargin) { (s, d) =>
      import s.implicits._
      val sf = t(s, d, "lineitem").select(
        col("l_quantity").cast("double").as("t"),
        when(col("l_returnflag") =!= "A", 1.0).otherwise(0.0).as("d"),
        (lit(1.0) + col("l_orderkey") % 5).cast("double").as("w"),
        (col("l_discount") * 10).cast("double").as("x"),
        (((col("l_orderkey") % 9) + 1.0) / 10.0).as("pi"))
      val (_, info) = CoxPH.scoreAndInfo(sf, col("t"), col("d"), col("w"),
        Seq(col("x")), Array(0.25))
      val steps = graft.hazard.RiskSet.steps(sf, col("t"), col("d"), col("w"),
        graft.variance.CoxInfluence.relHzd(Seq(col("x")), Array(0.25)),
        Seq(col("x")), sizeHint = Windows.SizeHint.Small)
      val dev = graft.variance.CoxInfluence.deviates(sf, col("t"),
        col("d"), col("w"), Seq(col("x")), Array(0.25), info, steps,
        Seq(col("pi")), Windows.SizeHint.Small)
      val lambdaStar = Seq((0.5, 0.004), (7.0, 0.003), (13.0, 0.0025),
        (22.0, 0.0035), (25.0, 0.002), (33.0, 0.003), (41.0, 0.0015),
        (47.0, 0.0025)).toDF("t", "lambda_star")
      val long = graft.variance.HazardInfluence.cumulativeDeviates(
        dev, steps, p = 1, tStar = Seq(10.0, 20.0, 30.0, 40.0, 50.0),
        lambdaStar = Some(lambdaStar),
        risk = Some(graft.variance.HazardInfluence.RiskProfile(
          Array(0.25), Array(1.0))),
        sizeHint = Windows.SizeHint.Small,
        passthrough = Seq(col("pi")))
      def pvar(dcol: String) = round(sum((lit(1.0) - col("pi"))
        * col("__w") * col(dcol) * col("__w") * col(dcol)), 4)
      long.groupBy(col("t_star"))
        .agg(round(max(col("cum_gail")), 6).as("cum_gail"),
          pvar("d_cum_gail").as("var_gail"),
          round(max(col("abs_risk")), 8).as("abs_risk"),
          pvar("d_abs_risk").as("var_absr"),
          round(max(col("abs_risk_gail")), 8).as("abs_risk_gail"),
          pvar("d_abs_risk_gail").as("var_absr_gail"))
        .orderBy(col("t_star"))
    },

    // ---- M14: delete-a-group jackknife variance (vectorized replicates) ----
    sqlChecked("m14_jackknife",
      """WITH r(rep) AS (SELECT CAST(range AS INT) FROM range(10)),
        |w AS (SELECT rep,
        |        CASE WHEN l_orderkey % 10 = rep THEN 0.0
        |             ELSE l_quantity * 10.0 / 9.0 END AS jw,
        |        l_discount AS y
        |      FROM lineitem CROSS JOIN r),
        |est AS (SELECT rep, SUM(jw * y) / SUM(jw) AS theta FROM w GROUP BY rep)
        |SELECT ROUND(9.0 / 10.0 * SUM((theta - t_bar) * (theta - t_bar)), 12) AS jk_var
        |FROM est, (SELECT AVG(theta) AS t_bar FROM est)""".stripMargin) { (s, d) =>
      import s.implicits._
      val li = t(s, d, "lineitem")
      val rep = graft.variance.Jackknife.replicated(
        li.select(col("l_orderkey"), col("l_quantity"), col("l_discount")),
        (col("l_orderkey") % 10).cast("int"), col("l_quantity"), m = 10)
      val est = rep.groupBy(col("jk_r"))
        .agg((sum(col("jk_wt") * col("l_discount")) / sum(col("jk_wt"))).as("theta"))
      val v = graft.variance.Jackknife.variance(est, col("theta"), m = 10)
        .head().getDouble(0)
      Seq(rnd(v, 12)).toDF("jk_var")
    },

    // ---- M15: PPS draw via deterministic Efraimidis–Spirakis keys ----
    sqlChecked("m15_pps",
      s"""WITH base AS (SELECT c_custkey, ABS(c_acctbal) + 1.0 AS msize FROM customer),
         |tot AS (SELECT SUM(msize) AS tm FROM base),
         |keyed AS (SELECT c_custkey, msize,
         |  -LN(${Rng.uniformSql("c_custkey", 7L)}) / msize AS k
         |  FROM base)
         |SELECT c_custkey, ROUND(tm / (20.0 * msize), 8) AS wt
         |FROM (SELECT * FROM keyed ORDER BY k LIMIT 20), tot
         |ORDER BY c_custkey""".stripMargin) { (s, d) =>
      val base = t(s, d, "customer")
        .select(col("c_custkey"), (abs(col("c_acctbal")) + 1.0).as("msize"))
      graft.sampling.Pps.draw(base, col("c_custkey"), col("msize"), n = 20, salt = 7L)
        .select(col("c_custkey"), round(col("wt"), 8).as("wt"))
        .orderBy(col("c_custkey"))
    },

    // ---- M16: deterministic imputation (WLS fit − predict − clip) ----
    sqlChecked("m16_impute",
      """WITH base AS (
        |  SELECT o_orderkey, o_totalprice / 1000.0 AS y,
        |         CAST(o_custkey % 100 AS DOUBLE) AS x,
        |         1.0 + (o_orderkey % 3) AS w FROM orders),
        |m AS (SELECT SUM(w) AS sw, SUM(w*x) AS swx, SUM(w*x*x) AS swxx,
        |             SUM(w*y) AS swy, SUM(w*x*y) AS swxy FROM base),
        |b AS (SELECT (swxx*swy - swx*swxy)/(sw*swxx - swx*swx) AS b0,
        |             (sw*swxy - swx*swy)/(sw*swxx - swx*swx) AS b1 FROM m)
        |SELECT o_orderkey, ROUND(GREATEST(y - (b0 + b1 * x), 0.0), 8) AS t_imp
        |FROM base, b ORDER BY o_orderkey""".stripMargin) { (s, d) =>
      val base = t(s, d, "orders").select(col("o_orderkey"),
        (col("o_totalprice") / 1000.0).as("y"),
        (col("o_custkey") % 100).cast("double").as("x"),
        (lit(1.0) + col("o_orderkey") % 3).cast("double").as("w"))
      val fit = WeightedGLM.wls(base,
        FeatureArray.withIntercept(Seq(col("x"))), col("y"), col("w"), p = 2)
      base.select(col("o_orderkey"),
          round(greatest(col("y") - (lit(fit.coefficients(0)) +
            lit(fit.coefficients(1)) * col("x")), lit(0.0)), 8).as("t_imp"))
        .orderBy(col("o_orderkey"))
    },

    // ---- M17: composite-weight CV allocation ----
    sqlChecked("m17_composite",
      """WITH cw AS (SELECT ABS(s_acctbal) / 100.0 + 1.0 AS w FROM supplier),
        |     sw AS (SELECT ABS(c_acctbal) / 100.0 + 1.0 AS w FROM customer),
        |     cs AS (SELECT (var_samp(w) / AVG(w * w) + 1.0) / COUNT(*) AS cv,
        |              SUM(w) AS sumw FROM cw),
        |     ss AS (SELECT (var_samp(w) / AVG(w * w) + 1.0) / COUNT(*) AS cv,
        |              SUM(w) AS sumw FROM sw)
        |SELECT
        |  ROUND((cs.sumw + ss.sumw) * (1.0 - cs.cv / (cs.cv + ss.cv)) / cs.sumw / 2.0, 10) AS a_cohort,
        |  ROUND((cs.sumw + ss.sumw) * (1.0 - ss.cv / (cs.cv + ss.cv)) / ss.sumw / 2.0, 10) AS a_survey
        |FROM cs, ss""".stripMargin) { (s, d) =>
      import s.implicits._
      val alloc = graft.weights.Composite.allocation(
        t(s, d, "supplier"), abs(col("s_acctbal")) / 100.0 + 1.0,
        t(s, d, "customer"), abs(col("c_acctbal")) / 100.0 + 1.0)
      Seq((rnd(alloc.aCohort, 10), rnd(alloc.aSurvey, 10))).toDF("a_cohort", "a_survey")
    },

    // ---- M18: raking / iterative proportional fitting — the
    //      multiplicative calibration loop (alternating
    //      post-stratification over two margins, 3 pinned sweeps,
    //      equal-share cell targets). DuckDB replays every sweep as an
    //      unrolled CTE chain; IPF is a contraction, so engine ulp
    //      differences decay across sweeps. ----
    sqlChecked("m18_raking", {
      val sweeps = (1 to 3).map { k =>
        s"""r${k}a AS (SELECT r.rf, r.ls, r.w * t.tgt / m.hat AS w
           |  FROM r${k - 1}b r
           |  JOIN (SELECT rf, SUM(w) AS hat FROM r${k - 1}b GROUP BY rf) m
           |    ON r.rf = m.rf
           |  JOIN trf t ON t.rf = r.rf),
           |r${k}b AS (SELECT r.rf, r.ls, r.w * t.tgt / m.hat AS w
           |  FROM r${k}a r
           |  JOIN (SELECT ls, SUM(w) AS hat FROM r${k}a GROUP BY ls) m
           |    ON r.ls = m.ls
           |  JOIN tls t ON t.ls = r.ls)""".stripMargin
      }.mkString(",\n")
      s"""WITH b AS (SELECT l_returnflag AS rf, l_linestatus AS ls,
         |    1.0 + (l_orderkey % 5) AS w FROM lineitem),
         |tot(t) AS (SELECT SUM(w) FROM b),
         |trf AS (SELECT rf, (SELECT t FROM tot)
         |    / (SELECT COUNT(DISTINCT rf) FROM b) AS tgt
         |  FROM (SELECT DISTINCT rf FROM b)),
         |tls AS (SELECT ls, (SELECT t FROM tot)
         |    / (SELECT COUNT(DISTINCT ls) FROM b) AS tgt
         |  FROM (SELECT DISTINCT ls FROM b)),
         |r0b AS (SELECT rf, ls, w FROM b),
         |$sweeps
         |SELECT rf, ls, ROUND(SUM(w), 2) AS wsum, COUNT(*) AS n
         |FROM r3b GROUP BY rf, ls ORDER BY rf, ls""".stripMargin
    }) { (s, d) =>
      import s.implicits._
      val b = t(s, d, "lineitem").select(
        col("l_returnflag").as("rf"), col("l_linestatus").as("ls"),
        (lit(1.0) + col("l_orderkey") % 5).cast("double").as("w"))
      // grand total + both margins' cell lists in ONE grouping-sets
      // pass (three separate jobs otherwise); rf/ls are never null in
      // the data, so the cube's null markers identify the margin rows
      val gs = b.cube(col("rf"), col("ls")).agg(sum(col("w")).as("s"))
        .filter(col("rf").isNull || col("ls").isNull).collect()
      val tot = gs.find(r => r.isNullAt(0) && r.isNullAt(1)).get.getDouble(2)
      def equalShares(dim: String, idx: Int) = {
        import s.implicits._
        val cs = gs.filter(r => !r.isNullAt(idx) && r.isNullAt(1 - idx))
          .map(_.getString(idx)).toSeq
        cs.map(c => (c, tot / cs.length)).toDF(dim, "tgt")
      }
      graft.weights.Raking.rake(b, col("w"),
          Seq(col("rf") -> equalShares("rf", 0), col("ls") -> equalShares("ls", 1)),
          sweeps = 3)
        .groupBy(col("rf"), col("ls"))
        // round to 2: the engine multiplies IPF factors onto JOINT-cell
        // sums while the oracle multiplies per row before summing — the
        // associativity drift flipped a round-6 boundary at sf0.1 and,
        // with 10x the rows, a round-4 boundary on the sf1 probe
        .agg(round(sum(col("rake_wt")), 2).as("wsum"), count(lit(1)).as("n"))
        .orderBy(col("rf"), col("ls"))
    },

    // ---- M21: heteroskedasticity-robust (HC0) sandwich variance for
    //      WLS — (X'WX)⁻¹[Σw²e²xx'](X'WX)⁻¹, closed-form 2×2 replay in
    //      the oracle. Integer-valued x/y/w keep the normal-equation
    //      sums exact across engines. ----
    sqlChecked("m21_wls_sandwich",
      """WITH b AS (SELECT CAST(l_quantity AS DOUBLE) AS y,
        |    CAST(ROUND(l_discount * 100, 0) AS DOUBLE) AS x,
        |    1.0 + (l_orderkey % 5) AS w
        |  FROM lineitem WHERE l_orderkey % 3 = 0),
        |g AS (SELECT SUM(w) AS s00, SUM(w*x) AS s01, SUM(w*x*x) AS s11,
        |    SUM(w*y) AS t0, SUM(w*x*y) AS t1 FROM b),
        |bt AS (SELECT (s11*t0 - s01*t1)/(s00*s11 - s01*s01) AS b0,
        |    (s00*t1 - s01*t0)/(s00*s11 - s01*s01) AS b1,
        |    s00, s01, s11, s00*s11 - s01*s01 AS det FROM g),
        |m AS (SELECT SUM(w*w*e*e) AS m00, SUM(w*w*e*e*x) AS m01,
        |    SUM(w*w*e*e*x*x) AS m11, MAX(b0) AS b0, MAX(b1) AS b1,
        |    MAX(s00) AS s00, MAX(s01) AS s01, MAX(s11) AS s11,
        |    MAX(det) AS det
        |  FROM (SELECT b.w, b.x, b.y - (bt.b0 + bt.b1*b.x) AS e,
        |      bt.b0, bt.b1, bt.s00, bt.s01, bt.s11, bt.det
        |    FROM b CROSS JOIN bt))
        |SELECT ROUND(b0, 8) AS beta0, ROUND(b1, 8) AS beta1,
        |  ROUND(SQRT((s11*s11*m00 - 2*s11*s01*m01 + s01*s01*m11)
        |    / (det*det)), 6) AS se0,
        |  ROUND(SQRT((s01*s01*m00 - 2*s01*s00*m01 + s00*s00*m11)
        |    / (det*det)), 6) AS se1
        |FROM m""".stripMargin) { (s, d) =>
      import s.implicits._
      val b = t(s, d, "lineitem").filter(col("l_orderkey") % 3 === 0).select(
        col("l_quantity").cast("double").as("y"),
        round(col("l_discount") * 100, 0).cast("double").as("x"),
        (lit(1.0) + col("l_orderkey") % 5).cast("double").as("w"))
      val feats = array(lit(1.0), col("x"))
      val fit = graft.stats.WeightedGLM.wls(b, feats, col("y"), col("w"), p = 2)
      val v = graft.variance.Influence.wlsSandwich(b, fit, feats,
        col("y"), col("w"))
      Seq((rnd(fit.coefficients(0), 8), rnd(fit.coefficients(1), 8),
        rnd(math.sqrt(v(0, 0)), 6), rnd(math.sqrt(v(1, 1)), 6)))
        .toDF("beta0", "beta1", "se0", "se1")
    },

    // ---- M19: Poisson bootstrap replicate weights — the with-
    //      replacement sibling of the delete-a-group jackknife (M14):
    //      every unit draws an independent Poisson(1) multiplier per
    //      replicate (inverse-CDF over the cross-engine RNG stream), so
    //      replication is ONE exploded shuffle with no resampling join;
    //      replicate variance estimates the design variance. Exactly
    //      replayable: DuckDB computes the identical integer RNG and
    //      CDF thresholds. ----
    sqlChecked("m19_bootstrap", {
      val B = 20
      // Poisson(1) CDF, 17 significant digits (both engines parse the
      // same IEEE double)
      val thr = Seq(
        "0.36787944117144233", "0.7357588823428847", "0.9196986029286058",
        "0.9810118431238463", "0.9963401531726563", "0.9994058151824183",
        "0.999916758850712")
      val cases = thr.zipWithIndex
        .map { case (t, k) => s"WHEN u < $t THEN $k" }.mkString(" ")
      val uSql = graft.core.Rng.uniformSql(
        graft.sampling.Resample.mixedKeySql("uid", "r"))
      s"""WITH b AS (SELECT l_orderkey * 10 + l_linenumber AS uid,
         |    l_quantity AS q, 1.0 + (l_orderkey % 5) AS w
         |  FROM lineitem WHERE l_orderkey % 10 = 0),
         |reps AS (SELECT CAST(range AS BIGINT) AS r FROM range($B)),
         |u AS (SELECT uid, q, w, r, $uSql AS u FROM b CROSS JOIN reps),
         |m AS (SELECT uid, q, w, r,
         |    CAST(CASE $cases ELSE 7 END AS DOUBLE) AS m FROM u),
         |est AS (SELECT r, SUM(w * m * q) / SUM(w * m) AS est
         |  FROM m GROUP BY r)
         |SELECT ROUND(AVG(est), 8) AS boot_mean,
         |  ROUND(var_samp(est), 12) AS boot_var,
         |  COUNT(*) AS b
         |FROM est""".stripMargin
    }) { (s, d) =>
      val B = 20
      val b = t(s, d, "lineitem").filter(col("l_orderkey") % 10 === 0).select(
        (col("l_orderkey") * 10 + col("l_linenumber")).cast("long").as("uid"),
        col("l_quantity").cast("double").as("q"),
        (lit(1.0) + col("l_orderkey") % 5).cast("double").as("w"))
      val est = graft.sampling.Resample
        .bootstrapReplicates(b, col("uid"), col("w"), B)
        .groupBy(col("boot_r"))
        .agg((sum(col("boot_wt") * col("q")) / sum(col("boot_wt"))).as("est"))
      est.agg(round(avg(col("est")), 8).as("boot_mean"),
          round(var_samp(col("est")), 12).as("boot_var"),
          count(lit(1)).as("b"))
    },

    // ---- M20: stratified fixed-size sampling — n=50 per stratum drawn
    //      by ranking the deterministic RNG stream within each stratum
    //      (the distributed equivalent of per-stratum SRSWOR; one
    //      window per stratum, no global sort). Oracle replays the same
    //      integer RNG and ranking. ----
    sqlChecked("m20_stratified", {
      val uSql = graft.core.Rng.uniformSql("uid", 77L)
      s"""WITH b AS (SELECT l_orderkey * 10 + l_linenumber AS uid,
         |    l_returnflag AS rf, l_quantity AS q FROM lineitem),
         |keyed AS (SELECT uid, rf, q, $uSql AS u FROM b),
         |ranked AS (SELECT rf, q,
         |    ROW_NUMBER() OVER (PARTITION BY rf ORDER BY u, uid) AS rk
         |  FROM keyed)
         |SELECT rf, COUNT(*) AS n,
         |  CAST(SUM(CAST(q AS BIGINT)) AS BIGINT) AS qty
         |FROM ranked WHERE rk <= 50 GROUP BY rf ORDER BY rf""".stripMargin
    }) { (s, d) =>
      val b = t(s, d, "lineitem").select(
        (col("l_orderkey") * 10 + col("l_linenumber")).cast("long").as("uid"),
        col("l_returnflag").as("rf"), col("l_quantity").as("q"))
      graft.sampling.Resample
        .stratifiedFixed(b, col("rf"), col("uid"), n = 50, salt = 77L)
        .groupBy(col("rf"))
        .agg(count(lit(1)).as("n"),
          sum(col("q").cast("bigint")).as("qty"))
        .orderBy(col("rf"))
    },

    // ---- S3: deterministic synthetic population (cross-engine RNG) ----
    sqlChecked("s3_population", {
      // salts must match Population.generate: x1 uses (1, 1+1000003), etc.
      val s3u = (salt: Long) => Rng.uniformSql("id", salt)
      s"""WITH ids AS (SELECT CAST(range AS BIGINT) + 1 AS id FROM range(2000)),
         |g AS (SELECT id,
         |  SQRT(-2.0 * LN(${s3u(1)})) * COS(2.0 * PI() * ${s3u(1000004)}) * 4.0 AS x1,
         |  SQRT(-2.0 * LN(${s3u(2)})) * COS(2.0 * PI() * ${s3u(1000005)}) * 2.0 AS x2,
         |  SQRT(-2.0 * LN(${s3u(3)})) * COS(2.0 * PI() * ${s3u(1000006)}) * 2.0 AS x3,
         |  ${s3u(4)} AS ut, ${s3u(5)} AS uc
         |  FROM ids),
         |p AS (SELECT id, x1, x2, x3,
         |  POW(-LN(1.0 - ut) / EXP(${math.log(-math.log(0.85) / 15.0)} +
         |    0.2 * x1 + 0.2 * x2 + 0.3 * x3), 1.0) AS t_event,
         |  uc * 30.0 AS c1
         |  FROM g)
         |SELECT id, ROUND(x1, 6) AS x1, ROUND(x2, 6) AS x2, ROUND(x3, 6) AS x3,
         |  ROUND(LEAST(t_event, c1, 15.0), 6) AS t,
         |  CASE WHEN t_event <= LEAST(c1, 15.0) THEN 1 ELSE 0 END AS d
         |FROM p ORDER BY id""".stripMargin
    }) { (s, d) =>
      graft.sampling.Population.generate(s, 2000)
        .select(col("id"), round(col("x1"), 6).as("x1"), round(col("x2"), 6).as("x2"),
          round(col("x3"), 6).as("x3"), round(col("t"), 6).as("t"), col("d"))
        .orderBy(col("id"))
    },

    // ---- M22: PSAS propensity-score stratification pseudo-weights —
    // the reference header's third weighting method (simu_fun.R:2,12;
    // body never shipped there): quintile strata of the cohort score,
    // cohort unit gets stratum survey mass / stratum cohort count ----
    sqlChecked("m22_psas",
      """WITH c AS (SELECT c_custkey AS id, 0.2 + 0.3 * c_acctbal / 1000.0 AS q
        |           FROM customer),
        |     s AS (SELECT 0.2 + 0.3 * s_acctbal / 1000.0 AS q,
        |             (s_suppkey % 5) + 1.0 AS wt FROM supplier),
        |     b AS (SELECT quantile_cont(q, 0.2) AS b1, quantile_cont(q, 0.4) AS b2,
        |             quantile_cont(q, 0.6) AS b3, quantile_cont(q, 0.8) AS b4 FROM c),
        |     ch AS (SELECT id, CASE WHEN q <= b1 THEN 1 WHEN q <= b2 THEN 2
        |              WHEN q <= b3 THEN 3 WHEN q <= b4 THEN 4 ELSE 5 END AS h
        |            FROM c, b),
        |     sh AS (SELECT CASE WHEN q <= b1 THEN 1 WHEN q <= b2 THEN 2
        |              WHEN q <= b3 THEN 3 WHEN q <= b4 THEN 4 ELSE 5 END AS h, wt
        |            FROM s, b),
        |     st AS (SELECT h, SUM(wt) AS swt FROM sh GROUP BY h),
        |     cn AS (SELECT h, COUNT(*) AS n FROM ch GROUP BY h)
        |SELECT ch.id AS c_custkey,
        |  ROUND(COALESCE(st.swt, 0.0) / cn.n, 8) AS psas
        |FROM ch JOIN cn USING (h) LEFT JOIN st USING (h)
        |ORDER BY c_custkey""".stripMargin) { (s, d) =>
      graft.weights.Psas.compute(
          t(s, d, "supplier"), lit(0.2) + lit(0.3) * col("s_acctbal") / 1000.0,
          (col("s_suppkey") % 5 + 1.0).cast("double"),
          t(s, d, "customer"), col("c_custkey"),
          lit(0.2) + lit(0.3) * col("c_acctbal") / 1000.0, g = 5)
        .select(col("c_id").as("c_custkey"), round(col("psas"), 8).as("psas"))
        .orderBy(col("c_custkey"))
    },

    // ---- M23: weighting-class nonresponse adjustment — redistribute
    // the sample's own weight mass from nonrespondents (status 'P') to
    // respondents within o_orderpriority classes; Σ adj = Σ wt per
    // class with ≥1 respondent ----
    sqlChecked("m23_nonresponse",
      """WITH s AS (SELECT o_orderkey, o_orderpriority AS cls,
        |             (o_orderkey % 7) + 1.0 AS wt,
        |             o_orderstatus <> 'P' AS resp FROM orders),
        |     f AS (SELECT cls, SUM(wt) / SUM(CASE WHEN resp THEN wt ELSE 0 END) AS fac
        |           FROM s GROUP BY cls
        |           HAVING SUM(CASE WHEN resp THEN wt ELSE 0 END) > 0)
        |SELECT s.o_orderkey, ROUND(s.wt * f.fac, 8) AS adj_wt
        |FROM s JOIN f USING (cls) WHERE s.resp
        |ORDER BY s.o_orderkey""".stripMargin) { (s, d) =>
      graft.weights.Nonresponse.adjust(
          t(s, d, "orders").select(col("o_orderkey"), col("o_orderpriority"),
            col("o_orderstatus")),
          col("o_orderpriority"),
          (col("o_orderkey") % 7 + 1.0).cast("double"),
          col("o_orderstatus") =!= "P")
        .select(col("o_orderkey"), round(col("adj_wt"), 8).as("adj_wt"))
        .orderBy(col("o_orderkey"))
    },

    // ---- M24: weight trimming at the p90 cap with proportional mass
    // redistribution — the standard guard against extreme pseudo-
    // weights (IPSW odds / KW ratios are unbounded above); Σ trim_wt
    // = Σ w exactly ----
    sqlChecked("m24_trim",
      """WITH w AS (SELECT c_custkey, EXP(c_acctbal / 1500.0) AS w FROM customer),
        |cap AS (SELECT quantile_cont(w, 0.9) AS cap FROM w),
        |agg AS (SELECT
        |    COALESCE(SUM(CASE WHEN w > cap THEN w - cap END), 0) AS excess,
        |    COALESCE(SUM(CASE WHEN w <= cap THEN w END), 0) AS unt
        |  FROM w, cap)
        |SELECT c_custkey,
        |  ROUND(CASE WHEN w > cap THEN cap
        |             ELSE w * (1 + excess / unt) END, 8) AS trim_wt
        |FROM w, cap, agg ORDER BY c_custkey""".stripMargin) { (s, d) =>
      graft.weights.Trimming.trim(
          t(s, d, "customer").select(col("c_custkey"),
            exp(col("c_acctbal") / 1500.0).as("w")),
          col("w"), p = 0.9)
        .select(col("c_custkey"), round(col("trim_wt"), 8).as("trim_wt"))
        .orderBy(col("c_custkey"))
    },

    // ---- M25: systematic 1-in-10 sampling on the acctbal-ordered
    // frame (implicit stratification); position = two-phase distributed
    // prefix count, never a single-partition window ----
    sqlChecked("m25_systematic",
      """WITH r AS (SELECT c_custkey,
        |    ROW_NUMBER() OVER (ORDER BY c_acctbal, c_custkey) AS rn
        |  FROM customer)
        |SELECT c_custkey, 10.0 AS sys_wt FROM r
        |WHERE (rn - 1) % 10 = 3 ORDER BY c_custkey""".stripMargin) { (s, d) =>
      graft.sampling.Systematic.draw(
          t(s, d, "customer").select(col("c_custkey"), col("c_acctbal")),
          Seq(col("c_acctbal"), col("c_custkey")), k = 10, start = 3)
        .select(col("c_custkey"), col("sys_wt"))
        .orderBy(col("c_custkey"))
    }
  )
}
