package graft.relational

import graft.core.{Rng, Tables, Windows}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Fourth statistical batch — the replication-variance completion of the
  * survey toolbox (jk_fun.R gives the reference's jackknife; these are
  * the other two standard machines a calibration shop runs, plus the
  * Woodruff quantile CI that Taylor linearization cannot reach):
  *
  *   - m46_woodruff — design-weighted median with a Woodruff CI
  *     (invert the CI of the estimated CDF at the median);
  *   - m47_rao_wu   — Rao–Wu–Yue rescaling bootstrap for a stratified
  *     design (m_h = n_h − 1 draws with replacement, rescaled weights);
  *   - m48_brr_fay  — balanced repeated replication with Fay's ρ = 0.5
  *     on a 2-PSU-per-stratum design, Sylvester–Hadamard balance.
  *
  * Cross-engine discipline: every inner sum is integer-valued (cents,
  * integer weights, integer draw counts), so partial-aggregate order
  * never perturbs a bit; only the tiny per-replicate finishing ratios
  * (≤ strata terms) and the R-row variance ride in doubles, rounded in
  * both engines.
  */
object StatQueries4 {
  import QueryDef._

  private def t(s: SparkSession, d: String, n: String) = Tables(s, d, n)

  /** Unrolled 2-parameter logistic-IRLS CTE stack (the StatQueries.irlsSql
    * recurrence) ENDING at `it$nIter` (b0, b1) unrounded, so downstream
    * CTEs can consume the fitted coefficients. */
  private def irlsCtes(nIter: Int, baseSql: String): String = {
    val sb = new StringBuilder
    sb.append(s"base AS ($baseSql),\n")
    sb.append("it0 AS (SELECT CAST(0.0 AS DOUBLE) AS b0, CAST(0.0 AS DOUBLE) AS b1)")
    for (k <- 1 to nIter) {
      sb.append(",\n")
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
    }
    sb.toString
  }

  val all: Seq[QueryDef] = Seq(

    // ---- M46: Woodruff confidence interval for the design-weighted
    //      median of customer balance. Taylor deviates (M13) cover
    //      smooth statistics; the median needs Woodruff's inversion:
    //      SE of the estimated CDF at the median, then read the x-axis
    //      back at levels p ± z·SE(p). The CDF table is one distinct-
    //      value hash agg + the two-phase grouped scan (no single-task
    //      global window); all cumulative weights are BIGINT so both
    //      engines compare identical integers, and the two CI level
    //      comparisons are identical doubles computed from identical
    //      integers. ----
    sqlChecked("m46_woodruff",
      """WITH c AS (SELECT c_acctbal AS x,
        |    CAST(1 + c_custkey % 3 AS BIGINT) AS w FROM customer),
        |d AS (SELECT x, CAST(SUM(w) AS BIGINT) AS wv FROM c GROUP BY x),
        |s AS (SELECT x, CAST(SUM(wv) OVER (ORDER BY x
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS cw FROM d),
        |tt AS (SELECT CAST(SUM(wv) AS BIGINT) AS b FROM d),
        |m AS (SELECT MIN(CASE WHEN cw * 2 >= b THEN x END) AS med,
        |    MIN(CASE WHEN cw * 2 >= b THEN cw END) AS a, MAX(b) AS b
        |  FROM s, tt),
        |v AS (SELECT MAX(m.med) AS med, MAX(m.a) AS a, MAX(m.b) AS b,
        |    SUM(w * w * (CASE WHEN c.x <= m.med THEN m.b ELSE 0 END - m.a)
        |              * (CASE WHEN c.x <= m.med THEN m.b ELSE 0 END - m.a))
        |      AS vnum
        |  FROM c, m),
        |se AS (SELECT med, CAST(a AS DOUBLE) / b AS p,
        |    SQRT(CAST(vnum AS DOUBLE)) / (CAST(b AS DOUBLE) * CAST(b AS DOUBLE))
        |      AS se_p, b FROM v)
        |SELECT ROUND(med, 2) AS median, ROUND(se_p, 8) AS se_p,
        |  (SELECT MIN(CASE WHEN CAST(cw AS DOUBLE) >=
        |      (se.p - 1.959964 * se.se_p) * se.b THEN x END)
        |    FROM s, se) AS ci_lo,
        |  (SELECT MIN(CASE WHEN CAST(cw AS DOUBLE) >=
        |      (se.p + 1.959964 * se.se_p) * se.b THEN x END)
        |    FROM s, se) AS ci_hi
        |FROM se""".stripMargin) { (s, d) =>
      val c = t(s, d, "customer").select(col("c_acctbal").as("x"),
        (lit(1L) + col("c_custkey") % 3).cast("long").as("w"))
      val byX = c.groupBy(col("x")).agg(sum(col("w")).as("wv"))
      // two-phase scan: the distinct-value table is data-sized (near-
      // unique balances), so no global single-task window
      val cum = Windows.groupedScan(byX, Seq(lit(1)), Seq(col("x")),
          Seq(col("wv") -> "cw"), sizeHint = Windows.SizeHint.Large)
        .withColumn("cw", col("cw").cast("long"))
        // persisted through the caller's action (the returned plan
        // reads it twice); freed by the harness clearCache per query
        .select(col("x"), col("cw")).persist()
      val tot = cum.agg(max(col("cw")).as("b"))
      val med = cum.crossJoin(broadcast(tot)).agg(
        min(when(col("cw") * 2 >= col("b"), col("x"))).as("med"),
        min(when(col("cw") * 2 >= col("b"), col("cw"))).as("a"),
        max(col("b")).as("b"))
      // vnum = Σ w²(I·b − a)² exactly (I the ≤-median indicator);
      // SE(p̂) = √vnum / b² — one scan over the raw rows. Each TERM is
      // the SUM crosses 2⁶³ at ~1.5M rows (measured: sf10's 100× probe
      // threw ARITHMETIC_OVERFLOW here), so the whole product chain runs
      // in decimal(38,0) — the FIRST operand is cast before any
      // multiplication, keeping every term (not just the sum) exact
      // 128-bit at any row count; DuckDB's HUGEINT sum yields the same
      // integer, and both engines round it to double identically under
      // the √.
      val dev = when(col("x") <= col("med"), col("b")).otherwise(lit(0L)) -
        col("a")
      val v = c.crossJoin(broadcast(med)).agg(
        max(col("med")).as("med"), max(col("a")).as("a"),
        max(col("b")).as("b"),
        sum(col("w").cast("decimal(38,0)") * col("w") * dev * dev)
          .as("vnum"))
      val se = v.select(col("med"),
        (col("a").cast("double") / col("b")).as("p"),
        (sqrt(col("vnum").cast("double")) /
          (col("b").cast("double") * col("b").cast("double"))).as("se_p"),
        col("b"))
      val lo = (col("p") - lit(1.959964) * col("se_p")) * col("b")
      val hi = (col("p") + lit(1.959964) * col("se_p")) * col("b")
      cum.crossJoin(broadcast(se)).agg(
        round(max(col("med")), 2).as("median"),
        round(max(col("se_p")), 8).as("se_p"),
        min(when(col("cw").cast("double") >= lo, col("x"))).as("ci_lo"),
        min(when(col("cw").cast("double") >= hi, col("x"))).as("ci_hi"))
    },

    // ---- M47: Rao–Wu–Yue rescaling bootstrap, stratified by market
    //      segment. Per stratum h draw m_h = n_h − 1 units WITH
    //      replacement (index = ⌊u·n_h⌋ on the cross-engine RNG keyed
    //      by (stratum, replicate, draw)); rescaled weight
    //      w*_i = w_i · n_h/(n_h−1) · s_i with s_i the selection count
    //      — the m_h = n_h−1 choice makes the rescaling factor exact.
    //      Draw volume is R·n total (linear, shuffle = one equi-join of
    //      draws onto the ranked frame); per-(replicate, stratum) sums
    //      are exact BIGINTs (cents × integer weights × counts), only
    //      the ≤5-term finishing ratio is floating. ----
    sqlChecked("m47_rao_wu", {
      val R = 16
      val key = "((sid * 131 + r) * 1048576 + j)"
      val uSql = Rng.uniformSql(key, 4242L)
      s"""WITH segs AS (SELECT c_mktsegment AS seg,
         |    ROW_NUMBER() OVER (ORDER BY c_mktsegment) AS sid,
         |    COUNT(*) AS nh
         |  FROM customer GROUP BY c_mktsegment),
         |u AS (SELECT c_mktsegment AS seg, c_custkey,
         |    CAST(FLOOR(c_acctbal * 100 + 0.5) AS BIGINT) AS yq,
         |    CAST(1 + c_custkey % 3 AS BIGINT) AS w,
         |    ROW_NUMBER() OVER (PARTITION BY c_mktsegment
         |      ORDER BY c_custkey) AS rk
         |  FROM customer),
         |dj AS (SELECT seg, sid, nh, r.r,
         |    unnest(range(1, CAST(nh AS BIGINT))) AS j
         |  FROM segs CROSS JOIN (SELECT CAST(range AS BIGINT) + 1 AS r
         |    FROM range($R)) r),
         |draws AS (SELECT seg, nh, r, j,
         |    1 + CAST(FLOOR($uSql * nh) AS BIGINT) AS rk FROM dj),
         |sel AS (SELECT d.r, d.seg, d.nh, u.yq, u.w,
         |    COUNT(*) AS s_i
         |  FROM draws d JOIN u ON u.seg = d.seg AND u.rk = d.rk
         |  GROUP BY d.r, d.seg, d.nh, u.c_custkey, u.yq, u.w),
         |hsum AS (SELECT r, seg, MAX(nh) AS nh,
         |    CAST(SUM(w * s_i * yq) AS BIGINT) AS a,
         |    CAST(SUM(w * s_i) AS BIGINT) AS b
         |  FROM sel GROUP BY r, seg),
         |est AS (SELECT r,
         |    SUM(CAST(nh AS DOUBLE) / (nh - 1) * a) /
         |    SUM(CAST(nh AS DOUBLE) / (nh - 1) * b) / 100.0 AS est
         |  FROM hsum GROUP BY r),
         |full_t AS (SELECT CAST(SUM(w * yq) AS BIGINT) AS a,
         |    CAST(SUM(w) AS BIGINT) AS b FROM u),
         |th AS (SELECT CAST(a AS DOUBLE) / b / 100.0 AS theta FROM full_t)
         |SELECT ROUND(MAX(th.theta), 6) AS theta_hat,
         |  ROUND(SQRT(SUM((est.est - th.theta) * (est.est - th.theta))
         |    / $R), 6) AS se_boot,
         |  CAST($R AS BIGINT) AS r_reps
         |FROM est, th""".stripMargin
    }) { (s, d) =>
      val R = 16
      val cust = t(s, d, "customer")
      val u0 = cust.select(col("c_mktsegment").as("seg"), col("c_custkey"),
        floor(col("c_acctbal") * 100 + 0.5).cast("long").as("yq"),
        (lit(1L) + col("c_custkey") % 3).cast("long").as("w"))
      // per-stratum sizes + a dense stratum id (5 segments — the dim
      // table is tiny and broadcast everywhere it is used)
      val segs = u0.groupBy(col("seg")).agg(count(lit(1)).as("nh"))
        .withColumn("sid", row_number().over(
          org.apache.spark.sql.expressions.Window.orderBy(col("seg"))))
      // in-stratum rank: two-phase grouped scan (cumulative count), no
      // single-task per-stratum window at scale
      val ranked = Windows.groupedScan(u0, Seq(col("seg")),
          Seq(col("c_custkey")), Seq(lit(1L) -> "rk"),
          sizeHint = Windows.SizeHint.Large)
        .withColumn("rk", col("rk").cast("long"))
      // the draw frame: (stratum × replicate × draw j ≤ n_h−1); RNG key
      // mixes all three so streams never collide. Standard Rao–Wu–Yue
      // requires n_h ≥ 2: a singleton stratum would make Spark's
      // sequence(1, 0) auto-step DOWN to [1, 0] (where DuckDB's
      // range(1, 1) is empty) and the nh/(nh−1) rescale divide by
      // zero — filter them out explicitly so both engines agree even
      // if the data ever produces one.
      // The draw frame is R·n rows exploded out of the 5-row segs
      // aggregate, so Catalyst's size estimate for it stays tiny (a
      // Generate's stats don't see the data-dependent fan-out) and the
      // static planner would BROADCAST the 96M-row draw stream at 400×
      // (13.7 GiB build > the 8 GiB broadcast cap — measured). Two
      // counter-measures: spread the draw frame across the cluster
      // BEFORE the big per-draw explode so draw generation is
      // embarrassingly parallel, and pin the join below to a shuffle
      // hash join (build = the n-row ranked side, ~6M rows/32
      // partitions) — an equi-join on (seg, rk), where rk is
      // near-unique within a stratum, so the composite key carries no
      // skew. The repartition key is (sid, r, bk): stratum × replicate
      // alone is ≤ 5·16 = 80 distinct keys — a hard parallelism cap on
      // the 400× deployment this defends — so each (sid, r) pair is
      // further split into `drawBlocks` residue classes (block bk
      // explodes j ≡ bk (mod drawBlocks)); the union of blocks is
      // exactly {1..nh−1} per (sid, r), so the emitted row set (and
      // the oracle hash) is unchanged while occupancy scales to
      // 80·drawBlocks tasks. Kept UNCONDITIONAL (costs +~0.4 s at
      // sf0.1 vs the old broadcast): any size-based gate re-reads the
      // same mis-estimated Generate stats that caused the sf40
      // broadcast failure, so there is no safe signal to gate on.
      val drawBlocks = 64L
      val draws = segs.filter(col("nh") > 1)
        .withColumn("r", explode(sequence(lit(1L), lit(R.toLong))))
        .withColumn("bk", explode(sequence(lit(0L),
          least(lit(drawBlocks - 1), col("nh") - 2))))
        .repartition(col("sid"), col("r"), col("bk"))
        .withColumn("j", explode(sequence(lit(1L) + col("bk"),
          col("nh") - 1, lit(drawBlocks))))
        .withColumn("rk", lit(1L) + floor(Rng.uniform(
          (col("sid") * 131 + col("r")) * 1048576L + col("j"),
          4242L) * col("nh")).cast("long"))
      val sel = draws.join(ranked.hint("shuffle_hash"), Seq("seg", "rk"))
        .groupBy(col("r"), col("seg"), col("c_custkey"))
        .agg(max(col("nh")).as("nh"), max(col("yq")).as("yq"),
          max(col("w")).as("w"), count(lit(1)).as("s_i"))
      val hsum = sel.groupBy(col("r"), col("seg")).agg(
        max(col("nh")).as("nh"),
        sum(col("w") * col("s_i") * col("yq")).as("a"),
        sum(col("w") * col("s_i")).as("b"))
      val f = col("nh").cast("double") / (col("nh") - 1)
      val est = hsum.groupBy(col("r"))
        .agg((sum(f * col("a")) / sum(f * col("b")) / 100.0).as("est"))
      val th = u0.agg((sum(col("w") * col("yq")).cast("double") /
        sum(col("w")) / 100.0).as("theta"))
      est.crossJoin(broadcast(th)).agg(
        round(max(col("theta")), 6).as("theta_hat"),
        round(sqrt(sum(pow(col("est") - col("theta"), 2)) / R), 6)
          .as("se_boot"),
        lit(R.toLong).as("r_reps"))
    },

    // ---- M48: balanced repeated replication with Fay's ρ = 0.5 over
    //      a 2-PSU-per-stratum design (8 strata by nation, halves by
    //      key parity). Replicate factors come from the Sylvester–
    //      Hadamard matrix computed ARITHMETICALLY — sign(r,h) =
    //      1 − 2·(popcount(r AND h) mod 2) — so neither engine carries
    //      a literal table; factors {0.5, 1.5} are doubled to integers
    //      inside the sums (2f·w·yq is BIGINT-exact), and
    //      V = Σ_r (θ̂_r − θ̂)² / (R·(1−ρ)²). One scan computes all
    //      8 replicates via the replicate-explode (8× row fanout of a
    //      3-column projection, then one hash agg — no per-replicate
    //      rescans). ----
    sqlChecked("m48_brr_fay", {
      val R = 8
      s"""WITH u AS (SELECT CAST(c_nationkey % 8 AS BIGINT) AS h,
         |    CAST(c_custkey % 2 AS BIGINT) AS half,
         |    CAST(FLOOR(c_acctbal * 100 + 0.5) AS BIGINT) AS yq,
         |    CAST(1 + c_custkey % 3 AS BIGINT) AS w
         |  FROM customer),
         |reps AS (SELECT CAST(range AS BIGINT) AS r FROM range($R)),
         |x AS (SELECT r, h, half, yq, w,
         |    CAST(2 + (1 - 2 * (bit_count(r & h) % 2))
         |        * (2 * half - 1) AS BIGINT) AS f2
         |  FROM u CROSS JOIN reps),
         |est AS (SELECT r,
         |    CAST(SUM(f2 * w * yq) AS DOUBLE)
         |      / CAST(SUM(f2 * w) AS DOUBLE) / 100.0 AS est
         |  FROM x GROUP BY r),
         |full_t AS (SELECT CAST(SUM(w * yq) AS BIGINT) AS a,
         |    CAST(SUM(w) AS BIGINT) AS b FROM u),
         |th AS (SELECT CAST(a AS DOUBLE) / b / 100.0 AS theta FROM full_t)
         |SELECT ROUND(MAX(th.theta), 6) AS theta_hat,
         |  ROUND(SQRT(SUM((est.est - th.theta) * (est.est - th.theta))
         |    / ($R * 0.25)), 6) AS se_brr,
         |  CAST($R AS BIGINT) AS r_reps
         |FROM est, th""".stripMargin
    }) { (s, d) =>
      val R = 8
      val u = t(s, d, "customer").select(
        (col("c_nationkey") % 8).cast("long").as("h"),
        (col("c_custkey") % 2).cast("long").as("half"),
        floor(col("c_acctbal") * 100 + 0.5).cast("long").as("yq"),
        (lit(1L) + col("c_custkey") % 3).cast("long").as("w"))
      val x = u.withColumn("r", explode(sequence(lit(0L), lit(R - 1L))))
        .withColumn("f2", (lit(2L) +
          (lit(1L) - lit(2L) * (expr("bit_count(r & h)") % 2)) *
            (lit(2L) * col("half") - 1)).cast("long"))
      val est = x.groupBy(col("r")).agg(
        (sum(col("f2") * col("w") * col("yq")).cast("double") /
          sum(col("f2") * col("w")).cast("double") / 100.0).as("est"))
      val th = u.agg((sum(col("w") * col("yq")).cast("double") /
        sum(col("w")).cast("double") / 100.0).as("theta"))
      est.crossJoin(broadcast(th)).agg(
        round(max(col("theta")), 6).as("theta_hat"),
        round(sqrt(sum(pow(col("est") - col("theta"), 2)) / (R * 0.25)), 6)
          .as("se_brr"),
        lit(R.toLong).as("r_reps"))
    },

    // ---- M49: caliper propensity matching (with replacement) — the
    //      matching-based cousin of IPSW/PSAS: fit the propensity by
    //      the pinned 6-iteration logistic IRLS, quantize scores to
    //      integer micro-units (1e-6 — cross-engine ulp noise cannot
    //      move a score across a caliper boundary), then match every
    //      treated unit to its nearest control within a 0.02 caliper.
    //      BOTH engines use the sorted nearest-neighbor form (controls
    //      collapsed to distinct scores, interleaved with treated in
    //      score order, LOCF both directions, closer-of-prev/next with
    //      a (distance, id) tiebreak): the weak propensity model
    //      concentrates scores, so any in-caliper pair enumeration —
    //      engine OR oracle — degenerates to treated×controls (the
    //      sf1 probe OOM'd DuckDB on the old band-join oracle). ----
    sqlChecked("m49_caliper_match", {
      val baseSql =
        """SELECT c_custkey AS id,
          |  CASE WHEN c_custkey % 7 = 0 THEN 1.0 ELSE 0.0 END AS y,
          |  c_acctbal / 10000.0 AS x, 1.0 AS w FROM customer""".stripMargin
      s"""WITH ${irlsCtes(6, baseSql)},
         |sc AS (SELECT id, y,
         |    CAST(FLOOR((1/(1+EXP(-(p.b0 + p.b1*x)))) * 1000000.0 + 0.5)
         |      AS BIGINT) AS sq
         |  FROM base, it6 p),
         |tr AS (SELECT id AS t_id, sq AS t_sq FROM sc WHERE y = 1.0),
         |ctq AS (SELECT sq AS csq, MIN(id) AS cid
         |  FROM sc WHERE y = 0.0 GROUP BY sq),
         |uni AS (SELECT csq * 2 AS ord, CAST(NULL AS BIGINT) AS t_id,
         |    csq AS sq, csq AS c_csq, cid AS c_cid FROM ctq
         |  UNION ALL SELECT t_sq * 2 + 1, t_id, t_sq, NULL, NULL FROM tr),
         |lw AS (SELECT ord, t_id, sq,
         |    LAST_VALUE(c_csq IGNORE NULLS) OVER (ORDER BY ord
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS p_csq,
         |    LAST_VALUE(c_cid IGNORE NULLS) OVER (ORDER BY ord
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS p_cid,
         |    FIRST_VALUE(c_csq IGNORE NULLS) OVER (ORDER BY ord
         |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS n_csq,
         |    FIRST_VALUE(c_cid IGNORE NULLS) OVER (ORDER BY ord
         |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS n_cid
         |  FROM uni),
         |best AS (SELECT t_id, sq AS t_sq,
         |    CASE
         |      WHEN p_csq IS NULL AND n_csq IS NULL THEN NULL
         |      WHEN n_csq IS NULL THEN p_cid
         |      WHEN p_csq IS NULL THEN n_cid
         |      WHEN (ABS(sq - p_csq), p_cid) <= (ABS(sq - n_csq), n_cid)
         |        THEN p_cid ELSE n_cid END AS c_id,
         |    CASE
         |      WHEN p_csq IS NULL AND n_csq IS NULL THEN NULL
         |      WHEN n_csq IS NULL THEN p_csq
         |      WHEN p_csq IS NULL THEN n_csq
         |      WHEN (ABS(sq - p_csq), p_cid) <= (ABS(sq - n_csq), n_cid)
         |        THEN p_csq ELSE n_csq END AS c_sq
         |  FROM lw WHERE t_id IS NOT NULL)
         |SELECT t_id, t_sq,
         |  CASE WHEN ABS(t_sq - c_sq) <= 20000 THEN c_id END AS c_id,
         |  CASE WHEN ABS(t_sq - c_sq) <= 20000 THEN c_sq END AS c_sq,
         |  CASE WHEN ABS(t_sq - c_sq) <= 20000
         |    THEN ABS(t_sq - c_sq) END AS dist
         |FROM best ORDER BY t_id""".stripMargin
    }) { (s, d) =>
      val base = t(s, d, "customer").select(
        col("c_custkey").cast("long").as("id"),
        when(col("c_custkey") % 7 === 0, 1.0).otherwise(0.0).as("y"),
        (col("c_acctbal") / 10000.0).as("x"))
      val fit = graft.stats.WeightedGLM.logistic(base,
        graft.core.FeatureArray.withIntercept(Seq(col("x"))),
        col("y"), lit(1.0), p = 2, maxIter = 6, tol = 0.0)
      val (b0, b1) = (fit.coefficients(0), fit.coefficients(1))
      val C = 20000L
      val sc = base.withColumn("sq",
        floor((lit(1.0) / (lit(1.0) + exp(-(lit(b0) + lit(b1) * col("x")))))
          * 1000000.0 + 0.5).cast("long"))
      val tr = sc.filter(col("y") === 1.0)
        .select(col("id").as("t_id"), col("sq").as("t_sq"))
      // nearest control WITHOUT enumerating in-caliper pairs: when the
      // propensity model is weak the scores concentrate and every
      // control is within caliper of every treated unit — a bucketed
      // candidate join degenerates to treated×controls (measured 12 s
      // at sf0.1). Instead: collapse controls to (score → min id),
      // interleave with treated in score order, and LOCF both ways
      // (two-phase, core/AsOf — no single-partition window); the
      // nearest in-caliper control is provably the closer of the
      // previous/next control score, with the same (distance, id)
      // tiebreak the quadratic form uses.
      val ctq = sc.filter(col("y") === 0.0)
        .groupBy(col("sq").as("csq")).agg(min(col("id")).as("cid"))
      val uni = ctq.select((col("csq") * 2).as("ord"), lit(null)
          .cast("long").as("t_id"), col("csq").as("sq"),
          col("csq").as("p_csq"), col("cid").as("p_cid"),
          col("csq").as("n_csq"), col("cid").as("n_cid"))
        .unionByName(tr.select((col("t_sq") * 2 + 1).as("ord"),
          col("t_id"), col("t_sq").as("sq"),
          lit(null).cast("long").as("p_csq"), lit(null).cast("long").as("p_cid"),
          lit(null).cast("long").as("n_csq"), lit(null).cast("long").as("n_cid")))
      // the interleaved frame is customer-sized: declared Large
      val withPrev = graft.core.AsOf.locfPartitioned(uni, col("ord"),
        Seq("p_csq", "p_cid"), sizeHint = Windows.SizeHint.Large)
      val withBoth = graft.core.AsOf.locfPartitioned(withPrev,
        -col("ord"), Seq("n_csq", "n_cid"), sizeHint = Windows.SizeHint.Large)
      def cand(csq: org.apache.spark.sql.Column,
          cid: org.apache.spark.sql.Column) = when(csq.isNull, lit(null))
        .otherwise(struct(abs(col("sq") - csq).as("dist"),
          cid.as("c_id"), csq.as("c_sq")))
      val best = withBoth.filter(col("t_id").isNotNull)
        .withColumn("m", least(cand(col("p_csq"), col("p_cid")),
          cand(col("n_csq"), col("n_cid"))))
        .withColumn("m", when(col("m.dist") <= C, col("m")))
      best.select(col("t_id"), col("sq").as("t_sq"),
          col("m.c_id").as("c_id"), col("m.c_sq").as("c_sq"),
          col("m.dist").as("dist"))
        .orderBy(col("t_id"))
    },

    // ---- M50: bounded (logit-distance) calibration — Deville–Särndal
    //      on the reference's own turf (survey calibration): adjust the
    //      design weights of a 2/3 subsample so its totals of (1, x)
    //      hit the full-frame targets, with every calibration factor
    //      CONSTRAINED to [0.5, 2]. Eight pinned Newton steps, each ONE
    //      hash-aggregate scan (p-vector residual + p×p Jacobian to the
    //      driver); the oracle replays the identical fixed point and
    //      the factor-bounds check. Targets ride an exact-cents BIGINT
    //      sum so both engines aim at the same doubles. ----
    sqlChecked("m50_bounded_calib", {
      val n = 8
      val sb = new StringBuilder
      sb.append("WITH base AS (SELECT c_acctbal / 10000.0 AS x, 1.5 AS d\n")
      sb.append("  FROM customer WHERE c_custkey % 3 <> 0),\n")
      sb.append("""tgt AS (SELECT CAST(COUNT(*) AS DOUBLE) AS t0,
        |    CAST(SUM(CAST(FLOOR(c_acctbal * 100 + 0.5) AS BIGINT)) AS DOUBLE)
        |      / 100.0 / 10000.0 AS t1 FROM customer),
        |it0 AS (SELECT CAST(0.0 AS DOUBLE) AS l0, CAST(0.0 AS DOUBLE) AS l1)""".stripMargin)
      for (k <- 1 to n) {
        sb.append(",\n")
        sb.append(
          s"""it$k AS (
             |  SELECT l0 + (j11*r0 - j01*r1)/(j00*j11 - j01*j01) AS l0,
             |         l1 + (j00*r1 - j01*r0)/(j00*j11 - j01*j01) AS l1
             |  FROM (
             |    SELECT MAX(s.l0) AS l0, MAX(s.l1) AS l1,
             |      MAX(s.t0) - SUM(d*f) AS r0, MAX(s.t1) - SUM(d*f*x) AS r1,
             |      SUM(d*fp) AS j00, SUM(d*fp*x) AS j01, SUM(d*fp*x*x) AS j11
             |    FROM (SELECT base.x, base.d, p.l0, p.l1, g.t0, g.t1,
             |            (0.5 + 1.0*z)/(1.0 + 0.5*z) AS f,
             |            2.25*z/((1.0 + 0.5*z)*(1.0 + 0.5*z)) AS fp
             |          FROM (SELECT base.x, base.d, p.l0, p.l1,
             |              EXP(3.0*(p.l0 + p.l1*base.x)) AS z
             |            FROM base, it${k - 1} p) base, it${k - 1} p, tgt g) s))""".stripMargin)
      }
      sb.append(s"""
        |, fin AS (SELECT base.x, base.d,
        |    (0.5 + 1.0*EXP(3.0*(p.l0 + p.l1*base.x)))
        |      / (1.0 + 0.5*EXP(3.0*(p.l0 + p.l1*base.x))) AS f,
        |    p.l0, p.l1
        |  FROM base, it$n p)
        |SELECT ROUND(MAX(l0), 6) AS lambda0, ROUND(MAX(l1), 6) AS lambda1,
        |  ROUND(SUM(d*f), 4) AS sum_w, ROUND(MAX(g.t0), 4) AS target_n,
        |  ROUND(SUM(d*f*x), 4) AS sum_wx, ROUND(MAX(g.t1), 4) AS target_x,
        |  ROUND(MIN(f), 6) AS f_min, ROUND(MAX(f), 6) AS f_max
        |FROM fin, tgt g""".stripMargin)
      sb.toString
    }) { (s, d) =>
      import graft.weights.BoundedCalib
      val cust = t(s, d, "customer")
      val base = cust.filter(col("c_custkey") % 3 =!= 0)
        .select((col("c_acctbal") / 10000.0).as("x"), lit(1.5).as("d"))
      val tgtRow = cust.agg(
        count(lit(1)).cast("double").as("t0"),
        (sum(floor(col("c_acctbal") * 100 + 0.5).cast("long")).cast("double")
          / 100.0 / 10000.0).as("t1")).head()
      val targets = Array(tgtRow.getDouble(0), tgtRow.getDouble(1))
      val lambda = BoundedCalib.solve(base, Seq(lit(1.0), col("x")),
        col("d"), targets, l = 0.5, u = 2.0, iters = 8)
      val f = BoundedCalib.factor(Seq(lit(1.0), col("x")), lambda, 0.5, 2.0)
      base.select(col("x"), col("d"), f.as("f"))
        .agg(round(lit(lambda(0)), 6).as("lambda0"),
          round(lit(lambda(1)), 6).as("lambda1"),
          round(sum(col("d") * col("f")), 4).as("sum_w"),
          round(lit(targets(0)), 4).as("target_n"),
          round(sum(col("d") * col("f") * col("x")), 4).as("sum_wx"),
          round(lit(targets(1)), 4).as("target_x"),
          round(min(col("f")), 6).as("f_min"),
          round(max(col("f")), 6).as("f_max"))
    },

    // ---- M51: two-phase sampling with the double-expansion (π*)
    //      estimator: phase 1 an even-key half sample, phase 2 a
    //      stratified Poisson subsample whose retention differs by
    //      market segment (½ for AUTOMOBILE/BUILDING, ¼ elsewhere).
    //      π*_i = π₁·π₂|₁ is exact by construction, so the estimator
    //      and its Poisson-independence variance Σ(1−π)(y/π)² are
    //      single hash aggregates — integer cents keep every sum
    //      exact across engines. ----
    sqlChecked("m51_two_phase",
      """WITH s2 AS (SELECT
        |    CAST(FLOOR(c_acctbal * 100 + 0.5) AS BIGINT) AS yq,
        |    CASE WHEN c_mktsegment IN ('AUTOMOBILE', 'BUILDING')
        |      THEN 0.25 ELSE 0.125 END AS pi
        |  FROM customer
        |  WHERE c_custkey % 2 = 0 AND (
        |    (c_mktsegment IN ('AUTOMOBILE', 'BUILDING') AND c_custkey % 4 = 0)
        |    OR (c_mktsegment NOT IN ('AUTOMOBILE', 'BUILDING')
        |        AND c_custkey % 8 = 0))),
        |agg AS (SELECT
        |    CAST(SUM(CASE WHEN pi = 0.25 THEN yq * 4 ELSE yq * 8 END)
        |      AS BIGINT) AS tq,
        |    CAST(SUM(CASE WHEN pi = 0.25 THEN yq * yq * 12
        |      ELSE yq * yq * 56 END) AS BIGINT) AS vq,
        |    CAST(COUNT(*) AS BIGINT) AS n2
        |  FROM s2)
        |SELECT ROUND(CAST(tq AS DOUBLE) / 100.0, 2) AS total_hat,
        |  ROUND(SQRT(CAST(vq AS DOUBLE)) / 100.0, 4) AS se_hat, n2
        |FROM agg""".stripMargin) { (s, d) =>
      // the variance terms (1−π)(y/π)² stay integral in cents²:
      // π = 1/4 → (3/4)·16 = 12;  π = 1/8 → (7/8)·64 = 56
      val seg2 = col("c_mktsegment").isin("AUTOMOBILE", "BUILDING")
      val s2 = t(s, d, "customer")
        .filter(col("c_custkey") % 2 === 0 &&
          ((seg2 && col("c_custkey") % 4 === 0) ||
            (!seg2 && col("c_custkey") % 8 === 0)))
        .select(floor(col("c_acctbal") * 100 + 0.5).cast("long").as("yq"),
          when(seg2, 0.25).otherwise(0.125).as("pi"))
      s2.agg(
        sum(when(col("pi") === 0.25, col("yq") * 4)
          .otherwise(col("yq") * 8)).as("tq"),
        // the m46 overflow class: the SUM crosses 2⁶³ long before any
        // single term does, and at extreme balances the yq²·56 term
        // itself could — so the first operand is cast to decimal(38,0)
        // BEFORE multiplying, keeping term and sum exact 128-bit (the
        // same integer DuckDB's HUGEINT sum yields, identical under
        // the double cast)
        sum(when(col("pi") === 0.25,
            col("yq").cast("decimal(38,0)") * col("yq") * 12)
          .otherwise(col("yq").cast("decimal(38,0)") * col("yq") * 56))
          .as("vq"),
        count(lit(1)).as("n2"))
        .select(round(col("tq").cast("double") / 100.0, 2).as("total_hat"),
          round(sqrt(col("vq").cast("double")) / 100.0, 4).as("se_hat"),
          col("n2"))
    },

    // ---- M52: Fay–Herriot small-area EBLUP — the regression-assisted
    //      upgrade of M45's shrinkage: per-nation direct means from a
    //      1/3 subsample, a census covariate (full-frame area mean),
    //      Prasad–Rao moment estimate of the model variance, and the
    //      EBLUP blend γ·direct + (1−γ)·synthetic. Area moments ride
    //      exact integer cents; only the 25-row area-level OLS and
    //      moment step are floating (rounded in both engines). ----
    sqlChecked("m52_fay_herriot",
      """WITH samp AS (SELECT c_nationkey AS a,
        |    CAST(FLOOR(c_acctbal * 100 + 0.5) AS BIGINT) AS yq
        |  FROM customer WHERE c_custkey % 3 = 0),
        |dir AS (SELECT a, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(yq) AS BIGINT) AS sy,
        |    CAST(SUM(yq * yq) AS BIGINT) AS syy
        |  FROM samp GROUP BY a HAVING COUNT(*) >= 2),
        |cen AS (SELECT c_nationkey AS a,
        |    CAST(SUM(CAST(FLOOR(c_acctbal * 100 + 0.5) AS BIGINT)) AS DOUBLE)
        |      / COUNT(*) / 100.0 AS x
        |  FROM customer GROUP BY c_nationkey),
        |ar AS (SELECT d.a, CAST(d.sy AS DOUBLE) / d.n / 100.0 AS y,
        |    (CAST(d.syy AS DOUBLE) / 10000.0
        |      - CAST(d.sy AS DOUBLE) * d.sy / d.n / 10000.0)
        |      / (d.n - 1) / d.n AS psi,
        |    c.x, CAST(d.n AS BIGINT) AS n
        |  FROM dir d JOIN cen c USING (a)),
        |ols AS (SELECT (SUM(x * y) - SUM(x) * SUM(y) / COUNT(*))
        |      / (SUM(x * x) - SUM(x) * SUM(x) / COUNT(*)) AS b1,
        |    SUM(y) / COUNT(*) AS my, SUM(x) / COUNT(*) AS mx,
        |    CAST(COUNT(*) AS DOUBLE) AS m
        |  FROM ar),
        |mom AS (SELECT GREATEST(0.0,
        |    SUM((y - (my - b1 * mx) - b1 * x) * (y - (my - b1 * mx) - b1 * x)
        |      - psi) / (m - 2)) AS sv
        |  FROM ar, ols GROUP BY m),
        |eb AS (SELECT a, y, x, n, psi, sv / (sv + psi) AS gamma,
        |    (o.my - o.b1 * o.mx) + o.b1 * x AS synth
        |  FROM ar, ols o, mom)
        |SELECT a AS nation, n, ROUND(y, 4) AS direct,
        |  ROUND(synth, 4) AS synthetic,
        |  ROUND(gamma, 4) AS gamma,
        |  ROUND(gamma * y + (1 - gamma) * synth, 4) AS eblup
        |FROM eb ORDER BY nation""".stripMargin) { (s, d) =>
      val cust = t(s, d, "customer")
      val samp = cust.filter(col("c_custkey") % 3 === 0)
        .select(col("c_nationkey").as("a"),
          floor(col("c_acctbal") * 100 + 0.5).cast("long").as("yq"))
      val dir = samp.groupBy(col("a")).agg(count(lit(1)).as("n"),
          sum(col("yq")).as("sy"),
          // Σ cents² — the m46 overflow class at scale; cast before the
          // multiply so term AND sum are exact 128-bit at any balance
          sum(col("yq").cast("decimal(38,0)") * col("yq")).as("syy"))
        .filter(col("n") >= 2)
      val cen = cust.groupBy(col("c_nationkey").as("a"))
        .agg((sum(floor(col("c_acctbal") * 100 + 0.5).cast("long"))
          .cast("double") / count(lit(1)) / 100.0).as("x"))
      val ar = dir.join(cen, Seq("a")).select(col("a"),
        (col("sy").cast("double") / col("n") / 100.0).as("y"),
        ((col("syy").cast("double") / 10000.0 -
          col("sy").cast("double") * col("sy") / col("n") / 10000.0) /
          (col("n") - 1) / col("n")).as("psi"),
        col("x"), col("n")).persist()
      val ols = ar.agg(
        ((sum(col("x") * col("y")) - sum(col("x")) * sum(col("y")) / count(lit(1)))
          / (sum(col("x") * col("x")) - sum(col("x")) * sum(col("x")) / count(lit(1))))
          .as("b1"),
        (sum(col("y")) / count(lit(1))).as("my"),
        (sum(col("x")) / count(lit(1))).as("mx"),
        count(lit(1)).cast("double").as("m"))
      val resid = col("y") - (col("my") - col("b1") * col("mx")) -
        col("b1") * col("x")
      val mom = ar.crossJoin(broadcast(ols))
        .groupBy(col("m"))
        .agg(greatest(lit(0.0),
          sum(resid * resid - col("psi")) / (col("m") - 2)).as("sv"))
        .select(col("sv"))
      val eb = ar.crossJoin(broadcast(ols)).crossJoin(broadcast(mom))
        .withColumn("gamma", col("sv") / (col("sv") + col("psi")))
        .withColumn("synth",
          (col("my") - col("b1") * col("mx")) + col("b1") * col("x"))
      eb.select(col("a").as("nation"), col("n"),
          round(col("y"), 4).as("direct"),
          round(col("synth"), 4).as("synthetic"),
          round(col("gamma"), 4).as("gamma"),
          round(col("gamma") * col("y") +
            (lit(1) - col("gamma")) * col("synth"), 4).as("eblup"))
        .orderBy(col("nation"))
    },

    // ---- M55: Wilson score interval for grouped proportions — the
    //      small-sample-safe CI (never escapes [0,1], no ±∞ at p=0/1)
    //      for per-segment fulfillment rates. One hash agg over exact
    //      BIGINT counts; the closed form is evaluated in the same
    //      literal order in both engines. ----
    sqlChecked("m55_wilson",
      """WITH a AS (SELECT c_mktsegment AS seg,
        |    CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(CASE WHEN c_acctbal > 0 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS o
        |  FROM customer GROUP BY c_mktsegment),
        |w AS (SELECT seg, n, o, CAST(o AS DOUBLE) / n AS p,
        |    3.841458820694124 / n AS zz FROM a)
        |SELECT seg, n, o, ROUND(p, 6) AS p_hat,
        |  ROUND((p + zz / 2 - SQRT(p * (1 - p) * zz / n + zz * zz / 4))
        |    / (1 + zz), 6) AS ci_lo,
        |  ROUND((p + zz / 2 + SQRT(p * (1 - p) * zz / n + zz * zz / 4))
        |    / (1 + zz), 6) AS ci_hi
        |FROM w ORDER BY seg""".stripMargin) { (s, d) =>
      val a = t(s, d, "customer").groupBy(col("c_mktsegment").as("seg"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("c_acctbal") > 0, 1L).otherwise(0L)).as("o"))
      val p = col("o").cast("double") / col("n")
      val zz = lit(3.841458820694124) / col("n")
      val half = sqrt(p * (lit(1) - p) * zz / col("n") + zz * zz / 4)
      a.select(col("seg"), col("n"), col("o"),
          round(p, 6).as("p_hat"),
          round((p + zz / 2 - half) / (lit(1) + zz), 6).as("ci_lo"),
          round((p + zz / 2 + half) / (lit(1) + zz), 6).as("ci_hi"))
        .orderBy(col("seg"))
    },

    // ---- M53: decile lift table of the fitted propensity — the
    //      model-eval companion of M49: quantized scores, EXACT decile
    //      cutoffs from the integer-score cumsum (no global ntile
    //      window), per-decile observed events, expected events
    //      (Σ score — exact BIGINT micro-units), rate and lift. ----
    sqlChecked("m53_lift", liftSql(detail = true)) { (s, d) =>
      liftTable(s, d).orderBy(col("decile"))
    },

    // ---- M54: Hosmer–Lemeshow goodness-of-fit over the same deciles:
    //      HL = Σ_d (O_d − E_d)² / (n_d·p̄_d·(1 − p̄_d)), p̄_d = E_d/n_d,
    //      E in exact micro-units → both engines aggregate identical
    //      integers before the one floating finish. ----
    sqlChecked("m54_hosmer", liftSql(detail = false)) { (s, d) =>
      val lt = liftTable(s, d)
      val p = col("eq").cast("double") / 1e6 / col("n")
      lt.select(col("decile"), col("n"), col("o"), col("eq"))
        .agg(count(lit(1)).as("g"),
          round(sum(pow(col("o") - col("eq").cast("double") / 1e6, 2) /
            (col("n") * p * (lit(1.0) - p))), 6).as("hl_stat"))
    })

  /** Shared engine path for M53/M54: pinned-IRLS propensity, 1e-6
    * quantized scores, exact integer decile cutoffs via the BOUNDED-
    * domain distinct-cumsum path (scores live in [0, 10^6] by
    * construction, so the distinct table is ≤ 10^6 + 1 rows and one
    * scan beats the uniform three-pass radix search — measured 1.45×
    * regression when these deciles rode the radix path in r8),
    * broadcast cutoff row, one hash agg. */
  private def liftTable(s: SparkSession, d: String): org.apache.spark.sql.DataFrame = {
    val base = t(s, d, "customer").select(
      col("c_custkey").cast("long").as("id"),
      when(col("c_custkey") % 7 === 0, 1.0).otherwise(0.0).as("y"),
      (col("c_acctbal") / 10000.0).as("x"))
    val fit = graft.stats.WeightedGLM.logistic(base,
      graft.core.FeatureArray.withIntercept(Seq(col("x"))),
      col("y"), lit(1.0), p = 2, maxIter = 6, tol = 0.0)
    val (b0, b1) = (fit.coefficients(0), fit.coefficients(1))
    // persisted through the caller's action (cutoffs + final agg both
    // read it); freed by the harness clearCache between queries
    val sc = base.withColumn("sq",
      floor((lit(1.0) / (lit(1.0) + exp(-(lit(b0) + lit(b1) * col("x")))))
        * 1000000.0 + 0.5).cast("long")).persist()
    val cuts = graft.stats.WeightedQuantile.weightedQuantilesDistinct(
      sc, lit(1), col("sq"), lit(1L), (1 to 9).map(k => (k, 10)))
    val decile = (1 to 9).map(k => when(col("sq") > col(s"q_${k}_10"), 1)
      .otherwise(0)).reduce(_ + _) + 1
    val agg = sc.crossJoin(broadcast(cuts.drop("grp", "w_total")))
      .withColumn("decile", decile.cast("long"))
      .groupBy(col("decile"))
      .agg(count(lit(1)).as("n"),
        sum(col("y")).cast("long").as("o"),
        sum(col("sq")).as("eq"))
    val tot = agg.agg(sum(col("o")).as("o_all"), sum(col("n")).as("n_all"))
    agg.crossJoin(broadcast(tot)).select(
      col("decile"), col("n"), col("o"), col("eq"),
      round(col("o").cast("double") / col("n"), 6).as("rate"),
      round(col("o").cast("double") / col("n") /
        (col("o_all").cast("double") / col("n_all")), 6).as("lift"))
  }

  /** Shared DuckDB replay: IRLS + quantized scores + exact decile
    * cutoffs + per-decile aggregates; `detail` selects the per-decile
    * table (M53) vs the HL statistic (M54). */
  private def liftSql(detail: Boolean): String = {
    val baseSql =
      """SELECT c_custkey AS id,
        |  CASE WHEN c_custkey % 7 = 0 THEN 1.0 ELSE 0.0 END AS y,
        |  c_acctbal / 10000.0 AS x, 1.0 AS w FROM customer""".stripMargin
    val cutCols = (1 to 9).map(k =>
      s"MIN(CASE WHEN cw * 10 >= tot * $k THEN sq END) AS q_${k}_10")
      .mkString(",\n    ")
    val decileExpr = (1 to 9).map(k =>
      s"CASE WHEN sq > q_${k}_10 THEN 1 ELSE 0 END").mkString(" + ")
    val common =
      s"""WITH ${irlsCtes(6, baseSql)},
         |sc AS (SELECT id, y,
         |    CAST(FLOOR((1/(1+EXP(-(p.b0 + p.b1*x)))) * 1000000.0 + 0.5)
         |      AS BIGINT) AS sq
         |  FROM base, it6 p),
         |dv AS (SELECT sq, CAST(COUNT(*) AS BIGINT) AS wv FROM sc GROUP BY sq),
         |cum AS (SELECT sq, CAST(SUM(wv) OVER (ORDER BY sq
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cw
         |  FROM dv),
         |tt AS (SELECT CAST(SUM(wv) AS BIGINT) AS tot FROM dv),
         |cuts AS (SELECT
         |    $cutCols
         |  FROM cum, tt),
         |dd AS (SELECT sc.id, sc.y, sc.sq,
         |    CAST(($decileExpr) + 1 AS BIGINT) AS decile
         |  FROM sc, cuts),
         |agg AS (SELECT decile, CAST(COUNT(*) AS BIGINT) AS n,
         |    CAST(SUM(y) AS BIGINT) AS o, CAST(SUM(sq) AS BIGINT) AS eq
         |  FROM dd GROUP BY decile),
         |tot2 AS (SELECT CAST(SUM(o) AS BIGINT) AS o_all,
         |    CAST(SUM(n) AS BIGINT) AS n_all FROM agg)""".stripMargin
    if (detail)
      s"""$common
         |SELECT decile, n, o, eq,
         |  ROUND(CAST(o AS DOUBLE) / n, 6) AS rate,
         |  ROUND(CAST(o AS DOUBLE) / n
         |    / (CAST(o_all AS DOUBLE) / n_all), 6) AS lift
         |FROM agg, tot2 ORDER BY decile""".stripMargin
    else
      s"""$common
         |SELECT CAST(COUNT(*) AS BIGINT) AS g,
         |  ROUND(SUM(POW(o - CAST(eq AS DOUBLE) / 1000000.0, 2)
         |    / (n * (CAST(eq AS DOUBLE) / 1000000.0 / n)
         |       * (1.0 - CAST(eq AS DOUBLE) / 1000000.0 / n))), 6) AS hl_stat
         |FROM agg""".stripMargin
  }
}
