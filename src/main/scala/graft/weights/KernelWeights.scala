package graft.weights

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.Coef

/** Kernel-smoothed pseudo-weights, "KW" (SURVEY.md M5, J2, A7, A8) —
  * the reference's `krnwt` (simu_fun.R:127-211).
  *
  * For survey units s (design weight wt_s, propensity score q_s) and
  * cohort units c (score q_c):
  *
  *   k_sc   = K((q_s − q_c)/h)
  *   kw_c   = Σ_s wt_s · k_sc / Σ_{c'} k_sc'
  *
  * The reference materializes the n_s×n_c kernel matrix and manually
  * chunks it into 100 blocks when it doesn't fit (`Large=T`,
  * simu_fun.R:143-165). Spark-first this is a broadcast cross join —
  * the score+weight projection of ONE side is KB-sized — followed by a
  * two-stage aggregation (row-normalize per survey unit, then sum per
  * cohort unit). The quadratic pair stream is never materialized; it
  * flows straight into partial aggregation inside one stage, and it
  * partitions linearly in the non-broadcast side, which is exactly the
  * 100-TB-safe shape.
  *
  * For compact-support kernels (triangular/Epanechnikov) use
  * `bandJoin = true`: pairs with |q_s − q_c| > h contribute exactly 0,
  * so the cross join is replaced by a bucketed band join — each side is
  * bucketed by floor(q/h) and joined on neighbor buckets (±1), turning
  * O(n_s·n_c) into O(matching pairs). This is the pure-DataFrame
  * rewrite anticipated in SURVEY.md §4 (no custom strategy needed).
  */
object KernelWeights {

  /** Zero-row rescue (simu_fun.R:175-183): survey rows whose kernel row
    * sums to 0 (bandwidth too small) get a flat kernel 1/m over all m
    * cohort units. */
  final case class Result(weights: DataFrame, zeroRows: Long)

  /** @param survey  (sId, score, wt) projection
    * @param cohort  (cId, score) projection
    * @param h       bandwidth
    * @param kernel  kernel function (Kernels.gaussian, ...)
    * @param removeUnmatched the reference's `rm.s` flag (simu_fun.R:13-15,
    *   172-183): a survey unit whose kernel row sums to 0 (bandwidth too
    *   small / no cohort unit in range) normally spreads its weight flat
    *   (wt/m over all m cohort units, rm.s=F); with rm.s=T the unit is
    *   DROPPED — it contributes nothing, so Σkw < Σwt by exactly the
    *   dropped mass (krnwt sets row.krn=1 against an all-zero kernel row,
    *   which zeroes the unit's contribution — there is no renormalization)
    * @return cohort-keyed DataFrame (cId, kw)
    */
  def compute(
      survey: DataFrame,
      sId: Column, sScore: Column, sWt: Column,
      cohort: DataFrame,
      cId: Column, cScore: Column,
      h: Double,
      kernel: Column => Column,
      bandJoin: Boolean = false,
      removeUnmatched: Boolean = false): DataFrame = {
    val s = survey.select(sId.as("s_id"), sScore.cast("double").as("q_s"),
      sWt.cast("double").as("wt_s"))
    val c = cohort.select(cId.as("c_id"), cScore.cast("double").as("q_c"))

    // Dense pair stream: STREAM the cohort, BROADCAST the survey. The
    // survey side is the fixed-size probability sample (KB–MB); the
    // cohort is the side that grows with the data, so it must be the
    // partitioned stream — broadcasting it caps at the driver and, worse,
    // leaves the n_s·n_c kernel evaluation parallelized by the SURVEY
    // side's partitioning (a 1000-row filter output = 1 partition = one
    // thread grinding 10^9 pairs; measured 434 s → linear at the sf10
    // probe). A skinny cohort projection read from one parquet file is
    // still 1 partition, so fan it out to the session parallelism first
    // — a no-op on any input already wider than the core count.
    // (the .rdd partition probe forces a plan-to-RDD conversion, so it
    // only runs on the branch that uses it — the band join never pays it)
    val pairs =
      if (bandJoin) bandPairs(s, c, h)
      else {
        val para = cohort.sparkSession.sparkContext.defaultParallelism
        val cWide =
          if (c.rdd.getNumPartitions < para) c.repartition(para) else c
        cWide.crossJoin(broadcast(s))
      }

    val withK = pairs.withColumn("k", kernel((col("q_s") - col("q_c")) / Coef.scalar(h)))

    // stage 1: row sums per survey unit (+ cohort count for the rescue).
    // LEFT-join from the survey side so a unit that produced NO pairs
    // (band join, empty ±1 buckets) still appears with row_k = 0 and its
    // wt_s enters the flat rescue — pseudo-weight mass is conserved on
    // both paths (the reference's krnwt spreads wt/m, simu_fun.R:175-183).
    val m = c.count()
    val spark = survey.sparkSession
    val rowSumsDf = s.select(col("s_id"), col("wt_s"))
      .join(withK.groupBy(col("s_id")).agg(sum(col("k")).as("row_k")),
        Seq("s_id"), "left")
      .withColumn("row_k", coalesce(col("row_k"), lit(0.0)))

    // stage 2: join row sums back, normalize, sum per cohort unit.
    // Zero-sum survey rows spread wt_s/m to every cohort unit — for the
    // cross-join path that equals adding Σ_{zero s} wt_s / m to every
    // cohort weight, which we add as a scalar (never re-densifying).
    //
    // Row sums are ONE narrow row per survey unit; the survey side of
    // pseudo-weighting is the (small) probability sample by design, so
    // up to `graft.kw.rowSumsCollectThreshold` units they are collected
    // to the driver and re-shipped as a broadcast local relation. This
    // keeps the n_s×n_c pair stream at exactly two passes (one for the
    // sums, one for the contributions) with no persist to leak — the
    // earlier persist-based variant cached this frame and never released
    // it (one leaked cache entry per Monte-Carlo replicate). ABOVE the
    // threshold the collect would be a driver OOM, so the row sums stay
    // distributed and shuffle-join back (AQE picks the join strategy);
    // that path pays one extra pair-stream scan for the flat-rescue
    // scalar but is bounded by executor, not driver, memory. The size
    // check is a LIMIT-probe collect (threshold+1 rows max) rather than
    // a count() — no extra job on the common small path, and a probe
    // that comes back short IS the full row-sum set.
    val threshold = math.min(
      spark.conf.getOption("graft.kw.rowSumsCollectThreshold")
        .map(_.toLong).getOrElse(1000000L),
      Int.MaxValue - 2L).toInt
    val probe = rowSumsDf.limit(threshold + 1).collect()
    val (contrib0, flat) = if (probe.length <= threshold) {
      val rowRows = probe
      val flat = if (removeUnmatched) 0.0 else rowRows.iterator
        .filter(r => r.getDouble(2) == 0.0)
        .map(_.getDouble(1)).sum / m.toDouble
      val positive = spark.createDataFrame(
        spark.sparkContext.parallelize(
          rowRows.filter(_.getDouble(2) > 0.0).toSeq, 1),
        rowSumsDf.schema)
      (withK
        .join(broadcast(positive.select(col("s_id"), col("row_k"))), Seq("s_id"))
        .groupBy(col("c_id"))
        .agg(sum(col("wt_s") * col("k") / col("row_k")).as("kw_raw")),
        flat)
    } else {
      val flat = if (removeUnmatched) 0.0 else rowSumsDf
        .agg(coalesce(sum(when(col("row_k") === 0.0, col("wt_s"))), lit(0.0)))
        .head.getDouble(0) / m.toDouble
      (withK
        .join(rowSumsDf.filter(col("row_k") > 0.0).select("s_id", "row_k"),
          Seq("s_id"))
        .groupBy(col("c_id"))
        .agg(sum(col("wt_s") * col("k") / col("row_k")).as("kw_raw")),
        flat)
    }
    val contrib = contrib0

    // band-join path may drop cohort units with no nearby survey unit;
    // restore them with weight 0 (+flat) via a right join on DISTINCT
    // cohort ids (duplicate input ids would otherwise fan the
    // id-collapsed contributions back out, double-counting them).
    contrib.join(c.select(col("c_id")).distinct(), Seq("c_id"), "right")
      .select(col("c_id"), (coalesce(col("kw_raw"), lit(0.0)) + Coef.scalar(flat)).as("kw"))
  }

  /** Bucketed band join: only pairs with |q_s − q_c| <= h survive.
    * Buckets floor(q/h); a pair within h is always in the same or an
    * adjacent bucket, so explode survey rows to 3 candidate buckets and
    * hash-join on the bucket id, then filter the exact band. */
  private def bandPairs(s: DataFrame, c: DataFrame, h: Double): DataFrame = {
    val cb = c.withColumn("b", floor(col("q_c") / Coef.scalar(h)).cast("long"))
    val sb = s.withColumn("b0", floor(col("q_s") / Coef.scalar(h)).cast("long"))
      .withColumn("b", explode(array(col("b0") - 1, col("b0"), col("b0") + 1)))
      .drop("b0")
    sb.join(cb, Seq("b"))
      .filter(abs(col("q_s") - col("q_c")) <= Coef.scalar(h))
      .drop("b")
  }

  /** Kernel Jacobian ∂kw_c/∂γ_j (A8, simu_fun.R:192-205): same pair
    * stream, extra measure columns per coefficient. `xDiff(j)` is the
    * pair-level Δx_j = x_sj − x_cj expression supplied by the caller on
    * the joined frame. Returns (c_id, d_kw_0..d_kw_{p-1}). */
  /** Gaussian density and its u-derivative −u·K(u) — the jacobian
    * defaults, matching the reference's dnorm kernel. Pass both the
    * kernel and its derivative for other kernels (triangular:
    * K' = −sign(u)/2 on |u|<1 — the reference's triangular variant,
    * taylor_deviate.R:72). */
  val gaussianK: Column => Column = u =>
    exp(-u * u / lit(2.0)) / lit(math.sqrt(2.0 * math.Pi))
  val gaussianDk: Column => Column = u =>
    -u * exp(-u * u / lit(2.0)) / lit(math.sqrt(2.0 * math.Pi))

  def jacobian(
      survey: DataFrame, sId: Column, sScore: Column, sWt: Column,
      cohort: DataFrame, cId: Column, cScore: Column,
      h: Double,
      sFeatures: Seq[Column], cFeatures: Seq[Column],
      kernel: Column => Column = gaussianK,
      kernelDeriv: Column => Column = gaussianDk): DataFrame = {
    val p = sFeatures.length
    val c0 = cohort.select((cId.as("c_id") +: cScore.cast("double").as("q_c") +:
      cFeatures.zipWithIndex.map { case (f, j) => f.cast("double").as(s"xc$j") }): _*)
    val cKey = col("q_c") +: (0 until p).map(j => col(s"xc$j"))
    val cProfiles = c0.groupBy(cKey: _*)
      .agg(count(lit(1)).cast("double").as("c_mult"))
    val (contrib, flat) = profileJacobian(survey, sScore, sWt, cProfiles,
      h, sFeatures, kernel, kernelDeriv, c0.count())
    val cKeyNames = "q_c" +: (0 until p).map(j => s"xc$j")
    // Fan the per-profile results back to cohort ids (broadcast: the
    // contrib table is |cohort profiles| rows). Units whose every pair
    // came from zero-sum survey rows get kw = flat, derivatives 0.
    c0.join(broadcast(contrib),
        cKeyNames.map(n => c0(n) === contrib(n)).reduce(_ && _), "left")
      .select((col("c_id") +:
        (coalesce(col("kw_raw"), lit(0.0)) + Coef.scalar(flat)).as("kw") +:
        (0 until p).map(j => coalesce(col(s"d_kw_$j"), lit(0.0)).as(s"d_kw_$j"))): _*)
  }

  /** Like [[jacobian]], but APPENDS the kw/∂kw columns to the cohort
    * frame row-by-row (profile join only — no id join anywhere). This
    * is the entry point for callers whose cohort rows have no unique
    * key: the reference addresses units by row index (simu_fun.R:186),
    * and a fan-back keyed on a caller-supplied id silently
    * double-counts pseudo-weight mass when ids collide. Output = every
    * cohort column plus `kw`, `d_kw_0..d_kw_{p-1}`, exactly one output
    * row per input row. */
  def attachJacobian(
      survey: DataFrame, sScore: Column, sWt: Column,
      cohort: DataFrame, cScore: Column,
      h: Double,
      sFeatures: Seq[Column], cFeatures: Seq[Column],
      kernel: Column => Column = gaussianK,
      kernelDeriv: Column => Column = gaussianDk): DataFrame = {
    val p = sFeatures.length
    val keyed = cohort.withColumns(
      (("__kw_q" -> cScore.cast("double")) +:
        cFeatures.zipWithIndex.map { case (f, j) =>
          s"__kw_x$j" -> f.cast("double") }).toMap)
    val cProfiles = keyed
      .groupBy(col("__kw_q") +: (0 until p).map(j => col(s"__kw_x$j")): _*)
      .agg(count(lit(1)).cast("double").as("c_mult"))
      .select(col("__kw_q").as("q_c") +:
        (0 until p).map(j => col(s"__kw_x$j").as(s"xc$j")) :+
        col("c_mult"): _*)
    val (contrib, flat) = profileJacobian(survey, sScore, sWt, cProfiles,
      h, sFeatures, kernel, kernelDeriv, keyed.count())
    val renamed = contrib.select(
      (Seq(col("q_c").as("__kw_q")) ++
        (0 until p).map(j => col(s"xc$j").as(s"__kw_x$j")) ++
        Seq(col("kw_raw")) ++
        (0 until p).map(j => col(s"d_kw_$j"))): _*)
    val keyNames = "__kw_q" +: (0 until p).map(j => s"__kw_x$j")
    keyed.join(broadcast(renamed), keyNames.toSeq, "left")
      .withColumn("kw", coalesce(col("kw_raw"), lit(0.0)) + Coef.scalar(flat))
      .select(cohort.columns.map(col) ++
        (col("kw") +: (0 until p).map(j =>
          coalesce(col(s"d_kw_$j"), lit(0.0)).as(s"d_kw_$j"))): _*)
  }

  /** Shared pair-stream core: survey rows × cohort PROFILES →
    * per-cohort-profile (kw_raw, d_kw_0..) plus the flat zero-row
    * rescue mass (wt/m, simu_fun.R:175-183).
    *
    * PROFILE COLLAPSE: every kernel/Jacobian term depends on a unit
    * only through its (score, features) profile, so pair distinct
    * profiles — not units. With discrete covariates the O(n_s·n_c)
    * pair stream collapses to O(|profiles|²) (the score is a function
    * of the covariates); with continuous scores the groupBys are
    * near-identity and the pair count is unchanged. Row sums attach to
    * survey PROFILES (weighted by Σwt_s), contributions to cohort
    * profiles — the same move as the Breslow tie-collapse, applied to
    * the kernel matrix. */
  private def profileJacobian(
      survey: DataFrame, sScore: Column, sWt: Column,
      cProfiles: DataFrame,
      h: Double, sFeatures: Seq[Column],
      kernel: Column => Column, kernelDeriv: Column => Column,
      mUnits: Long): (DataFrame, Double) = {
    val p = sFeatures.length
    val s0 = survey.select((sScore.cast("double").as("q_s") +:
      sWt.cast("double").as("wt_s") +:
      sFeatures.zipWithIndex.map { case (f, j) => f.cast("double").as(s"xs$j") }): _*)
    val sKey = col("q_s") +: (0 until p).map(j => col(s"xs$j"))
    val s = s0.groupBy(sKey: _*).agg(sum(col("wt_s")).as("wt_s"))

    val pairs = s.crossJoin(broadcast(cProfiles))
    val u = (col("q_s") - col("q_c")) / Coef.scalar(h)
    // dK/du from kernelDeriv; d u/dγ_j = (x_sj − x_cj)·(dq/dγ)/h with
    // logistic scores dq/dγ_j folded into the feature columns by the caller.
    val withK = pairs.withColumn("k", kernel(u))
      .withColumn("dku", kernelDeriv(u))
    val dCols = (0 until p).map { j =>
      (col("dku") * (col(s"xs$j") - col(s"xc$j")) / Coef.scalar(h)).as(s"dk$j")
    }
    val cKey = col("q_c") +: (0 until p).map(j => col(s"xc$j"))
    val wk = withK.select((sKey ++ cKey ++
      Seq(col("wt_s"), col("c_mult"), col("k")) ++ dCols): _*)

    // Same collected-row-sums shape as compute(): one narrow row per
    // survey profile, broadcast back. Row sums weight each cohort
    // profile by its multiplicity (Σ_c k = Σ_profiles mult·k). Zero-sum
    // rows (compact-support kernel or tiny bandwidth) get the
    // reference's flat wt/m rescue (simu_fun.R:175-183) with ZERO
    // derivative — the rescue branch is piecewise-constant in γ — so
    // both KW entry points conserve pseudo-weight mass and agree on kw.
    //
    // With CONTINUOUS scores the profile count equals the survey size,
    // so the collect is guarded by the same threshold as compute(): above
    // it, the profile row sums stay distributed and shuffle-join back
    // (one extra pair-stream scan for the flat scalar, executor-bounded).
    val spark = survey.sparkSession
    val sKeyNames = "q_s" +: (0 until p).map(j => s"xs$j")
    val rowAggDf = wk.groupBy(sKeyNames.map(col) :+ col("wt_s"): _*)
      .agg(sum(col("c_mult") * col("k")).as("row_k"),
        (0 until p).map(j => sum(col("c_mult") * col(s"dk$j")).as(s"row_dk$j")): _*)
    val threshold = math.min(
      spark.conf.getOption("graft.kw.rowSumsCollectThreshold")
        .map(_.toLong).getOrElse(1000000L),
      Int.MaxValue - 2L).toInt
    val cKeyNames = "q_c" +: (0 until p).map(j => s"xc$j")
    def contribFrom(positive: DataFrame): DataFrame = wk
      .join(positive, sKeyNames)
      .groupBy(cKeyNames.map(col): _*)
      .agg(
        sum(col("wt_s") * col("k") / col("row_k")).as("kw_raw"),
        (0 until p).map { j =>
          sum(col("wt_s") * (col(s"dk$j") * col("row_k") - col("k") * col(s"row_dk$j"))
            / (col("row_k") * col("row_k"))).as(s"d_kw_$j")
        }: _*)
    // LIMIT-probe size check — same rationale as compute()
    val probe = rowAggDf.limit(threshold + 1).collect()
    if (probe.length <= threshold) {
      val rowRows = probe
      val rkIdx = rowAggDf.schema.fieldIndex("row_k")
      val wtIdx = rowAggDf.schema.fieldIndex("wt_s")
      val flat = rowRows.iterator
        .filter(r => r.getDouble(rkIdx) == 0.0)
        .map(_.getDouble(wtIdx)).sum / mUnits.toDouble
      val positive = spark.createDataFrame(
        spark.sparkContext.parallelize(
          rowRows.filter(_.getDouble(rkIdx) > 0.0).toSeq, 1),
        rowAggDf.schema)
      (contribFrom(broadcast(positive.drop("wt_s"))), flat)
    } else {
      val flat = rowAggDf
        .agg(coalesce(sum(when(col("row_k") === 0.0, col("wt_s"))), lit(0.0)))
        .head.getDouble(0) / mUnits.toDouble
      (contribFrom(rowAggDf.filter(col("row_k") > 0.0).drop("wt_s")), flat)
    }
  }
}
