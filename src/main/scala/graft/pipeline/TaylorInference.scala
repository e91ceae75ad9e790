package graft.pipeline

import graft.core.{FeatureArray, LinAlg}
import graft.stats.{CoxPH, WeightedGLM}
import graft.variance.{CoxInfluence, HazardInfluence, Influence}
import graft.weights.Ipsw
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/** The reference's analytic-variance entry point (`inference_beta` /
  * the IPSW block of taylor_deviate.R:38-236) as ONE composable chain:
  *
  *   stack → weighted-logistic propensity (γ̂) → IPSW pseudo-weights →
  *   weighted Cox (β̂) → per-unit influence of β, Λ(t*), ΛG(t*), absR
  *   with the FULL γ-chain (weights depend on γ̂) and β-chain — survey
  *   units included as γ-only deviate rows — → Poisson and PPS variance
  *   contractions split by sample (taylor_deviate.R:109-111).
  *
  * Deviate convention: everything is per unit MULTIPLICITY m_i (the
  * derivative of each estimand w.r.t. duplicating unit i), so the
  * contraction is directly Σ(1−π_i)Δ_i² with no further weighting —
  * algebraically identical to the reference's ps.w·(per-weight deviate)
  * but with one consistent scale throughout:
  *
  *   Δβ/dm_i  = ipsw_i·I⁻¹U_i + B·Δγ_i,   Δγ_i = H⁻¹ w_i(y−μ)x_i
  *   ΔΛ/dm_i  = ipsw_i·(direct) + Δγ_i'·C_γ(t*) + Δβ'·C_β(t*)
  *
  * Cohort π_i = 1/ipsw_i, survey π_i = 1/wt_i.
  */
object TaylorInference {

  final case class Estimand(estimate: Double, varPoisson: Double, varPps: Double)

  final case class IpswInference(
      gamma: Array[Double],
      beta: Array[Double],
      betaVarPoisson: Array[Double],
      betaVarPps: Array[Double],
      lambda: Map[Double, Estimand],
      gail: Map[Double, Estimand],
      absRisk: Map[Double, Estimand],
      absRiskGail: Map[Double, Estimand])

  /** @param cohort  non-probability cohort (t, d, covariates)
    * @param survey  probability sample with design weight `surveyWt`
    * @param psFeatureCols propensity-model covariates (intercept added)
    * @param a       sampling fraction n_s/N scaling the survey side of
    *                the propensity stack (jk_fun.R:123-127)
    * @param x0      risk profile (same order as featureCols) for absR
    */
  def ipswChain(
      cohort: DataFrame, survey: DataFrame, surveyWt: Column,
      time: Column, event: Column,
      featureCols: Seq[String], psFeatureCols: Seq[String],
      tStar: Seq[Double],
      lambdaStar: Option[DataFrame] = None,
      x0: Option[Array[Double]] = None,
      a: Double = 1.0,
      sizeHint: graft.core.Windows.SizeHint =
        graft.core.Windows.SizeHint.Auto,
      // pinned iteration counts (0 ⇒ run to convergence) let a DuckDB
      // oracle replay the identical fixed-point arithmetic
      psIters: Int = 0,
      coxIters: Int = 0): IpswInference = {
    val p = featureCols.length
    val q = psFeatureCols.length + 1
    val psFeats = FeatureArray.withIntercept(psFeatureCols.map(col))

    // 1. propensity fit on the a-scaled stack; leaf-plan view of the
    //    cache so every downstream pass re-plans a one-node tree
    val stackedCache = SurveyIntegration.stack(cohort, survey, surveyWt)
      .withColumn("__wps", when(col("trt") === 1, 1.0)
        .otherwise(col("w").cast("double") * a))
      .persist()
    val stacked = org.apache.spark.sql.GraftSqlBridge.flattenPlan(stackedCache)
    val psFit =
      if (psIters > 0) WeightedGLM.logistic(stacked, psFeats, col("trt"),
        col("__wps"), p = q, maxIter = psIters, tol = 0.0)
      else WeightedGLM.logistic(stacked, psFeats, col("trt"), col("__wps"), p = q)
    val gammaDevExprs = Influence.logisticDeviates(psFit, psFeats,
      col("trt"), col("__wps"))

    // 2. cohort pseudo-weights: ipsw = exp(−x'γ)/a, closed-form
    //    ∂w̃/∂γ = −ipsw·x_ps
    val score = FeatureArray.dot(psFeats, psFit.coefficients)
    val withW = stacked
      .withColumn("__wtc", when(col("trt") === 1,
        Ipsw.fromLinearPredictor(score, a)).otherwise(lit(0.0)))
      .withColumn("__psw", when(col("trt") === 1, col("__wtc"))
        .otherwise(col("w").cast("double")))
      .withColumn("__pi", when(col("trt") === 1, lit(1.0) / col("__wtc"))
        .otherwise(lit(1.0) / col("w").cast("double")))
    val gdCols = gammaDevExprs.zipWithIndex.map { case (c, m0) =>
      c.as(s"__gd$m0") }
    val pgCols = (0 until q).map(m0 =>
      (when(col("trt") === 1, -col("__wtc") * psFeats.getItem(m0))
        .otherwise(0.0)).as(s"__pg$m0"))
    val prepared = withW.select((withW.columns.map(col) ++ gdCols ++ pgCols): _*)
    val out = inferenceCore(prepared, time, event, featureCols, q, tStar,
      lambdaStar, x0, sizeHint, coxIters, psFit.coefficients)
    stackedCache.unpersist(blocking = false)
    out
  }

  /** Kernel-weighted (KW) twin of `ipswChain` (the KW block,
    * taylor_deviate.R:209-236): pseudo-weights are kernel-smoothed over
    * propensity scores, so ∂w̃/∂γ comes from the kernel Jacobian (A8)
    * instead of the closed IPSW form; everything downstream — β-chain,
    * γ-chain, survey γ-only blocks, contractions — is shared.
    *
    * @param cohortId unique cohort key for the Jacobian join
    * @param bandwidth kernel bandwidth; None ⇒ bw.nrd0 of the COHORT
    *                  scores (taylor_deviate.R:212). The Jacobian
    *                  treats h as fixed (dK/du only), matching the
    *                  reference's linearization. */
  def kwChain(
      cohort: DataFrame, cohortId: Column,
      survey: DataFrame, surveyId: Column, surveyWt: Column,
      time: Column, event: Column,
      featureCols: Seq[String], psFeatureCols: Seq[String],
      tStar: Seq[Double],
      lambdaStar: Option[DataFrame] = None,
      x0: Option[Array[Double]] = None,
      a: Double = 1.0,
      bandwidth: Option[Double] = None,
      sizeHint: graft.core.Windows.SizeHint =
        graft.core.Windows.SizeHint.Auto,
      psIters: Int = 0,
      coxIters: Int = 0): IpswInference = {
    val q = psFeatureCols.length + 1
    val psFeats = FeatureArray.withIntercept(psFeatureCols.map(col))
    val stackedCache = SurveyIntegration.stack(
        cohort.withColumn("__cid", cohortId),
        survey.withColumn("__sid", surveyId), surveyWt)
      .withColumn("__wps", when(col("trt") === 1, 1.0)
        .otherwise(col("w").cast("double") * a))
      .persist()
    val stacked = org.apache.spark.sql.GraftSqlBridge.flattenPlan(stackedCache)
    val psFit =
      if (psIters > 0) WeightedGLM.logistic(stacked, psFeats, col("trt"),
        col("__wps"), p = q, maxIter = psIters, tol = 0.0)
      else WeightedGLM.logistic(stacked, psFeats, col("trt"), col("__wps"), p = q)
    val gammaDevExprs = Influence.logisticDeviates(psFit, psFeats,
      col("trt"), col("__wps"))
    val score = FeatureArray.dot(psFeats, psFit.coefficients)
    val scored = stacked.withColumn("__q", score)
    val h = bandwidth.getOrElse(graft.stats.Kernels.bwNrd0(
      scored.filter(col("trt") === 1).select(col("__q").as("q")), col("q")))
    val surveyQ = scored.filter(col("trt") === 0)
    val cohortQ = scored.filter(col("trt") === 1)
    // kernel weights + Jacobian ATTACHED to the cohort rows through the
    // profile join — never keyed by the caller's id: duplicate ids in
    // the cohort frame would fan an id join out and double-count
    // pseudo-weight mass (the reference addresses units by row index,
    // simu_fun.R:186, so id uniqueness is not part of its contract).
    // Persisted: every downstream job (each Cox NR iteration, the
    // deviate collapse, the hazard chain, the contractions) reads these
    // rows, and without the cache each would re-run the O(n_c·n_s)
    // kernel pair aggregation.
    val cohortW = graft.weights.KernelWeights.attachJacobian(
      surveyQ, col("__q"), col("w").cast("double"),
      cohortQ, col("__q"), h,
      sFeatures = (0 until q).map(m0 => psFeats.getItem(m0)),
      cFeatures = (0 until q).map(m0 => psFeats.getItem(m0)))
    val surveyW = surveyQ.withColumns(
      (("kw" -> lit(null).cast("double")) +:
        (0 until q).map(m0 => s"d_kw_$m0" -> lit(null).cast("double"))).toMap)
    val withW = cohortW.unionByName(surveyW)
      .withColumnRenamed("kw", "__kw")
      .withColumn("__wtc", when(col("trt") === 1,
        coalesce(col("__kw"), lit(0.0))).otherwise(lit(0.0)))
      .withColumn("__psw", when(col("trt") === 1, col("__wtc"))
        .otherwise(col("w").cast("double")))
      // π for the KW chain stays the PROPENSITY-model estimate
      // π_c = a·e^{score} (taylor_deviate.R:118,128 uses pi.c_est for
      // the KW contractions too), not 1/kw
      .withColumn("__pi", when(col("trt") === 1, lit(a) * exp(col("__q")))
        .otherwise(lit(1.0) / col("w").cast("double")))
    val gdCols = gammaDevExprs.zipWithIndex.map { case (c, m0) =>
      c.as(s"__gd$m0") }
    val pgCols = (0 until q).map(m0 =>
      (when(col("trt") === 1, coalesce(col(s"d_kw_$m0"), lit(0.0)))
        .otherwise(0.0)).as(s"__pg$m0"))
    val preparedCache = withW
      .select((withW.columns.map(col) ++ gdCols ++ pgCols): _*)
      .persist()
    val prepared = org.apache.spark.sql.GraftSqlBridge.flattenPlan(preparedCache)
    val out = inferenceCore(prepared, time, event, featureCols, q, tStar,
      lambdaStar, x0, sizeHint, coxIters, psFit.coefficients)
    preparedCache.unpersist(blocking = false)
    stackedCache.unpersist(blocking = false)
    out
  }

  /** Shared tail: Cox fit at the cohort pseudo-weight `__wtc`, per-unit
    * influence with survey γ-only blocks, per-m β deviates, hazard
    * chain, contractions. `prepared` carries trt, the time/event and
    * feature columns, __wtc/__psw/__pi and q columns each of __gd/__pg. */
  // a caller-declared Small/Large step-table size lets CoxPH.fit skip
  // its cardinality-probe job; Auto keeps the probe
  private def fitHint(h: graft.core.Windows.SizeHint)
      : Option[graft.core.Windows.SizeHint] = h match {
    case graft.core.Windows.SizeHint.Auto => None
    case other => Some(other)
  }

  private def inferenceCore(
      prepared: DataFrame,
      time: Column, event: Column,
      featureCols: Seq[String], q: Int,
      tStar: Seq[Double],
      lambdaStar: Option[DataFrame],
      x0: Option[Array[Double]],
      sizeHint: graft.core.Windows.SizeHint,
      coxIters: Int,
      gamma: Array[Double]): IpswInference = {
    val p = featureCols.length
    val cohortF = prepared.filter(col("trt") === 1)
    val feats = featureCols.map(col)
    val fit =
      if (coxIters > 0) CoxPH.fit(cohortF, time, event, col("__wtc"), feats,
        maxIter = coxIters, tol = 0.0, hint = fitHint(sizeHint))
      else CoxPH.fit(cohortF, time, event, col("__wtc"), feats,
        hint = fitHint(sizeHint))

    // 3. influence frame: cohort rows carry the direct score influence,
    //    survey rows join as zero-weight γ-only blocks (the reference's
    //    rbind(…, matrix(0, n_s, …)))
    val pass = Seq(col("trt"), col("__pi"), col("__psw")) ++
      (0 until q).map(m0 => col(s"__gd$m0")) ++
      (0 until q).map(m0 => col(s"__pg$m0"))
    val devFull = CoxInfluence.deviatesAndCollapse(cohortF, time, event,
      col("__wtc"), feats, fit.coefficients, fit.infoPacked,
      passthrough = pass, sizeHint = sizeHint, gammaQ = q)
    val devC = devFull.units
    // build survey rows with the same schema as devC
    val devCols = devC.columns
    val surveySide = prepared.filter(col("trt") === 0)
    val sCols = surveySide.columns.toSet
    val surveyAligned = surveySide.select(devCols.map {
      case "__t" => time.cast("double").as("__t")
      case "__d" => lit(0.0).as("__d")
      case "__w" => lit(0.0).as("__w")
      case "__rh" => lit(0.0).as("__rh")
      case n if n.startsWith("__x") =>
        col(featureCols(n.stripPrefix("__x").toInt)).cast("double").as(n)
      case n if sCols.contains(n) => col(n)
      // CoxInfluence internals (risk-set/score columns) — inert zeros
      case n => lit(0.0).as(n)
    }: _*)
    val allDevCache = devC.unionByName(surveyAligned).persist()
    try {
      val allDev = org.apache.spark.sql.GraftSqlBridge.flattenPlan(allDevCache)

      // 4. per-m β deviates: ipsw·I⁻¹U + B·Δγ (cross-derivative through
      //    ∂w̃/∂γ = −ipsw·x_ps; survey rows have U = 0)
      val dExprs = for (j <- 0 until p; m0 <- 0 until q) yield
        sum(col(s"ui_$j") * col(s"__pg$m0")).as(s"d${j}_$m0")
      val dRow = allDev.agg(dExprs.head, dExprs.tail: _*).head()
      val dMat = breeze.linalg.DenseMatrix.tabulate(p, q)((j, m0) =>
        dRow.getDouble(j * q + m0))
      val bMat = LinAlg.inverse(LinAlg.unpack(p, fit.infoPacked)) * dMat
      val dbTot = (0 until p).map { j =>
        (col("__psw") * col("trt") * col(s"dbeta_$j") +
          (0 until q).map(m0 => lit(bMat(j, m0)) * col(s"__gd$m0"))
            .foldLeft(lit(0.0): Column)(_ + _)).as(s"dbeta_m_$j")
      }
      val withDb = allDev.select((allDev.columns.map(col) ++ dbTot): _*)

      // 5. hazard-chain deviates at the same per-m scale
      val risk = x0.map(v => HazardInfluence.RiskProfile(fit.coefficients, v))
      val long = HazardInfluence.cumulativeDeviates(withDb, p, tStar,
        lambdaStar = lambdaStar, risk = risk,
        gamma = Some(HazardInfluence.GammaChain(
          (0 until q).map(m0 => col(s"__pg$m0")),
          (0 until q).map(m0 => col(s"__gd$m0")))),
        betaDevPrefix = "dbeta_m_",
        directScale = col("__psw") * col("trt"),
        sizeHint = sizeHint,
        passthrough = Seq(col("trt"), col("__pi"), col("__psw")),
        preCollapsed = Some(devFull.collapsed))

      // 6. contractions: Poisson Σ(1−π)Δ² over both samples; PPS
      //    n·cov per sample summed (taylor_deviate.R:109-111)
      // ALL estimand families contract in ONE job grouped by
      // (t*, sample): the Poisson sum is additive over the sample split,
      // the point estimate is a max of maxes, and the PPS n·cov terms
      // are per-sample already — the driver recombines. One job instead
      // of two matters twice at scale: the chain is job-count bound, and
      // a single consumer means the LONG frame (units × t*, the widest
      // frame in the chain — ~200M rows at 200×) never needs a persist:
      // it streams straight into the aggregate instead of materializing
      // a multi-GB cache whose allocation churn dominated GC (the
      // r13 sf20 probe measured 300 CPU-s of GC, 10× the invocation
      // variance, in the cache-fill stage alone).
      val families = Seq("d_cum_hzd" -> "cum_hzd", "d_cum_gail" -> "cum_gail",
          "d_abs_risk" -> "abs_risk", "d_abs_risk_gail" -> "abs_risk_gail")
        .filter { case (dc, _) => long.columns.contains(dc) }
      val famAggs = families.flatMap { case (dc, ec) => Seq(
        sum((lit(1.0) - col("__pi")) * col(dc) * col(dc)).as(s"v_$dc"),
        max(col(ec)).as(s"e_$ec"),
        (covar_samp(col(dc), col(dc)) * count(lit(1))).as(s"pps_$dc")) }
      val famRows =
        if (families.isEmpty) Array.empty[org.apache.spark.sql.Row]
        else long.groupBy(col("t_star"), col("trt"))
          .agg(famAggs.head, famAggs.tail: _*).collect()
      // same one-job recombine for the β contractions: Poisson partials
      // per sample + per-sample n·cov in a single groupBy(trt) aggregate
      val bAggs = (0 until p).flatMap(j => Seq(
        sum((lit(1.0) - col("__pi")) *
          col(s"dbeta_m_$j") * col(s"dbeta_m_$j")).as(s"pois$j"),
        (covar_samp(col(s"dbeta_m_$j"), col(s"dbeta_m_$j")) *
          count(lit(1))).as(s"pps$j")))
      val bRows = withDb.groupBy(col("trt"))
        .agg(bAggs.head, bAggs.tail: _*).collect()
      // a whole (t*, sample) group can come back NULL on any aggregate
      // column (sum/max over an all-NULL group): treat NULL partials as
      // 0.0 — exactly what the pre-recombine per-group aggregates did by
      // ignoring NULL inputs
      def nz(r: org.apache.spark.sql.Row, i: Int): Double =
        if (r.isNullAt(i)) 0.0 else r.getDouble(i)
      def contract(dcol: String, ecol: String): Map[Double, Estimand] = {
        if (!families.exists(_._1 == dcol)) return Map.empty
        val fi = families.indexWhere(_._1 == dcol)
        val byT = famRows.groupBy(_.getDouble(0))
        tStar.map { t =>
          val rs = byT(t)
          val pois = rs.map(nz(_, 2 + 3 * fi)).sum
          // a sample group can be all-NULL on the estimate column (the
          // pre-grouped max ignored those rows; the recombine must too).
          // Every sample NULL (a t* before any event / grid mass reaches
          // either sample) ⇒ the cumulative estimand is identically 0.
          val estVals = rs.filter(!_.isNullAt(3 + 3 * fi))
            .map(_.getDouble(3 + 3 * fi))
          val est = if (estVals.isEmpty) 0.0 else estVals.max
          val pps = rs.map(nz(_, 4 + 3 * fi)).sum
          t -> Estimand(est, pois, pps)
        }.toMap
      }
      val lam = contract("d_cum_hzd", "cum_hzd")
      val gail = if (lambdaStar.isDefined) contract("d_cum_gail", "cum_gail")
        else Map.empty[Double, Estimand]
      val absR = if (risk.isDefined) contract("d_abs_risk", "abs_risk")
        else Map.empty[Double, Estimand]
      val absRG = if (risk.isDefined && lambdaStar.isDefined)
        contract("d_abs_risk_gail", "abs_risk_gail") else Map.empty[Double, Estimand]

      val bPois = (0 until p).map(j =>
        bRows.map(nz(_, 1 + 2 * j)).sum).toArray
      val bPps = (0 until p).map(j =>
        bRows.map(nz(_, 2 + 2 * j)).sum).toArray

      IpswInference(gamma, fit.coefficients, bPois, bPps,
        lam, gail, absR, absRG)
    } finally allDevCache.unpersist(blocking = false)
  }
}
