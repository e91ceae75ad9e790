package graft.pipeline

import graft.core.{FeatureArray, Pin}
import graft.core.Windows.SizeHint
import graft.hazard.RiskSet
import graft.stats.{CoxPH, WeightedGLM}
import graft.variance.{CoxInfluence, HazardInfluence, Influence, JointVariance}
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
      sizeHint: SizeHint = SizeHint.Auto,
      // pinned iteration counts (0 ⇒ run to convergence) let a DuckDB
      // oracle replay the identical fixed-point arithmetic
      psIters: Int = 0,
      coxIters: Int = 0): IpswInference = {
    val q = psFeatureCols.length + 1
    // 1. propensity fit on the a-scaled stack
    propensity(cohort, survey, surveyWt, psFeatureCols, a, psIters) { ps =>
      // 2. cohort pseudo-weights: ipsw = exp(−x'γ)/a, closed-form
      //    ∂w̃/∂γ = −ipsw·x_ps
      val score = FeatureArray.dot(ps.feats, ps.fit.coefficients)
      val withW = ps.stacked.withColumn("__wtc", when(col("trt") === 1,
        Ipsw.fromLinearPredictor(score, a)).otherwise(lit(0.0)))
      val pgCols = (0 until q).map(m0 =>
        (when(col("trt") === 1, -col("__wtc") * ps.feats.getItem(m0))
          .otherwise(0.0)).as(s"__pg$m0"))
      val prepared = withW.select((withW.columns.map(col) ++ Seq(
        when(col("trt") === 1, col("__wtc"))
          .otherwise(col("w").cast("double")).as("__psw"),
        when(col("trt") === 1, lit(1.0) / col("__wtc"))
          .otherwise(lit(1.0) / col("w").cast("double")).as("__pi")) ++
        ps.gdCols ++ pgCols): _*)
      inferenceCore(prepared, ps.size, time, event, featureCols, q, tStar,
        lambdaStar, x0, sizeHint, coxIters, ps.fit.coefficients)
    }
  }

  /** Kernel-weighted (KW) twin of `ipswChain` (the KW block,
    * taylor_deviate.R:209-236): pseudo-weights are kernel-smoothed over
    * propensity scores, so ∂w̃/∂γ comes from the kernel Jacobian (A8)
    * instead of the closed IPSW form; everything downstream — β-chain,
    * γ-chain, survey γ-only blocks, contractions — is shared.
    *
    * @param bandwidth kernel bandwidth; None ⇒ bw.nrd0 of the COHORT
    *                  scores (taylor_deviate.R:212). The Jacobian
    *                  treats h as fixed (dK/du only), matching the
    *                  reference's linearization. */
  def kwChain(
      cohort: DataFrame, survey: DataFrame, surveyWt: Column,
      time: Column, event: Column,
      featureCols: Seq[String], psFeatureCols: Seq[String],
      tStar: Seq[Double],
      lambdaStar: Option[DataFrame] = None,
      x0: Option[Array[Double]] = None,
      a: Double = 1.0,
      bandwidth: Option[Double] = None,
      sizeHint: SizeHint = SizeHint.Auto,
      psIters: Int = 0,
      coxIters: Int = 0): IpswInference = {
    val q = psFeatureCols.length + 1
    propensity(cohort, survey, surveyWt, psFeatureCols, a, psIters) { ps =>
      val psFeats = ps.feats
      val score = FeatureArray.dot(psFeats, ps.fit.coefficients)
      val scored = ps.stacked.withColumn("__q", score)
      val h = bandwidth.getOrElse(graft.stats.Kernels.bwNrd0(
        scored.filter(col("trt") === 1).select(col("__q").as("q")), col("q")))
      val surveyQ = scored.filter(col("trt") === 0)
      val cohortQ = scored.filter(col("trt") === 1)
      // kernel weights + Jacobian ATTACHED to the cohort rows through the
      // profile join — never keyed by the caller's id: duplicate ids in
      // the cohort frame would fan an id join out and double-count
      // pseudo-weight mass (the reference addresses units by row index,
      // simu_fun.R:186, so id uniqueness is not part of its contract).
      // Pinned in the stack's size class: every later job reads these
      // rows, and would otherwise re-run the kernel pair aggregation.
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
      val pgCols = (0 until q).map(m0 =>
        (when(col("trt") === 1, coalesce(col(s"d_kw_$m0"), lit(0.0)))
          .otherwise(0.0)).as(s"__pg$m0"))
      val prepared = withW.select((withW.columns.map(col) ++ Seq(
          when(col("trt") === 1, col("__wtc"))
            .otherwise(col("w").cast("double")).as("__psw"),
          // π for the KW chain stays the PROPENSITY-model estimate
          // π_c = a·e^{score} (taylor_deviate.R:118,128 uses pi.c_est for
          // the KW contractions too), not 1/kw
          when(col("trt") === 1, lit(a) * exp(col("__q")))
            .otherwise(lit(1.0) / col("w").cast("double")).as("__pi")) ++
          ps.gdCols ++ pgCols): _*)
      Pin(prepared, ps.size)((pinned, _) => inferenceCore(pinned, ps.size, time, event,
        featureCols, q, tStar, lambdaStar, x0, sizeHint, coxIters, ps.fit.coefficients))
    }
  }

  /** Front half shared by both chains: the a-scaled stack (propensity
    * weight __wps), pinned for `body` (core.Pin: the stack's size class
    * is `size`); the propensity IRLS for γ̂ (pinned to `psIters`
    * iterations when > 0); and the per-unit γ deviates as `__gd` column
    * expressions over the stack. */
  private final case class Propensity(stacked: DataFrame, size: SizeHint,
      feats: Column, fit: WeightedGLM.Fit, gdCols: Seq[Column])

  private def propensity[A](cohort: DataFrame, survey: DataFrame,
      surveyWt: Column, psFeatureCols: Seq[String], a: Double,
      psIters: Int)(body: Propensity => A): A = {
    val q = psFeatureCols.length + 1
    val psFeats = FeatureArray.withIntercept(psFeatureCols.map(col))
    val stack = SurveyIntegration.stack(cohort, survey, surveyWt)
      .withColumn("__wps", when(col("trt") === 1, 1.0)
        .otherwise(col("w").cast("double") * a))
    Pin(stack, SizeHint.Auto) { (stacked, rows) =>
      val fit =
        if (psIters > 0) WeightedGLM.logistic(stacked, psFeats, col("trt"),
          col("__wps"), p = q, maxIter = psIters, tol = 0.0)
        else WeightedGLM.logistic(stacked, psFeats, col("trt"), col("__wps"), p = q)
      val gdCols = Influence.logisticDeviates(fit, psFeats, col("trt"),
        col("__wps")).zipWithIndex.map { case (c, m0) => c.as(s"__gd$m0") }
      body(Propensity(stacked, if (rows.isDefined) SizeHint.Small else SizeHint.Large,
        psFeats, fit, gdCols))
    }
  }

  /** Shared tail: Cox fit at the cohort pseudo-weight `__wtc`, per-unit
    * influence with survey γ-only blocks, per-m β deviates, hazard
    * chain, contractions. `prepared` carries trt, the time/event and
    * feature columns, __wtc/__psw/__pi and q columns each of __gd/__pg;
    * its rows, and so the deviate frame's, are of class `rows`. */
  private def inferenceCore(
      prepared: DataFrame,
      rows: SizeHint,
      time: Column, event: Column,
      featureCols: Seq[String], q: Int,
      tStar: Seq[Double],
      lambdaStar: Option[DataFrame],
      x0: Option[Array[Double]],
      sizeHint: SizeHint,
      coxIters: Int,
      gamma: Array[Double]): IpswInference = {
    val p = featureCols.length
    val cohortF = prepared.filter(col("trt") === 1)
    val feats = featureCols.map(col)
    val fit =
      if (coxIters > 0) CoxPH.fit(cohortF, time, event, col("__wtc"), feats,
        maxIter = coxIters, tol = 0.0, sizeHint = sizeHint)
      else CoxPH.fit(cohortF, time, event, col("__wtc"), feats,
        sizeHint = sizeHint)
    // under Auto the fit's fetch (or its cardinality probe) bounded the
    // rows of the RiskSet table below: a Small answer sizes every scan of
    // the chain, so the chain runs no probe of its own
    val hint = SizeHint.inherited(sizeHint, fit.stepSize)

    // 3. one RiskSet table (with the γ measures ∂w̃/∂γ = __pg) feeds
    //    both the β influence and the hazard chain. Influence frame:
    //    cohort rows carry the direct score influence, survey rows join
    //    as zero-weight γ-only blocks (the reference's
    //    rbind(…, matrix(0, n_s, …)))
    val steps = RiskSet.steps(cohortF, time, event, col("__wtc"),
      CoxInfluence.relHzd(feats, fit.coefficients), feats,
      (0 until q).map(m0 => col(s"__pg$m0")), hint)
    val pass = Seq(col("trt"), col("__pi"), col("__psw")) ++
      (0 until q).map(m0 => col(s"__gd$m0")) ++
      (0 until q).map(m0 => col(s"__pg$m0"))
    val devC = CoxInfluence.deviates(cohortF, time, event, col("__wtc"),
      feats, fit.coefficients, fit.infoPacked, steps, pass, hint)
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
    Pin(devC.unionByName(surveyAligned), rows) { (allDev, _) =>

      // 4. per-m β deviates: ipsw·I⁻¹U + B·Δγ (cross-derivative through
      //    ∂w̃/∂γ = __pg: −ipsw·x_ps, or KW's d_kw; survey rows have U = 0)
      val withDb = JointVariance.correctedDeviates(allDev, p,
        (0 until q).map(m0 => col(s"__pg$m0")),
        (0 until q).map(m0 => col(s"__gd$m0")), fit.infoPacked,
        directScale = col("__psw") * col("trt"), out = "dbeta_m_")

      // 5. hazard-chain deviates at the same per-m scale
      val risk = x0.map(v => HazardInfluence.RiskProfile(fit.coefficients, v))
      val long = HazardInfluence.cumulativeDeviates(withDb, steps, p, tStar,
        lambdaStar = lambdaStar, risk = risk,
        gammaDevs = (0 until q).map(m0 => col(s"__gd$m0")),
        betaDevPrefix = "dbeta_m_",
        directScale = col("__psw") * col("trt"),
        sizeHint = hint,
        passthrough = Seq(col("trt"), col("__pi"), col("__psw")))

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
      val byT = Influence.contract(long, families.map(f => col(f._1)),
        col("__pi"), keys = Seq(col("t_star")), sample = Some(col("trt")),
        extra = families.map(f => max(col(f._2))))
      // the same one-job recombine for the β contractions
      val b = Influence.contract(withDb, (0 until p).map(j => col(s"dbeta_m_$j")),
        col("__pi"), sample = Some(col("trt")))(Nil)
      def estimands(dcol: String): Map[Double, Estimand] = {
        val fi = families.indexWhere(_._1 == dcol)
        if (fi < 0) Map.empty
        else tStar.map { t =>
          val c = byT(Seq(t))
          // a sample group can be all-NULL on the estimate column (the
          // pre-grouped max ignored those rows; the recombine must too).
          // Every sample NULL (a t* before any event / grid mass reaches
          // either sample) ⇒ the cumulative estimand is identically 0.
          val est = if (c.extra(fi).isEmpty) 0.0 else c.extra(fi).max
          t -> Estimand(est, c.poisson(fi), c.pps(fi))
        }.toMap
      }

      IpswInference(gamma, fit.coefficients, b.poisson.toArray, b.pps.toArray,
        estimands("d_cum_hzd"), estimands("d_cum_gail"),
        estimands("d_abs_risk"), estimands("d_abs_risk_gail"))
    }
  }
}
