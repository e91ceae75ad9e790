package graft.pipeline

import graft.core.{FeatureArray, Pin}
import graft.core.Windows.SizeHint
import graft.functions.Coef
import graft.hazard.{Breslow, DiscreteHazard, GailHazard}
import graft.stats.CoxPH
import graft.variance.CoxInfluence
import graft.weights.Greg
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/** The reference's `calib_est` (jk_fun.R:24-78): calibrate the cohort's
  * weights against auxiliary totals built from an ERROR-PRONE outcome
  * shared by both samples, then fit the TRUE-outcome model on the
  * cohort at the calibrated weights.
  *
  *  1. aux Cox fit of (t̃, d̃) ~ x on the combined sample at `wtVar`;
  *  2. per-unit β-influence of that fit (CoxInfluence — the reference's
  *     `beta_pw.cox`) and the relative-hazard regressor t̃·e^{x'β̃};
  *  3. GREG twice on the cohort rows (greg.f):
  *     - β-weights  : design [1, d̃, Δβ_1..p]   targets [N, N1, 0..0]
  *     - λ-weights  : design [1, d̃, t̃·rr]      targets [N, N1, T_rr]
  *       with T_rr the combined-sample estimate Σ w·t̃·rr;
  *  4. negative calibrated weights clipped to 1e-5 (jk_fun.R:54,64);
  *  5. Cox β on the cohort's TRUE (t, d) at the β-weights; Λ(t*), Gail
  *     ΛG(t*) and absolute risk at the λ-weights with rel-hazard from
  *     that β (est_out, jk_fun.R:1-22).
  *
  * Everything is one pass per aggregate: the aux influence is the
  * closed-form martingale collapse, each GREG is one Gram aggregate +
  * driver solve, and the hazard chain runs at SizeHint hints chosen by
  * the caller's time-domain knowledge.
  */
object CalibEst {

  /** @param comDat stacked frame: trt (1=cohort), true (t, d), the
    *               error-prone (tVar, dVar), covariates, and weight
    *               columns `wtVar` (aux-fit weight) and `gregWt`
    *               (cohort GREG base weight, usually the un-halved
    *               design weight or the blended pseudo-weight)
    * @param popN   population size target (intercept)
    * @param popN1  population event-count target — paired with the
    *               cohort's TRUE d design column (the reference's greg
    *               formula resolves `d` to the gold-standard cohort
    *               outcome, jk_fun.R:41-48)
    */
  def run(
      comDat: DataFrame,
      tVar: String, dVar: String, wtVar: String, gregWt: Column,
      popN: Double, popN1: Double,
      featureCols: Seq[String],
      tStar: Seq[Double],
      popLambda: Option[DataFrame] = None,
      eta0: Double = 0.0,
      sizeHint: SizeHint = SizeHint.Auto): SurveyIntegration.Battery = {
    val feats = featureCols.map(col)
    val p = featureCols.length

    // 1-2. aux fit + influence on the combined sample
    val aux = CoxPH.fit(comDat, col(tVar), col(dVar), col(wtVar), feats)
    val dev = CoxInfluence.deviates(comDat, col(tVar), col(dVar), col(wtVar),
      feats, aux.coefficients, aux.infoPacked,
      passthrough = Seq(col("trt"), col("t"), col("d"), gregWt.as("__gw"),
        col(tVar).as("__taux")),
      sizeHint = sizeHint)
    val rr = exp(feats.indices.map(j => col(s"__x$j") * Coef.at(aux.coefficients, j))
      .foldLeft(lit(0.0): Column)(_ + _))
    val cohort0 = dev.filter(col("trt") === 1)
      .withColumn("__dtrue", col("d").cast("double"))
      .withColumn("__trr", col("__taux") * rr)

    // T_rr: combined-sample total of w·t̃·rr (__w IS the wtVar weight
    // after the deviates projection)
    val tRr = dev.agg(sum(col("__w") * col("__taux") * rr))
      .head().getDouble(0)

    // the cohort rows feed both GREG solves, the fit and the hazard chain
    Pin(cohort0, SizeHint.Auto) { (cohort, _) =>

      // 3. the two GREG calibrations on the cohort
      val betaDesign = FeatureArray.noIntercept(
        lit(1.0) +: col("__dtrue") +: (0 until p).map(j => col(s"dbeta_$j")))
      val betaTargets = Array(popN, popN1) ++ Array.fill(p)(0.0)
      val calBeta = Greg.solve(cohort, betaDesign, col("__gw"), betaTargets)
      val wBeta = Greg.calibratedWeight(betaDesign, col("__gw"), calBeta)

      val lamDesign = FeatureArray.noIntercept(
        Seq(lit(1.0), col("__dtrue"), col("__trr")))
      val lamTargets = Array(popN, popN1, tRr)
      val calLam = Greg.solve(cohort, lamDesign, col("__gw"), lamTargets)
      val wLam = Greg.calibratedWeight(lamDesign, col("__gw"), calLam)

      // 5. true-outcome fits at the calibrated weights
      val xCols = (0 until p).map(j => col(s"__x$j"))
      val fit = CoxPH.fit(cohort, col("t"), col("d"), wBeta, xCols)
      val rel = exp(xCols.indices.map(j => xCols(j) * Coef.at(fit.coefficients, j))
        .foldLeft(lit(0.0): Column)(_ + _))
      val withLam = cohort.withColumn("__wlam", wLam)
      val cum = Breslow.cumulativeHazardAt(withLam, col("t"), col("d"),
          col("__wlam"), rel, tStar, sizeHint)
        .collect().map(r => r.getDouble(0) -> r.getDouble(1)).toMap
      val gail = popLambda match {
        case Some(ls) =>
          val ar = DiscreteHazard.steps(withLam, col("t"), col("d"),
            col("__wlam"), rel, sizeHint).select(col("t"), col("ar"))
          GailHazard.at(ls, ar, tStar, sizeHint).collect()
            .map(r => r.getDouble(0) -> r.getDouble(1)).toMap
        case None => Map.empty[Double, Double]
      }
      val abs = cum.map { case (t, ch) =>
        t -> (1.0 - math.exp(-ch * math.exp(eta0)))
      }
      SurveyIntegration.Battery(fit.coefficients, fit.converged,
        fit.scoreResidual, cum, gail, abs)
    }
  }
}
