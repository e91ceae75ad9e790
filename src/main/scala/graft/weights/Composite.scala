package graft.weights

import org.apache.spark.sql.functions._
import graft.functions.Coef
import org.apache.spark.sql.{Column, DataFrame}

/** Composite-weight blending (SURVEY.md M17) — the reference's CV-based
  * allocation between the cohort's pseudo-weights and the survey's
  * design weights before joint calibration (jk_fun.R:136-139):
  *
  *   cv_g  = (var(w_g)/mean(w_g²) + 1) / n_g          g ∈ {cohort, survey}
  *   a_g   = (Σw_c + Σw_s) · (1 − cv_g/Σcv) / Σw_g / 2
  *   w'_g  = w_g · a_g
  *
  * Four scalar aggregates per side → driver arithmetic → two literal
  * multipliers.
  */
object Composite {

  final case class Allocation(aCohort: Double, aSurvey: Double)

  def allocation(cohort: DataFrame, cohortWt: Column,
      survey: DataFrame, surveyWt: Column): Allocation = {
    def stats(df: DataFrame, w: Column): (Double, Double, Double) = {
      val r = df.agg(var_samp(w.cast("double")), avg(w.cast("double") * w.cast("double")),
        sum(w.cast("double")), count(lit(1)).cast("double")).head()
      val cv = (r.getDouble(0) / r.getDouble(1) + 1.0) / r.getDouble(3)
      (cv, r.getDouble(2), r.getDouble(3))
    }
    val (cvC, sumC, _) = stats(cohort, cohortWt)
    val (cvS, sumS, _) = stats(survey, surveyWt)
    val tot = sumC + sumS
    val cvSum = cvC + cvS
    Allocation(
      tot * (1.0 - cvC / cvSum) / sumC / 2.0,
      tot * (1.0 - cvS / cvSum) / sumS / 2.0)
  }

  /** Stacked frame (`trt`=1 cohort, 0 survey) with blended weight. */
  def blend(stacked: DataFrame, trt: Column, cohortWt: Column, surveyWt: Column,
      alloc: Allocation): DataFrame =
    stacked.withColumn("composite_wt",
      when(trt === 1, cohortWt.cast("double") * Coef.scalar(alloc.aCohort))
        .otherwise(surveyWt.cast("double") * Coef.scalar(alloc.aSurvey)))
}
