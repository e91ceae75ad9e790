package graft.variance

import breeze.linalg.DenseMatrix
import graft.core.{Gram, LinAlg}
import graft.stats.WeightedGLM
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/** Taylor-linearization ("deviate") variance engine (SURVEY.md M13) —
  * the reference's influence-function machinery
  * (taylor_deviate.R:445-570; sandwich `v_Poisson`, simu_fun.R:231-263).
  *
  * Unit-level influence values stay DISTRIBUTED as ordinary columns
  * (one per estimand component); only k×k contractions collect. The
  * n×k influence matrices the reference manipulates in memory are never
  * materialized as matrices, matching its own warning about memory
  * ceilings (taylor_deviate.R:975).
  */
object Influence {

  /** Per-unit influence deviates for a weighted logistic fit
    * (`gamma_w`, taylor_deviate.R:556-570):
    *   Δ_i = H⁻¹ · w_i (y_i − μ_i) x_i
    * Returns p expression columns over the fitted frame. */
  def logisticDeviates(fit: WeightedGLM.Fit, features: Column, label: Column,
      weight: Column): Seq[Column] = {
    val p = fit.coefficients.length
    val hinv = LinAlg.inverse(LinAlg.unpack(p, fit.hessianPacked))
    val resid = weight.cast("double") * (label.cast("double") - fit.predictProb(features))
    (0 until p).map { r =>
      (0 until p).map(j => lit(hinv(r, j)) * resid * features.getItem(j))
        .reduce(_ + _)
    }
  }

  /** Poisson-sampling variance of a total from unit deviates
    * (taylor_deviate.R:109-117): V̂ = Σ (1−π_i) Δ_i². */
  def poissonVarianceOfTotal(df: DataFrame, deviate: Column, pi: Column): Double =
    df.agg(sum((lit(1.0) - pi.cast("double")) * deviate * deviate))
      .head().getDouble(0)

  /** Sandwich variance for the logistic fit under Poisson sampling
    * (`v_Poisson`, simu_fun.R:231-263): H⁻¹ M H⁻¹ with
    * M = Σ (1−π_i) s_i s_iᵀ, s_i = w_i(y_i−μ_i)x_i. Returns the p×p
    * matrix (driver-side; the Σ runs distributed). */
  def logisticSandwich(df: DataFrame, fit: WeightedGLM.Fit, features: Column,
      label: Column, weight: Column, pi: Column): DenseMatrix[Double] = {
    val p = fit.coefficients.length
    val resid = weight.cast("double") * (label.cast("double") - fit.predictProb(features))
    val f = (lit(1.0) - pi.cast("double"))
    val m = meat(df, p, features, f * resid * resid)
    val hinv = LinAlg.inverse(LinAlg.unpack(p, fit.hessianPacked))
    hinv * m * hinv
  }

  /** HC0 heteroskedasticity-robust sandwich for a WLS fit:
    * (X'WX)⁻¹ [Σ w²e² x x'] (X'WX)⁻¹ with e = y − x'β. Same
    * distributed-Σ / driver-side-k×k split as `logisticSandwich`. */
  def wlsSandwich(df: DataFrame, fit: WeightedGLM.Fit, features: Column,
      y: Column, weight: Column): DenseMatrix[Double] = {
    val p = fit.coefficients.length
    val e = y.cast("double") -
      graft.core.FeatureArray.dot(features, fit.coefficients)
    val w = weight.cast("double")
    val m = meat(df, p, features, w * w * e * e)
    val binv = LinAlg.inverse(LinAlg.unpack(p, fit.hessianPacked))
    binv * m * binv
  }

  /** The sandwich meat Σ v·x xᵀ as one packed Gram aggregate. */
  private def meat(df: DataFrame, p: Int, features: Column,
      v: Column): DenseMatrix[Double] = {
    val cols = Gram.columns((0 until p).map(features.getItem(_)), v)
    LinAlg.unpack(p, Gram.read(df.agg(cols.head, cols.tail: _*).head(), 0,
      cols.length))
  }
}
