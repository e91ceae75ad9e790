package graft.weights

import graft.core.{Gram, LinAlg}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import scala.collection.immutable.ListMap

/** GREG / linear calibration (SURVEY.md M7) — the reference's `greg.f`
  * (taylor_deviate.R:988-1007) and `calib_est`'s clip-and-refit
  * (jk_fun.R:51-63).
  *
  * Calibrate weights w_i to known auxiliary totals V (length p):
  *
  *   f_i = 1 + (V − V̂)' (Σ w x x')⁻¹ x_i,   V̂_j = Σ w_i x_ij
  *
  * One distributed pass (flat Gram sums plus V̂) → p×p driver
  * solve → the coefficient vector broadcasts back as literals inside a
  * codegen'd per-row expression. The n×n Jacobian the reference refuses
  * to materialize stays factored here too: downstream variance uses the
  * (f_w1, f_w2) vectors, never an n×n product (SURVEY.md §4).
  *
  * By construction the calibrated weights reproduce the targets exactly:
  * Σ f_i w_i x_ij = V_j (property-tested; taylor_deviate.R:997).
  */
object Greg {

  /** `gramPacked` is M = Σ w·v·v' (packed upper triangle) — the factored
    * half of the calibration Jacobian ∂f_k/∂w_i = −f_i·v_i'M⁻¹v_k
    * consumed by JointVariance.gregCorrectedDeviates. */
  final case class Calibration(lambda: Array[Double], totalsHat: Array[Double],
      gramPacked: Array[Double])

  /** Solve for the calibration coefficient λ = (X'WX)⁻¹(V − V̂): the
    * Gram and V̂_j = Σ w·x_j come from ONE aggregate. */
  def solve(df: DataFrame, features: Column, weight: Column, targets: Array[Double]): Calibration = {
    val p = targets.length
    val w = weight.cast("double")
    val x = (0 until p).map(j => features.getItem(j).cast("double"))
    val aggs = Gram.columns(x, w) ++ Gram.linear(x, w)
    val row = df.agg(aggs.head, aggs.tail: _*).head()
    val gram = Gram.read(row, 0, p * (p + 1) / 2)
    val vhat = Gram.read(row, gram.length, p)
    val diff = targets.zip(vhat).map { case (v, h) => v - h }
    Calibration(LinAlg.solvePacked(p, gram, diff), vhat, gram)
  }

  /** The per-row calibration factor f_i as a codegen'd expression. */
  def factor(features: Column, cal: Calibration): Column =
    lit(1.0) + graft.core.FeatureArray.dot(features, cal.lambda)

  /** Calibrated weight with the reference's negative-weight clip
    * (`calib.rr[calib.rr<0]=1e-5`, jk_fun.R:54,64): only strictly
    * negative products are replaced — a legitimate weight inside
    * [0, clip) passes through untouched. */
  def calibratedWeight(features: Column, weight: Column, cal: Calibration,
      clip: Double = 1e-5): Column = {
    val w = weight.cast("double") * factor(features, cal)
    when(w < 0.0, lit(clip)).otherwise(w)
  }

  /** One-shot: df + (greg_f, greg_wt). */
  def calibrate(df: DataFrame, features: Column, weight: Column,
      targets: Array[Double], clip: Double = 1e-5): DataFrame = {
    val cal = solve(df, features, weight, targets)
    df.withColumns(ListMap("greg_f" -> factor(features, cal),
      "greg_wt" -> calibratedWeight(features, weight, cal, clip)))
  }
}
