package graft.core

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.functions.Coef

/** Design-matrix-as-array-column builders (SURVEY.md P9): the reference's
  * `model.matrix(~x1+x2)` / `cbind(1, x1, x2, x1*x2)`
  * (simu_fun.R:42, calib_simu_noninf0315.R:62,116) becomes a single
  * ArrayType(Double) column built from codegen'd expressions — no UDF.
  */
object FeatureArray {

  /** [1.0, cols...] with every element cast to double. */
  def withIntercept(cols: Seq[Column]): Column =
    array((lit(1.0) +: cols.map(_.cast("double"))): _*)

  def noIntercept(cols: Seq[Column]): Column =
    array(cols.map(_.cast("double")): _*)

  /** Pairwise interaction terms x_i * x_j for the given (i,j) index pairs,
    * appended after the main effects — mirrors `~x1*x2` expansion. */
  def withInteractions(cols: Seq[Column], pairs: Seq[(Int, Int)]): Column = {
    val inter = pairs.map { case (i, j) => (cols(i) * cols(j)).cast("double") }
    array(((lit(1.0) +: cols.map(_.cast("double"))) ++ inter): _*)
  }

  /** Dot product of a feature array column with a driver-side
    * coefficient vector — unrolled to a codegen-friendly sum, no
    * higher-order fn. The coefficients enter as `functions.Coef`
    * references, so the generated code does not depend on their values. */
  def dot(features: Column, beta: Array[Double]): Column =
    beta.indices.map(i => features.getItem(i) * Coef.at(beta, i))
      .reduce(_ + _)

  /** Logistic link p = 1/(1+exp(-eta)) (simu_fun.R:34-48). */
  def sigmoid(eta: Column): Column = lit(1.0) / (lit(1.0) + exp(-eta))
}
