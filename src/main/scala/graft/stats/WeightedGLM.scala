package graft.stats

import graft.core.{Gram, LinAlg}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/** Design-weighted GLMs (SURVEY.md M1/M3).
  *
  * M1: weighted logistic regression — the reference's
  * `svyglm(trt ~ ..., family=binomial)` propensity / outcome models
  * (simu_fun.R:29-31,67-68; taylor_deviate.R:8). Implemented as explicit
  * IRLS on the shared Newton driver: each iteration sums the p×p
  * Hessian and p-gradient at the current β, then solves on the driver
  * (Breeze). p ≤ ~6, ~8 iterations. An input of at most
  * `Windows.SmallRows` rows without nulls is fetched once and summed on
  * the driver; any other input runs ONE shuffle-free distributed pass
  * (flat Gram sums) per iteration over the driver's pinned projection,
  * never a per-row collect.
  *
  * M3: weighted least squares — the imputation model
  * `lm(t_delta ~ x1*x2)` (calib_simu_noninf0315.R:82): single-pass
  * normal equations + driver solve.
  */
object WeightedGLM {

  final case class Fit(
      coefficients: Array[Double],
      iterations: Int,
      converged: Boolean,
      hessianPacked: Array[Double]) {
    def predictEta(features: Column): Column =
      graft.core.FeatureArray.dot(features, coefficients)
    def predictProb(features: Column): Column =
      graft.core.FeatureArray.sigmoid(predictEta(features))
  }

  /** Fit weighted logistic regression of `label` (0/1) on the feature
    * array column `features` (length p, intercept included by caller)
    * with per-row weights `weight`. The Newton driver projects and pins
    * the input once per fit. */
  def logistic(
      df: DataFrame,
      features: Column,
      label: Column,
      weight: Column,
      p: Int,
      maxIter: Int = 50,
      tol: Double = 1e-9): Fit =
    irls(df, features, label, weight, p, maxIter, tol, Logistic)

  /** Weighted Poisson GLM (log link) — the rate-model sibling of
    * [[logistic]] (the parametric form behind the reference's
    * event-rate modeling, absrisk_fun.R): μ = exp(η), working weight
    * w·μ, score w·(y − μ). Same two-phase IRLS shape: ONE distributed
    * aggregate per iteration, driver-side p×p solve. */
  def poisson(
      df: DataFrame,
      features: Column,
      label: Column,
      weight: Column,
      p: Int,
      maxIter: Int = 50,
      tol: Double = 1e-9): Fit =
    irls(df, features, label, weight, p, maxIter, tol, Poisson)

  /** A GLM family at the linear predictor η: (μ, V(μ)), the mean and the
    * working-weight variance function, as columns for the distributed
    * pass and as doubles for the local one. The two spell the same
    * operations (Spark's `exp` is StrictMath.exp). */
  private final case class Family(column: Column => (Column, Column),
      local: Double => (Double, Double))

  private val Logistic = Family(
    { eta => val mu = lit(1.0) / (lit(1.0) + exp(-eta)); (mu, mu * (lit(1.0) - mu)) },
    { eta => val mu = 1.0 / (1.0 + StrictMath.exp(-eta)); (mu, mu * (1.0 - mu)) })

  private val Poisson = Family(
    { eta => val mu = exp(eta); (mu, mu) },
    { eta => val mu = StrictMath.exp(eta); (mu, mu) })

  /** IRLS on the shared Newton driver. Each pass sums the Hessian
    * Σ (w·V(μ))·x_i·x_j and the score Σ (w·(y − μ))·x_i at the current
    * β: distributed, one codegen'd hash aggregate over the flattened
    * features; local, the same products over the fetched columns. */
  private def irls(
      df: DataFrame,
      features: Column,
      label: Column,
      weight: Column,
      p: Int,
      maxIter: Int,
      tol: Double,
      family: Family): Fit = {
    val cols = (0 until p).map(i =>
        features.getItem(i).cast("double").as(s"__f$i")) ++
      Seq(label.cast("double").as("__y"), weight.cast("double").as("__w"))
    val f = (0 until p).map(i => col(s"__f$i"))
    val tri = p * (p + 1) / 2
    var lastHessian = new Array[Double](tri)
    // columns: x_0 … x_{p-1}, y, w
    val local: Newton.Local = { c =>
      val (y, w) = (c(p), c(p + 1))
      beta => {
        val hessian = new Array[Double](tri)
        val score = new Array[Double](p)
        var r = 0
        while (r < y.length) {
          var eta = 0.0
          var i = 0
          while (i < p) { eta += beta(i) * c(i)(r); i += 1 }
          val (mu, varFn) = family.local(eta)
          val wv = w(r) * varFn
          val wr = w(r) * (y(r) - mu)
          var k = 0
          i = 0
          while (i < p) {
            var j = i
            while (j < p) { hessian(k) += wv * c(i)(r) * c(j)(r); k += 1; j += 1 }
            score(i) += wr * c(i)(r)
            i += 1
          }
          r += 1
        }
        lastHessian = hessian
        Newton.step(p, hessian, score)
      }
    }
    val res = Newton.run(df, cols, new Array[Double](p), maxIter, tol, "IRLS",
        Some(local)) { flat => beta =>
      val eta = f.indices.map(i => graft.functions.Coef.at(beta, i) * f(i))
        .foldLeft(lit(0.0): Column)(_ + _)
      val (mu, varFn) = family.column(eta)
      val aggs = Gram.columns(f, col("__w") * varFn) ++
        Gram.linear(f, col("__w") * (col("__y") - mu))
      val row = flat.agg(aggs.head, aggs.tail: _*).head()
      lastHessian = Gram.read(row, 0, tri)
      Newton.step(p, lastHessian, Gram.read(row, tri, p))
    }
    Fit(res.theta, res.iterations, res.converged, lastHessian)
  }

  /** Weighted least squares: solve (X'WX) β = X'Wy in one pass. */
  def wls(df: DataFrame, features: Column, y: Column, weight: Column, p: Int): Fit = {
    val x = (0 until p).map(i => features.getItem(i).cast("double"))
    val aggs = Gram.columns(x, weight.cast("double"), Some(y.cast("double")))
    val row = df.agg(aggs.head, aggs.tail: _*).head()
    val gram = Gram.read(row, 0, p * (p + 1) / 2)
    val beta = LinAlg.solvePacked(p, gram, Gram.read(row, gram.length, p))
    Fit(beta, 1, converged = true, gram)
  }
}
