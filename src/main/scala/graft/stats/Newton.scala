package graft.stats

import graft.core.LinAlg
import org.apache.spark.sql.functions.{lit, raise_error, when}
import org.apache.spark.sql.{Column, DataFrame, GraftSqlBridge}
import org.apache.spark.storage.StorageLevel

/** The one Newton driver behind every iterative fitter: weighted GLM
  * IRLS (`svyglm`), Breslow Newton-Raphson (`svycoxph`), bounded
  * calibration, and the all-replicates-at-once jackknife refits
  * (jk_fun.R:279-387).
  *
  * The driver owns what the loops share:
  *  - the iteration-invariant columns are projected once and persisted,
  *    and every pass reads the leaf-plan view of that cache
  *    (GraftSqlBridge.flattenPlan), so an iteration re-plans a one-node
  *    tree instead of the caller's lineage;
  *  - the cache is released on every path, a failing solve included;
  *  - θ ← θ + step, stopping after `maxIter` steps or once
  *    max|step| < `tol` (tol = 0 pins the iteration count, so a SQL
  *    oracle can replay the same fixed point).
  *
  * Each fitter supplies one pass: a distributed aggregate at the current
  * θ and its driver-side solve. θ enters the aggregate through
  * functions.Coef, which snapshots it and keeps the generated code the
  * same every iteration.
  */
object Newton {

  final case class Result(theta: Array[Double], iterations: Int,
      converged: Boolean, maxStep: Double)

  /** Iterate θ from `theta0` over `df` projected to `cols`.
    *
    * @param setup called once with the cached projection, before the
    *              first step (size probes go here); returns the pass,
    *              which maps the current θ to the step added to it */
  def run(df: DataFrame, cols: Seq[Column], theta0: Array[Double],
      maxIter: Int, tol: Double)(
      setup: DataFrame => Array[Double] => Array[Double]): Result = {
    val cached = df.select(cols: _*).persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val pass = setup(GraftSqlBridge.flattenPlan(cached))
      val theta = theta0.clone()
      var iter = 0
      var converged = false
      var maxStep = Double.MaxValue
      while (iter < maxIter && !converged) {
        val step = pass(theta)
        maxStep = 0.0
        var i = 0
        while (i < theta.length) {
          theta(i) += step(i)
          maxStep = math.max(maxStep, math.abs(step(i)))
          i += 1
        }
        iter += 1
        converged = maxStep < tol
      }
      Result(theta, iter, converged, maxStep)
    } finally { cached.unpersist(blocking = false); () }
  }

  /** The Newton step I⁻¹U for a packed symmetric information (or
    * Hessian) and a score. */
  def step(p: Int, infoPacked: Array[Double], score: Array[Double]): Array[Double] =
    LinAlg.solvePacked(p, infoPacked, score)

  /** `rep` as an int replicate id that fails the job, naming `fitter`,
    * outside 0..m-1. The replicated fitters read θ_r from one m·p array
    * at r·p + j with `element_at`, which counts negative indices from
    * the end — an unchecked id would silently read another replicate's
    * coefficients. */
  def replicateId(rep: Column, m: Int, fitter: String): Column = {
    val r = rep.cast("int")
    when(r.between(0, m - 1), r).otherwise(raise_error(lit(
      s"$fitter: replicate id outside 0..${m - 1}")))
  }
}
