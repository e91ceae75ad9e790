package graft.stats

import graft.core.{LinAlg, Pin, Windows}
import org.apache.spark.sql.functions.{lit, raise_error, when}
import org.apache.spark.sql.{Column, DataFrame}

/** The one Newton driver behind every iterative fitter: weighted GLM
  * IRLS (`svyglm`), Breslow Newton-Raphson (`svycoxph`), bounded
  * calibration, and the all-replicates-at-once jackknife refits
  * (jk_fun.R:279-387).
  *
  * The driver owns what the loops share:
  *  - the input's path, chosen once per fit: the iteration-invariant
  *    columns are projected once and held by core.Pin (under Auto when
  *    the fitter has a local pass). A Small projection with no null
  *    iterates on the driver over its rows as column arrays, with no job
  *    or plan per iteration; any other input runs the distributed pass
  *    over the pinned frame (a Large one's cached leaf view, a
  *    null-holding Small one's local relation), whose aggregates define
  *    the semantics of nulls. The pin is released on every path, a
  *    failing solve included;
  *  - θ ← θ + step, stopping after `maxIter` steps or once
  *    max|step| < `tol` (tol = 0 pins the iteration count, so a SQL
  *    oracle can replay the same fixed point);
  *  - a singular solve or a non-finite θ fails the fit with a
  *    [[NumericalError]] naming the fitter and the iteration. The check
  *    reads the driver's θ only, so it adds no job.
  *
  * Each fitter supplies its distributed pass: an aggregate at the
  * current θ and its driver-side solve. θ enters the aggregate through
  * functions.Coef, which snapshots it and keeps the generated code the
  * same every iteration. A fitter's local pass, when it has one, sits
  * beside that aggregate and sums the same products in the same operand
  * order; the two paths differ only in the order rows are added.
  */
object Newton {

  final case class Result(theta: Array[Double], iterations: Int,
      converged: Boolean, maxStep: Double)

  /** A fit that cannot go on: `fitter`'s information matrix (or
    * Hessian) was singular at `iteration`, or its coefficients left the
    * finite doubles there (a diverging fit, non-finite input). */
  final class NumericalError(val fitter: String, val iteration: Int,
      reason: String, cause: Throwable = null)
    extends RuntimeException(s"$fitter: $reason at iteration $iteration", cause)

  /** A fitter's driver-side setup: called once with the fetched
    * projection as one array per column (every column a double);
    * returns the pass, which maps the current θ to the step added to it. */
  type Local = Array[Array[Double]] => Array[Double] => Array[Double]

  /** Iterate θ from `theta0` over `df` projected to `cols`.
    *
    * @param fitter the fitter's name, carried by its errors
    * @param local  the driver-side pass over a Small input, if the
    *               fitter has one; None runs no fetch
    * @param setup  called once with the pinned projection, before the
    *               first distributed step (size probes go here); returns
    *               the pass, which maps the current θ to the step added
    *               to it */
  def run(df: DataFrame, cols: Seq[Column], theta0: Array[Double],
      maxIter: Int, tol: Double, fitter: String, local: Option[Local] = None)(
      setup: DataFrame => Array[Double] => Array[Double]): Result =
    Pin(df.select(cols: _*),
        if (local.isDefined) Windows.SizeHint.Auto else Windows.SizeHint.Large) { (in, rows) =>
      val pass = (local, rows) match {
        case (Some(localSetup), Some(rs)) if !rs.exists(_.anyNull) =>
          localSetup(Array.tabulate(cols.length)(j => rs.map(_.getDouble(j))))
        case _ => setup(in)
      }
      val theta = theta0.clone()
      var iter = 0
      var converged = false
      var maxStep = Double.MaxValue
      while (iter < maxIter && !converged) {
        val step = try pass(theta) catch {
          case e: breeze.linalg.MatrixSingularException =>
            throw new NumericalError(fitter, iter + 1, "singular information matrix", e)
        }
        maxStep = 0.0
        var finite = true
        var i = 0
        while (i < theta.length) {
          theta(i) += step(i)
          maxStep = math.max(maxStep, math.abs(step(i)))
          finite &&= !theta(i).isNaN && !theta(i).isInfinite
          i += 1
        }
        iter += 1
        if (!finite) throw new NumericalError(fitter, iter, "non-finite coefficients")
        converged = maxStep < tol
      }
      Result(theta, iter, converged, maxStep)
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
