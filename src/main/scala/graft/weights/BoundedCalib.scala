package graft.weights

import graft.core.Gram
import graft.stats.Newton
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/** Deville–Särndal bounded (logit-distance) calibration — the
  * range-restricted sibling of GREG (`weights/Greg.scala`) and raking
  * (`weights/Raking.scala`): calibrated weights w_i = d_i · F(x_i'λ)
  * where F is the logistic distance function bounded in [L, U], so no
  * weight is adjusted below L·d_i or above U·d_i (GREG's linear F can
  * go negative; raking's exp F is unbounded above). λ solves the
  * calibration equations Σ w_i x_i = T by Newton.
  *
  * F(u) = (L(U−1) + U(1−L)·z) / ((U−1) + (1−L)·z),  z = e^{A·u},
  * A = (U−L)/((1−L)(U−1));   F(0) = 1, L < F < U, F' > 0.
  *
  * Scale shape (the shared Newton driver, stats/Newton.scala): each
  * Newton step is ONE codegen'd hash aggregate over the sample producing
  * a p-vector residual and p×p Jacobian; only those p(p+3)/2 doubles
  * reach the driver. Iteration count is pinned by the caller so a
  * second engine can replay the fixed point exactly.
  */
object BoundedCalib {

  /** Solve for λ over `df` whose calibration variables are the scalar
    * columns `xs` (x₀ is conventionally the intercept 1) with design
    * weight `d`, against population totals `targets`. */
  def solve(df: DataFrame, xs: Seq[Column], d: Column,
      targets: Array[Double], l: Double, u: Double,
      iters: Int): Array[Double] =
    newton(df, xs, d, targets, l, u, iters, cramer = targets.length == 2)

  /** `iters` pinned Newton steps on the shared driver; `cramer` takes the
    * closed-form 2×2 step (p = 2 only) instead of the LU solve. */
  private[graft] def newton(df: DataFrame, xs: Seq[Column], d: Column,
      targets: Array[Double], l: Double, u: Double, iters: Int,
      cramer: Boolean): Array[Double] = {
    val p = targets.length
    require(xs.length == p, s"need ${targets.length} x-columns, got ${xs.length}")
    require(!cramer || p == 2, "the closed-form step is 2×2 only")
    val cols = xs.zipWithIndex.map { case (c, i) => c.cast("double").as(s"x$i") } :+
      d.cast("double").as("d")
    val x = (0 until p).map(j => col(s"x$j"))
    Newton.run(df, cols, new Array[Double](p), iters, tol = 0.0,
        fitter = "BoundedCalib") { base => lambda =>
      val (fExpr, fpExpr) = distance(
        x.indices.map(j => x(j) * graft.functions.Coef.at(lambda, j)).reduce(_ + _), l, u)
      val aggs = Gram.linear(x, col("d") * fExpr) ++ Gram.columns(x, col("d") * fpExpr)
      val row = base.agg(aggs.head, aggs.tail: _*).head()
      val r = Array.tabulate(p)(j => targets(j) - row.getDouble(j))
      val jac = Gram.read(row, p, p * (p + 1) / 2)
      if (cramer) {
        // closed-form 2×2 step in the EXACT operation order a SQL
        // replay writes it — keeps the two engines' fixed points
        // bit-aligned instead of LU-vs-Cramer ulp drift
        val Array(j00, j01, j11) = jac
        val det = j00 * j11 - j01 * j01
        Array((j11 * r(0) - j01 * r(1)) / det, (j00 * r(1) - j01 * r(0)) / det)
      } else Newton.step(p, jac, r)
    }.theta
  }

  /** The calibration factor F(x'λ) as a column expression. */
  def factor(xs: Seq[Column], lambda: Array[Double],
      l: Double, u: Double): Column =
    distance(xs.zipWithIndex
      .map { case (c, j) => c.cast("double") * graft.functions.Coef.at(lambda, j) }
      .reduce(_ + _), l, u)._1

  /** (F(u), F'(u)) for the bounded logit distance. The expression
    * shapes are kept literal-for-literal identical to the oracle SQL
    * (constant subexpressions pre-folded to plain doubles) so both
    * engines evaluate the same IEEE operation sequence. */
  private def distance(uExpr: Column, l: Double, u: Double): (Column, Column) = {
    val a = (u - l) / ((1 - l) * (u - 1))
    val z = exp(lit(a) * uExpr)
    val dEx = lit(u - 1) + lit(1 - l) * z
    val f = (lit(l * (u - 1)) + lit(u * (1 - l)) * z) / dEx
    val fp = lit((1 - l) * (u - 1) * (u - l) * a) * z / (dEx * dEx)
    (f, fp)
  }
}
