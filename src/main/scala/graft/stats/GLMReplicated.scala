package graft.stats

import graft.core.Gram
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, Row}

/** Vectorized-replicate weighted logistic IRLS (SURVEY.md §7.4.5,
  * M14×M1) — the propensity-refit engine for the reference's
  * `recal.wt=T` jackknife branch (jk_fun.R:279,292-341), where the PS
  * model is re-fit INSIDE every delete-a-group replicate before the
  * pseudo-weights and the downstream Cox fit are recomputed.
  *
  * The reference re-runs `svyglm` once per replicate, sequentially.
  * Here all m replicates advance through IRLS together on the shared
  * Newton driver — the `CoxPHReplicated` pattern applied to M1's
  * weighted logistic:
  *
  *  - input is the exploded (unit × replicate) frame; each row carries
  *    its replicate id and replicate weight (0 for the dropped group),
  *  - the current γ of all replicates is ONE referenced m·p array
  *    (functions.Coef.array); each row reads its γ_r at index r·p + j,
  *    so no coefficient frame is joined per iteration. μ, the p×p
  *    Hessian and the score are aggregated groupBy(replicate) in ONE
  *    codegen'd distributed pass,
  *  - the driver solves m tiny p×p systems.
  *
  * Jobs = O(IRLS iterations), independent of replicate count — the
  * shape that survives 90 replicates × 100 TB.
  */
object GLMReplicated {

  final case class RepFit(gammas: Map[Int, Array[Double]], iterations: Int,
      maxStep: Double) {
    /** γ_{r,j} for the replicate-id column `rep`, read from one
      * referenced m·p array at index r·p + j (no join). */
    def coef(rep: Column, j: Int): Column = {
      val m = gammas.size
      val p = gammas(0).length
      val flat = Array.tabulate(m * p)(k => gammas(k / p)(k % p))
      element_at(graft.functions.Coef.array(flat),
        Newton.replicateId(rep, m, "GLMReplicated.RepFit") * p + (j + 1))
    }
  }

  /** Fit one weighted logistic regression PER replicate.
    *
    * @param df       exploded frame: one row per (unit, replicate)
    * @param rep      replicate id column (int, 0..m-1)
    * @param features feature columns (intercept included by caller)
    * @param label    0/1 response
    * @param weight   per-(row, replicate) weight (0 for dropped group)
    */
  def logistic(df: DataFrame, rep: Column, features: Seq[Column],
      label: Column, weight: Column, m: Int,
      maxIter: Int = 25, tol: Double = 1e-9): RepFit = {
    val p = features.length
    val cols = Seq(Newton.replicateId(rep, m, "GLMReplicated").as("__r"),
        label.cast("double").as("__y"), weight.cast("double").as("__w")) ++
      features.indices.map(j => features(j).cast("double").as(s"__f$j"))
    val f = (0 until p).map(j => col(s"__f$j"))
    val tri = p * (p + 1) / 2
    val res = Newton.run(df, cols, new Array[Double](m * p), maxIter, tol) { base => gamma =>
      val g = graft.functions.Coef.array(gamma)
      val eta = f.indices.map(j =>
          f(j) * element_at(g, col("__r") * p + (j + 1)))
        .foldLeft(lit(0.0): Column)(_ + _)
      val withMu = base.withColumn("__mu", lit(1.0) / (lit(1.0) + exp(-eta)))
      val aggs =
        Gram.columns(f, col("__w") * col("__mu") * (lit(1.0) - col("__mu"))) ++
        Gram.linear(f, col("__w") * (col("__y") - col("__mu")))
      val rows: Array[Row] = withMu.groupBy(col("__r"))
        .agg(aggs.head, aggs.tail: _*).collect()
      // replicates with no rows keep their γ (a zero step)
      val step = new Array[Double](m * p)
      rows.foreach { r =>
        val s = Newton.step(p, Gram.read(r, 1, tri), Gram.read(r, 1 + tri, p))
        System.arraycopy(s, 0, step, r.getInt(0) * p, p)
      }
      step
    }
    RepFit((0 until m).map(r => r -> res.theta.slice(r * p, r * p + p)).toMap,
      res.iterations, res.maxStep)
  }
}
