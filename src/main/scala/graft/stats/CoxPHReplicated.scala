package graft.stats

import graft.core.Gram
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/** Vectorized-replicate weighted Cox fitting (SURVEY.md §7.4.5, M14×M2).
  *
  * The reference's delete-a-group jackknife re-runs `svycoxph` 90 times
  * sequentially (jk_fun.R:314-374). Here ALL replicates advance through
  * Newton-Raphson together on the shared Newton driver: each iteration
  * is ONE distributed pass where
  *
  *  - every row carries its replicate id and replicate weight (the
  *    exploded jackknife dimension),
  *  - the current β of all replicates is ONE referenced m·p array
  *    (functions.Coef.array); each row reads its β_r at index r·p + j,
  *    so no coefficient frame is joined per iteration. Rel-hazard,
  *    risk-set sums, score and information are CoxPH's pass with the
  *    replicate as group key: groupBy(rep, t) then the grouped scan per
  *    rep — naturally parallel over replicates, no single-partition
  *    stage,
  *  - the driver solves m tiny p×p systems.
  *
  * Total jobs = O(NR iterations), independent of replicate count —
  * the shape that survives 90 replicates × 100 TB.
  */
object CoxPHReplicated {

  final case class RepFit(betas: Map[Int, Array[Double]], iterations: Int,
      maxScoreResidual: Double)

  /** @param df      exploded frame: one row per (unit, replicate)
    * @param rep     replicate id column (int)
    * @param weight  replicate weight (0 for dropped group)
    */
  def fit(df: DataFrame, rep: Column, time: Column, event: Column,
      weight: Column, features: Seq[Column], m: Int,
      maxIter: Int = 15, tol: Double = 1e-8): RepFit = {
    val p = features.length
    val cols = Newton.replicateId(rep, m, "CoxPHReplicated").as("__r") +:
      CoxPH.columns(time, event, weight, features)
    var maxResid = Double.MaxValue

    val res = Newton.run(df, cols, new Array[Double](m * p), maxIter, tol,
        "CoxPHReplicated") { base =>
      // size the (replicate, time) step table ONCE — every NR iteration
      // scans the same axis, so the small-vs-two-phase decision is paid a
      // single head() probe, not one per iteration. The step table is
      // m × |distinct t|, and m is known — probing distinct t alone keeps
      // the probe a one-column distinct (map-side partials collapse the
      // m-fold replication before the shuffle) instead of a distinct over
      // the exploded (r, t) pairs.
      val tBudget = math.max(1, graft.core.Windows.SmallRows / math.max(1, m))
      val stepHint =
        if (base.select(col("__t")).distinct()
              .head(tBudget + 1).length <= tBudget)
          graft.core.Windows.SizeHint.Small
        else graft.core.Windows.SizeHint.Large

      beta => {
        val b = graft.functions.Coef.array(beta)
        val eta = (0 until p).map(j =>
            col(s"__x$j") * element_at(b, col("__r") * p + (j + 1)))
          .foldLeft(lit(0.0): Column)(_ + _)
        val rows = CoxPH.scoreRows(base, p, eta, Seq(col("__r")), stepHint)
        // replicates with no events keep their β (a zero step)
        maxResid = 0.0
        val step = new Array[Double](m * p)
        rows.foreach { r =>
          val u = Gram.read(r, 1, p)
          val s = Newton.step(p, Gram.read(r, 1 + p, p * (p + 1) / 2), u)
          System.arraycopy(s, 0, step, r.getInt(0) * p, p)
          maxResid = math.max(maxResid, u.map(math.abs).sum)
        }
        step
      }
    }
    RepFit((0 until m).map(r => r -> res.theta.slice(r * p, r * p + p)).toMap,
      res.iterations, maxResid)
  }
}
