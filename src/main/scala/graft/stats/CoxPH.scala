package graft.stats

import graft.core.{Gram, Windows}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, Row}

/** Weighted Cox proportional-hazards regression with Breslow ties
  * (SURVEY.md M2) — the reference's `svycoxph` / `coxph(robust=T,
  * ties="breslow")` (jk_fun.R:90,96,103; taylor_deviate.R:69).
  *
  * Newton-Raphson on the Breslow partial likelihood. Per iteration, at
  * the current β (all distributed, one job):
  *
  *   1. rel_i = exp(x_i'β)                       — codegen'd expression
  *   2. tie-collapse: groupBy(t) partial sums of w·rel, w·rel·x_j,
  *      w·rel·x_j·x_k, and the event-side sums Σ_{d=1} w, Σ_{d=1} w·x_j
  *      (the reference's dedup-to-unique-times idiom,
  *      taylor_deviate.R:619-626,637-649 — classic partial aggregation)
  *   3. risk-set suffix sums over descending t → S0(t), S1_j(t), S2_jk(t)
  *      via the two-phase distributed scan (Windows.scan), NOT a
  *      single-partition global window
  *   4. score U_j = Σ_t [Σ_{d=1,t} w·x_j − (Σ_{d=1,t} w)·S1_j/S0] and
  *      information I_jk = Σ_t (Σ_{d=1,t} w)·(S2_jk/S0 − S1_j·S1_k/S0²)
  *      — one tiny final aggregate, p + p(p+1)/2 doubles to the driver
  *   5. driver-side Breeze solve: β ← β + I⁻¹U (the shared Newton
  *      driver, stats/Newton.scala, owns the loop and the input cache)
  *
  * Features are individual double columns (p ≤ ~6), keeping every
  * expression inside whole-stage codegen.
  */
object CoxPH {

  final case class Fit(
      coefficients: Array[Double],
      iterations: Int,
      converged: Boolean,
      infoPacked: Array[Double],
      scoreNorm: Double) {
    /** Sum of |U_j| at the fitted β — the reference's own diagnostic
      * (`U(beta, fit)` ≈ 0, taylor_deviate.R:1125-1198). */
    def scoreResidual: Double = scoreNorm
  }

  /** Project the iteration-invariant columns once (callers persist). */
  def prepare(df: DataFrame, time: Column, event: Column, weight: Column,
      features: Seq[Column]): DataFrame =
    df.select(columns(time, event, weight, features): _*)

  private[stats] def columns(time: Column, event: Column, weight: Column,
      features: Seq[Column]): Seq[Column] =
    Seq(time.cast("double").as("__t"), event.cast("double").as("__d"),
      weight.cast("double").as("__w")) ++
      features.indices.map(j => features(j).cast("double").as(s"__x$j"))

  /** One score/information evaluation at fixed beta.
    * Returns (U: Array[p], I packed upper: Array[p(p+1)/2]). */
  def scoreAndInfo(
      df: DataFrame,
      time: Column,
      event: Column,
      weight: Column,
      features: Seq[Column],
      beta: Array[Double]): (Array[Double], Array[Double]) =
    scoreAndInfoPrepared(prepare(df, time, event, weight, features),
      features.length, beta)

  def scoreAndInfoPrepared(base: DataFrame, p: Int,
      beta: Array[Double],
      sizeHint: Windows.SizeHint = Windows.SizeHint.Auto): (Array[Double], Array[Double]) = {
    // β as referenced values, not inlined literals: identical generated
    // code every NR iteration → codegen-cache hit after iteration 1
    // (functions.Coef.at; bit-identical arithmetic)
    val eta = beta.indices.map(j =>
        col(s"__x$j") * graft.functions.Coef.at(beta, j))
      .foldLeft(lit(0.0): Column)(_ + _)
    val row = scoreRows(base, p, eta, Nil, sizeHint).head
    (Gram.read(row, 0, p), Gram.read(row, p, p * (p + 1) / 2))
  }

  /** Steps 1-4 at the linear predictor `eta`, one row per group of
    * `keys` (none: a single fit; the replicate id: every jackknife
    * replicate at once) — rows are keys ++ U (p) ++ I (packed). */
  private[stats] def scoreRows(base: DataFrame, p: Int, eta: Column,
      keys: Seq[Column], sizeHint: Windows.SizeHint): Array[Row] = {
    val withRel = base.withColumn("__rel", exp(eta))

    // tie-collapse partial aggregation per (group, unique event time)
    val s2Names = for (j <- 0 until p; k <- j until p) yield (j, k)
    val aggExprs =
      Seq(sum(col("__w") * col("__rel")).as("s0g"),
          sum(when(col("__d") === 1.0, col("__w")).otherwise(0.0)).as("wd")) ++
      (0 until p).map(j => sum(col("__w") * col("__rel") * col(s"__x$j")).as(s"s1g$j")) ++
      (0 until p).map(j => sum(when(col("__d") === 1.0, col("__w") * col(s"__x$j"))
        .otherwise(0.0)).as(s"ux$j")) ++
      s2Names.map { case (j, k) =>
        sum(col("__w") * col("__rel") * col(s"__x$j") * col(s"__x$k")).as(s"s2g${j}_$k") }
    val grouped = withRel.groupBy((keys :+ col("__t")): _*)
      .agg(aggExprs.head, aggExprs.tail: _*)

    // risk-set suffix sums on desc t. Per group, the two-phase grouped
    // scan: a bare `Window.partitionBy(group)` caps parallelism at the
    // group count AND funnels each group's whole time axis (data-sized
    // for continuous times) through one task — the grouped-window trap.
    // The grouped scan range-partitions on (group, t desc), so the step
    // table parallelizes within a group too; tie-collapsed/monthly axes
    // take the probed small path, the plain partitioned window.
    val scanCols = Seq(col("s0g") -> "S0") ++
      (0 until p).map(j => col(s"s1g$j") -> s"S1$j") ++
      s2Names.map { case (j, k) => col(s"s2g${j}_$k") -> s"S2${j}_$k" }
    // release the scan's internal cache once the contraction lands: the
    // result is consumed entirely by the collect below, so the NR loop
    // does not accumulate one cached dataset per iteration (Large path)
    val scanCaches = scala.collection.mutable.Buffer.empty[DataFrame]
    val scanned =
      if (keys.isEmpty) Windows.scan(grouped, Seq(col("__t").desc), scanCols,
        sizeHint = sizeHint, release = Some(scanCaches))
      else Windows.groupedScan(grouped, keys, Seq(col("__t").desc), scanCols,
        sizeHint = sizeHint, release = Some(scanCaches))

    // final contraction: only rows with events contribute
    val uExprs = (0 until p).map { j =>
      sum(col(s"ux$j") - col("wd") * col(s"S1$j") / col("S0")).as(s"U$j") }
    val iExprs = s2Names.map { case (j, k) =>
      sum(col("wd") * (col(s"S2${j}_$k") / col("S0") -
        col(s"S1$j") * col(s"S1$k") / (col("S0") * col("S0")))).as(s"I${j}_$k") }
    val rows = scanned.filter(col("wd") > 0).groupBy(keys: _*)
      .agg((uExprs ++ iExprs).head, (uExprs ++ iExprs).tail: _*).collect()
    scanCaches.foreach(_.unpersist(blocking = false))
    rows
  }

  def fit(
      df: DataFrame,
      time: Column,
      event: Column,
      weight: Column,
      features: Seq[Column],
      maxIter: Int = 25,
      tol: Double = 1e-9,
      hint: Option[Windows.SizeHint] = None): Fit = {
    val p = features.length
    var lastInfo = new Array[Double](p * (p + 1) / 2)
    var lastScoreNorm = Double.MaxValue
    val res = Newton.run(df, columns(time, event, weight, features),
        new Array[Double](p), maxIter, tol) { base =>
      // one up-front cardinality probe shared by every NR iteration:
      // events must exist, and the distinct-time count decides the scan
      // strategy (single-partition window vs two-phase distributed scan).
      // A caller that already knows its step-table size (the composed
      // chains pass their own hint) skips the probe job — the no-events
      // guard then surfaces as the ANSI divide-by-zero in iteration 1.
      val sizeHint = hint.getOrElse {
        val probe = base.agg(sum(col("__d")), countDistinct(col("__t"))).head()
        require(probe.getDouble(0) > 0,
          "CoxPH.fit: no events (d=1) in input — partial likelihood undefined")
        if (probe.getLong(1) <= 20000) Windows.SizeHint.Small
        else Windows.SizeHint.Large
      }
      beta => {
        val (u, info) = scoreAndInfoPrepared(base, p, beta, sizeHint)
        lastInfo = info
        lastScoreNorm = u.map(math.abs).sum
        Newton.step(p, info, u)
      }
    }
    Fit(res.theta, res.iterations, res.converged, lastInfo, lastScoreNorm)
  }
}
