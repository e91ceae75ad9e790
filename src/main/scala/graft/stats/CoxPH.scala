package graft.stats

import graft.core.{Gram, Windows}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, Row}

/** Weighted Cox proportional-hazards regression with Breslow ties
  * (SURVEY.md M2) — the reference's `svycoxph` / `coxph(robust=T,
  * ties="breslow")` (jk_fun.R:90,96,103; taylor_deviate.R:69).
  *
  * Newton-Raphson on the Breslow partial likelihood. Per iteration, at
  * the current β:
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
  *      driver, stats/Newton.scala, owns the loop and pins its input)
  *
  * A fit's input of at most `Windows.SmallRows` rows without nulls is
  * fetched once and steps 1-4 run on the driver over its columns
  * ([[localScores]]); any other input runs them distributed every
  * iteration.
  *
  * Features are individual double columns (p ≤ ~6), keeping every
  * expression inside whole-stage codegen.
  */
object CoxPH {

  /** `stepSize` is the size class of the fit's tie-collapsed step table
    * (the caller's hint, or the answer of the fit's cardinality probe);
    * its row count is that of a hazard.RiskSet table over the same rows. */
  final case class Fit(
      coefficients: Array[Double],
      iterations: Int,
      converged: Boolean,
      infoPacked: Array[Double],
      scoreNorm: Double,
      stepSize: Windows.SizeHint) {
    /** Sum of |U_j| at the fitted β — the reference's own diagnostic
      * (`U(beta, fit)` ≈ 0, taylor_deviate.R:1125-1198). */
    def scoreResidual: Double = scoreNorm
  }

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
    read(scoreRows(df.select(columns(time, event, weight, features): _*), features.length,
      eta(beta), Nil, Windows.SizeHint.Auto).head, features.length)

  /** x'β with β as referenced values, not inlined literals: identical
    * generated code every NR iteration → codegen-cache hit after
    * iteration 1 (functions.Coef.at; bit-identical arithmetic). */
  private def eta(beta: Array[Double]): Column =
    beta.indices.map(j => col(s"__x$j") * graft.functions.Coef.at(beta, j))
      .foldLeft(lit(0.0): Column)(_ + _)

  /** (U, I packed) of a single fit's score row. */
  private def read(row: Row, p: Int): (Array[Double], Array[Double]) =
    (Gram.read(row, 0, p), Gram.read(row, p, p * (p + 1) / 2))

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

  /** Steps 1-4 on the driver over a fit's fetched columns t, d, w,
    * x_0 … x_{p-1}: [[scoreRows]]' sums in its operand order, with rows
    * added in fetch order. Returns β ↦ (U, I packed upper). */
  private def localScores(c: Array[Array[Double]], p: Int)
      : Array[Double] => (Array[Double], Array[Double]) = {
    val (t, d, w) = (c(0), c(1), c(2))
    val x = c.drop(3)
    val n = t.length
    val tri = p * (p + 1) / 2
    // the tie-collapse groups, numbered by descending t in Spark's
    // double order: -0.0 groups with 0.0, and NaN sorts above +∞
    val key = t.map(v => if (v == 0.0) 0.0 else v)
    val byTime = (0 until n).toArray.sortBy(i => key(i))(Ordering.Double.TotalOrdering.reverse)
    val g = new Array[Int](n)
    var m = 0
    for (k <- byTime.indices) {
      if (k == 0 || java.lang.Double.compare(key(byTime(k)), key(byTime(k - 1))) != 0) m += 1
      g(byTime(k)) = m - 1
    }
    // the event-side sums do not depend on β
    val wd = new Array[Double](m)
    val ux = Array.ofDim[Double](p, m)
    for (r <- 0 until n if d(r) == 1.0) {
      wd(g(r)) += w(r)
      for (j <- 0 until p) ux(j)(g(r)) += w(r) * x(j)(r)
    }
    beta => {
      val s0 = new Array[Double](m)
      val s1 = Array.ofDim[Double](p, m)
      val s2 = Array.ofDim[Double](tri, m)
      for (r <- 0 until n) {
        var eta = 0.0
        for (j <- 0 until p) eta += x(j)(r) * beta(j)
        val wRel = w(r) * StrictMath.exp(eta)
        s0(g(r)) += wRel
        var k = 0
        for (j <- 0 until p) {
          s1(j)(g(r)) += wRel * x(j)(r)
          for (l <- j until p) { s2(k)(g(r)) += wRel * x(j)(r) * x(l)(r); k += 1 }
        }
      }
      val u = new Array[Double](p)
      val info = new Array[Double](tri)
      var sum0 = 0.0
      val sum1 = new Array[Double](p)
      val sum2 = new Array[Double](tri)
      for (q <- 0 until m) {
        sum0 += s0(q)
        for (j <- 0 until p) sum1(j) += s1(j)(q)
        for (k <- 0 until tri) sum2(k) += s2(k)(q)
        // Spark orders NaN above every double, so `wd > 0` keeps it
        if (wd(q) > 0 || wd(q).isNaN) {
          var k = 0
          for (j <- 0 until p) {
            u(j) += ux(j)(q) - wd(q) * sum1(j) / sum0
            for (l <- j until p) {
              info(k) += wd(q) * (sum2(k) / sum0 - sum1(j) * sum1(l) / (sum0 * sum0))
              k += 1
            }
          }
        }
      }
      (u, info)
    }
  }

  /** Fit β by Newton-Raphson. Under `Auto` or `Small` the input is
    * fetched once: a Small fetch fits on the driver (`stepSize` Small);
    * otherwise, and always under `Large`, the fit runs distributed, and
    * under `Auto` one cardinality probe sizes its step table. */
  def fit(
      df: DataFrame,
      time: Column,
      event: Column,
      weight: Column,
      features: Seq[Column],
      maxIter: Int = 25,
      tol: Double = 1e-9,
      sizeHint: Windows.SizeHint = Windows.SizeHint.Auto): Fit = {
    val p = features.length
    var lastInfo = new Array[Double](p * (p + 1) / 2)
    var lastScoreNorm = Double.MaxValue
    var stepSize: Windows.SizeHint = sizeHint
    def events(total: Double): Unit = require(total > 0,
      "CoxPH.fit: no events (d=1) in input — partial likelihood undefined")
    def step(u: Array[Double], info: Array[Double]): Array[Double] = {
      lastInfo = info
      lastScoreNorm = u.map(math.abs).sum
      Newton.step(p, info, u)
    }
    // columns: t, d, w, x_0 … x_{p-1}
    val local: Option[Newton.Local] =
      if (sizeHint == Windows.SizeHint.Large) None
      else Some { c =>
        events(c(1).sum)
        stepSize = Windows.SizeHint.Small
        val scores = localScores(c, p)
        beta => { val (u, info) = scores(beta); step(u, info) }
      }
    val res = Newton.run(df, columns(time, event, weight, features),
        new Array[Double](p), maxIter, tol, "CoxPH", local) { base =>
      // one up-front cardinality probe shared by every NR iteration:
      // events must exist, and the distinct-time count (a null time is
      // one more group) decides the scan strategy (single-partition
      // window vs two-phase distributed scan). A caller that already
      // knows its step-table size (the composed chains pass their own
      // hint) skips the probe job; a Small hint reaches this setup only
      // for an input with a null or more than SmallRows rows. Without
      // the probe, no events surface in the first pass: no row reaches
      // the contraction, so its score row is all null.
      if (sizeHint == Windows.SizeHint.Auto) {
        val probe = base.agg(sum(col("__d")), countDistinct(col("__t")),
          max(col("__t").isNull.cast("int"))).head()
        events(probe.getDouble(0))
        stepSize =
          if (probe.getLong(1) + probe.getInt(2) <= Windows.SmallRows)
            Windows.SizeHint.Small
          else Windows.SizeHint.Large
      }
      beta => {
        val row = scoreRows(base, p, eta(beta), Nil, stepSize).head
        if (row.isNullAt(0)) events(0.0)
        val (u, info) = read(row, p)
        step(u, info)
      }
    }
    Fit(res.theta, res.iterations, res.converged, lastInfo, lastScoreNorm, stepSize)
  }
}
