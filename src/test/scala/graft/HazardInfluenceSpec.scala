package graft

import graft.core.Windows
import graft.hazard.RiskSet
import graft.stats.CoxPH
import graft.variance.{CoxInfluence, HazardInfluence}
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Validates the hazard-chain influence functions (taylor_deviate.R
  * 746-953) two independent ways:
  *
  *  1. the dense per-(unit, event) λ/ar deviates against a literal
  *     driver-side transcription of the reference's matrix formulas;
  *  2. the cumulated Λ/ΛG/absR deviates against CENTRAL FINITE
  *     DIFFERENCES of a plain-Scala re-implementation of the whole
  *     estimator chain, INCLUDING the Cox β refit per perturbed weight —
  *     so the β-chain term (∂Λ/∂β · ∂β/∂w) is verified end-to-end, not
  *     just against the same algebra.
  */
class HazardInfluenceSpec extends SparkSpec {
  import spark.implicits._

  // fixture: (t, d, w, x) with ties at t=1 and t=2
  private val rows = Seq(
    (1.0, 1.0, 1.0, 0.5), (1.0, 1.0, 2.0, -0.2), (2.0, 1.0, 1.0, 1.0),
    (2.0, 0.0, 1.0, 0.3), (3.0, 1.0, 1.5, -0.5), (4.0, 0.0, 1.0, 0.8),
    (5.0, 1.0, 1.0, 1.2), (6.0, 0.0, 2.0, -1.0))
  private def coxDf = rows.toDF("t", "d", "w", "x")
  private val tv = rows.map(_._1).toArray
  private val dv = rows.map(_._2).toArray
  private val xv = rows.map(_._4).toArray
  private val n = rows.length
  // population reference hazard grid for the Gail chain (mid-interval
  // and off-event times on purpose)
  private val lsGrid = Seq((0.5, 0.02), (1.0, 0.03), (1.7, 0.05),
    (2.5, 0.04), (3.0, 0.06), (4.5, 0.05), (5.5, 0.07))
  private val tStar = Seq(2.0, 3.5, 6.0)

  // ---- plain-Scala estimator chain (driver-side oracle) ----

  private def nrBeta(w: Array[Double], iters: Int = 60): Double = {
    var b = 0.0
    for (_ <- 1 to iters) {
      val rh = xv.map(x => math.exp(b * x))
      var u = 0.0; var i2 = 0.0
      val uT = tv.distinct.sorted
      for (j <- uT.indices; if tv.indices.exists(i => tv(i) == uT(j) && dv(i) == 1)) {
        val at = tv.indices.filter(i => tv(i) >= uT(j))
        val s0 = at.map(i => w(i) * rh(i)).sum
        val s1 = at.map(i => w(i) * rh(i) * xv(i)).sum
        val s2 = at.map(i => w(i) * rh(i) * xv(i) * xv(i)).sum
        val wd = tv.indices.filter(i => tv(i) == uT(j) && dv(i) == 1)
          .map(w(_)).sum
        val xd = tv.indices.filter(i => tv(i) == uT(j) && dv(i) == 1)
          .map(i => w(i) * xv(i)).sum
        u += xd - wd * s1 / s0
        i2 += wd * (s2 / s0 - s1 * s1 / (s0 * s0))
      }
      b += u / i2
    }
    b
  }

  /** (eventTimes, lambda, ar, Z) at the given weights and beta. */
  private def lambdaAr(w: Array[Double], b: Double)
      : (Array[Double], Array[Double], Array[Double], Array[Double]) = {
    val rh = xv.map(x => math.exp(b * x))
    val u = tv.indices.filter(i => dv(i) == 1).map(tv(_)).distinct.sorted.toArray
    val lam = new Array[Double](u.length)
    val ar = new Array[Double](u.length)
    val zz = new Array[Double](u.length)
    for (j <- u.indices) {
      val nt = tv.indices.filter(i => tv(i) == u(j) && dv(i) == 1).map(w(_)).sum
      val zt = tv.indices.filter(i => tv(i) >= u(j)).map(i => w(i) * rh(i)).sum
      val yt = tv.indices.filter(i => tv(i) >= u(j)).map(w(_)).sum
      lam(j) = nt / zt; ar(j) = 1.0 - yt / zt; zz(j) = zt
    }
    (u, lam, ar, zz)
  }

  private def lambdaAt(w: Array[Double], b: Double, ts: Double): Double = {
    val (u, lam, _, _) = lambdaAr(w, b)
    u.indices.filter(j => u(j) <= ts).map(lam(_)).sum
  }

  /** ΛG with the engine's LOCF convention (GailHazard.cumulativeSteps):
    * grid mass λ*(s)·(1 − ar(e(s))), ar before first event = 0. */
  private def gailAt(w: Array[Double], b: Double, ts: Double): Double = {
    val (u, _, ar, _) = lambdaAr(w, b)
    lsGrid.filter(_._1 <= ts).map { case (s, ls) =>
      val ev = u.indices.filter(j => u(j) <= s)
      val a = if (ev.isEmpty) 0.0 else ar(ev.max)
      ls * (1.0 - a)
    }.sum
  }

  private def devFrame(beta: Double, info: Array[Double]) =
    CoxInfluence.deviates(coxDf, col("t"), col("d"), col("w"),
      Seq(col("x")), Array(beta), info)

  private def stepsOf(beta: Double, measures: Seq[Column] = Nil) =
    RiskSet.steps(coxDf, col("t"), col("d"), col("w"),
      CoxInfluence.relHzd(Seq(col("x")), Array(beta)), Seq(col("x")), measures)

  test("dense lambda_wt / ar_wt match the literal reference formulas") {
    val beta = CoxPH.fit(coxDf, col("t"), col("d"), col("w"), Seq(col("x")))
      .coefficients(0)
    val (_, info) = CoxPH.scoreAndInfo(coxDf, col("t"), col("d"), col("w"),
      Seq(col("x")), Array(beta))
    val dev = devFrame(beta, info)
    val dense = HazardInfluence.lambdaArDeviates(dev, p = 1)
      .orderBy(col("__t"), col("__x0"), col("u"))
      .select(col("__t"), col("__x0"), col("u"), col("d_lambda"), col("d_ar"))
      .collect()

    // literal reference computation (taylor_deviate.R:796-798, 873-876)
    val w = rows.map(_._3).toArray
    val rh = xv.map(x => math.exp(beta * x))
    val (u, lam, ar, zz) = lambdaAr(w, beta)
    // beta deviates from the distributed engine (validated in InfluenceSpec)
    val db = devFrame(beta, info).orderBy(col("__t"), col("__x0"))
      .select(col("__t"), col("__x0"), col("dbeta_0")).collect()
      .map(r => ((r.getDouble(0), r.getDouble(1)), r.getDouble(2))).toMap
    val aMat = u.indices.map { j =>
      tv.indices.filter(i => tv(i) >= u(j)).map(i => w(i) * rh(i) * xv(i)).sum
    }
    val got = dense.map(r => ((r.getDouble(0), r.getDouble(1), r.getDouble(2)),
      (r.getDouble(3), r.getDouble(4)))).toMap
    for (i <- 0 until n; j <- u.indices) {
      val ntw = dv(i) * (if (tv(i) == u(j)) 1.0 else 0.0)
      val chain = db((tv(i), xv(i))) * aMat(j)
      val ztw = (if (tv(i) >= u(j)) rh(i) else 0.0) + chain
      val ytw = if (tv(i) >= u(j)) 1.0 else 0.0
      val wantL = (ntw - lam(j) * ztw) / zz(j)
      val wantA = -(ytw - (1.0 - ar(j)) * ztw) / zz(j)
      val (gotL, gotA) = got((tv(i), xv(i), u(j)))
      assertNear(gotL, wantL, 1e-10)
      assertNear(gotA, wantA, 1e-10)
    }
  }

  test("cumulative Λ/ΛG/absR deviates match finite differences with β refit") {
    val beta = nrBeta(rows.map(_._3).toArray)
    val (_, info) = CoxPH.scoreAndInfo(coxDf, col("t"), col("d"), col("w"),
      Seq(col("x")), Array(beta))
    val lsDf = lsGrid.toDF("t", "lambda_star")
    val x0 = Array(0.4)
    val long = HazardInfluence.cumulativeDeviates(
      devFrame(beta, info), stepsOf(beta), p = 1, tStar = tStar,
      lambdaStar = Some(lsDf),
      risk = Some(HazardInfluence.RiskProfile(Array(beta), x0)),
      sizeHint = Windows.SizeHint.Small)
      .orderBy(col("__t"), col("__x0"), col("t_star")).collect()

    val w0 = rows.map(_._3).toArray
    val eps = 1e-6
    val rr0 = math.exp(x0(0) * beta)
    for (r <- long) {
      val i = (0 until n).indexWhere(k => tv(k) == r.getDouble(0) &&
        xv(k) == r.getDouble(r.fieldIndex("__x0")))
      val ts = r.getDouble(r.fieldIndex("t_star"))
      def fd(f: (Array[Double], Double) => Double): Double = {
        val wp = w0.clone(); wp(i) += eps
        val wm = w0.clone(); wm(i) -= eps
        (f(wp, nrBeta(wp)) - f(wm, nrBeta(wm))) / (2 * eps)
      }
      assertNear(r.getDouble(r.fieldIndex("d_cum_hzd")),
        fd(lambdaAt(_, _, ts)), 5e-5)
      assertNear(r.getDouble(r.fieldIndex("d_cum_gail")),
        fd(gailAt(_, _, ts)), 5e-5)
      assertNear(r.getDouble(r.fieldIndex("d_abs_risk")),
        fd((w, b) => 1.0 - math.exp(-lambdaAt(w, b, ts) * math.exp(x0(0) * b))),
        5e-5)
      assertNear(r.getDouble(r.fieldIndex("d_abs_risk_gail")),
        fd((w, b) => 1.0 - math.exp(-gailAt(w, b, ts) * math.exp(x0(0) * b))),
        5e-5)
      // point estimates repeated on each row
      assertNear(r.getDouble(r.fieldIndex("cum_hzd")), lambdaAt(w0, beta, ts), 1e-9)
      assertNear(r.getDouble(r.fieldIndex("cum_gail")), gailAt(w0, beta, ts), 1e-9)
      assertNear(r.getDouble(r.fieldIndex("abs_risk")),
        1.0 - math.exp(-lambdaAt(w0, beta, ts) * rr0), 1e-9)
    }
  }

  test("γ-chain correction adds the reference pw_list terms") {
    val beta = nrBeta(rows.map(_._3).toArray)
    val (_, info) = CoxPH.scoreAndInfo(coxDf, col("t"), col("d"), col("w"),
      Seq(col("x")), Array(beta))
    // a synthetic per-unit γ deviate; ∂w/∂γ = −w·x (IPSW form) is the
    // step table's γ measure
    val dev = devFrame(beta, info).withColumn("gd0", col("__x0") * 0.1)
    val noG = HazardInfluence.cumulativeDeviates(dev, stepsOf(beta), p = 1,
      tStar = tStar,
      lambdaStar = Some(lsGrid.toDF("t", "lambda_star")),
      sizeHint = Windows.SizeHint.Small)
      .orderBy(col("__t"), col("__x0"), col("t_star")).collect()
    val withG = HazardInfluence.cumulativeDeviates(dev,
      stepsOf(beta, Seq(-col("w") * col("x"))), p = 1, tStar = tStar,
      lambdaStar = Some(lsGrid.toDF("t", "lambda_star")),
      gammaDevs = Seq(col("gd0")),
      sizeHint = Windows.SizeHint.Small)
      .orderBy(col("__t"), col("__x0"), col("t_star")).collect()

    // literal reference extra terms (taylor_deviate.R:828-834):
    //   ΔΛ  += Σ_m gd_m · Σ_{u_j≤t*} (DN_jm − λ_j·DZ_jm)/Z_j
    //   ΔΛG += Σ_m gd_m · Σ_{s≤t*} λ*(s)·(DY_{e(s)} − (1−ar_{e(s)})·DZ_{e(s)})/Z_{e(s)}
    val w = rows.map(_._3).toArray
    val rh = xv.map(x => math.exp(beta * x))
    val pg = (0 until n).map(i => -w(i) * xv(i)).toArray
    val (u, lam, ar, zz) = lambdaAr(w, beta)
    val dnj = u.indices.map(j => (0 until n)
      .filter(i => tv(i) == u(j) && dv(i) == 1).map(pg(_)).sum)
    val dzj = u.indices.map(j => (0 until n)
      .filter(i => tv(i) >= u(j)).map(i => pg(i) * rh(i)).sum)
    val dyj = u.indices.map(j => (0 until n)
      .filter(i => tv(i) >= u(j)).map(pg(_)).sum)
    for (k <- noG.indices) {
      val ts = noG(k).getDouble(noG(k).fieldIndex("t_star"))
      val gd = 0.1 * noG(k).getDouble(noG(k).fieldIndex("__x0"))
      val cn = u.indices.filter(j => u(j) <= ts)
        .map(j => (dnj(j) - lam(j) * dzj(j)) / zz(j)).sum
      val cgn = lsGrid.filter(_._1 <= ts).map { case (s, ls) =>
        val ev = u.indices.filter(j => u(j) <= s)
        if (ev.isEmpty) 0.0
        else {
          val j = ev.max
          ls * (dyj(j) - (1.0 - ar(j)) * dzj(j)) / zz(j)
        }
      }.sum
      assertNear(withG(k).getDouble(withG(k).fieldIndex("d_cum_hzd")),
        noG(k).getDouble(noG(k).fieldIndex("d_cum_hzd")) + gd * cn, 1e-10)
      assertNear(withG(k).getDouble(withG(k).fieldIndex("d_cum_gail")),
        noG(k).getDouble(noG(k).fieldIndex("d_cum_gail")) + gd * cgn, 1e-10)
    }
  }

  test("post-stratified Λ deviates match FD through refactoring + refit") {
    // cells by sign of x; population totals induce nontrivial factors
    val cells = rows.map(r => if (r._4 >= 0) 1 else 0)
    val nh = Map(0 -> 4.5, 1 -> 7.0) // cell -> N_h
    val w0 = rows.map(_._3).toArray

    def postW(w: Array[Double]): Array[Double] = {
      val hat = Seq(0, 1).map { c =>
        c -> (0 until n).filter(cells(_) == c).map(w(_)).sum
      }.toMap
      (0 until n).map(i => w(i) * nh(cells(i)) / hat(cells(i))).toArray
    }
    def lambdaAtPost(w: Array[Double], ts: Double): Double = {
      val wt = postW(w)
      lambdaAt(wt, nrBetaW(wt), ts)
    }

    val wtil = postW(w0)
    val beta = nrBetaW(wtil)
    val (_, info) = CoxPH.scoreAndInfo(
      coxDf.withColumn("wt", col("w")), col("t"), col("d"),
      // engine post weights must equal the driver-side ones
      col("w") * when(col("x") >= 0, nh(1) / wtilHat(w0, cells, 1))
        .otherwise(nh(0) / wtilHat(w0, cells, 0)),
      Seq(col("x")), Array(beta))
    val popTotals = Seq((0, 4.5), (1, 7.0)).toDF("cell", "nh")
    val dev = CoxInfluence.deviatesPostStratified(
      coxDf, col("t"), col("d"), col("w"),
      when(col("x") >= 0, 1).otherwise(0),
      popTotals, Seq(col("x")), Array(beta), info)
    val chain = HazardInfluence.postStratifiedChain(col("__cell"), Seq(0, 1),
      col("__pw"), col("__v"))
    val steps = RiskSet.steps(dev, col("__t"), col("__d"), col("__w"),
      col("__rh"), Seq(col("__x0")), chain.pwGamma)
    val long = HazardInfluence.cumulativeDeviates(dev, steps, p = 1,
      tStar = tStar, betaDevPrefix = "dbeta_post_", gammaDevs = chain.gammaDevs,
      directScale = col("__f"), sizeHint = Windows.SizeHint.Small)
      .orderBy(col("__t"), col("__x0"), col("t_star")).collect()

    val eps = 1e-6
    for (r <- long) {
      val i = (0 until n).indexWhere(k => tv(k) == r.getDouble(0) &&
        xv(k) == r.getDouble(r.fieldIndex("__x0")))
      val ts = r.getDouble(r.fieldIndex("t_star"))
      val wp = w0.clone(); wp(i) += eps
      val wm = w0.clone(); wm(i) -= eps
      val fd = (lambdaAtPost(wp, ts) - lambdaAtPost(wm, ts)) / (2 * eps)
      assertNear(r.getDouble(r.fieldIndex("d_cum_hzd")), fd, 5e-5)
    }
  }

  private def wtilHat(w: Array[Double], cells: Seq[Int], c: Int): Double =
    (0 until n).filter(cells(_) == c).map(w(_)).sum

  private def nrBetaW(w: Array[Double]): Double = nrBeta(w)

  test("deviates contract to variance and deviate sums stay finite") {
    val beta = nrBeta(rows.map(_._3).toArray)
    val (_, info) = CoxPH.scoreAndInfo(coxDf, col("t"), col("d"), col("w"),
      Seq(col("x")), Array(beta))
    val long = HazardInfluence.cumulativeDeviates(devFrame(beta, info),
      stepsOf(beta), p = 1, tStar = tStar, sizeHint = Windows.SizeHint.Small)
    val vp = HazardInfluence.poissonVariance(long, col("d_cum_hzd"),
      col("__w"), lit(0.2)).collect()
    assert(vp.length == tStar.length)
    vp.foreach(r => assert(r.getDouble(1) >= 0.0 && !r.getDouble(1).isNaN))
    val vpps = HazardInfluence.ppsVariance(long, col("d_cum_hzd"), col("__w"))
      .collect()
    vpps.foreach(r => assert(r.getDouble(1) >= 0.0 && !r.getDouble(1).isNaN))
  }
}
