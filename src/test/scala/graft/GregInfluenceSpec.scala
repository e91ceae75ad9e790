package graft

import graft.core.FeatureArray
import graft.stats.CoxPH
import graft.variance.{CoxInfluence, HazardInfluence, JointVariance}
import graft.weights.Greg
import graft.pipeline.SurveyIntegration
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Validates the GREG-calibration influence plumbing
  * (taylor_deviate.R:988-1007, jk_fun.R:38-63):
  *
  *  1. ui_greg against the literal n×n Jacobian f_w applied row by row
  *     (the reference's matrix loop, which the engine keeps factored);
  *  2. the fully-corrected Λ(t*) deviate against CENTRAL FINITE
  *     DIFFERENCES of base-weight perturbation through RE-CALIBRATION
  *     and Cox β REFIT — the complete calib_est chain;
  *  3. the negative-only clip semantics.
  */
class GregInfluenceSpec extends SparkSpec {
  import spark.implicits._

  private val rows = Seq(
    (1.0, 1.0, 1.0, 0.5), (1.0, 1.0, 2.0, -0.2), (2.0, 1.0, 1.0, 1.0),
    (2.0, 0.0, 1.0, 0.3), (3.0, 1.0, 1.5, -0.5), (4.0, 0.0, 1.0, 0.8),
    (5.0, 1.0, 1.0, 1.2), (6.0, 0.0, 2.0, -1.0))
  private def df = rows.toDF("t", "d", "w", "x")
  private val tv = rows.map(_._1).toArray
  private val dv = rows.map(_._2).toArray
  private val xv = rows.map(_._4).toArray
  private val w0 = rows.map(_._3).toArray
  private val n = rows.length
  // calibration design v = [1, x]; targets offset from V̂(w0) so f ≠ 1
  private val targets = Array(11.0, 2.0)

  // ---- driver-side chain: calibrate → refit → hazard ----

  private def calFactors(w: Array[Double]): Array[Double] = {
    val m00 = (0 until n).map(w(_)).sum
    val m01 = (0 until n).map(i => w(i) * xv(i)).sum
    val m11 = (0 until n).map(i => w(i) * xv(i) * xv(i)).sum
    val vh0 = m00
    val vh1 = m01
    val det = m00 * m11 - m01 * m01
    val d0 = targets(0) - vh0; val d1 = targets(1) - vh1
    val l0 = (m11 * d0 - m01 * d1) / det
    val l1 = (m00 * d1 - m01 * d0) / det
    (0 until n).map(i => 1.0 + l0 + l1 * xv(i)).toArray
  }

  private def nrBeta(w: Array[Double], iters: Int = 60): Double = {
    var b = 0.0
    for (_ <- 1 to iters) {
      val rh = xv.map(x => math.exp(b * x))
      var u = 0.0; var i2 = 0.0
      for (ut <- tv.distinct.sorted
           if tv.indices.exists(i => tv(i) == ut && dv(i) == 1)) {
        val at = tv.indices.filter(i => tv(i) >= ut)
        val s0 = at.map(i => w(i) * rh(i)).sum
        val s1 = at.map(i => w(i) * rh(i) * xv(i)).sum
        val s2 = at.map(i => w(i) * rh(i) * xv(i) * xv(i)).sum
        val ev = tv.indices.filter(i => tv(i) == ut && dv(i) == 1)
        val wd = ev.map(w(_)).sum
        val xd = ev.map(i => w(i) * xv(i)).sum
        u += xd - wd * s1 / s0
        i2 += wd * (s2 / s0 - s1 * s1 / (s0 * s0))
      }
      b += u / i2
    }
    b
  }

  private def lambdaAt(w: Array[Double], b: Double, ts: Double): Double = {
    val rh = xv.map(x => math.exp(b * x))
    tv.indices.filter(i => dv(i) == 1).map(tv(_)).distinct.sorted
      .filter(_ <= ts).map { u =>
        val nt = tv.indices.filter(i => tv(i) == u && dv(i) == 1).map(w(_)).sum
        val zt = tv.indices.filter(i => tv(i) >= u).map(i => w(i) * rh(i)).sum
        nt / zt
      }.sum
  }

  /** Λ(t*) through the full calib_est chain at base weights w. */
  private def chainLambda(w: Array[Double], ts: Double): Double = {
    val f = calFactors(w)
    val wt = (0 until n).map(i => w(i) * f(i)).toArray
    lambdaAt(wt, nrBeta(wt), ts)
  }

  test("ui_greg matches the literal f_w Jacobian loop") {
    val feats = FeatureArray.withIntercept(Seq(col("x")))
    val cal = Greg.solve(df, feats, col("w"), targets)
    val f = calFactors(w0)
    val wt = (0 until n).map(i => w0(i) * f(i)).toArray
    val beta = nrBeta(wt)
    val caldf = df
      .withColumn("aux", feats)
      .withColumn("greg_f", Greg.factor(feats, cal))
      .withColumn("wtil", col("w") * col("greg_f"))
    val (_, info) = CoxPH.scoreAndInfo(caldf, col("t"), col("d"), col("wtil"),
      Seq(col("x")), Array(beta))
    val dev = CoxInfluence.deviates(caldf, col("t"), col("d"), col("wtil"),
      Seq(col("x")), Array(beta), info,
      passthrough = Seq(col("aux"), col("w"), col("greg_f")))
    val corr = JointVariance.gregCorrectedDeviates(dev, p = 1,
      col("aux"), col("w"), col("greg_f"), cal, info)
      .orderBy(col("__t"), col("__x0"))
      .select(col("__t"), col("__x0"), col("ui_0"), col("ui_greg_0")).collect()

    // literal loop: f_w[k,i] = −f_i·v_i'M⁻¹v_k; U_greg[i] = f_i·U_i + Σ_k U_k·w_k·f_w[k,i]
    val m00 = w0.sum
    val m01 = (0 until n).map(i => w0(i) * xv(i)).sum
    val m11 = (0 until n).map(i => w0(i) * xv(i) * xv(i)).sum
    val det = m00 * m11 - m01 * m01
    def minv(a: Array[Double], b: Array[Double]): Double =
      (a(0) * (m11 * b(0) - m01 * b(1)) + a(1) * (m00 * b(1) - m01 * b(0))) / det
    val ui = corr.map(r => ((r.getDouble(0), r.getDouble(1)), r.getDouble(2))).toMap
    for (r <- corr) {
      val i = (0 until n).indexWhere(k => tv(k) == r.getDouble(0) && xv(k) == r.getDouble(1))
      val vi = Array(1.0, xv(i))
      val lit2 = f(i) * ui((tv(i), xv(i))) + (0 until n).map { k =>
        val vk = Array(1.0, xv(k))
        ui((tv(k), xv(k))) * w0(k) * (-f(i) * minv(vi, vk))
      }.sum
      assertNear(r.getDouble(3), lit2, 1e-10)
    }
  }

  test("calibrated Λ(t*) deviate matches FD through re-calibration + refit") {
    val tStar = Seq(2.0, 4.0, 6.0)
    val bv = SurveyIntegration.calibratedBatteryWithVariance(
      df, col("t"), col("d"), col("w"), auxCols = Seq("x"),
      auxTotals = targets, featureCols = Seq("x"), tStar = tStar)
    assert(bv.lambdaVar.size == tStar.size)
    bv.lambdaVar.values.foreach(v => assert(v >= 0.0 && !v.isNaN))

    // engine-side per-unit deviates via the same plumbing
    val feats = FeatureArray.withIntercept(Seq(col("x")))
    val cal = Greg.solve(df, feats, col("w"), targets)
    val f = calFactors(w0)
    val wt = (0 until n).map(i => w0(i) * f(i)).toArray
    val beta = nrBeta(wt)
    val caldf = df
      .withColumn("aux", feats)
      .withColumn("greg_f", Greg.factor(feats, cal))
      .withColumn("wtil", col("w") * col("greg_f"))
    val (_, info) = CoxPH.scoreAndInfo(caldf, col("t"), col("d"), col("wtil"),
      Seq(col("x")), Array(beta))
    val dev = CoxInfluence.deviates(caldf, col("t"), col("d"), col("wtil"),
      Seq(col("x")), Array(beta), info,
      passthrough = Seq(col("aux"), col("w"), col("greg_f")))
    val corr = JointVariance.gregCorrectedDeviates(dev, p = 1,
      col("aux"), col("w"), col("greg_f"), cal, info)
    val minvM = graft.core.LinAlg.inverse(graft.core.LinAlg.unpack(2, cal.gramPacked))
    val pwGamma = (0 until 2).map(m => col("w") * col("aux").getItem(m))
    val gammaDevs = (0 until 2).map { m =>
      -col("greg_f") * (0 until 2).map(l =>
        lit(minvM(m, l)) * col("aux").getItem(l))
        .foldLeft(lit(0.0): Column)(_ + _)
    }
    val steps = graft.hazard.RiskSet.steps(caldf, col("t"), col("d"),
      col("wtil"), CoxInfluence.relHzd(Seq(col("x")), Array(beta)),
      Seq(col("x")), pwGamma)
    val long = HazardInfluence.cumulativeDeviates(corr, steps, p = 1,
      tStar = tStar, betaDevPrefix = "dbeta_greg_", gammaDevs = gammaDevs,
      directScale = col("greg_f"),
      sizeHint = graft.core.Windows.SizeHint.Small)
      .orderBy(col("__t"), col("__x0"), col("t_star")).collect()

    val eps = 1e-6
    for (r <- long) {
      val i = (0 until n).indexWhere(k => tv(k) == r.getDouble(0) &&
        xv(k) == r.getDouble(r.fieldIndex("__x0")))
      val ts = r.getDouble(r.fieldIndex("t_star"))
      val wp = w0.clone(); wp(i) += eps
      val wm = w0.clone(); wm(i) -= eps
      val fd = (chainLambda(wp, ts) - chainLambda(wm, ts)) / (2 * eps)
      assertNear(r.getDouble(r.fieldIndex("d_cum_hzd")), fd, 5e-5)
    }
  }

  test("clip only replaces strictly negative calibrated weights") {
    val feats = FeatureArray.withIntercept(Seq(col("x")))
    val cal = Greg.Calibration(Array(0.0, 0.0), Array(0.0, 0.0), Array(1.0, 0.0, 1.0))
    // factor = 1 everywhere ⇒ calibrated weight = base weight
    val tiny = Seq((0.5, 5e-6), (1.0, 2.0), (-1.0, -3.0)).toDF("x", "w")
    val got = tiny.select(Greg.calibratedWeight(feats, col("w"), cal).as("wc"))
      .orderBy(col("wc")).collect().map(_.getDouble(0))
    // 5e-6 ∈ [0, 1e-5) stays; −3 → 1e-5
    assertSeqNear(got.toSeq, Seq(5e-6, 1e-5, 2.0), 1e-12)
  }
}
