package graft

import graft.stats.{CoxPH, WeightedGLM}
import graft.core.FeatureArray
import graft.variance.{CoxInfluence, Influence}
import org.apache.spark.sql.functions._

/** Expected values replicate the reference's influence loops
  * (taylor_deviate.R:601-742 `beta_pw.cox`, 556-570 `gamma_w`)
  * independently in numpy on the 8-row Cox fixture.
  */
class InfluenceSpec extends SparkSpec {
  import spark.implicits._

  private def coxDf = Seq(
    (1.0, 1.0, 1.0, 0.5), (1.0, 1.0, 2.0, -0.2), (2.0, 1.0, 1.0, 1.0),
    (2.0, 0.0, 1.0, 0.3), (3.0, 1.0, 1.5, -0.5), (4.0, 0.0, 1.0, 0.8),
    (5.0, 1.0, 1.0, 1.2), (6.0, 0.0, 2.0, -1.0)
  ).toDF("t", "d", "w", "x")

  test("M13 Cox score influence deviates match the reference loop") {
    val beta = 0.3694441908824084
    val (_, info) = CoxPH.scoreAndInfo(coxDf, col("t"), col("d"), col("w"),
      Seq(col("x")), Array(beta))
    val dev = CoxInfluence.deviates(coxDf, col("t"), col("d"), col("w"),
        Seq(col("x")), Array(beta), info)
      .orderBy(col("__t"), col("__x0"))
      .select(col("ui_0"), col("dbeta_0")).collect()
    // fixture order after sort by (t, x): rows at t=1 ordered x=-0.2, 0.5
    val wantUi = Seq(-0.3484957025500816, 0.1593070986342274, -0.0056756468631531,
      0.2590332597287578, -0.2619562174521439, -0.5002340965693718,
      -0.5072137629606968, 0.8423544396543076)
    val wantDb = Seq(-0.0736531952024057, 0.0336689283310443, -0.0011995256275841,
      0.054745659998421, -0.0553634156097345, -0.1057225076003003,
      -0.1071976326230946, 0.1780282956704633)
    assertSeqNear(dev.map(_.getDouble(0)).toSeq, wantUi, 1e-8)
    assertSeqNear(dev.map(_.getDouble(1)).toSeq, wantDb, 1e-8)
  }

  test("M13 logistic deviates sum to ~0 at the fitted coefficients") {
    val df = Seq(
      (0.5, 0.0, 1.0), (1.5, 1.0, 2.0), (-0.3, 1.0, 1.0), (2.2, 1.0, 1.0),
      (0.9, 0.0, 3.0), (-1.1, 0.0, 1.0), (0.2, 0.0, 2.0), (1.8, 1.0, 1.0),
      (-0.6, 0.0, 1.0), (1.0, 1.0, 2.0)
    ).toDF("x", "y", "w")
    val feats = FeatureArray.withIntercept(Seq(col("x")))
    val fit = WeightedGLM.logistic(df, feats, col("y"), col("w"), p = 2)
    val devs = Influence.logisticDeviates(fit, feats, col("y"), col("w"))
    val sums = df.agg(sum(devs(0)), sum(devs(1))).head()
    // score = 0 at MLE ⇒ H⁻¹·score ≈ 0
    assert(math.abs(sums.getDouble(0)) < 1e-6)
    assert(math.abs(sums.getDouble(1)) < 1e-6)
  }

  test("M13 sandwich variance is symmetric positive-definite") {
    val df = Seq(
      (0.5, 0.0, 1.0), (1.5, 1.0, 2.0), (-0.3, 1.0, 1.0), (2.2, 1.0, 1.0),
      (0.9, 0.0, 3.0), (-1.1, 0.0, 1.0), (0.2, 0.0, 2.0), (1.8, 1.0, 1.0),
      (-0.6, 0.0, 1.0), (1.0, 1.0, 2.0)
    ).toDF("x", "y", "w")
    val feats = FeatureArray.withIntercept(Seq(col("x")))
    val fit = WeightedGLM.logistic(df, feats, col("y"), col("w"), p = 2)
    val v = Influence.logisticSandwich(df, fit, feats, col("y"), col("w"), lit(0.1))
    assertNear(v(0, 1), v(1, 0), 1e-12)
    assert(v(0, 0) > 0 && v(1, 1) > 0)
    assert(v(0, 0) * v(1, 1) - v(0, 1) * v(1, 0) > 0)
  }

  test("the shared contraction sums per-sample partials, NULL partials as 0") {
    // key 1: sample 1's deviates are all NULL (NULL Poisson and PPS
    // partials); key 2: sample 0 is one row (covar_samp is NULL)
    val rows = Seq[(Double, Int, Option[Double], Double)](
      (1.0, 0, Some(1.0), 0.5), (1.0, 0, Some(2.0), 0.25), (1.0, 0, Some(4.0), 0.0),
      (1.0, 1, None, 0.5), (1.0, 1, None, 0.2),
      (2.0, 0, Some(3.0), 0.1),
      (2.0, 1, Some(-1.0), 0.5), (2.0, 1, Some(2.0), 0.5))
    val got = Influence.contract(rows.toDF("k", "s", "d", "pi"), Seq(col("d")),
      col("pi"), keys = Seq(col("k")), sample = Some(col("s")),
      extra = Seq(max(col("d"))))
    assert(got.keySet == Set(Seq(1.0), Seq(2.0)))
    for (k <- Seq(1.0, 2.0)) {
      val byS = rows.filter(_._1 == k).groupBy(_._2).values
        .map(_.collect { case (_, _, Some(d), pi) => (d, pi) })
      val pois = byS.flatten.map { case (d, pi) => (1 - pi) * d * d }.sum
      // n·cov(Δ, Δ) = Σ(Δ − Δ̄)²·n/(n−1); fewer than 2 values ⇒ 0
      val pps = byS.map { g =>
        val n = g.size
        if (n < 2) 0.0 else {
          val mean = g.map(_._1).sum / n
          g.map { case (d, _) => (d - mean) * (d - mean) }.sum * n / (n - 1)
        }
      }.sum
      assertNear(got(Seq(k)).poisson(0), pois, 1e-12)
      assertNear(got(Seq(k)).pps(0), pps, 1e-12)
      assertSeqNear(got(Seq(k)).extra(0).sorted, byS.filter(_.nonEmpty)
        .map(_.map(_._1).max).toSeq.sorted, 0.0)
    }
    assertNear(got(Seq(1.0)).poisson(0), 19.5, 1e-12)
    assertNear(got(Seq(1.0)).pps(0), 7.0, 1e-12)
    assertNear(got(Seq(2.0)).poisson(0), 10.6, 1e-12)
    assertNear(got(Seq(2.0)).pps(0), 9.0, 1e-12)
  }
}
