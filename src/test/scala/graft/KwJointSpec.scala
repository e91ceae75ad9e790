package graft

import graft.stats.CoxPH
import graft.variance.{CoxInfluence, Influence, JointVariance}
import graft.weights.KernelWeights
import org.apache.spark.sql.functions._

/** Joint variance for KW pseudo-weights: kernel Jacobian (A8) feeding
  * the γ→β correction. Structural checks: the correction is exactly
  * B·Δγ per unit, collapses to the direct deviates at Δγ=0, and the
  * variance stays positive. */
class KwJointSpec extends SparkSpec {
  import spark.implicits._

  test("KW joint correction composes kernel Jacobian with Cox deviates") {
    val survey = Seq((101L, 0.1, 2.0), (102L, 0.6, 3.0), (103L, 1.1, 1.5))
      .toDF("id", "q", "wt")
    val cohortRaw = Seq(
      (1L, 0.2, 1.0, 1.0, 0.5), (2L, 0.4, 2.0, 1.0, -0.2),
      (3L, 0.7, 3.0, 1.0, 1.0), (4L, 0.9, 4.0, 0.0, 0.3),
      (5L, 1.2, 5.0, 1.0, -0.5), (6L, 0.3, 6.0, 0.0, 0.8)
    ).toDF("id", "q", "t", "d", "x")

    // kernel weights + their γ-Jacobian on the same pair stream,
    // attached to the cohort rows
    val cohort = KernelWeights.attachJacobian(
      survey, col("q"), col("wt"),
      cohortRaw, col("q"),
      h = 0.5, sFeatures = Seq(col("q")), cFeatures = Seq(col("q")))
    assert(cohort.columns.toSet == cohortRaw.columns.toSet ++ Set("kw", "d_kw_0"))

    val fit = CoxPH.fit(cohort, col("t"), col("d"), col("kw"), Seq(col("x")))
    val dev = CoxInfluence.deviates(cohort, col("t"), col("d"), col("kw"),
      Seq(col("x")), fit.coefficients, fit.infoPacked,
      passthrough = Seq(col("d_kw_0")))

    val zeroG = JointVariance.correctedDeviates(dev, p = 1, Seq(col("d_kw_0")),
      gammaDevs = Seq(lit(0.0)), infoPacked = fit.infoPacked)
    val drift = zeroG.agg(sum(abs(col("dbeta_tot_0") - col("dbeta_0"))))
      .head().getDouble(0)
    assertNear(drift, 0.0, 1e-12)

    val withG = JointVariance.correctedDeviates(dev, p = 1, Seq(col("d_kw_0")),
      gammaDevs = Seq(col("__x0") * 0.01), infoPacked = fit.infoPacked)
    val v = Influence.contract(withG, Seq(col("dbeta_tot_0")), pi = lit(1.0))(Nil).pps(0)
    assert(v > 0.0)
  }
}
