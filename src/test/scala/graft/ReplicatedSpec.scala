package graft

import graft.stats.{CoxPH, CoxPHReplicated, GLMReplicated, WeightedGLM}
import graft.variance.{CoxInfluence, Influence, Jackknife, JointVariance}
import org.apache.spark.sql.functions._

class ReplicatedSpec extends SparkSpec {
  import spark.implicits._

  private def survival = {
    val rng = new scala.util.Random(42)
    (1 to 200).map { i =>
      val x = rng.nextGaussian()
      val t = -math.log(rng.nextDouble()) / math.exp(0.4 * x)
      val c = rng.nextDouble() * 3.0
      (i.toLong, math.min(t, c), if (t <= c) 1.0 else 0.0, 1.0 + i % 3, x)
    }.toDF("id", "t", "d", "w", "x")
  }

  test("vectorized replicate Cox matches sequential per-replicate fits") {
    val m = 5
    val df = survival
    val rep = Jackknife.replicated(df, (col("id") % m).cast("int"), col("w"), m)
    val joint = CoxPHReplicated.fit(rep, col("jk_r"), col("t"), col("d"),
      col("jk_wt"), Seq(col("x")), m)
    assert(joint.maxScoreResidual < 1e-6)

    (0 until m).foreach { k =>
      val sub = df.filter(col("id") % m =!= k)
        .withColumn("jw", col("w") * lit(m.toDouble / (m - 1)))
      val seq = CoxPH.fit(sub, col("t"), col("d"), col("jw"), Seq(col("x")))
      assertNear(joint.betas(k)(0), seq.coefficients(0), 1e-6)
    }
  }

  test("jackknife variance from replicated Cox betas is positive, sane") {
    val m = 8
    val df = survival
    val rep = Jackknife.replicated(df, (col("id") % m).cast("int"), col("w"), m)
    val joint = CoxPHReplicated.fit(rep, col("jk_r"), col("t"), col("d"),
      col("jk_wt"), Seq(col("x")), m)
    val est = joint.betas.toSeq.map { case (r, b) => (r, b(0)) }.toDF("r", "beta")
    val v = Jackknife.variance(est, col("beta"), m).head().getDouble(0)
    assert(v > 0 && v < 1.0, s"jk var $v")
  }

  test("vectorized replicate logistic IRLS matches sequential per-replicate fits") {
    // recal.wt=T shape (jk_fun.R:292-341): cohort rows are jackknifed,
    // survey rows keep their weight in every replicate
    val rng = new scala.util.Random(7)
    val df = (1 to 300).map { i =>
      val x = rng.nextGaussian()
      val trt = if (rng.nextDouble() < 1.0 / (1.0 + math.exp(-0.8 * x))) 1.0 else 0.0
      (i.toLong, x, trt, 1.0 + i % 4)
    }.toDF("id", "x", "trt", "w")
    val m = 6
    val cohortRep = Jackknife.replicated(df.filter(col("trt") === 1.0),
      (col("id") % m).cast("int"), col("w"), m)
    val surveyRep = df.filter(col("trt") === 0.0)
      .withColumn("jk_r", explode(sequence(lit(0), lit(m - 1))))
      .withColumn("jk_wt", col("w") * lit(0.4))
    val cols = Seq("jk_r", "jk_wt", "trt", "x").map(col)
    val ex = cohortRep.select(cols: _*).unionByName(surveyRep.select(cols: _*))
    val joint = GLMReplicated.logistic(ex, col("jk_r"),
      Seq(lit(1.0), col("x")), col("trt"), col("jk_wt"), m)
    assert(joint.maxStep < 1e-9)

    (0 until m).foreach { k =>
      val sub = df.filter(col("trt") === 0.0 || col("id") % m =!= k)
        .withColumn("jw",
          when(col("trt") === 1.0, col("w") * lit(m.toDouble / (m - 1)))
            .otherwise(col("w") * lit(0.4)))
        .withColumn("f", array(lit(1.0), col("x")))
      val seq = WeightedGLM.logistic(sub, col("f"), col("trt"), col("jw"), p = 2)
      assertNear(joint.gammas(k)(0), seq.coefficients(0), 1e-8)
      assertNear(joint.gammas(k)(1), seq.coefficients(1), 1e-8)
    }
  }

  test("joint (beta,gamma) correction: zero gamma-deviates → direct deviates") {
    val df = survival
    val fit = CoxPH.fit(df, col("t"), col("d"), col("w"), Seq(col("x")))
    val dev = CoxInfluence.deviates(df, col("t"), col("d"), col("w"),
      Seq(col("x")), fit.coefficients, fit.infoPacked)
    val corrected = JointVariance.correctedDeviates(dev, p = 1,
      dwdGamma = Seq(-col("__w") * col("__x0")),
      gammaDevs = Seq(lit(0.0)), infoPacked = fit.infoPacked)
    val r = corrected.agg(
      sum(abs(col("dbeta_tot_0") - col("dbeta_0")))).head().getDouble(0)
    assertNear(r, 0.0, 1e-12)
    val v = Influence.contract(corrected, Seq(col("dbeta_tot_0")), pi = lit(1.0))(Nil).pps(0)
    assert(v > 0.0)
  }
}
