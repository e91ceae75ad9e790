package graft

import graft.pipeline.SurveyIntegration
import graft.sampling.{Population, Pps}
import graft.stats.Kernels
import org.apache.spark.sql.functions._

/** End-to-end statistical integration test, mirroring the reference's
  * simulation-against-known-truth pattern (SURVEY.md §5): synthesize a
  * population with known PH coefficients, draw PPS cohort+survey
  * samples, run the full pseudo-weight → calibration → Cox battery, and
  * check the estimates land near the truth and the structural
  * invariants hold exactly.
  */
class PipelineSpec extends SparkSpec {
  import spark.implicits._

  private val beta = Array(math.log(-math.log(0.85) / 15.0), 0.2, 0.2, 0.3)

  private lazy val pop = Population.generate(spark, 20000, beta).persist()
  private lazy val cohort = Pps.draw(
    pop.withColumn("msize", exp(col("x1") / 8.0)),
    col("id"), col("msize"), n = 600, salt = 11L).persist()
  private lazy val survey = Pps.draw(
    pop.withColumn("msize", exp(col("x2") / 8.0)),
    col("id"), col("msize"), n = 400, salt = 23L).persist()

  test("population synthesis hits expected marginals") {
    val r = pop.agg(avg("x1"), stddev_samp("x1"), avg("d"), count(lit(1))).head()
    assert(math.abs(r.getDouble(0)) < 0.15)          // mean ≈ 0
    assert(math.abs(r.getDouble(1) - 4.0) < 0.15)    // sd ≈ 4
    assert(r.getDouble(2) > 0.05 && r.getDouble(2) < 0.95)
    assert(r.getLong(3) == 20000L)
  }

  test("PPS draw: correct size, Σwt ≈ N (design unbiasedness)") {
    assert(cohort.count() == 600)
    val sumWt = survey.agg(sum("wt")).head().getDouble(0)
    assert(math.abs(sumWt - 20000.0) / 20000.0 < 0.25,
      s"Horvitz-Thompson N̂ = $sumWt should be near 20000")
  }

  test("full IPSW pipeline: PS model, pseudo-weights, Cox battery") {
    val stacked = SurveyIntegration.stack(
      cohort.drop("msize"), survey.drop("msize"), col("wt")).persist()
    val ps = SurveyIntegration.propensityModel(stacked, Seq("x1", "x2", "x3"))
    assert(ps.fit.converged)

    val withIpsw = SurveyIntegration.withIpsw(cohort, ps)
    val stats = withIpsw.agg(min("ipsw"), sum("ipsw")).head()
    assert(stats.getDouble(0) > 0.0)

    val battery = SurveyIntegration.estimatorBattery(
      withIpsw, col("t"), col("d"), col("ipsw"),
      Seq("x1", "x2", "x3"), tStar = Seq(5.0, 10.0, 15.0))
    assert(battery.converged)
    assert(battery.scoreResidual < 1e-6)
    // weighted estimates should land in the neighborhood of truth
    assert(math.abs(battery.beta(0) - 0.2) < 0.15, s"β1=${battery.beta(0)}")
    assert(math.abs(battery.beta(1) - 0.2) < 0.15, s"β2=${battery.beta(1)}")
    assert(math.abs(battery.beta(2) - 0.3) < 0.15, s"β3=${battery.beta(2)}")
    assert(battery.lambdaAt(5.0) > 0 && battery.lambdaAt(15.0) >= battery.lambdaAt(5.0))
    battery.absRiskAt.values.foreach(r => assert(r >= 0 && r <= 1))
  }

  test("KW pseudo-weights: positive, Σkw = Σ survey wt (row-normalization)") {
    val stacked = SurveyIntegration.stack(
      cohort.drop("msize"), survey.drop("msize"), col("wt"))
    val ps = SurveyIntegration.propensityModel(stacked, Seq("x1", "x2", "x3"))
    val withKw = SurveyIntegration.withKw(
      cohort.drop("msize"), survey.drop("msize"), col("wt"), ps)
    val r = withKw.agg(min("kw"), sum("kw")).head()
    val sumWt = survey.agg(sum("wt")).head().getDouble(0)
    assert(r.getDouble(0) >= 0.0)
    // guaranteed by construction (simu_fun.R:186-189)
    assertNear(r.getDouble(1), sumWt, 1e-9)
  }

  test("KW pseudo-weights attach row by row: a shared cohort id is not double-counted") {
    // two different cohort units carry the same id: each row keeps its
    // own weight, so Σkw stays Σ survey wt (an id-keyed fan-back would
    // give both rows the pair's summed weight)
    val ids = cohort.select("id").orderBy("id").limit(2).as[Long].collect()
    val shared = cohort.drop("msize")
      .withColumn("id", when(col("id") === ids(1), lit(ids(0))).otherwise(col("id")))
    assert(shared.filter(col("id") === ids(0)).count() == 2)
    val stacked = SurveyIntegration.stack(shared, survey.drop("msize"), col("wt"))
    val ps = SurveyIntegration.propensityModel(stacked, Seq("x1", "x2", "x3"))
    val withKw = SurveyIntegration.withKw(shared, survey.drop("msize"), col("wt"), ps)
    val r = withKw.agg(count(lit(1)), sum("kw")).head()
    assert(r.getLong(0) == 600L)
    assertNear(r.getDouble(1), survey.agg(sum("wt")).head().getDouble(0), 1e-9)
  }

  test("GREG-calibrated battery reproduces auxiliary totals exactly") {
    val targets = pop.agg(count(lit(1)).cast("double"), sum("x1"), sum("x2")).head()
    val aux = Array(targets.getDouble(0), targets.getDouble(1), targets.getDouble(2))
    val cald = graft.weights.Greg.calibrate(survey,
      graft.core.FeatureArray.withIntercept(Seq(col("x1"), col("x2"))),
      col("wt"), aux, clip = -1e18)
    val got = cald.agg(sum("greg_wt"), sum(col("greg_wt") * col("x1")),
      sum(col("greg_wt") * col("x2"))).head()
    assertNear(got.getDouble(0), aux(0), 1e-6)
    assertNear(got.getDouble(1), aux(1), 1e-6)
    assertNear(got.getDouble(2), aux(2), 1e-6)
  }

  test("jackknife variance of a weighted mean is positive and stable") {
    val (theta, v) = SurveyIntegration.jackknifeMean(
      survey, col("x1"), col("wt"),
      graft.variance.Jackknife.group(col("id"), 30, salt = 5L), m = 30)
    assert(v > 0.0)
    // JK standard error should be in a sane band around the naive SE
    val se = math.sqrt(v)
    assert(se > 0.01 && se < 2.0, s"theta=$theta se=$se")
  }

  test("PSAS pseudo-weights: positive, Σpsas = Σ survey wt, trimming preserves it") {
    val stacked = SurveyIntegration.stack(
      cohort.drop("msize"), survey.drop("msize"), col("wt"))
    val ps = SurveyIntegration.propensityModel(stacked, Seq("x1", "x2", "x3"))
    val withP = SurveyIntegration.withPsas(cohort.drop("msize"),
      survey.drop("msize"), col("wt"), ps, idCol = "id", g = 5)
    assert(withP.count() == cohort.count())
    val sumPsas = withP.agg(sum("psas")).head().getDouble(0)
    val sumWt = survey.agg(sum("wt")).head().getDouble(0)
    // strata come from cohort quantiles, so every stratum has cohort
    // units and all survey mass lands somewhere
    assertNear(sumPsas, sumWt, 1e-9)
    assert(withP.filter(col("psas") < 0).isEmpty)
    val trimmed = SurveyIntegration.withTrimmedWeight(withP, col("psas"), p = 0.9)
    assertNear(trimmed.agg(sum("trim_wt")).head().getDouble(0), sumPsas, 1e-9)
  }

  test("composite-weight blend: allocations in (0,1), halves preserved") {
    val stacked = SurveyIntegration.stack(
      cohort.drop("msize"), survey.drop("msize"), col("wt"))
    val ps = SurveyIntegration.propensityModel(stacked, Seq("x1", "x2", "x3"))
    val ipswd = SurveyIntegration.withIpsw(
      stacked.filter(col("trt") === 1), ps)
    val stacked2 = ipswd.select(col("id"), col("trt"), col("ipsw"), col("w"))
      .unionByName(stacked.filter(col("trt") === 0)
        .select(col("id"), col("trt"), lit(0.0).as("ipsw"), col("w")))
    val blended = SurveyIntegration.blendWeights(stacked2,
      col("ipsw"), col("w"))
    val r = blended.groupBy("trt").agg(sum("composite_wt")).collect()
      .map(x => x.getInt(0) -> x.getDouble(1)).toMap
    assert(r(1) > 0 && r(0) > 0)
  }
}
