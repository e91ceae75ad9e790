package graft.pipeline

import graft.core.FeatureArray
import graft.functions.Coef
import graft.hazard.{Breslow, DiscreteHazard, GailHazard}
import graft.stats.{CoxPH, Kernels, WeightedGLM}
import graft.weights.{Composite, Ipsw, KernelWeights}
import graft.variance.Jackknife
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}
import scala.collection.immutable.ListMap

/** The reference's end-to-end data-integration workflow (SURVEY.md §3)
  * as a composable Spark API: stack cohort ∪ survey, fit the propensity
  * model, construct IPSW/KW pseudo-weights, calibrate, run the
  * design-weighted estimator battery (Cox β, cumulative hazard Λ(t*),
  * Gail ΛG(t*), absolute risk), and jackknife the whole battery.
  *
  * Mirrors `simu_fun` (simu_fun.R:17-116), `ps.model.fit`
  * (taylor_deviate.R:3-36), `est_out` (jk_fun.R:1-22) and `jk_fun`
  * (jk_fun.R:279-387) — re-expressed as DataFrame dataflow: the stacked
  * sample is persisted once; every model fit is an aggregate loop; the
  * jackknife uses the vectorized replicate dimension.
  */
object SurveyIntegration {

  /** Stack cohort (trt=1, w=1) ∪ survey (trt=0, w=design weight) —
    * simu_fun.R:22-25. Cohort design weight column is carried if given. */
  def stack(cohort: DataFrame, survey: DataFrame, surveyWt: Column): DataFrame = {
    val c = cohort.withColumns(ListMap("trt" -> lit(1), "w" -> lit(1.0)))
    val s = survey.withColumns(ListMap("trt" -> lit(0), "w" -> surveyWt.cast("double")))
    c.unionByName(s, allowMissingColumns = true)
  }

  final case class PsModel(fit: WeightedGLM.Fit, features: Seq[String]) {
    def score(df: DataFrame): Column =
      FeatureArray.dot(FeatureArray.withIntercept(features.map(col)), fit.coefficients)
  }

  /** Weighted logistic propensity model for cohort membership on the
    * stacked sample (ps.model.fit). */
  def propensityModel(stacked: DataFrame, featureCols: Seq[String],
      weight: Column = col("w")): PsModel = {
    val feats = FeatureArray.withIntercept(featureCols.map(col))
    val fit = WeightedGLM.logistic(stacked, feats, col("trt"), weight,
      p = featureCols.length + 1)
    PsModel(fit, featureCols)
  }

  /** Cohort frame + `ipsw` column (M4): exp(−x'γ)/a. */
  def withIpsw(cohort: DataFrame, ps: PsModel, a: Double = 1.0): DataFrame =
    cohort.withColumn("ipsw", Ipsw.fromLinearPredictor(ps.score(cohort), a))

  /** Cohort frame + `kw` column (M5): kernel-smoothed pseudo-weights
    * with bw.nrd0 bandwidth on the pooled scores, appended row by row
    * (one output row per cohort row, whether or not the cohort has a
    * unique key). `removeUnmatched` is the reference's rm.s flag
    * (simu_fun.R:13-15). */
  def withKw(cohort: DataFrame, survey: DataFrame, surveyWt: Column,
      ps: PsModel, kernel: String = "gaussian",
      removeUnmatched: Boolean = false): DataFrame = {
    val cScored = cohort.withColumn("__q", ps.score(cohort))
    val sScored = survey.withColumn("__q", ps.score(survey))
    val h = Kernels.bwNrd0(cScored.select(col("__q").as("q"))
      .unionByName(sScored.select(col("__q").as("q"))), col("q"))
    KernelWeights.attachJacobian(
      sScored, col("__q"), surveyWt,
      cScored, col("__q"), h,
      sFeatures = Nil, cFeatures = Nil, kernel = Kernels.byName(kernel),
      removeUnmatched = removeUnmatched)
      .drop("__q")
  }

  /** Cohort frame + `psas` column (M22): propensity-score
    * stratification pseudo-weights over `g` quantile strata of the
    * cohort score — the PSAS method the reference header declares
    * (simu_fun.R:2,12). */
  def withPsas(cohort: DataFrame, survey: DataFrame, surveyWt: Column,
      ps: PsModel, idCol: String, g: Int = 5): DataFrame = {
    val psas = graft.weights.Psas.compute(
      survey.withColumn("__q", ps.score(survey)), col("__q"), surveyWt,
      cohort.withColumn("__q", ps.score(cohort)), col(idCol), col("__q"), g)
    cohort.join(psas.withColumnRenamed("c_id", idCol), Seq(idCol))
  }

  /** Cap extreme pseudo-weights at the p-th exact quantile and
    * redistribute the excess proportionally (M24) — apply between
    * pseudo-weight construction and the estimator battery. */
  def withTrimmedWeight(df: DataFrame, weight: Column,
      p: Double = 0.95): DataFrame =
    graft.weights.Trimming.trim(df, weight, p)

  final case class Battery(
      beta: Array[Double],
      converged: Boolean,
      scoreResidual: Double,
      lambdaAt: Map[Double, Double],
      gailAt: Map[Double, Double],
      absRiskAt: Map[Double, Double])

  /** The per-weight estimator battery (est_out): weighted Cox fit,
    * Breslow Λ(t*), Gail ΛG(t*) vs a population hazard, absolute risk.
    */
  def estimatorBattery(samp: DataFrame, time: Column, event: Column,
      weight: Column, featureCols: Seq[String], tStar: Seq[Double],
      popLambda: Option[DataFrame] = None, eta0: Double = 0.0): Battery = {
    val feats = featureCols.map(col)
    val fit = CoxPH.fit(samp, time, event, weight, feats)
    val rel = exp(feats.indices.map(j => feats(j) * Coef.at(fit.coefficients, j))
      .foldLeft(lit(0.0): Column)(_ + _))
    val cum = Breslow.cumulativeHazardAt(samp, time, event, weight, rel, tStar)
      .collect().map(r => r.getDouble(0) -> r.getDouble(1)).toMap
    val gail = popLambda match {
      case Some(ls) =>
        val ar = DiscreteHazard.steps(samp, time, event, weight, rel)
          .select(col("t"), col("ar"))
        GailHazard.at(ls, ar, tStar).collect()
          .map(r => r.getDouble(0) -> r.getDouble(1)).toMap
      case None => Map.empty[Double, Double]
    }
    val abs = cum.map { case (t, ch) =>
      t -> (1.0 - math.exp(-ch * math.exp(eta0)))
    }
    Battery(fit.coefficients, fit.converged, fit.scoreResidual, cum, gail, abs)
  }

  /** Delete-a-group jackknife of a scalar estimator over the replicate
    * dimension: ONE shuffle computes all m replicate estimates
    * (vectorized, not m sequential jobs). The estimator must be
    * expressible as an aggregation over (value, weight) — covers
    * weighted means/totals/ratios (jk_var, jk_fun.R:376-385). */
  def jackknifeMean(df: DataFrame, y: Column, weight: Column, groupKey: Column,
      m: Int): (Double, Double) = {
    val rep = Jackknife.replicated(
      df.select(y.as("__y"), weight.cast("double").as("__w"), groupKey.as("__g")),
      col("__g"), col("__w"), m)
    // the m replicate estimates are read by one action: nothing to pin
    val est = rep.groupBy(col("jk_r"))
      .agg((sum(col("jk_wt") * col("__y")) /
        when(sum(col("jk_wt")) =!= 0.0, sum(col("jk_wt")))).as("theta"))
    val theta = df.agg(sum(weight.cast("double") * y) / sum(weight.cast("double")))
      .head().getDouble(0)
    (theta, Jackknife.variance(est, col("theta"), m).head().getDouble(0))
  }

  /** Jackknifed Cox battery: delete-a-group replication of the weighted
    * Cox fit with ALL replicates advancing through one NR loop
    * (CoxPHReplicated — jobs O(iterations), not O(m·iterations)).
    * Returns (full-sample β, per-coefficient jackknife variance). */
  def jackknifeCox(df: DataFrame, time: Column, event: Column, weight: Column,
      featureCols: Seq[String], groupKey: Column, m: Int): (Array[Double], Array[Double]) = {
    val spark = df.sparkSession
    import spark.implicits._
    val feats = featureCols.map(col)
    val full = graft.stats.CoxPH.fit(df, time, event, weight, feats)
    val rep = Jackknife.replicated(
      df.select((time.as("__t") +: event.as("__d") +:
        weight.cast("double").as("__w0") +: groupKey.as("__g") +:
        featureCols.map(c => col(c))): _*),
      col("__g"), col("__w0"), m)
    val joint = graft.stats.CoxPHReplicated.fit(rep, col("jk_r"), col("__t"),
      col("__d"), col("jk_wt"), feats, m)
    val p = featureCols.length
    val vars = (0 until p).map { j =>
      val est = joint.betas.toSeq.map { case (r, b) => (r, b(j)) }.toDF("r", "beta")
      Jackknife.variance(est, col("beta"), m).head().getDouble(0)
    }.toArray
    (full.coefficients, vars)
  }

  /** Composite-weight blend of cohort pseudo-weights with survey design
    * weights before joint calibration (jk_fun.R:136-139). */
  def blendWeights(stacked: DataFrame, cohortWt: Column, surveyWt: Column): DataFrame = {
    val alloc = Composite.allocation(
      stacked.filter(col("trt") === 1), cohortWt,
      stacked.filter(col("trt") === 0), surveyWt)
    Composite.blend(stacked, col("trt"), cohortWt, surveyWt, alloc)
  }
}
