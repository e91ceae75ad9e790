package graft.pipeline

import graft.core.FeatureArray
import graft.hazard.{AbsoluteRisk, Breslow, DiscreteHazard, GailHazard, RiskSet}
import graft.stats.{CoxPH, Kernels, WeightedGLM}
import graft.weights.{Composite, Greg, Ipsw, KernelWeights, PostStratify}
import graft.variance.Jackknife
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

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
    val c = cohort.withColumn("trt", lit(1)).withColumn("w", lit(1.0))
    val s = survey.withColumn("trt", lit(0)).withColumn("w", surveyWt.cast("double"))
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
    * with bw.nrd0 bandwidth on the pooled scores. `removeUnmatched` is
    * the reference's rm.s flag (simu_fun.R:13-15). */
  def withKw(cohort: DataFrame, survey: DataFrame, surveyWt: Column,
      ps: PsModel, idCol: String, kernel: String = "gaussian",
      removeUnmatched: Boolean = false): DataFrame = {
    val cScored = cohort.withColumn("__q", ps.score(cohort))
    val sScored = survey.withColumn("__q", ps.score(survey))
    val h = Kernels.bwNrd0(cScored.select(col("__q").as("q"))
      .unionByName(sScored.select(col("__q").as("q"))), col("q"))
    val kw = KernelWeights.compute(
      sScored, col(idCol), col("__q"), surveyWt,
      cScored, col(idCol), col("__q"),
      h = h, kernel = Kernels.byName(kernel),
      removeUnmatched = removeUnmatched)
    cohort.join(kw.withColumnRenamed("c_id", idCol), Seq(idCol))
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
    val rel = exp(feats.zip(fit.coefficients).map { case (c, b) => c * lit(b) }
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

  final case class BatteryVariance(
      battery: Battery,
      betaVar: Array[Double],
      lambdaVar: Map[Double, Double],
      gailVar: Map[Double, Double])

  /** `calib_est` WITH the influence plumbing (jk_fun.R:38-63,
    * taylor_deviate.R:988-1007): the battery at GREG-calibrated
    * weights plus PPS-linearized variances of β and Λ(t*) (and ΛG(t*)
    * with a population hazard), propagating the calibration Jacobian in
    * factored form through JointVariance.gregCorrectedDeviates and the
    * hazard chain through HazardInfluence. */
  def calibratedBatteryWithVariance(
      comDat: DataFrame, time: Column, event: Column, weight: Column,
      auxCols: Seq[String], auxTotals: Array[Double],
      featureCols: Seq[String], tStar: Seq[Double],
      popLambda: Option[DataFrame] = None, eta0: Double = 0.0): BatteryVariance = {
    import graft.variance.{CoxInfluence, HazardInfluence, JointVariance}
    val auxFeats = FeatureArray.withIntercept(auxCols.map(col))
    val cal = Greg.solve(comDat, auxFeats, weight, auxTotals)
    val cald = comDat
      .withColumn("greg_f", Greg.factor(auxFeats, cal))
      .withColumn("greg_wt", Greg.calibratedWeight(auxFeats, weight, cal))
      .persist()
    val battery = estimatorBattery(cald, time, event, col("greg_wt"),
      featureCols, tStar, popLambda, eta0)
    val p = featureCols.length
    val feats = featureCols.map(col)
    val (_, info) = CoxPH.scoreAndInfo(cald, time, event, col("greg_wt"),
      feats, battery.beta)
    // Full calibration chain on the hazard estimands: the direct N/Z/Y
    // deviates scale by f_i and pick up the factored-Jacobian projection
    // −f_i·v_i'M⁻¹·S_dir(t*). The projection has exactly the γ-chain
    // structure with pw_gamma := w·v and gamma_dev := −f·M⁻¹v (the β
    // chain is already inside dbeta_greg); pw_gamma are the RiskSet
    // measures of the one step table both deviate passes read.
    val pc = cal.lambda.length
    val minv = graft.core.LinAlg.inverse(
      graft.core.LinAlg.unpack(pc, cal.gramPacked))
    val pwGamma = (0 until pc).map(m =>
      weight.cast("double") * auxFeats.getItem(m))
    val steps = RiskSet.steps(cald, time, event, col("greg_wt"),
      CoxInfluence.relHzd(feats, battery.beta), feats, pwGamma)
    val dev = CoxInfluence.deviates(cald, time, event, col("greg_wt"), feats,
      battery.beta, info, steps,
      Seq(auxFeats.as("__aux"), weight.cast("double").as("__w0"),
        col("greg_f")), graft.core.Windows.SizeHint.Auto)
    val corrected = JointVariance.gregCorrectedDeviates(dev, p,
      col("__aux"), col("__w0"), col("greg_f"), cal, info)
    val betaVarPacked = JointVariance.ppsVariance(corrected, p, "dbeta_greg_")
    val betaVar = (0 until p).map { j =>
      // diagonal entries of the packed upper triangle
      val idx = (0 until j).map(k => p - k).sum
      betaVarPacked(idx)
    }.toArray
    val gammaDevs = (0 until pc).map { m =>
      val proj = (0 until pc).map(l => lit(minv(m, l)) * col("__aux").getItem(l))
        .foldLeft(lit(0.0): Column)(_ + _)
      -col("greg_f") * proj
    }
    // Δ_i = w_i·(∂θ/∂w_i) against the BASE design weight — the deviates
    // already carry the calibration chain, so the sampling variation
    // contracts over w (the reference's ps.w·deviate, taylor_deviate.R:102)
    val long = HazardInfluence.cumulativeDeviates(corrected, steps, p, tStar,
      lambdaStar = popLambda, betaDevPrefix = "dbeta_greg_",
      gammaDevs = gammaDevs,
      directScale = col("greg_f"),
      passthrough = Seq(col("__w0")))
    val lamVar = HazardInfluence.ppsVariance(long, col("d_cum_hzd"), col("__w0"))
      .collect().map(r => r.getDouble(0) -> r.getDouble(1)).toMap
    val gailVar = if (popLambda.isDefined)
      HazardInfluence.ppsVariance(long, col("d_cum_gail"), col("__w0"))
        .collect().map(r => r.getDouble(0) -> r.getDouble(1)).toMap
    else Map.empty[Double, Double]
    cald.unpersist(blocking = false)
    BatteryVariance(battery, betaVar, lamVar, gailVar)
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
    val est = rep.groupBy(col("jk_r"))
      .agg((sum(col("jk_wt") * col("__y")) /
        when(sum(col("jk_wt")) =!= 0.0, sum(col("jk_wt")))).as("theta"))
      .persist()
    val theta = df.agg(sum(weight.cast("double") * y) / sum(weight.cast("double")))
      .head().getDouble(0)
    val v = Jackknife.variance(est, col("theta"), m).head().getDouble(0)
    est.unpersist(blocking = false)
    (theta, v)
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
