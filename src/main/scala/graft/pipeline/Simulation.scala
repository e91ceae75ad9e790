package graft.pipeline

import graft.core.Pin
import graft.core.Windows.SizeHint
import graft.sampling.{Population, Pps}
import graft.stats.CoxPH
import graft.weights.Composite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** Monte-Carlo simulation driver (SURVEY.md §3.1) — the full shape of
  * `calib_simu_noninf0315.R` / `calib_simu_inf0315.R`: synthesize a
  * finite population with known PH truth and three measurement-error
  * scenarios, then per replicate draw PPS cohort + survey samples and
  * run the complete 16-method battery (jk_fun.R:79-170):
  *
  *   1 Naive   — cohort, unweighted
  *   2 Cht     — cohort, design weights
  *   3 Svy     — survey, design weights
  *   4 IPSW    — cohort, inverse-propensity pseudo-weights (recalibrated
  *               propensity on the a-scaled stack, jk_fun.R:123-127)
  *   5..16     — {calib, calib_ipsw, imp, imp_calib_ipsw} × scenario
  *               1..3 via CalibEst (true-weight and blended-weight
  *               calibration on reported t̃ or imputed t̂)
  *
  * The INFORMATIVE twin (`calib_simu_inf0315.R:132`) differs only in the
  * cohort size measure: odds include outcome terms (−0.75·d − 0.2·x2·d),
  * so cohort inclusion depends on the event indicator and the naive
  * estimator is design-biased while the weighted ones are not.
  *
  * Results come back TALL, keyed by (simu_id, method, param) — the
  * Spark-idiomatic replacement for the reference's 3-D arrays.
  */
object Simulation {

  final case class Config(
      populationSize: Long = 50000,
      nCohort: Int = 600,
      nSurvey: Int = 300,
      nSimu: Int = 3,
      beta: Array[Double] = Array(math.log(-math.log(0.85) / 15.0), 0.2, 0.2, 0.3),
      tStar: Seq[Double] = Seq(5.0, 10.0, 15.0),
      informative: Boolean = false,
      fullBattery: Boolean = false,
      // Optional seed-pair table (sources.SeedTable layout: seed1,
      // seed2) mirroring the reference's seed.txt-keyed replicate RNG
      // streams (calib_simu_noninf0315.R:14-19; simu_fun.R:389-390,
      // set.seed(seed) before each samp.slct draw): row k seeds
      // replicate k's cohort (seed1) and survey (seed2) draws. Absent,
      // replicates derive deterministic per-index salts.
      seedTable: Option[DataFrame] = None,
      // the reference's three δ scenarios (calib_simu_noninf0315.R:94-96)
      errorScenarios: Seq[Population.ErrorScenario] = Seq(
        Population.ErrorScenario(Array(2.0, 0.01, 0.02, 0.01)),
        Population.ErrorScenario(Array(10.0, 0.2, 0.2, 0.1)),
        Population.ErrorScenario(Array(10.0, 0.0, 0.0, 0.0))))

  /** Cohort PPS size measure: log-odds −0.15·x1 + 0.1·x2, plus the
    * outcome terms −0.75·d − 0.2·x2·d under informative sampling
    * (gamma_c, calib_simu_{noninf,inf}0315.R:132). */
  private def cohortOdds(informative: Boolean): Column = {
    val base = col("x1") * -0.15 + col("x2") * 0.1
    exp(if (informative) base + col("d") * -0.75 + col("x2") * col("d") * -0.2
        else base)
  }
  /** Survey size measure exp(0.07·x1 + 0.07·x2) (gamma_s). */
  private def surveyOdds: Column = exp(col("x1") * 0.07 + col("x2") * 0.07)

  def run(spark: SparkSession, cfg: Config = Config()): DataFrame = {
    import spark.implicits._
    val xCols = Seq("x1", "x2", "x3")
    val pop0 = Population.generate(spark, cfg.populationSize, cfg.beta)
    // every replicate reads the population and its λ* grid
    Pin(if (cfg.fullBattery) Population.withErrorScenarios(pop0, cfg.errorScenarios)
        else pop0, SizeHint.Large) { (pop, _) =>
      val popAgg = pop.agg(count(lit(1)).cast("double"),
        sum(col("d").cast("double"))).head()
      val popN = popAgg.getDouble(0); val popN1 = popAgg.getDouble(1)

      // population truth (the reference's pop fits, calib_simu:113-124)
      val truthFit = CoxPH.fit(pop, col("t"), col("d"), col("w"), xCols.map(col))
      def withPopLambda[A](body: Option[DataFrame] => A): A =
        if (cfg.fullBattery)
          Pin(graft.hazard.GailHazard.lambdaStarPop(pop, col("t"), col("d"),
              col("w"), tStarGrid = cfg.tStar).select(col("t"), col("lambda_star")),
            SizeHint.Auto)((grid, _) => body(Some(grid)))
        else body(None)
      withPopLambda { popLambda =>
        // per-replicate RNG keys: first nSimu rows of the seed table
        // (driver-side, O(replicates) doubles), else index-derived salts
        val seedPairs: Option[Array[(Long, Long)]] = cfg.seedTable.map { st =>
          val rows = st.limit(cfg.nSimu).collect()
            .map(r => (r.getDouble(0).toLong, r.getDouble(1).toLong))
          require(rows.length >= cfg.nSimu,
            s"seed table has ${rows.length} rows < nSimu=${cfg.nSimu}")
          rows
        }

        val results = (1 to cfg.nSimu).flatMap { simu =>
          val (cohortSalt, surveySalt) = seedPairs
            .map(sp => sp(simu - 1))
            .getOrElse((1000L + simu, 2000L + simu))
          val cohort = Pps.draw(pop.withColumn("msize", cohortOdds(cfg.informative)),
            col("id"), col("msize"), cfg.nCohort, salt = cohortSalt).drop("msize")
          val survey = Pps.draw(pop.withColumn("msize", surveyOdds),
            col("id"), col("msize"), cfg.nSurvey, salt = surveySalt).drop("msize")

          val stacked = SurveyIntegration.stack(cohort, survey, col("wt"))
          // recalibrated propensity on the a-scaled stack (jk_fun.R:123-127)
          val a = cfg.nSurvey.toDouble / cfg.populationSize
          val psStack = stacked.withColumn("__wps",
            when(col("trt") === 1, 1.0).otherwise(col("w") * a))
          val ps = SurveyIntegration.propensityModel(psStack, xCols, col("__wps"))
          val withIpsw = cohort.withColumn("ipsw",
            graft.weights.Ipsw.fromLinearPredictor(ps.score(cohort), a))

          // Informative twin: outcome-dependent sampling needs the outcome
          // in the PS model, so the reference fits FOUR formulas
          // (fm_ps = trt~x1+x2*d, trt~x1+x2*d_tilde.1..3 — the commented-in
          // battery of calib_simu_inf0315.R:130, fit per jk_fun.R:306-313)
          // into pseudo-weight variants ipsw.0..3. x2*d expands to
          // {x2, d, x2·d}; ipsw.0 uses the true indicator, ipsw.i the
          // scenario-i error-prone one (needs the error columns ⇒
          // fullBattery).
          val ipswVariants: Seq[(String, DataFrame)] =
            if (!cfg.informative) Nil
            else {
              val dCols = Seq("d") ++
                (if (cfg.fullBattery)
                   (1 to cfg.errorScenarios.length).map(i => s"d_tilde_$i")
                 else Nil)
              dCols.zipWithIndex.map { case (dc, i) =>
                val ic = s"__x2_$dc"
                val st = psStack.withColumn(ic, col("x2") * col(dc).cast("double"))
                val psI = SurveyIntegration.propensityModel(st,
                  Seq("x1", "x2", dc, ic), col("__wps"))
                val coI = cohort.withColumn(ic, col("x2") * col(dc).cast("double"))
                s"ipsw.$i" -> coI.withColumn("ipsw",
                  graft.weights.Ipsw.fromLinearPredictor(psI.score(coI), a))
                  .drop(ic)
              }
            }

          val naive = SurveyIntegration.estimatorBattery(cohort,
            col("t"), col("d"), lit(1.0), xCols, cfg.tStar, popLambda)
          val cht = SurveyIntegration.estimatorBattery(cohort,
            col("t"), col("d"), col("wt"), xCols, cfg.tStar, popLambda)
          val svyB = SurveyIntegration.estimatorBattery(survey,
            col("t"), col("d"), col("wt"), xCols, cfg.tStar, popLambda)
          val ipswB = SurveyIntegration.estimatorBattery(withIpsw,
            col("t"), col("d"), col("ipsw"), xCols, cfg.tStar, popLambda)

          def rows(method: String, b: SurveyIntegration.Battery) =
            b.beta.zipWithIndex.map { case (v, j) =>
              (simu, method, s"beta${j + 1}", v)
            } ++ b.lambdaAt.toSeq.map { case (t, v) =>
              (simu, method, s"Lambda@$t", v)
            } ++ b.gailAt.toSeq.map { case (t, v) =>
              (simu, method, s"LambdaG@$t", v)
            } ++ b.absRiskAt.toSeq.map { case (t, v) =>
              (simu, method, s"absR@$t", v)
            }

          val baseRows = rows("naive", naive) ++ rows("cht", cht) ++
            rows("svy", svyB) ++ rows("ipsw", ipswB) ++
            ipswVariants.flatMap { case (name, coI) =>
              rows(name, SurveyIntegration.estimatorBattery(coI,
                col("t"), col("d"), col("ipsw"), xCols, cfg.tStar, popLambda))
            } ++
            truthFit.coefficients.zipWithIndex.map { case (v, j) =>
              (simu, "truth", s"beta${j + 1}", v)
            }

          val calibRows = if (!cfg.fullBattery) Nil else {
            // blended-weight allocation (jk_fun.R:136-139 / m17 composite);
            // under the informative design the blend is built on ipsw.0
            // (the true-outcome PS variant, jk_est_inf's var.wt="ipsw.0")
            val blendBase = if (cfg.informative) ipswVariants.head._2 else withIpsw
            def blended(co: DataFrame): DataFrame = {
              val alloc = Composite.allocation(co, col("ipsw"), survey, col("wt"))
              SurveyIntegration.stack(co, survey, col("wt"))
                .withColumn("halfwt", col("wt") / 2.0)
                .withColumn("blend",
                  when(col("trt") === 1, col("ipsw") * alloc.aCohort)
                    .otherwise(col("wt") * alloc.aSurvey))
            }
            def withFit(df: DataFrame, i: Int): DataFrame = df
              .withColumn(s"t_fit_$i",
                when(col("trt") === 1, col("t")).otherwise(col(s"t_imp_$i")))
              .withColumn(s"d_fit_$i",
                when(col("trt") === 1, col("d")).otherwise(col(s"d_tilde_$i")))
            // survey rows carry the imputed outcome; cohort rows the truth
            Pin(blended(blendBase), SizeHint.Auto) { (com, _) =>
              val methods = (1 to cfg.errorScenarios.length).flatMap { i =>
                val comI = withFit(com, i)
                Seq(
                  (s"calib.d$i", CalibEst.run(comI, s"t_tilde_$i", s"d_tilde_$i",
                    "halfwt", col("wt"), popN, popN1, xCols, cfg.tStar, popLambda)),
                  (s"calib_ipsw.d$i", CalibEst.run(comI, s"t_tilde_$i", s"d_tilde_$i",
                    "blend", col("blend"), popN, popN1, xCols, cfg.tStar, popLambda)),
                  (s"imp.d$i", CalibEst.run(comI, s"t_fit_$i", s"d_fit_$i",
                    "halfwt", col("wt"), popN, popN1, xCols, cfg.tStar, popLambda)),
                  (s"imp_calib_ipsw.d$i", CalibEst.run(comI, s"t_fit_$i", s"d_fit_$i",
                    "blend", col("blend"), popN, popN1, xCols, cfg.tStar, popLambda))) ++
                // informative .t twins: the blend rebuilt from the scenario's
                // OWN error-prone PS variant ipsw.i (jk_est_inf's
                // var.wt=paste0("ipsw.",i) slots, jk_fun.R:267-270)
                (if (!cfg.informative) Nil
                 else {
                   val comT = withFit(blended(ipswVariants(i)._2), i)
                   Seq(
                     (s"calib_ipsw_t.d$i", CalibEst.run(comT, s"t_tilde_$i",
                       s"d_tilde_$i", "blend", col("blend"), popN, popN1, xCols,
                       cfg.tStar, popLambda)),
                     (s"imp_calib_ipsw_t.d$i", CalibEst.run(comT, s"t_fit_$i",
                       s"d_fit_$i", "blend", col("blend"), popN, popN1, xCols,
                       cfg.tStar, popLambda)))
                 })
              }
              methods.flatMap { case (m, b) => rows(m, b) }
            }
          }
          baseRows ++ calibRows
        }
        results.toDF("simu_id", "method", "param", "value")
      }
    }
  }
}
