package graft

import graft.core.FeatureArray
import graft.stats.{CoxPH, Kernels, WeightedGLM}
import graft.weights.{Greg, KernelWeights}
import org.apache.spark.sql.functions._

/** Fixture expectations computed independently with numpy IRLS/NR
  * implementations (see SURVEY.md §5 test plan; GREG 5-row example from
  * the reference's own comments, taylor_deviate.R:985-987).
  */
class StatsSpec extends SparkSpec {
  import spark.implicits._

  test("M1 weighted logistic IRLS matches independent fit") {
    val df = Seq(
      (0.5, 0.0, 1.0), (1.5, 1.0, 2.0), (-0.3, 1.0, 1.0), (2.2, 1.0, 1.0),
      (0.9, 0.0, 3.0), (-1.1, 0.0, 1.0), (0.2, 0.0, 2.0), (1.8, 1.0, 1.0),
      (-0.6, 0.0, 1.0), (1.0, 1.0, 2.0)
    ).toDF("x", "y", "w")
    val fit = WeightedGLM.logistic(df,
      FeatureArray.withIntercept(Seq(col("x"))), col("y"), col("w"), p = 2)
    assert(fit.converged)
    assertSeqNear(fit.coefficients.toSeq, Seq(-1.7102412411114054, 1.9997549573042483))
  }

  test("M3 weighted least squares matches normal equations") {
    val df = Seq(
      (0.5, 1.0, 1.0), (1.5, 2.0, 2.0), (-0.3, 1.5, 1.0), (2.2, 3.2, 1.0),
      (0.9, 2.8, 3.0), (-1.1, 0.5, 1.0), (0.2, 1.1, 2.0), (1.8, 2.9, 1.0),
      (-0.6, 0.9, 1.0), (1.0, 2.2, 2.0)
    ).toDF("x", "y", "w")
    val fit = WeightedGLM.wls(df,
      FeatureArray.withIntercept(Seq(col("x"))), col("y"), col("w"), p = 2)
    assertSeqNear(fit.coefficients.toSeq, Seq(1.3729610750695087, 0.7929796107506952))
  }

  test("M2 weighted Cox (Breslow ties) matches independent NR fit") {
    val df = Seq(
      (1.0, 1.0, 1.0, 0.5), (1.0, 1.0, 2.0, -0.2), (2.0, 1.0, 1.0, 1.0),
      (2.0, 0.0, 1.0, 0.3), (3.0, 1.0, 1.5, -0.5), (4.0, 0.0, 1.0, 0.8),
      (5.0, 1.0, 1.0, 1.2), (6.0, 0.0, 2.0, -1.0)
    ).toDF("t", "d", "w", "x")
    val fit = CoxPH.fit(df, col("t"), col("d"), col("w"), Seq(col("x")))
    assert(fit.converged)
    assertNear(fit.coefficients(0), 0.3694441908824084)
    // reference's own diagnostic: score equation ≈ 0 at the fit
    // (taylor_deviate.R:1125-1198)
    val (u, _) = CoxPH.scoreAndInfo(df, col("t"), col("d"), col("w"),
      Seq(col("x")), fit.coefficients)
    assert(math.abs(u(0)) < 1e-8)
  }

  test("M2 U2 tie-expanded per-subject score residual ≈ 0 at the fit") {
    // heavier ties than the M2 fixture: only three distinct event
    // times, several subjects per time (taylor_deviate.R:1167-1198's
    // H_uniq re-expansion path is exercised on every row)
    val df = Seq(
      (1.0, 1.0, 1.0, 0.5), (1.0, 1.0, 2.0, -0.2), (1.0, 0.0, 1.0, 0.9),
      (2.0, 1.0, 1.0, 1.0), (2.0, 1.0, 1.0, 0.3), (2.0, 0.0, 1.5, -0.5),
      (3.0, 1.0, 1.0, 0.8), (3.0, 1.0, 1.0, 1.2), (3.0, 0.0, 2.0, -1.0)
    ).toDF("t", "d", "w", "x")
    val fit = CoxPH.fit(df, col("t"), col("d"), col("w"), Seq(col("x")))
    assert(fit.converged)
    val beta = fit.coefficients(0)
    // per-subject residual form: suffix risk-set sums on the
    // tie-collapsed step table, joined back to every subject
    val we = col("w") * exp(lit(beta) * col("x"))
    val g = df.groupBy(col("t")).agg(sum(we).as("s0g"),
      sum(we * col("x")).as("s1g"))
    val h = graft.core.Windows.suffixSum(g, col("t"),
      Seq(col("s0g") -> "s0", col("s1g") -> "s1"))
    val u2 = df.join(h.select(col("t"), col("s0"), col("s1")), Seq("t"))
      .agg(sum(col("d") * col("w") * (col("x") - col("s1") / col("s0"))))
      .head().getDouble(0)
    assert(math.abs(u2) < 1e-8, s"tie-expanded U2 not ~0: $u2")
  }

  test("M8 Breslow cumulative baseline hazard steps") {
    val df = Seq(
      (1.0, 1.0, 1.0, 0.5), (1.0, 1.0, 2.0, -0.2), (2.0, 1.0, 1.0, 1.0),
      (2.0, 0.0, 1.0, 0.3), (3.0, 1.0, 1.5, -0.5), (4.0, 0.0, 1.0, 0.8),
      (5.0, 1.0, 1.0, 1.2), (6.0, 0.0, 2.0, -1.0)
    ).toDF("t", "d", "w", "x")
    val beta = 0.3694441908824084
    val steps = graft.hazard.Breslow.cumulativeHazardSteps(df,
        col("t"), col("d"), col("w"), exp(col("x") * lit(beta)))
      .orderBy("t").collect().map(r => (r.getDouble(0), r.getDouble(2)))
    assertSeqNear(steps.map(_._1).toSeq, Seq(1.0, 2.0, 3.0, 5.0))
    assertSeqNear(steps.map(_._2).toSeq,
      Seq(0.268923811646, 0.39245469044, 0.663653232829, 1.003774504871), 1e-9)
  }

  test("M7 GREG calibration reproduces the reference 5-row example") {
    val df = Seq(
      (1.0, 5.0, 5.0), (2.0, 2.0, 4.0), (3.0, 7.0, 3.0), (4.0, 3.0, 2.0), (5.0, 1.0, 1.0)
    ).toDF("x1", "x2", "wt0")
    val feats = FeatureArray.withIntercept(Seq(col("x1"), col("x2")))
    val cal = Greg.solve(df, feats, col("wt0"), Array(16.0, 60.0, 69.0))
    assertSeqNear(cal.lambda.toSeq,
      Seq(-3.3775362318840587, 1.0656314699792966, 0.2355072463768115))
    val f = df.withColumn("f", Greg.factor(feats, cal)).orderBy("x1")
      .select("f").as[Double].collect().toSeq
    assertSeqNear(f, Seq(-0.1343685300207045, 0.2247412008281575,
      2.4679089026915113, 2.591511387163562, 3.1861283643892353))
    // calibration constraint holds exactly on the raw product f·w
    // (pre-clip: the reference only clips negatives at the consumer)
    val cald = df.withColumn("greg_wt",
      col("wt0") * Greg.factor(feats, cal))
    val tot = cald.agg(
      sum(col("greg_wt")), sum(col("greg_wt") * col("x1")), sum(col("greg_wt") * col("x2"))
    ).head()
    assertNear(tot.getDouble(0), 16.0, 1e-9)
    assertNear(tot.getDouble(1), 60.0, 1e-9)
    assertNear(tot.getDouble(2), 69.0, 1e-9)
  }

  test("M5 kernel weights: 2 survey × 3 cohort fixture, Σkw = Σwt") {
    val survey = Seq((1L, 0.0, 2.0), (2L, 1.0, 3.0)).toDF("id", "q", "wt")
    val cohort = Seq((10L, 0.0), (11L, 0.5), (12L, 1.0)).toDF("id", "q")
    val kw = KernelWeights.compute(
      survey, col("q"), col("wt"),
      cohort, col("id"), col("q"),
      h = 1.0, kernel = Kernels.gaussian)
      .orderBy("c_id").collect().map(_.getDouble(1)).toSeq
    assertSeqNear(kw, Seq(1.5345719898789056, 1.7727744681342572, 1.6926535419868372))
    assertNear(kw.sum, 5.0, 1e-9)
  }

  test("M5 band join path matches dense path for compact-support kernel") {
    // survey id=4 sits at q=10: no cohort within ±1 bucket, so the band
    // join yields NO pairs for it — its wt must still enter the flat
    // zero-row rescue exactly as on the dense path (where its kernel row
    // is all zeros), conserving total pseudo-weight mass.
    val survey = Seq((1L, 0.0, 2.0), (2L, 1.0, 3.0), (3L, 2.5, 1.0),
      (4L, 10.0, 5.0)).toDF("id", "q", "wt")
    val cohort = Seq((10L, 0.0), (11L, 0.5), (12L, 1.0), (13L, 3.1)).toDF("id", "q")
    def run(band: Boolean) = KernelWeights.compute(
      survey, col("q"), col("wt"),
      cohort, col("id"), col("q"),
      h = 1.0, kernel = Kernels.triangular, bandJoin = band)
      .orderBy("c_id").collect().map(_.getDouble(1)).toSeq
    val dense = run(false); val band = run(true)
    assertSeqNear(dense, band, 1e-12)
    assertNear(dense.sum, 2.0 + 3.0 + 1.0 + 5.0, 1e-9) // Σkw = Σwt
  }

  test("M5 distributed row-sums path (large survey side) matches the collect path") {
    // above graft.kw.rowSumsCollectThreshold the row sums must stay
    // distributed (shuffle join back) instead of a driver collect; force
    // the fallback with threshold 0 and check it is value-identical,
    // including the zero-row flat rescue (id=3 at q=100 has kernel row
    // ≈ 0 under the triangular kernel)
    val survey = Seq((1L, 0.0, 2.0), (2L, 1.0, 3.0), (3L, 100.0, 4.0))
      .toDF("id", "q", "wt")
    val cohort = Seq((10L, 0.0), (11L, 0.5), (12L, 1.0)).toDF("id", "q")
    def run() = KernelWeights.compute(
      survey, col("q"), col("wt"),
      cohort, col("id"), col("q"),
      h = 1.0, kernel = Kernels.triangular)
      .orderBy("c_id").collect().map(_.getDouble(1)).toSeq
    val viaCollect = run()
    spark.conf.set("graft.kw.rowSumsCollectThreshold", "0")
    try {
      val viaJoin = run()
      assertSeqNear(viaCollect, viaJoin, 1e-12)
      assertNear(viaJoin.sum, 2.0 + 3.0 + 4.0, 1e-9) // Σkw = Σwt incl. rescue
    } finally spark.conf.unset("graft.kw.rowSumsCollectThreshold")
  }

  test("A8 jacobian distributed row-sums path matches the collect path") {
    // continuous scores make |survey profiles| = n_s, so at scale the
    // jacobian's row-sum collect takes the same guarded fallback as
    // compute(); threshold 0 forces it and values must be identical
    val survey = Seq((101L, 0.1, 2.0), (102L, 0.6, 3.0), (103L, 8.0, 1.5))
      .toDF("id", "q", "wt")
    val cohort = Seq((1L, 0.2), (2L, 0.4), (3L, 0.7), (4L, 0.9))
      .toDF("id", "q")
    def run() = KernelWeights.attachJacobian(
      survey, col("q"), col("wt"),
      cohort, col("q"),
      h = 0.5, sFeatures = Seq(col("q")), cFeatures = Seq(col("q")),
      kernel = Kernels.triangular, kernelDeriv =
        u => when(abs(u) < 1.0, -signum(u) / 2).otherwise(0.0))
      .select(col("id").as("c_id"), col("kw"), col("d_kw_0"))
      .orderBy("c_id").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2))).toSeq
    val viaCollect = run()
    spark.conf.set("graft.kw.rowSumsCollectThreshold", "0")
    try {
      val viaJoin = run()
      viaCollect.zip(viaJoin).foreach { case ((i1, k1, d1), (i2, k2, d2)) =>
        assert(i1 == i2); assertNear(k1, k2, 1e-12); assertNear(d1, d2, 1e-12)
      }
      // survey id=103 at q=8 matches nothing → flat rescue mass present
      assertNear(viaJoin.map(_._2).sum, 2.0 + 3.0 + 1.5, 1e-9)
    } finally spark.conf.unset("graft.kw.rowSumsCollectThreshold")
  }

  test("M5 rm.s=T drops unmatched survey units (mass leaves, no flat spread)") {
    // id=3 at q=100 matches nothing under the triangular kernel: with
    // rm.s=T (simu_fun.R:172-183) its wt=4 disappears instead of being
    // spread flat, so Σkw drops from 9 to 5 and every cohort weight is
    // exactly the rm.s=F value minus the flat share 4/3
    val survey = Seq((1L, 0.0, 2.0), (2L, 1.0, 3.0), (3L, 100.0, 4.0))
      .toDF("id", "q", "wt")
    val cohort = Seq((10L, 0.0), (11L, 0.5), (12L, 1.0)).toDF("id", "q")
    def run(rms: Boolean) = KernelWeights.compute(
      survey, col("q"), col("wt"),
      cohort, col("id"), col("q"),
      h = 1.0, kernel = Kernels.triangular, removeUnmatched = rms)
      .orderBy("c_id").collect().map(_.getDouble(1)).toSeq
    val keep = run(false); val drop = run(true)
    assertNear(drop.sum, 2.0 + 3.0, 1e-9)
    assertSeqNear(drop, keep.map(_ - 4.0 / 3.0), 1e-12)
  }

  test("M14 groupEqual assigns exactly-equal-size jackknife groups") {
    val df = (1L to 101L).toDF("id")
    val m = 10
    val g = graft.variance.Jackknife.groupEqual(df, col("id"), m, salt = 3L)
    val sizes = g.groupBy(col("jk_g")).count()
      .collect().map(r => (r.getInt(0), r.getLong(1))).toMap
    assert(sizes.keySet == (0 until m).toSet)
    // 101 rows over 10 groups: sizes 10 or 11, never more than 1 apart
    assert(sizes.values.max - sizes.values.min <= 1)
    // deterministic under the same salt
    val g2 = graft.variance.Jackknife.groupEqual(df, col("id"), m, salt = 3L)
      .orderBy("id").collect().map(_.getInt(1)).toSeq
    val g1 = g.orderBy("id").collect().map(_.getInt(1)).toSeq
    assert(g1 == g2)
  }

  test("Resample: bootstrap multipliers ~Poisson(1), stratified n exact, splits deterministic") {
    val df = (1L to 4000L).toDF("id")
      .withColumn("stratum", (col("id") % 4).cast("int"))
    // Poisson(1): mean ≈ 1, var ≈ 1 over units × replicates
    val boot = graft.sampling.Resample.bootstrapReplicates(
      df.withColumn("w", lit(1.0)), col("id"), col("w"), b = 5)
    val stats = boot.agg(avg("boot_wt"), var_samp("boot_wt")).head()
    assert(math.abs(stats.getDouble(0) - 1.0) < 0.05, s"mean=${stats.getDouble(0)}")
    assert(math.abs(stats.getDouble(1) - 1.0) < 0.1, s"var=${stats.getDouble(1)}")
    // stratified: exactly n per stratum, deterministic under same salt
    val s1 = graft.sampling.Resample.stratifiedFixed(df, col("stratum"),
      col("id"), n = 25, salt = 5L)
    val sizes = s1.groupBy("stratum").count().collect().map(_.getLong(1))
    assert(sizes.length == 4 && sizes.forall(_ == 25L), sizes.mkString(","))
    val ids1 = s1.orderBy("id").collect().map(_.getLong(0)).toSeq
    val ids2 = graft.sampling.Resample.stratifiedFixed(df, col("stratum"),
      col("id"), n = 25, salt = 5L).orderBy("id").collect().map(_.getLong(0)).toSeq
    assert(ids1 == ids2, "stratified draw must be deterministic")
    // splits: ~80/10/10 and total preserved
    val sp = df.withColumn("s", graft.sampling.Resample.assignSplit(col("id"),
        Seq("train" -> 0.8, "valid" -> 0.1, "test" -> 0.1)))
      .groupBy("s").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(sp.values.sum == 4000L)
    assert(math.abs(sp("train") - 3200.0) < 150, sp.toString)
    assert(math.abs(sp("valid") - 400.0) < 80, sp.toString)
  }

  test("M18 raking converges both margins to their targets") {
    val df = Seq(
      ("a", "x", 1.0), ("a", "x", 2.0), ("a", "y", 1.0),
      ("b", "x", 3.0), ("b", "y", 2.0), ("b", "y", 1.0),
      ("c", "x", 1.0), ("c", "y", 4.0)
    ).toDF("r", "s", "w")
    val tr = Seq(("a", 6.0), ("b", 5.0), ("c", 4.0)).toDF("r", "t")
    val ts = Seq(("x", 9.0), ("y", 6.0)).toDF("s", "t")
    val raked = graft.weights.Raking.rake(df, col("w"),
      Seq(col("r") -> tr, col("s") -> ts), sweeps = 30).persist()
    val rm = raked.groupBy("r").agg(sum("rake_wt").as("m"))
      .collect().map(x => x.getString(0) -> x.getDouble(1)).toMap
    val sm = raked.groupBy("s").agg(sum("rake_wt").as("m"))
      .collect().map(x => x.getString(0) -> x.getDouble(1)).toMap
    assertNear(rm("a"), 6.0, 1e-6); assertNear(rm("b"), 5.0, 1e-6)
    assertNear(rm("c"), 4.0, 1e-6)
    assertNear(sm("x"), 9.0, 1e-6); assertNear(sm("y"), 6.0, 1e-6)
    raked.unpersist(blocking = false)
  }

  test("weighted quantiles: closed form, ties, and left-continuity") {
    // group g: values 1..4 with weights 1,1,2,4 (W=8):
    //   cum(1)=1, cum(2)=2, cum(3)=4, cum(4)=8
    //   q_1/4 → first cum ≥ 2 → x=2; q_1/2 → first cum ≥ 4 → x=3
    //   q_3/4 → first cum ≥ 6 → x=4
    // group h: a tied value whose SPLIT weights must pre-aggregate:
    //   x=5 carries 1+1, x=7 carries 2 (W=4): q_1/2 → cum(5)=2 ≥ 2 → 5
    val df = Seq(
      ("g", 1.0, 1L), ("g", 2.0, 1L), ("g", 3.0, 2L), ("g", 4.0, 4L),
      ("h", 5.0, 1L), ("h", 5.0, 1L), ("h", 7.0, 2L)
    ).toDF("grp", "x", "w")
    val r = graft.stats.WeightedQuantile.weightedQuantiles(df, col("grp"),
        col("x"), col("w"), Seq((1, 4), (1, 2), (3, 4)))
      .collect()
      .map(x => x.getString(0) ->
        (x.getLong(1), x.getDouble(2), x.getDouble(3), x.getDouble(4))).toMap
    assert(r("g") == ((8L, 2.0, 3.0, 4.0)))
    assert(r("h") == ((4L, 5.0, 5.0, 7.0)))
  }

  test("exact Pearson matrix: ±1 on linear columns, closed form otherwise") {
    // y = 2x + 3 (corr +1), z = -x (corr -1), u = (1,2,2,1) vs x=(1,2,3,4):
    //   n=4 Σx=10 Σu=6 Σxu=15 Σx²=30 Σu²=10 → corr = 0/... = 0
    val df = Seq((1L, 5L, -1L, 1L), (2L, 7L, -2L, 2L),
      (3L, 9L, -3L, 2L), (4L, 11L, -4L, 1L)).toDF("x", "y", "z", "u")
    val r = graft.stats.ExactCorr.pearsonMatrix(df, Seq(
        "x" -> col("x"), "y" -> col("y"), "z" -> col("z"), "u" -> col("u")))
      .collect().map(w => (w.getString(0), w.getString(1)) -> w.getDouble(2))
      .toMap
    assertNear(r(("x", "y")), 1.0, 1e-12)
    assertNear(r(("x", "z")), -1.0, 1e-12)
    assertNear(r(("y", "z")), -1.0, 1e-12)
    assertNear(r(("x", "u")), 0.0, 1e-12)
    assert(r.size == 6)
  }
}
