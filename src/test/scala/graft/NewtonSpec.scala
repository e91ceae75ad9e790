package graft

import graft.core.Windows
import graft.functions.Coef
import graft.stats.{CoxPH, CoxPHReplicated, GLMReplicated, Newton, WeightedGLM}
import graft.weights.BoundedCalib
import org.apache.spark.GraftTestBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The shared Newton driver's contract: coefficients enter a pass as a
  * snapshot, the input cache is released on every path, a singular
  * solve or a non-finite β fails by fitter and iteration on the local
  * and the distributed path alike, a separated fit reports itself
  * unconverged, the two paths reach the same fit, replicated fits
  * reject replicate ids they cannot index, and bounded calibration
  * — the fitter with its own 2×2 step — lands on its targets. */
class NewtonSpec extends SparkSpec {
  import spark.implicits._

  private def messages(t: Throwable): String =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
      .map(e => String.valueOf(e.getMessage)).mkString("\n")

  private def sample = (1 to 120).map { i =>
    val x = ((i * 37) % 101) / 50.0
    (i.toLong, (i % 17).toDouble + 1.0, if (i % 3 == 0) 0.0 else 1.0,
      if ((i * 7) % 5 < 2) 1.0 else 0.0, x, 1.0 + i % 3)
  }.toDF("id", "t", "d", "trt", "x", "w")

  /** `df` with Windows.SmallRows + 1 rows of zeros, weight included,
    * appended: the same weighted sums, and a fit on it runs the
    * distributed path. */
  private def padded(df: DataFrame): DataFrame =
    df.unionByName(spark.range(Windows.SmallRows + 1).select(
      df.schema.fields.map(f => lit(0).cast(f.dataType).as(f.name)).toIndexedSeq: _*))

  private def assertRel(got: Seq[Double], want: Seq[Double], tol: Double): Unit = {
    assert(got.length == want.length)
    got.zip(want).foreach { case (g, w) =>
      assert(math.abs(g - w) <= tol * math.abs(w), s"got $g, want $w (relative tol $tol)")
    }
  }

  test("Coef columns read the values captured when they were built") {
    val beta = Array(1.0, 2.0)
    val at = Coef.at(beta, 1)
    val arr = Coef.array(beta)
    beta(1) = 99.0
    val r = spark.range(1).select(at, arr).head()
    assert(r.getDouble(0) == 2.0)
    assert(r.getSeq[Double](1) == Seq(1.0, 2.0))
  }

  test("an IRLS refit of the same shape compiles no new code") {
    // β snapshots differ every iteration; their hash must not, or the
    // generated code is reordered and recompiled (see CoefAt.hashCode)
    // more than Windows.SmallRows rows: the distributed pass, whose
    // aggregate is the generated code under test
    val inputs = (1 to 3).map { seed =>
      spark.range(Windows.SmallRows + 1).select((rand(seed) * 2 - 1).as("x"),
          (lit(1.0) + rand(seed + 1)).as("w"))
        .withColumn("y", when(rand(seed + 2) < lit(0.5) + col("x") * 0.3, 1.0)
          .otherwise(0.0))
        .persist()
    }
    inputs.foreach(_.count())
    def fit(df: org.apache.spark.sql.DataFrame): Unit =
      WeightedGLM.logistic(df, array(lit(1.0), col("x")), col("y"), col("w"),
        p = 2, maxIter = 4, tol = 0.0)
    def compiles =
      org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    fit(inputs(0))
    val before = compiles
    inputs.tail.foreach(fit)
    val added = compiles - before
    inputs.foreach(_.unpersist())
    assert(added == 0, s"$added new compiles")
  }

  test("a singular solve throws and leaves no cached input behind") {
    spark.catalog.clearCache()
    // the sample on the local path, padded on the distributed one
    for (df <- Seq(sample, padded(sample))) {
      val glm = intercept[Newton.NumericalError] {
        WeightedGLM.logistic(df, array(col("x"), col("x")), col("trt"), col("w"), p = 2)
      }
      assert(glm.getMessage == "IRLS: singular information matrix at iteration 1")
      assert(spark.sharedState.cacheManager.isEmpty)
    }
    for (hint <- Seq(Windows.SizeHint.Auto, Windows.SizeHint.Large)) {
      val cox = intercept[Newton.NumericalError] {
        CoxPH.fit(sample, col("t"), col("d"), col("w"), Seq(col("x"), col("x")),
          sizeHint = hint)
      }
      assert(cox.getMessage == "CoxPH: singular information matrix at iteration 1")
      assert(spark.sharedState.cacheManager.isEmpty)
    }
  }

  test("a fit whose coefficients leave the finite doubles fails by name") {
    spark.catalog.clearCache()
    // one NaN weight: the first Gram sums, and so the first step, are NaN
    val df = sample.withColumn("w", when(col("id") === 7L, lit(Double.NaN))
      .otherwise(col("w")))
    for (input <- Seq(df, padded(df))) {
      val e = intercept[Newton.NumericalError] {
        WeightedGLM.logistic(input, array(lit(1.0), col("x")), col("trt"), col("w"), p = 2)
      }
      assert((e.fitter, e.iteration) == ("IRLS", 1))
      assert(e.getMessage == "IRLS: non-finite coefficients at iteration 1", e.getMessage)
      assert(spark.sharedState.cacheManager.isEmpty)
    }
  }

  test("a perfectly separated logistic fit runs to maxIter unconverged") {
    // y = 1{x > 0}: no finite MLE exists and every IRLS step grows |β|
    // by about 1/min|x|. With x alone the information matrix stays
    // solvable and β finite through the default maxIter, so no
    // NumericalError fires: Fit.converged is the only sign of failure.
    spark.catalog.clearCache()
    val df = (-20 to 20).filter(_ != 0)
      .map(x => (x.toDouble, if (x > 0) 1.0 else 0.0, 1.0)).toDF("x", "y", "w")
    // the 40 points on the local path, padded on the distributed one
    val iterations = Seq(df, padded(df)).map { input =>
      val fit = WeightedGLM.logistic(input, array(col("x")), col("y"), col("w"), p = 1)
      assert(fit.coefficients.forall(b => !b.isNaN && !b.isInfinite),
        fit.coefficients.mkString(", "))
      assert(!fit.converged)
      assert(fit.iterations == 50) // logistic's default maxIter
      // with an intercept, the fitted probabilities of the points nearest
      // the boundary round to 0 or 1 within the default maxIter and the
      // information matrix turns singular: that fit does fail by name
      val e = intercept[Newton.NumericalError] {
        WeightedGLM.logistic(input, array(lit(1.0), col("x")), col("y"), col("w"), p = 2)
      }
      assert(e.getMessage.startsWith("IRLS: singular information matrix"), e.getMessage)
      assert(spark.sharedState.cacheManager.isEmpty)
      e.iteration
    }
    assert(iterations.distinct.size == 1, iterations.mkString(" vs "))
  }

  test("a Cox fit of a Small input agrees with its distributed fit") {
    // Auto fetches the 120 rows and fits on the driver; Large runs the
    // distributed pass. Tied times, events and weights exercise the
    // tie-collapse, and two features the information's cross term.
    val feats = Seq(col("x"), col("trt"))
    val local = CoxPH.fit(sample, col("t"), col("d"), col("w"), feats)
    val dist = CoxPH.fit(sample, col("t"), col("d"), col("w"), feats,
      sizeHint = Windows.SizeHint.Large)
    assert(local.stepSize == Windows.SizeHint.Small)
    assert(dist.stepSize == Windows.SizeHint.Large)
    assert(local.iterations == dist.iterations && local.converged && dist.converged)
    assertRel(local.coefficients.toSeq, dist.coefficients.toSeq, 1e-12)
    assertRel(local.infoPacked.toSeq, dist.infoPacked.toSeq, 1e-12)
  }

  test("IRLS on a Small input agrees with IRLS on its repeated copy") {
    // D repeated k times at weights w/k has D's likelihood, and more than
    // Windows.SmallRows rows: the local and the distributed pass
    val k = Windows.SmallRows / 120 + 1
    val copies = sample.withColumn("copy", explode(sequence(lit(1), lit(k)))).drop("copy")
    def fit(df: DataFrame, w: Column, maxIter: Int = 50) = WeightedGLM.logistic(df,
      array(lit(1.0), col("x")), col("trt"), w, p = 2, maxIter = maxIter)
    val local = fit(sample, col("w"))
    val dist = fit(copies, col("w") / k)
    assert(local.iterations == dist.iterations && local.converged && dist.converged)
    assertRel(local.coefficients.toSeq, dist.coefficients.toSeq, 1e-10)
    assertRel(local.hessianPacked.toSeq, dist.hessianPacked.toSeq, 1e-10)
    // a null weight sends the fit to the distributed pass, whose sums
    // skip the null row
    val withNull = sample.union(sample.limit(1).withColumn("w", lit(null).cast("double")))
    assertRel(fit(withNull, col("w")).coefficients.toSeq, local.coefficients.toSeq, 1e-10)
    // the local path runs its one fetch and no job per iteration
    var jobs = 0
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs += 1
    }
    def jobsOf(maxIter: Int): Int = {
      GraftTestBridge.drain(spark.sparkContext)
      jobs = 0
      fit(sample, col("w"), maxIter)
      GraftTestBridge.drain(spark.sparkContext)
      jobs
    }
    spark.sparkContext.addSparkListener(listener)
    val (one, five) = try (jobsOf(1), jobsOf(5))
      finally spark.sparkContext.removeSparkListener(listener)
    assert(one == five, s"1 iteration ran $one jobs, 5 iterations $five")
  }

  test("a Cox fit of a Small input with no events fails by name") {
    // the fetch checks the events on the driver under Auto and Small
    // alike; a Large-hinted fit, and a null-holding input, skip it and
    // read the first pass's all-null score row on the driver
    val df = Seq((1.0, 0.0, 0.5), (2.0, 0.0, -0.3), (3.0, 0.0, 1.1)).toDF("t", "d", "x")
    val withNull = df.union(Seq[(Double, Double, Option[Double])]((4.0, 0.0, None))
      .toDF("t", "d", "x"))
    for ((in, hint) <- Seq(Windows.SizeHint.Auto, Windows.SizeHint.Small,
        Windows.SizeHint.Large).map(df -> _) ++
        Seq(Windows.SizeHint.Auto, Windows.SizeHint.Small).map(withNull -> _)) {
      val e = intercept[IllegalArgumentException] {
        CoxPH.fit(in, col("t"), col("d"), lit(1.0), Seq(col("x")), sizeHint = hint)
      }
      assert(e.getMessage.contains("CoxPH.fit: no events"), e.getMessage)
    }
  }

  test("a replicate id outside 0..m-1 fails the replicated fitters by name") {
    spark.catalog.clearCache()
    val m = 4
    for (bad <- Seq(-1, m)) {
      val df = sample.withColumn("r",
        when(col("id") === 5L, lit(bad)).otherwise((col("id") % m).cast("int")))
      val glm = intercept[Exception] {
        GLMReplicated.logistic(df, col("r"), Seq(lit(1.0), col("x")),
          col("trt"), col("w"), m, maxIter = 2)
      }
      assert(messages(glm).contains("GLMReplicated: replicate id outside 0..3"),
        messages(glm))
      val cox = intercept[Exception] {
        CoxPHReplicated.fit(df, col("r"), col("t"), col("d"), col("w"),
          Seq(col("x")), m, maxIter = 2)
      }
      assert(messages(cox).contains("CoxPHReplicated: replicate id outside 0..3"),
        messages(cox))
    }
    assert(spark.sharedState.cacheManager.isEmpty)
  }

  test("bounded calibration meets its targets with factors inside (L, U)") {
    val df = sample.select(col("x"), col("w").as("d"))
    // targets from a smooth in-range reweighting g = 1 + 0.3·(x − 1)
    val g = lit(1.0) + lit(0.3) * (col("x") - 1.0)
    val tr = df.agg(sum(col("d") * g), sum(col("d") * g * col("x"))).head()
    val targets = Array(tr.getDouble(0), tr.getDouble(1))
    val (l, u) = (0.5, 2.0)
    val xs = Seq(lit(1.0), col("x"))
    val lambda = BoundedCalib.solve(df, xs, col("d"), targets, l, u, iters = 12)
    val f = BoundedCalib.factor(xs, lambda, l, u)
    val r = df.agg(sum(col("d") * f), sum(col("d") * f * col("x")),
      min(f), max(f)).head()
    assertNear(r.getDouble(0), targets(0), 1e-10)
    assertNear(r.getDouble(1), targets(1), 1e-10)
    assert(r.getDouble(2) > l && r.getDouble(3) < u,
      s"factors span [${r.getDouble(2)}, ${r.getDouble(3)}]")
    // the closed-form 2×2 step and the general LU step reach the same λ
    val lu = BoundedCalib.newton(df, xs, col("d"), targets, l, u, iters = 12,
      cramer = false)
    assertSeqNear(lu.toSeq, lambda.toSeq, 1e-12)
  }
}
