package graft

import graft.functions.Coef
import graft.stats.{CoxPH, CoxPHReplicated, GLMReplicated, WeightedGLM}
import graft.weights.BoundedCalib
import org.apache.spark.sql.functions._

/** The shared Newton driver's contract: coefficients enter a pass as a
  * snapshot, the input cache is released on every path, replicated fits
  * reject replicate ids they cannot index, and bounded calibration —
  * the fitter with its own 2×2 step — lands on its targets. */
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
    val inputs = (1 to 3).map { seed =>
      spark.range(300).select((rand(seed) * 2 - 1).as("x"),
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
    val df = sample
    intercept[Exception] {
      WeightedGLM.logistic(df, array(col("x"), col("x")), col("trt"), col("w"), p = 2)
    }
    assert(spark.sharedState.cacheManager.isEmpty)
    intercept[Exception] {
      CoxPH.fit(df, col("t"), col("d"), col("w"), Seq(col("x"), col("x")))
    }
    assert(spark.sharedState.cacheManager.isEmpty)
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
