package graft

import graft.core.{FeatureArray, Windows}
import graft.pipeline.{SurveyIntegration, TaylorInference}
import graft.sampling.{Population, Pps}
import graft.weights.Greg
import org.apache.spark.GraftTestBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The Monte-Carlo replicate's driver path: a replicate's plans carry no
  * data-dependent literal, so a second replicate (new PPS salts, new
  * fitted coefficients) reuses every generated class; and an `Auto`
  * chain pays no size probe of its own: the Cox fit's one fetch of its
  * Small input sizes it, as it does under `Small`. */
class CompileOnceSpec extends SparkSpec {

  private lazy val pop = {
    val p = Population.generate(spark, 4000).persist()
    p.count()
    p
  }
  private val xs = Seq("x1", "x2", "x3")
  private val tStar = Seq(5.0, 10.0, 15.0)
  private val a = 60.0 / 4000

  private def draw(k: Long): (DataFrame, DataFrame) = {
    val c = Pps.draw(pop.withColumn("msize", exp(col("x1") * -0.15 + col("x2") * 0.1)),
      col("id"), col("msize"), 120, 1000L + k).drop("msize").persist()
    val s = Pps.draw(pop.withColumn("msize", exp(col("x1") * 0.07 + col("x2") * 0.07)),
      col("id"), col("msize"), 60, 2000L + k).drop("msize").persist()
    c.count(); s.count()
    (c, s)
  }

  private def chain(c: DataFrame, s: DataFrame, hint: Windows.SizeHint) =
    TaylorInference.ipswChain(c.drop("wt"), s, col("wt"), col("t"), col("d"),
      xs, Seq("x1", "x2"), tStar, a = a, sizeHint = hint, psIters = 3, coxIters = 3)

  private def compiles =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  test("a second replicate with new salts compiles no new code") {
    val totals = {
      val r = pop.agg(count(lit(1)).cast("double"), sum("x1"), sum("x2"), sum("x3")).head()
      Array(r.getDouble(0), r.getDouble(1), r.getDouble(2), r.getDouble(3))
    }
    def replicate(k: Long): Unit = {
      val (c, s) = draw(k)
      chain(c, s, Windows.SizeHint.Auto)
      val com = SurveyIntegration.stack(c, s, col("wt"))
        .withColumn("halfwt", col("wt") / 2.0)
      Greg.calibrate(com, FeatureArray.withIntercept(xs.map(col)), col("halfwt"), totals)
        .agg(sum("greg_wt")).head()
      c.unpersist(); s.unpersist()
    }
    replicate(1)
    val before = compiles
    replicate(2)
    val added = compiles - before
    assert(added == 0, s"$added new compiles in the second replicate")
  }

  test("an Auto chain runs one job more than the same chain with Small") {
    val (c, s) = draw(3)
    var jobs = 0
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs += 1
    }
    def jobsOf(hint: Windows.SizeHint): (Int, TaylorInference.IpswInference) = {
      GraftTestBridge.drain(spark.sparkContext)
      jobs = 0
      val inf = chain(c, s, hint)
      GraftTestBridge.drain(spark.sparkContext)
      (jobs, inf)
    }
    spark.sparkContext.addSparkListener(listener)
    val ((small, smallInf), (auto, autoInf)) =
      try (jobsOf(Windows.SizeHint.Small), jobsOf(Windows.SizeHint.Auto))
      finally {
        spark.sparkContext.removeSparkListener(listener)
        c.unpersist(); s.unpersist()
      }
    // the Cox fit's fetch of the Small cohort sizes the fit under either
    // hint, so Auto adds no probe job and the two chains run the same jobs
    assert(auto == small, s"Auto chain ran $auto jobs, Small chain $small")
    // the inherited Small plans are the declared ones: same numbers
    assert(autoInf.beta.toSeq == smallInf.beta.toSeq)
    assert(autoInf.lambda == smallInf.lambda)
  }
}
