package graft.hazard

import graft.core.{AsOf, Windows}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/** Gail attributable-risk cumulative hazard (SURVEY.md M11) — the
  * reference's `LambdaG_w` / `gail_h`
  * (taylor_deviate.R:903-929,1067-1123):
  *
  *   ΛG(t*) = Σ_{u <= t*} λ*(u) · (1 − ar(u))
  *
  * where λ*(u) is a population reference hazard step function and ar(u)
  * the sample attributable risk. The two step functions live on
  * different time grids: full-outer-join on t, LOCF both series (the
  * reference's merge + `rep(ar[cmp_t_indx], rep_time)` gap fill), then
  * prefix-cumsum of the product and an as-of lookup at t*.
  */
object GailHazard {

  /** @param lambdaStar (t, lambda_star) population hazard steps
    * @param ar         (t, ar) sample attributable-risk steps
    */
  /** Both inputs are step tables (population grid ∪ event times), so
    * `sizeHint = Small` is almost always right — it turns the LOCF and
    * the prefix scan into plain single-window jobs with no probes. */
  def cumulativeSteps(lambdaStar: DataFrame, ar: DataFrame,
      sizeHint: Windows.SizeHint = Windows.SizeHint.Auto): DataFrame = {
    val l = lambdaStar.select(col(lambdaStar.columns.head).cast("double").as("t"),
      col(lambdaStar.columns(1)).cast("double").as("lambda_star"))
    val a = ar.select(col(ar.columns.head).cast("double").as("t"),
      col(ar.columns(1)).cast("double").as("ar"))
    // λ* is a POINT MASS at its own grid times; flag them before LOCF so
    // ar-only rows never double-count a carried-forward λ*.
    val joined = l.join(a, Seq("t"), "full_outer")
      .withColumn("is_step", col("lambda_star").isNotNull)
    // one probe sizes both scans: the prefix scan runs over the LOCF's
    // own rows
    val size = Windows.resolve(joined, sizeHint)
    val filled = AsOf.locfPartitioned(joined, col("t"),
        Seq("lambda_star", "ar"), sizeHint = size)
      .na.fill(Map("ar" -> 0.0))
    val masses = filled.withColumn("g",
      when(col("is_step"), col("lambda_star") * (lit(1.0) - col("ar")))
        .otherwise(lit(0.0)))
    Windows.scan(masses, Seq(col("t")), Seq(col("g") -> "cum_gail"),
        sizeHint = size)
      .select(col("t"), col("cum_gail"))
  }

  def at(lambdaStar: DataFrame, ar: DataFrame, tStar: Seq[Double],
      sizeHint: Windows.SizeHint = Windows.SizeHint.Auto): DataFrame =
    AsOf.lookup(cumulativeSteps(lambdaStar, ar, sizeHint), col("t"),
        col("cum_gail"), tStar)
      .withColumnRenamed("value", "cum_gail")

  /** Population reference hazard λ*, optionally interval-binned to a t*
    * grid — the reference's `lambda_star.pop`
    * (taylor_deviate.R:1200-1242): per unique event time u,
    * λ(u) = N(u)/Y(u) with tie-summed event weights and the full risk
    * set; with a grid, events aggregate per interval (0,t₁],(t₁,t₂],…
    * and the interval rate is Σ N over the interval divided by the risk
    * set at the interval's LAST event time (the reference's keep-last
    * dedup, `!rev(duplicated(rev(t_int)))`). N and Y come from the
    * RiskSet table at rh = 1.
    */
  def lambdaStarPop(pop: DataFrame, time: Column, event: Column, weight: Column,
      tStarGrid: Seq[Double] = Nil,
      sizeHint: Windows.SizeHint = Windows.SizeHint.Auto): DataFrame = {
    val steps = RiskSet.steps(pop, time, event, weight, lit(1.0),
        sizeHint = sizeHint)
      .filter(col("N") > 0.0)
    if (tStarGrid.isEmpty)
      steps.select(col("t"), (col("N") / col("Y")).as("lambda_star"),
        col("N").as("event_set"), col("Y").as("risk_set"))
    else {
      val grid = tStarGrid.sorted
      // bin index = number of grid points strictly below t ((t_k, t_k+1])
      val bin = grid.map(g => when(col("t") > g, 1).otherwise(0))
        .reduce(_ + _)
      steps.withColumn("__bin", bin)
        .groupBy(col("__bin"))
        .agg(max(col("t")).as("t"),
          sum(col("N")).as("event_set"),
          max_by(col("Y"), col("t")).as("risk_set"))
        .select(col("t"), (col("event_set") / col("risk_set")).as("lambda_star"),
          col("event_set"), col("risk_set"))
        .orderBy(col("t"))
    }
  }
}
