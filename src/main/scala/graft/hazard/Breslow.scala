package graft.hazard

import graft.core.{AsOf, Windows}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/** Breslow cumulative baseline hazard (SURVEY.md M8) — the reference's
  * `cum_bsln_hzd` (taylor_deviate.R:1023-1055).
  *
  *   Λ0(t*) = Σ_{event times u <= t*}  N(u) / S0(u)
  *
  * Breslow's S0 is the RiskSet total Z, so N/S0 is DiscreteHazard's λ
  * and Λ0 is its prefix cumsum: RiskSet tie-collapse + suffix scan →
  * prefix scan of λ over event times → as-of lookup at the t* grid. No
  * single-partition stage unless `sizeHint` is Small.
  */
object Breslow {

  /** Step table of (t, lambda, cum_hzd) at event times. `relHzd` is
    * e^{x'β} (lit(1.0) for the null model). `sizeHint` describes the
    * TIE-COLLAPSED table (distinct event times) — pass Small when the
    * time domain is known coarse (discrete grids, binned ages) to
    * collapse the whole chain into single-window jobs with no probes. */
  def cumulativeHazardSteps(
      df: DataFrame, time: Column, event: Column, weight: Column,
      relHzd: Column,
      sizeHint: Windows.SizeHint = Windows.SizeHint.Auto): DataFrame =
    DiscreteHazard.cumulative(
        DiscreteHazard.steps(df, time, event, weight, relHzd, sizeHint),
        sizeHint)
      .select(col("t"), col("lambda"), col("cum_hzd"))

  /** Λ0 evaluated at the probe grid (reference t* = 1..15,
    * calib_simu_noninf0315.R:122). */
  def cumulativeHazardAt(
      df: DataFrame, time: Column, event: Column, weight: Column,
      relHzd: Column, tStar: Seq[Double],
      sizeHint: Windows.SizeHint = Windows.SizeHint.Auto): DataFrame = {
    val steps = cumulativeHazardSteps(df, time, event, weight, relHzd, sizeHint)
    AsOf.lookup(steps, col("t"), col("cum_hzd"), tStar)
      .withColumnRenamed("value", "cum_hzd")
  }
}
