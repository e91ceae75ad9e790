package graft.hazard

import graft.core.Windows
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/** Discrete hazard λ(u) and attributable-risk ar(u) estimands
  * (SURVEY.md M9) — the reference's `lambda.ar_w`
  * (taylor_deviate.R:746-883):
  *
  *   λ(u)  = N(u)/Z(u),   ar(u) = 1 − Y(u)/Z(u)
  *
  * over the event rows (N > 0) of the RiskSet step table.
  */
object DiscreteHazard {

  /** Step table (t, N, Z, Y, lambda, ar) at event times (N>0).
    * `sizeHint` describes the tie-collapsed table (distinct times). */
  def steps(df: DataFrame, time: Column, event: Column, weight: Column,
      relHzd: Column,
      sizeHint: Windows.SizeHint = Windows.SizeHint.Auto): DataFrame =
    RiskSet.steps(df, time, event, weight, relHzd, sizeHint = sizeHint)
      .filter(col("N") > 0.0)
      .select(col("t"), col("N"), col("Z"), col("Y"),
        (col("N") / col("Z")).as("lambda"),
        (lit(1.0) - col("Y") / col("Z")).as("ar"))

  /** Prefix-cumulated hazard Λ(t) over the step table (M10, `Lambda_w`
    * taylor_deviate.R:885-900). */
  def cumulative(steps: DataFrame,
      sizeHint: Windows.SizeHint = Windows.SizeHint.Auto): DataFrame =
    Windows.scan(steps, Seq(col("t")), Seq(col("lambda") -> "cum_hzd"),
      sizeHint = sizeHint)
}
