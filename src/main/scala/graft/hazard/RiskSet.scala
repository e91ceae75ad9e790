package graft.hazard

import graft.core.Windows
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/** The weighted risk-set step table shared by the survival chain
  * (SURVEY.md M8, M9, M11, M13). The reference recomputes these totals
  * in `beta_pw.cox` (taylor_deviate.R:601-742), `lambda.ar_w` (746-883),
  * `cum_bsln_hzd` (1023-1055) and `lambda_star.pop` (1200-1242); here
  * Breslow, DiscreteHazard, GailHazard.lambdaStarPop, CoxInfluence and
  * HazardInfluence all read one table, one row per distinct time u:
  *
  *   N(u)    = Σ_i w_i d_i 1{t_i = u}
  *   Z(u)    = Σ_i w_i rh_i 1{t_i ≥ u}        (rh = e^{x'β})
  *   Y(u)    = Σ_i w_i 1{t_i ≥ u}
  *   A_j(u)  = Σ_i w_i rh_i x_ij 1{t_i ≥ u}
  *   DN_m(u) = Σ_i pg_im d_i 1{t_i = u}       (pg_m = ∂w/∂γ_m, the
  *   DZ_m(u) = Σ_i pg_im rh_i 1{t_i ≥ u}       γ-chain measures,
  *   DY_m(u) = Σ_i pg_im 1{t_i ≥ u}            taylor_deviate.R:823-834)
  *
  * One tie-collapse groupBy(t), then one multi-column descending suffix
  * scan (the reference's sort + rev-cumsum + dedup, O1+O3+O5) with no
  * single-partition stage beyond what `sizeHint` allows.
  */
object RiskSet {

  /** A step table and the hint a scan over a filter or projection of it
    * should take (`Windows.SizeHint.inherited`): `Small` when the
    * table's own scan resolved to Small, the caller's hint otherwise. */
  final case class Sized(steps: DataFrame, sizeHint: Windows.SizeHint)

  /** Step table (t, N, Z, Y, A0..A{p-1}, DN0.., DZ0.., DY0..) over every
    * distinct time, events or not. `sizeHint` describes the
    * tie-collapsed table (distinct times). */
  def steps(df: DataFrame, time: Column, event: Column, weight: Column,
      relHzd: Column, features: Seq[Column] = Nil, measures: Seq[Column] = Nil,
      sizeHint: Windows.SizeHint = Windows.SizeHint.Auto): DataFrame =
    sized(df, time, event, weight, relHzd, features, measures, sizeHint).steps

  /** [[steps]] with the size class its scan resolved to, so scans over
    * the table's event rows need no probe of their own. */
  def sized(df: DataFrame, time: Column, event: Column, weight: Column,
      relHzd: Column, features: Seq[Column] = Nil, measures: Seq[Column] = Nil,
      sizeHint: Windows.SizeHint = Windows.SizeHint.Auto): Sized = {
    val p = features.indices
    val q = measures.indices
    val base = df.select((Seq(time.cast("double").as("t"),
      event.cast("double").as("d"), weight.cast("double").as("w"),
      relHzd.cast("double").as("rh")) ++
      p.map(j => features(j).cast("double").as(s"x$j")) ++
      q.map(m => measures(m).cast("double").as(s"pg$m"))): _*)
    val isEvent = col("d") === 1.0
    val aggs = Seq(
      sum(when(isEvent, col("w")).otherwise(0.0)).as("N"),
      sum(col("w") * col("rh")).as("zg"),
      sum(col("w")).as("yg")) ++
      p.map(j => sum(col("w") * col("rh") * col(s"x$j")).as(s"ag$j")) ++
      q.flatMap(m => Seq(
        sum(when(isEvent, col(s"pg$m")).otherwise(0.0)).as(s"DN$m"),
        sum(col(s"pg$m") * col("rh")).as(s"dzg$m"),
        sum(col(s"pg$m")).as(s"dyg$m")))
    val grouped = base.groupBy(col("t")).agg(aggs.head, aggs.tail: _*)
    val suffix = Seq(col("zg") -> "Z", col("yg") -> "Y") ++
      p.map(j => col(s"ag$j") -> s"A$j") ++
      q.flatMap(m => Seq(col(s"dzg$m") -> s"DZ$m", col(s"dyg$m") -> s"DY$m"))
    val size = Windows.resolve(grouped, sizeHint)
    Sized(Windows.scan(grouped, Seq(col("t").desc), suffix, sizeHint = size)
      .select((Seq("t", "N", "Z", "Y") ++ p.map(j => s"A$j") ++
        q.flatMap(m => Seq(s"DN$m", s"DZ$m", s"DY$m"))).map(col): _*),
      Windows.SizeHint.inherited(sizeHint, size))
  }
}
