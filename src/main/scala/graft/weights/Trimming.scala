package graft.weights

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Weight trimming with mass redistribution — the standard guard
  * against extreme pseudo-weights (IPSW odds and KW ratios are
  * unbounded above; a handful of huge weights dominate both the
  * estimate and its variance). Trim at a cap, then push the trimmed
  * excess back onto the untrimmed units proportionally to their
  * weight, so the total is EXACTLY preserved:
  *
  *   cap    = quantile_p(w)            (or a caller-supplied constant)
  *   excess = Σ max(w − cap, 0)
  *   w'_i   = cap                                  if w_i > cap
  *   w'_i   = w_i · (1 + excess / Σ_{untrimmed} w) otherwise
  *
  * One exact-percentile scalar + one conditional-sum aggregate + one
  * codegen'd per-row expression — O(n), no shuffle beyond the two
  * scalar aggregates. Proportional redistribution cannot push an
  * untrimmed weight past the cap only when excess is small; the
  * classic iterate-to-fixed-point refinement is deliberately NOT done
  * (single-pass trimming is what survey practice reports; document the
  * one-pass contract instead of hiding an unbounded loop).
  */
object Trimming {

  /** @return df + `trim_wt`; Σ trim_wt = Σ weight exactly (up to fp). */
  def trim(df: DataFrame, weight: Column, p: Double): DataFrame = {
    require(p > 0 && p < 1, s"percentile must be in (0,1), got $p")
    val keyed = df.withColumn("__tr_w", weight.cast("double"))
    // exact type-7 cap via the radix rank search — the builtin
    // `percentile` buffers every distinct weight in one map
    val cap = graft.stats.WeightedQuantile.interpolatedQuantilesGlobal(
      keyed, col("__tr_w"), lit(1L), Seq(p)).head
    trimAt(keyed, col("__tr_w"), cap).drop("__tr_w")
  }

  /** Trim at a fixed cap (the percentile-free core). */
  def trimAt(df: DataFrame, weight: Column, cap: Double): DataFrame = {
    val w = weight.cast("double")
    val c = graft.functions.Coef.scalar(cap)
    val r = df.agg(
      coalesce(sum(when(w > c, w - c)), lit(0.0)),
      coalesce(sum(when(w <= c, w)), lit(0.0))).head()
    val (excess, untrimmed) = (r.getDouble(0), r.getDouble(1))
    val scale = if (untrimmed > 0.0) 1.0 + excess / untrimmed else 1.0
    df.withColumn("trim_wt",
      when(w > c, c).otherwise(w * graft.functions.Coef.scalar(scale)))
  }
}
