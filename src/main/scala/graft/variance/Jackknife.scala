package graft.variance

import graft.core.Rng
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/** Delete-a-group jackknife (SURVEY.md M14) — the reference's
  * `jk_fun`/`jk_var` (jk_fun.R:279-387; calib_simu_noninf0315.R:228-234).
  *
  * Random G-group split; for each replicate k drop group k and reweight
  * the remainder by m/(m−1); re-run the estimator; variance is
  * ((m−1)/m)·Σ_k (θ_k − θ̄)².
  *
  * The reference loops k and re-runs the battery 90× sequentially. The
  * Spark-first shape (SURVEY.md §4) is the VECTORIZED replicate
  * dimension: explode each row into all m replicates with its replicate
  * weight (0 for its own group) so ONE shuffle computes every replicate
  * estimate — jobs scale O(1), not O(replicates). For iterative
  * estimators, each NR/IRLS iteration aggregates grouped-by-replicate,
  * keeping jobs O(iterations).
  */
object Jackknife {

  /** Deterministic group assignment 0..m-1 from a row key. Multinomial
    * (hash-binned) sizes — O(0) extra passes; for the reference's
    * exactly-equal-size design use `groupEqual`. */
  def group(key: Column, m: Int, salt: Long = 0L): Column =
    floor(Rng.uniform(key, salt) * lit(m)).cast("int")

  /** Exactly-equal group sizes, the reference's quantile-cut design
    * (`cut(runif, quantile(...))`, jk_fun.R:283-286): rank rows by the
    * reproducible uniform key and assign rank mod m, so group sizes
    * differ by at most 1. The rank is a distributed prefix count
    * (Windows.scan) — one range shuffle, no single-partition window.
    * Returns df + `jk_g`. */
  def groupEqual(df: DataFrame, key: Column, m: Int, salt: Long = 0L,
      sizeHint: graft.core.Windows.SizeHint =
        graft.core.Windows.SizeHint.Auto): DataFrame = {
    val withU = df.withColumn("__jk_u", Rng.uniform(key, salt))
    graft.core.Windows.scan(withU, Seq(col("__jk_u"), key),
        Seq(lit(1.0) -> "__jk_rank"), sizeHint = sizeHint)
      .withColumn("jk_g",
        ((col("__jk_rank").cast("long") - 1) % m).cast("int"))
      .drop("__jk_u", "__jk_rank")
  }

  /** Explode to the replicate dimension: every input row appears once
    * per replicate r=0..m-1 with column `jk_wt` = 0 if its group is
    * dropped in r, else weight·m/(m−1). */
  def replicated(df: DataFrame, groupCol: Column, weight: Column, m: Int): DataFrame = {
    // m = 1 would scale by m/(m−1) = ∞
    require(m >= 2, s"Jackknife.replicated needs m >= 2 groups, got m = $m")
    df.withColumn("__jk_g", groupCol)
      .withColumn("jk_r", explode(sequence(lit(0), lit(m - 1))))
      .withColumn("jk_wt",
        when(col("__jk_g") === col("jk_r"), lit(0.0))
          .otherwise(weight.cast("double") * lit(m.toDouble / (m - 1))))
      .drop("__jk_g")
  }

  /** Jackknife variance of replicate estimates: one row per (group-by
    * key ×) replicate with an estimate column. Returns the grouped
    * variance ((m−1)/m)·Σ(θ_k − θ̄)² per key. */
  def variance(estimates: DataFrame, estimate: Column, m: Int, keys: Seq[Column] = Nil): DataFrame = {
    // m = 1 would scale by (m−1)/m = 0: a variance of 0, not an error
    require(m >= 2, s"Jackknife.variance needs m >= 2 groups, got m = $m")
    val fac = (m - 1).toDouble / m
    if (keys.isEmpty)
      estimates.agg((var_pop(estimate) * lit(m) * lit(fac)).as("jk_var"))
    else
      estimates.groupBy(keys: _*)
        .agg((var_pop(estimate) * lit(m) * lit(fac)).as("jk_var"))
  }
}
