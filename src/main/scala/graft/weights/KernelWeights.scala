package graft.weights

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.Coef
import graft.stats.Kernels

/** Kernel-smoothed pseudo-weights, "KW" (SURVEY.md M5, J2, A7, A8) —
  * the reference's `krnwt` (simu_fun.R:127-211).
  *
  * For survey units s (design weight wt_s, propensity score q_s) and
  * cohort units c (score q_c):
  *
  *   k_sc   = K((q_s − q_c)/h)
  *   kw_c   = Σ_s wt_s · k_sc / Σ_{c'} k_sc'
  *
  * The reference materializes the n_s×n_c kernel matrix and manually
  * chunks it into 100 blocks when it doesn't fit (`Large=T`,
  * simu_fun.R:143-165). Spark-first this is a broadcast cross join —
  * the score+weight projection of ONE side is KB-sized — followed by a
  * two-stage aggregation (row-normalize per survey unit, then sum per
  * cohort unit). The quadratic pair stream is never materialized; it
  * flows straight into partial aggregation inside one stage, and it
  * partitions linearly in the non-broadcast side, which is exactly the
  * 100-TB-safe shape.
  *
  * For compact-support kernels (triangular/Epanechnikov) use
  * `bandJoin = true`: pairs with |q_s − q_c| > h contribute exactly 0,
  * so the cross join is replaced by a bucketed band join — each side is
  * bucketed by floor(q/h) and joined on neighbor buckets (±1), turning
  * O(n_s·n_c) into O(matching pairs). This is the pure-DataFrame
  * rewrite anticipated in SURVEY.md §4 (no custom strategy needed).
  *
  * Both entry points, [[compute]] and [[attachJacobian]], run the one
  * private kernel core below; they differ only in the feature columns
  * they pass and the columns they select.
  */
object KernelWeights {

  // cohort profile key columns, carried on the cohort rows for the fan-back
  private val CQ = "__kw_q"
  private def cx(j: Int) = s"__kw_x$j"

  /** @param survey  (score, wt) projection: units enter the kernel
    *   through their score, so no survey id is needed
    * @param cohort  (cId, score) projection
    * @param h       bandwidth
    * @param kernel  kernel function (Kernels.gaussian, ...)
    * @param removeUnmatched the reference's `rm.s` flag (simu_fun.R:13-15,
    *   172-183): a survey unit whose kernel row sums to 0 (bandwidth too
    *   small / no cohort unit in range) normally spreads its weight flat
    *   (wt/m over all m cohort units, rm.s=F); with rm.s=T the unit is
    *   DROPPED — it contributes nothing, so Σkw < Σwt by exactly the
    *   dropped mass (krnwt sets row.krn=1 against an all-zero kernel row,
    *   which zeroes the unit's contribution — there is no renormalization)
    * @return (c_id, kw), one row per cohort row
    */
  def compute(
      survey: DataFrame,
      sScore: Column, sWt: Column,
      cohort: DataFrame,
      cId: Column, cScore: Column,
      h: Double,
      kernel: Column => Column,
      bandJoin: Boolean = false,
      removeUnmatched: Boolean = false): DataFrame =
    // no feature columns, so no derivative is taken (gaussianDk fills the slot)
    kernelCore(survey, sScore, sWt, Nil, cohort.withColumn("c_id", cId), cScore, Nil,
      h, kernel, gaussianDk, bandJoin, removeUnmatched)
      .select(col("c_id"), col("kw"))

  /** Bucketed band join: only pairs with |q_s − q_c| <= h survive.
    * Buckets floor(q/h); a pair within h is always in the same or an
    * adjacent bucket, so explode survey rows to 3 candidate buckets and
    * hash-join on the bucket id, then filter the exact band. */
  private def bandPairs(s: DataFrame, c: DataFrame, h: Double): DataFrame = {
    val cb = c.withColumn("b", floor(col(CQ) / Coef.scalar(h)).cast("long"))
    val sb = s.withColumn("b0", floor(col("q_s") / Coef.scalar(h)).cast("long"))
      .withColumn("b", explode(array(col("b0") - 1, col("b0"), col("b0") + 1)))
      .drop("b0")
    sb.join(cb, Seq("b"))
      .filter(abs(col("q_s") - col(CQ)) <= Coef.scalar(h))
      .drop("b")
  }

  /** The u-derivative of the Gaussian density, −u·K(u) — the Jacobian
    * default, matching the reference's dnorm kernel. Pass both the
    * kernel and its derivative for other kernels (triangular:
    * K' = −sign(u)/2 on |u|<1 — the reference's triangular variant,
    * taylor_deviate.R:72). */
  val gaussianDk: Column => Column = u =>
    -u * exp(-u * u / lit(2.0)) / lit(math.sqrt(2.0 * math.Pi))

  /** Kernel weights and their Jacobian ∂kw_c/∂γ_j (A8,
    * simu_fun.R:192-205), APPENDED to the cohort frame row by row.
    * `sFeatures(j)` / `cFeatures(j)` give x_j on each side; the pair's
    * Δx_j = x_sj − x_cj enters ∂k/∂γ_j (logistic scores fold dq/dγ into
    * the features). The fan-back is a profile join — no id join
    * anywhere — so it is the entry point for callers whose cohort rows
    * have no unique key: the reference addresses units by row index
    * (simu_fun.R:186), and a fan-back keyed on a caller-supplied id
    * silently double-counts pseudo-weight mass when ids collide.
    * Output = every cohort column plus `kw`, `d_kw_0..d_kw_{p-1}`,
    * exactly one output row per input row. `removeUnmatched` is
    * [[compute]]'s rm.s flag. */
  def attachJacobian(
      survey: DataFrame, sScore: Column, sWt: Column,
      cohort: DataFrame, cScore: Column,
      h: Double,
      sFeatures: Seq[Column], cFeatures: Seq[Column],
      kernel: Column => Column = Kernels.gaussian,
      kernelDeriv: Column => Column = gaussianDk,
      removeUnmatched: Boolean = false): DataFrame =
    kernelCore(survey, sScore, sWt, sFeatures, cohort, cScore, cFeatures,
      h, kernel, kernelDeriv, bandJoin = false, removeUnmatched)

  /** The one pair-stream core: survey rows × cohort rows → the cohort
    * frame plus `kw` and `d_kw_0..d_kw_{p-1}`, with the flat zero-row
    * rescue (wt/m, simu_fun.R:175-183) unless `removeUnmatched`.
    *
    * PROFILE COLLAPSE: every kernel/Jacobian term depends on a unit
    * only through its (score, features) profile, so pair distinct
    * profiles — not units. With discrete covariates the O(n_s·n_c)
    * pair stream collapses to O(|profiles|²) (the score is a function
    * of the covariates); with continuous scores the groupBys are
    * near-identity and the pair count is unchanged. Row sums attach to
    * survey PROFILES (weighted by Σwt_s), contributions to cohort
    * profiles — the same move as the Breslow tie-collapse, applied to
    * the kernel matrix. */
  private def kernelCore(
      survey: DataFrame, sScore: Column, sWt: Column, sFeatures: Seq[Column],
      cohort: DataFrame, cScore: Column, cFeatures: Seq[Column],
      h: Double,
      kernel: Column => Column, kernelDeriv: Column => Column,
      bandJoin: Boolean, removeUnmatched: Boolean): DataFrame = {
    val spark = survey.sparkSession
    val js = sFeatures.indices
    val sKey = "q_s" +: js.map(j => s"xs$j")
    val cKey = CQ +: js.map(cx)
    val sProfiles = survey
      .select((sScore.cast("double").as("q_s") +: sWt.cast("double").as("wt_s") +:
        js.map(j => sFeatures(j).cast("double").as(s"xs$j"))): _*)
      .groupBy(sKey.map(col): _*)
      .agg(sum(col("wt_s")).as("wt_s"))
    val keyed = cohort.withColumns(
      cKey.zip(cScore +: cFeatures).map { case (n, c) => n -> c.cast("double") }.toMap)

    // STREAM the cohort, BROADCAST the survey. The survey side is the
    // fixed-size probability sample (KB–MB); the cohort is the side
    // that grows with the data, so it must be the partitioned stream —
    // broadcasting it caps at the driver and, worse, leaves the n_s·n_c
    // kernel evaluation parallelized by the SURVEY side's partitioning
    // (a 1000-row filter output = 1 partition = one thread grinding 10^9
    // pairs; measured 434 s → linear at the sf10 probe). The profile
    // collapse hash-partitions on the profile key at the session
    // parallelism — an explicit partition count, which AQE does not
    // coalesce — so even a skinny cohort read from one parquet file
    // streams on every core.
    val para = spark.sparkContext.defaultParallelism
    val cProfiles = keyed.repartition(para, cKey.map(col): _*)
      .groupBy(cKey.map(col): _*)
      .agg(count(lit(1)).cast("double").as("c_mult"))
    val u = (col("q_s") - col(CQ)) / Coef.scalar(h)
    // The pair stream of the cohort profiles with a survey-side frame:
    // the survey profiles, or (stage 2) the profiles carrying their row
    // sums. dK/du from kernelDeriv; d u/dγ_j = (x_sj − x_cj)·(dq/dγ)/h
    // with logistic scores dq/dγ_j folded into the feature columns by
    // the caller.
    def pairsWith(s: DataFrame): DataFrame =
      (if (bandJoin) bandPairs(s, cProfiles, h)
       else cProfiles.crossJoin(broadcast(s)))
        .withColumns(Map("k" -> kernel(u), "dku" -> kernelDeriv(u)))
        .select(((s.columns.toSeq ++ cKey ++ Seq("c_mult", "k")).map(col) ++
          js.map(j => (col("dku") * (col(s"xs$j") - col(cx(j))) / Coef.scalar(h))
            .as(s"dk$j"))): _*)
    val pairs = pairsWith(sProfiles)

    // stage 1: row sums per survey profile, weighting each cohort
    // profile by its multiplicity (Σ_c k = Σ_profiles mult·k). LEFT-join
    // from the survey side so a profile that produced NO pairs (band
    // join, empty ±1 buckets) still appears with row_k = 0 and its wt_s
    // enters the flat rescue — pseudo-weight mass is conserved on both
    // paths (the reference's krnwt spreads wt/m, simu_fun.R:175-183).
    val rowSums = sProfiles
      .join(pairs.groupBy(sKey.map(col): _*)
        .agg(sum(col("c_mult") * col("k")).as("row_k"),
          js.map(j => sum(col("c_mult") * col(s"dk$j")).as(s"row_dk$j")): _*),
        sKey, "left")
      .withColumn("row_k", coalesce(col("row_k"), lit(0.0)))

    // Row sums are ONE narrow row per survey profile; the survey side of
    // pseudo-weighting is the (small) probability sample by design, so
    // up to `graft.kw.rowSumsCollectThreshold` profiles they are
    // collected to the driver and re-shipped as a broadcast local
    // relation. This keeps the n_s×n_c pair stream at exactly two passes
    // (one for the sums, one for the contributions) with no persist to
    // leak — the earlier persist-based variant cached this frame and
    // never released it (one leaked cache entry per Monte-Carlo
    // replicate). ABOVE the threshold the collect would be a driver OOM,
    // so the row sums stay distributed and shuffle-join back (AQE picks
    // the join strategy); that path pays one extra pair-stream scan for
    // the flat-rescue mass but is bounded by executor, not driver,
    // memory. The size check is a LIMIT-probe collect (threshold+1 rows
    // max) rather than a count() — no extra job on the common small
    // path, and a probe that comes back short IS the full row-sum set.
    val threshold = math.min(
      spark.conf.getOption("graft.kw.rowSumsCollectThreshold")
        .map(_.toLong).getOrElse(1000000L),
      Int.MaxValue - 2L).toInt
    val probe = rowSums.limit(threshold + 1).collect()
    val collected = probe.length <= threshold
    val rkIdx = rowSums.schema.fieldIndex("row_k")
    val wtIdx = rowSums.schema.fieldIndex("wt_s")
    // stage 2's pairs carry their survey profile's row sums: collected,
    // the positive row sums ARE the broadcast side of a second pair
    // stream (no per-pair join); distributed, they join the pairs
    val normalized =
      if (collected) pairsWith(spark.createDataFrame(
        spark.sparkContext.parallelize(probe.filter(_.getDouble(rkIdx) > 0.0).toSeq, 1),
        rowSums.schema))
      else pairs.join(rowSums.filter(col("row_k") > 0.0).drop("wt_s"), sKey)
    // Zero-sum rows (compact-support kernel or tiny bandwidth) spread
    // their wt_s/m to every cohort unit — added as a scalar, never
    // re-densified — with ZERO derivative: the rescue branch is
    // piecewise-constant in γ.
    val zeroMass =
      if (removeUnmatched) 0.0
      else if (collected) probe.iterator
        .filter(_.getDouble(rkIdx) == 0.0).map(_.getDouble(wtIdx)).sum
      else rowSums
        .agg(coalesce(sum(when(col("row_k") === 0.0, col("wt_s"))), lit(0.0)))
        .head.getDouble(0)
    val flat = if (zeroMass == 0.0) 0.0 else zeroMass / keyed.count().toDouble

    // stage 2: normalize, sum per cohort profile, and fan the profile
    // results back to the cohort rows. Rows whose every pair came from
    // zero-sum survey rows (or that matched no pair) get kw = flat,
    // derivatives 0.
    val contrib = normalized
      .groupBy(cKey.map(col): _*)
      .agg(
        sum(col("wt_s") * col("k") / col("row_k")).as("kw_raw"),
        js.map { j =>
          sum(col("wt_s") * (col(s"dk$j") * col("row_k") - col("k") * col(s"row_dk$j"))
            / (col("row_k") * col("row_k"))).as(s"d_kw_$j")
        }: _*)
    keyed.join(contrib, cKey, "left")
      .select(cohort.columns.map(col) ++
        ((coalesce(col("kw_raw"), lit(0.0)) + Coef.scalar(flat)).as("kw") +:
          js.map(j => coalesce(col(s"d_kw_$j"), lit(0.0)).as(s"d_kw_$j"))): _*)
  }
}
