package graft.variance

import breeze.linalg.DenseMatrix
import graft.core.LinAlg
import graft.functions.Coef
import graft.stats.WeightedGLM
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/** Joint (β, γ) variance propagation (SURVEY.md M13) — the reference's
  * `eta_w` block (taylor_deviate.R:471-496): the Cox β was fit with
  * pseudo-weights that themselves depend on the estimated propensity
  * coefficients γ, so β's influence function picks up a correction
  * through ∂w/∂γ:
  *
  *   Δβ_i(total) = Δβ_i(direct) + B · Δγ_i,
  *   B = I_β⁻¹ · ∂U_β/∂γ,   [∂U_β/∂γ]_{jm} = Σ_i (∂U_j/∂w_i)(∂w_i/∂γ_m)
  *
  * For IPSW weights ∂w_i/∂γ_m = −w_i·x^{ps}_im (taylor_deviate.R:64).
  * ∂U_j/∂w_i is exactly the per-unit Cox score influence `ui_j`
  * (CoxInfluence), so the cross-derivative is ONE distributed aggregate
  * over the deviate frame — the p×q matrix collects to the driver, the
  * correction applies as codegen'd expressions. No n×n object anywhere
  * (the reference's own constraint, taylor_deviate.R:975).
  */
object JointVariance {

  /** @param devFrame   output of CoxInfluence.deviates on the COHORT
    *                   frame (carries ui_j and the pseudo-weight column)
    * @param psWeight   the pseudo-weight column (w_i)
    * @param psFeatures the propensity design columns x^{ps}_m (length q)
    * @param gammaDevs  per-unit γ-deviate columns on the same frame
    *                   (length q, from Influence.logisticDeviates
    *                   restricted to this frame's rows)
    * @param infoPacked Cox information at β̂ (packed upper triangle)
    * @return devFrame + corrected columns `dbeta_tot_0..p-1`
    */
  def ipswCorrectedDeviates(
      devFrame: DataFrame,
      p: Int,
      psWeight: Column,
      psFeatures: Seq[Column],
      gammaDevs: Seq[Column],
      infoPacked: Array[Double]): DataFrame = {
    val q = psFeatures.length
    // cross derivative D[j][m] = Σ_i ui_j · (−w_i · x_im)
    val exprs = for (j <- 0 until p; mIdx <- 0 until q) yield
      sum(col(s"ui_$j") * (-psWeight.cast("double") * psFeatures(mIdx)))
        .as(s"d${j}_$mIdx")
    val row = devFrame.agg(exprs.head, exprs.tail: _*).head()
    val d = DenseMatrix.tabulate(p, q)((j, mIdx) => row.getDouble(j * q + mIdx))
    val b = (LinAlg.inverse(LinAlg.unpack(p, infoPacked)) * d).t.toArray

    val corrected = (0 until p).map { j =>
      val corr = (0 until q).map(mIdx => Coef.at(b, j * q + mIdx) * gammaDevs(mIdx))
        .foldLeft(lit(0.0): Column)(_ + _)
      (col(s"dbeta_$j") + corr).as(s"dbeta_tot_$j")
    }
    devFrame.select((devFrame.columns.map(col).toSeq ++ corrected): _*)
  }

  /** KW-weight variant: the pseudo-weights are kernel-smoothed, so
    * ∂w_c/∂γ_m comes from the kernel Jacobian (A8,
    * `KernelWeights.attachJacobian` → columns d_kw_m on the cohort
    * rows, selected with the unit id) rather
    * than the closed IPSW form. Cross derivative
    * D[j][m] = Σ_c ui_j(c) · d_kw_m(c) via one join + aggregate. */
  def kwCorrectedDeviates(
      devFrame: DataFrame,
      p: Int,
      idCol: Column,
      kwJacobian: DataFrame, // (c_id, d_kw_0..d_kw_{q-1})
      q: Int,
      gammaDevs: Seq[Column],
      infoPacked: Array[Double]): DataFrame = {
    val joined = devFrame.withColumn("__jid", idCol)
      .join(kwJacobian.withColumnRenamed("c_id", "__jid"), Seq("__jid"))
    val exprs = for (j <- 0 until p; mIdx <- 0 until q) yield
      sum(col(s"ui_$j") * col(s"d_kw_$mIdx")).as(s"d${j}_$mIdx")
    val row = joined.agg(exprs.head, exprs.tail: _*).head()
    val dm = DenseMatrix.tabulate(p, q)((j, mIdx) => row.getDouble(j * q + mIdx))
    val b = (LinAlg.inverse(LinAlg.unpack(p, infoPacked)) * dm).t.toArray
    val corrected = (0 until p).map { j =>
      val corr = (0 until q).map(mIdx => Coef.at(b, j * q + mIdx) * gammaDevs(mIdx))
        .foldLeft(lit(0.0): Column)(_ + _)
      (col(s"dbeta_$j") + corr).as(s"dbeta_tot_$j")
    }
    joined.select((joined.columns.map(col).toSeq ++ corrected): _*)
  }

  /** GREG-calibration variance propagation — the reference's factored
    * calibration Jacobian (`greg.f`'s f_w, taylor_deviate.R:988-1007,
    * consumed by `calib_est`, jk_fun.R:38-63). The estimator is fit at
    * calibrated weights w̃ = w·f with f_k = 1 + (V−V̂)'M⁻¹v_k, so the
    * influence w.r.t. the BASE weight w_i picks up the chain through
    * every unit's factor:
    *
    *   dθ/dw_i = f_i·U_i + Σ_k U_k·w_k·∂f_k/∂w_i,
    *   ∂f_k/∂w_i = −f_i·v_i'M⁻¹v_k         (rank-p factored, never n×n)
    *   ⇒ dθ/dw_i = f_i·(U_i − v_i'·M⁻¹·s),  s = Σ_k U_k·w_k·v_k
    *
    * — ONE distributed p×p_cal aggregate for s, a driver-side solve,
    * and a codegen'd per-row correction, mirroring the post-stratified
    * collapse (post-stratification is the special case v = cell
    * indicators).
    *
    * @param devFrame    CoxInfluence.deviates computed at the CALIBRATED
    *                    weights (carries ui_0..p-1)
    * @param calFeatures calibration design v_i as an array column
    * @param baseWeight  the pre-calibration weight w_i
    * @param factor      the calibration factor f_i (Greg.factor)
    * @param cal         the Calibration (for M = Σ w·v·v')
    * @return devFrame + `ui_greg_j` + `dbeta_greg_j` columns
    */
  def gregCorrectedDeviates(
      devFrame: DataFrame,
      p: Int,
      calFeatures: Column,
      baseWeight: Column,
      factor: Column,
      cal: graft.weights.Greg.Calibration,
      infoPacked: Array[Double]): DataFrame = {
    val pc = cal.lambda.length
    // s_j = Σ_k ui_j(k)·w_k·v_k — p × pc, one aggregate
    val exprs = for (j <- 0 until p; m <- 0 until pc) yield
      sum(col(s"ui_$j") * baseWeight.cast("double") * calFeatures.getItem(m))
        .as(s"s${j}_$m")
    val row = devFrame.agg(exprs.head, exprs.tail: _*).head()
    // M⁻¹·s_j per coefficient (pc×pc driver solve)
    val minvS = (0 until p).map { j =>
      val s = (0 until pc).map(m => row.getDouble(j * pc + m)).toArray
      graft.core.LinAlg.solvePacked(pc, cal.gramPacked, s)
    }
    val withF = devFrame.withColumn("__greg_f", factor)
    val uiGreg = (0 until p).map { j =>
      val proj = (0 until pc).map(m => calFeatures.getItem(m) * Coef.at(minvS(j), m))
        .foldLeft(lit(0.0): Column)(_ + _)
      (col("__greg_f") * (col(s"ui_$j") - proj)).as(s"ui_greg_$j")
    }
    val withUi = withF.select((withF.columns.map(col).toSeq ++ uiGreg): _*)
    val iinv = LinAlg.inverse(LinAlg.unpack(p, infoPacked)).t.toArray
    val dbeta = (0 until p).map { r =>
      (0 until p).map(j => Coef.at(iinv, r * p + j) * col(s"ui_greg_$j")).reduce(_ + _)
        .as(s"dbeta_greg_$r")
    }
    withUi.select((withUi.columns.map(col).toSeq ++ dbeta): _*)
  }

  /** PPS variance of the corrected β deviates: n·cov over units, per
    * coefficient pair (taylor_deviate.R:490). Returns packed upper p×p. */
  def ppsVariance(devFrame: DataFrame, p: Int, prefix: String = "dbeta_tot_"): Array[Double] = {
    val exprs = for (j <- 0 until p; k <- j until p)
      yield (covar_samp(col(s"$prefix$j"), col(s"$prefix$k")) * count(lit(1)))
        .as(s"v${j}_$k")
    val row = devFrame.agg(exprs.head, exprs.tail: _*).head()
    exprs.indices.map(row.getDouble).toArray
  }
}
