package graft.variance

import breeze.linalg.DenseMatrix
import graft.core.LinAlg
import graft.functions.Coef
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
  * For IPSW weights ∂w_i/∂γ_m = −w_i·x^{ps}_im (taylor_deviate.R:64);
  * for KW weights it is the kernel Jacobian d_kw_m (A8).
  * ∂U_j/∂w_i is exactly the per-unit Cox score influence `ui_j`
  * (CoxInfluence), so the cross-derivative is ONE distributed aggregate
  * over the deviate frame — the p×q matrix collects to the driver, the
  * correction applies as codegen'd expressions. No n×n object anywhere
  * (the reference's own constraint, taylor_deviate.R:975).
  */
object JointVariance {

  /** The one γ→β propagation (taylor_deviate.R:471-496): one p×q
    * aggregate for D[j][m] = Σ_i ui_j·∂w_i/∂γ_m, a driver-side
    * B = I⁻¹·D, and per row
    *
    *   out_j = directScale·dbeta_j + Σ_m B[j,m]·Δγ_m
    *
    * with B read through `Coef.at`, so a new fit recompiles nothing.
    *
    * @param devFrame    output of CoxInfluence.deviates (carries ui_j and
    *                    dbeta_j), possibly unioned with γ-only rows that
    *                    carry ui_j = 0
    * @param dwdGamma    ∂w_i/∂γ_m as columns on the frame (length q): the
    *                    closed IPSW form −w_i·x^{ps}_im, or KW's d_kw_m
    *                    (`KernelWeights.attachJacobian` puts them on the
    *                    cohort rows)
    * @param gammaDevs   per-unit γ-deviate columns (length q, from
    *                    Influence.logisticDeviates on the same rows)
    * @param infoPacked  Cox information at β̂ (packed upper triangle)
    * @param directScale scale of the direct deviate: 1, or the chains'
    *                    per-multiplicity pseudo-weight
    * @return devFrame + corrected columns `out`0..p-1
    */
  def correctedDeviates(
      devFrame: DataFrame,
      p: Int,
      dwdGamma: Seq[Column],
      gammaDevs: Seq[Column],
      infoPacked: Array[Double],
      directScale: Column = lit(1.0),
      out: String = "dbeta_tot_"): DataFrame = {
    val q = dwdGamma.length
    val exprs = for (j <- 0 until p; m <- 0 until q) yield
      sum(col(s"ui_$j") * dwdGamma(m)).as(s"d${j}_$m")
    val row = devFrame.agg(exprs.head, exprs.tail: _*).head()
    val d = DenseMatrix.tabulate(p, q)((j, m) => row.getDouble(j * q + m))
    // B row-major (entry (j, m) at j·q + m)
    val b = (LinAlg.inverse(LinAlg.unpack(p, infoPacked)) * d).t.toArray
    val corrected = (0 until p).map { j =>
      (directScale * col(s"dbeta_$j") +
        (0 until q).map(m => Coef.at(b, j * q + m) * gammaDevs(m))
          .foldLeft(lit(0.0): Column)(_ + _)).as(s"$out$j")
    }
    devFrame.select((devFrame.columns.map(col).toSeq ++ corrected): _*)
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
}
