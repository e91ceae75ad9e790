package graft.variance

import breeze.linalg.DenseMatrix
import graft.core.{Gram, LinAlg}
import graft.functions.Coef
import graft.stats.WeightedGLM
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, Row}

/** Taylor-linearization ("deviate") variance engine (SURVEY.md M13) —
  * the reference's influence-function machinery
  * (taylor_deviate.R:445-570; sandwich `v_Poisson`, simu_fun.R:231-263).
  *
  * Unit-level influence values stay DISTRIBUTED as ordinary columns
  * (one per estimand component); only k×k contractions collect. The
  * n×k influence matrices the reference manipulates in memory are never
  * materialized as matrices, matching its own warning about memory
  * ceilings (taylor_deviate.R:975).
  */
object Influence {

  /** Per-unit influence deviates for a weighted logistic fit
    * (`gamma_w`, taylor_deviate.R:556-570):
    *   Δ_i = H⁻¹ · w_i (y_i − μ_i) x_i
    * Returns p expression columns over the fitted frame. */
  def logisticDeviates(fit: WeightedGLM.Fit, features: Column, label: Column,
      weight: Column): Seq[Column] = {
    val p = fit.coefficients.length
    val hinv = LinAlg.inverse(LinAlg.unpack(p, fit.hessianPacked))
    val resid = weight.cast("double") * (label.cast("double") - fit.predictProb(features))
    val h = hinv.t.toArray // row-major: H⁻¹(r, j) at r·p + j
    (0 until p).map { r =>
      (0 until p).map(j => Coef.at(h, r * p + j) * resid * features.getItem(j))
        .reduce(_ + _)
    }
  }

  /** One key's contraction: per deviate column, the Poisson and PPS
    * variances summed over samples, and per extra aggregate its
    * non-NULL per-sample values. */
  final case class Contracted(poisson: IndexedSeq[Double],
      pps: IndexedSeq[Double], extra: IndexedSeq[Seq[Double]])

  /** The one variance contraction of unit deviates
    * (taylor_deviate.R:109-111): per key and sample, the Poisson
    * Σ(1−π_i)Δ_i² and the with-replacement PPS n·cov(Δ), in ONE
    * `groupBy(keys ++ sample).agg(...).collect()` job; the driver then
    * sums the per-sample partials per key. A NULL partial (a group whose
    * deviates are all NULL, or `covar_samp` of a one-row group) reads
    * as 0, as if the NULL rows had been left out of a per-key aggregate.
    *
    * @param deviates per-unit deviate columns Δ
    * @param pi       inclusion probability π_i
    * @param keys     result keys (none: one result under the key Nil)
    * @param sample   the sample split: PPS n·cov is taken per sample and
    *                 summed (the Poisson sum is additive either way)
    * @param extra    double-valued aggregates that ride along in the same
    *                 job (e.g. `max(estimate)`); each comes back as its
    *                 per-sample values, NULLs dropped, for the caller to
    *                 recombine
    * @return key values (in `keys` order) → Contracted
    */
  def contract(df: DataFrame, deviates: Seq[Column], pi: Column,
      keys: Seq[Column] = Nil, sample: Option[Column] = None,
      extra: Seq[Column] = Nil): Map[Seq[Any], Contracted] = {
    val k = deviates.length
    val aggs = deviates.map(d => sum((lit(1.0) - pi.cast("double")) * d * d)) ++
      deviates.map(d => covar_samp(d, d) * count(lit(1))) ++ extra
    val rows = df.groupBy((keys ++ sample): _*)
      .agg(aggs.head, aggs.tail: _*).collect()
    val nk = keys.length
    val base = nk + sample.size
    def nz(r: Row, i: Int): Double = if (r.isNullAt(i)) 0.0 else r.getDouble(i)
    // without keys, an empty frame still yields its (zero) result
    val groups = if (nk == 0) Map(Seq.empty[Any] -> rows)
      else rows.groupBy(_.toSeq.take(nk))
    groups.map { case (key, rs) =>
      key -> Contracted(
        (0 until k).map(i => rs.map(nz(_, base + i)).sum),
        (0 until k).map(i => rs.map(nz(_, base + k + i)).sum),
        extra.indices.map { e =>
          rs.toSeq.filter(!_.isNullAt(base + 2 * k + e))
            .map(_.getDouble(base + 2 * k + e))
        })
    }
  }

  /** Sandwich variance for the logistic fit under Poisson sampling
    * (`v_Poisson`, simu_fun.R:231-263): H⁻¹ M H⁻¹ with
    * M = Σ (1−π_i) s_i s_iᵀ, s_i = w_i(y_i−μ_i)x_i. Returns the p×p
    * matrix (driver-side; the Σ runs distributed). */
  def logisticSandwich(df: DataFrame, fit: WeightedGLM.Fit, features: Column,
      label: Column, weight: Column, pi: Column): DenseMatrix[Double] = {
    val p = fit.coefficients.length
    val resid = weight.cast("double") * (label.cast("double") - fit.predictProb(features))
    val f = (lit(1.0) - pi.cast("double"))
    val m = meat(df, p, features, f * resid * resid)
    val hinv = LinAlg.inverse(LinAlg.unpack(p, fit.hessianPacked))
    hinv * m * hinv
  }

  /** HC0 heteroskedasticity-robust sandwich for a WLS fit:
    * (X'WX)⁻¹ [Σ w²e² x x'] (X'WX)⁻¹ with e = y − x'β. Same
    * distributed-Σ / driver-side-k×k split as `logisticSandwich`. */
  def wlsSandwich(df: DataFrame, fit: WeightedGLM.Fit, features: Column,
      y: Column, weight: Column): DenseMatrix[Double] = {
    val p = fit.coefficients.length
    val e = y.cast("double") -
      graft.core.FeatureArray.dot(features, fit.coefficients)
    val w = weight.cast("double")
    val m = meat(df, p, features, w * w * e * e)
    val binv = LinAlg.inverse(LinAlg.unpack(p, fit.hessianPacked))
    binv * m * binv
  }

  /** The sandwich meat Σ v·x xᵀ as one packed Gram aggregate. */
  private def meat(df: DataFrame, p: Int, features: Column,
      v: Column): DenseMatrix[Double] = {
    val cols = Gram.columns((0 until p).map(features.getItem(_)), v)
    LinAlg.unpack(p, Gram.read(df.agg(cols.head, cols.tail: _*).head(), 0,
      cols.length))
  }
}
