package graft.variance

import graft.core.Windows
import graft.hazard.RiskSet
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, Row}

/** Influence functions for the hazard / absolute-risk chain (SURVEY.md
  * M13 completion) — the reference's `lambda.ar_w` deviate matrices
  * (taylor_deviate.R:746-883), their prefix-cumsum propagation to Λ(t*)
  * (`Lambda_w`, 885-900) and ΛG(t*) (`LambdaG_w`, 903-929), and the
  * delta-method absolute-risk deviate (`absR_w`, 933-953).
  *
  * The reference materializes dense n×|events| matrices (`lambda_wt`,
  * `ar_wt`) and row-cumsums them. At 100 TB that intermediate is
  * infeasible; but every consumer only ever needs the CUMULATED deviate
  * at a small t* probe grid, and the cumsum collapses algebraically to
  * step-function lookups (the same martingale-collapse used in
  * CoxInfluence):
  *
  *   dΛ(i,t*)  = d_i·1{t_i≤t*}/Z(t_i) − rh_i·G̃(min(t_i,t*))
  *               − Σ_m Δβ_im·C_m(t*)
  *   G̃(t)   = Σ_{events u≤t} λ_u/Z_u
  *   C_m(t*) = Σ_{events u≤t*} λ_u·A_um/Z_u,  A_um = Σ_i w_i rh_i x_im 1{t_i≥u}
  *
  * and G̃ is nondecreasing with nonnegative increments, so
  * G̃(min(t_i,t*)) = min(G̃(t_i), G̃(t*)): the unit side needs ONE exact
  * equi-join on t (every t_i is in the tie-collapsed step table) and the
  * t*-side values are a |t*|-row driver constant. The ΛG (Gail) variant
  * buckets the λ* grid mass by its governing event time (the LOCF
  * convention of GailHazard.cumulativeSteps, so the deviate is the exact
  * derivative of the ΛG point estimator) and uses the same
  * min-composition on the bucketed prefix functions. Cost on top of the
  * caller's hazard.RiskSet table: one multi-column prefix scan, one tiny
  * interval aggregate, one broadcast-probe lookup, one equi-join —
  * never an n×|events| object.
  */
object HazardInfluence {

  /** Pseudo-weight γ-chain (the reference's `pw_list`,
    * taylor_deviate.R:823-834): the weights depend on estimated
    * propensity coefficients γ, so N/Z/Y pick up ∂w/∂γ·Δγ terms. The
    * two halves go to different places: `pwGamma`, the ∂w_i/∂γ_m
    * columns on the unit frame (length q, e.g. −w·x^{ps} for IPSW), are
    * the RiskSet `measures` that give the step table its DN/DZ/DY
    * columns; `gammaDevs`, the per-unit γ-deviate columns (length q),
    * are `cumulativeDeviates`' unit-side input. */
  final case class GammaChain(pwGamma: Seq[Column], gammaDevs: Seq[Column])

  /** Risk profile for the absolute-risk deviate (absR_w): absR_w(t*) =
    * 1 − exp(−Λ(t*)·e^{x0'β}). */
  final case class RiskProfile(beta: Array[Double], x0: Array[Double])

  /** Post-stratification chain (the reference's `post` branch,
    * taylor_deviate.R:799-821): with per-cell factors f_h = N_h/N̂_h the
    * ∂f/∂w Jacobian is cell-blocked, and each of the N/Z/Y deviates
    * gains v_{h(k)}·Σ_{i∈h} pw_i·(…) — exactly the γ-chain shape with
    * per-cell indicator measures pw·1{h=m} and per-unit deviates
    * v_h·1{h(k)=m}. Use together with `directScale = f` and the
    * POST-STRATIFIED β deviates (CoxInfluence.deviatesPostStratified).
    *
    * @param cell       the cell column on the unit frame
    * @param cellValues distinct cell values (dimension-sized)
    * @param baseWeight the PRE-post-stratification weight pw = w̃/f
    * @param vh         per-unit v_{h(k)} = −f_h/N̂_h column
    */
  def postStratifiedChain(cell: Column, cellValues: Seq[Any],
      baseWeight: Column, vh: Column): GammaChain =
    GammaChain(
      pwGamma = cellValues.map(c =>
        when(cell === lit(c), baseWeight.cast("double")).otherwise(0.0)),
      gammaDevs = cellValues.map(c =>
        when(cell === lit(c), vh.cast("double")).otherwise(0.0)))

  /** Per-unit influence of Λ(t*) — and, when `lambdaStar` is given,
    * ΛG(t*) — and their absolute-risk transforms, in long format
    * (one row per unit × t*; |t*| is a small probe grid).
    *
    * @param devFrame output of CoxInfluence.deviates: columns __t, __d,
    *                 __w, __rh, __x0..__x{p-1}, `betaDevPrefix`0..{p-1}
    * @param steps hazard.RiskSet table of the risk set — the one the
    *              caller passed to CoxInfluence.deviates — with q γ
    *              measures (DN/DZ/DY 0..q-1, q = gammaDevs.length). Its
    *              t domain may be a SUBSET of the unit frame's: survey
    *              γ-only rows contribute zero to every sum, and unit
    *              times missing from it take inert step values.
    * @param lambdaStar optional (t, lambda_star) population-hazard grid
    *                   for the Gail chain
    * @param risk optional profile: adds d_abs_risk (and d_abs_risk_gail
    *             with lambdaStar)
    * @param gammaDevs per-unit γ-deviate columns (GammaChain.gammaDevs).
    *              Survey-side rows (units outside the cohort whose
    *              deviate is PURELY the γ chain, the reference's
    *              rbind(…, matrix(0, n_s, …)) blocks) can be unioned
    *              into `devFrame` with __w = 0, __d = 0, zero β-deviates
    *              and directScale 0: they then receive exactly the
    *              Σ_m Δγ_m·CN_m(t*) terms.
    * @return long frame with passthrough ++ (t_star, d_cum_hzd
    *         [, d_cum_gail][, d_abs_risk][, d_abs_risk_gail]) plus the
    *         point estimates cum_hzd [, cum_gail] repeated per row
    */
  def cumulativeDeviates(
      devFrame: DataFrame,
      steps: DataFrame,
      p: Int,
      tStar: Seq[Double],
      lambdaStar: Option[DataFrame] = None,
      risk: Option[RiskProfile] = None,
      gammaDevs: Seq[Column] = Nil,
      betaDevPrefix: String = "dbeta_",
      sizeHint: Windows.SizeHint = Windows.SizeHint.Auto,
      directScale: Column = lit(1.0),
      passthrough: Seq[Column] = Nil): DataFrame = {
    val spark = devFrame.sparkSession
    val q = gammaDevs.length
    val base = devFrame.select((Seq(col("__t"), col("__d"), col("__w"),
      col("__rh"), directScale.cast("double").as("__dsc")) ++
      (0 until p).map(j => col(s"__x$j")) ++
      (0 until p).map(j => col(s"$betaDevPrefix$j").as(s"__db$j")) ++
      gammaDevs.zipWithIndex.map { case (c, m) =>
        c.cast("double").as(s"__gd$m") } ++
      passthrough): _*)
    val withSuf = steps.withColumnRenamed("t", "__t")

    // ---- merge the λ* grid (full outer on t) and LOCF event values so
    //      each grid time sees its governing event's (Z, ar, A, DZ, DY) ----
    val ls = lambdaStar.map { l =>
      l.select(col(l.columns.head).cast("double").as("__t"),
        col(l.columns(1)).cast("double").as("__ls"))
    }
    val merged0 = ls match {
      case Some(g) => withSuf.join(g, Seq("__t"), "full_outer")
      case None    => withSuf.withColumn("__ls", lit(null).cast("double"))
    }
    val isEv = col("N") > 0.0
    val evCols = Seq(
      when(isEv, col("__t")).as("evT"),
      when(isEv, col("Z")).as("evZ"),
      when(isEv, lit(1.0) - col("Y") / col("Z")).as("evAr")) ++
      (0 until p).map(j => when(isEv, col(s"A$j")).as(s"evA$j")) ++
      (0 until q).flatMap(m => Seq(
        when(isEv, col(s"DZ$m")).as(s"evDZ$m"),
        when(isEv, col(s"DY$m")).as(s"evDY$m")))
    // Without a λ* grid every grid-side increment is zero, so the LOCF
    // pass (whose only purpose is giving grid rows their governing
    // event's values) can be skipped entirely.
    val withEv = merged0.select((merged0.columns.map(col) ++ evCols).toSeq: _*)
    val merged = if (ls.isDefined) graft.core.AsOf.locfPartitioned(
      withEv, col("__t"),
      Seq("evT", "evZ", "evAr") ++ (0 until p).map(j => s"evA$j") ++
        (0 until q).flatMap(m => Seq(s"evDZ$m", s"evDY$m")),
      sizeHint = sizeHint)
    else withEv

    // ---- prefix increments: event-side (λ chain) and grid-side (ΛG) ----
    val lam = when(isEv, col("N") / col("Z")).otherwise(0.0)
    val gridHasEv = col("__ls").isNotNull && col("evZ").isNotNull
    val oneMinusAr = lit(1.0) - coalesce(col("evAr"), lit(0.0))
    val scanSums: Seq[(Column, String)] =
      Seq(
        lam -> "LAM", // Λ(t)
        when(isEv, col("N") / (col("Z") * col("Z"))).otherwise(0.0) -> "GL",
        // ΛG point mass: LOCF ar, absent ar ⇒ 0 (GailHazard semantics)
        coalesce(col("__ls") * oneMinusAr, lit(0.0)) -> "LG",
        when(gridHasEv, col("__ls") / col("evZ")).otherwise(0.0) -> "GA",
        when(gridHasEv, col("__ls") * (lit(1.0) - col("evAr")) / col("evZ"))
          .otherwise(0.0) -> "GB") ++
      (0 until p).map(j =>
        (when(isEv, col("N") * col(s"A$j") / (col("Z") * col("Z")))
          .otherwise(0.0)) -> s"C$j") ++
      (0 until p).map(j =>
        (when(gridHasEv,
          col("__ls") * (lit(1.0) - col("evAr")) * col(s"evA$j") / col("evZ"))
          .otherwise(0.0)) -> s"CG$j") ++
      (0 until q).map(m =>
        (when(isEv, (col(s"DN$m") - col("N") * col(s"DZ$m") / col("Z")) / col("Z"))
          .otherwise(0.0)) -> s"CN$m") ++
      (0 until q).map(m =>
        (when(gridHasEv,
          col("__ls") * (col(s"evDY$m") - (lit(1.0) - col("evAr")) * col(s"evDZ$m"))
            / col("evZ")).otherwise(0.0)) -> s"CGN$m")
    val scanned = Windows.scan(merged, Seq(col("__t")), scanSums,
      sizeHint = sizeHint).persist()

    // ---- grid mass bucketed by governing event: EA/EB(t) = Σ_{s: e(s)≤t} ----
    val needGail = ls.isDefined
    val stepTable0: DataFrame = if (needGail) {
      val ivalAggs = Seq(
        sum(coalesce(when(gridHasEv, col("__ls") / col("evZ")), lit(0.0))).as("ta"),
        sum(coalesce(when(gridHasEv,
          col("__ls") * (lit(1.0) - col("evAr")) / col("evZ")), lit(0.0))).as("tb"))
      val ivals = scanned.filter(col("evT").isNotNull)
        .groupBy(col("evT")).agg(ivalAggs.head, ivalAggs.tail: _*)
      val ivalsCum = Windows.scan(ivals, Seq(col("evT")),
        Seq(col("ta") -> "EAv", col("tb") -> "EBv"), sizeHint = sizeHint)
        .select(col("evT"), col("EAv"), col("EBv"))
      scanned.join(broadcast(ivalsCum), Seq("evT"), "left")
        .withColumn("EA", coalesce(col("EAv"), lit(0.0)))
        .withColumn("EB", coalesce(col("EBv"), lit(0.0)))
    } else scanned.withColumn("EA", lit(0.0)).withColumn("EB", lit(0.0))

    // Under the Small contract the step table is ≤ ~20k rows but its
    // PLAN is deep: tie-collapse, suffix/prefix windows (each a
    // single-partition exchange), the λ*-grid full-outer merge, LOCF and
    // the EA/EB bucket join — rebuilt at EVERY downstream action.
    // Localize it ONCE to the driver and substitute a literal local
    // relation: the t*-probe job collapses to a LocalTableScan and the
    // unit-side broadcast carries no subplan, leaving each action one
    // pass over the unit frame. (Exact doubles survive the round-trip
    // bit-for-bit, so hash oracles are unaffected.)
    val stepTable: DataFrame =
      if (sizeHint == Windows.SizeHint.Small) {
        val localRows = stepTable0.collect().toIndexedSeq
        spark.createDataFrame(
          spark.sparkContext.parallelize(localRows, 1), stepTable0.schema)
      } else stepTable0

    // ---- t*-side constants: one broadcast-probe aggregate, |t*| rows ----
    import spark.implicits._
    val probeDf = tStar.toDF("t_star")
    val constCols = Seq("LAM", "GL", "LG", "GA", "GB") ++
      (0 until p).map(j => s"C$j") ++ (0 until p).map(j => s"CG$j") ++
      (0 until q).map(m => s"CN$m") ++ (0 until q).map(m => s"CGN$m")
    val probed = stepTable.join(broadcast(probeDf), col("__t") <= col("t_star"), "right")
      .groupBy(col("t_star"))
      .agg(max_by(struct(constCols.map(col): _*), col("__t")).as("s"))
      .select(col("t_star") +: constCols.map(c => col(s"s.$c").as(c)): _*)
      .collect()
    val consts: Map[Double, Row] =
      probed.map(r => r.getDouble(0) -> r).toMap
    def cst(r: Row, name: String): Double =
      if (r.isNullAt(r.fieldIndex(name))) 0.0 else r.getDouble(r.fieldIndex(name))

    // ---- unit side: exact join on t (every t_i is in the step table;
    //      the γ-chain terms are t*-constants and need no unit lookup) ----
    val unitStep0 = stepTable.select(col("__t"), col("Z"), col("GL"),
      col("EA"), col("EB"))
    val unitStep = if (sizeHint == Windows.SizeHint.Small) broadcast(unitStep0)
                   else unitStep0
    // LEFT join: the step table may lack survey-only times; such rows
    // have __d = __rh = __dsc = 0, so every step-value use vanishes —
    // the coalesces only stop 0·null = null propagation.
    val units = base.join(unitStep, Seq("__t"), "left")
      .withColumn("Z", coalesce(col("Z"), lit(1.0)))
      .withColumn("GL", coalesce(col("GL"), lit(0.0)))
      .withColumn("EA", coalesce(col("EA"), lit(0.0)))
      .withColumn("EB", coalesce(col("EB"), lit(0.0)))

    // ---- per-t* deviates, exploded long. ONE parametric expression set
    //      indexed into literal constant arrays (element_at), not |t*|
    //      inlined copies: each deviate inlines the full β-chain tree,
    //      and struct-per-t* multiplied that tree by |t*|·|estimands|,
    //      blowing up codegen (measured 3-4× slower at |t*|=5 with the
    //      Gail+risk fields on). ----
    val rr0 = risk.map(rp => math.exp(
      rp.x0.indices.map(m => rp.x0(m) * rp.beta(m)).sum))
    val tsSorted = tStar.sorted
    def cArr(name: String): Column =
      array(tsSorted.map(ts => lit(cst(consts(ts), name))): _*)
    val idx = col("__pos") + 1 // element_at is 1-based
    def at(name: String): Column = element_at(cArr(name), idx)

    val dLambda =
      col("__dsc") * (
        when(col("__d") === 1.0 && col("__t") <= col("t_star"),
          lit(1.0) / col("Z")).otherwise(0.0) -
        col("__rh") * least(col("GL"), at("GL"))) -
      (0 until p).map(j => col(s"__db$j") * at(s"C$j"))
        .foldLeft(lit(0.0): Column)(_ + _) +
      (0 until q).map(m => col(s"__gd$m") * at(s"CN$m"))
        .foldLeft(lit(0.0): Column)(_ + _)
    val dGail =
      col("__dsc") * (
        least(col("EA"), at("GA")) -
        col("__rh") * least(col("EB"), at("GB"))) -
      (0 until p).map(j => col(s"__db$j") * at(s"CG$j"))
        .foldLeft(lit(0.0): Column)(_ + _) +
      (0 until q).map(m => col(s"__gd$m") * at(s"CGN$m"))
        .foldLeft(lit(0.0): Column)(_ + _)
    val outFields = Seq(at("LAM").as("cum_hzd"), dLambda.as("d_cum_hzd")) ++
      (if (needGail) Seq(at("LG").as("cum_gail"), dGail.as("d_cum_gail"))
       else Nil) ++
      rr0.toSeq.flatMap { rr =>
        val dbx = risk.get.x0.indices
          .map(m => col(s"__db$m") * lit(risk.get.x0(m)))
          .foldLeft(lit(0.0): Column)(_ + _)
        def aRArr(src: String): Column = array(tsSorted.map(ts =>
          lit(1.0 - math.exp(-cst(consts(ts), src) * rr))): _*)
        def sclArr(src: String): Column = array(tsSorted.map(ts =>
          lit(math.exp(-cst(consts(ts), src) * rr) * rr)): _*)
        Seq(element_at(aRArr("LAM"), idx).as("abs_risk"),
          (element_at(sclArr("LAM"), idx) * (at("LAM") * dbx + dLambda))
            .as("d_abs_risk")) ++
          (if (needGail)
            Seq(element_at(aRArr("LG"), idx).as("abs_risk_gail"),
              (element_at(sclArr("LG"), idx) * (at("LG") * dbx + dGail))
                .as("d_abs_risk_gail"))
           else Nil)
      }
    // passthrough column names = base's trailing columns after the fixed block
    val passNames = base.columns.drop(5 + 2 * p + q).toSeq
    val keep = Seq("__t", "__d", "__w", "__rh") ++
      (0 until p).map(j => s"__x$j") ++
      (0 until p).map(j => s"__db$j") ++ passNames
    val exploded = units
      .select(col("*"),
        posexplode(array(tsSorted.map(lit(_)): _*)).as(Seq("__pos", "t_star")))
      .select((keep.map(col) :+ col("t_star")) ++ outFields: _*)
    scanned.unpersist()
    exploded
  }

  /** Dense per-(unit, event-time) λ/ar deviates — the literal reference
    * matrices `lambda_wt` / `ar_wt` (taylor_deviate.R:873-876, basic
    * branch 796-798). Materializes n×|events| rows: use for validation
    * and small event grids; the scale path is cumulativeDeviates.
    * Returns (unit cols…, u, lambda, ar, d_lambda, d_ar). */
  def lambdaArDeviates(
      devFrame: DataFrame, p: Int,
      betaDevPrefix: String = "dbeta_"): DataFrame = {
    val base = devFrame.select((Seq(col("__t"), col("__d"), col("__w"),
      col("__rh")) ++ (0 until p).map(j => col(s"__x$j")) ++
      (0 until p).map(j => col(s"$betaDevPrefix$j").as(s"__db$j"))): _*)
    val events = RiskSet.steps(base, col("__t"), col("__d"), col("__w"),
        col("__rh"), (0 until p).map(j => col(s"__x$j")))
      .filter(col("N") > 0.0)
      .select((Seq(col("t").as("u"), (col("N") / col("Z")).as("lambda"),
        (lit(1.0) - col("Y") / col("Z")).as("ar"), col("Z").as("uZ")) ++
        (0 until p).map(j => col(s"A$j"))): _*)
    val pairs = base.crossJoin(broadcast(events))
    val chain = (0 until p).map(j => col(s"__db$j") * col(s"A$j"))
      .foldLeft(lit(0.0): Column)(_ + _)
    val atRisk = (col("__t") >= col("u")).cast("double")
    val ntw = col("__d") * (col("__t") === col("u")).cast("double")
    val ztw = col("__rh") * atRisk + chain
    val ytw = atRisk
    pairs.select((Seq(col("__t"), col("__d"), col("__w"), col("__rh"),
      col("u"), col("lambda"), col("ar"),
      ((ntw - col("lambda") * ztw) / col("uZ")).as("d_lambda"),
      (-(ytw - (lit(1.0) - col("ar")) * ztw) / col("uZ")).as("d_ar")) ++
      (0 until p).map(j => col(s"__x$j")) ++
      (0 until p).map(j => col(s"__db$j"))): _*)
  }

  /** Poisson-linearization variance of the cumulated estimand per t*
    * (taylor_deviate.R:110-111): Σ_i (1−π_i)·Δ_i², Δ = psWeight·deviate. */
  def poissonVariance(
      longDf: DataFrame, devCol: Column, psWeight: Column,
      pi: Column): DataFrame =
    longDf.groupBy(col("t_star"))
      .agg(sum((lit(1.0) - pi) * psWeight * devCol * psWeight * devCol)
        .as("var_poisson"))
      .orderBy(col("t_star"))

  /** With-replacement PPS variance per t* (taylor_deviate.R:109):
    * n·cov(Δ). */
  def ppsVariance(longDf: DataFrame, devCol: Column, psWeight: Column): DataFrame =
    longDf.groupBy(col("t_star"))
      .agg((covar_samp(psWeight * devCol, psWeight * devCol) * count(lit(1)))
        .as("var_pps"))
      .orderBy(col("t_star"))
}
