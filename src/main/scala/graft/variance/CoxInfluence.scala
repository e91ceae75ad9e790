package graft.variance

import graft.core.{LinAlg, Windows}
import graft.hazard.RiskSet
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/** Per-unit Cox-score influence deviates (SURVEY.md M13) — the
  * reference's `beta_pw.cox` (taylor_deviate.R:601-742, no-post path).
  *
  * The reference loops over event times accumulating an n×p matrix
  * (U_w_2). Algebraically the loop collapses to the martingale-residual
  * form, which is what the engine computes — O(n) distributed, never an
  * n×|events| intermediate:
  *
  *   Ui_j = d_i·(x_ij − A_j(t_i)/Z(t_i))
  *        − rh_i·(x_ij·G0(t_i) − G1_j(t_i))
  *   G0(t)   = Σ_{events u ≤ t} N_u / Z(u)
  *   G1_j(t) = Σ_{events u ≤ t} N_u · A_j(u) / Z(u)²
  *
  * with N, Z (= S0) and A_j (= S1_j) from the hazard.RiskSet step table.
  * Pipeline: RiskSet table → event-time prefix scan (G0, G1) → join
  * Z/A/G values back to unit rows by t (every t_i is in the step table,
  * so the step functions are read exactly at t_i). The β deviates are
  * Δ_i = I⁻¹·Ui — a constant p×p driver-side matrix applied as
  * codegen'd expressions.
  */
object CoxInfluence {

  /** Returns the input frame projected to the chain convention (__t,
    * __d, __w, __x0..__x{p-1}, passthrough, __rh) + the step values
    * (Z, A_j, G0, G1_j), per-unit score columns `ui_0..ui_{p-1}` and
    * β-deviate columns `dbeta_0..dbeta_{p-1}`. */
  def deviates(
      df: DataFrame,
      time: Column, event: Column, weight: Column,
      features: Seq[Column],
      beta: Array[Double],
      infoPacked: Array[Double],
      passthrough: Seq[Column] = Nil,
      sizeHint: Windows.SizeHint = Windows.SizeHint.Auto): DataFrame =
    deviates(df, time, event, weight, features, beta, infoPacked,
      RiskSet.steps(df, time, event, weight, relHzd(features, beta), features,
        sizeHint = sizeHint),
      passthrough, sizeHint)

  /** As above, on a RiskSet step table the caller built from the same
    * (time, event, weight, relHzd(features, beta), features) — so one
    * table can also feed `HazardInfluence.cumulativeDeviates`. */
  def deviates(
      df: DataFrame,
      time: Column, event: Column, weight: Column,
      features: Seq[Column],
      beta: Array[Double],
      infoPacked: Array[Double],
      steps: DataFrame,
      passthrough: Seq[Column],
      sizeHint: Windows.SizeHint): DataFrame = {
    val p = features.length
    val x = features.indices.map(j => features(j).cast("double").as(s"__x$j"))
    val base = df.select((Seq(time.cast("double").as("__t"),
      event.cast("double").as("__d"), weight.cast("double").as("__w")) ++ x
      ++ passthrough): _*)
      .withColumn("__rh", relHzd((0 until p).map(j => col(s"__x$j")), beta))

    // event-time prefix sums G0, G1_j (zero increment at non-event times
    // keeps every t in the step table for the back-join)
    val gCols = (when(col("N") > 0, col("N") / col("Z")).otherwise(0.0) -> "G0") +:
      (0 until p).map(j =>
        (when(col("N") > 0, col("N") * col(s"A$j") / (col("Z") * col("Z")))
          .otherwise(0.0)) -> s"G1$j")
    val gSteps = Windows.scan(steps, Seq(col("t")), gCols, sizeHint = sizeHint)
      .select((col("t").as("__t") +: col("Z") +:
        (0 until p).map(j => col(s"A$j")) ++:
        col("G0") +: (0 until p).map(j => col(s"G1$j"))): _*)

    // join Z/A/G back to unit rows by exact t (every t_i is in steps);
    // a Small step table broadcasts — no shuffle of the unit rows
    val stepsSide = if (sizeHint == Windows.SizeHint.Small) broadcast(gSteps)
                    else gSteps
    val joined = base.join(stepsSide, Seq("__t"))

    val ui = (0 until p).map { j =>
      (col("__d") * (col(s"__x$j") - col(s"A$j") / col("Z")) -
        col("__rh") * (col(s"__x$j") * col("G0") - col(s"G1$j"))).as(s"ui_$j")
    }
    val withUi = joined.select((joined.columns.map(col).toSeq ++ ui): _*)

    val iinv = LinAlg.inverse(LinAlg.unpack(p, infoPacked))
    val dbeta = (0 until p).map { r =>
      (0 until p).map(j => lit(iinv(r, j)) * col(s"ui_$j")).reduce(_ + _).as(s"dbeta_$r")
    }
    withUi.select((withUi.columns.map(col).toSeq ++ dbeta): _*)
  }

  /** Relative hazard e^{x'β}, the `relHzd` of the RiskSet table the
    * deviates read. */
  def relHzd(features: Seq[Column], beta: Array[Double]): Column =
    exp(beta.zipWithIndex.map { case (b, j) => features(j).cast("double") * lit(b) }
      .foldLeft(lit(0.0): Column)(_ + _))

  /** Post-stratified variant (the reference's `post` branch,
    * taylor_deviate.R:670-742, with `post.f`'s factored f_w,
    * 957-982). The reference accumulates an extra n×p loop term
    * (U_w_3 − U_w_4) through the block-structured ∂f/∂w Jacobian;
    * swapping the summation order collapses the whole branch to
    *
    *   Ui_post(i) = f_h(i)·Ui_base(i) + v_h(i) · Σ_{j∈h(i)} pw_j·Ui_base(j)
    *   v_h = −f_h/N̂_h,  f_h = N_h/N̂_h
    *
    * where Ui_base is the plain per-unit score influence computed at the
    * post-stratified weights w = f·pw. So the post path costs exactly
    * one extra per-cell aggregate + broadcast join — never the n×n
    * Jacobian the reference refuses to materialize (its `Large` flag).
    * Verified to machine precision against the reference's literal loop.
    *
    * @param popTotals (cell, N_h) population totals, dimension-sized
    */
  def deviatesPostStratified(
      df: DataFrame,
      time: Column, event: Column, baseWeight: Column, cell: Column,
      popTotals: DataFrame,
      features: Seq[Column],
      beta: Array[Double],
      infoPacked: Array[Double]): DataFrame = {
    val p = features.length
    // post factors per cell
    val hat = df.groupBy(cell.as("__cell"))
      .agg(sum(baseWeight.cast("double")).as("__Nh_hat"))
    val factors = hat.join(
        popTotals.select(col(popTotals.columns.head).as("__cell"),
          col(popTotals.columns(1)).cast("double").as("__Nh")), Seq("__cell"))
      .select(col("__cell"), (col("__Nh") / col("__Nh_hat")).as("__f"),
        (-col("__Nh") / (col("__Nh_hat") * col("__Nh_hat"))).as("__v"))
    val withF = df.withColumn("__cell", cell)
      .join(broadcast(factors), Seq("__cell"))
      .withColumn("__pw", baseWeight.cast("double"))

    // base influence at the post-stratified weights w = f·pw
    val dev = deviates(withF, time, event, col("__f") * col("__pw"),
      features, beta, infoPacked,
      passthrough = Seq(col("__cell"), col("__f"), col("__v"), col("__pw")))

    // per-cell Σ pw_j · Ui_base(j)
    val cellAggs = (0 until p).map(j =>
      sum(col("__pw") * col(s"ui_$j")).as(s"__cs$j"))
    val cellSums = dev.groupBy(col("__cell")).agg(cellAggs.head, cellAggs.tail: _*)
    val joined = dev.join(broadcast(cellSums), Seq("__cell"))

    val uiPost = (0 until p).map { j =>
      (col("__f") * col(s"ui_$j") + col("__v") * col(s"__cs$j")).as(s"ui_post_$j")
    }
    val withPost = joined.select((joined.columns.map(col).toSeq ++ uiPost): _*)
    val iinv = LinAlg.inverse(LinAlg.unpack(p, infoPacked))
    val dbeta = (0 until p).map { r =>
      (0 until p).map(j => lit(iinv(r, j)) * col(s"ui_post_$j")).reduce(_ + _)
        .as(s"dbeta_post_$r")
    }
    withPost.select((withPost.columns.map(col).toSeq ++ dbeta): _*)
  }
}
