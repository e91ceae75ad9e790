package graft.weights

import graft.core.{Pin, Windows}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/** Raking / iterative proportional fitting — the multiplicative
  * sibling of the reference's calibration family (GREG adjusts
  * additively via the normal equations, post-stratification adjusts one
  * margin exactly; raking alternates post-stratification across SEVERAL
  * margins until all match — the classic survey weighting loop).
  *
  * Each sweep, for each margin dimension: N̂_h = Σ_{i∈h} w_i per cell,
  * factor f_h = N_h / N̂_h, w ← w·f_h.
  *
  * Distributed shape: a row's final raked weight is its design weight
  * times the product of every factor its cells received — and that
  * product is identical for all rows in the same JOINT cell. So the
  * whole IPF needs exactly ONE distributed pass: aggregate the joint
  * contingency table (cells ≤ product of margin cardinalities — control
  * totals are dimension-sized by construction), run every sweep on the
  * driver over that kilobyte-scale table, and apply the per-joint-cell
  * factor s_final/s_initial as a single map-literal lookup expression.
  * No join, no shuffle of the sample, no per-sweep job: the previous
  * formulation ran sweeps×dims sequential driver-synced aggregates
  * (each re-scanning the sample), which was job-count-bound at any
  * scale. A guarded fallback keeps the sequential path for the
  * degenerate case of an unbounded joint-cell count.
  *
  * Pinned `sweeps` makes the fixed point replayable by a DuckDB oracle
  * (`m18_raking`); IPF is a contraction on the log-weights, so engine
  * ulp differences decay across sweeps rather than amplifying.
  */
object Raking {

  // joint keys are concat-joined for the final map lookup; nulls get a
  // sentinel so ("x", null) can never collide with (null, "x")
  private val Sep = ""
  private val NullKey = "null"

  /** @param df      sample rows
    * @param weight  design-weight column
    * @param margins (cell column, targets frame) per dimension; each
    *                targets frame is (cell, target) dimension-sized
    * @param sweeps  full passes over all margins
    * @param maxJointCells guard for the driver-side contingency table
    *                (and the factor map literal); above it the
    *                per-sweep distributed path runs instead
    * @return df + `rake_wt` (adjusted weight)
    */
  def rake(df: DataFrame, weight: Column,
      margins: Seq[(Column, DataFrame)], sweeps: Int,
      maxJointCells: Int = 4096): DataFrame = {
    val dims = margins.zipWithIndex
    var base = df.withColumn("rake_wt", weight.cast("double"))
    dims.foreach { case ((cell, _), i) =>
      base = base.withColumn(s"__rk$i", cell.cast("string"))
    }
    val cellCols = dims.map { case (_, i) => col(s"__rk$i") }

    // control totals to the driver, once per dimension; a missing (or
    // null) cell keeps factor 1.0 — a partial targets table must not
    // silently delete sample rows (inner-join semantics would)
    val targetMaps: Seq[Map[String, Double]] = margins.map { case (_, tg) =>
      tg.select(col(tg.columns.head).cast("string"),
          col(tg.columns(1)).cast("double"))
        .collect().filter(r => !r.isNullAt(0) && !r.isNullAt(1))
        .map(r => r.getString(0) -> r.getDouble(1)).toMap
    }

    // ONE distributed aggregate: the joint contingency table
    val joint = base.groupBy(cellCols: _*)
      .agg(sum(col("rake_wt")).as("__s"))
      .limit(maxJointCells + 1).collect()
    if (joint.length > maxJointCells)
      return rakeSequential(base, dims, targetMaps, sweeps)

    // driver-side IPF over the joint cells
    val keys: Array[Array[String]] = joint.map(r =>
      dims.map { case (_, i) =>
        if (r.isNullAt(i)) null else r.getString(i) }.toArray)
    val s0: Array[Double] = joint.map(_.getDouble(dims.length))
    val s = s0.clone()
    for (_ <- 1 to sweeps; ((_, _), i) <- dims) {
      val hat = new scala.collection.mutable.HashMap[String, Double]()
      var j = 0
      while (j < s.length) {
        val k = keys(j)(i)
        if (k != null) hat.update(k, hat.getOrElse(k, 0.0) + s(j))
        j += 1
      }
      j = 0
      while (j < s.length) {
        val k = keys(j)(i)
        if (k != null && hat.getOrElse(k, 0.0) != 0.0)
          targetMaps(i).get(k).foreach(t => s(j) *= t / hat(k))
        j += 1
      }
    }
    val factors = keys.indices.flatMap { j =>
      if (s0(j) != 0.0 && s(j) != s0(j))
        Some(keys(j).map(k => if (k == null) NullKey else k).mkString(Sep)
          -> s(j) / s0(j))
      else None
    }

    val applied =
      if (factors.isEmpty) base
      else {
        val m = map(factors.flatMap { case (k, v) => Seq(lit(k), lit(v)) }: _*)
        val key = concat_ws(Sep,
          cellCols.map(c => coalesce(c, lit(NullKey))): _*)
        base.withColumn("rake_wt",
          col("rake_wt") * coalesce(element_at(m, key), lit(1.0)))
      }
    applied.drop(dims.map { case (_, i) => s"__rk$i" }: _*)
  }

  /** Per-sweep distributed fallback for an unbounded joint-cell count:
    * sweeps × dims sequential grouped aggregates against a narrow
    * projection pinned Large (core.Pin), factors applied as growing
    * map-literal expressions (margin cardinality stays bounded even when
    * the JOINT table is not). */
  private def rakeSequential(base: DataFrame,
      dims: Seq[((Column, DataFrame), Int)],
      targetMaps: Seq[Map[String, Double]], sweeps: Int): DataFrame = {
    val wt = Pin(base, Windows.SizeHint.Large) { (pinned, _) =>
      (1 to sweeps).flatMap(_ => dims.map(_._2)).foldLeft(col("rake_wt")) { (wt, i) =>
        val hat = pinned.groupBy(col(s"__rk$i")).agg(sum(wt).as("hat"))
          .collect().filter(!_.isNullAt(0))
          .map(r => r.getString(0) -> r.getDouble(1))
        val factors = hat.flatMap { case (cell, h) =>
          targetMaps(i).get(cell).map(t => cell -> t / h)
        }.toMap
        if (factors.isEmpty) wt
        else wt * coalesce(element_at(map(factors.toSeq.flatMap { case (k, v) =>
          Seq(lit(k), lit(v)) }: _*), col(s"__rk$i")), lit(1.0))
      }
    }
    base.withColumn("rake_wt", wt)
      .drop(dims.map { case (_, i) => s"__rk$i" }: _*)
  }
}
