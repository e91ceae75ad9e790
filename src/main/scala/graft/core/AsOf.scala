package graft.core

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/** Step-function machinery (SURVEY.md J4/J5).
  *
  * The reference evaluates cumulative-hazard step functions at a grid of
  * t* points via an `outer` + `which.max` idiom
  * (taylor_deviate.R:888-890,1041-1049) and merges two step functions
  * with a full outer join + last-observation-carried-forward gap fill
  * (taylor_deviate.R:908-912). Spark-first:
  *
  *  - as-of lookup = inequality join against the (tiny, broadcast) probe
  *    grid + `max_by` per probe — linear in the step table, no window.
  *  - LOCF = [[Windows]]' ordered scan with the last-non-null operator:
  *    one window over a small step table, the two-phase scan over a
  *    large one.
  */
object AsOf {

  /** Value of the step function (`tCol`, `valueCol`) at each probe time:
    * the value at the greatest t <= probe (0-height before first step ⇒
    * `default`). Probes are dimension-sized and broadcast. */
  def lookup(
      steps: DataFrame, tCol: Column, valueCol: Column,
      probes: Seq[Double], default: Double = 0.0): DataFrame = {
    val spark = steps.sparkSession
    import spark.implicits._
    val probeDf = probes.toDF("t_star")
    val s = steps.select(tCol.cast("double").as("__t"), valueCol.cast("double").as("__v"))
    s.join(broadcast(probeDf), col("__t") <= col("t_star"), "right")
      .groupBy(col("t_star"))
      .agg(coalesce(max_by(col("__v"), col("__t")), lit(default)).as("value"))
  }

  /** [[locfPartitioned]] over a step table known to be small: one
    * window, no probe and no shuffle. */
  def locf(df: DataFrame, order: Column, cols: Seq[String]): DataFrame =
    locfPartitioned(df, order, cols, Windows.SizeHint.Small)

  /** LOCF gap-fill of `cols` in ascending `order`: each null takes the
    * last non-null value before it. `sizeHint` follows [[Windows.scan]]'s
    * contract: `Small` is one window, `Large` the two-phase scan, `Auto`
    * probes. The carry is exact, so every path gives the same values,
    * each in its column's own type. */
  def locfPartitioned(df: DataFrame, order: Column, cols: Seq[String],
      sizeHint: Windows.SizeHint = Windows.SizeHint.Auto): DataFrame =
    Windows.ordered(df, Nil, Seq(order), Windows.Running.LastNonNull,
      cols.map(c => col(c) -> c), sizeHint, release = None)
}
