package graft.core

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}
import scala.collection.immutable.ListMap

/** Ordering-dependent computation (SURVEY.md O1-O5) at scale.
  *
  * The reference's risk-set suffix-cumsums (`rev(cumsum(rev(...)))`,
  * taylor_deviate.R:616-617,1027) and hazard prefix-cumsums (`cumsum`,
  * taylor_deviate.R:890) are GLOBAL ordered scans. The naive Spark
  * translation — `Window.orderBy(t)` with no partitionBy — funnels the
  * whole dataset through ONE task, which is the canonical 100-TB
  * bottleneck. `scan` instead does the classic two-phase distributed
  * prefix sum: range-repartition on the order key, local per-partition
  * running sums, a tiny driver-side exclusive-offset pass over the
  * per-partition totals (one row per partition), and a broadcast join
  * of the offsets back. Wall-clock is O(n/partitions), not O(n).
  */
object Windows {

  /** Caller knowledge about the scan input's cardinality: `Small` skips
    * the probe and uses a single-partition window; `Large` goes straight
    * to the two-phase scan; `Auto` resolves to one of the two with a
    * head(threshold+1) probe job (see [[resolve]]).
    *
    * A public entry point pays at most one probe; later scans inherit
    * the answer ([[SizeHint.inherited]]):
    *  - iterative fitters probe once and pass the answer to every
    *    iteration (`CoxPH.fit`'s cardinality probe);
    *  - `hazard.RiskSet.sized` returns the class its scan resolved to,
    *    and Breslow's prefix scan over the table's event rows takes it;
    *  - the IPSW/KW chains take the class from `CoxPH.fit`'s probe,
    *    whose distinct-time count over the cohort is exactly the row
    *    count of the chain's RiskSet table, and pass it to RiskSet,
    *    CoxInfluence and HazardInfluence.
    * Only `Small` is inherited: a filter or projection of a table under
    * the threshold is itself under it, while a table derived from a
    * `Large` one may not be, and the two-phase scan sums in a different
    * order than the single window — so such a table keeps its own probe. */
  sealed trait SizeHint
  object SizeHint {
    case object Auto extends SizeHint
    case object Small extends SizeHint
    case object Large extends SizeHint

    /** The hint for a scan over a filter or projection of a table whose
      * own scan was `declared` and resolved to `resolved`. */
    def inherited(declared: SizeHint, resolved: SizeHint): SizeHint =
      if (resolved == Small) Small else declared
  }

  /** The class `hint` resolves to for `df`: `Small`/`Large` as given;
    * `Auto` runs one head(smallThreshold+1) probe job. Step tables that
    * have already been tie-collapsed (distinct event times, monthly
    * buckets, ...) are usually tiny, and a single-partition window is
    * then cheaper than the range-sampling + offset machinery. head(N+1)
    * terminates early; the probe's upstream work is paid once more at
    * the caller's action rather than cached. */
  def resolve(df: DataFrame, hint: SizeHint, smallThreshold: Int = 20000): SizeHint =
    hint match {
      case SizeHint.Auto =>
        if (smallThreshold > 0 &&
            df.head(smallThreshold + 1).length <= smallThreshold) SizeHint.Small
        else SizeHint.Large
      case declared => declared
    }

  private val PID = "__graft_pid"
  private val LOCAL = "__graft_local_"

  /** Running (cumulative-inclusive) sums of each `(value, alias)` in the
    * order given by `orderCols` (use `desc(c)` entries for suffix sums).
    * Output = input columns + one `alias` column per pair.
    *
    * `numParts <= 0` keeps the session's shuffle parallelism.
    */
  def scan(
      df: DataFrame,
      orderCols: Seq[Column],
      sums: Seq[(Column, String)],
      numParts: Int = -1,
      smallThreshold: Int = 20000,
      sizeHint: SizeHint = SizeHint.Auto,
      release: Option[scala.collection.mutable.Buffer[DataFrame]] = None): DataFrame = {
    val spark = df.sparkSession
    def smallPath(input: DataFrame): DataFrame = {
      val w = Window.orderBy(orderCols: _*)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      input.withColumns(ListMap(sums.map { case (c, alias) =>
        alias -> sum(c.cast("double")).over(w) }: _*))
    }
    if (resolve(df, sizeHint, smallThreshold) == SizeHint.Small) return smallPath(df)
    val n = if (numParts > 0) numParts
            else spark.conf.get("spark.sql.shuffle.partitions").toInt
    val ranged = df.repartitionByRange(n, orderCols: _*)
      .withColumn(PID, spark_partition_id())
    val w = Window.partitionBy(col(PID)).orderBy(orderCols: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    var local = ranged.withColumns(localSums(sums, w))
    // Pinning `local` is CORRECTNESS-critical, not a cache: the offsets
    // are computed against one concrete range partitioning, and
    // repartitionByRange re-samples boundaries on re-materialization.
    // Callers that fully consume the result within one action pass
    // `release` and unpersist afterwards (CoxPH's NR loop does); for
    // everyone else a LAZY localCheckpoint gives the same stability but
    // self-releases when the plan is GC'd — no cached partitions pinned
    // until a harness clearCache (same rationale as RelationalQueries5's
    // p_mad_outlier). Cluster trade-off: localCheckpoint truncates
    // lineage into non-reliable executor storage, so executor loss after
    // materialization FAILS the job instead of recomputing. That
    // fail-fast is the correct default here — a recompute would
    // re-sample range boundaries and silently mis-align the offsets —
    // but fault-tolerant deployments that prefer retry-with-recompute
    // semantics should pass a `release` buffer (persist + explicit
    // unpersist), which keeps full lineage.
    local = release match {
      case Some(buf) => val p = local.persist(); buf += p; p
      case None => local.localCheckpoint(eager = false)
    }

    // Per-partition totals: one row per partition — the collect is tiny
    // (numParts rows), independent of data size.
    val aggs = sums.zipWithIndex.map { case ((c, _), i) =>
      sum(c.cast("double")).as(s"t$i")
    }
    val totals = local.groupBy(col(PID)).agg(aggs.head, aggs.tail: _*)
      .collect()
      .map { r =>
        val pid = r.getInt(0)
        val t = sums.indices.map(i =>
          if (r.isNullAt(i + 1)) 0.0 else r.getDouble(i + 1)).toArray
        (pid, t)
      }
      .sortBy(_._1)

    // Exclusive prefix offsets by partition id → broadcast-joined back.
    val acc = new Array[Double](sums.length)
    val offRows = totals.map { case (pid, tot) =>
      val row = pid +: acc.clone().toSeq
      var i = 0; while (i < acc.length) { acc(i) += tot(i); i += 1 }
      row
    }
    val offDf = spark.createDataFrame(
      spark.sparkContext.parallelize(offRows.toSeq.map(org.apache.spark.sql.Row.fromSeq), 1),
      org.apache.spark.sql.types.StructType(
        org.apache.spark.sql.types.StructField(PID, org.apache.spark.sql.types.IntegerType) +:
          sums.indices.map(i => org.apache.spark.sql.types.StructField(
            s"__graft_off_$i", org.apache.spark.sql.types.DoubleType))))
    val out = local.join(broadcast(offDf), Seq(PID), "left")
      .withColumns(offsetSums(sums))
    val tmpCols = Seq(PID) ++ sums.indices.map(LOCAL + _) ++
      sums.indices.map(i => s"__graft_off_$i")
    out.drop(tmpCols: _*)
  }

  // one multi-column step per scan phase: a withColumn per sum column
  // would re-analyse the whole plan once per column (Catalyst's
  // CollapseWindow merges the windows either way, so the physical plan
  // is the same)
  private def localSums(sums: Seq[(Column, String)],
      w: org.apache.spark.sql.expressions.WindowSpec): ListMap[String, Column] =
    ListMap(sums.indices.map(i => (LOCAL + i) -> sum(sums(i)._1.cast("double")).over(w)): _*)

  private def offsetSums(sums: Seq[(Column, String)]): ListMap[String, Column] =
    ListMap(sums.indices.map(i => sums(i)._2 ->
      (col(LOCAL + i) + coalesce(col(s"__graft_off_$i"), lit(0.0)))): _*)

  private val GRP = "__graft_g"

  /** Grouped running (cumulative-inclusive) sums: like [[scan]] but the
    * sums reset per group. The naive `Window.partitionBy(group)`
    * funnels each group through ONE task — with dimension-sized group
    * cardinality (return flags, languages, segments) that is a handful
    * of tasks for the whole table, the classic grouped-scan skew trap.
    * Here the data is range-partitioned on (group, order) so each
    * group's order is contiguous ACROSS partitions, local running sums
    * are computed per (partition, group), and per-group exclusive
    * offsets come from the (≤ partitions + groups)-row boundary table —
    * itself adjusted with a tiny window and broadcast back. Full
    * parallelism at any group count, no driver collect.
    */
  def groupedScan(
      df: DataFrame,
      groupCols: Seq[Column],
      orderCols: Seq[Column],
      sums: Seq[(Column, String)],
      numParts: Int = -1,
      smallThreshold: Int = 20000,
      sizeHint: SizeHint = SizeHint.Auto,
      release: Option[scala.collection.mutable.Buffer[DataFrame]] = None): DataFrame = {
    val spark = df.sparkSession
    val keyed = df.withColumns(ListMap(groupCols.indices.map(i => (GRP + i) -> groupCols(i)): _*))
    val gcols = groupCols.indices.map(i => col(GRP + i))
    def smallPath(input: DataFrame): DataFrame = {
      val w = Window.partitionBy(gcols: _*).orderBy(orderCols: _*)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      input.withColumns(ListMap(sums.map { case (c, alias) =>
        alias -> sum(c.cast("double")).over(w) }: _*))
        .drop(groupCols.indices.map(GRP + _): _*)
    }
    if (resolve(keyed, sizeHint, smallThreshold) == SizeHint.Small)
      return smallPath(keyed)
    val n = if (numParts > 0) numParts
            else spark.conf.get("spark.sql.shuffle.partitions").toInt
    val ranged = keyed.repartitionByRange(n, (gcols ++ orderCols): _*)
      .withColumn(PID, spark_partition_id())
    val w = Window.partitionBy((col(PID) +: gcols): _*).orderBy(orderCols: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    var local = ranged.withColumns(localSums(sums, w))
    // pinning is CORRECTNESS-critical (see scan): offsets must see the
    // same concrete range partitioning as the joined-back rows
    local = release match {
      case Some(buf) => val p = local.persist(); buf += p; p
      case None => local.localCheckpoint(eager = false)
    }

    val aggs = sums.zipWithIndex.map { case ((c, _), i) =>
      sum(c.cast("double")).as(s"t$i")
    }
    // boundary table: one row per (partition, group) slice present —
    // bounded by partitions + groups, so the offset window is trivial
    val totals = local.groupBy((col(PID) +: gcols): _*).agg(aggs.head, aggs.tail: _*)
    val offW = Window.partitionBy(gcols: _*).orderBy(col(PID))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offDf = totals.withColumns(ListMap(sums.indices.map(i =>
        s"__graft_off_$i" -> coalesce(sum(col(s"t$i")).over(offW), lit(0.0))): _*))
      .drop(sums.indices.map(i => s"t$i"): _*)
    val out = local.join(broadcast(offDf), (Seq(PID) ++ groupCols.indices.map(GRP + _)), "left")
      .withColumns(offsetSums(sums))
    val tmpCols = Seq(PID) ++ sums.indices.map(LOCAL + _) ++
      sums.indices.map(i => s"__graft_off_$i") ++ groupCols.indices.map(GRP + _)
    out.drop(tmpCols: _*)
  }

  /** Convenience: single-column global cumulative sum. */
  def cumSum(df: DataFrame, order: Column, value: Column, alias: String): DataFrame =
    scan(df, Seq(order), Seq(value -> alias))

  /** Suffix (reverse) cumulative sums — risk-set totals O3. */
  def suffixSum(df: DataFrame, order: Column, sums: Seq[(Column, String)]): DataFrame =
    scan(df, Seq(order.desc), sums)
}
