package graft.core

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, GraftSqlBridge, Row}
import scala.collection.immutable.ListMap

/** Ordering-dependent computation (SURVEY.md O1-O5) at scale.
  *
  * The reference's risk-set suffix-cumsums (`rev(cumsum(rev(...)))`,
  * taylor_deviate.R:616-617,1027), hazard prefix-cumsums (`cumsum`,
  * taylor_deviate.R:890) and the LOCF gap fill of its step-function
  * merge (taylor_deviate.R:908-912, [[AsOf]]) are ordered scans: a
  * running operator — a sum or the last non-null value — over an
  * ordered table, optionally reset per group. The naive Spark
  * translation — `Window.orderBy(t)` with no partitionBy — funnels the
  * whole dataset through ONE task, which is the canonical 100-TB
  * bottleneck, and `Window.partitionBy(group)` funnels each group
  * through one task. Every scan here runs through one two-phase
  * implementation ([[ordered]]):
  *  1. range-repartition on group keys ++ order keys, so each group's
  *     order is contiguous ACROSS partitions;
  *  2. a running window per (partition, group);
  *  3. a boundary table with one summary row per (partition, group)
  *     slice — at most partitions + groups rows;
  *  4. each slice's carry-in: the running operator over the preceding
  *     partitions of its group, a window over the boundary table;
  *  5. a broadcast join of the carries back.
  * Wall-clock is O(n/partitions), not O(n), and no rows reach the
  * driver.
  */
object Windows {

  /** Row count at or under which a scan input is `Small`: probed by
    * [[resolve]] and by the fitters that size their step tables once
    * (`CoxPH.fit`, `CoxPHReplicated.fit`), and by [[Pin]]. */
  val SmallRows = 20000

  /** Caller knowledge about the scan input's cardinality: `Small` skips
    * the probe and uses a single-partition window; `Large` goes straight
    * to the two-phase scan; `Auto` resolves to one of the two with a
    * head(SmallRows+1) probe job (see [[resolve]]).
    *
    * A public entry point pays at most one probe; later scans inherit
    * the answer ([[SizeHint.inherited]]):
    *  - iterative fitters size once and pass the answer to every
    *    iteration (`CoxPH.fit`'s fetch of a Small input, else its
    *    cardinality probe);
    *  - `hazard.RiskSet.sized` returns the class its scan resolved to,
    *    and Breslow's prefix scan over the table's event rows takes it;
    *  - the IPSW/KW chains take the class from `CoxPH.fit`, whose fetch
    *    or probe bounds the cohort's distinct-time count, which is
    *    exactly the row count of the chain's RiskSet table, and pass it
    *    to RiskSet, CoxInfluence and HazardInfluence.
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
    * `Auto` runs one head(SmallRows+1) probe job. Step tables that
    * have already been tie-collapsed (distinct event times, monthly
    * buckets, ...) are usually tiny, and a single-partition window is
    * then cheaper than the range-sampling + boundary-table machinery.
    * head(N+1) terminates early; the probe's upstream work is paid once
    * more at the caller's action rather than cached. */
  def resolve(df: DataFrame, hint: SizeHint): SizeHint =
    if (hint != SizeHint.Auto) hint
    else if (smallRows(df, hint).isDefined) SizeHint.Small else SizeHint.Large

  /** `df`'s rows if Small under `hint` (declared: all of them; Auto: one
    * head(SmallRows+1) of at most SmallRows), else None. The head reads a
    * leaf view: a limit pushed into `df`'s plan compiles new code. */
  private[core] def smallRows(df: DataFrame, hint: SizeHint): Option[Array[Row]] =
    hint match {
      case SizeHint.Small => Some(df.collect())
      case SizeHint.Auto => Some(GraftSqlBridge.flattenPlan(df).head(SmallRows + 1))
        .filter(_.length <= SmallRows)
      case SizeHint.Large => None
    }

  /** The running operator of an ordered scan: `agg` runs over each
    * row's window and over the boundary table's preceding slices,
    * `slice` summarizes one (partition, group) slice, and `combine`
    * adds a slice's carry-in to a row's local running value. */
  private[core] sealed trait Running {
    def agg(c: Column): Column
    def slice(c: Column, orderCols: Seq[Column]): Column
    def combine(local: Column, carry: Column): Column
  }
  private[core] object Running {
    /** Running sum, in double. */
    case object Sum extends Running {
      def agg(c: Column): Column = sum(c.cast("double"))
      def slice(c: Column, orderCols: Seq[Column]): Column = agg(c)
      def combine(local: Column, carry: Column): Column =
        local + coalesce(carry, lit(0.0))
    }
    /** Last non-null value, in the column's own type (LOCF). The order
      * columns must be ascending: a slice's last value is the one at
      * its greatest order key. */
    case object LastNonNull extends Running {
      def agg(c: Column): Column = last(c, ignoreNulls = true)
      def slice(c: Column, orderCols: Seq[Column]): Column =
        max_by(c, when(c.isNotNull, struct(orderCols: _*)))
      def combine(local: Column, carry: Column): Column = coalesce(local, carry)
    }
  }

  private val PID = "__graft_pid"
  private val GRP = "__graft_g"
  private val LOCAL = "__graft_local_"
  private val SLICE = "__graft_slice_"
  private val CARRY = "__graft_carry_"

  /** Running (cumulative-inclusive) sums of each `(value, alias)` in the
    * order given by `orderCols` (use `desc(c)` entries for suffix sums).
    * Output = input columns + one `alias` column per pair. The
    * two-phase scan runs over the session's shuffle parallelism.
    */
  def scan(
      df: DataFrame,
      orderCols: Seq[Column],
      sums: Seq[(Column, String)],
      sizeHint: SizeHint = SizeHint.Auto,
      release: Option[scala.collection.mutable.Buffer[DataFrame]] = None): DataFrame =
    ordered(df, Nil, orderCols, Running.Sum, sums, sizeHint, release)

  /** Grouped running (cumulative-inclusive) sums: like [[scan]] but the
    * sums reset per group. The naive `Window.partitionBy(group)`
    * funnels each group through ONE task — with dimension-sized group
    * cardinality (return flags, languages, segments) that is a handful
    * of tasks for the whole table, the classic grouped-scan skew trap.
    * The two-phase scan parallelizes within a group too, at any group
    * count, with no driver collect.
    */
  def groupedScan(
      df: DataFrame,
      groupCols: Seq[Column],
      orderCols: Seq[Column],
      sums: Seq[(Column, String)],
      sizeHint: SizeHint = SizeHint.Auto,
      release: Option[scala.collection.mutable.Buffer[DataFrame]] = None): DataFrame =
    ordered(df, groupCols, orderCols, Running.Sum, sums, sizeHint, release)

  /** The one ordered scan: `op` of each `(value, alias)` over the rows
    * of its group (`groupCols`, none for a global scan) up to and
    * including the current one in `orderCols` order. `Small` runs one
    * window; `Large` the two-phase scan (see [[Windows]]). Output =
    * input columns + one `alias` column per pair (an alias that names
    * an input column replaces it in place). */
  private[core] def ordered(
      df: DataFrame,
      groupCols: Seq[Column],
      orderCols: Seq[Column],
      op: Running,
      values: Seq[(Column, String)],
      sizeHint: SizeHint,
      release: Option[scala.collection.mutable.Buffer[DataFrame]]): DataFrame = {
    // a global scan (no group columns) uses `df` as it is: an empty
    // withColumns and an empty drop would each re-analyse the plan
    val keyed = if (groupCols.isEmpty) df
      else df.withColumns(ListMap(groupCols.indices.map(i => (GRP + i) -> groupCols(i)): _*))
    val groups = groupCols.indices.map(GRP + _)
    val gcols = groups.map(col)
    def running(keys: Seq[Column]) = Window.partitionBy(keys: _*).orderBy(orderCols: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // one multi-column step per scan phase: a withColumn per value column
    // would re-analyse the whole plan once per column (Catalyst's
    // CollapseWindow merges the windows either way, so the physical plan
    // is the same)
    def perValue(name: Int => String, value: Int => Column) =
      ListMap(values.indices.map(i => name(i) -> value(i)): _*)

    if (resolve(keyed, sizeHint) == SizeHint.Small) {
      val scanned = keyed.withColumns(perValue(values(_)._2,
        i => op.agg(values(i)._1).over(running(gcols))))
      return if (groups.isEmpty) scanned else scanned.drop(groups: _*)
    }

    val n = df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    val ranged = keyed.repartitionByRange(n, (gcols ++ orderCols): _*)
      .withColumn(PID, spark_partition_id())
    val local0 = ranged.withColumns(perValue(LOCAL + _,
      i => op.agg(values(i)._1).over(running(col(PID) +: gcols))))
    // Pinning `local` is CORRECTNESS-critical, not a cache: the carries
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
    // re-sample range boundaries and silently mis-align the carries —
    // but fault-tolerant deployments that prefer retry-with-recompute
    // semantics should pass a `release` buffer (persist + explicit
    // unpersist), which keeps full lineage.
    val local = release match {
      case Some(buf) => val p = local0.persist(); buf += p; p
      case None => local0.localCheckpoint(eager = false)
    }

    // boundary table: one row per (partition, group) slice present. It
    // is broadcast back, so it is driver-sized by construction: one task
    // computes the carries, with no single-partition shuffle. The carry
    // window folds slices in partition order, from the operator's empty
    // value (a sum starts at 0.0 + the first slice's total).
    val slices = values.indices.map(i =>
      op.slice(values(i)._1, orderCols).as(SLICE + i))
    val preceding = Window.partitionBy(gcols: _*).orderBy(col(PID))
      .rowsBetween(Window.unboundedPreceding, -1)
    val carries = local.groupBy((col(PID) +: gcols): _*)
      .agg(slices.head, slices.tail: _*)
      .coalesce(1)
      .select((col(PID) +: gcols) ++ values.indices.map(i =>
        op.agg(col(SLICE + i)).over(preceding).as(CARRY + i)): _*)
    local.join(broadcast(carries), PID +: groups, "left")
      .withColumns(perValue(values(_)._2,
        i => op.combine(col(LOCAL + i), col(CARRY + i))))
      .drop((Seq(PID) ++ groups ++ values.indices.flatMap(i =>
        Seq(LOCAL + i, CARRY + i))): _*)
  }

  /** Convenience: single-column global cumulative sum. */
  def cumSum(df: DataFrame, order: Column, value: Column, alias: String): DataFrame =
    scan(df, Seq(order), Seq(value -> alias))

  /** Suffix (reverse) cumulative sums — risk-set totals O3. */
  def suffixSum(df: DataFrame, order: Column, sums: Seq[(Column, String)]): DataFrame =
    scan(df, Seq(order.desc), sums)
}
