package graft.core

import org.apache.spark.sql.{DataFrame, GraftSqlBridge, Row}

/** The one scoped pin for a frame many jobs read, by size class:
  *  - Small (declared, inherited, or found by the Auto probe's own
  *    head(SmallRows + 1)) reaches the body as a one-partition local
  *    relation of the fetched rows: no cache, no cloned session, no
  *    second job, and no exchange under its aggregates, windows and
  *    joins. It holds nothing, so frames built over it may outlive the
  *    body (CoxInfluence and HazardInfluence return such frames);
  *  - Large is persisted and read through flattenPlan's leaf view, and
  *    released when the body returns or throws.
  * `Windows.ordered`'s range-partition pin is not one: it pins for
  * correctness, and its result escapes any scope. */
object Pin {

  /** `body` gets the pinned frame and, for a Small frame, its rows. */
  def apply[A](df: DataFrame, hint: Windows.SizeHint)(
      body: (DataFrame, Option[Array[Row]]) => A): A =
    Windows.smallRows(df, hint) match {
      case Some(rows) => body(df.sparkSession.createDataFrame(
        java.util.Arrays.asList(rows: _*), df.schema).coalesce(1), Some(rows))
      case None =>
        val cached = df.persist()
        try body(GraftSqlBridge.flattenPlan(cached), None)
        finally cached.unpersist(blocking = false)
    }
}
