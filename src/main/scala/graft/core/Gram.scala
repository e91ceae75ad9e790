package graft.core

import org.apache.spark.sql.{Column, Row}
import org.apache.spark.sql.functions.sum

/** Weighted Gram sums as flat `sum` columns (SURVEY.md §2.9, §7.3): one
  * codegen'd hash aggregate yields the packed normal equations
  *
  *   [ Σ w·x_i·x_j for i ≤ j (row-major upper triangle, p(p+1)/2) | Σ w·x_i·y (p) ]
  *
  * covering the reference's Gram aggregations (X'WX at
  * taylor_deviate.R:475,558,996) without materializing an n×n object;
  * only the p(p+3)/2 doubles reach the driver. Products associate left
  * to right — (w·x_i)·x_j and (w·x_i)·y — so every caller sums the same
  * IEEE operation sequence. Scalar columns, not a typed Aggregator: the
  * typed form paid encoder deserialization per row (measured several×
  * slower on wide inputs).
  */
object Gram {

  /** Σ w·x_i·x_j over the packed upper triangle, then Σ w·x_i·y when `y`
    * is given. */
  def columns(x: Seq[Column], w: Column, y: Option[Column] = None): Seq[Column] =
    (for (i <- x.indices; j <- i until x.length) yield sum(w * x(i) * x(j))) ++
      y.toSeq.flatMap(yc => x.map(xi => sum(w * xi * yc)))

  /** Σ v·x_i for each i — the score, residual or total vector that sits
    * beside a Gram in the same aggregate. */
  def linear(x: Seq[Column], v: Column): Seq[Column] = x.map(xi => sum(v * xi))

  /** `n` doubles of an aggregate row, starting at column `from`. */
  def read(row: Row, from: Int, n: Int): Array[Double] =
    Array.tabulate(n)(k => row.getDouble(from + k))
}
