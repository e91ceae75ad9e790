package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftSqlBridge
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.LeafExpression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, JavaCode}
import org.apache.spark.sql.types.{DataType, DoubleType, LongType}

/** One element of a driver-side vector, generated as a REFERENCE
  * (`references[n][i]`), never as an inlined constant.
  *
  * Why not `lit(coef(i))`: the IRLS/Newton drivers re-plan their
  * per-iteration aggregate with the current β, and literal doubles are
  * inlined into the generated source — every iteration's whole-stage
  * code is then unique and pays a fresh Janino compile the codegen
  * cache can only amortize on an exact re-run (pass 2 of the bench),
  * never within a fit. Routed through `addReferenceObj` the source is
  * iteration-invariant — iteration 2+ (and any later fit of the same
  * shape) hits the codegen cache — while execution still reads a plain
  * primitive slot, so per-row cost matches the inlined constant.
  * `foldable = false` is the point: ConstantFolding would otherwise
  * collapse it right back into an inlined literal.
  *
  * The element type is DOUBLE (`values` a `double[]`) or BIGINT (a
  * `long[]`): the integer form carries Rng's per-draw salt, whose int64
  * arithmetic must stay exact to match the DuckDB stream.
  *
  * (A one-row broadcast-join of the vector achieves the same code
  * stability but was measured 0.1–0.4 s/query SLOWER at sf0.1: each
  * iteration then plans a BroadcastExchange + AQE stage. This is the
  * join-free form of the same idea.)
  */
case class CoefAt(values: AnyRef, index: Int) extends LeafExpression {
  override val dataType: DataType = values match {
    case _: Array[Double] => DoubleType
    case _: Array[Long] => LongType
    case other => throw new IllegalArgumentException(
      s"coef_at holds a double[] or long[], not ${other.getClass.getName}")
  }
  private def length: Int = java.lang.reflect.Array.getLength(values)
  require(index >= 0 && index < length,
    s"coef index $index out of range 0..${length - 1}")
  override def nullable: Boolean = false
  override def foldable: Boolean = false
  override def prettyName: String = "coef_at"
  // hash by position, not by the array's identity: common-subexpression
  // elimination orders its candidates by hash, so an identity hash would
  // reorder the generated code for every snapshot and defeat the cache
  override def hashCode(): Int = index
  override def eval(input: InternalRow): Any = values match {
    case d: Array[Double] => d(index)
    case l: Array[Long] => l(index)
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val javaType = if (dataType == LongType) "long[]" else "double[]"
    val ref = ctx.addReferenceObj("coef", values, javaType)
    ExprCode.forNonNullValue(JavaCode.expression(s"$ref[$index]", dataType))
  }
}

/** A driver-side double[] as an ARRAY<DOUBLE> column, generated as a
  * reference — the array sibling of [[CoefAt]], for operators that hand
  * whole vectors to array expressions (dot products against k-means /
  * PQ centroids re-planned every Lloyd iteration). Same contract:
  * value-independent generated source, bit-identical values,
  * `foldable = false` so ConstantFolding cannot inline it back. */
case class CoefArray(values: Array[Double]) extends LeafExpression {
  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(DoubleType, containsNull = false)
  override def nullable: Boolean = false
  override def foldable: Boolean = false
  override def prettyName: String = "coef_array"
  override def hashCode(): Int = values.length // see CoefAt.hashCode
  @transient private lazy val arr =
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
      .fromPrimitiveArray(values)
  override def eval(input: InternalRow): Any = arr
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("coefArr", arr,
      "org.apache.spark.sql.catalyst.util.ArrayData")
    ExprCode.forNonNullValue(JavaCode.expression(ref, dataType))
  }
}

/** The builders SNAPSHOT `values`: the column holds a copy taken at
  * capture, so a Newton driver may step its β in place after building a
  * pass, and the pass still reads the β it was built with. Expressions
  * built on [[CoefAt]] / [[CoefArray]] directly must likewise never see
  * their array mutated after capture.
  *
  * Callers: the Newton fitters' β (IRLS, CoxPH, BoundedCalib and the
  * replicated fitters), and every data-dependent double a replicate's
  * plans carry — `core.FeatureArray.dot` (IPSW score, GLM predictions,
  * GREG's λ), the e^{x'β} of `CoxInfluence.relHzd`, the I⁻¹/H⁻¹ rows of
  * the Cox and logistic deviates, the chain's B matrix, the per-t*
  * hazard constants, and `Pps.draw`'s ΣM and salt (a BIGINT scalar).
  *
  * Replicated fitters keep all m replicates' p coefficients in ONE
  * replicate-major array of m·p doubles and read θ_{r,j} per row as
  * `element_at(Coef.array(θ), r·p + j + 1)` — one referenced array
  * instead of a per-iteration broadcast join of an m×p frame. */
object Coef {
  /** `values(i)` as a Column whose generated code is value-independent. */
  def at(values: Array[Double], i: Int): Column =
    GraftSqlBridge.column(CoefAt(values.clone(), i))

  /** One driver-side double as a value-independent Column. */
  def scalar(v: Double): Column = GraftSqlBridge.column(CoefAt(Array(v), 0))

  /** One driver-side long as a value-independent BIGINT Column. */
  def scalar(v: Long): Column = GraftSqlBridge.column(CoefAt(Array(v), 0))

  /** `values` as an ARRAY<DOUBLE> Column, generated as a reference. */
  def array(values: Array[Double]): Column =
    GraftSqlBridge.column(CoefArray(values.clone()))
}
