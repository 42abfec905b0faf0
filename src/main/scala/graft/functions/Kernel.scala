package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.graft.{ColumnBridge, ExactType}
import org.apache.spark.sql.types._

/** The one pattern for codegen kernels: a static method on a Scala object,
  * called through Catalyst's own `StaticInvoke` — the route Spark's
  * built-ins take to their static helpers. Inside whole-stage codegen it
  * compiles to a single static call; interpreted evaluation (constant
  * folding) reaches the same method by reflection.
  *
  *  - Input types are exact ([[ExactType]]): a wrong type fails analysis,
  *    nothing is implicitly cast.
  *  - `propagateNull = true` (the default) yields null for any null input
  *    without calling the kernel, and keeps the call null-intolerant so the
  *    optimizer still infers `isnotnull` filters from it. A kernel with a
  *    defined result for null input passes `false` and takes the null.
  *  - `returnNullable` says whether the kernel itself may return null.
  *  - The call has no SQL name: an unaliased kernel column is named
  *    `static_invoke(...)`, so callers alias every kernel output.
  */
object Kernel {
  type Arg = (Expression, ExactType)

  /** A column argument admitting exactly `types`. */
  def in(c: Column, types: DataType*): Arg =
    (ColumnBridge.expression(c), ExactType(types: _*))

  /** A plan-time constant, inlined into the generated code. */
  def const(l: Literal): Arg = (l, ExactType(l.dataType))

  def call(kernel: AnyRef, method: String, dataType: DataType,
           propagateNull: Boolean = true, returnNullable: Boolean = false)(
      args: Arg*): Column =
    ColumnBridge.column(StaticInvoke(kernel.getClass, dataType, method,
      args.map(_._1), args.map(_._2), propagateNull, returnNullable))

  val LongArray: DataType = ArrayType(LongType)
  val StringArray: DataType = ArrayType(StringType)
  val FloatArray: DataType = ArrayType(FloatType)
  val DoubleArray: DataType = ArrayType(DoubleType)
}
