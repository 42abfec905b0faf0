package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Codegen'd kernels for the int8 quantization tier (round 21) — the two
  * interpreted-HOF passes of [[graft.pipeline.SimilarityQueries.int8Quantized]]
  * as static calls:
  *
  *  - [[AbsMax]]: `array_max(transform(emb, x => abs(cast(x as double))))`
  *    — max |xᵢ| as double, null elements skipped (array_max semantics),
  *    all-null/empty → null, NaN greatest (Spark's double total order).
  *  - [[Int8Quantize]]: `transform(emb, x => floor(cast(x as double) / s
  *    + 0.5))` — per element: Spark's non-ANSI Divide yields NULL on a
  *    zero divisor (s > 0 is guarded upstream, but the semantics are
  *    preserved anyway), else `Math.floor(x / s + 0.5).toLong` exactly
  *    like Spark's `floor(double) → bigint`; null elements stay null.
  */
object QuantKernels {

  def absMax(a: ArrayData): java.lang.Double = {
    val n = a.numElements()
    var has = false
    var best = 0.0
    var i = 0
    while (i < n) {
      if (!a.isNullAt(i)) {
        val v = math.abs(a.getFloat(i).toDouble)
        // array_max's double ordering: total order, NaN greatest
        if (!has || java.lang.Double.compare(v, best) > 0) { best = v; has = true }
      }
      i += 1
    }
    if (has) java.lang.Double.valueOf(best) else null
  }

  def quantize(a: ArrayData, s: Double): ArrayData = {
    val n = a.numElements()
    if (s == 0.0) {
      // Divide-by-zero -> null per element (non-ANSI Divide semantics)
      return new GenericArrayData(new Array[Any](n))
    }
    var hasNull = false
    var i = 0
    while (i < n && !hasNull) { hasNull = a.isNullAt(i); i += 1 }
    if (!hasNull) {
      val out = new Array[Long](n)
      i = 0
      while (i < n) {
        out(i) = math.floor(a.getFloat(i).toDouble / s + 0.5).toLong
        i += 1
      }
      new GenericArrayData(out)
    } else {
      val out = new Array[Any](n)
      i = 0
      while (i < n) {
        if (!a.isNullAt(i))
          out(i) = java.lang.Long.valueOf(
            math.floor(a.getFloat(i).toDouble / s + 0.5).toLong)
        i += 1
      }
      new GenericArrayData(out)
    }
  }
}

/** abs_max(array<float>) → double (null for empty/all-null). */
object AbsMax {
  def apply(c: Column): Column =
    Kernel.call(QuantKernels, "absMax", DoubleType, returnNullable = true)(
      Kernel.in(c, Kernel.FloatArray))
}

/** int8_quantize(array<float>, s: double) → array<bigint>. */
object Int8Quantize {
  def apply(emb: Column, s: Column): Column =
    Kernel.call(QuantKernels, "quantize", ArrayType(LongType))(
      Kernel.in(emb, Kernel.FloatArray), Kernel.in(s, DoubleType))
}
