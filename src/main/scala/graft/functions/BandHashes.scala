package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Codegen'd LSH band hashes (round 21): the 8 per-band `xxhash64` keys of
  * a 32-lane MinHash signature in one static call.
  *
  * Replaces `transform(sequence(0, bands−1), bnd => xxhash64(element_at
  * (sig, bnd·rows+1), ..., element_at(sig, bnd·rows+rows)))` — an
  * interpreted lambda per band per row (HOFs are CodegenFallback), each
  * evaluating `rows` interpreted `element_at` calls plus the xxhash fold.
  * Values are bit-identical: Spark's `xxhash64(c1..c4)` is a LEFT FOLD of
  * `XXH64.hashLong(value, acc)` from seed 42, skipping null inputs — the
  * exact loop below (out-of-range lanes behave like element_at's null:
  * skipped). */
object BandHashes {
  private val Seed = 42L // XxHash64's default seed, what xxhash64(...) uses

  def eval(sig: ArrayData, bands: Int, rowsPerBand: Int): ArrayData = {
    val n = sig.numElements()
    val out = new Array[Long](bands)
    var b = 0
    while (b < bands) {
      var h = Seed
      var r = 0
      while (r < rowsPerBand) {
        val idx = b * rowsPerBand + r
        if (idx < n && !sig.isNullAt(idx))
          h = org.apache.spark.sql.catalyst.expressions.XXH64
            .hashLong(sig.getLong(idx), h)
        r += 1
      }
      out(b) = h
      b += 1
    }
    new GenericArrayData(out)
  }

  def apply(sig: Column, bands: Int, rowsPerBand: Int): Column = {
    require(bands >= 1 && rowsPerBand >= 1,
      s"band_hashes: bands=$bands rowsPerBand=$rowsPerBand must be positive")
    Kernel.call(this, "eval", ArrayType(LongType, containsNull = false))(
      Kernel.in(sig, Kernel.LongArray),
      Kernel.const(Literal(bands)), Kernel.const(Literal(rowsPerBand)))
  }
}
