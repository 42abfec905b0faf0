package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Codegen'd vector primitives for embedding similarity.
  *
  * The composable alternative (`aggregate(zip_with(a, b, _*_), 0d, _+_)`)
  * is semantically identical but runs interpreted lambda closures per
  * element — ~20× slower on the all-pairs similarity joins, where the dot
  * product IS the workload (n² pairs × dim multiplies). These kernels
  * evaluate as a single static-call tight loop inside whole-stage codegen,
  * with the same index-order double arithmetic (results are bit-identical
  * to the HOF formulation, so DuckDB oracles are unaffected).
  */
object VectorOps {

  /** Σ aᵢ·bᵢ over float arrays, accumulated in index order as double. */
  def dotF(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0.0d
    var i = 0
    while (i < n) {
      acc += a.getFloat(i).toDouble * b.getFloat(i).toDouble
      i += 1
    }
    acc
  }

  /** 32-lane MinHash signature from per-feature base hashes: lane i takes
    * min over features of fmix64(h ⊕ mix(i)). One pass over the array. */
  def minhash32(hashes: ArrayData): ArrayData = {
    val n = hashes.numElements()
    val sig = new Array[Long](32)
    java.util.Arrays.fill(sig, Long.MaxValue)
    var j = 0
    while (j < n) {
      if (!hashes.isNullAt(j)) { // a null feature contributes no hash
        val h = hashes.getLong(j)
        var i = 0
        while (i < 32) {
          var v = h ^ (i.toLong * 0x9e3779b97f4a7c15L)
          v ^= v >>> 33; v *= 0xff51afd7ed558ccdL
          v ^= v >>> 33; v *= 0xc4ceb9fe1a85ec53L
          v ^= v >>> 33
          if (v < sig(i)) sig(i) = v
          i += 1
        }
      }
      j += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(sig)
  }

  /** Jaccard similarity of two SORTED distinct long arrays via linear
    * merge-intersection — no per-call allocation (array_intersect builds a
    * hash set per pair, which dominates all-pairs verification). Null
    * elements are skipped (they are not set members); two empty sets are
    * identical, so jaccard([], []) = 1.0, not 0/0 = NaN. */
  def jaccardSorted(a: ArrayData, b: ArrayData): Double = {
    def nonNull(x: ArrayData): Int = {
      var c = 0; var i = 0; val n = x.numElements()
      while (i < n) { if (!x.isNullAt(i)) c += 1; i += 1 }
      c
    }
    val na = nonNull(a)
    val nb = nonNull(b)
    if (na == 0 && nb == 0) return 1.0
    var i = 0
    var j = 0
    var inter = 0
    while (i < a.numElements() && j < b.numElements()) {
      if (a.isNullAt(i)) i += 1
      else if (b.isNullAt(j)) j += 1
      else {
        val x = a.getLong(i)
        val y = b.getLong(j)
        if (x == y) { inter += 1; i += 1; j += 1 }
        else if (x < y) i += 1
        else j += 1
      }
    }
    inter.toDouble / (na + nb - inter).toDouble
  }

  def jaccard(a: Column, b: Column): Column =
    Kernel.call(this, "jaccardSorted", DoubleType)(
      Kernel.in(a, Kernel.LongArray), Kernel.in(b, Kernel.LongArray))

  def dot(a: Column, b: Column): Column =
    Kernel.call(this, "dotF", DoubleType)(
      Kernel.in(a, Kernel.FloatArray), Kernel.in(b, Kernel.FloatArray))

  /** Σ aᵢ·bᵢ over long arrays, accumulated as long — EXACT integer math
    * (the primitive a quantized-embedding tier scores with: int8 values
    * bound each product by 127², so a 2⁴⁸-dim vector still can't overflow).
    * Guarded with `Math.multiplyExact`/`addExact` (JIT intrinsics, no cost
    * on the non-overflow path) so a caller that feeds unquantized longs
    * fails loudly with ArithmeticException instead of silently wrapping. */
  def dotLL(a: ArrayData, b: ArrayData): Long = {
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0L
    var i = 0
    while (i < n) {
      acc = Math.addExact(acc, Math.multiplyExact(a.getLong(i), b.getLong(i)))
      i += 1
    }
    acc
  }

  /** dot_long(array<bigint>, array<bigint>) → bigint (exact; throws
    * ArithmeticException on 64-bit overflow). NOT registered in the SQL
    * function registry (GraftExtensions): the only caller is the int8 ANN
    * tier, whose values are quantizer-bounded, so no user SQL or fuzz
    * production can reach the overflow throw. Registering it for SQL would
    * require documenting the exception in the registry help text first. */
  def dotLong(a: Column, b: Column): Column =
    Kernel.call(this, "dotLL", LongType)(
      Kernel.in(a, Kernel.LongArray), Kernel.in(b, Kernel.LongArray))

  /** Σ aᵢ·bᵢ over double arrays, accumulated in index order as double —
    * same deterministic fold as [[dotF]], for vectors that are already
    * double-typed (e.g. decimal-exact centroid means in the k-means op). */
  def dotDbl(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0.0d
    var i = 0
    while (i < n) {
      acc += a.getDouble(i) * b.getDouble(i)
      i += 1
    }
    acc
  }

  def dotDouble(a: Column, b: Column): Column =
    Kernel.call(this, "dotDbl", DoubleType)(
      Kernel.in(a, Kernel.DoubleArray), Kernel.in(b, Kernel.DoubleArray))

  /** minhash32(array<bigint>) → array<bigint> (32 lanes). */
  def minhashSignature(hashes: Column): Column =
    Kernel.call(this, "minhash32", ArrayType(LongType, containsNull = false))(
      Kernel.in(hashes, Kernel.LongArray))
}
