package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** 64-bit SimHash over an array of (already-hashed) feature values.
  *
  * Charikar's similarity hash: each feature hash votes +1/-1 per bit
  * position; the result bit is the vote sign. Hamming distance between
  * simhashes approximates the cosine distance of the feature multisets —
  * the standard near-dup fingerprint for web-scale corpora.
  *
  * Input: `array<bigint>` of feature hashes (e.g. `transform(tokens,
  * xxhash64)`), so the hashing itself stays in Spark's codegen'd builtins.
  * This expression does only the 64-counter vote loop — O(64·n) integer ops
  * per row, no allocation, whole-stage-codegen'd via a static call.
  */
object SimHash {
  def simhash64(hashes: Array[Long]): Long = {
    val votes = new Array[Int](64)
    var i = 0
    while (i < hashes.length) {
      val h = hashes(i)
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
        b += 1
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) {
      if (votes(b) > 0) out |= (1L << b)
      b += 1
    }
    out
  }

  def fromArrayData(a: ArrayData): Long = {
    // skip null elements (a null feature votes on nothing) rather than
    // letting a bulk copy read them as 0x0 and skew all 64 bit votes
    val n = a.numElements()
    val out = Array.newBuilder[Long]
    out.sizeHint(n)
    var i = 0
    while (i < n) { if (!a.isNullAt(i)) out += a.getLong(i); i += 1 }
    simhash64(out.result())
  }

  def apply(c: Column): Column =
    Kernel.call(this, "fromArrayData", LongType)(Kernel.in(c, Kernel.LongArray))
}
