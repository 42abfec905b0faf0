package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Share of an n-gram array taken by its single most frequent element —
  * the Gopher/MassiveText `top_ngram_frac` kernel of
  * [[graft.pipeline.TextQueries.repetitionFrame]].
  *
  * Replaces the `aggregate(array_sort(g), ...)` longest-equal-run fold
  * (round 20): higher-order functions evaluate their lambda per element
  * through the interpreted expression walker, and this kernel runs L lambda
  * steps per row over three gram windows — the dominant per-row cost of
  * q_text_repetition. The value is order-independent (the longest equal
  * run of ANY total order is the max multiplicity), so one hash-count pass
  * inside whole-stage codegen computes it exactly:
  *
  *  - empty array → 0.0 (the old `when(size = 0)` guard, folded in);
  *  - null elements never equal anything (the old fold's null-comparison
  *    reset), so they are skipped for counting but still hold one run each
  *    — any non-empty array has best ≥ 1;
  *  - result = best / size with the same int→double division.
  */
object TopRunFrac {
  def fromArrayData(a: ArrayData): Double = {
    val n = a.numElements()
    if (n == 0) return 0.0
    val m = new java.util.HashMap[UTF8String, Integer]()
    var best = 1
    var i = 0
    while (i < n) {
      if (!a.isNullAt(i)) {
        // keys only live for this call; the backing buffer is stable for
        // the duration of one eval, so no clone is needed
        val s = a.getUTF8String(i)
        val c = m.get(s)
        val nc: Int = if (c == null) 1 else c + 1
        m.put(s, nc)
        if (nc > best) best = nc
      }
      i += 1
    }
    best.toDouble / n
  }

  def apply(c: Column): Column =
    Kernel.call(this, "fromArrayData", DoubleType)(
      Kernel.in(c, Kernel.StringArray))
}
