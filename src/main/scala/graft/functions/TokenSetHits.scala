package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Codegen'd token-set hit counter (round 21):
  * `size(filter(toks, tk => tk.isInCollection(words)))` in one static call.
  *
  * The composite ran an interpreted lambda (an In over the word list) per
  * token per row — the whole per-row cost of the stopword/function-word
  * scores (q_text_quality, q_text_langid, with 1 and 4 set probes per
  * token respectively) and of the BM25 per-term tf columns (one probe per
  * query term per token). The kernel hashes each token once against a
  * prebuilt UTF8String set.
  *
  * Exact semantics of the composite under the engine's sessions:
  *  - null tokens: `isInCollection` is null → `filter` drops them (never
  *    counted);
  *  - null token ARRAY: legacy `size(null)` = −1 (ansi off), so the count
  *    is −1 — preserved, bit-for-bit, because quality/langid divide by it;
  *  - otherwise the count of ALL occurrences (duplicates count). */
object TokenSetHits {
  def count(a: ArrayData, set: java.util.HashSet[UTF8String]): Int = {
    if (a == null) return -1
    val n = a.numElements()
    var c = 0
    var i = 0
    while (i < n) {
      if (!a.isNullAt(i) && set.contains(a.getUTF8String(i))) c += 1
      i += 1
    }
    c
  }

  /** token_set_hits(array<string>, words) → int; the word set rides in the
    * plan as an object literal, built once per call site. */
  def apply(toks: Column, words: Seq[String]): Column = {
    val set = new java.util.HashSet[UTF8String](words.size * 2)
    words.foreach(w => set.add(UTF8String.fromString(w)))
    Kernel.call(this, "count", IntegerType, propagateNull = false)(
      Kernel.in(toks, Kernel.StringArray), Kernel.const(Literal.fromObject(set)))
  }
}
