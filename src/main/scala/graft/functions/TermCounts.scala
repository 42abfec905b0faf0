package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, ArrayData, GenericArrayData, MapData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Per-document term counting: `array<string>` tokens → `map<term, count>`.
  *
  * The scalable replacement for `explode(tokens)` → `groupBy(doc, term)`:
  * that shape materializes one Tungsten row PER TOKEN OCCURRENCE and pushes
  * it through the partial hash aggregate, whose per-partition table holds
  * every (doc, term) pair of the partition — millions of entries probed
  * once per token, cache-hostile at corpus scale (the SF10-skew rehearsal
  * measured q_text_tfidf at 857 s, ~all of it in this pattern). Counting
  * INSIDE the row against a document-sized map and exploding the already
  * aggregated map emits one row per DISTINCT term instead, deletes the
  * aggregate entirely, and keeps the whole pass in the scan stage's
  * whole-stage codegen (static call, same pattern as [[SimHash]]).
  *
  * Count is `bigint` for drop-in parity with the `count(1)` it replaces.
  * Null tokens are skipped (a null feature counts nothing, matching the
  * aggregate's count-of-rows-per-group over non-null explode output).
  */
object TermCounts {
  def fromArrayData(a: ArrayData): MapData = {
    val n = a.numElements()
    val m = new java.util.LinkedHashMap[UTF8String, java.lang.Long]()
    var i = 0
    while (i < n) {
      if (!a.isNullAt(i)) {
        // clone: the UTF8String may point into a reused input buffer, and
        // the map outlives the row
        val s = a.getUTF8String(i).clone()
        val c = m.get(s)
        m.put(s, if (c == null) 1L else c + 1L)
      }
      i += 1
    }
    val keys = new Array[Any](m.size())
    val vals = new Array[Any](m.size())
    val it = m.entrySet().iterator()
    var j = 0
    while (it.hasNext) {
      val e = it.next()
      keys(j) = e.getKey
      vals(j) = e.getValue.longValue()
      j += 1
    }
    new ArrayBasedMapData(new GenericArrayData(keys), new GenericArrayData(vals))
  }

  def apply(c: Column): Column =
    Kernel.call(this, "fromArrayData",
      MapType(StringType, LongType, valueContainsNull = false))(
      Kernel.in(c, Kernel.StringArray))
}
