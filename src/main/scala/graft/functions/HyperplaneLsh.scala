package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.hash.Murmur3_x86_32

/** Random-hyperplane LSH bucket signature (Charikar): 8 sign bits of the
  * embedding projected onto 8 pseudo-random ±1 hyperplanes, giving the
  * bucket id used by [[graft.pipeline.SimilarityQueries.annLsh]].
  *
  * Hyperplane weights are the deterministic ±1 scheme the pipeline always
  * used — parity of `murmur3(tbl * 1000003 + plane * 10007 + dim)` (seed 42,
  * identical to Spark's `hash()` on an int) — so signatures are stable
  * across engines/runs with no RNG state and no broadcast of planes. Weights
  * are memoized per (table, dim-count): the per-row cost is exactly the
  * 8×dims multiply-adds, fused into whole-stage codegen via a static call.
  *
  * This replaces a nested interpreted-HOF formulation
  * (`aggregate(transform(...))` with a per-(plane,dim) hash expression)
  * whose lambda interpretation cost ~20× per row — the bucket values are
  * bit-identical by construction.
  */
object HyperplaneLsh {
  val Planes = 8

  private val cache =
    new java.util.concurrent.ConcurrentHashMap[Long, Array[Double]]()

  /** ±1 weight matrix for hash table `tbl` over `n` dims, row-major by
    * plane. Memoized: tables × dim-counts is tiny (e.g. 4 × 1). */
  def weights(tbl: Int, n: Int): Array[Double] = {
    val key = (tbl.toLong << 32) | (n & 0xffffffffL)
    var w = cache.get(key)
    if (w == null) {
      w = new Array[Double](Planes * n)
      var p = 0
      while (p < Planes) {
        var d = 0
        while (d < n) {
          val h = Murmur3_x86_32.hashInt(tbl * 1000003 + p * 10007 + d, 42)
          w(p * n + d) = if ((h & 1) == 0) 1.0 else -1.0
          d += 1
        }
        p += 1
      }
      cache.putIfAbsent(key, w)
    }
    w
  }

  /** 8-bit signature of a float embedding; accumulation is index-order
    * double arithmetic (same IEEE order as the HOF formulation it
    * replaced). Null elements contribute 0. */
  def signature(emb: ArrayData, tbl: Int): Int = {
    val n = emb.numElements()
    val w = weights(tbl, n)
    var bucket = 0
    var p = 0
    while (p < Planes) {
      var acc = 0.0
      var d = 0
      while (d < n) {
        if (!emb.isNullAt(d)) {
          acc += emb.getFloat(d).toDouble * w(p * n + d)
        }
        d += 1
      }
      if (acc >= 0) bucket |= (1 << p)
      p += 1
    }
    bucket
  }

  def apply(emb: Column, tbl: Column): Column = {
    // the weight matrices memoize per (tbl, dims) in a process-wide cache;
    // a per-row tbl would grow it without bound, so the hash table index
    // must be a literal (it is the LSH table number, a configuration
    // constant, never data)
    require(ColumnBridge.expressionEager(tbl).foldable,
      "hyperplane_signature: the table index must be a literal")
    Kernel.call(this, "signature", IntegerType)(
      Kernel.in(emb, Kernel.FloatArray), Kernel.in(tbl, IntegerType))
  }
}
