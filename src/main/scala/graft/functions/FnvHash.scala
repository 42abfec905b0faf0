package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** FNV-1a 64-bit hash, the Spark-native equivalent of Impala's `fnv_hash`
  * builtin (`be/src/exprs/utility-functions.cc`, `be/src/util/hash-util.h` —
  * FNV over the value's slot bytes). Numerics hash their little-endian
  * fixed-width encoding (matching the reference's in-memory tuple slots,
  * `be/src/runtime/tuple.h:31-47`); strings/binary hash their bytes.
  *
  * A [[Kernel]] call on the `hash` overloads, so it stays inside
  * whole-stage codegen — usable as a cheap deterministic partitioner/salt at
  * 100 TB scale (the hot path is a static JVM call, no boxing beyond the
  * codegen'd null check).
  */
object FnvHash {
  final val Prime = 1099511628211L
  final val Basis = -3750763034362895579L // 14695981039346656037 as signed

  def hashBytes(bytes: Array[Byte]): Long = {
    var h = Basis
    var i = 0
    while (i < bytes.length) {
      h = (h ^ (bytes(i) & 0xffL)) * Prime
      i += 1
    }
    h
  }

  def hashLong(v: Long, width: Int): Long = {
    var h = Basis
    var i = 0
    while (i < width) {
      h = (h ^ ((v >>> (8 * i)) & 0xffL)) * Prime
      i += 1
    }
    h
  }

  def hashDouble(v: Double): Long = hashLong(java.lang.Double.doubleToLongBits(v), 8)

  // One overload per Java type an accepted input arrives as; StaticInvoke
  // (and Janino, in generated code) pick it from the argument's type. DATE
  // is an int and TIMESTAMP(_NTZ) a long, so they hash like INT and BIGINT.
  def hash(v: UTF8String): Long = hashBytes(v.getBytes)
  def hash(v: Array[Byte]): Long = hashBytes(v)
  def hash(v: Boolean): Long = hashLong(if (v) 1L else 0L, 1)
  def hash(v: Byte): Long = hashLong(v, 1)
  def hash(v: Short): Long = hashLong(v, 2)
  def hash(v: Int): Long = hashLong(v, 4)
  def hash(v: Long): Long = hashLong(v, 8)
  def hash(v: Float): Long =
    hashLong(java.lang.Float.floatToIntBits(v).toLong & 0xffffffffL, 4)
  def hash(v: Double): Long = hashDouble(v)

  def apply(c: Column): Column =
    Kernel.call(this, "hash", LongType)(Kernel.in(c,
      BooleanType, ByteType, ShortType, IntegerType, LongType, FloatType,
      DoubleType, StringType, BinaryType, TimestampType, TimestampNTZType,
      DateType))
}
