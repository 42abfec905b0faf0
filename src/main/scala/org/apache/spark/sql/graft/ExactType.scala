package org.apache.spark.sql.graft

import org.apache.spark.sql.types.{AbstractDataType, DataType}

/** Input type of a codegen kernel argument ([[graft.functions.Kernel]]):
  * admits exactly one of `types`, nullability aside, and offers the
  * analyzer no implicit cast. Kernels read their input with fixed-width
  * getters, so a cast of `array<double>` to `array<float>` would silently
  * narrow the data; a wrong type fails analysis instead. Lives in the
  * spark.sql package solely because AbstractDataType's members are
  * `private[sql]`.
  */
case class ExactType(types: DataType*) extends AbstractDataType {
  override private[sql] def defaultConcreteType: DataType = types.head
  override private[sql] def acceptsType(other: DataType): Boolean =
    types.exists(DataType.equalsIgnoreNullability(_, other))
  override private[sql] def simpleString: String =
    types.map(_.simpleString).mkString(" or ")
}
