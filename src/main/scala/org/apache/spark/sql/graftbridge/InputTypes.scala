package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.types._

/** Union input types for `ExpectsInputTypes` expressions.
  * `TypeCollection` is `private[sql]`, so the engine's expressions
  * reach the unions they accept through this shim. */
object InputTypes {
  /** `array<float>` or `array<double>`, either element nullability. */
  val floatOrDoubleArray = TypeCollection(ArrayType(FloatType), ArrayType(DoubleType))
  /** Any integral type up to long. */
  val integral = TypeCollection(ByteType, ShortType, IntegerType, LongType)
}
