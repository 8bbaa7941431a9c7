// Hosted under org.apache.spark.sql.* because native Expression authoring
// needs private[sql] extension points (the Column↔Expression bridge) —
// the conventional packaging for Spark extension libraries shipping
// codegen expressions.
package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.sketch.BloomFilter

/** Membership probe against a driver-built [[BloomFilter]] — the
  * prefilter step of incremental dedup (q57). A codegen'd expression
  * instead of a Scala UDF because the probe runs once per NEW-BATCH row:
  * at corpus scale that is billions of rows, and the UDF path pays a
  * String box + encoder round-trip per row while this stays inside
  * whole-stage codegen and hashes the UTF8String's bytes directly.
  *
  * The filter rides in the expression (like [[NearestCellsTwoLevel]]'s
  * anchor matrices) and reaches generated code via `addReferenceObj`; it is
  * java-serializable, shipping once per task closure. Probing hashes the
  * value's UTF-8 bytes — the same bytes `DataFrameStatFunctions
  * .bloomFilter` hashed when it built the filter from a string column,
  * so build and probe agree by construction.
  *
  * Mirrors Spark's internal runtime-filter shape (BloomFilterMightContain)
  * with a driver-held filter instead of a subquery-built one.
  */
case class BloomMightContain(child: Expression, filter: BloomFilter)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = BooleanType

  def kernel(s: UTF8String): Boolean = filter.mightContainBinary(s.getBytes)

  override protected def nullSafeEval(input: Any): Any =
    kernel(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bloomMightContain", this,
      classOf[BloomMightContain].getName)
    defineCodeGen(ctx, ev, c => s"$ref.kernel($c)")
  }

  override protected def withNewChildInternal(newChild: Expression): BloomMightContain =
    copy(child = newChild)

  override def prettyName: String = "bloom_might_contain"

  // The default toString would serialize filter stats into every plan
  // render; keep plan text stable and small.
  override def toString: String = s"bloom_might_contain($child)"
}

object BloomMightContain {
  def column(value: Column, filter: BloomFilter): Column =
    ExpressionUtils.column(
      BloomMightContain(ExpressionUtils.expression(value), filter))
}
