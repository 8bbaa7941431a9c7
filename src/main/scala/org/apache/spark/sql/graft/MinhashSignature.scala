package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types._

/** Kernel: all K MinHash minima in ONE pass over the shingle-hash array.
  *
  * Value-identical to the declarative spelling
  * `array((0 until K).map(i => array_min(transform(hs, s => pmod(s*A(i)+B(i), P)))))`
  * on the hash domain (shingle hashes live in [0, PolyHashKernel.Mod), so
  * s*A(i)+B(i) never overflows a long there, as DedupFunctions requires —
  * outside it the ANSI declarative form
  * throws where this kernel would wrap) — same sign-corrected pmod, same
  * null semantics (null elements are skipped exactly as `array_min`
  * ignores them; an array with no non-null element yields K nulls, the
  * empty-shingle case that downstream band keys treat as
  * candidate-free) — but the declarative form walks the array K times
  * and allocates K transformed copies of it per row (r20 profile: the
  * mhBands cache build was the largest single item in q42's bench
  * slot). One walk, one primitive output array, no intermediates.
  * Equality vs the declarative form is pinned by TextDedupSpec on the
  * live corpus plus adversarial literals.
  */
object MinhashKernel {
  import graft.functions.DedupFunctions.{A, B, K, P}
  private val As = A.toArray
  private val Bs = B.toArray

  def mins(hs: ArrayData): ArrayData = {
    val n = hs.numElements()
    val out = new Array[Long](K)
    java.util.Arrays.fill(out, Long.MaxValue)
    var found = false
    var j = 0
    while (j < n) {
      if (!hs.isNullAt(j)) {
        found = true
        val s = hs.getLong(j)
        var i = 0
        while (i < K) {
          var v = (s * As(i) + Bs(i)) % P
          if (v < 0) v += P // pmod: P > 0, so sign-correct exactly like Spark's Pmod
          if (v < out(i)) out(i) = v
          i += 1
        }
      }
      j += 1
    }
    if (!found) new GenericArrayData(new Array[Any](K))
    else UnsafeArrayData.fromPrimitiveArray(out)
  }
}

/** Native codegen MinHash signature (see kernel). Null input yields a
  * null signature; the band-key projection turns both a null signature
  * and the declarative form's K-null signature into the same Bands
  * null-key rows, which never equi-join — byte-identical band relation.
  */
case class MinhashSignature(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(LongType))
  override def dataType: DataType = ArrayType(LongType, containsNull = true)

  override protected def nullSafeEval(hs: Any): Any =
    MinhashKernel.mins(hs.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val kernel = MinhashKernel.getClass.getName.stripSuffix("$") + "$.MODULE$"
    defineCodeGen(ctx, ev, hs => s"$kernel.mins($hs)")
  }

  override protected def withNewChildInternal(newChild: Expression): MinhashSignature =
    copy(child = newChild)
}

object MinhashSignature {
  def column(hs: Column): Column =
    ExpressionUtils.column(MinhashSignature(ExpressionUtils.expression(hs)))
}
