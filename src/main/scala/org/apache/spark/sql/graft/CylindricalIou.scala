package org.apache.spark.sql.graft

import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, JavaCode}
import org.apache.spark.sql.types._

/** Scalar kernel for the seam-aware cylindrical IoU (SURVEY.md §2 M11/U1;
  * heritage-guard/heritage_guard/entities/bbox.py:16-109), shared by the
  * interpreted and generated code paths. Built from graft.geo.BBox's
  * helpers in BBox.iou's op order, so the two agree bitwise.
  */
object IouKernel {
  import graft.geo.BBox.{overlap, pmod, thetaOverlapNormalized}

  def compute(
      ax1: Double, ay1: Double, ax2: Double, ay2: Double,
      bx1: Double, by1: Double, bx2: Double, by2: Double,
      w: Double, h: Double): Double = {
    // Seam swap (bbox.py:16-20) + invariants per box.
    val aSwap = (ax2 - ax1) > w * 0.95
    val aMin = if (aSwap) ax2 else ax1; val aMax = if (aSwap) ax1 else ax2
    val bSwap = (bx2 - bx1) > w * 0.95
    val bMin = if (bSwap) bx2 else bx1; val bMax = if (bSwap) bx1 else bx2
    val aArea = pmod(aMax - aMin, w) * (ay2 - ay1)
    val bArea = pmod(bMax - bMin, w) * (by2 - by1)
    // θ overlap with wraparound (bbox.py:72-96).
    val thetaOv = thetaOverlapNormalized(
      pmod(aMin / w * 360.0, 360.0), pmod(aMax / w * 360.0, 360.0),
      pmod(bMin / w * 360.0, 360.0), pmod(bMax / w * 360.0, 360.0))
    val inter = thetaOv * overlap(ay1, ay2, by1, by2)
    val union = aArea + bArea - inter
    if (union == 0.0) 0.0 else inter / union
  }
}

/** Native 10-ary expression `cylindrical_iou(ax1, ay1, ax2, ay2, bx1,
  * by1, bx2, by2, w, h)` with whole-stage codegen — U1 as a Catalyst
  * Expression (SURVEY §7 phase 5). The generated code is a single static
  * call into [[IouKernel]], so interpreted and compiled paths share one
  * definition.
  */
case class CylindricalIou(children: Seq[Expression])
    extends Expression with ExpectsInputTypes {

  require(children.length == 10,
    "cylindrical_iou(ax1, ay1, ax2, ay2, bx1, by1, bx2, by2, w, h)")

  override def inputTypes: Seq[AbstractDataType] = Seq.fill(10)(DoubleType)
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = children.exists(_.nullable)

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val vs = new Array[Double](10)
    var i = 0
    while (i < 10) {
      val v = children(i).eval(input)
      if (v == null) return null
      vs(i) = v.asInstanceOf[Double]
      i += 1
    }
    IouKernel.compute(vs(0), vs(1), vs(2), vs(3), vs(4), vs(5), vs(6), vs(7), vs(8), vs(9))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    val evals = children.map(_.genCode(ctx))
    val kernel = IouKernel.getClass.getName.stripSuffix("$") + "$.MODULE$"
    val anyNull = evals.map(_.isNull).mkString(" || ")
    val args = evals.map(_.value).mkString(", ")
    val childCode = evals.map(_.code).reduce(_ + _)
    ev.copy(code =
      code"""
        $childCode
        boolean ${ev.isNull} = ${JavaCode.isNullExpression(anyNull)};
        double ${ev.value} = ${ev.isNull} ? 0.0 : ${JavaCode.expression(s"$kernel.compute($args)", DoubleType)};
      """)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): CylindricalIou = copy(children = newChildren)
}

object CylindricalIou {
  /** DataFrame-API bridge. Prefer this over the equivalent Column tree on
    * pair joins: Catalyst duplicates a pushed-down filter expression into
    * both the join condition and the output projection, and the expanded
    * IoU tree is large enough that the duplicated whole-stage code can
    * blow past the JVM method limit and silently fall back to interpreted
    * evaluation (measured: 11 s → 193 s on q81 at sf0.1). The native
    * expression generates one static kernel call, so duplication is free.
    */
  def column(cols: org.apache.spark.sql.Column*): org.apache.spark.sql.Column = {
    require(cols.length == 10, "cylindrical_iou(ax1, ay1, ax2, ay2, bx1, by1, bx2, by2, w, h)")
    org.apache.spark.sql.classic.ExpressionUtils.column(
      CylindricalIou(cols.map(org.apache.spark.sql.classic.ExpressionUtils.expression)))
  }
}
