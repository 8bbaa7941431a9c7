package org.apache.spark.sql.graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** SparkSessionExtensions injector exposing the graft kernels to SQL —
  * `spark.sql("SELECT vector_dot(a, b) ...")` — so the library surface
  * is reachable from pure-SQL callers, JDBC gateways, and
  * `spark.sql.extensions=org.apache.spark.sql.graft.GraftExtensions`
  * without any Scala import.
  *
  * Registered functions:
  *  - vector_dot(arr, arr) → double: native codegen [[VectorDot]].
  *  - cylindrical_iou(ax1, ay1, ax2, ay2, bx1, by1, bx2, by2, w, h) →
  *    double: seam-aware IoU (SURVEY §2 M11) as the same codegen-friendly
  *    column tree the DataFrame API uses.
  *  - poly_hash(str) → long: rolling polynomial hash.
  *  - sorted_intersect_count(arr, arr) → int: merge-walk |A ∩ B| over
  *    array_sort'ed string arrays (null elements terminate the walk).
  *  - vector_avg(arr) → array<double>: element-wise mean aggregate
  *    ([[VectorAvg]], one map-side-combined pass).
  *
  * Query-stage preparation rule (AQE): [[SmallSortInOneTask]].
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      FunctionIdentifier("vector_dot"),
      new ExpressionInfo(classOf[VectorDot].getName, "vector_dot"),
      (children: Seq[Expression]) => {
        require(children.length == 2, "vector_dot(a, b)")
        VectorDot(children.head, children(1))
      }))

    ext.injectFunction((
      FunctionIdentifier("cylindrical_iou"),
      new ExpressionInfo(classOf[CylindricalIou].getName, "cylindrical_iou"),
      (children: Seq[Expression]) => CylindricalIou(children)))

    ext.injectFunction((
      FunctionIdentifier("poly_hash"),
      new ExpressionInfo(classOf[StringPolyHash].getName, "poly_hash"),
      (children: Seq[Expression]) => {
        require(children.length == 1, "poly_hash(str)")
        StringPolyHash(children.head)
      }))

    ext.injectFunction((
      FunctionIdentifier("sorted_intersect_count"),
      new ExpressionInfo(classOf[SortedIntersectCount].getName, "sorted_intersect_count"),
      (children: Seq[Expression]) => {
        require(children.length == 2, "sorted_intersect_count(a, b)")
        SortedIntersectCount(children.head, children(1))
      }))

    ext.injectFunction((
      FunctionIdentifier("vector_avg"),
      new ExpressionInfo(classOf[VectorAvg].getName, "vector_avg"),
      (children: Seq[Expression]) => {
        require(children.length == 1, "vector_avg(arr)")
        VectorAvg(children.head)
      }))

    ext.injectQueryStagePrepRule(_ => SmallSortInOneTask)
  }
}
