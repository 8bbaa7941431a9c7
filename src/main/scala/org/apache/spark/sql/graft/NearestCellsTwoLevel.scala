// Hosted under org.apache.spark.sql.* because native Expression authoring
// needs private[sql] extension points (AbstractDataType/TypeCollection and
// the Column↔Expression bridge) — the conventional packaging for Spark
// extension libraries shipping codegen expressions.
package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types._

/** IVF cell routing, map-side: score a vector against the Kc coarse
  * anchors, keep its `ac` nearest coarse cells, then rank the union of
  * those cells' FINE anchors and return the best `nf` fine cell ids in
  * rank order (shorter when the union holds fewer). Per-row cost is
  * O((Kc + ac·K/Kc)·dim) instead of a flat O(K·dim) scan: at the
  * 65536-anchor cap with ac = 1 that is 512 anchor dots per row instead
  * of 65536. This is the classical IVF coarse/fine decomposition (an
  * IMI/IVFADC-style routing tree of depth 2).
  *
  * One kernel serves every IVF caller. With kc = 1 the one coarse cell
  * holds every anchor, so level 2 ranks all K of them: the flat
  * assignment (q51, q54, q49, the q111 probe, the ANN index and serving
  * paths), one extra dot per row. With kc > 1: corpus assignment
  * (nf = 1, read with `element_at(…, 1)`), multi-assignment (nf > 1: a
  * row that narrowly misassigns is still findable through its runner-up
  * cell), and the query-side probe (ac = the probed coarse width,
  * nf = the probed fine cells). Widening ac trades assignment cost for
  * fewer hierarchical misassignments, which dominate the two-level
  * recall loss (IVF_TWOLEVEL_r17.json).
  *
  * Selection rule, both levels: score DESC, ties to the lower anchor id,
  * a NaN score (a zero-norm row or anchor: 0/0) ranks lowest and NaN
  * ties also go to the lower id. That is the declarative `row_number()
  * OVER (ORDER BY score DESC, id)` ranking (DuckDB's x/0 is NULL, and
  * NULLs sort last), so the window oracles compute bit-identical cells.
  * Scores use the oracle's fold (double accumulation in array order,
  * score = dot/(nrm·anrm)). The coarse set is the first Kc fine anchors
  * by the same min-hash rank (a nested subset — no second anchor family
  * to mirror), and the fine→coarse routing table is computed once on
  * the driver.
  *
  * The anchor matrices ride in the expression (driver-held, like any
  * IVF/kmeans centroid set) and reach generated code via
  * `addReferenceObj`, so the corpus embedding column never enters an
  * exchange: a crossJoin(broadcast(anchors)) + window would shuffle
  * corpus×K rows carrying the arrays just to take an argmax.
  *
  * The routing is HIERARCHICAL, not flat-best: a vector's nearest fine
  * anchor overall may live under a different coarse cell — the standard
  * two-level recall trade, measured against the flat path by q109 vs
  * q51's shared oracle machinery.
  */
case class NearestCellsTwoLevel(
    vec: Expression,
    nrm: Expression,
    coarseIds: IndexedSeq[Long],
    coarseVecs: IndexedSeq[IndexedSeq[Float]],
    coarseNrms: IndexedSeq[Double],
    fineIdsByCoarse: IndexedSeq[IndexedSeq[Long]],
    fineVecsByCoarse: IndexedSeq[IndexedSeq[IndexedSeq[Float]]],
    fineNrmsByCoarse: IndexedSeq[IndexedSeq[Double]],
    ac: Int = 1,
    nf: Int = 1)
    extends BinaryExpression with ExpectsInputTypes {

  require(coarseIds.nonEmpty, "NearestCellsTwoLevel: empty coarse set")
  require(coarseIds.length == coarseVecs.length && coarseIds.length == coarseNrms.length)
  require(fineIdsByCoarse.length == coarseIds.length)
  require(ac >= 1, s"coarse width ac=$ac must be >= 1")
  require(nf >= 1, s"fine width nf=$nf must be >= 1")
  require(fineIdsByCoarse.forall(_.nonEmpty),
    "level-1 routing must only see coarse cells owning >=1 fine anchor " +
      "(the column() constructor drops empty cells)")

  override def left: Expression = vec
  override def right: Expression = nrm

  override def inputTypes: Seq[AbstractDataType] = Seq(
    TypeCollection(ArrayType(FloatType), ArrayType(DoubleType)), DoubleType)

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  private def elemIsFloat: Boolean =
    vec.dataType.asInstanceOf[ArrayType].elementType == FloatType

  @transient private lazy val cIds: Array[Long] = coarseIds.toArray
  @transient private lazy val cMats: Array[Array[Float]] = coarseVecs.map(_.toArray).toArray
  @transient private lazy val cNrms: Array[Double] = coarseNrms.toArray
  @transient private lazy val fIds: Array[Array[Long]] = fineIdsByCoarse.map(_.toArray).toArray
  @transient private lazy val fMats: Array[Array[Array[Float]]] =
    fineVecsByCoarse.map(_.map(_.toArray).toArray).toArray
  @transient private lazy val fNrms: Array[Array[Double]] =
    fineNrmsByCoarse.map(_.toArray).toArray

  private def dot(v: ArrayData, fl: Boolean, av: Array[Float]): Double = {
    val n = math.min(v.numElements(), av.length)
    var acc = 0.0
    var i = 0
    while (i < n) {
      val xi = if (fl) v.getFloat(i).toDouble else v.getDouble(i)
      acc += xi * av(i).toDouble
      i += 1
    }
    acc
  }

  /** (s, id) ranks above (bs, bid): score DESC, a NaN score lowest,
    * ties — NaN ties included — to the lower id.
    */
  private def above(s: Double, id: Long, bs: Double, bid: Long): Boolean =
    if (s.isNaN) bs.isNaN && id < bid
    else bs.isNaN || s > bs || (s == bs && id < bid)

  /** Indices of the `n` best (score, id) pairs in rank order, by
    * repeated max passes (n is small).
    */
  private def top(scores: Array[Double], ids: Array[Long], n: Int): Array[Int] = {
    val out = new Array[Int](math.min(n, scores.length))
    val used = new Array[Boolean](scores.length)
    var r = 0
    while (r < out.length) {
      var best = -1
      var i = 0
      while (i < scores.length) {
        if (!used(i) && (best < 0 || above(scores(i), ids(i), scores(best), ids(best)))) best = i
        i += 1
      }
      used(best) = true; out(r) = best; r += 1
    }
    out
  }

  /** Public so generated code can call it through the reference object. */
  def kernel(v: ArrayData, vNrm: Double): ArrayData = {
    val fl = elemIsFloat
    val cScores = new Array[Double](cIds.length)
    var a = 0
    while (a < cIds.length) { cScores(a) = dot(v, fl, cMats(a)) / (vNrm * cNrms(a)); a += 1 }
    val picked = top(cScores, cIds, ac)
    // Level 2 ranks the union of the picked cells' fine anchors; the
    // union is not id-sorted across cells, which the id tie-break covers.
    var nCand = 0
    var r = 0
    while (r < picked.length) { nCand += fIds(picked(r)).length; r += 1 }
    val candIds = new Array[Long](nCand)
    val candScores = new Array[Double](nCand)
    var o = 0
    r = 0
    while (r < picked.length) {
      val ids = fIds(picked(r)); val mats = fMats(picked(r)); val nrms = fNrms(picked(r))
      var f = 0
      while (f < ids.length) {
        candIds(o) = ids(f)
        candScores(o) = dot(v, fl, mats(f)) / (vNrm * nrms(f))
        o += 1; f += 1
      }
      r += 1
    }
    val best = top(candScores, candIds, nf)
    val out = new Array[Long](best.length)
    r = 0
    while (r < out.length) { out(r) = candIds(best(r)); r += 1 }
    new GenericArrayData(out)
  }

  override protected def nullSafeEval(a: Any, b: Any): Any =
    kernel(a.asInstanceOf[ArrayData], b.asInstanceOf[java.lang.Double])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("twoLevel", this, classOf[NearestCellsTwoLevel].getName)
    nullSafeCodeGen(ctx, ev, (v, n) =>
      s"${ev.value} = $ref.kernel($v, $n);")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): NearestCellsTwoLevel =
    copy(vec = newLeft, nrm = newRight)

  override def prettyName: String = "nearestcells_twolevel"

  override def toString: String =
    s"nearestcells_twolevel($vec, $nrm, coarse=${coarseIds.length}, " +
      s"fine=${fineIdsByCoarse.map(_.length).sum}, ac=$ac, nf=$nf)"
}

object NearestCellsTwoLevel {

  /** Driver-side routing table from the flat anchor list (hash-rank
    * order, as collected): the first `kc` anchors double as the coarse
    * set, and every fine anchor routes to its nearest coarse anchor with
    * the kernel's scoring fold and tie rule. Returns (kept coarse
    * anchors, fine anchors grouped by kept coarse cell).
    */
  private def routingTable(anchorsByRank: Seq[(Long, Seq[Float], Double)], kc: Int)
      : (Seq[(Long, Seq[Float], Double)], Seq[Seq[(Long, Seq[Float], Double)]]) = {
    require(kc >= 1 && kc <= anchorsByRank.length)
    val coarse = anchorsByRank.take(kc).sortBy(_._1)
    def score(v: Seq[Float], vn: Double, c: (Long, Seq[Float], Double)): Double = {
      var acc = 0.0
      var i = 0
      val n = math.min(v.length, c._2.length)
      while (i < n) { acc += v(i).toDouble * c._2(i).toDouble; i += 1 }
      acc / (vn * c._3)
    }
    // One coarse cell owns every anchor: no routing dots to compute.
    val routed: Map[Long, Seq[(Long, Seq[Float], Double)]] =
      if (kc == 1) Map(coarse.head._1 -> anchorsByRank)
      else anchorsByRank.groupBy { f =>
        // nearest coarse: score DESC, coarse id ASC (coarse is id-sorted,
        // strict > keeps the earlier id on ties)
        var bestId = coarse.head._1
        var best = Double.NegativeInfinity
        coarse.foreach { c =>
          val s = score(f._2, f._3, c)
          if (s > best) { best = s; bestId = c._1 }
        }
        bestId
      }
    // A coarse cell owning no fine anchors cannot host any corpus row —
    // drop it from level-1 routing (degenerate only: a coarse anchor can
    // lose even ITSELF to an identical-vector twin on the id tie-break).
    // The oracle mirrors this by ranking corpus rows over exactly the
    // coarse ids present in the fine routing relation.
    val kept = coarse.filter(c => routed.contains(c._1))
    (kept, kept.map(c => routed(c._1).sortBy(_._1)))
  }

  /** The fine→coarse routing as a persistable relation: fine anchor id →
    * kept coarse anchor id, computed by the SAME fold/tie rule as
    * [[routingTable]] (it IS routingTable, flattened). Persisted by the
    * ANN index table so a reuse tick reconstructs the routing without
    * recomputing K·Kc anchor dots.
    */
  def routeOf(anchorsByRank: Seq[(Long, Seq[Float], Double)], kc: Int): Map[Long, Long] = {
    val (kept, byCoarse) = routingTable(anchorsByRank, kc)
    kept.zip(byCoarse).flatMap { case (c, fines) => fines.map(f => f._1 -> c._1) }.toMap
  }

  /** Rebuild [[routingTable]]'s output from a persisted route map —
    * bit-identical by construction: kept = the coarse ids present as
    * route targets (id-sorted, exactly routingTable's filter), each
    * cell's fine anchors id-sorted.
    */
  private def routingFromPersisted(
      anchorsByRank: Seq[(Long, Seq[Float], Double)], route: Map[Long, Long])
      : (Seq[(Long, Seq[Float], Double)], Seq[Seq[(Long, Seq[Float], Double)]]) = {
    val byId = anchorsByRank.map(a => a._1 -> a).toMap
    val grouped = anchorsByRank.groupBy(f => route(f._1))
    val kept = grouped.keys.toSeq.sorted.map(byId)
    (kept, kept.map(c => grouped(c._1).sortBy(_._1)))
  }

  /** The two-level cells column: the `nf` best fine cells within the
    * `ac` nearest coarse cells, as `array<bigint>` in rank order. `route`
    * is a persisted [[routeOf]] map; without it the table is computed
    * from `anchorsByRank` and `kc`.
    */
  def column(
      vec: Column, nrm: Column,
      anchorsByRank: Seq[(Long, Seq[Float], Double)], kc: Int,
      ac: Int = 1, route: Option[Map[Long, Long]] = None,
      nf: Int = 1): Column = {
    val (kept, byCoarse) = route.map(routingFromPersisted(anchorsByRank, _))
      .getOrElse(routingTable(anchorsByRank, kc))
    ExpressionUtils.column(NearestCellsTwoLevel(
      ExpressionUtils.expression(vec), ExpressionUtils.expression(nrm),
      kept.map(_._1).toIndexedSeq,
      kept.map(_._2.toIndexedSeq).toIndexedSeq,
      kept.map(_._3).toIndexedSeq,
      byCoarse.map(_.map(_._1).toIndexedSeq).toIndexedSeq,
      byCoarse.map(_.map(_._2.toIndexedSeq).toIndexedSeq).toIndexedSeq,
      byCoarse.map(_.map(_._3).toIndexedSeq).toIndexedSeq,
      ac, nf))
  }
}
