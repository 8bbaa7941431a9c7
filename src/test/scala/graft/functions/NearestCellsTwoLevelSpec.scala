package graft.functions

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.NearestCellsTwoLevel
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The two-level IVF routing kernel (q109, q111) must reproduce the
  * declarative two-window formulation it replaces — fine→coarse routing
  * and both per-row ranking levels, including row_number tie-breaks —
  * on the REAL sf0.01 corpus with the real anchor derivation.
  */
class NearestCellsTwoLevelSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private val dir = "/root/testdata/sf0.01"
  private type Anchor = (Long, Seq[Float], Double)

  override def beforeAll(): Unit = {
    spark = graft.Sessions.builder("4").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def corpus(): DataFrame = graft.sources.Tables.embeddings(spark, dir)
    .select(col("vec_id"), col("embedding"),
      VectorFunctions.norm(col("embedding")).as("nrm"))

  /** Same derivation as q109: the K corpus vectors with the smallest
    * min-hash rank, K = clamp(64, 65536, 4⌊√n⌋), in hash-rank order.
    */
  private def anchorsOf(e: DataFrame): (Int, Seq[Anchor]) = {
    val hash = (col("vec_id") % 1000003L) * 2654435761L % 1000000007L
    val n = e.count()
    val k = math.max(64L, math.min(65536L,
      4L * math.floor(math.sqrt(n.toDouble)).toLong)).toInt
    (k, e.orderBy(hash, col("vec_id")).limit(k).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1), r.getDouble(2))).toSeq)
  }

  private def kernelCells(e: DataFrame, anchors: Seq[Anchor], kc: Int,
      ac: Int, nf: Int): Map[Long, Seq[Long]] =
    e.select(col("vec_id"),
        NearestCellsTwoLevel.column(col("embedding"), col("nrm"), anchors, kc,
          ac = ac, nf = nf).as("cells"))
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1).toSeq)).toMap

  /** The declarative arm: coarse = first kc anchors by rank; route fine
    * anchors by windowed rank; rank each row's coarse cells (crnk ≤ ac),
    * then the fine anchors of their union (frnk ≤ nf), in rank order.
    */
  private def declarativeCells(e: DataFrame, anchors: Seq[Anchor], kc: Int,
      ac: Int, nf: Int): Map[Long, Seq[Long]] = {
    val s2 = spark; import s2.implicits._
    val aDf = anchors.zipWithIndex
      .map { case ((id, v, nr), i) => (id, v, nr, i + 1) }
      .toDF("a_id", "av", "anrm", "hrnk")
    val coarse = aDf.filter(col("hrnk") <= kc)
      .select(col("a_id").as("c_id"), col("av").as("cv"), col("anrm").as("cnrm"))
    def cos(v: Column, nrm: Column, av: Column, anrm: Column) =
      VectorFunctions.dot(v, av) / (nrm * anrm)
    val wf = Window.partitionBy(col("a_id"))
      .orderBy(cos(col("av"), col("anrm"), col("cv"), col("cnrm")).desc, col("c_id"))
    val froute = aDf.crossJoin(coarse)
      .withColumn("crnk", row_number().over(wf)).filter(col("crnk") === 1)
      .select(col("a_id"), col("av"), col("anrm"), col("c_id"))
    val presentCoarse = froute.select(col("c_id")).distinct().join(coarse, "c_id")
    val w1 = Window.partitionBy(col("vec_id"))
      .orderBy(cos(col("embedding"), col("nrm"), col("cv"), col("cnrm")).desc, col("c_id"))
    val w2 = Window.partitionBy(col("vec_id"))
      .orderBy(cos(col("embedding"), col("nrm"), col("av"), col("anrm")).desc, col("a_id"))
    val lvl1 = e.crossJoin(presentCoarse)
      .withColumn("crnk", row_number().over(w1)).filter(col("crnk") <= ac)
      .select(col("vec_id"), col("embedding"), col("nrm"), col("c_id"))
    lvl1.join(froute.withColumnRenamed("c_id", "fc"), col("fc") === col("c_id"))
      .withColumn("frnk", row_number().over(w2)).filter(col("frnk") <= nf)
      .select(col("vec_id"), col("a_id"), col("frnk"))
      .collect().groupBy(_.getLong(0))
      .view.mapValues(_.sortBy(_.getInt(2)).map(_.getLong(1)).toSeq).toMap
  }

  private def assertSame(what: String, got: Map[Long, Seq[Long]],
      want: Map[Long, Seq[Long]]): Unit = {
    assert(got.keySet == want.keySet, s"$what: row sets differ")
    val diff = got.collect { case (id, cs) if want(id) != cs => (id, cs, want(id)) }
    assert(diff.isEmpty, s"$what diverges from the declarative windows on " +
      s"${diff.size} rows, e.g. ${diff.take(3)}")
  }

  test("two-level cell assignment equals the declarative two-window ranking on sf0.01") {
    val e = corpus()
    val (_, anchors) = anchorsOf(e)
    val kc = math.ceil(math.sqrt(anchors.size.toDouble)).toInt
    val kernel = kernelCells(e, anchors, kc, ac = 1, nf = 1)
    assert(kernel.size == e.count() && kernel.values.forall(_.length == 1))
    assertSame("two-level kernel", kernel, declarativeCells(e, anchors, kc, ac = 1, nf = 1))
  }

  test("ac=6 widened assignment + the ac=wc, nf=pf probe equal the declarative multi-probe windows on sf0.01") {
    // The deployed operating point: corpus rows assign through their
    // ac=6 nearest coarse cells; queries probe wc coarse cells and keep
    // the pf best fine cells in the union. Both calls must reproduce
    // the declarative crnk<=ac / crnk<=wc / frnk<=pf window formulation
    // the oracle uses, tie-breaks included.
    val e = corpus()
    val (k, anchors) = anchorsOf(e)
    val kc = math.min(2L * math.ceil(math.sqrt(k.toDouble)).toLong, anchors.size.toLong).toInt
    val wc = ((2L * 2L * math.ceil(math.sqrt(k.toDouble)).toLong + 4L) / 5L).toInt
    val pf = (k + 63) / 64
    val ac = 6

    val kernel = kernelCells(e, anchors, kc, ac, nf = 1)
    assert(kernel.size == e.count())
    assertSame(s"ac=$ac kernel", kernel, declarativeCells(e, anchors, kc, ac, nf = 1))

    val q = e.filter(col("vec_id") < 5)
    assertSame("probe (ac=wc, nf=pf)", kernelCells(q, anchors, kc, wc, pf),
      declarativeCells(q, anchors, kc, wc, pf))
  }

  test("identical-vector twin anchors: empty coarse cells drop from level-1 routing (degenerate branch)") {
    val s2 = spark; import s2.implicits._
    // Anchors 10 and 20 are IDENTICAL vectors: both route (ties to the
    // lower coarse id) under coarse anchor 10, so coarse cell 20 owns
    // no fine anchors and must vanish from level-1 routing — without the
    // constructor's drop, a vector nearest to 20 would route into an
    // empty cell. Anchor 30 is far away on another axis.
    val anchors: Seq[Anchor] = Seq(
      (10L, Seq(1f, 0f, 0f), 1.0),
      (20L, Seq(1f, 0f, 0f), 1.0),
      (30L, Seq(0f, 0f, 1f), 1.0))
    val df = Seq(
      (1L, Seq(0.9f, 0.1f, 0.0f)), // nearest 10/20 family
      (2L, Seq(0.0f, 0.1f, 0.9f))  // nearest 30
    ).toDF("vec_id", "embedding")
      .withColumn("nrm", sqrt(VectorFunctions.dot(col("embedding"), col("embedding"))))
    // kc = 3: every anchor is coarse; cell 20 routes to 10 and empties.
    val got = df.select(col("vec_id"), element_at(
        NearestCellsTwoLevel.column(col("embedding"), col("nrm"), anchors, 3), 1).as("cell"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    // Row 1: level-1 over {10, 30} (20 dropped) → 10; level-2 within
    // cell 10 = {10, 20} → tie on identical vectors → lower id 10.
    // Row 2: → coarse 30 → fine 30.
    assert(got == Map(1L -> 10L, 2L -> 30L), s"got $got")
  }

  test("zero-norm rows route deterministically instead of crashing (ADVICE r17 NaN fallback)") {
    val s2 = spark; import s2.implicits._
    // A zero-norm vector makes every cosine 0/0 = NaN. NaN ranks lowest
    // and NaN ties go to the lower id, so the row routes through the
    // lowest-id cells instead of throwing.
    val anchors: Seq[Anchor] = Seq(
      (10L, Seq(1f, 0f, 0f), 1.0),
      (20L, Seq(0f, 1f, 0f), 1.0),
      (30L, Seq(0f, 0f, 1f), 1.0))
    val df = Seq(
      (1L, Seq(0f, 0f, 0f)),       // zero norm → all-NaN scores
      (2L, Seq(0.0f, 0.1f, 0.9f))  // healthy row, unaffected
    ).toDF("vec_id", "embedding")
      .withColumn("nrm", sqrt(VectorFunctions.dot(col("embedding"), col("embedding"))))
    val got = df.select(col("vec_id"), element_at(
        NearestCellsTwoLevel.column(col("embedding"), col("nrm"), anchors, 3, 2), 1).as("cell"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    // Zero row: coarse cells 10, 20 → lowest fine id 10. Healthy row
    // still routes to 30.
    assert(got == Map(1L -> 10L, 2L -> 30L), s"got $got")
    val probed = df.select(col("vec_id"),
        NearestCellsTwoLevel.column(col("embedding"), col("nrm"),
          anchors, 3, ac = 2, nf = 2).as("cells"))
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1))).toMap
    // Zero row probes the two lowest-id cells — stable, no throw.
    assert(probed(1L) == Seq(10L, 20L), s"got ${probed(1L)}")
    assert(probed(2L).head == 30L, s"got ${probed(2L)}")
  }

  test("zero-norm row: nf=1, nf=2 and the probe all take the declarative all-tie order") {
    val s2 = spark; import s2.implicits._
    // Hash-rank order 50, 40, 10 with kc = 2: coarse = {40, 50}, and
    // fine 10 routes under 50, so the cells are 40 → {40}, 50 → {10, 50}.
    // A zero-norm row ties every score (NaN), so both levels rank by id:
    // coarse (40, 50), then fine (10, 40, 50) — the declarative windows'
    // order. Taking the union in coarse-pick order instead would give
    // (40, 10).
    val anchors: Seq[Anchor] = Seq(
      (50L, Seq(1f, 0f, 0f), 1.0),
      (40L, Seq(0f, 1f, 0f), 1.0),
      (10L, Seq(0.9f, 0.1f, 0f), math.sqrt(0.9f.toDouble * 0.9f + 0.1f.toDouble * 0.1f)))
    val df = Seq((1L, Seq(0f, 0f, 0f))).toDF("vec_id", "embedding")
      .withColumn("nrm", sqrt(VectorFunctions.dot(col("embedding"), col("embedding"))))
    // The declarative cosine divides by a zero norm: ANSI division
    // throws, the legacy one returns null, and all-null scores tie.
    val prev = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    val want = try (1 to 3).map(nf => nf -> declarativeCells(df, anchors, 2, 2, nf)).toMap
      finally spark.conf.set("spark.sql.ansi.enabled", prev)
    assert(want(2) == Map(1L -> Seq(10L, 40L)), s"declarative windows gave ${want(2)}")
    // nf = 1 and 2 are assignment; nf = 3 with ac = 2 is the probe
    // (wc = 2 coarse cells, pf = 3 fine cells).
    for (nf <- 1 to 3)
      assertSame(s"ac=2, nf=$nf", kernelCells(df, anchors, 2, 2, nf), want(nf))
  }

  test("nf=2 multi-assignment equals the declarative frnk<=2 window on sf0.01 (q111's r19 dial (a))") {
    // The beyond-cap operating point multi-assigns each corpus row to
    // its TOP-2 fine cells in the ac-coarse union (rank order). The
    // kernel must reproduce the declarative frnk<=2 formulation the
    // q111 oracle uses, tie-breaks included, and its rank-1 cell must
    // equal the single-assign cell on every row.
    val e = corpus()
    val (k, anchors) = anchorsOf(e)
    val kc = math.min(2L * math.ceil(math.sqrt(k.toDouble)).toLong, anchors.size.toLong).toInt
    val ac = 6

    val multi = kernelCells(e, anchors, kc, ac, nf = 2)
    val single = kernelCells(e, anchors, kc, ac, nf = 1)
    assert(multi.size == e.count())
    assertSame("nf=2 kernel", multi, declarativeCells(e, anchors, kc, ac, nf = 2))
    val rankDiff = multi.collect { case (id, cs) if cs.take(1) != single(id) => id }
    assert(rankDiff.isEmpty,
      s"nf=2 rank-1 cell diverges from single-assign on ${rankDiff.size} rows")
    assert(multi.values.forall(_.length == 2),
      "every sf0.01 row has >=2 fine anchors in its ac-union")
  }

  test("nf=2 zero-norm rows fall back to the first two candidates deterministically") {
    val s2 = spark; import s2.implicits._
    val anchors: Seq[Anchor] = Seq(
      (10L, Seq(1f, 0f, 0f), 1.0),
      (20L, Seq(0f, 1f, 0f), 1.0),
      (30L, Seq(0f, 0f, 1f), 1.0))
    val df = Seq(
      (1L, Seq(0f, 0f, 0f)),       // zero norm → all-NaN scores
      (2L, Seq(0.0f, 0.1f, 0.9f))  // healthy row
    ).toDF("vec_id", "embedding")
      .withColumn("nrm", sqrt(VectorFunctions.dot(col("embedding"), col("embedding"))))
    val got = df.select(col("vec_id"),
        NearestCellsTwoLevel.column(col("embedding"), col("nrm"), anchors, 3, 2,
          nf = 2).as("cells"))
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1))).toMap
    // Zero row: every score ties (NaN), so both levels rank by id —
    // coarse cells 10, 20, then their fine anchors 10, 20.
    assert(got(1L) == Seq(10L, 20L), s"got ${got(1L)}")
    // Healthy row: best fine 30, runner-up 20 (0.1 on the y axis).
    assert(got(2L) == Seq(30L, 20L), s"got ${got(2L)}")
  }

  test("kernel assignment is identical on the interpreted (NO_CODEGEN) path") {
    val e = corpus()
    val hash = (col("vec_id") % 1000003L) * 2654435761L % 1000000007L
    val anchors = e.orderBy(hash, col("vec_id")).limit(88).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1), r.getDouble(2))).toSeq
    def run(): Map[Long, Seq[Long]] = kernelCells(e, anchors, 10, ac = 1, nf = 1)
    val gen = run()
    val prev = spark.conf.get("spark.sql.codegen.factoryMode", "FALLBACK")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try assert(run() == gen, "interpreted path diverges from codegen")
    finally spark.conf.set("spark.sql.codegen.factoryMode", prev)
  }
}
