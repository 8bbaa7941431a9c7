package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Unit pins for the text/dedup column builders (the DuckDB gate checks
  * them end-to-end on the corpus; these fix the small semantics — token
  * edge cases, shingle windows, MinHash/SimHash invariants — with
  * hand-computable fixtures).
  */
class TextDedupSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = graft.Sessions.builder("2").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def one(text: String) = {
    val s = spark; import s.implicits._
    Seq(text).toDF("text")
  }

  test("tokens drop empties and lowercase; counts/avg-len match by hand") {
    val r = one("  The  QUICK brown   fox ")
      .select(TextFunctions.tokens(col("text")).as("t"))
      .select(col("t"), TextFunctions.tokenCount(col("t")).as("n"),
        TextFunctions.avgWordLen(col("t")).as("awl"))
      .head()
    assert(r.getAs[scala.collection.Seq[String]]("t").toSeq == Seq("the", "quick", "brown", "fox"))
    assert(r.getAs[Long]("n") == 4)
    assert(r.getAs[Double]("awl") == (3 + 5 + 5 + 3) / 4.0)
  }

  test("bpe-ish count: ceil(len/4) per token") {
    val r = one("a abcd abcdef")
      .select(TextFunctions.bpeTokenCount(TextFunctions.tokens(col("text"))))
      .head().getLong(0)
    assert(r == 1 + 1 + 2)
  }

  test("stopword and punct ratios") {
    val df = one("the cat, and the dog!")
    val toks = TextFunctions.tokens(col("text"))
    val r = df.select(TextFunctions.stopwordRatio(toks).as("sr"),
      TextFunctions.punctRatio(col("text")).as("pr")).head()
    assert(r.getDouble(0) == 3.0 / 5.0) // the, and, the
    assert(r.getDouble(1) == 2.0 / 21.0)
  }

  test("langId picks the marker-richest language, 'und' with no markers") {
    def lid(t: String) =
      one(t).select(TextFunctions.langId(TextFunctions.tokens(col("text")))).head().getString(0)
    assert(lid("the size of the house is big") == "en")
    assert(lid("el tamaño de la casa que era") == "es")
    assert(lid("der hund und die katze ist") == "de")
    assert(lid("xyzzy plugh quux") == "und")
    // Tie (one marker each) keeps the earlier LangMarkers entry.
    assert(lid("the el") == "en")
  }

  test("shingles: sliding distinct windows; short docs give empty array") {
    def sh(t: String) = one(t)
      .select(TextFunctions.shingles(TextFunctions.tokens(col("text")), 3))
      .head().getAs[scala.collection.Seq[String]](0).toSeq
    assert(sh("a b c d") == Seq("a b c", "b c d"))
    assert(sh("a b") == Seq.empty)
    assert(sh("x y x y x y") == Seq("x y x", "y x y")) // distinct
  }

  test("fingerprint is the 31-polynomial rolling hash mod 1e9+7") {
    val got = one("ab").select(TextFunctions.fingerprint(col("text"))).head().getLong(0)
    assert(got == (('a'.toLong * 31) + 'b'.toLong) % TextFunctions.HashMod)
  }

  test("native poly_hash is bitwise-equal to the HOF fold on the real corpus") {
    def hofHash(c: org.apache.spark.sql.Column) =
      aggregate(
        filter(split(c, ""), ch => ch =!= lit("")),
        lit(0L),
        (acc, ch) => pmod(acc * 31L + ascii(ch).cast("long"), lit(TextFunctions.HashMod)))
    val docs = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
    val diffs = docs.select(
      TextFunctions.fingerprint(col("text")).as("fast"),
      hofHash(lower(col("text"))).as("slow"))
      .filter(col("fast") =!= col("slow"))
    assert(diffs.count() == 0)
    // And from SQL:
    val sql = spark.sql("SELECT poly_hash('ab')").head().getLong(0)
    assert(sql == (('a'.toLong * 31) + 'b'.toLong) % TextFunctions.HashMod)
  }

  test("MinHash: signature entry is the min affine hash; containment monotone") {
    val s = spark; import s.implicits._
    val base = (0 until 20).map(i => s"shingle $i x")
    val df = Seq(
      (1L, base),
      (2L, base),                                               // identical
      (3L, base.take(10) ++ (0 until 10).map(i => s"other $i y")), // half overlap
      (4L, (0 until 20).map(i => s"disjoint $i z"))             // disjoint
    ).toDF("id", "sh")
    val sig = df.select(col("id"),
      DedupFunctions.minhashSignature(TextFunctions.shingleHashes(col("sh"))).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getAs[scala.collection.Seq[Long]](1).toSeq).toMap
    assert(sig(1L) == sig(2L), "identical sets → identical signatures")
    assert(sig(1L) != sig(4L), "disjoint sets → different signatures")
    val agreeHalf = sig(1L).zip(sig(3L)).count { case (a, b) => a == b }
    val agreeDisj = sig(1L).zip(sig(4L)).count { case (a, b) => a == b }
    assert(agreeHalf > agreeDisj,
      s"containment monotone: half-overlap agrees ($agreeHalf) more than disjoint ($agreeDisj)")
    assert(sig(1L).length == DedupFunctions.K)
  }

  test("MinHash: native one-pass kernel ≡ declarative K-transform spelling") {
    val s = spark; import s.implicits._
    // Live-corpus sample (real shingle hashes through the production
    // path) plus adversarial literals: empty array (K-null signature),
    // null elements (skipped like array_min), negative and huge longs
    // (wrap-on-multiply + sign-corrected pmod), single element.
    val corpus = graft.sources.Tables.documents(s, "/root/testdata/sf0.001")
      .select(col("doc_id").as("id"),
        TextFunctions.shingleHashes(
          TextFunctions.shingles(TextFunctions.tokens(col("text")), 3)).as("hs"))
    val adversarial = Seq(
      (9001L, Seq.empty[java.lang.Long]),
      (9002L, Seq[java.lang.Long](0L)),
      (9003L, Seq[java.lang.Long](null, 12345L, null)),
      (9004L, Seq[java.lang.Long](null, null)),
      // Values stay where s*A(i)+B(i) cannot overflow a long (|s| <
      // 2^32): the declarative form runs under ANSI (Spark 4 default)
      // and THROWS on overflow, while real shingle hashes live in
      // [0, 1e9+7) where overflow is impossible — the kernel's domain.
      (9005L, Seq[java.lang.Long](-1L, 4000000000L, -4000000000L)),
      (9006L, Seq[java.lang.Long](DedupFunctions.P - 1, DedupFunctions.P, 1000000007L))
    ).toDF("id", "hs")
    for (df <- Seq(corpus, adversarial)) {
      val diffs = df.select(col("id"),
          DedupFunctions.minhashSignature(col("hs")).as("fast"),
          DedupFunctions.minhashSignatureDeclarative(col("hs")).as("slow"))
        .filter(not(col("fast") <=> col("slow")))
      assert(diffs.count() == 0, s"native vs declarative mismatch: ${diffs.take(3).toSeq}")
    }
    // A null hs array: the native kernel returns a null signature, the
    // declarative spelling K nulls. They differ as signatures, so the
    // equivalence that matters is downstream: identical band keys.
    val nullHs = Seq((9007L, null.asInstanceOf[Seq[java.lang.Long]])).toDF("id", "hs")
    for (df <- Seq(corpus, adversarial, nullHs)) {
      val diffs = df.select(col("id"),
          DedupFunctions.bandKeys(DedupFunctions.minhashSignature(col("hs"))).as("fast"),
          DedupFunctions.bandKeys(
            DedupFunctions.minhashSignatureDeclarative(col("hs"))).as("slow"))
        .filter(not(col("fast") <=> col("slow")))
      assert(diffs.count() == 0, s"native vs declarative band keys: ${diffs.take(3).toSeq}")
    }
  }

  test("SimHash: native codegen kernel ≡ the UDF spelling") {
    val s = spark; import s.implicits._
    val corpus = graft.sources.Tables.documents(s, "/root/testdata/sf0.001")
      .select(col("doc_id").as("id"),
        TextFunctions.shingleHashes(
          TextFunctions.shingles(TextFunctions.tokens(col("text")), 3)).as("hs"))
    // The UDF's domain is arrays of NON-NULL elements (the Seq[Long]
    // encoder asserts null elements away with NOT_NULL_ASSERT_VIOLATION)
    // plus the null/empty-array edge its guard maps to 0L — the pin
    // covers exactly that domain; the kernel's vote-as-0 for a null
    // element is defensive, unreachable from any production input.
    val adversarial = Seq(
      (9001L, Seq.empty[Long]),
      (9002L, Seq[Long](0L)),
      (9005L, Seq[Long](-1L, Long.MaxValue, Long.MinValue)),
      (9006L, Seq[Long](999999999L, 1L, 2L, 3L))
    ).toDF("id", "hs")
      .unionByName(Seq(9007L).toDF("id")
        .select(col("id"), lit(null).cast("array<bigint>").as("hs")))
    for (df <- Seq(corpus, adversarial)) {
      val diffs = df.select(col("id"),
          DedupFunctions.simhash48(col("hs")).as("fast"),
          DedupFunctions.simhash48Udf(col("hs")).as("slow"))
        .filter(not(col("fast") <=> col("slow")))
      assert(diffs.count() == 0, s"native vs UDF mismatch: ${diffs.take(3).toSeq}")
    }
  }

  test("SimHash: identical texts collide; hamming is symmetric and bounded") {
    val s = spark; import s.implicits._
    val df = Seq(
      (1L, Seq(12345L, 67890L, 13579L)),
      (2L, Seq(12345L, 67890L, 13579L)),
      (3L, Seq(99999L, 88888L, 77777L))).toDF("id", "hs")
    val sh = df.select(col("id"), DedupFunctions.simhash48(col("hs")).as("sh"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sh(1L) == sh(2L))
    assert(sh(1L) >= 0 && sh(1L) < DedupFunctions.SimMod)
    val h13 = java.lang.Long.bitCount(sh(1L) ^ sh(3L))
    assert(h13 >= 0 && h13 <= DedupFunctions.SimBits)
  }

  test("jaccardSorted equals jaccard on all corpus pairs (bitwise)") {
    val sh = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"), TextFunctions.shingles(TextFunctions.tokens(col("text")), 3).as("s"))
    val a = sh.select(col("doc_id").as("a_id"), col("s").as("a_s"),
      array_sort(col("s")).as("a_ss"))
    val b = sh.select(col("doc_id").as("b_id"), col("s").as("b_s"),
      array_sort(col("s")).as("b_ss"))
    val diffs = a.join(b, col("a_id") < col("b_id"))
      .select(DedupFunctions.jaccard(col("a_s"), col("b_s")).as("ref"),
        DedupFunctions.jaccardSorted(col("a_ss"), col("b_ss")).as("fast"))
      .filter(col("ref") =!= col("fast"))
    assert(diffs.count() == 0)
  }

  test("sorted-intersect kernel tolerates null elements (sorted nulls are terminal)") {
    val s = spark; import s.implicits._
    // array_sort places nulls last; the merge walk (including the
    // equal-run skip) must stop at the first null instead of NPE'ing.
    val df = Seq(
      (Seq[String]("a", "b", null), Seq[String]("a", "c", null)),
      (Seq[String]("a", "a", null), Seq[String]("a", null, null)),
      (Seq[String](null), Seq[String]("a"))).toDF("x", "y")
    val r = df.select(org.apache.spark.sql.graft.SortedIntersectCount
        .column(col("x"), col("y"))).collect().map(_.getInt(0))
    assert(r.toSeq == Seq(1, 1, 0))
  }

  test("jaccard: identical → 1, disjoint → 0, half-overlap by hand") {
    val s = spark; import s.implicits._
    val df = Seq((Seq("a", "b"), Seq("a", "b")),
      (Seq("a", "b"), Seq("c", "d")),
      (Seq("a", "b", "c"), Seq("b", "c", "d"))).toDF("x", "y")
    val r = df.select(DedupFunctions.jaccard(col("x"), col("y"))).collect().map(_.getDouble(0))
    assert(r(0) == 1.0 && r(1) == 0.0 && r(2) == 0.5)
  }
}
