package graft.queries

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.geo.{JpegDims, Rle, Wkt}
import graft.pipeline.Synthetic
import graft.sources.DetectionReaders

/** Declared queries for the file-format readers (VERDICT.md "What's
  * missing" #4): S2 TSV pose scan, S5 per-view prediction JSON with the
  * J2 path-derived key, S8 JPEG header sniff, S10+M14 RLE→contour→WKT.
  * Round 1 covered these only in specs; here the driver executes the real
  * reader code paths against DETERMINISTIC fixtures generated from the
  * harness tables at build time, so every value is a closed form of the
  * table keys and the DuckDB oracle re-derives it without reading any
  * fixture file — matching results prove the write→scan→parse round trip.
  */
object Readers {

  /** Per-sf fixture dir, CLEARED and regenerated on first use — a
    * directory scan (q71) must never pick up files a previous generator
    * version left behind.
    */
  private def fixtureDir(sfDir: String, sub: String): String = {
    val d = Paths.get(graft.Fs.stateRoot, "graft_fixtures",
      sfDir.replaceAll("[^a-zA-Z0-9.]", "_"), sub)
    if (Files.exists(d)) {
      val files = Files.list(d)
      try files.forEach(p => Files.deleteIfExists(p)) finally files.close()
    }
    Files.createDirectories(d)
    d.toString
  }

  /** Fixture generation memoized per (sfDir, kind) for the JVM's life
    * (VERDICT r5 "what's wrong" #3): the fixtures mirror the reference's
    * ON-DISK inputs — a real pipeline reads existing files — so only the
    * FIRST sweep should pay the generation collect+write; a re-run of the
    * query (bench double-sweeps, repeated subset checks) reads the files
    * like the production scan it models. The generator body still clears
    * its dir before writing, and the derivation is deterministic in the
    * source tables, so a memoized path always holds exactly the rows a
    * fresh generation would produce.
    */
  private val fixtureOnce =
    scala.collection.concurrent.TrieMap.empty[(String, String), String]
  private def fixturePath(sfDir: String, sub: String)(generate: String => Unit): String =
    fixtureOnce.getOrElseUpdate((sfDir, sub), {
      val d = fixtureDir(sfDir, sub)
      generate(d)
      d
    })

  val all: Seq[QueryDef] = Seq(

    // ── S2: the reference's tab-separated camera reference file
    // (street_level_grouping.py:139-142), written from the pose table and
    // scanned back through the real TSV reader with its bracketed-header
    // schema. Double round trip is exact (toString ↔ parse).
    QueryDef(
      "q70_pose_tsv_scan",
      Some(s"""
        SELECT file_name, roll, pitch, heading, ox, oy, oz
        FROM (${Synthetic.posesSql})
        ORDER BY file_name"""))( (spark, dir) => {
      val path = fixturePath(dir, "poses") { d =>
        val rows = Synthetic.poses(spark, dir).orderBy(col("file_name")).collect()
        val tsv = new StringBuilder(
          "file_name\troll[deg]\tpitch[deg]\theading[deg]\tprojectedX[m]\tprojectedY[m]\tprojectedZ[m]\n")
        rows.foreach { r =>
          tsv ++= (0 until 7).map(i =>
            if (i == 0) r.getString(0) else r.getDouble(i).toString).mkString("", "\t", "\n")
        }
        Files.write(Paths.get(d, "reference.csv"),
          tsv.toString.getBytes(StandardCharsets.UTF_8)): Unit
      } + "/reference.csv"
      DetectionReaders.poseTsv(spark, path)
        .select(col("file_name"), col("roll[deg]").as("roll"),
          col("pitch[deg]").as("pitch"), col("heading[deg]").as("heading"),
          col("projectedX[m]").as("ox"), col("projectedY[m]").as("oy"),
          col("projectedZ[m]").as("oz"))
        .orderBy(col("file_name"))
    }),

    // ── S5 + J2: per-view prediction files named `{theta}_{stem}.json`
    // (street_level_grouping.py:52-66). One file per (nation, theta);
    // the reader recovers theta and photo stem from the PATH — the
    // listdir suffix-matching loop as an equi-join-ready column parse.
    QueryDef(
      "q71_prediction_scan",
      Some("""
        SELECT th AS theta, 'photo_' || n_nationkey AS photo_stem,
               n_nationkey::INT AS x1, (th // 90)::INT AS y1,
               (n_nationkey + 10)::INT AS x2, (th // 90 + 10)::INT AS y2,
               (n_nationkey % 5)::INT AS label,
               ((n_nationkey * 7) % 100) / 100.0 AS score
        FROM nation, (VALUES (0), (90), (180), (270)) t(th)
        ORDER BY photo_stem, theta"""))( (spark, dir) => {
      val d = fixturePath(dir, "predictions") { fd =>
        val nks = graft.sources.Tables.nation(spark, dir)
          .select(col("n_nationkey").cast("int")).collect().map(_.getInt(0))
        for (nk <- nks; th <- Seq(0, 90, 180, 270)) {
          val json =
            s"""{"bboxes": [[$nk, ${th / 90}, ${nk + 10}, ${th / 90 + 10}]],
                |"labels": [${nk % 5}], "scores": [${(nk * 7 % 100) / 100.0}],
                |"masks": []}""".stripMargin
          Files.write(Paths.get(fd, s"${th}_photo_$nk.json"),
            json.getBytes(StandardCharsets.UTF_8)): Unit
        }
      }
      DetectionReaders.predictionsJson(spark, d)
        .select(col("theta"), col("photo_stem"),
          element_at(element_at(col("bboxes"), 1), 1).as("x1"),
          element_at(element_at(col("bboxes"), 1), 2).as("y1"),
          element_at(element_at(col("bboxes"), 1), 3).as("x2"),
          element_at(element_at(col("bboxes"), 1), 4).as("y2"),
          element_at(col("labels"), 1).as("label"),
          element_at(col("scores"), 1).as("score"))
        .orderBy(col("photo_stem"), col("theta"))
    }),

    // ── S8: JPEG dimension sniff — both the reference's fixed-offset
    // trick (street_level_grouping.py:302-310) and the marker-walking SOF
    // parse, against synthesized headers whose APP0 padding lands the
    // SOF0 dimension words exactly at byte 163. The two parsers must
    // agree with each other AND with the analytic dims.
    QueryDef(
      "q72_jpeg_sniff",
      Some("""
        SELECT doc_id, (100 + doc_id % 156)::INT AS w_fixed,
               (50 + doc_id % 100)::INT AS h_fixed,
               (100 + doc_id % 156)::INT AS w_sof, (50 + doc_id % 100)::INT AS h_sof
        FROM documents ORDER BY doc_id"""))( (spark, dir) => {
      val mkJpeg = udf { (id: Long) =>
        val w = (100 + id % 156).toInt; val h = (50 + id % 100).toInt
        val b = new Array[Byte](170)
        b(0) = 0xff.toByte; b(1) = 0xd8.toByte            // SOI
        b(2) = 0xff.toByte; b(3) = 0xe0.toByte            // APP0…
        b(4) = 0; b(5) = 154.toByte                       // …len 154 → next at 158
        b(158) = 0xff.toByte; b(159) = 0xc0.toByte        // SOF0
        b(160) = 0; b(161) = 9; b(162) = 8                // len, precision
        b(163) = (h >> 8).toByte; b(164) = h.toByte
        b(165) = (w >> 8).toByte; b(166) = w.toByte
        b
      }
      val sniff = udf { (bytes: Array[Byte]) =>
        val (wf, hf) = JpegDims.fixedOffset(bytes)
        val sof = JpegDims.fromHeaders(bytes)
        (wf, hf, sof.map(_._1).getOrElse(-1), sof.map(_._2).getOrElse(-1))
      }
      graft.sources.Tables.documents(spark, dir)
        .select(col("doc_id"), sniff(mkJpeg(col("doc_id"))).as("d"))
        .select(col("doc_id"), col("d._1").as("w_fixed"), col("d._2").as("h_fixed"),
          col("d._3").as("w_sof"), col("d._4").as("h_sof"))
        .orderBy(col("doc_id"))
    }),

    // ── S10 + M14: COCO RLE → dense mask (column-major) → Moore contour
    // → collinear compression → WKT, end-to-end through the real kernels,
    // with the counts string produced by the inverse encoder. A
    // full-height band rectangle has a 4-corner contour whose WKT the
    // oracle rebuilds by string concat.
    QueryDef(
      "q73_rle_polygons",
      Some("""
        SELECT doc_id,
               'POLYGON ((' || c0 || ' 0, ' || c1 || ' 0, ' ||
               c1 || ' ' || (h - 1) || ', ' || c0 || ' ' || (h - 1) || ', ' ||
               c0 || ' 0))' AS wkt
        FROM (SELECT doc_id, 8 + doc_id % 8 AS h, 12 + doc_id % 12 AS w,
                     doc_id % 5 AS c0, doc_id % 5 + 2 + doc_id % 4 AS c1
              FROM documents)
        ORDER BY doc_id"""))( (spark, dir) => {
      val rleWkt = udf { (id: Long) =>
        val h = (8 + id % 8).toInt; val w = (12 + id % 12).toInt
        val c0 = (id % 5).toInt; val c1 = c0 + 2 + (id % 4).toInt
        // Column-major runs of a full-height band over cols [c0, c1].
        val counts = Rle.encodeCounts(Array(h * c0, h * (c1 - c0 + 1), h * (w - c1 - 1)))
        Rle.maskToPolygon(counts, h, w) match {
          case Some(poly) => Wkt.polygon(poly.map(p => (p._1.toDouble, p._2.toDouble)))
          case None => Wkt.empty
        }
      }
      graft.sources.Tables.documents(spark, dir)
        .select(col("doc_id"), rleWkt(col("doc_id")).as("wkt"))
        .orderBy(col("doc_id"))
    })
  )
}
