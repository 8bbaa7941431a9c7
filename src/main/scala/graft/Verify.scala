package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Paths}
import scala.util.control.NonFatal
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {

  /** Dump each query's result to `outDir/<name>` as one parquet file,
    * through [[graft.queries.Registry.sweep]] (name order, declared
    * releases after each write). A query that throws is logged to stderr
    * and skipped, so one broken query never costs the rest of the dump.
    * NonFatal only: a fatal VM error aborts the dump instead of leaving a
    * partial sweep that the oracle compare would read as complete.
    */
  def dump(spark: SparkSession, sfDir: String, outDir: String,
      queries: Seq[(String, (SparkSession, String) => DataFrame)]): Unit = {
    val fns = queries.toMap
    graft.queries.Registry.sweep(spark, sfDir, queries.map(_._1)) { name =>
      try fns(name)(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case NonFatal(e) =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
  }

  def main(args: Array[String]): Unit = {
    val (Array(sfDir, outDir), only) = (args.take(2), args.drop(2).toSet)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = Sessions.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // Commit the input tables up front, unseeded: the correctness sweep
    // then exercises the production table-read path, q85's oracle checks
    // the persisted detections round-trip end-to-end, and the ANN index
    // keeps q49/q51/q54/q109 oracle-green reading it. WallClustersTable
    // is Verify's alone: with the grouping table it is what the
    // q80/q82/q83/q86 eps SQL reads.
    graft.queries.Registry.prepare(spark, sfDir,
      graft.queries.Registry.inputTables :+ graft.queries.WallClustersTable, seed = false)
    // Optional trailing args restrict the dump to named queries — the
    // local fast loop (tools/check_subset.py); the driver passes none.
    dump(spark, sfDir, outDir,
      SparkEntry.queries.toSeq.filter { case (name, _) => only.isEmpty || only(name) })
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${Jsons.quote(k)}: ${Jsons.quote(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Rows-only queries, explicitly: name → why no hash-comparable
    // oracle can exist + where the semantics are pinned. Lets the gate
    // distinguish "excluded by design" from "unverified" (ADVICE r9 #2).
    val excl = SparkEntry.oracleExclusions.toSeq.sortBy(_._1)
      .map { case (k, v) => s"${Jsons.quote(k)}: ${Jsons.quote(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_exclusions.json"), excl)
    // Toleranced value oracles for the float-excluded queries: check.py
    // races each against the dumped parquet under the declared atol.
    val eps = SparkEntry.epsOracles(sfDir).toSeq.sortBy(_._1)
      .map { case (k, (sql, atol, note)) =>
        val at = atol.toSeq.sortBy(_._1)
          .map { case (c, v) => s"${Jsons.quote(c)}: $v" }.mkString("{", ",", "}")
        s"""${Jsons.quote(k)}: {"sql": ${Jsons.quote(sql)}, "atol": $at, "note": ${Jsons.quote(note)}}"""
      }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/eps_oracle_sql.json"), eps)
    spark.stop()
  }
}
