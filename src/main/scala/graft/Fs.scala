package graft

/** Local-filesystem helpers shared by the state/stage committers
  * (IngestDeduper segments, Dag stage tables) and the footer row count
  * (Dag stage reports, q83's tile count). One definition: deletion
  * ORDER is load-bearing (see [[uncommitThenDelete]]) and must not fork
  * across call sites.
  */
private[graft] object Fs {

  /** The one root of every path the program keeps between runs: input
    * tables (`graft_dag/`), reader fixtures (`graft_fixtures/`) and
    * RunDag's default work dirs. It is the JVM's `java.io.tmpdir`, so a
    * launcher that passes `-Djava.io.tmpdir=<fresh dir>` starts a run
    * from no state without touching `/tmp`. Read per call, like the
    * property.
    */
  def stateRoot: String = System.getProperty("java.io.tmpdir", "/tmp")

  def rmTree(f: java.io.File): Unit = {
    val kids = f.listFiles(); if (kids != null) kids.foreach(rmTree); f.delete(): Unit
  }

  /** Exact row count of a local parquet table dir from the file FOOTERS
    * on the driver — metadata only, no Spark job. Recursive: hive-
    * partitioned layouts nest `col=value/` dirs, and a flat-only walk
    * would silently undercount them. `conf` is the caller's (the
    * session's Hadoop conf): a fresh `Configuration` per call re-parses
    * the default XML resources. Throws on an unreadable footer; callers
    * that can fall back to a counting job catch it.
    */
  def parquetRowCount(dir: java.io.File, conf: org.apache.hadoop.conf.Configuration): Long = {
    def walk(d: java.io.File): Long =
      Option(d.listFiles()).getOrElse(Array.empty).iterator.map { f =>
        if (f.isDirectory) walk(f)
        else if (f.getName.endsWith(".parquet") && !f.getName.startsWith("_")
            && !f.getName.startsWith(".")) {
          val r = org.apache.parquet.hadoop.ParquetFileReader.open(
            org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
              new org.apache.hadoop.fs.Path(f.getAbsolutePath), conf))
          try r.getRecordCount finally r.close()
        } else 0L
      }.sum
    walk(dir)
  }

  /** Delete a COMMITTED table dir safely: drop its commit markers FIRST,
    * then the data. `rmTree` alone deletes children in arbitrary
    * listFiles order, so a crash mid-delete could leave the marker
    * present with data files already gone — a torn table that would
    * pass the next tick's commit gate. Marker-first means any crash
    * leaves an UNcommitted dir, which readers ignore and writers
    * rebuild.
    */
  def uncommitThenDelete(dir: java.io.File, markers: Seq[String]): Unit = {
    markers.foreach(m => new java.io.File(dir, m).delete(): Unit)
    rmTree(dir)
  }
}
