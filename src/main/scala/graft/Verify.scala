package graft
import java.nio.file.{Files, Paths}
import org.json4s.DefaultFormats
import org.json4s.jackson.Serialization
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = Sessions.build(s"local[$cpus]", cpus)
    new java.io.File(outDir).mkdirs()
    // Failures must be LOUD: a swallowed exception here silently drops
    // the query from the driver's correctness compare (round-2 lesson:
    // s1_rowid_scan vanished from CORRECTNESS without tripping anything).
    // Every failure is recorded in errors.json and flips the exit code.
    val failures = scala.collection.mutable.LinkedHashMap.empty[String, String]
    // SPARK_GRAFT_ONLY=a,b,c restricts the dump (local iteration on new
    // queries); the driver never sets it, so the gate stays complete.
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    def keep(name: String): Boolean = only.forall(_.contains(name))
    // SPARK_GRAFT_JSON_ONLY=1 skips the query dump and just (re)writes
    // oracle_sql.json — for re-running a DuckDB compare against
    // existing parquet outputs after an oracle-only change
    val jsonOnly = sys.env.get("SPARK_GRAFT_JSON_ONLY").contains("1")
    SparkEntry.queries.filter(kv => !jsonOnly && keep(kv._1)).foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name FAILED: ${e.getMessage}")
        failures(name) = Option(e.getMessage).getOrElse(e.getClass.getName)
      }
      // free this query's eager localCheckpoint blocks before the next
      // one — 200+ checkpointing queries in one session otherwise
      // accumulate storage until the ContextCleaner catches up
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
    }
    def writeJson(file: String, m: Map[String, String]): Unit =
      Files.writeString(Paths.get(s"$outDir/$file"),
        Serialization.write(m)(DefaultFormats))
    writeJson("oracle_sql.json", SparkEntry.oracleSql.filter(kv => keep(kv._1)))
    writeJson("errors.json", failures.toMap)
    spark.stop()
    if (failures.nonEmpty) {
      System.err.println(s"[verify] ${failures.size} quer${if (failures.size == 1) "y" else "ies"} FAILED: ${failures.keys.mkString(", ")}")
      sys.exit(1)
    }
  }
}
