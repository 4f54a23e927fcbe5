package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

/** Every session is built by [[Sessions.build]], so the settings the
  * mains and suites share cannot drift apart again.
  */
class SessionsSpec extends SparkSpec {

  test("Sessions.build owns the shared settings") {
    assert(spark.conf.get("spark.sql.session.timeZone") === "UTC")
    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") === "true")
    assert(spark.conf.get("spark.sql.shuffle.partitions") === "4")
    assert(spark.sparkContext.getConf.get("spark.ui.enabled") === "false")
  }

  test("no file under src/main but Sessions.scala builds a SparkSession") {
    val root = Paths.get("src/main")
    val offenders = Files.walk(root).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.getFileName.toString != "Sessions.scala")
      .filter(p => new String(Files.readAllBytes(p), UTF_8).contains("SparkSession.builder"))
      .map(root.relativize(_).toString).toList.sorted
    assert(offenders.isEmpty,
      s"build sessions with graft.Sessions.build, not SparkSession.builder: $offenders")
  }
}
