package graft

import org.apache.spark.sql.SparkSession

/** The one place a graft SparkSession is built: `Bench`, `Verify`,
  * `Cli`, the tools and the test suites all call [[build]], so the
  * settings they must share cannot drift apart. Callers choose only
  * the master and the shuffle-partition count.
  *
  *  - UTC session time zone: dates and timestamps render the same on
  *    every host.
  *  - `spark.sql.legacy.parquet.nanosAsLong`: `events.parquet` stores
  *    TIMESTAMP(NANOS), which Spark reads only as longs;
  *    `Tables.load` converts them to microseconds.
  *  - UI off and WARN logging: batch runs with no one watching.
  */
object Sessions {
  def build(master: String, shufflePartitions: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
