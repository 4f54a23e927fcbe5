package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Pipeline, SparkEntry}
import graft.functions.DateParse
import graft.operators.{Extract, Fts, Rowid}
import graft.sinks.SqliteCli
import graft.sources.CsvLoader

/** The JVM side of the benchmark: one closed-loop client on one driver
  * thread runs a workload's operations against generated inputs and
  * writes what it measured to `<work>/harness.json`. `run.py` makes the
  * inputs, checks the outputs and prints the metrics.
  *
  * Usage: Harness <ingest|queries> <passes> <trace 0|1> <inputDir> <workDir> [query,...]
  *
  * For `queries` the last argument is the pass's query order.
  */
object Harness {

  val ExtractCols: Seq[String] = Seq("region", "city", "vendor")

  /** One op's outcome; `dir` holds the output `run.py` checks. */
  final case class Op(kind: String, pass: Int, seconds: Double, error: Option[String], dir: String)

  def main(args: Array[String]): Unit = {
    val Array(workload, passes, trace, inputDir, workDir) = args.take(5)
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$workDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val out = mutable.LinkedHashMap.empty[String, Any]
    val run = new Run(spark, passes.toInt, trace == "1", inputDir, workDir, out)
    try workload match {
      case "ingest" => run.ingest()
      case "queries" => run.queries(args(5).split(",").toSeq)
    } finally {
      Files.writeString(Paths.get(workDir, "harness.json"),
        org.json4s.jackson.Serialization.write(out)(org.json4s.DefaultFormats))
      spark.stop()
    }
  }

  /** Materialize every column of `df` without collecting it. */
  def materialize(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def copyTree(from: Path, to: Path): Unit = {
    val s = Files.walk(from)
    try s.forEach(p => Files.copy(p, to.resolve(from.relativize(p).toString)))
    finally s.close()
  }

  /** The subdirectories of `dir`, sorted by name. */
  def subdirs(dir: Path): Seq[Path] = {
    val s = Files.list(dir)
    try s.toArray.toSeq.map(_.asInstanceOf[Path]).filter(Files.isDirectory(_)).sortBy(_.toString)
    finally s.close()
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0 else if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  def error(e: Throwable): String = {
    val root = Iterator.iterate(e)(_.getCause).takeWhile(_ != null).toSeq.last
    s"${root.getClass.getSimpleName}: ${String.valueOf(root.getMessage).linesIterator.take(3).mkString(" ")}".take(300)
  }
}

final class Run(spark: SparkSession, passes: Int, traced: Boolean,
    inputDir: String, workDir: String, out: mutable.Map[String, Any]) {
  import Harness._

  private val ops = mutable.ArrayBuffer.empty[Op]
  private val layers = mutable.LinkedHashMap.empty[String, Double]
  private val untraced = new Trace(spark, enabled = false)
  private val layerCalls = new Trace(spark, enabled = false)
  /** Inputs of the known-defect probes that `gen.py` wrote. */
  private def probeDirs: Seq[Path] =
    subdirs(Paths.get(inputDir)).filter(_.getFileName.toString.startsWith("probe_"))

  private def attempt(t: Trace, kind: String, pass: Int, dir: String)(body: => Unit): Op = {
    val t0 = System.nanoTime()
    val err = try { t.span(kind)(body); None } catch { case e: Throwable => Some(error(e)) }
    val op = Op(kind, pass, (System.nanoTime() - t0) / 1e9, err, dir)
    ops += op
    op
  }

  private def finish(t: Trace, timed: Seq[Op])(moreLayers: => Unit): Unit = {
    out("ops") = ops.toSeq.map(o => Map("kind" -> o.kind, "pass" -> o.pass, "seconds" -> o.seconds,
      "error" -> o.error.orNull, "dir" -> o.dir))
    if (traced) {
      t.drain()
      sparkLayers(t, timed)
      moreLayers
      out("layers") = layers.toMap
      out("spans") = Seq(t, layerCalls).flatMap(tr => tr.spans.toSeq.map(s => Map("name" -> s.name,
        "seconds" -> s.seconds, "self_seconds" -> tr.selfSeconds(s))))
    }
  }

  // ------------------------------------------------------------ ingest

  private def pipelineConfig(paths: Seq[String], dir: Path, append: Boolean) = Pipeline.Config(
    paths = paths, dbName = dir.resolve("graft.db").toString,
    tableName = Some("facts"), extractColumns = ExtractCols, dateCols = Seq("day"),
    ftsColumns = Seq("text", "city"), indexes = if (append) Nil else Seq("qty"),
    outputDir = Some(dir.resolve("store").toString))

  /** One create or append: what `graft.Cli` does, timed as one op. */
  private def pipelineOp(t: Trace, paths: Seq[String], dir: Path, append: Boolean): Unit = {
    val config = pipelineConfig(paths, dir, append)
    val result = t.span("pipeline.run")(Pipeline.run(spark, config))
    t.span("sinks.sqlite.write")(SqliteCli.writeDb(result.dbName, result))
  }

  def ingest(): Unit = {
    val csv = Seq(s"$inputDir/csv")
    val appendCsv = Seq(s"$inputDir/append/part_append.csv")
    val root = Paths.get(workDir, "ingest")
    def cycle(t: Trace, pass: Int): Seq[Op] = {
      val dir = root.resolve(s"pass$pass")
      val snap = root.resolve(s"pass$pass-create")
      Files.createDirectories(dir)
      val c = attempt(t, "create", pass, snap.toString)(pipelineOp(t, csv, dir, append = false))
      // Snapshot the create output for the correctness check, untimed.
      copyTree(dir, snap)
      val a = attempt(t, "append", pass, dir.toString)(pipelineOp(t, appendCsv, dir, append = true))
      Seq(c, a)
    }
    // Warm-up: one full cycle, untimed but checked like every other.
    cycle(untraced, -1)
    dateProbes()
    val t = new Trace(spark, traced)
    out("first_op_ms") = System.currentTimeMillis()
    val timed = (0 until passes).flatMap(cycle(t, _))
    finish(t, timed) {
      def child(op: String, name: String) = median(t.spans.filter(s => s.name == name &&
        t.spans.exists(o => o.id == s.parent && o.name == op)).map(_.seconds).toSeq)
      layers("pipeline.run_s") = child("create", "pipeline.run")
      layers("sinks.sqlite.write_s") = child("create", "sinks.sqlite.write")
      layers("pipeline.append_run_s") = child("append", "pipeline.run")
      layers("sinks.sqlite.append_write_s") = child("append", "sinks.sqlite.write")
      layers("sinks.sqlite.non_spark_s") =
        t.spans.filter(_.name == "sinks.sqlite.write").map(t.outsideJobs).sum / passes
      // The listener has stopped; these layer calls only read the clock.
      ingestLayers(layerCalls)
    }
  }

  /** The typed-date probes: tiny inputs that hit known defects. Each is
    * an op of its own; `run.py` checks what reached the `.db`.
    */
  private def dateProbes(): Unit = {
    probeDirs.foreach { p =>
      val dir = Paths.get(workDir, "probes", p.getFileName.toString)
      Files.createDirectories(dir)
      val dateCols = Files.readAllLines(p.resolve("date_cols.txt")).toArray.map(_.toString).filter(_.nonEmpty)
      attempt(untraced, p.getFileName.toString, -1, dir.toString) {
        val result = Pipeline.run(spark, Pipeline.Config(
          paths = Seq(p.resolve("probe.csv").toString), dbName = dir.resolve("probe.db").toString,
          tableName = Some("t"), dateCols = dateCols.toSeq, outputDir = Some(dir.resolve("store").toString)))
        SqliteCli.writeDb(result.dbName, result)
      }
    }
  }

  /** Per-layer calls on the same inputs, each timed with its result
    * materialized, so a layer's own cost shows apart from the pipeline.
    */
  private def ingestLayers(t: Trace): Unit = {
    val files = CsvLoader.discover(Seq(s"$inputDir/csv")).map(_._2)
    val appendFile = s"$inputDir/append/part_append.csv"
    def layer[T](name: String)(body: => T): T = {
      val r = t.span(name)(body)
      layers(s"${name}_s") = t.spans.filter(_.name == name).last.seconds
      r
    }
    val loaded = layer("sources.load")(files.map(f => CsvLoader.load(spark, f)))
    layer("sources.parse")(loaded.foreach(materialize))
    layers("sources.rows") = loaded.map(_.count()).sum.toDouble
    val cached = loaded.map(_.persist())
    cached.foreach(_.count())

    layer("functions.dateparse")(cached.foreach(df => materialize(df.select(DateParse.parseDate(col("day"))))))
    val (hits, inputs) = cached.map { df =>
      val r = df.select(
        count(DateParse.parseDate(col("day"))),
        count(when(trim(col("day")) =!= "", 1))).head()
      (r.getLong(0), r.getLong(1))
    }.reduce((a, b) => (a._1 + b._1, a._2 + b._2))
    layers("functions.dateparse_hit_ratio") = hits.toDouble / math.max(1L, inputs)

    val dicts = layer("operators.extract.dict") {
      ExtractCols.map { c =>
        val d = Extract.buildDictionary(cached.map(Extract.Source(_, c))).persist()
        materialize(d)
        c -> d
      }.toMap
    }
    layers("operators.extract.dict_values") = dicts.values.map(_.count()).sum.toDouble
    layer("operators.extract.encode")(cached.foreach { df =>
      materialize(ExtractCols.foldLeft(df)((d, c) => Extract.encode(d, c, dicts(c))))
    })
    val withRowid = Rowid.attach(cached.reduce(_ unionByName _).drop(Rowid.ColName)).persist()
    withRowid.count()
    val index = layer("operators.fts.index") {
      val idx = Fts.invertedIndex(withRowid, Seq("text", "city")).persist()
      materialize(idx)
      idx
    }
    layers("operators.fts.postings") = index.count().toDouble

    val existing = spark.read.parquet(Paths.get(workDir, "ingest", "pass-1-create", "store", "vendor.parquet").toString)
    val appendDf = CsvLoader.load(spark, appendFile).persist()
    appendDf.count()
    layer("operators.extract.dict_append")(
      materialize(Extract.buildDictionary(Seq(Extract.Source(appendDf, "vendor")), existing = Some(existing))))
    (cached ++ Seq(withRowid, index, appendDf) ++ dicts.values).foreach(_.unpersist())
  }

  // ------------------------------------------------------------ queries

  def queries(order: Seq[String]): Unit = {
    val oracle = mutable.LinkedHashMap.empty[String, String]
    // Warm-up pass: every result written to parquet for the oracle check.
    order.foreach { n =>
      attempt(untraced, n, -1, s"$workDir/results/$n") {
        SparkEntry.queries(n)(spark, inputDir).write.mode("overwrite").parquet(s"$workDir/results/$n")
      }
      oracle(n) = SparkEntry.oracleSql(n)
    }
    out("oracle") = oracle.toMap
    // The query probes, untimed: each runs its query on tiny fixed
    // inputs, one result per input; `run.py` checks them.
    probeDirs.foreach { p =>
      val query = Files.readString(p.resolve("query.txt")).trim
      val dir = Paths.get(workDir, "probes", p.getFileName.toString)
      attempt(untraced, p.getFileName.toString, -1, dir.toString) {
        subdirs(p).foreach(v => SparkEntry.queries(query)(spark, v.toString)
          .write.mode("overwrite").parquet(dir.resolve(v.getFileName.toString).toString))
      }
    }
    val t = new Trace(spark, traced)
    out("first_op_ms") = System.currentTimeMillis()
    val timed = for (p <- 0 until passes; n <- order) yield attempt(t, n, p, "") {
      val df = t.span("queries.build")(SparkEntry.queries(n)(spark, inputDir))
      t.span("queries.exec")(materialize(df))
    }
    finish(t, timed) {
      order.foreach(n => layers(s"query.$n.s") = median(t.spans.filter(_.name == n).map(_.seconds).toSeq))
      val build = t.spans.filter(_.name == "queries.build")
      layers("queries.build_s") = build.map(_.seconds).sum / passes
      layers("queries.exec_s") = t.spans.filter(_.name == "queries.exec").map(_.seconds).sum / passes
      val buildGroups = build.map(_.group).toSet
      layers("queries.build_jobs") = t.jobs.values.count(j => buildGroups(j.group)).toDouble / passes
    }
  }

  // ------------------------------------------------------------ spark

  /** Spark-wide numbers over the timed ops, per pass. */
  private def sparkLayers(t: Trace, timed: Seq[Op]): Unit = {
    val opSpans = t.spans.filter(s => s.parent == -1 && timed.exists(_.kind == s.name))
    val groups = opSpans.flatMap(t.subtree).toSet
    val stages = t.stages.filter(s => groups(s.group))
    val wall = opSpans.map(_.seconds).sum
    val inOps = (ms: Long) => opSpans.exists(s => ms >= s.start && ms <= s.end)
    val plans = t.plans.filter(p => inOps(p.start))
    val per = (x: Double) => x / passes
    layers("spark.jobs") = per(t.jobs.values.count(j => groups(j.group)))
    layers("spark.stages") = per(stages.length)
    layers("spark.tasks") = per(stages.map(_.tasks).sum)
    layers("spark.task_s") = per(stages.map(_.taskSeconds).sum)
    layers("spark.cpu_s") = per(stages.map(_.cpuSeconds).sum)
    layers("spark.shuffle_read_bytes") = per(stages.map(_.shuffleRead).sum)
    layers("spark.shuffle_write_bytes") = per(stages.map(_.shuffleWrite).sum)
    layers("spark.spill_bytes") = per(stages.map(_.spill).sum)
    layers("spark.busy_ratio") = stages.map(_.taskSeconds).sum / math.max(1e-9, wall * 4)
    layers("spark.driver_gap_s") = per(opSpans.map(t.outsideJobs).sum)
    layers("spark.gc_s") = per(t.gcSeconds)
    layers("spark.peak_block_bytes") = t.peakBlockBytes.toDouble
    layers("plans.planning_s") = per(plans.map(_.planningSeconds).sum)
    layers("plans.exchanges") = per(plans.map(_.exchanges).sum)
    layers("plans.broadcasts") = per(plans.map(_.broadcasts).sum)
  }
}
