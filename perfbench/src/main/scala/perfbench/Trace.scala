package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.util.QueryExecutionListener

/** The benchmark's tracer: spans around calls into the program's layers,
  * plus a SparkListener and a QueryExecutionListener that attribute
  * jobs, stages, planning and block-store use to those spans.
  *
  * Spans are kept in memory and written out once at the end. Every Spark
  * job runs under the job group of the innermost open span, which is how
  * a job is attributed to the span that caused it. When tracing is off,
  * no listener is registered and a span only reads the clock.
  */
final class Trace(spark: SparkSession, val enabled: Boolean) {
  import Trace._

  private val sc: SparkContext = spark.sparkContext
  val spans = mutable.ArrayBuffer.empty[Span]
  private val open = mutable.Stack.empty[Span]

  // Listener state, written on the listener-bus thread.
  private val lock = new Object
  val jobs = mutable.Map.empty[Int, Job]
  val stages = mutable.ArrayBuffer.empty[Stage]
  val plans = mutable.ArrayBuffer.empty[Plan]
  private val blocks = mutable.Map.empty[String, Long]
  private var blockBytes = 0L
  var peakBlockBytes = 0L
  private var barrierSeen = false
  private var drained = false
  /** JVM collector time between this trace's start and [[drain]]. */
  var gcSeconds = 0.0

  private val listener = new SparkListener {
    private val stageGroup = mutable.Map.empty[Int, String]
    override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
      val g = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
      jobs(e.jobId) = Job(g, e.time, -1L)
      e.stageIds.foreach(stageGroup(_) = g)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
      jobs.get(e.jobId).foreach(j => jobs(e.jobId) = j.copy(end = e.time))
      if (jobs.get(e.jobId).exists(_.group == BarrierGroup)) { barrierSeen = true; lock.notifyAll() }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = lock.synchronized {
      val i = e.stageInfo
      val m = i.taskMetrics
      if (m != null) stages += Stage(stageGroup.getOrElse(i.stageId, null), i.numTasks,
        m.executorRunTime / 1e3, m.executorCpuTime / 1e9,
        m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled)
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = lock.synchronized {
      val info = e.blockUpdatedInfo
      val id = info.blockId.name
      blockBytes -= blocks.remove(id).getOrElse(0L)
      if (info.storageLevel.isValid) {
        val b = info.memSize + info.diskSize
        blocks(id) = b
        blockBytes += b
      }
      peakBlockBytes = math.max(peakBlockBytes, blockBytes)
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
    private def record(qe: QueryExecution): Unit = {
      // Delivered asynchronously, so the plan is placed in time by its
      // first planning phase, not by the span open at delivery.
      val phases = qe.tracker.phases.values
      val start = if (phases.isEmpty) 0L else phases.map(_.startTimeMs).min
      val planning = phases.map(_.durationMs).sum / 1e3
      val (ex, bc) = exchanges(qe.executedPlan)
      lock.synchronized { plans += Plan(start, planning, ex, bc) }
    }
  }

  private val gcStart = Trace.collectorSeconds()
  if (enabled) {
    sc.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }

  /** Run `body` as a span named `name`; its Spark jobs carry its id. */
  def span[T](name: String)(body: => T): T = {
    val s = Span(spans.length, name, open.headOption.map(_.id).getOrElse(-1), System.currentTimeMillis())
    spans += s
    open.push(s)
    setGroup(s.group)
    val t0 = System.nanoTime()
    try body
    finally {
      s.seconds = (System.nanoTime() - t0) / 1e9
      s.end = System.currentTimeMillis()
      open.pop()
      setGroup(open.headOption.map(_.group).orNull)
    }
  }

  private def setGroup(g: String): Unit = {
    if (enabled) {
      if (g == null) sc.clearJobGroup() else sc.setJobGroup(g, g, interruptOnCancel = false)
    }
  }

  /** Wait until the listener has seen every event posted so far: run one
    * tiny job and wait for its end event, which the bus delivers after
    * all earlier events.
    */
  def drain(): Unit = if (enabled && !drained) {
    drained = true
    gcSeconds = Trace.collectorSeconds() - gcStart
    setGroup(BarrierGroup)
    sc.parallelize(Seq(1), 1).count()
    setGroup(null)
    lock.synchronized {
      val deadline = System.currentTimeMillis() + 30000
      while (!barrierSeen && System.currentTimeMillis() < deadline) lock.wait(1000)
    }
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }

  /** Spans below `root` (inclusive) — the ids whose jobs belong to it. */
  def subtree(root: Span): Set[String] = {
    val kids = spans.groupBy(_.parent)
    def walk(s: Span): Seq[Span] = s +: kids.getOrElse(s.id, Nil).toSeq.flatMap(walk)
    walk(root).map(_.group).toSet
  }

  /** Seconds of `s` not covered by any of its jobs' intervals. */
  def outsideJobs(s: Span): Double = {
    val groups = subtree(s)
    val ivs = lock.synchronized(jobs.values.filter(j => groups(j.group) && j.end >= 0)
      .map(j => (math.max(j.start, s.start), math.min(j.end, s.end))).filter(i => i._2 > i._1).toSeq)
    val covered = ivs.sortBy(_._1).foldLeft((0L, Long.MinValue)) { case ((sum, reach), (a, b)) =>
      if (b <= reach) (sum, reach) else (sum + b - math.max(a, reach), b)
    }._1
    math.max(0.0, s.seconds - covered / 1e3)
  }

  /** Span duration minus the part its child spans cover. */
  def selfSeconds(s: Span): Double =
    s.seconds - spans.filter(_.parent == s.id).map(_.seconds).sum
}

object Trace {
  val BarrierGroup = "perfbench-barrier"

  final case class Span(id: Int, name: String, parent: Int, start: Long) {
    var end: Long = start
    var seconds: Double = 0.0
    def group: String = s"span-$id"
  }
  final case class Job(group: String, start: Long, end: Long)
  final case class Stage(group: String, tasks: Int, taskSeconds: Double, cpuSeconds: Double,
      shuffleRead: Long, shuffleWrite: Long, spill: Long)
  final case class Plan(start: Long, planningSeconds: Double, exchanges: Int, broadcasts: Int)

  private object Plans extends AdaptiveSparkPlanHelper

  /** Shuffle and broadcast exchanges in a physical plan, AQE stages and
    * subqueries included.
    */
  def exchanges(plan: SparkPlan): (Int, Int) = {
    val found = Plans.collectWithSubqueries(plan) {
      case e: ShuffleExchangeLike => 0
      case e: BroadcastExchangeLike => 1
    }
    (found.count(_ == 0), found.count(_ == 1))
  }

  def collectorSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum / 1e3
}
