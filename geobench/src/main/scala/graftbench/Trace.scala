package graftbench

import scala.collection.mutable

import org.apache.spark.graftbench.ListenerBusDrain
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Totals that the Spark listeners collect for one job group. */
final class GroupTotals {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleRead = 0L
  var shuffleWrite = 0L
  var spill = 0L
  /** [start, end] wall-clock milliseconds of each finished job. */
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]

  /** Length of the union of the job intervals, in seconds. */
  def inJobsSec: Double = {
    var total = 0L
    var curStart = Long.MinValue
    var curEnd = Long.MinValue
    jobIntervals.sortBy(_._1).foreach { case (s, e) =>
      if (s > curEnd) {
        if (curEnd > curStart) total += curEnd - curStart
        curStart = s; curEnd = e
      } else if (e > curEnd) curEnd = e
    }
    if (curEnd > curStart) total += curEnd - curStart
    total / 1e3
  }
}

/** Driver and executor counters, read through a SparkListener (jobs,
  * stages, tasks, task metrics, keyed by job group) and a
  * QueryExecutionListener (analysis, optimization and planning time).
  * Listener callbacks run on the bus thread; read only after [[drain]]. */
final class Recorder(spark: SparkSession) extends SparkListener {
  private val groups = mutable.HashMap.empty[String, GroupTotals]
  private val stageGroup = mutable.HashMap.empty[Int, String]
  private val jobStart = mutable.HashMap.empty[Int, (String, Long)]
  @volatile private var planMs = 0L

  private def groupOf(props: java.util.Properties): String =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
  private def totals(g: String): GroupTotals = groups.getOrElseUpdate(g, new GroupTotals)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = groupOf(e.properties)
    jobStart(e.jobId) = (g, e.time)
    totals(g).jobs += 1
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobStart.remove(e.jobId).foreach { case (g, t0) => totals(g).jobIntervals += ((t0, e.time)) }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val g = groupOf(e.properties)
    stageGroup(e.stageInfo.stageId) = g
    totals(g).stages += 1
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val t = totals(stageGroup.getOrElse(e.stageId, ""))
    t.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      t.runMs += m.executorRunTime
      t.cpuNs += m.executorCpuTime
      t.gcMs += m.jvmGCTime
      t.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      t.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      t.spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  private val planListener = new QueryExecutionListener {
    private def add(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases
      planMs += Seq("analysis", "optimization", "planning").flatMap(ph.get).map(_.durationMs).sum
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = add(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = add(qe)
  }

  spark.sparkContext.addSparkListener(this)
  spark.listenerManager.register(planListener)

  def drain(): Unit = ListenerBusDrain(spark.sparkContext)

  /** Totals of one job group; call after [[drain]]. */
  def group(g: String): GroupTotals = groups.getOrElse(g, new GroupTotals)

  /** Planning milliseconds seen so far; call after [[drain]]. */
  def planMillis: Long = planMs
}

/** One traced span: a layer call between `startNs` and `endNs`, nested in
  * `parent` (-1 for a root). Its jobs run in the job group [[group]]. */
final case class Span(id: Int, name: String, parent: Int, startNs: Long, endNs: Long) {
  def group: String = Tracer.groupOf(id)
  def seconds: Double = (endNs - startNs) / 1e9
}

object Tracer {
  def groupOf(spanId: Int): String = s"geobench-span-$spanId"
}

/** Records spans around the benchmark's calls into each layer, in memory.
  * Each span runs its jobs under its own job group so that listener counts
  * can be attributed to it; [[span]] calls nest. */
final class Tracer(spark: SparkSession) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[(Int, String)]
  private var nextId = 0

  def span[A](name: String)(body: => A): A = {
    val id = nextId
    nextId += 1
    val parent = stack.headOption.map(_._1).getOrElse(-1)
    val sc = spark.sparkContext
    sc.setJobGroup(Tracer.groupOf(id), name)
    stack = (id, name) :: stack
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      stack = stack.tail
      spans += Span(id, name, parent, t0, t1)
      stack.headOption match {
        case Some((p, pName)) => sc.setJobGroup(Tracer.groupOf(p), pName)
        case None             => sc.clearJobGroup()
      }
    }
  }

  def toJson: String = spans.sortBy(_.id).map { s =>
    f"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"start_ns":${s.startNs},"end_ns":${s.endNs}}"""
  }.mkString("[\n", ",\n", "\n]\n")
}
