package graftbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.util.QueryExecutionListener

object ExecRecorder {
  val SpanKey = "graftbench.span"
  val Fields: Seq[String] = Seq("jobs", "stages", "tasks", "task_s", "cpu_s", "gc_s",
    "shuffle_write_mb", "shuffle_read_mb", "spill_mb", "task_failures", "records_read")
}

/** SparkListener for the exec layer. Input records are always counted (the
  * query mixes' `rows_per_s`); everything else only while `full` is set.
  * Work is attributed to the span whose id was the job's local property. */
final class ExecRecorder extends SparkListener {
  import ExecRecorder._
  val recordsRead = new AtomicLong
  @volatile var full = false

  private val stageSpan = new ConcurrentHashMap[Int, Int]()
  private val perSpan = new ConcurrentHashMap[Int, Array[Double]]()
  /** (launch ms, finish ms) of every finished task. */
  val taskIntervals = ArrayBuffer.empty[(Long, Long)]
  /** stage id → run times (ms) of its tasks. */
  val stageTaskMs = new ConcurrentHashMap[Int, ArrayBuffer[Long]]()

  private def add(span: Int, field: Int, v: Double): Unit = {
    val a = perSpan.computeIfAbsent(span, _ => new Array[Double](Fields.size))
    a.synchronized { a(field) += v }
  }

  def countsFor(span: Int): Option[Map[String, Double]] =
    Option(perSpan.get(span)).map(a => a.synchronized(Fields.zip(a.toSeq).toMap))

  override def onJobStart(e: SparkListenerJobStart): Unit = if (full) {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(SpanKey))).fold(-1)(_.toInt)
    e.stageIds.foreach(stageSpan.put(_, span))
    add(span, 0, 1)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = if (full)
    add(stageSpan.getOrDefault(e.stageInfo.stageId, -1), 1, 1)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) recordsRead.addAndGet(m.inputMetrics.recordsRead)
    if (full) {
      val span = stageSpan.getOrDefault(e.stageId, -1)
      add(span, 2, 1)
      if (e.reason != Success) add(span, 9, 1)
      if (m != null) {
        add(span, 3, m.executorRunTime / 1e3)
        add(span, 4, m.executorCpuTime / 1e9)
        add(span, 5, m.jvmGCTime / 1e3)
        add(span, 6, m.shuffleWriteMetrics.bytesWritten / 1048576.0)
        add(span, 7, m.shuffleReadMetrics.totalBytesRead / 1048576.0)
        add(span, 8, (m.memoryBytesSpilled + m.diskBytesSpilled) / 1048576.0)
        add(span, 10, m.inputMetrics.recordsRead.toDouble)
        stageTaskMs.computeIfAbsent(e.stageId, _ => ArrayBuffer.empty[Long])
          .synchronized(stageTaskMs.get(e.stageId) += m.executorRunTime)
      }
      val ti = e.taskInfo
      taskIntervals.synchronized(taskIntervals += ((ti.launchTime, ti.finishTime)))
    }
  }

  /** Time in [fromMs, toMs] during which no task was running. */
  def idleMs(fromMs: Long, toMs: Long): Long = {
    val iv = taskIntervals.synchronized(taskIntervals.toVector)
      .map { case (a, b) => (Math.max(a, fromMs), Math.min(b, toMs)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L; var curA = -1L; var curB = -1L
    iv.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) covered += curB - curA; curA = a; curB = b }
      else curB = Math.max(curB, b)
    }
    if (curB > curA) covered += curB - curA
    (toMs - fromMs) - covered
  }

  /** max ÷ median task time in the stage with the most task time. */
  def stageSkew: Double = {
    val stages = stageTaskMs.values.asScala.map(b => b.synchronized(b.toVector)).filter(_.nonEmpty)
    if (stages.isEmpty) 0.0
    else {
      val top = stages.maxBy(_.sum).sorted
      top.last.toDouble / Math.max(1L, top(top.size / 2))
    }
  }
}

/** QueryExecutionListener for the plans layer: planning time from each
  * action's QueryPlanningTracker, and Exchange nodes / plan text size of the
  * final (post-AQE) physical plans. */
final class PlanRecorder extends QueryExecutionListener {
  @volatile var enabled = false
  private val lock = new Object
  val planMs = ArrayBuffer.empty[Double]
  var exchanges = 0L
  var planChars = 0L

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    if (enabled) {
      val ms = qe.tracker.phases.values.map(_.durationMs).sum.toDouble
      val plan = qe.executedPlan
      val ex = nodes(plan).count(_.isInstanceOf[Exchange])
      val chars = plan.toString.length
      lock.synchronized { planMs += ms; exchanges += ex; planChars += chars }
    }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  def snapshot: (Vector[Double], Long, Long) =
    lock.synchronized((planMs.toVector, exchanges, planChars))

  private def nodes(p: SparkPlan): Iterator[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => Iterator(q) ++ nodes(q.plan)
    case other => Iterator(other) ++ other.children.iterator.flatMap(nodes) ++
      other.subqueries.iterator.flatMap(nodes)
  }
}

/** Counts the engine's "replaced a previously registered function" warnings
  * through a log4j appender attached to the root logger. */
object RegistrationLog {
  import org.apache.logging.log4j.LogManager
  import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
  import org.apache.logging.log4j.core.appender.AbstractAppender
  import org.apache.logging.log4j.core.config.Property

  val replaced = new AtomicLong

  private final class Counter extends AbstractAppender("graftbench-registrations", null, null,
      true, Property.EMPTY_ARRAY) {
    override def append(e: LogEvent): Unit =
      if (e.getMessage.getFormattedMessage.contains("replaced a previously registered function"))
        replaced.incrementAndGet()
  }

  private lazy val installed: Unit = {
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val app = new Counter
    app.start()
    ctx.getConfiguration.getRootLogger.addAppender(app, null, null)
    ctx.updateLoggers()
  }

  def install(): Unit = installed
}

/** Heap in use after each garbage collection, from the collectors' JMX
  * notifications: (end of the collection in ms of JVM uptime, heap bytes in
  * use after it, cause). Explicit `System.gc()` calls are kept out. */
object HeapWatch {
  import java.lang.management.{ManagementFactory, MemoryType}
  import javax.management.{Notification, NotificationEmitter, NotificationListener}
  import javax.management.openmbean.CompositeData
  import com.sun.management.GarbageCollectionNotificationInfo

  private val events = ArrayBuffer.empty[(Long, Long)]
  private lazy val heapPools: Set[String] = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet

  private object Listener extends NotificationListener {
    override def handleNotification(n: Notification, handback: Any): Unit =
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        if (info.getGcCause != "System.gc()") {
          val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
            .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
          events.synchronized(events += ((info.getGcInfo.getEndTime, used)))
        }
      }
  }

  private lazy val installed: Unit = ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter => e.addNotificationListener(Listener, null, null)
    case _ =>
  }

  def install(): Unit = installed

  /** JVM uptime in ms, the clock of the collection end times. */
  def uptimeMs: Long = ManagementFactory.getRuntimeMXBean.getUptime

  /** Heap bytes after every collection that ended in one of the intervals. */
  def usedAfterGc(intervals: Seq[(Long, Long)]): Seq[Long] =
    events.synchronized(events.toVector).collect {
      case (end, used) if intervals.exists { case (a, b) => end >= a && end <= b } => used
    }
}
