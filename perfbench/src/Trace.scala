package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Counts attributed to one op. Filled on the listener-bus thread; read by
  * the client thread only after the bus has drained. */
final class OpCounters {
  val jobs = mutable.ArrayBuffer.empty[(Long, Long)] // [start, end) epoch nanos
  var stages = 0L
  var tasks = 0L
  var taskFailures = 0L
  var executorRunMs = 0L
  var executorCpuNs = 0L
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var analysisMs = 0L
  var optimizationMs = 0L
  var planningMs = 0L
  var scanFiles = 0L
  var scanRows = 0L
  val triggers = mutable.ArrayBuffer.empty[Map[String, Long]] // durationMs + numInputRows
}

/** Spans around every call the harness makes into a layer, plus listener
  * counts attributed to the enclosing op. Every op's Spark jobs carry the
  * op id as their job group. Spans stay in memory until [[spans]] is read
  * at the end of the run. With `enabled = false` only the job group is
  * set: no spans, no listeners, no bus drains. */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val sc = spark.sparkContext
  private val buf = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[(Long, String, String, Long)] // id, name, layer, start
  private var nextId = 1L
  private val wallOffset = System.currentTimeMillis() * 1000000L - System.nanoTime()
  @volatile private var currentOp = 0L
  val counters = new java.util.concurrent.ConcurrentHashMap[Long, OpCounters]()

  private def now(): Long = System.nanoTime() + wallOffset

  private def countersOf(op: Long): OpCounters = counters.computeIfAbsent(op, _ => new OpCounters)

  private def opOfJob(props: java.util.Properties): Long =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .filter(_.startsWith("perfbench-op-")).map(_.stripPrefix("perfbench-op-").toLong)
      .getOrElse(currentOp)

  private val stageOp = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Long)]()

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val op = opOfJob(e.properties)
      e.stageIds.foreach(s => stageOp.put(s, op))
      jobStart.put(e.jobId, (op, e.time * 1000000L))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStart.remove(e.jobId)).foreach { case (op, start) =>
        val c = countersOf(op)
        c.synchronized(c.jobs += ((start, e.time * 1000000L)))
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val c = countersOf(stageOp.getOrDefault(e.stageInfo.stageId, currentOp))
      c.synchronized(c.stages += 1)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val c = countersOf(stageOp.getOrDefault(e.stageId, currentOp))
      c.synchronized {
        c.tasks += 1
        if (e.reason != org.apache.spark.Success) c.taskFailures += 1
        Option(e.taskMetrics).foreach { m =>
          c.executorRunMs += m.executorRunTime
          c.executorCpuNs += m.executorCpuTime
          c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
          c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }
  }

  private val qeListener = new QueryExecutionListener with AdaptiveSparkPlanHelper {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val c = countersOf(currentOp)
      val phases = qe.tracker.phases
      def ms(p: String): Long = phases.get(p).map(_.durationMs).getOrElse(0L)
      val scans = collect(qe.executedPlan) { case s: FileSourceScanExec => s }
      def metric(s: FileSourceScanExec, k: String): Long = s.metrics.get(k).map(_.value).getOrElse(0L)
      c.synchronized {
        c.analysisMs += ms("analysis")
        c.optimizationMs += ms("optimization")
        c.planningMs += ms("planning")
        scans.foreach { s =>
          c.scanFiles += metric(s, "numFiles")
          c.scanRows += metric(s, "numOutputRows")
        }
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val phases = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
      val c = countersOf(currentOp)
      c.synchronized(c.triggers += (phases + ("numInputRows" -> p.numInputRows)))
    }
  }

  if (enabled) {
    sc.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  /** Run `body` as one client op: a root span whose jobs carry the op id. */
  def op[T](layer: String, name: String)(body: => T): (Long, T) = {
    val id = alloc()
    // drained on both sides, so harness work between ops (input delivery,
    // checks) lands on op 0, which no metric reads
    if (enabled) org.apache.spark.PerfbenchBus.drain(sc)
    currentOp = id
    sc.setJobGroup(s"perfbench-op-$id", name, interruptOnCancel = false)
    try (id, record(id, layer, name)(body))
    finally {
      sc.clearJobGroup()
      if (enabled) org.apache.spark.PerfbenchBus.drain(sc)
      currentOp = 0L
    }
  }

  /** A child span inside the current op (recorded only when enabled). */
  def span[T](layer: String, name: String)(body: => T): T =
    if (enabled) record(alloc(), layer, name)(body) else body

  private def alloc(): Long = { nextId += 1; nextId - 1 }

  private def record[T](id: Long, layer: String, name: String)(body: => T): T = {
    if (!enabled) return body
    stack.push((id, name, layer, now()))
    try body
    finally {
      val (_, n, l, start) = stack.pop()
      val parent = stack.headOption.map(_._1).getOrElse(0L)
      val root = if (stack.isEmpty) id else stack.last._1
      buf += Span(id, n, l, root, parent, start, now())
    }
  }

  def spans: Seq[Span] = buf.toSeq

  def close(): Unit = if (enabled) {
    org.apache.spark.PerfbenchBus.drain(sc)
    sc.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }
}
