package perfbench

import java.lang.management.{ManagementFactory, MemoryType}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval: run → pass → operation → build/action → job → stage. */
final case class Span(id: Long, parent: Long, name: String, kind: String,
    startMs: Double, endMs: Double)

/** Spark-side totals gathered while the [[Tracer]] is attached. */
final class Counters {
  var jobs, stages, tasks, actions = 0L
  var jobMs, taskMs, schedDelayMs, fetchWaitMs = 0.0
  var analysisMs, optimizeMs, physicalMs = 0.0
  var shuffleRead, shuffleWrite, spill, output = 0L
  /** Bytes of the files the scans of each action selected, and the
    * partitions (tasks) those scans read them in. */
  var scanBytes, scanTasks = 0L
  val jobIntervals = mutable.ArrayBuffer.empty[(Double, Double)]
}

/** The file scans of an executed plan, adaptive stages and subqueries
  * included. */
object Scans extends AdaptiveSparkPlanHelper {
  def of(qe: QueryExecution): Seq[FileSourceScanExec] =
    collectWithSubqueries(qe.executedPlan) { case s: FileSourceScanExec => s }
}

/** What the Spark side did during one operation: task time, jobs, the
  * operation's wall time with no job running, and the bytes and tasks
  * of its file scans. */
final case class OpSpark(taskMs: Double, jobs: Long, gapMs: Double, scanBytes: Long,
    scanTasks: Long)

/** Spans and counters for the traced run, kept in memory and written
  * once at the end. The benchmark's own spans come from [[span]];
  * jobs and stages come from a [[SparkListener]] that finds its parent
  * span through a local property set before each call. Counters
  * accumulate only while [[attach]]ed. */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  private var nextId = 0L
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack[Long]()
  val c = new Counters

  def nowMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  private def newId(): Long = synchronized { nextId += 1; nextId }
  private def add(s: Span): Unit = synchronized { spans += s }

  /** Run `body` inside a span that becomes the parent of anything
    * started within it, Spark jobs included. */
  def span[T](name: String, kind: String)(body: => T): T = {
    val id = newId()
    val parent = stack.headOption.getOrElse(0L)
    val start = nowMs
    stack.push(id)
    sc.setLocalProperty("perfbench.span", id.toString)
    try body
    finally {
      stack.pop()
      add(Span(id, parent, name, kind, start, nowMs))
      sc.setLocalProperty("perfbench.span", stack.headOption.map(_.toString).orNull)
    }
  }

  private val jobOpen = mutable.Map.empty[Int, (Long, Long, String, Double)]
  private val stageJob = mutable.Map.empty[Int, Long]
  private val stageStart = mutable.Map.empty[Int, Double]

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
      val parent = prop("perfbench.span").map(_.toLong).getOrElse(0L)
      val id = newId()
      c.synchronized {
        c.jobs += 1
        jobOpen(e.jobId) = (id, parent, s"job ${e.jobId}", e.time.toDouble)
        e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, id))
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = c.synchronized {
      jobOpen.remove(e.jobId).foreach { case (id, parent, name, start) =>
        c.jobMs += e.time - start
        c.jobIntervals += ((start, e.time.toDouble))
        add(Span(id, parent, name, "job", start, e.time.toDouble))
      }
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = c.synchronized {
      stageStart(e.stageInfo.stageId) = e.stageInfo.submissionTime.map(_.toDouble)
        .getOrElse(System.currentTimeMillis().toDouble)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = c.synchronized {
      val si = e.stageInfo
      c.stages += 1
      val start = stageStart.remove(si.stageId)
        .orElse(si.submissionTime.map(_.toDouble)).getOrElse(0.0)
      val end = si.completionTime.map(_.toDouble).getOrElse(start)
      add(Span(newId(), stageJob.getOrElse(si.stageId, 0L), s"stage ${si.stageId}", "stage",
        start, end))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) c.synchronized {
        c.tasks += 1
        c.taskMs += m.executorRunTime
        val busy = m.executorRunTime + m.executorDeserializeTime + m.resultSerializationTime
        c.schedDelayMs += math.max(0L, e.taskInfo.duration - busy)
        c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        c.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        c.output += m.outputMetrics.bytesWritten
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val ph = qe.tracker.phases
      def ms(p: String) = ph.get(p).map(s => (s.endTimeMs - s.startTimeMs).toDouble).getOrElse(0.0)
      // task input metrics miss parquet's reads (about 1.5 KB reported
      // for a 2.4 MB scan), so input volume comes from the scan nodes
      val scans = Scans.of(qe)
      val bytes = scans.flatMap(_.metrics.get("filesSize")).map(_.value).sum
      val tasks = scans.flatMap(s => scala.util.Try(s.inputRDD.getNumPartitions.toLong).toOption).sum
      c.synchronized {
        c.scanBytes += bytes
        c.scanTasks += tasks
        c.actions += 1
        c.analysisMs += ms("analysis")
        c.optimizeMs += ms("optimization")
        c.physicalMs += ms("planning")
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  private var attached = false
  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala.toSeq
    .filter(_.getType == MemoryType.HEAP)
  private var gcMs0 = 0L
  var gcMs = 0L
  var heapPeakBytes = 0L

  private def gcTotal: Long = gcBeans.map(b => math.max(0L, b.getCollectionTime)).sum

  /** Start collecting: listeners on, GC and heap-peak baselines reset. */
  def attach(): Unit = if (!attached) {
    sc.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
    heapPools.foreach(_.resetPeakUsage())
    gcMs0 = gcTotal
    attached = true
  }

  /** Run `body` as one operation and return what Spark did meanwhile,
    * counted once every queued listener event is handled. */
  def measure[T](body: => T): (T, OpSpark) = {
    org.apache.spark.PerfbenchAccess.drainListeners(sc)
    val (task0, jobs0, bytes0, tasks0) =
      c.synchronized((c.taskMs, c.jobs, c.scanBytes, c.scanTasks))
    val lo = nowMs
    val out = body
    val hi = nowMs
    org.apache.spark.PerfbenchAccess.drainListeners(sc)
    c.synchronized {
      (out, OpSpark(c.taskMs - task0, c.jobs - jobs0, gapMs(lo, hi), c.scanBytes - bytes0,
        c.scanTasks - tasks0))
    }
  }

  /** Stop collecting, after every queued listener event is handled. */
  def detach(): Unit = if (attached) {
    org.apache.spark.PerfbenchAccess.drainListeners(sc)
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
    gcMs += gcTotal - gcMs0
    heapPeakBytes = math.max(heapPeakBytes, heapPools.map(_.getPeakUsage.getUsed).sum)
    attached = false
  }

  def allSpans: Seq[Span] = synchronized(spans.toList)

  /** Total length of the union of `intervals`, clipped to `[lo, hi]`. */
  private def unionMs(intervals: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    var tot = 0.0
    var end = lo
    intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        val from = math.max(a, end)
        if (b > from) tot += b - from
        end = math.max(end, b)
      }
    tot
  }

  /** Wall time inside `[lo, hi]` during which no Spark job ran. */
  def gapMs(lo: Double, hi: Double): Double =
    (hi - lo) - unionMs(c.synchronized(c.jobIntervals.toList), lo, hi)

  /** Spans as JSON, each with its self time: its duration minus the
    * part of it that its children cover. */
  def spansJson: String = {
    val all = allSpans
    val kids = all.groupBy(_.parent)
    all.sortBy(s => (s.startMs, s.id)).map { s =>
      val childIv = kids.getOrElse(s.id, Nil).map(k => (k.startMs, k.endMs))
      val self = (s.endMs - s.startMs) - unionMs(childIv, s.startMs, s.endMs)
      s"""{"id":${s.id},"parent":${s.parent},"name":${Json.str(s.name)},""" +
        s""""kind":${Json.str(s.kind)},"start_ms":${Json.num(s.startMs)},""" +
        s""""end_ms":${Json.num(s.endMs)},"self_ms":${Json.num(self)}}"""
    }.mkString("[\n", ",\n", "\n]")
  }
}
