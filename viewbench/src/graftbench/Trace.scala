package graftbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One client-side span: a call into a layer, timed on the client
  * thread. `parent` is the enclosing span (-1 for an op's root span);
  * all spans of one op share `op`. */
final case class Span(id: Int, parent: Int, op: Int, name: String,
                      startNs: Long, endNs: Long) {
  def ns: Long = endNs - startNs
}

/** In-memory span recorder for the traced run. */
final class Tracer {
  val spans = ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 0
  var op: Int = -1
  /** Epoch ns minus `System.nanoTime`, to put spans on the wall clock
    * that Spark's events carry. */
  private val wallOffsetNs = System.currentTimeMillis() * 1000000L - System.nanoTime()

  /** A span time (from `System.nanoTime`) as epoch milliseconds. */
  def wallMs(ns: Long): Long = (ns + wallOffsetNs) / 1000000L

  def span[T](name: String)(f: => T): T = {
    val id = nextId
    nextId += 1
    val parent = stack.headOption.getOrElse(-1)
    stack = id :: stack
    val t0 = System.nanoTime()
    try f
    finally {
      spans += Span(id, parent, op, name, t0, System.nanoTime())
      stack = stack.tail
    }
  }

  /** Self time of every span: its duration minus the part its
    * children cover. Children run on the same thread inside their
    * parent, so they never overlap and their durations add. */
  def selfNs: Map[Int, Long] = {
    val childNs = mutable.Map.empty[Int, Long].withDefaultValue(0L)
    spans.foreach(s => if (s.parent >= 0) childNs(s.parent) += s.ns)
    spans.map(s => s.id -> (s.ns - childNs(s.id))).toMap
  }
}

/** Span entry point used by the workloads. Untraced runs leave
  * `tracer` null, so a span is one branch and no allocation. */
object Spans {
  @volatile var tracer: Tracer = null
  def apply[T](name: String)(f: => T): T = {
    val t = tracer
    if (t eq null) f else t.span(name)(f)
  }
}

/** Spark-side counters of the traced run: job intervals, stage and
  * task metrics, planning phases and file-scan metrics of each executed
  * query, and streaming progress. Events carry wall-clock times and are
  * attributed to ops by the op's wall-clock window afterwards. */
final class Collector(spark: SparkSession) {
  final case class Job(id: Int, startMs: Long, stages: Seq[Int]) {
    var endMs: Long = -1L
  }
  final class StageAgg {
    var tasks = 0L; var runMs = 0L; var gcMs = 0L
    var shuffleWrite = 0L; var shuffleRead = 0L; var spill = 0L
  }
  /** One executed query: when its planning started, the planner
    * phases, and what its file scans read from the index directories. */
  final case class Qe(startMs: Long, planMs: Double, execMs: Double,
                      indexFiles: Long, indexBytes: Long, indexRows: Long)
  final case class Progress(startMs: Long, rows: Long,
                            durations: Map[String, Long])

  val jobs = ArrayBuffer.empty[Job]
  val stageJob = mutable.Map.empty[Int, Int]
  val stages = mutable.Map.empty[Int, StageAgg]
  val qes = ArrayBuffer.empty[Qe]
  val progress = ArrayBuffer.empty[Progress]
  /** Absolute index directories: a scan whose root path lies under
    * one of them is an index read. */
  @volatile var indexRoots: Seq[java.nio.file.Path] = Nil

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      jobs += Job(e.jobId, e.time, e.stageIds)
      e.stageIds.foreach(s => stageJob(s) = e.jobId)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.reverseIterator.find(_.id == e.jobId).foreach(_.endMs = e.time)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val m = e.taskMetrics
      if (m != null) {
        val a = stages.getOrElseUpdate(e.stageId, new StageAgg)
        a.tasks += 1
        a.runMs += m.executorRunTime
        a.gcMs += m.jvmGCTime
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  private object Plans extends AdaptiveSparkPlanHelper

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution,
                           durationNs: Long): Unit = {
      val phases = qe.tracker.phases
      val planMs = phases.values.map(_.durationMs.toDouble).sum
      val start =
        if (phases.isEmpty) System.currentTimeMillis()
        else phases.values.map(_.startTimeMs).min
      val scans = Plans.collectWithSubqueries(qe.executedPlan) {
        case s: FileSourceScanExec => s
      }
      val roots = indexRoots
      val idx = scans.filter(_.relation.location.rootPaths.exists { p =>
        val f = java.nio.file.Paths.get(p.toUri.getPath).normalize
        roots.exists(f.startsWith(_))
      })
      def metric(s: FileSourceScanExec, k: String): Long =
        s.metrics.get(k).map(_.value).getOrElse(0L)
      val rec = Qe(start, planMs, durationNs / 1e6,
        idx.map(metric(_, "numFiles")).sum,
        idx.map(metric(_, "filesSize")).sum,
        idx.map(metric(_, "numOutputRows")).sum)
      Collector.this.synchronized { qes += rec }
    }
    override def onFailure(funcName: String, qe: QueryExecution,
                           exception: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent)
        : Unit = ()
    override def onQueryTerminated(
        e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent)
        : Unit = ()
    override def onQueryProgress(
        e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      import scala.jdk.CollectionConverters._
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
      val rec = Progress(java.time.Instant.parse(p.timestamp).toEpochMilli,
        p.numInputRows, d.toMap)
      Collector.this.synchronized { progress += rec }
    }
  }

  def register(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  def unregister(): Unit = {
    org.apache.spark.graftbench.Drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }
}
