package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.util.QueryExecutionListener

import graft.core.meta.{CommitReport, CommitReports, ScanReport, ScanReports}

/** One span of the traced run. Spans of one op share `op`; `layer` names
  * the graft module the time belongs to. */
final case class Span(op: Long, layer: String, name: String,
    startMs: Double, endMs: Double) {
  def ms: Double = endMs - startMs
}

/** Per-layer recording from outside the program: a QueryExecutionListener
  * (catalyst phases, DSv2 scan metrics), a SparkListener (jobs, stages,
  * task metrics) and sinks on the engine's scan and commit report rings.
  * Everything is attributed to the op that caused it: Spark jobs through
  * a local property carrying the op id, reports through the op id of the
  * thread that produced them, catalyst phases by time (the Spark
  * workloads run one client thread). Built only for the traced run; the
  * untraced run registers nothing. */
final class Tracer(spark: Option[SparkSession]) {
  import Tracer._

  private val qes = new ConcurrentLinkedQueue[QeEvent]()
  private val jobs = new ConcurrentHashMap[Int, JobEvent]()
  private val stageOp = new ConcurrentHashMap[Int, Long]()
  private val taskAgg = new ConcurrentHashMap[Long, TaskAgg]()
  private val scans = new ConcurrentLinkedQueue[(Long, ScanReport)]()
  private val commits = new ConcurrentLinkedQueue[(Long, CommitReport)]()
  private val clientSpans = new ConcurrentLinkedQueue[Span]()

  Tracer.install(this)

  spark.foreach { s =>
    s.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val op = Option(e.properties).flatMap(p => Option(p.getProperty(OpKey)))
          .map(_.toLong).getOrElse(-1L)
        e.stageIds.foreach(st => stageOp.put(st, op))
        jobs.put(e.jobId, JobEvent(e.jobId, op, e.time, e.time, e.stageIds.size))
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        jobs.computeIfPresent(e.jobId, (_, j) => j.copy(endMs = e.time))
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        val m = e.taskMetrics
        if (m != null) {
          val op = stageOp.getOrDefault(e.stageId, -1L)
          taskAgg.merge(op, TaskAgg(1, m.executorRunTime, m.executorCpuTime / 1e6,
            m.jvmGCTime, m.inputMetrics.bytesRead, m.inputMetrics.recordsRead,
            m.outputMetrics.bytesWritten, m.outputMetrics.recordsWritten,
            m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
            m.memoryBytesSpilled + m.diskBytesSpilled), _ + _)
        }
      }
    })
    s.asInstanceOf[org.apache.spark.sql.classic.SparkSession].listenerManager
      .register(new QueryExecutionListener {
        override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = record(qe)
        override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
      })
  }

  private def record(qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases.map { case (k, p) => k -> ((p.startTimeMs, p.endTimeMs)) }
    val deletes = try scansOf(qe.executedPlan).map { b =>
      b.metrics.get("numDeletes").map(_.value).getOrElse(0L)
    }.sum catch { case scala.util.control.NonFatal(_) => 0L }
    qes.add(QeEvent(phases, deletes))
  }

  private def scansOf(p: SparkPlan): Seq[BatchScanExec] = p match {
    case b: BatchScanExec => Seq(b)
    case a: AdaptiveSparkPlanExec => scansOf(a.executedPlan)
    case q: QueryStageExec => scansOf(q.plan)
    case other => (other.children ++ other.subqueries).flatMap(scansOf)
  }

  /** Wait for the listener bus, then attribute everything to ops. */
  def analyze(ops: Seq[Op]): Traced = {
    spark.foreach(s => org.apache.spark.PerfbenchBridge.drainListeners(s.sparkContext))
    val byId = ops.map(o => o.id -> o).toMap
    val spans = mutable.ArrayBuffer.empty[Span]
    ops.foreach(o => spans += Span(o.id, "client", o.kind, o.startMs, o.endMs))
    // catalyst phases: single-client workloads, so the op whose interval
    // holds the phase is the op that ran it
    val sortedOps = ops.filter(_.thread == 0).sortBy(_.startMs).toIndexedSeq
    def opAt(ms: Double): Option[Op] = {
      var lo = 0; var hi = sortedOps.size - 1; var found: Option[Op] = None
      while (lo <= hi && found.isEmpty) {
        val mid = (lo + hi) / 2
        val o = sortedOps(mid)
        if (ms < o.startMs - 1) hi = mid - 1
        else if (ms > o.endMs + 1) lo = mid + 1
        else found = Some(o)
      }
      found
    }
    val deletesByOp = mutable.Map.empty[Long, Long].withDefaultValue(0L)
    qes.asScala.foreach { q =>
      val first = q.phases.values.map(_._1).minOption
      first.flatMap(t => opAt(t.toDouble)).foreach { o =>
        q.phases.foreach { case (name, (s, e)) =>
          spans += Span(o.id, "catalyst", name, s.toDouble, e.toDouble)
        }
        deletesByOp(o.id) += q.deletes
      }
    }
    val opJobs = jobs.values.asScala.filter(j => byId.contains(j.op)).toSeq
    val opScans = scans.asScala.filter(x => byId.contains(x._1)).toSeq
    val opCommits = commits.asScala.filter(x => byId.contains(x._1)).toSeq
    spans ++= clientSpans.asScala.filter(s => byId.contains(s.op))
    opJobs.foreach { j =>
      spans += Span(j.op, "exec", s"job ${j.jobId}", j.startMs.toDouble, j.endMs.toDouble)
    }
    opScans.foreach { case (op, r) =>
      spans += Span(op, "scan", "planFiles", (r.timestampMs - r.planningMs).toDouble,
        r.timestampMs.toDouble)
    }
    opCommits.foreach { case (op, r) =>
      spans += Span(op, "commit", r.operation, (r.timestampMs - r.durationMs).toDouble,
        r.timestampMs.toDouble)
    }
    val clamped = spans.toSeq.map { s =>
      val o = byId(s.op)
      if (s.layer == "client") s
      else s.copy(startMs = math.max(s.startMs, o.startMs),
        endMs = math.max(math.max(s.startMs, o.startMs), math.min(s.endMs, o.endMs)))
    }
    Traced(clamped, selfTimes(clamped), opJobs,
      ops.map(o => o.id -> taskAgg.getOrDefault(o.id, TaskAgg.Zero)).toMap,
      deletesByOp.toMap, opScans, opCommits)
  }

  private[perfbench] def addSpan(s: Span): Unit = clientSpans.add(s)
  private[perfbench] def addScan(r: ScanReport): Unit = scans.add(currentOp.get -> r)
  private[perfbench] def addCommit(r: CommitReport): Unit = commits.add(currentOp.get -> r)
}

object Tracer {
  val OpKey = "perfbench.op"

  final case class QeEvent(phases: Map[String, (Long, Long)], deletes: Long)
  final case class JobEvent(jobId: Int, op: Long, startMs: Long, endMs: Long, stages: Int)
  final case class TaskAgg(tasks: Long, runMs: Double, cpuMs: Double, gcMs: Double,
      inBytes: Double, inRecords: Double, outBytes: Double, outRecords: Double,
      shuffleRead: Double, shuffleWrite: Double, spill: Double) {
    def +(o: TaskAgg): TaskAgg = TaskAgg(tasks + o.tasks, runMs + o.runMs,
      cpuMs + o.cpuMs, gcMs + o.gcMs, inBytes + o.inBytes, inRecords + o.inRecords,
      outBytes + o.outBytes, outRecords + o.outRecords,
      shuffleRead + o.shuffleRead, shuffleWrite + o.shuffleWrite, spill + o.spill)
  }
  object TaskAgg { val Zero = TaskAgg(0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0) }

  final case class Traced(spans: Seq[Span], selfMs: Map[String, Double],
      jobs: Seq[JobEvent], tasks: Map[Long, TaskAgg], deletes: Map[Long, Long],
      scans: Seq[(Long, ScanReport)], commits: Seq[(Long, CommitReport)])

  /** op id of the op running on this thread, or -1 */
  val currentOp: ThreadLocal[Long] = ThreadLocal.withInitial(() => -1L)

  // the report rings take sinks but cannot drop them: one sink per
  // process, forwarding to whichever tracer is live
  @volatile private var live: Tracer = null
  private lazy val sinks: Unit = {
    ScanReports.addSink(r => Option(live).foreach(_.addScan(r)))
    CommitReports.addSink(r => Option(live).foreach(_.addCommit(r)))
  }
  private def install(t: Tracer): Unit = { sinks; live = t }

  /** A scan report produced by the benchmark's own core-API planning
    * call (the Spark scan files its reports into the ring itself). */
  def scanReport(r: ScanReport): Unit = Option(live).foreach(_.addScan(r))
  def enabled: Boolean = live != null

  /** A span the benchmark times itself around one call into a layer,
    * e.g. parse and analysis inside spark.sql, which happen before the
    * QueryExecution the listener later reports exists. */
  def span[T](layer: String, name: String)(body: => T): T = {
    val t = live
    if (t == null) body
    else {
      val s = Clock.nowMs
      try body finally t.addSpan(Span(currentOp.get, layer, name, s, Clock.nowMs))
    }
  }

  /** Run `body` as op `id`: reports from this thread and Spark jobs it
    * launches carry the id. */
  def withOp[T](spark: Option[SparkSession], id: Long)(body: => T): T = {
    currentOp.set(id)
    spark.foreach(_.sparkContext.setLocalProperty(OpKey, id.toString))
    try body
    finally {
      currentOp.set(-1L)
      spark.foreach(_.sparkContext.setLocalProperty(OpKey, null))
    }
  }

  /** Self time per layer: each span's duration minus the part of it that
    * the spans nested inside it cover. Nesting is by interval
    * containment within an op. */
  def selfTimes(spans: Seq[Span]): Map[String, Double] = {
    val self = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    spans.groupBy(_.op).values.foreach { ss =>
      // outermost first; ties broken so the client span is the root
      val ordered = ss.sortBy(s => (s.startMs, -s.ms, s.layer != "client")).toIndexedSeq
      val parent = ordered.indices.map { i =>
        val s = ordered(i)
        (0 until i).reverse.find { j =>
          val p = ordered(j)
          p.startMs <= s.startMs && s.endMs <= p.endMs
        }
      }
      ordered.indices.foreach { i =>
        val kids = ordered.indices.filter(k => parent(k).contains(i)).map(ordered)
        self(ordered(i).layer) += ordered(i).ms - union(kids)
      }
    }
    self.toMap
  }

  private def union(ss: Seq[Span]): Double = {
    var total = 0.0; var curS = Double.NaN; var curE = Double.NaN
    ss.sortBy(_.startMs).foreach { s =>
      if (curS.isNaN || s.startMs > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = s.startMs; curE = s.endMs
      } else curE = math.max(curE, s.endMs)
    }
    if (!curS.isNaN) total += curE - curS
    total
  }
}
