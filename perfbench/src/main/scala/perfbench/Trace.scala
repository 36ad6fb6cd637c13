package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** Process counters read at span boundaries. */
object Proc {
  private def field(file: String, key: String): Long = {
    val src = scala.io.Source.fromFile(file)
    try src.getLines().collectFirst {
      case l if l.startsWith(key) => l.drop(key.length).trim.split("\\s+")(0).toLong
    }.getOrElse(0L)
    finally src.close()
  }

  /** Bytes this process passed through read-like syscalls (`rchar`). */
  def rchar(): Long = field("/proc/self/io", "rchar:")

  /** Peak resident set size in KiB (`VmHWM`). */
  def peakRssKb(): Long = field("/proc/self/status", "VmHWM:")

  def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum
}

/** One recorded span. Times are `System.nanoTime`. `op` is the id of the
  * timed op the span belongs to; every span of one op shares it.
  */
final case class Span(id: Int, parent: Int, op: Int, layer: String, name: String,
    start: Long, end: Long, rcharBytes: Long, gcMs: Long)

/** One Spark job as the listener saw it, with the span that submitted it. */
final class JobRecord(val jobId: Int, val span: Int, val execId: Long, val callSite: String,
    val startNs: Long) {
  var endNs: Long = startNs
  var stages = 0
  var tasks = 0
  var taskRunMs = 0L
  var taskCpuNs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
}

/** Span recorder plus the Spark listeners that attribute jobs, stages,
  * task metrics and Catalyst phase times to spans. Spans are kept in
  * memory; [[writeJson]] writes them out once, at the end of the run.
  * When disabled every method is a pass-through.
  */
final class Recorder(spark: SparkSession, val enabled: Boolean) {
  import Recorder._

  private val sc: SparkContext = spark.sparkContext
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var currentOp = -1
  /** Time spent inside the recorder's own bookkeeping during timed ops. */
  var overheadNs = 0L

  // Listener events carry wall-clock milliseconds; map them onto nanoTime.
  private val clockOffsetNs = System.currentTimeMillis() * 1000000L - System.nanoTime()
  private def msToNano(ms: Long): Long = ms * 1000000L - clockOffsetNs

  private val jobs = mutable.LinkedHashMap.empty[Int, JobRecord]
  private val stageJob = mutable.Map.empty[Int, JobRecord]
  private val planningMsByExec = mutable.Map.empty[Long, Long]
  /** Call site of each SQL execution's root, captured on the thread that ran
    * the action: AQE submits a query's stage jobs from a thread pool, whose
    * own call site shows none of the engine's frames.
    */
  private val execSites = mutable.Map.empty[Long, String]
  private val execRoots = mutable.Map.empty[Long, Long]

  private val listener = new SparkListener {
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => Recorder.this.synchronized {
        execSites(s.executionId) = s.details
        execRoots(s.executionId) = s.rootExecutionId.getOrElse(s.executionId)
      }
      case _ =>
    }
    override def onJobStart(e: SparkListenerJobStart): Unit = Recorder.this.synchronized {
      val props = Option(e.properties)
      // a job that carries no span is kept with span -1, so that a loss of
      // attribution shows (trace.unattributed_jobs)
      val span = props.flatMap(p => Option(p.getProperty(SpanKey))).map(_.toInt).getOrElse(-1)
      val exec = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id"))).map(_.toLong).getOrElse(-1L)
      val site = e.stageInfos.map(_.details).mkString("\n")
      val j = new JobRecord(e.jobId, span, exec, site, msToNano(e.time))
      jobs(e.jobId) = j
      e.stageIds.foreach(stageJob(_) = j)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Recorder.this.synchronized {
      jobs.get(e.jobId).foreach(_.endNs = msToNano(e.time))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Recorder.this.synchronized {
      stageJob.get(e.stageInfo.stageId).foreach(_.stages += 1)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Recorder.this.synchronized {
      stageJob.get(e.stageId).foreach { j =>
        j.tasks += 1
        Option(e.taskMetrics).foreach { m =>
          j.taskRunMs += m.executorRunTime
          j.taskCpuNs += m.executorCpuTime
          j.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
          j.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    private def phases(qe: QueryExecution): Long =
      qe.tracker.phases.iterator.collect {
        case (p, s) if p == "analysis" || p == "optimization" || p == "planning" => s.durationMs
      }.sum
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      Recorder.this.synchronized { planningMsByExec(qe.id) = phases(qe) }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      Recorder.this.synchronized { planningMsByExec(qe.id) = phases(qe) }
  }

  if (enabled) {
    sc.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }

  /** Run `f` as timed op `opId`: the op's root span. */
  def op[T](opId: Int, kind: String)(f: => T): T =
    if (!enabled) f
    else {
      currentOp = opId
      try span("op", kind)(f) finally currentOp = -1
    }

  /** Run `f` inside a span of `layer`; jobs `f` submits are attributed to it. */
  def span[T](layer: String, name: String)(f: => T): T =
    if (!enabled) f
    else {
      val o0 = System.nanoTime()
      val id = spans.length
      val parent = stack.headOption.getOrElse(-1)
      spans += null // reserve the id; filled when the span closes
      stack = id :: stack
      sc.setLocalProperty(SpanKey, id.toString)
      val rc0 = Proc.rchar()
      val gc0 = Proc.gcMs()
      val start = System.nanoTime()
      if (currentOp >= 0) overheadNs += start - o0
      try f
      finally {
        val end = System.nanoTime()
        spans(id) = Span(id, parent, currentOp, layer, name, start, end,
          Proc.rchar() - rc0, Proc.gcMs() - gc0)
        stack = stack.tail
        sc.setLocalProperty(SpanKey, stack.headOption.map(_.toString).orNull)
        if (currentOp >= 0) overheadNs += System.nanoTime() - end
      }
    }

  /** Wait until the listener bus has delivered every queued event. */
  def drain(): Unit = if (enabled) {
    try {
      val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
      bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
    } catch { case _: ReflectiveOperationException => Thread.sleep(2000) }
  }

  def close(): Unit = if (enabled) {
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }

  def allSpans: Seq[Span] = spans.toSeq.filter(_ != null)

  def allJobs: Seq[JobRecord] = synchronized(jobs.values.toSeq)

  /** Where a job was started from: its SQL execution's root call site, or
    * its stages' call site for a job outside SQL (an RDD action).
    */
  def callSite(j: JobRecord): String = synchronized {
    execSites.get(execRoots.getOrElse(j.execId, j.execId)).getOrElse(j.callSite)
  }

  /** Catalyst analysis + optimization + planning ms of the executions a job ran under. */
  def planningMs(execIds: Set[Long]): Long = synchronized(execIds.toSeq.map(planningMsByExec.getOrElse(_, 0L)).sum)

  /** Writes every span and job as one JSON document. */
  def writeJson(path: String): Unit = if (enabled) {
    val sb = new StringBuilder("{\"spans\":[")
    sb ++= allSpans.map { s =>
      f"""{"id":${s.id},"parent":${s.parent},"op":${s.op},"layer":"${s.layer}","name":"${s.name}",""" +
        f""""start_ns":${s.start},"end_ns":${s.end},"rchar":${s.rcharBytes},"gc_ms":${s.gcMs}}"""
    }.mkString(",\n")
    sb ++= "],\"jobs\":["
    sb ++= allJobs.map { j =>
      f"""{"job":${j.jobId},"span":${j.span},"exec":${j.execId},"start_ns":${j.startNs},"end_ns":${j.endNs},""" +
        f""""stages":${j.stages},"tasks":${j.tasks},"task_run_ms":${j.taskRunMs},"task_cpu_ns":${j.taskCpuNs},""" +
        f""""shuffle_bytes":${j.shuffleBytes},"spill_bytes":${j.spillBytes}}"""
    }.mkString(",\n")
    sb ++= "]}\n"
    java.nio.file.Files.write(java.nio.file.Paths.get(path), sb.toString.getBytes("UTF-8"))
  }
}

object Recorder {
  val SpanKey = "perfbench.span"
}
