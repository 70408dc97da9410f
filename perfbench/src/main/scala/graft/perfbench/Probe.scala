package graft.perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One span: a timed interval with the span that caused it. Times are
  * epoch milliseconds (fractional for the harness's own spans).
  */
final case class Span(id: Long, parent: Long, name: String, start: Double, end: Double)

/** In-memory span log, written out once when the run ends. */
final class Spans {
  private val next = new AtomicLong(1L)
  private val buf = ArrayBuffer.empty[Span]
  def newId(): Long = next.getAndIncrement()
  def add(s: Span): Unit = synchronized { buf += s }
  def all: Seq[Span] = synchronized { buf.toList }
}

/** Counters of the engine's layers, read from Spark's own listeners:
  * task metrics and job/stage spans from a SparkListener, planning
  * phases from a QueryExecutionListener. Nothing inside the engine is
  * instrumented. `op` is the span id of the operation now running
  * (one client, so at most one); jobs started while it runs are its
  * children.
  */
final class LayerListener(spans: Spans) extends SparkListener with QueryExecutionListener {
  @volatile var op: Long = 0L
  val taskCpuNs, runMs, gcMs, shuffleWrite, shuffleRead, spill = new AtomicLong
  val jobs, stages, tasks = new AtomicInteger
  val analysisMs, optimizerNs, physicalMs = new AtomicLong
  private val jobSpan = new ConcurrentHashMap[Int, (Long, Long, Double)] // job -> (span, parent, start)
  private val stageJob = new ConcurrentHashMap[Int, Long]               // stage -> job span

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val id = spans.newId()
    jobSpan.put(e.jobId, (id, op, e.time.toDouble))
    e.stageIds.foreach(s => stageJob.put(s, id))
    jobs.incrementAndGet()
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobSpan.remove(e.jobId)).foreach { case (id, parent, start) =>
      spans.add(Span(id, parent, s"job ${e.jobId}", start, e.time.toDouble))
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    stages.incrementAndGet()
    for (s <- i.submissionTime; c <- i.completionTime)
      spans.add(Span(spans.newId(), Option(stageJob.get(i.stageId)).getOrElse(op),
        s"stage ${i.stageId}", s.toDouble, c.toDouble))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      taskCpuNs.addAndGet(m.executorCpuTime + m.executorDeserializeCpuTime)
      runMs.addAndGet(m.executorRunTime)
      gcMs.addAndGet(m.jvmGCTime)
      shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  /** Planning phases of each executed query. The phase clock ticks in
    * whole milliseconds, so the optimizer's share is taken from its rule
    * timings instead, which are in nanoseconds. Analysis of an executed
    * query is mostly done already: DataFrames are analyzed as operators
    * build them, inside the operation's driver time.
    */
  private def phases(qe: QueryExecution): Unit = {
    val t = qe.tracker
    def ms(k: String): Long = t.phases.get(k).map(_.durationMs).getOrElse(0L)
    analysisMs.addAndGet(ms("analysis"))
    optimizerNs.addAndGet(t.rules.valuesIterator.map(_.totalTimeNs).sum)
    physicalMs.addAndGet(ms("planning"))
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = phases(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = phases(qe)

  /** Counter values now, by metric name. */
  def snapshot(): Map[String, Double] = Map(
    "exec.task_cpu_s" -> taskCpuNs.get / 1e9,
    "exec.run_s" -> runMs.get / 1e3,
    "exec.gc_s" -> gcMs.get / 1e3,
    "exec.jobs" -> jobs.get.toDouble,
    "exec.stages" -> stages.get.toDouble,
    "exec.tasks" -> tasks.get.toDouble,
    "shuffle.write_bytes" -> shuffleWrite.get.toDouble,
    "shuffle.read_bytes" -> shuffleRead.get.toDouble,
    "spill.bytes" -> spill.get.toDouble,
    "plan.analysis_s" -> analysisMs.get / 1e3,
    "plan.optimizer_s" -> optimizerNs.get / 1e9,
    "plan.physical_s" -> physicalMs.get / 1e3)
}

/** Micro-batch progress of every streaming query, tagged with the
  * operation that ran it. Registered in both modes: Spark computes the
  * progress either way, and the micro-batch times are an end-to-end
  * figure.
  */
final class BatchListener extends StreamingQueryListener {
  @volatile var op: String = ""
  val batches = ArrayBuffer.empty[Map[String, Any]]
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
    val state = p.stateOperators
    synchronized {
      batches += Map(
        "op" -> op,
        "trigger_ms" -> d.getOrElse("triggerExecution", 0L),
        "planning_ms" -> d.getOrElse("queryPlanning", 0L),
        "add_batch_ms" -> d.getOrElse("addBatch", 0L),
        "commit_ms" -> (d.getOrElse("commitOffsets", 0L) + d.getOrElse("walCommit", 0L)),
        "state_rows" -> state.map(_.numRowsTotal).sum,
        "state_bytes" -> state.map(_.memoryUsedBytes).sum)
    }
  }
  def take(): Seq[Map[String, Any]] = synchronized {
    val out = batches.toList; batches.clear(); out
  }
}

object Probe {
  def attach(spark: SparkSession, l: LayerListener): Unit = {
    spark.sparkContext.addSparkListener(l)
    spark.listenerManager.register(l)
  }
  def detach(spark: SparkSession, l: LayerListener): Unit = {
    spark.sparkContext.removeSparkListener(l)
    spark.listenerManager.unregister(l)
  }
}
