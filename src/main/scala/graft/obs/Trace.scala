package graft.obs

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.graft.Bus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Engine metrics of one block of driver code: what its Spark jobs,
  * stages and tasks cost, how long its actions spent planning, and what
  * each streaming micro-batch did. [[Trace.around]] attaches the
  * listeners for the duration of the block only, so sessions that are
  * not traced carry none.
  */
object Trace {
  /** One Spark job: wall time, idle time since the previous job ended,
    * and its `spark.job.description` (else its result stage's call site). */
  final case class Job(id: Int, wallMs: Long, gapMs: Long, label: String)

  /** One streaming micro-batch: the engine's `durationMs` phases
    * (`addBatch`, `walCommit`, `queryPlanning`, ...), its input rows and
    * the state store's rows and bytes summed over stateful operators. */
  final case class Batch(query: String, batchId: Long, durationMs: Map[String, Long],
                         numInputRows: Long, stateRows: Long, stateBytes: Long)

  /** Totals are summed over every task or action seen; `shuffleBytes`
    * is shuffle bytes written, `spillBytes` is bytes spilled to disk. */
  final case class Report(jobs: Int, stages: Int, tasks: Long, shuffleReadBytes: Long,
                          shuffleBytes: Long, spillBytes: Long, gcMs: Long, planMs: Long,
                          actions: Int, actionMs: Long, timeline: Seq[Job], batches: Seq[Batch]) {
    /** The per-query engine counts, in the order they are reported. */
    def counts: Seq[(String, Long)] = Seq("jobs" -> jobs.toLong, "stages" -> stages.toLong,
      "tasks" -> tasks, "shuffleBytes" -> shuffleBytes, "spillBytes" -> spillBytes,
      "gcMs" -> gcMs, "planMs" -> planMs)

    def summary: String = (counts ++ Seq("shuffleReadBytes" -> shuffleReadBytes,
      "actions" -> actions.toLong, "actionMs" -> actionMs))
      .map { case (k, v) => s"$k=$v" }.mkString(" ")
  }

  /** A traced body threw; `report` covers everything it did before. */
  final class Failed(val report: Report, cause: Throwable)
    extends RuntimeException(cause.getMessage, cause)

  /** Runs `body` with the listeners attached and returns its result with
    * the report. The bus is drained before the listeners attach, so no
    * event of earlier work is counted (the bus hands a queued event to
    * every listener attached when it is delivered), and again before the
    * report is read, so every event `body` caused is. A non-fatal
    * exception from `body` is rethrown as [[Failed]]; the listeners are
    * detached either way. */
  def around[A](spark: SparkSession)(body: => A): (A, Report) = {
    val sc = spark.sparkContext
    val r = new Recorder
    Bus.drain(sc)
    sc.addSparkListener(r)
    spark.listenerManager.register(r)
    spark.streams.addListener(r.streams)
    try {
      val out = try body catch {
        case NonFatal(e) =>
          scala.util.Try(Bus.drain(sc)) // a drain timeout must not mask `e`
          throw new Failed(r.report, e)
      }
      Bus.drain(sc)
      (out, r.report)
    } finally {
      sc.removeSparkListener(r)
      spark.listenerManager.unregister(r)
      spark.streams.removeListener(r.streams)
    }
  }

  /** Callbacks arrive on the bus threads; every field is guarded by the
    * recorder's lock. */
  private[obs] final class Recorder extends SparkListener with QueryExecutionListener {
    private var stages, actions = 0
    private var tasks, shuffleRead, shuffleWrite, spill, gcMs, planMs, actionMs = 0L
    private val started = mutable.Map.empty[Int, (Long, String)]
    private val ended = mutable.ArrayBuffer.empty[(Int, Long, Long, String)]
    private val batches = mutable.ArrayBuffer.empty[Batch]

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val label = Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
        .orElse(e.stageInfos.maxByOption(_.stageId).map(_.name)).getOrElse("?")
      synchronized { started(e.jobId) = (e.time, label) }
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      started.remove(e.jobId).foreach { case (t0, label) => ended += ((e.jobId, t0, e.time, label)) }
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized { stages += 1 }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      tasks += 1
      Option(e.taskMetrics).foreach { m =>
        shuffleRead += m.shuffleReadMetrics.totalBytesRead
        shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        spill += m.diskBytesSpilled
        gcMs += m.jvmGCTime
      }
    }

    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      action(qe, durationNs)

    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      action(qe, 0L)

    private def action(qe: QueryExecution, durationNs: Long): Unit = {
      val plan = qe.tracker.phases.values.map(_.durationMs).sum
      synchronized { actions += 1; planMs += plan; actionMs += durationNs / 1000000L }
    }

    val streams: StreamingQueryListener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        val b = Batch(Option(p.name).getOrElse(p.id.toString), p.batchId,
          p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap, p.numInputRows,
          p.stateOperators.map(_.numRowsTotal).sum, p.stateOperators.map(_.memoryUsedBytes).sum)
        Recorder.this.synchronized { batches += b }
      }
    }

    def report: Report = synchronized {
      val jobs = ended.sortBy(_._2)
      val timeline = jobs.zip(None +: jobs.map(j => Option(j._3))).map {
        case ((id, t0, t1, label), prevEnd) => Job(id, t1 - t0, prevEnd.fold(0L)(t0 - _), label)
      }.toSeq
      Report(jobs.size, stages, tasks, shuffleRead, shuffleWrite, spill, gcMs, planMs,
        actions, actionMs, timeline, batches.toSeq)
    }
  }
}
