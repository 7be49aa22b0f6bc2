package perfbench

import scala.collection.mutable

import org.apache.spark.perfbench.Bus
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** Totals of one layer. Seconds come from the query-execution listener
  * (action durations and planning phases), counts from the Spark
  * listener (jobs, tasks, shuffle and output bytes). */
final class Acc {
  var s, planS = 0.0
  var actions, jobs, tasks, shuffleBytes, outBytes, outRows, files = 0L
}

/** The benchmark's own listeners: a `SparkListener` for jobs, stages and
  * tasks and a `QueryExecutionListener` for action and planning time.
  * Each action is attributed to a layer by what it does:
  *
  *  - in `pipeline` scope, a write goes to the layer owning its output
  *    path (raw → `pipeline.ingest`, dim → `pipeline.dim`, fct →
  *    `sources.fct_write`) and every action that writes nothing is a
  *    gate (`quality.gates`);
  *  - in any other scope (`registry.<module>`), everything goes to the
  *    scope.
  *
  * The caller drains the listener bus after each op (see [[Bus]]), so
  * every event an op causes is counted before the scope changes.
  */
final class Probe extends SparkListener with QueryExecutionListener {
  @volatile var scope: String = Probe.Pipeline

  val layers: mutable.LinkedHashMap[String, Acc] = mutable.LinkedHashMap.empty
  /** Summed over every task, whatever its layer. */
  var taskWaitS, gcS = 0.0
  /** Summed over every action, whatever its layer. */
  var actionS = 0.0

  private val execLayer = mutable.Map.empty[Long, String]
  private val stageLayer = mutable.Map.empty[Int, String]

  def acc(layer: String): Acc = synchronized(layers.getOrElseUpdate(layer, new Acc))

  private def layerOf(writePath: Option[String]): String =
    if (scope != Probe.Pipeline) scope
    else writePath match {
      case None => Probe.Gates
      case Some(p) => Probe.writeLayer(p)
    }

  override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
    case e: SparkListenerSQLExecutionStart => synchronized {
      // a nested execution belongs to the layer of its root
      val root = e.rootExecutionId.filter(_ != e.executionId).flatMap(execLayer.get)
      execLayer(e.executionId) = root.getOrElse(
        layerOf(Probe.WritePath.findFirstMatchIn(e.physicalPlanDescription).map(_.group(1))))
    }
    case _ =>
  }

  override def onJobStart(job: SparkListenerJobStart): Unit = synchronized {
    val exec = Option(job.properties)
      .flatMap(p => Option(p.getProperty("spark.sql.execution.id"))).map(_.toLong)
    val layer = exec.flatMap(execLayer.get).getOrElse(
      if (scope == Probe.Pipeline) Probe.Driver else scope)
    acc(layer).jobs += 1
    job.stageIds.foreach(stageLayer(_) = layer)
  }

  override def onTaskEnd(task: SparkListenerTaskEnd): Unit = synchronized {
    val a = acc(stageLayer.getOrElse(task.stageId, Probe.Driver))
    a.tasks += 1
    val m = task.taskMetrics
    if (m != null) {
      a.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      gcS += m.jvmGCTime / 1000.0
      val info = task.taskInfo
      // scheduler delay: task wall time not spent running, deserializing
      // or serializing the result
      if (info != null && info.finished)
        taskWaitS += math.max(0L, info.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime) / 1000.0
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe, durationNs)

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe, 0L)

  private def record(qe: QueryExecution, durationNs: Long): Unit = {
    val path = qe.logical.collectFirst { case c: InsertIntoHadoopFsRelationCommand => c.outputPath.toString }
    val plan = qe.tracker.phases.values.map(_.durationMs).sum / 1000.0
    // the write command's own metrics: files, bytes and rows written
    val cmds = Probe.writeCommands(qe.executedPlan)
    def written(metric: String): Long = cmds.flatMap(_.cmd.metrics.get(metric)).map(_.value).sum
    synchronized {
      val a = acc(layerOf(path))
      a.actions += 1
      a.s += durationNs / 1e9
      a.planS += plan
      a.files += written("numFiles")
      a.outBytes += written("numOutputBytes")
      a.outRows += written("numOutputRows")
      actionS += durationNs / 1e9
    }
  }
}

object Probe {
  val Pipeline = "pipeline"
  val Gates = "quality.gates"
  val Driver = "pipeline.driver"

  /** Output path of a write in a formatted physical plan description. */
  private val WritePath = """(?s)\) Execute InsertIntoHadoopFsRelationCommand\s.*?Arguments: ([^,\s]+)""".r

  def writeCommands(p: SparkPlan): Seq[DataWritingCommandExec] = p match {
    case d: DataWritingCommandExec => Seq(d)
    case a: AdaptiveSparkPlanExec => writeCommands(a.executedPlan)
    case q: QueryStageExec => writeCommands(q.plan)
    case other => other.children.flatMap(writeCommands)
  }

  /** The layer that owns a pipeline output path. */
  def writeLayer(path: String): String =
    if (path.contains("/raw/weather")) "pipeline.ingest"
    else if (path.contains("/marts/dim_locations")) "pipeline.dim"
    else if (path.contains("/marts/fct_weather_observations")) "sources.fct_write"
    else "pipeline.write_other"

  /** Registers `p` with the session's two listener buses. */
  def attach(spark: org.apache.spark.sql.SparkSession, p: Probe): Unit = {
    spark.sparkContext.addSparkListener(p)
    spark.listenerManager.register(p)
  }

  def detach(spark: org.apache.spark.sql.SparkSession, p: Probe): Unit = {
    Bus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(p)
    spark.listenerManager.unregister(p)
  }
}

/** Timing wrapper around a fetcher: attempts, successes and seconds spent
  * inside `fetch`. */
final class TimedFetcher(inner: graft.pipeline.WeatherFetcher) extends graft.pipeline.WeatherFetcher {
  var seconds = 0.0
  var attempts, successes = 0
  override def fetch(city: String): String = {
    val t0 = System.nanoTime()
    attempts += 1
    try { val out = inner.fetch(city); successes += 1; out }
    finally seconds += (System.nanoTime() - t0) / 1e9
  }
}
