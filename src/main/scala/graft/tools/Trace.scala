package graft.tools

import graft.{Caches, Sessions, SparkEntry}
import graft.obs.{Trace => Tracer}

/** Traces named registry queries with [[graft.obs.Trace]]: every query
  * runs once untraced to warm its plan shapes, then `passes` times
  * traced. Each pass prints its wall time and engine counts; the final
  * pass also prints its job timeline and streaming micro-batches. In
  * `cold` mode caches are cleared before every pass, so cached artifacts
  * are rebuilt inside the traced run. With `planDir`, each query's
  * `explain("formatted")` after its final pass is written to
  * `planDir/<query>.txt`.
  *
  * Usage: runMain graft.tools.Trace <sfDir> <passes> <cold|warm> q1[,q2,...] [planDir]
  */
object Trace {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val passes = args(1).toInt
    require(args(2) == "cold" || args(2) == "warm",
      s"mode '${args(2)}' must be exactly 'cold' or 'warm' — a typo here " +
        "silently measures warm cache reuse where cold builds were intended")
    val cold = args(2) == "cold"
    val names = args(3).split(",").toSeq
    val planDir = args.lift(4).map(new java.io.File(_))
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(",")}")
    val spark = Sessions.build(Sessions.cpus)
    spark.sparkContext.setLogLevel("WARN")
    planDir.foreach(_.mkdirs())
    names.foreach { name =>
      SparkEntry.queries(name)(spark, sfDir).count()
      spark.catalog.clearCache(); Caches.release()
      val runs = (1 to passes).map { pass =>
        if (cold) { spark.catalog.clearCache(); Caches.release() }
        System.gc()
        // building the frame is traced too: a streaming row runs its
        // whole stream lifecycle there
        val ((df, secs), report) = Tracer.around(spark) {
          val t0 = System.nanoTime()
          val df = SparkEntry.queries(name)(spark, sfDir)
          df.count()
          (df, (System.nanoTime() - t0) / 1e9)
        }
        println(f"[trace] $name%-28s pass=$pass wall=$secs%.2f s ${report.summary}")
        (df, report)
      }
      val (df, last) = runs.last
      last.timeline.foreach { j =>
        println(f"[trace]   job=${j.id}%-5d ${j.wallMs}%6d ms  gap=${j.gapMs}%5d ms  ${j.label}")
      }
      last.batches.foreach { b =>
        val phases = b.durationMs.toSeq.sortBy(_._1).map { case (k, v) => s"$k=$v" }.mkString(" ")
        println(s"[trace]   stream=${b.query} batch=${b.batchId} rows=${b.numInputRows} " +
          s"stateRows=${b.stateRows} stateBytes=${b.stateBytes} $phases")
      }
      planDir.foreach { dir =>
        val plan = df.queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
        java.nio.file.Files.writeString(new java.io.File(dir, s"$name.txt").toPath, plan)
      }
    }
    spark.stop()
  }
}
