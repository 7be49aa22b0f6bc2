package graft.tools

import graft.{Caches, Sessions, SparkEntry}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.window.WindowExec

/** One-line physical-plan audit of every registry query: Exchange
  * counts, join strategies, scans and whether their filters pushed
  * down, and `win1p`, the number of `WindowExec` nodes with an empty
  * partition spec — a window over the whole input, which Spark runs
  * in ONE task after moving every row to a single partition. Plans
  * are derived, not executed (initial AQE plan — the static shuffle
  * inventory; AQE can only remove/convert at runtime).
  *
  * Usage: runMain graft.tools.PlanAudit <outFile> [sfDir] [q1,q2,...]
  */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val out = new java.io.PrintWriter(args(0))
    val d = args.lift(1).getOrElse("/root/testdata/sf0.1")
    val only = args.lift(2).map(_.split(",").toSet)
    val spark = Sessions.build(Sessions.cpus)
    spark.sparkContext.setLogLevel("ERROR")
    def walk(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => a +: walk(a.inputPlan)
      case q: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
        q +: walk(q.relation.cachedPlan)
      case _ => p +: (p.children ++ p.subqueries).flatMap(walk)
    }
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_(n)) }
      .foreach { case (name, fn) =>
        try {
          val df = fn(spark, d)
          val nodes = walk(df.queryExecution.executedPlan)
          val shuffles = nodes.count(_.isInstanceOf[ShuffleExchangeExec])
          val bcasts = nodes.count(_.isInstanceOf[BroadcastExchangeExec])
          val singlePartWindows = nodes.count {
            case w: WindowExec => w.partitionSpec.isEmpty
            case _ => false
          }
          val joins = nodes.map(_.nodeName).filter(_.contains("Join"))
            .groupBy(identity).map { case (k, v) => s"$k×${v.size}" }
            .toSeq.sorted.mkString(",")
          val scans = nodes.collect {
            case s if s.nodeName.startsWith("Scan parquet") || s.nodeName == "FileSourceScan" =>
              val str = s.toString
              val pushed = str.contains("PushedFilters: [") && !str.contains("PushedFilters: []")
              if (pushed) "scan+pf" else "scan"
          }
          out.println(f"$name%-28s sh=$shuffles%-3d bc=$bcasts%-3d win1p=$singlePartWindows%-2d " +
            f"scans=${scans.size}%-3d(${scans.count(_ == "scan+pf")} pushed) " +
            s"joins=[$joins]")
        } catch {
          case e: Throwable =>
            out.println(f"$name%-28s PLAN-ERROR ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(80)}")
        }
        Caches.release(); spark.catalog.clearCache()
      }
    out.close()
    spark.stop()
  }
}
