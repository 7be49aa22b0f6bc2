package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.registry.Registry

/** Driver contract: the flagship query plus every registry query by
  * name, and each query's DuckDB oracle SQL (`graft.registry`). */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0:
    * the multi-way star join + aggregate (SURVEY.md §2.3). */
  def entry(spark: SparkSession): DataFrame =
    queries("q_join_fact_dim")(spark, "/root/testdata/sf0.001")

  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    Registry.all.map(q => q.name -> q.spark).toMap

  lazy val oracleSql: Map[String, String] =
    Registry.all.map(q => q.name -> q.oracleSql).toMap
}
