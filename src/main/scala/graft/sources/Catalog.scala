package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Catalog namespaces mirroring the reference's three Postgres schemas
  * (reference: dbt/macros/schema.sql:1-7 — raw / staging / marts;
  * SURVEY.md §1.4): `CREATE DATABASE` + `saveAsTable` registration so
  * downstream consumers address models by name —
  * `spark.table("marts.dim_locations")` — instead of by path. Bucketed
  * writes (IO.writeBucketed) already use the metastore; this completes
  * the namespace story for the plain tables.
  */
object Catalog {

  /** The reference's layer schemas, in lineage order. */
  val Namespaces: Seq[String] = Seq("raw", "staging", "marts")

  def ensureNamespaces(spark: SparkSession): Unit =
    Namespaces.foreach(n => spark.sql(s"CREATE DATABASE IF NOT EXISTS $n"))

  /** Register/overwrite a model as a managed catalog table,
    * e.g. save(dim, "marts.dim_locations"). */
  def save(df: DataFrame, qualifiedName: String): Unit =
    df.write.mode("overwrite").saveAsTable(qualifiedName)

  /** Partitioned variant with dynamic partition overwrite: re-running a
    * day replaces only that day's partitions in the catalog table. First
    * write creates the table; subsequent writes go through `insertInto`
    * (saveAsTable-overwrite would replace the WHOLE table) with columns
    * reordered to the table's layout, since insertInto is positional and
    * saveAsTable moves partition columns to the end of the schema. */
  def savePartitioned(df: DataFrame, qualifiedName: String,
                      partitionCols: Seq[String]): Unit = {
    val spark = df.sparkSession
    if (spark.catalog.tableExists(qualifiedName)) {
      val tableOrder = spark.table(qualifiedName).columns.toSeq
      // session conf, not a write option: insertInto does not thread
      // per-write options down to the file-source insert command
      graft.Sessions.withConf(spark, "spark.sql.sources.partitionOverwriteMode" -> "dynamic") {
        df.select(tableOrder.map(df.col): _*)
          .write
          .mode("overwrite")
          .insertInto(qualifiedName)
      }
    } else {
      df.write
        .mode("overwrite")
        .partitionBy(partitionCols: _*)
        .saveAsTable(qualifiedName)
    }
  }
}
