package graft

import java.util.UUID

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.{Job, TaskAttemptID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Cast, GenericInternalRow}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.graft.bridge
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{StringType, StructType}

/** The one driver-side table writer: `df.write.partitionBy(partitionedBy)
  * .parquet(dir)` for rows that are already on the driver, as Catalyst
  * rows of `schema` (a driver-held pipeline batch collects its models
  * with `bridge.collectInternal`; the near-dup stream's driver route
  * holds its admitted and store rows). It runs Spark's own parquet
  * writer (`ParquetFileFormat.prepareWrite` and its
  * `OutputWriterFactory`) under `spark`'s SQL conf on the Hadoop conf
  * `conf`, which comes from the same session (`bridge.hadoopConf`), and
  * runs no Spark job. The layout is a single-task write's: one
  * `part-00000-<uuid>-c000.snappy.parquet` under `dir`, or one
  * `part-00000-<uuid>.c000.snappy.parquet` under each partition dir,
  * named as Spark names it (the value cast to a string in the session
  * time zone, escaped), plus `_SUCCESS` at `dir`. Unpartitioned, an
  * empty row set still writes its one file, which carries the schema;
  * partitioned, it writes only `_SUCCESS`.
  *
  * What it leaves out is the write job: no task binary carrying the
  * Hadoop conf, and no output committer moving the files through
  * `_temporary`. So it suits a private stage that is published by a
  * rename of its own (`Fs.commit`, `Fs.commitTables`), not a live dir.
  */
private[graft] object DriverWrite {

  def parquet(spark: SparkSession, schema: StructType, rows: Iterable[InternalRow], dir: Path,
              partitionedBy: Option[String], conf: Configuration): Unit = {
    val partition = partitionedBy.map(schema.fieldIndex)
    val dataCols = schema.indices.filterNot(partition.contains)
    val dataSchema = StructType(dataCols.map(schema(_)))
    val job = Job.getInstance(conf)
    bridge.withSqlConf(spark) {
      val factory = new ParquetFileFormat().prepareWrite(spark, job, Map.empty, dataSchema)
      val context = new TaskAttemptContextImpl(job.getConfiguration,
        new TaskAttemptID("", 0, TaskType.MAP, 0, 0))
      // Spark's names: `-c000` in a table dir, `.c000` in a partition dir
      val file = s"part-00000-${UUID.randomUUID()}${if (partition.isEmpty) "-" else "."}c000" +
        factory.getFileExtension(context)
      def write(under: Path, rows: Iterable[InternalRow]): Unit = {
        val out = factory.newInstance(new Path(under, file).toString, dataSchema, context)
        try rows.foreach(out.write) finally out.close()
      }
      partition match {
        case None => write(dir, rows)
        case Some(i) =>
          val field = schema(i)
          val value = Cast(BoundReference(i, field.dataType, field.nullable), StringType,
            Some(SQLConf.get.sessionLocalTimeZone))
          def dataRow(r: InternalRow): InternalRow =
            new GenericInternalRow(dataCols.map(c => r.get(c, schema(c).dataType)).toArray)
          for ((name, part) <- rows.groupBy(r => ExternalCatalogUtils.getPartitionPathString(
                 field.name, Option(value.eval(r)).map(_.toString).orNull)))
            write(new Path(dir, name), part.map(dataRow))
      }
    }
    dir.getFileSystem(job.getConfiguration).create(new Path(dir, "_SUCCESS"), true).close()
  }
}
