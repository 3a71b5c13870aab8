package org.apache.spark.sql.graftbridge

import java.io.IOException
import java.util.{Date, UUID}

import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.{Job, TaskAttemptID, TaskID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.internal.io.SparkHadoopWriterUtils
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.classic.ClassicConversions._
import org.apache.spark.sql.execution.datasources.FileFormat
import org.apache.spark.sql.execution.datasources.json.JsonFileFormat
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.StructType

/** Driver-side file writes through Spark's own format writers, for row
  * sets too small to be worth a job. The session's Hadoop conf is
  * `private[sql]`, so this shim lives inside the sql package scope,
  * like [[ColumnBridge]].
  */
object FileWriteBridge {
  /** Writes `rows` as one `json` or `parquet` file in `dir`, or in its
    * `column=value` directory when a `partition` is given, and returns
    * its qualified path. This is what `FileFormatWriter` does in a write
    * task: `prepareWrite` with the session's options, then one writer
    * from `OutputWriterFactory.newInstance` under a task attempt
    * context. The file gets a task's name for its first file
    * (`part-00000-<uuid>-c000<ext>`, `….c000<ext>` in a partition). It is
    * written under that name with a leading dot, which every Spark reader
    * skips, and then renamed into place, so no reader sees it half
    * written. No `_SUCCESS` is written.
    */
  def writeFile(spark: SparkSession, format: String, dir: String, schema: StructType,
      rows: Seq[Row], partition: Option[(String, String)] = None): Path = {
    val fileFormat: FileFormat = format match {
      case "json" => new JsonFileFormat
      case "parquet" => new ParquetFileFormat
    }
    val job = Job.getInstance(spark.sessionState.newHadoopConf())
    val factory = fileFormat.prepareWrite(spark, job, Map.empty, schema)
    val jobId = SparkHadoopWriterUtils.createJobID(new Date, 0)
    val context = new TaskAttemptContextImpl(job.getConfiguration,
      new TaskAttemptID(new TaskID(jobId, TaskType.MAP, 0), 0))
    val counter = if (partition.isEmpty) "-c000" else ".c000"
    val name = s"part-00000-${UUID.randomUUID}$counter${factory.getFileExtension(context)}"
    val parent = partition.fold(new Path(dir)) { case (column, value) =>
      new Path(dir, ExternalCatalogUtils.getPartitionPathString(column, value))
    }
    val (hidden, target) = (new Path(parent, "." + name), new Path(parent, name))
    val fs = target.getFileSystem(job.getConfiguration)
    val toInternal = CatalystTypeConverters.createToCatalystConverter(schema)
    try {
      val writer = factory.newInstance(hidden.toString, schema, context)
      try rows.foreach(r => writer.write(toInternal(r).asInstanceOf[InternalRow]))
      finally writer.close()
      if (!fs.rename(hidden, target)) throw new IOException(s"cannot rename $hidden to $target")
    } catch {
      case e: Throwable =>
        fs.delete(hidden, false)
        throw e
    }
    fs.makeQualified(target)
  }
}
