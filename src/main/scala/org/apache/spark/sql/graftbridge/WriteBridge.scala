package org.apache.spark.sql.graftbridge

import org.apache.hadoop.mapreduce.{Job, TaskAttemptID, TaskID, TaskType, JobID}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.TaskContext
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.datasources.{OutputWriter, OutputWriterFactory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.SerializableConfiguration

/** Executor-side parquet writing over `private[sql]` machinery — the write
  * twin of [[ScanBridge]].
  *
  * Every bucket-local write of the engine (COW merge, MOR delta, cold-start
  * replay, compaction, rebucket, the DSv2 sink and row-level writes) runs
  * as tasks that emit their bucket's parquet file directly: no DataFrame
  * writer, no output committer, no driver-side listing. Spark's own write
  * support — `ParquetFileFormat.prepareWrite` → [[OutputWriterFactory]] — is
  * exactly that per-file writer (same compression, schema conversion and
  * timestamp/decimal encodings as every other file the engine writes, so the
  * read path cannot tell who wrote a file), but it is `private[sql]`. This
  * bridge captures the prepared factory in a serializable handle tasks can
  * open writers from. The job's Hadoop conf rides as a broadcast (as
  * `ParquetFileFormat.buildReader` ships it on the scan side): embedding it
  * would make every task deserialize the whole Configuration again.
  */
object WriteBridge {

  /** Serializable per-task handle: `open(path)` returns an [[OutputWriter]]
    * writing `schema`-shaped [[org.apache.spark.sql.catalyst.InternalRow]]s
    * to `path` under the calling task's attempt id. One writer per output
    * file; close() finalizes the footer.
    */
  final class TaskWriterFactory(
      factory: OutputWriterFactory,
      conf: Broadcast[SerializableConfiguration],
      val schema: StructType) extends Serializable {
    def open(path: String): OutputWriter = {
      val tc = TaskContext.get()
      val attempt = new TaskAttemptID(
        new TaskID(new JobID("graft", 0), TaskType.MAP, tc.partitionId()),
        (tc.taskAttemptId() % Int.MaxValue).toInt)
      factory.newInstance(path, schema, new TaskAttemptContextImpl(conf.value.value, attempt))
    }
  }

  /** Prepare a parquet writer factory for `schema` under the session's SQL
    * conf (driver-side; the result ships to tasks). Files declare every
    * column optional, as Spark's own parquet writes do.
    */
  def parquetWriterFactory(spark: SparkSession, schema: StructType): TaskWriterFactory = {
    val classic = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val job = Job.getInstance(classic.sessionState.newHadoopConf())
    val fileSchema = schema.asNullable
    val factory = new ParquetFileFormat().prepareWrite(classic, job, Map.empty, fileSchema)
    new TaskWriterFactory(factory,
      classic.sparkContext.broadcast(new SerializableConfiguration(job.getConfiguration)),
      fileSchema)
  }

  /** Add one finished file to the running task's output metrics — what
    * Spark's `BasicWriteTaskStatsTracker` reports for its own writes, so
    * listeners and the UI see the bytes and records a task wrote.
    */
  def reportOutput(bytes: Long, records: Long): Unit =
    Option(TaskContext.get()).foreach { tc =>
      val om = tc.taskMetrics().outputMetrics
      om.setBytesWritten(om.bytesWritten + bytes)
      om.setRecordsWritten(om.recordsWritten + records)
    }
}
