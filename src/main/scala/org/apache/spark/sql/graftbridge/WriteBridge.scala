package org.apache.spark.sql.graftbridge

import graft.table.ChecksummedFile
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.mapreduce.Job
import org.apache.parquet.column.ParquetProperties
import org.apache.parquet.hadoop.{ParquetOutputFormat, ParquetWriter}
import org.apache.parquet.hadoop.api.WriteSupport
import org.apache.parquet.io.{OutputFile, PositionOutputStream}
import org.apache.spark.TaskContext
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetWriteSupport}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.SerializableConfiguration

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

/** Executor-side parquet writing over `private[sql]` machinery — the write
  * twin of [[ScanBridge]].
  *
  * Every bucket-local write of the engine (COW merge, MOR delta, cold-start
  * replay, compaction, rebucket, the DSv2 sink and row-level writes) runs
  * as tasks that emit their bucket's parquet file directly: no DataFrame
  * writer, no output committer, no driver-side listing. The files are
  * Spark's: `ParquetFileFormat.prepareWrite` fills the job conf (codec,
  * schema, timestamp/decimal encodings, datetime rebase flags) and Spark's
  * own [[ParquetWriteSupport]] converts the rows, so the read path cannot
  * tell who wrote a file; the job conf's `parquet.*` writer settings apply
  * as they do there (all but two page-size heuristics, see `configured`).
  * Only the output stream differs: a [[ChecksummedFile]] over java.nio
  * instead of Hadoop's local file system, which — without the native
  * `libhadoop` — starts a `chmod` process for every directory, file and
  * `.crc` sidecar it creates (three process starts per bucket file). The
  * sidecar itself is still written, in Hadoop's format, so Spark's
  * checksummed reads of a bucket file verify it as before. The table is a local POSIX directory (commits are `link(2)`
  * CAS), so nothing else is lost. The job's Hadoop conf rides as a broadcast
  * (as `ParquetFileFormat.buildReader` ships it on the scan side): embedding
  * it would make every task deserialize the whole Configuration again.
  */
object WriteBridge {

  private final class Builder(file: OutputFile)
      extends ParquetWriter.Builder[InternalRow, Builder](file) {
    override protected def self(): Builder = this
    override protected def getWriteSupport(conf: Configuration): WriteSupport[InternalRow] =
      new ParquetWriteSupport
  }

  /** The session settings [[ParquetWriteSupport]] reads through
    * `SQLConf.get` rather than the job conf (datetime rebase modes, and the
    * time zone a LEGACY file records). A task outside a SQL execution sees
    * only defaults there, so the handle carries the session's values.
    */
  private val TaskSqlConfs = Seq(SQLConf.PARQUET_REBASE_MODE_IN_WRITE,
    SQLConf.PARQUET_INT96_REBASE_MODE_IN_WRITE, SQLConf.SESSION_LOCAL_TIMEZONE)

  /** Serializable per-task handle: `open(path)` returns a parquet writer of
    * `schema`-shaped [[InternalRow]]s to the local file `path`, creating its
    * directory. One writer per output file; close() finalizes the footer.
    */
  final class TaskWriterFactory(
      conf: Broadcast[SerializableConfiguration],
      sqlConfs: Map[String, String],
      val schema: StructType) extends Serializable {
    @transient private lazy val sqlConf = {
      val c = new SQLConf
      sqlConfs.foreach { case (k, v) => c.setConfString(k, v) }
      c
    }

    def open(path: Path): ParquetWriter[InternalRow] = {
      val c = conf.value.value
      Files.createDirectories(path.getParent)
      SQLConf.withExistingConf(sqlConf) {
        configured(new Builder(new LocalFile(path)).withConf(c), c).build()
      }
    }
  }

  /** Parquet's view of a [[ChecksummedFile]]: the file plus the `.crc`
    * sidecar Hadoop's checksummed reads verify.
    */
  private final class LocalFile(path: Path) extends OutputFile {
    override def create(blockSizeHint: Long): PositionOutputStream = ChecksummedFile.create(path)
    override def createOrOverwrite(blockSizeHint: Long): PositionOutputStream = {
      Files.deleteIfExists(path)
      ChecksummedFile.create(path)
    }
    override def supportsBlockSize(): Boolean = false
    override def defaultBlockSize(): Long = 0L
    override def getPath: String = path.toString
  }

  /** Apply to `b` every writer setting `ParquetOutputFormat.getRecordWriter`
    * — the path `df.write.parquet` takes — reads from a job conf, per-column
    * `<key>#<column>` settings included, so a `spark.hadoop.parquet.*`
    * setting shapes bucket files as it shapes Spark's. Two page-size-check
    * heuristics have no builder setter and keep parquet's defaults
    * (`parquet.page.size.check.estimate`, `parquet.page.value.count.threshold`);
    * the JVM-wide memory manager that shrinks row groups when many writers
    * are open is left out too, so each open writer may buffer a full row
    * group (fold tasks hold one writer; a row-level write task one per
    * bucket it touches).
    */
  private def configured(b: Builder, c: Configuration): Builder = {
    import ParquetOutputFormat._
    import ParquetProperties._
    b.withCompressionCodec(getCompression(c))
      .withRowGroupSize(getLongBlockSize(c))
      .withMaxPaddingSize(c.getInt(MAX_PADDING_BYTES, ParquetWriter.MAX_PADDING_SIZE_DEFAULT))
      .withValidation(getValidation(c))
      .withPageSize(getPageSize(c))
      .withDictionaryPageSize(getDictionaryPageSize(c))
      .withDictionaryEncoding(getEnableDictionary(c))
      .withWriterVersion(getWriterVersion(c))
      .withMinRowCountForPageSizeCheck(getMinRowCountForPageSizeCheck(c))
      .withMaxRowCountForPageSizeCheck(getMaxRowCountForPageSizeCheck(c))
      .withColumnIndexTruncateLength(
        c.getInt(COLUMN_INDEX_TRUNCATE_LENGTH, DEFAULT_COLUMN_INDEX_TRUNCATE_LENGTH))
      .withStatisticsTruncateLength(
        c.getInt(STATISTICS_TRUNCATE_LENGTH, DEFAULT_STATISTICS_TRUNCATE_LENGTH))
      .withMaxBloomFilterBytes(getBloomFilterMaxBytes(c))
      .withBloomFilterEnabled(getBloomFilterEnabled(c))
      .withAdaptiveBloomFilterEnabled(getAdaptiveBloomFilterEnabled(c))
      .withRowGroupRowCountLimit(c.getInt(BLOCK_ROW_COUNT_LIMIT, DEFAULT_ROW_GROUP_ROW_COUNT_LIMIT))
      .withPageRowCountLimit(c.getInt(PAGE_ROW_COUNT_LIMIT, DEFAULT_PAGE_ROW_COUNT_LIMIT))
      .withPageWriteChecksumEnabled(getPageWriteChecksumEnabled(c))
      .withStatisticsEnabled(getStatisticsEnabled(c))
    c.iterator().asScala.map(_.getKey).foreach { key =>
      val i = key.indexOf('#')
      if (i > 0) {
        val col = key.substring(i + 1)
        key.substring(0, i) match {
          case ENABLE_DICTIONARY => b.withDictionaryEncoding(col, c.getBoolean(key, false))
          case BLOOM_FILTER_ENABLED => b.withBloomFilterEnabled(col, c.getBoolean(key, false))
          case BLOOM_FILTER_EXPECTED_NDV => b.withBloomFilterNDV(col, c.getLong(key, -1L))
          case BLOOM_FILTER_FPP =>
            b.withBloomFilterFPP(col, c.getDouble(key, DEFAULT_BLOOM_FILTER_FPP))
          case BLOOM_FILTER_CANDIDATES_NUMBER => b.withBloomFilterCandidateNumber(col,
            c.getInt(key, DEFAULT_BLOOM_FILTER_CANDIDATES_NUMBER))
          case STATISTICS_ENABLED => b.withStatisticsEnabled(col, c.getBoolean(key, true))
          case _ =>
        }
      }
    }
    b
  }

  /** Prepare parquet writes of `schema` under the session's SQL conf
    * (driver-side; the result ships to tasks). Files declare every column
    * optional; Spark's own parquet writes keep non-nullable columns
    * required, and readers accept either.
    */
  def parquetWriterFactory(spark: SparkSession, schema: StructType): TaskWriterFactory = {
    val classic = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val job = Job.getInstance(classic.sessionState.newHadoopConf())
    val fileSchema = schema.asNullable
    new ParquetFileFormat().prepareWrite(classic, job, Map.empty, fileSchema)
    val sqlConf = classic.sessionState.conf
    new TaskWriterFactory(
      classic.sparkContext.broadcast(new SerializableConfiguration(job.getConfiguration)),
      TaskSqlConfs.map(e => e.key -> sqlConf.getConf(e).toString).toMap,
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
