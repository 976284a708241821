package graft.table

import graft.model.Model
import org.apache.parquet.hadoop.ParquetWriter
import org.apache.spark.TaskContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.graftbridge.WriteBridge
import org.apache.spark.sql.types.StructType
import org.apache.spark.unsafe.types.UTF8String

import java.nio.file.{Files, Path, Paths}

/** One data file a task wrote: bucket, path, byte size, row and tombstone
  * counts, and the written rows' [[FileStats]]. Commits build their manifest
  * and per-bucket row lineage from these task results — never from a
  * listing of the attempt directory — so a file a failed or retried task
  * left behind is never referenced; vacuum sweeps it as an orphan.
  */
final case class BucketFile(bucket: Int, path: String, bytes: Long, rows: Long,
    tombstones: Long, stats: Option[FileStats])

object BucketFile {
  /** Manifest file lists: per bucket, path-ordered. */
  def entries(files: Seq[BucketFile]): Map[Int, Seq[FileEntry]] =
    files.groupBy(_.bucket).map { case (b, fs) =>
      b -> fs.sortBy(_.path).map(f => FileEntry(f.path, f.bytes, f.stats))
    }

  def rows(files: Seq[BucketFile]): Map[Int, Long] =
    files.groupBy(_.bucket).map { case (b, fs) => b -> fs.map(_.rows).sum }
}

/** Write-side stats of one data file, observed as its rows stream into the
  * writer: row and tombstone counts, conv_id / turn_idx bounds, the conv
  * bloom, the opt-in token bloom over whitespace-split `text`, and `ts`
  * bounds (null ts excluded — sound, a null ts satisfies no ts predicate).
  * Observed rows may live in reused buffers, so held extrema are cloned on
  * update (rare after the first rows); the blooms hash the bytes in place.
  */
final class FileStatsTracker(schema: StructType, textIndex: Boolean) {
  private val convI = schema.fieldIndex("conv_id")
  private val turnI = schema.fieldIndex("turn_idx")
  private val tsI = schema.fieldIndex("ts")
  private val opI = schema.fieldIndex("op")
  private val textI = if (textIndex) schema.fieldIndex("text") else -1
  private val deleteOp = UTF8String.fromString(Model.OpDelete)
  var rows = 0L
  var tombstones = 0L
  private var minConv: UTF8String = null
  private var maxConv: UTF8String = null
  private var minTurn = Int.MaxValue
  private var maxTurn = Int.MinValue
  private var minTs = Long.MaxValue
  private var maxTs = Long.MinValue
  private val convBloom = ConvBloom.empty()
  private val tokBloom = if (textIndex) ConvBloom.empty() else null

  def observe(r: InternalRow): Unit = {
    rows += 1
    if (!r.isNullAt(opI) && r.getUTF8String(opI).equals(deleteOp)) tombstones += 1
    val c = r.getUTF8String(convI)
    if (minConv == null || c.compareTo(minConv) < 0) minConv = c.clone()
    if (maxConv == null || c.compareTo(maxConv) > 0) maxConv = c.clone()
    ConvBloom.add(convBloom, c)
    val t = r.getInt(turnI)
    if (t < minTurn) minTurn = t
    if (t > maxTurn) maxTurn = t
    if (!r.isNullAt(tsI)) {
      val ts = r.getLong(tsI)
      if (ts < minTs) minTs = ts
      if (ts > maxTs) maxTs = ts
    }
    if (textIndex && !r.isNullAt(textI)) {
      r.getUTF8String(textI).toString.split("\\s+").foreach { tok =>
        if (tok.nonEmpty) ConvBloom.add(tokBloom, UTF8String.fromString(tok))
      }
    }
  }

  def stats: Option[FileStats] =
    if (rows == 0) None
    else Some(FileStats(minConv.toString, maxConv.toString, minTurn, maxTurn,
      ConvBloom.seal(convBloom),
      if (textIndex) ConvBloom.seal(tokBloom) else None,
      if (minTs == Long.MaxValue) None else Some(minTs),
      if (maxTs == Long.MinValue) None else Some(maxTs)))
}

/** Task-direct bucket writes — the one write path of every bucket-local
  * pass. A task opens its bucket's parquet file under `dir/bucket=<b>/`
  * through [[WriteBridge]], streams rows into it while a
  * [[FileStatsTracker]] observes them, and hands back a [[BucketFile]].
  * File names carry the partition and the task attempt, so a retried or
  * speculative attempt never collides with a file an earlier one left.
  * Directory, file and its `.crc` sidecar are created through java.nio
  * ([[ChecksummedFile]]), not Hadoop's local file system: without the native
  * `libhadoop` that one forks a `chmod` process for each of the three.
  */
final class BucketWriter(writers: WriteBridge.TaskWriterFactory, dir: String,
    textIndex: Boolean = false) extends Serializable {

  def open(bucket: Int): BucketWriter.OpenFile = {
    val tc = TaskContext.get()
    val path = Paths.get(
      f"$dir/bucket=$bucket/part-$bucket%05d-p${tc.partitionId()}-t${tc.taskAttemptId()}.parquet")
    new BucketWriter.OpenFile(bucket, path, writers.open(path),
      new FileStatsTracker(writers.schema, textIndex))
  }

  /** Stream `rows` into bucket `bucket`'s file, opened on the first row: an
    * empty partition writes no file.
    */
  def write(bucket: Int, rows: Iterator[InternalRow]): Option[BucketFile] =
    if (!rows.hasNext) None
    else {
      val f = open(bucket)
      try {
        while (rows.hasNext) f.write(rows.next())
        Some(f.close())
      } catch { case e: Throwable => f.abort(); throw e }
    }
}

object BucketWriter {

  final class OpenFile(bucket: Int, path: Path, w: ParquetWriter[InternalRow],
      tracker: FileStatsTracker) {
    def write(r: InternalRow): Unit = { tracker.observe(r); w.write(r) }

    def close(): BucketFile = {
      w.close()
      val bytes = Files.size(path)
      WriteBridge.reportOutput(bytes, tracker.rows)
      BucketFile(bucket, path.toString, bytes, tracker.rows, tracker.tombstones, tracker.stats)
    }

    /** Best effort: a file that survives is an unreferenced orphan. */
    def abort(): Unit = {
      try w.close() catch { case _: Exception => () }
      Seq(path, ChecksummedFile.sidecar(path)).foreach { p =>
        try Files.deleteIfExists(p) catch { case _: Exception => () }
      }
    }
  }

  def apply(spark: SparkSession, schema: StructType, dir: Path,
      textIndex: Boolean = false): BucketWriter =
    new BucketWriter(WriteBridge.parquetWriterFactory(spark, schema), dir.toString, textIndex)

  /** Write a bucket-aligned RDD (partition i holds exactly bucket i's rows)
    * in ONE job: task i writes bucket i's file; the driver gets the files
    * back through `collect()`.
    */
  def writeAligned(spark: SparkSession, rdd: RDD[InternalRow], schema: StructType,
      dir: Path, textIndex: Boolean = false): Seq[BucketFile] = {
    val w = BucketWriter(spark, schema, dir, textIndex)
    rdd.mapPartitions(rows => w.write(TaskContext.getPartitionId(), rows).iterator)
      .collect().toSeq
  }
}
