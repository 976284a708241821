package graft

import graft.changelog.Generator
import graft.operators.MergeApplier
import graft.streaming.CdcStream
import graft.table.{BucketWriter, ChecksummedFile, LakeTable}
import org.apache.hadoop.fs.{ChecksumException, FileSystem, Path => HPath}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopInputFile

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** The table's bucket files and the tail's checkpoint logs are written
  * through java.nio, not Hadoop's local file system — yet each still carries
  * the `.crc` sidecar Hadoop's checksummed reads verify, and the parquet
  * files are still exactly what Spark writes.
  */
class LocalWriteSpec extends SparkSpecBase {

  private def filesUnder(root: String): Seq[Path] = {
    val s = Files.walk(Paths.get(root))
    try s.iterator().asScala.filter(Files.isRegularFile(_)).toList
    finally s.close()
  }

  private def readChecked(p: Path): Array[Byte] = {
    val in = FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
      .open(new HPath(p.toUri))
    try in.readAllBytes() finally in.close()
  }

  private def flipByte(p: Path, at: Int): Unit = {
    val bytes = Files.readAllBytes(p)
    bytes(at) = (bytes(at) ^ 0x5a).toByte
    Files.write(p, bytes)
  }

  test("tails, auto-compaction, rebucket and vacuum: every file's sidecar verifies; a flipped byte fails the read") {
    val src = tmpDir("crc-src")
    Generator.writeChangelog(spark, src, 2000, numConvs = 12, turnsPerConv = 5,
      numFiles = 6, seed = 19)
    val table = new LakeTable(tmpDir("crc-table"), numBuckets = 4)
    val cowCkpt = tmpDir("crc-ckpt-cow")
    val morCkpt = tmpDir("crc-ckpt-mor")
    CdcStream.runAvailableNow(spark, src, table, cowCkpt, writerId = "cow",
      maxFilesPerTrigger = 2)
    CdcStream.runAvailableNow(spark, src, table, morCkpt, writerId = "mor",
      maxFilesPerTrigger = 1, mode = "mor", autoCompactEvery = 2)
    val resized = MergeApplier.rebucket(spark, table, 8)
    resized.vacuum(graceMs = 0L)

    val (sums, files) = Seq(table.root, cowCkpt, morCkpt).flatMap(filesUnder)
      .partition(ChecksummedFile.checkedBy(_).isDefined)
    val checked = files.filter(f => f.toString.endsWith(".parquet") ||
      !f.startsWith(Paths.get(table.root)))
    assert(checked.exists(_.toString.endsWith(".parquet")) &&
      checked.exists(_.toString.contains("offsets")))
    // every data and log file has a sidecar, and no sidecar outlives its file
    val unchecked = checked.filterNot(f => Files.exists(ChecksummedFile.sidecar(f)))
    assert(unchecked.isEmpty, s"no sidecar: ${unchecked.take(5)}")
    val orphans = sums.filterNot(s => Files.exists(ChecksummedFile.checkedBy(s).get))
    assert(orphans.isEmpty, s"orphan sidecars: ${orphans.take(5)}")
    // Hadoop's checksummed local FS reads them all (a wrong sidecar fails)
    checked.foreach(readChecked)
    assert(resized.read(spark).count() > 0)

    // a corrupt bucket file fails Spark's scan, and a corrupt log entry a
    // checksummed read (Spark's own FileContext-based log reads do not check
    // sidecars on this Hadoop, under either manager)
    checked.filter(_.toString.endsWith(".parquet")).foreach(flipByte(_, 8))
    val scan = intercept[Exception](resized.read(spark).collect())
    assert(Iterator.iterate[Throwable](scan)(_.getCause).takeWhile(_ != null)
      .exists(_.isInstanceOf[ChecksumException]), scan)
    val offset = Paths.get(cowCkpt, "offsets", "0")
    flipByte(offset, 3)
    intercept[ChecksumException](readChecked(offset))
  }

  private def footer(file: String): ParquetMetadata = {
    val r = ParquetFileReader.open(
      HadoopInputFile.fromPath(new HPath(file), spark.sparkContext.hadoopConfiguration))
    try r.getFooter finally r.close()
  }

  /** Write the same rows through a [[BucketWriter]] and `df.write.parquet`
    * under the session settings `confs`, and compare the two files.
    */
  private def parity(confs: (String, String)*): ParquetMetadata = {
    val old = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val df = Generator.events(spark, 300, numConvs = 6, turnsPerConv = 4, seed = 3)
        .coalesce(1)
      val ours = BucketWriter.writeAligned(spark, df.queryExecution.toRdd, df.schema,
        Paths.get(tmpDir("parity-bucket"))).map(_.path)
      assert(ours.size == 1)
      val sparkDir = tmpDir("parity-spark")
      writeFlatParquet(df, sparkDir, "spark.parquet")
      val theirs = s"$sparkDir/spark.parquet"

      val (a, b) = (footer(ours.head), footer(theirs))
      // per column: codec, dictionary encoding and whether a bloom filter
      // was written (level encodings differ: these files declare every
      // column optional, Spark keeps non-nullable ones required)
      def columns(m: ParquetMetadata) =
        m.getBlocks.asScala.flatMap(_.getColumns.asScala.map(c => c.getPath.toDotString ->
          ((c.getCodec, c.getEncodings.asScala.exists(_.usesDictionary),
            c.getBloomFilterOffset >= 0)))).toSet
      assert(columns(a) == columns(b))
      val keys = a.getFileMetaData.getKeyValueMetaData.keySet.asScala.toSet
      assert(keys == b.getFileMetaData.getKeyValueMetaData.keySet.asScala.toSet)
      assert(Set("org.apache.spark.version",
        "org.apache.spark.sql.parquet.row.metadata").subsetOf(keys))
      assert(keys("org.apache.spark.legacyDateTime") ==
        confs.contains("spark.sql.parquet.datetimeRebaseModeInWrite" -> "LEGACY"))

      val cols = df.columns.toSeq
      def rows(f: String) = spark.read.parquet(f).select(cols.head, cols.tail: _*)
        .collect().map(_.toSeq).sortBy(_.mkString("\u0001")).toSeq
      assert(rows(ours.head) == rows(theirs))
      a
    } finally old.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  test("parquet parity: a bucket file matches df.write.parquet's codecs, dictionaries, footer keys and contents") {
    parity("spark.sql.parquet.datetimeRebaseModeInWrite" -> "CORRECTED")
    parity("spark.sql.parquet.datetimeRebaseModeInWrite" -> "LEGACY")
  }

  test("parquet parity holds for non-default parquet.* writer settings, per column too") {
    // (parquet writes no bloom filter for a fully dictionary-encoded chunk)
    val m = parity("parquet.bloom.filter.enabled#text" -> "true",
      "parquet.enable.dictionary#text" -> "false")
    val byName = m.getBlocks.asScala.head.getColumns.asScala
      .map(c => c.getPath.toDotString -> c).toMap
    assert(byName("text").getBloomFilterOffset >= 0)
    assert(!byName("text").getEncodings.asScala.exists(_.usesDictionary))
    assert(byName("conv_id").getBloomFilterOffset < 0)
    assert(byName("conv_id").getEncodings.asScala.exists(_.usesDictionary))
  }
}
