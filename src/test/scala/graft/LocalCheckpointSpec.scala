package graft

import graft.changelog.Generator
import graft.model.{ChangeEvent, Model}
import graft.streaming.{CdcStream, LocalCheckpointFileManager}
import graft.table.LakeTable
import org.apache.hadoop.fs.{FileAlreadyExistsException, FileSystem, Path}
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileContextBasedCheckpointFileManager}

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** The checkpoint manager's contract with Structured Streaming's logs: an
  * existing log entry is never replaced by a non-overwriting commit (that
  * exception is how `HDFSMetadataLog` detects a concurrent writer), a
  * cancelled write leaves nothing behind, an overwriting commit replaces the
  * file even over a `.crc` sidecar Spark's own manager left, every committed
  * file carries the sidecar Spark's manager would have written, and a
  * caller's choice of manager always wins.
  */
class LocalCheckpointSpec extends SparkSpecBase {
  import Model.changeEventEncoder

  private val sparkManager = classOf[FileContextBasedCheckpointFileManager].getName

  private def manager(dir: String): CheckpointFileManager =
    new LocalCheckpointFileManager(new Path(dir), spark.sparkContext.hadoopConfiguration)

  private def put(fm: CheckpointFileManager, p: Path, body: String,
      overwrite: Boolean): Unit = {
    val out = fm.createAtomic(p, overwrite)
    out.write(body.getBytes(UTF_8))
    out.close()
  }

  private def get(fm: CheckpointFileManager, p: Path): String = {
    val in = fm.open(p)
    try new String(in.readAllBytes(), UTF_8) finally in.close()
  }

  private def names(dir: String): Set[String] = {
    val s = Files.list(Paths.get(dir))
    try s.iterator().asScala.map(_.getFileName.toString).toSet finally s.close()
  }

  /** Run `f` with the session's checkpoint manager set to `cls` (None:
    * unset), restoring the previous value afterwards.
    */
  private def withManager[T](cls: Option[String])(f: => T): T = {
    val key = LocalCheckpointFileManager.ConfKey
    val old = spark.conf.getOption(key)
    cls.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    try f finally old.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("a non-overwriting commit onto an existing file fails and leaves it byte-identical") {
    val dir = tmpDir("lcm-exists")
    val fm = manager(dir)
    val p = new Path(dir, "0")
    put(fm, p, "first", overwrite = false)
    intercept[FileAlreadyExistsException](put(fm, p, "second entry", overwrite = false))
    assert(get(fm, p) == "first")
    assert(names(dir) == Set("0", ".0.crc"), "no temp file or its sidecar may remain")
  }

  test("cancel leaves no temp file behind") {
    val dir = tmpDir("lcm-cancel")
    val fm = manager(dir)
    val out = fm.createAtomic(new Path(dir, "1"), false)
    out.write("partial".getBytes(UTF_8))
    out.cancel()
    assert(names(dir).isEmpty)
  }

  test("an overwriting commit replaces the file, over a sidecar Spark's manager wrote") {
    val dir = tmpDir("lcm-overwrite")
    val p = new Path(dir, "2.delta")
    put(new FileContextBasedCheckpointFileManager(new Path(dir),
      spark.sparkContext.hadoopConfiguration), p, "old", overwrite = false)
    assert(names(dir) == Set("2.delta", ".2.delta.crc"))
    val fm = manager(dir)
    put(fm, p, "the new, longer body", overwrite = true)
    assert(get(fm, p) == "the new, longer body")
    // Hadoop's checksummed local FS checks the new bytes against the
    // sidecar: a stale one would fail with a ChecksumException
    val in = FileSystem.getLocal(spark.sparkContext.hadoopConfiguration).open(p)
    try assert(new String(in.readAllBytes(), UTF_8) == "the new, longer body") finally in.close()
    assert(names(dir) == Set("2.delta", ".2.delta.crc"))
  }

  test("sidecars are byte-identical to the ones Spark's manager writes") {
    val body = (0 until 1500).map(i => ('a' + i % 26).toChar).mkString
    for (len <- Seq(0, 1, 511, 512, 513, 1500)) {
      val (ours, theirs) = (tmpDir("lcm-sum-ours"), tmpDir("lcm-sum-spark"))
      put(manager(ours), new Path(ours, "7"), body.take(len), overwrite = false)
      put(new FileContextBasedCheckpointFileManager(new Path(theirs),
        spark.sparkContext.hadoopConfiguration), new Path(theirs, "7"), body.take(len),
        overwrite = false)
      assert(Files.readAllBytes(Paths.get(ours, ".7.crc")).toSeq ==
        Files.readAllBytes(Paths.get(theirs, ".7.crc")).toSeq, s"length $len")
    }
  }

  test("a checkpoint manager the caller set survives CdcStream.start") {
    val dir = tmpDir("lcm-keep-src")
    Generator.writeChangelog(spark, dir, 400, numConvs = 5, turnsPerConv = 4,
      numFiles = 2, seed = 7)
    val ckpt = tmpDir("lcm-keep-ckpt")
    withManager(Some(sparkManager)) {
      CdcStream.runAvailableNow(spark, dir, new LakeTable(tmpDir("lcm-keep-table"), 4),
        ckpt, maxFilesPerTrigger = 1)
      assert(spark.conf.get(LocalCheckpointFileManager.ConfKey) == sparkManager)
    }
    assert(names(s"$ckpt/offsets").contains("0"))
  }

  test("install leaves a manager named in the SparkContext's Hadoop conf in place") {
    val key = LocalCheckpointFileManager.ConfKey
    val hadoopConf = spark.sparkContext.hadoopConfiguration
    withManager(None) {
      hadoopConf.set(key, sparkManager)
      try {
        LocalCheckpointFileManager.install(spark)
        assert(spark.conf.getOption(key).isEmpty)
      } finally hadoopConf.unset(key)
    }
  }

  test("mixed-manager resume: a checkpoint begun by Spark's manager resumes under the engine's") {
    val srcDir = tmpDir("lcm-mixed-src")
    val stash = tmpDir("lcm-mixed-stash")
    Generator.writeChangelog(spark, stash, 3000, numConvs = 15, turnsPerConv = 5,
      numFiles = 8, seed = 83)
    val chunks = names(stash).filter(_.endsWith(".parquet")).toSeq.sorted
    def land(ns: Seq[String]): Unit =
      ns.foreach(n => Files.copy(Paths.get(stash, n), Paths.get(srcDir, n)))
    val table = new LakeTable(tmpDir("lcm-mixed-table"), numBuckets = 4)
    val ckpt = tmpDir("lcm-mixed-ckpt")

    land(chunks.take(4))
    withManager(Some(sparkManager)) {
      CdcStream.runAvailableNow(spark, srcDir, table, ckpt, maxFilesPerTrigger = 1)
    }
    assert(names(s"$ckpt/commits").exists(_.endsWith(".crc")))

    land(chunks.drop(4))
    withManager(None) {
      CdcStream.runAvailableNow(spark, srcDir, table, ckpt, maxFilesPerTrigger = 1)
      assert(spark.conf.get(LocalCheckpointFileManager.ConfKey) ==
        classOf[LocalCheckpointFileManager].getName)
    }

    val all = Generator.events(spark, 3000, 15, 5, seed = 83).as[ChangeEvent].collect().toSeq
    val oracle = Generator.oracleFold(all).map { case (k, e) => k -> ((e.text, e.seq)) }
    val state = table.read(spark).collect()
      .map(r => (r.getAs[String]("conv_id"), r.getAs[Int]("turn_idx")) ->
        ((r.getAs[String]("text"), r.getAs[Long]("seq")))).toMap
    assert(state == oracle)
    // the ledger advanced by exactly one batch per commit, over all 8 batches
    val ledger = table.versions().flatMap(table.snapshotAt).flatMap(_.committed.get("stream"))
    assert(ledger == (0L until chunks.size.toLong), s"ledger: $ledger")
  }
}
