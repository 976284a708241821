package graft

import graft.changelog.Generator
import graft.model.{ChangeEvent, Model}
import graft.operators.MergeApplier
import graft.table.LakeTable

import java.nio.file.{Files, Path, Paths}
import java.sql.Timestamp

/** Task-direct bucket writes: a commit's manifest names exactly the files
  * the write tasks reported back, never whatever a listing of the attempt
  * directory finds. A retried task's leftover file is the case this guards
  * (a `local` session cannot produce one), so the spec plants its stand-in:
  * a valid parquet file holding a row that would WIN its key, dropped into
  * the attempt directory's `bucket=0/` after the tasks wrote and before the
  * manifest is built.
  */
class TaskWriteSpec extends SparkSpecBase {
  import Model.changeEventEncoder

  private val strayName = "part-00000-stray.parquet"

  private def finalState(table: LakeTable): Map[(String, Int), (String, Long)] =
    table.read(spark).collect()
      .map(r => (r.getAs[String]("conv_id"), r.getAs[Int]("turn_idx")) ->
        ((r.getAs[String]("text"), r.getAs[Long]("seq")))).toMap

  /** One parquet file of the table schema whose row outranks every event of
    * `key` (latest ts, largest seq): read back, it would change the state.
    */
  private def strayFile(key: ChangeEvent): Path = {
    val dir = tmpDir("stray")
    writeFlatParquet(spark.createDataset(Seq(key.copy(text = "stray",
      ts = Timestamp.valueOf("2099-01-01 00:00:00"), op = Model.OpInsert,
      seq = Long.MaxValue / 2))).toDF(), dir, strayName)
    Paths.get(dir, strayName)
  }

  /** Plant `stray` in the attempt directory of (writer, batch) from inside
    * the publish seam; returns where it landed.
    */
  private def plantDuring[T](table: LakeTable, writer: String, batch: Long,
      stray: Path)(apply: => T): Path = {
    var planted: Path = null
    MergeApplier.beforePublish = (w, b) => if (w == writer && b == batch) {
      val listing = Files.list(Paths.get(table.root, "data"))
      val attempt = try {
        import scala.jdk.CollectionConverters._
        listing.iterator().asScala
          .filter(_.getFileName.toString.matches(s"c\\d+-$writer-$batch-[0-9a-f]+")).toSeq
      } finally listing.close()
      assert(attempt.size == 1, s"one attempt dir expected: $attempt")
      val bucket0 = attempt.head.resolve("bucket=0")
      Files.createDirectories(bucket0)
      planted = Files.copy(stray, bucket0.resolve(strayName))
    }
    try apply finally MergeApplier.beforePublish = (_, _) => ()
    assert(planted != null, "the publish seam never ran")
    planted
  }

  private def checkOrphan(table: LakeTable, planted: Path,
      oracle: Map[(String, Int), (String, Long)]): Unit = {
    val referenced = table.allFiles(table.currentSnapshot().get)
    assert(referenced.nonEmpty)
    assert(!referenced.exists(_.endsWith(strayName)),
      s"the commit references a file no task reported: $referenced")
    assert(Files.exists(planted))
    assert(finalState(table) == oracle)
    table.vacuum(graceMs = 0L)
    assert(!Files.exists(planted), "vacuum must delete the unreferenced file")
    assert(finalState(table) == oracle)
  }

  private def events(seed: Long): Seq[ChangeEvent] =
    Generator.events(spark, 2000, numConvs = 10, turnsPerConv = 6, seed = seed)
      .as[ChangeEvent].collect().toSeq.sortBy(_.seq)

  private def oracleOf(es: Seq[ChangeEvent]) =
    Generator.oracleFold(es).map { case (k, e) => k -> ((e.text, e.seq)) }

  test("COW: the manifest comes from task results, not from a directory listing") {
    val all = events(31)
    val (first, second) = all.splitAt(all.size / 2)
    val table = new LakeTable(tmpDir("tw-cow"), numBuckets = 4)
    MergeApplier.applyBatch(spark, table, spark.createDataset(first).toDF(), "w", 0L)
    val planted = plantDuring(table, "w", 1L, strayFile(second.head)) {
      MergeApplier.applyBatch(spark, table, spark.createDataset(second).toDF(), "w", 1L)
    }
    checkOrphan(table, planted, oracleOf(all))
  }

  test("MOR: the delta manifest comes from task results, not from a directory listing") {
    val all = events(32)
    val (first, second) = all.splitAt(all.size / 2)
    val table = new LakeTable(tmpDir("tw-mor"), numBuckets = 4)
    MergeApplier.applyBatchMor(spark, table, spark.createDataset(first).toDF(), "w", 0L)
    val planted = plantDuring(table, "w", 1L, strayFile(second.head)) {
      MergeApplier.applyBatchMor(spark, table, spark.createDataset(second).toDF(), "w", 1L)
    }
    checkOrphan(table, planted, oracleOf(all))
  }
}
