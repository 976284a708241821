package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The correctness gate of the CDC workloads: the table's final state must
  * equal an independent last-write-wins fold of every event the workload
  * published. The fold is plain Spark SQL over the raw parquet files; it
  * uses no engine code.
  */
object Oracle {

  def fold(spark: SparkSession, files: Seq[String]): DataFrame = {
    spark.read.parquet(files: _*).createOrReplaceTempView("perfbench_events")
    spark.sql(
      """SELECT * FROM (
        |  SELECT *, row_number() OVER (
        |    PARTITION BY conv_id, turn_idx ORDER BY ts DESC, seq DESC) AS rn
        |  FROM perfbench_events)
        |WHERE rn = 1 AND op <> 'delete'""".stripMargin)
      .drop("rn", "op")
  }

  /** Row count and an order-insensitive hash over the named columns. */
  def digest(df: DataFrame, cols: Seq[String]): (Long, BigDecimal) = {
    val r = df.select(cols.map(col): _*)
      .agg(count(lit(1)), sum(xxhash64(cols.map(col): _*).cast("decimal(38,0)")))
      .head()
    (r.getLong(0), Option(r.getDecimal(1)).map(BigDecimal(_)).getOrElse(BigDecimal(0)))
  }

  /** None when `actual` equals the fold of `files`, else what differs. */
  def compare(spark: SparkSession, actual: DataFrame, files: Seq[String]): Option[String] = {
    val expected = fold(spark, files)
    val cols = expected.columns.toSeq.intersect(actual.columns.toSeq).sorted
    val (en, eh) = digest(expected, cols)
    val (an, ah) = digest(actual, cols)
    if (en == an && eh == ah) None
    else Some(s"table has $an rows (hash $ah), the fold of ${files.size} files has $en rows (hash $eh)")
  }

  /** None when the writer's ledger advanced by exactly one batch at each of
    * its apply commits, ending at `lastBatch`; else the first violation.
    * `ledger` is the writer's committed batch id per apply commit, in
    * version order.
    */
  def ledgerOnce(ledger: Seq[Long], firstBatch: Long, lastBatch: Long): Option[String] = {
    val expected = (firstBatch to lastBatch).toSeq
    if (ledger == expected) None
    else Some(s"ledger ${ledger.take(12).mkString(",")}… is not exactly once over batches $firstBatch..$lastBatch")
  }
}
