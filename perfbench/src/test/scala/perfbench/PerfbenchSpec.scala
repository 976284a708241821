package perfbench

import graft.changelog.Generator
import graft.operators.MergeApplier
import graft.table.LakeTable
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Path}

/** The benchmark's own checks, at tiny input sizes. */
class PerfbenchSpec extends AnyFunSuite with BeforeAndAfterAll {
  private var spark: SparkSession = _
  private var dir: Path = _

  override def beforeAll(): Unit = {
    dir = Files.createTempDirectory("perfbench-spec-")
    spark = SparkSession.builder().master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = {
    spark.stop()
    org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  private def conf(workload: String, trace: Boolean, seconds: Int = 2) = Conf(
    workload, seed = 7L, seconds = seconds, trace = trace,
    root = dir.resolve(s"$workload-$trace").toString, repo = "..",
    data = "data/sf0.001", spans = dir.resolve("spans.json").toString, sizes = Sizes.tiny)

  private def runTiny(workload: String, trace: Boolean): (Report, Tracer) = {
    val t = new Tracer(workload)
    (Main.run(conf(workload, trace), spark, t), t)
  }

  private def assertNested(spans: Seq[Span]): Unit = {
    val byId = spans.map(s => s.id -> s).toMap
    // spans derived from millisecond metrics may overhang their parent by
    // the metrics' rounding
    val slackMs = 5L
    spans.filter(s => !s.open && s.parent != 0L).foreach { s =>
      val p = byId.getOrElse(s.parent, fail(s"span ${s.name} has no parent ${s.parent}"))
      assert(!p.open, s"${s.name} sits in an open span")
      assert(s.start >= p.start - slackMs && s.end <= p.end + slackMs,
        s"${s.name} [${s.start}, ${s.end}] is outside ${p.name} [${p.start}, ${p.end}]")
    }
    val self = Trace.selfTimes(spans)
    assert(self.values.forall(_ >= 0L))
  }

  for ((workload, trace) <- Seq("replay" -> false, "replay" -> true,
      "tail_cow" -> true, "tail_mor_reads" -> true, "tail_mor_reads" -> false,
      "query_sweep" -> true)) {
    test(s"$workload trace=$trace: passes its gates and prints every metric with its unit") {
      val (report, tracer) = runTiny(workload, trace)
      assert(report.correct, report.problems.mkString("; "))
      assert(report.failed == 0L)
      val (human, json) = report.lines(trace)
      val names = if (trace) Catalogue.perLayer else Catalogue.endToEnd
      names.foreach { case (n, u) =>
        assert(human.exists(l => l.startsWith(s"metric $n ") && l.contains(s" $u ")), n)
        assert(json.contains(s""""$n": {"value": """) && json.contains(s""""unit": "$u"}"""), n)
      }
      assert(json.startsWith("""{"correct": true, "attempted": """))
      if (!trace) Catalogue.endToEnd.foreach { case (n, _) =>
        assert(report.values(n)._1 > 0.0, s"$n must never be 0")
      }
      if (trace) assertNested(tracer.all)
    }
  }

  test("withholding one tail chunk makes the oracle gate fail") {
    val gen = dir.resolve("withheld")
    Generator.writeChangelog(spark, gen.toString, 2000L, 20, 25, numFiles = 4, seed = 3L)
    val files = Files.list(gen).toArray.map(_.toString).filter(_.endsWith(".parquet")).sorted.toSeq
    val table = LakeTable.open(gen.resolve("table").toString, 4)
    MergeApplier.replayFull(spark, table, spark.read.parquet(files: _*))
    assert(Oracle.compare(spark, table.read(spark), files).isEmpty)
    assert(Oracle.compare(spark, table.read(spark), files.dropRight(1)).nonEmpty)
  }

  test("the ledger gate rejects a batch applied twice or skipped") {
    assert(Oracle.ledgerOnce(Seq(0L, 1L, 2L), 0L, 2L).isEmpty)
    assert(Oracle.ledgerOnce(Seq(0L, 1L, 1L, 2L), 0L, 2L).nonEmpty)
    assert(Oracle.ledgerOnce(Seq(0L, 2L), 0L, 2L).nonEmpty)
  }

  test("a job with no end event is an open span, never a negative duration") {
    val l = new JobListener
    l.jobStarted(1, "g", time = 1000L)
    l.jobStarted(2, "g", time = 1100L)
    l.onJobEnd(org.apache.spark.scheduler.SparkListenerJobEnd(2, 1300L,
      org.apache.spark.scheduler.JobSucceeded))
    val t = new Tracer("t")
    val root = t.record(0L, "call", "operators", 900L, 1500L)
    val spans = l.emit(t, root.id, "operators", l.allJobs)
    val open = spans.find(_.name == "job 1").get
    assert(open.open && open.durMs == 0L)
    assert(spans.find(_.name == "job 2").get.durMs == 200L)
    val self = Trace.selfTimes(t.all)
    assert(self(root.id) == 400L) // only the closed job is subtracted
    assert(!self.contains(open.id))
  }

  test("self times subtract overlapping children once and are never negative") {
    val t = new Tracer("t")
    val p = t.record(0L, "p", "streaming", 0L, 100L)
    t.record(p.id, "a", "operators", 10L, 60L)
    t.record(p.id, "b", "operators", 40L, 80L)
    t.record(p.id, "c", "operators", 90L, 130L) // overhangs the parent
    val self = Trace.selfTimes(t.all)
    assert(self(p.id) == 100L - 70L - 10L)
    assert(Trace.layerSelf(t.all, p.id) == Map("operators" -> (50L + 40L + 40L)))
  }
}
