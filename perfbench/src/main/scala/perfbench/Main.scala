package perfbench

import graft.SparkEntry
import graft.changelog.Generator
import graft.operators.MergeApplier
import graft.streaming.CdcStream
import graft.table.{LakeTable, Snapshot}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQueryListener, Trigger}

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Input sizes. `full` is what the benchmark runs; `tiny` is for its own
  * test.
  */
final case class Sizes(
    replayEvents: Long,
    tailPreloadEvents: Long,
    chunkEvents: Long,
    cowBatchMs: Long,
    morChunkPeriodMs: Long,
    setupRepeats: Int,
    buckets: Int) {
  def numConvs(events: Long): Int = math.max(50, (events / 200).toInt)
}

object Sizes {
  val full = Sizes(replayEvents = 60000L, tailPreloadEvents = 20000L,
    chunkEvents = 1000L, cowBatchMs = 700L, morChunkPeriodMs = 500L, setupRepeats = 3,
    buckets = 8)
  val tiny = Sizes(replayEvents = 4000L, tailPreloadEvents = 2000L,
    chunkEvents = 200L, cowBatchMs = 500L, morChunkPeriodMs = 400L, setupRepeats = 1, buckets = 4)
}

/** The query sweep's fixed subset of `SparkEntry.queries`: two per
  * family, each a different operator, chosen so that a cold pass and
  * several warm passes fit in one run.
  */
object Sweep {
  val queries: Seq[String] = Seq(
    "cdc_lww_dedup", "cdc_table_mor_read",
    "ann_ivf_topk", "ann_lsh_topk",
    "text_bm25", "text_quality_filter",
    "dedup_minhash_lsh", "embed_neardup",
    "q_join_dim", "q_sessionize")
}

final case class Conf(workload: String, seed: Long, seconds: Int, trace: Boolean,
    root: String, repo: String, data: String, spans: String, sizes: Sizes)

/** What a run reports: metrics with units and sample counts, the attempt
  * and failure counts, and the correctness verdict.
  */
final class Report {
  val values = mutable.LinkedHashMap.empty[String, (Double, String, Int)]
  var attempted = 0L
  var failed = 0L
  val problems = mutable.ArrayBuffer.empty[String]

  def put(name: String, v: Double, samples: Int = 1): Unit = {
    val unit = (Catalogue.endToEnd ++ Catalogue.perLayer).toMap.getOrElse(name,
      throw new IllegalArgumentException(s"metric $name is not in the catalogue"))
    values(name) = (v, unit, samples)
  }
  def gate(what: String, problem: Option[String]): Unit =
    problem.foreach(p => problems += s"$what: $p")
  def correct: Boolean = problems.isEmpty

  /** The result for one kind of run: every metric of that kind, in
    * catalogue order; per-layer metrics a workload does not exercise are 0.
    */
  def lines(trace: Boolean): (Seq[String], String) = {
    val names = if (trace) Catalogue.perLayer else Catalogue.endToEnd
    val missing = names.map(_._1).filterNot(values.contains)
    if (!trace && missing.nonEmpty)
      throw new IllegalStateException(s"end-to-end metrics not measured: ${missing.mkString(", ")}")
    val rows = names.map { case (n, u) =>
      val (v, _, k) = values.getOrElse(n, (0.0, u, 0))
      (n, v, u, k)
    }
    val human = rows.map { case (n, v, u, k) => f"metric $n%-34s $v%16.4f $u%-9s samples=$k" } ++
      // values of the other kind that this run measured anyway, for reference
      values.collect { case (n, (v, u, k)) if !names.exists(_._1 == n) =>
        f"info   $n%-34s $v%16.4f $u%-9s samples=$k"
      }
    val json = rows.map { case (n, v, u, _) =>
      s""""$n": {"value": ${fmt(v)}, "unit": "$u"}"""
    }.mkString("{", ", ", "}")
    (human, s"""{"correct": $correct, "attempted": ${math.max(1L, attempted)}, """ +
      s""""failed": $failed, "metrics": $json}""")
  }

  private def fmt(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString
}

object Main {

  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = kv.getOrElse(k, { System.err.println(s"missing --$k"); sys.exit(2) })
    val root = need("root")
    val conf = Conf(
      workload = need("workload"),
      seed = need("seed").toLong,
      seconds = need("seconds").toInt,
      trace = need("trace") == "1",
      root = root,
      repo = need("repo"),
      data = kv.getOrElse("data", ""),
      spans = kv.getOrElse("spans", s"$root/spans.json"),
      sizes = Sizes.full)
    val spark = session(conf)
    val tracer = new Tracer(s"${conf.workload}-${conf.seed}")
    val report = try run(conf, spark, tracer) finally spark.stop()
    if (conf.trace) {
      Files.createDirectories(Paths.get(conf.spans).getParent)
      Files.writeString(Paths.get(conf.spans), tracer.toJson)
    }
    val (human, json) = report.lines(conf.trace)
    human.foreach(println)
    report.problems.foreach(p => println(s"gate FAILED $p"))
    println(json)
  }

  def session(conf: Conf): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors()
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-${conf.workload}")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"${conf.root}/spark-local")
      .config("spark.sql.warehouse.dir", s"${conf.root}/warehouse")
      .config("spark.scheduler.mode", "FAIR")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Run one workload and return its report. The caller owns `conf.root`
    * and the session.
    */
  def run(conf: Conf, spark: SparkSession, tracer: Tracer): Report = {
    val report = new Report
    System.err.println(s"host cores=${Runtime.getRuntime.availableProcessors()} " +
      s"heap_mb=${Runtime.getRuntime.maxMemory() / (1024 * 1024)} " +
      s"jdk=${System.getProperty("java.version")} spark=${spark.version} " +
      s"workload=${conf.workload} seed=${conf.seed} seconds=${conf.seconds} " +
      s"trace=${if (conf.trace) 1 else 0}")
    val jobs = if (conf.trace) {
      val l = new JobListener
      spark.sparkContext.addSparkListener(l)
      Some(l)
    } else None
    val w = new Workloads(spark, conf, report, tracer, jobs)
    try conf.workload match {
      case "replay" => w.replay()
      case "tail_cow" => w.tailCow()
      case "tail_mor_reads" => w.tailMorReads()
      case "query_sweep" => w.querySweep()
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    } finally jobs.foreach(spark.sparkContext.removeSparkListener)
    report
  }
}

/** Collects streaming progress of every query in the session. */
final class Progress extends StreamingQueryListener {
  val events = new ConcurrentLinkedQueue[org.apache.spark.sql.streaming.StreamingQueryProgress]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    events.add(e.progress)
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  def withInput: Seq[org.apache.spark.sql.streaming.StreamingQueryProgress] =
    events.asScala.toSeq.filter(_.numInputRows > 0).sortBy(_.batchId)
}

final class Workloads(spark: SparkSession, conf: Conf, report: Report, tracer: Tracer,
    jobs: Option[JobListener]) {
  private val sz = conf.sizes
  private val root = Paths.get(conf.root)
  private val rng = new scala.util.Random(conf.seed)
  private val gc = new GcWatch

  private def path(parts: String*): String = Paths.get(conf.root, parts: _*).toString

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p)) org.apache.commons.io.FileUtils.deleteDirectory(p.toFile)

  private def parquetFiles(dir: String): Seq[Path] =
    if (!Files.isDirectory(Paths.get(dir))) Seq.empty
    else {
      val s = Files.list(Paths.get(dir))
      try s.iterator().asScala.filter(_.getFileName.toString.endsWith(".parquet"))
        .toSeq.sortBy(_.getFileName.toString)
      finally s.close()
    }

  private def treeBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(f => Files.isRegularFile(f) &&
        f.getFileName.toString.endsWith(".parquet")).map(Files.size).sum
      finally s.close()
    }

  /** Time `f` in the job group `group`; a throw counts as a failure and
    * yields None, so a failed call is never a timing sample.
    */
  private def attempt[T](parent: Long, name: String, layer: String, group: String)
      (f: => T): Option[(T, Span)] = {
    report.attempted += 1
    spark.sparkContext.setJobGroup(group, name, interruptOnCancel = false)
    try Some(tracer.timed(parent, name, layer)(_ => f))
    catch {
      case e: Exception =>
        report.failed += 1
        System.err.println(s"[perfbench] $name failed: $e")
        None
    } finally spark.sparkContext.clearJobGroup()
  }

  private val t0 = System.nanoTime()
  private def log(msg: String): Unit =
    System.err.println(f"[perfbench ${(System.nanoTime() - t0) / 1e9}%7.2f s] $msg")

  private def timeSetup(repeats: Int = sz.setupRepeats)(f: Int => Unit): Unit = {
    val secs = (0 until repeats).map { r =>
      val t0 = System.nanoTime()
      f(r)
      (System.nanoTime() - t0) / 1e9
    }
    report.put("setup_s", Stats.median(secs), secs.size)
  }

  private def snapshots(t: LakeTable, after: Long): Seq[Snapshot] =
    t.versions().filter(_ > after).flatMap(v => t.snapshotAt(v))

  private def commitMs(s: Snapshot): Long = s.metrics.getOrElse("commitMs", -1L)

  // Medians are the gated figures: a run holds a few dozen samples, and
  // the p90 of so few moves with every short slowdown of the host. The p90s
  // are reported beside them, unbounded.
  private def putLatency(samples: Seq[Double]): Unit = {
    report.put("op_ms_p50", Stats.median(samples), samples.size)
    report.put("trace.op_ms_p90", Stats.p90(samples), samples.size)
  }

  private def putFreshness(samples: Seq[Double]): Unit = {
    report.put("freshness_ms_p50", Stats.median(samples), samples.size)
    report.put("trace.freshness_ms_p90", Stats.p90(samples), samples.size)
  }

  private def startPhase(): Unit = { log("timed phase starts"); gc.start() }

  private def endPhase(): Unit = {
    val (count, ms, liveMb) = gc.stop()
    log("timed phase ends")
    report.put("jvm.heap_live_mb", liveMb)
    report.put("jvm.gc_count", count.toDouble)
    report.put("jvm.gc_ms", ms.toDouble)
  }

  /** Storage metrics of a CDC table after its timed phase. */
  private def putStorage(t: LakeTable, bytesBefore: Long, events: Long): Unit = {
    val s = t.currentSnapshot().get
    val files = t.resolveFiles(s).values.flatten.toSeq
    report.put("table.bytes_written_per_event",
      (treeBytes(Paths.get(t.root)) - bytesBefore).toDouble / math.max(1L, events))
    val live = t.read(spark).count()
    report.put("table.stored_bytes_per_row", files.map(_.bytes).sum.toDouble / math.max(1L, live))
    report.put("table.manifests_end", s.manifests.size.toDouble)
    report.put("table.files_end", files.size.toDouble)
  }

  private def sumJobs(l: JobListener, js: Seq[JobRec]): JobSum = {
    val st = js.flatMap(_.stages).distinct.flatMap(id => l.stage(id).map(id -> _))
    val maps = st.filter(_._2.isShuffleMap).map(_._2)
    val results = st.filterNot(_._2.isShuffleMap).map(_._2)
    val fold = results.sortBy(-_.runMs).headOption
    val skew = fold.filter(_.taskMs.nonEmpty).map { a =>
      val med = Stats.median(a.taskMs.map(_.toDouble).toSeq)
      if (med > 0) a.taskMs.max / med else 1.0
    }.getOrElse(0.0)
    JobSum(js.size, st.size, st.map(_._2.tasks).sum, maps.map(_.runMs).sum,
      maps.map(_.shuffleWriteBytes).sum, maps.map(_.shuffleWriteRecords).sum,
      results.map(_.runMs).sum, st.map(_._2.spillBytes).sum, st.map(_._2.outputBytes).sum,
      st.map(_._2.inputBytes).sum, skew, st.map(_._2.runMs).sum)
  }

  /** Per-call operator metrics, medians over the calls. */
  private def putOperatorCalls(l: JobListener, calls: Seq[Seq[JobRec]]): Unit = {
    val sums = calls.filter(_.nonEmpty).map(sumJobs(l, _))
    def med(f: JobSum => Double) = Stats.medianOr0(sums.map(f))
    report.put("operators.map_task_ms", med(_.mapMs.toDouble), sums.size)
    report.put("operators.shuffle_write_bytes", med(_.shuffleBytes.toDouble), sums.size)
    report.put("operators.shuffle_records", med(_.shuffleRecords.toDouble), sums.size)
    report.put("operators.fold_write_task_ms", med(_.resultMs.toDouble), sums.size)
    report.put("operators.spill_bytes", med(_.spill.toDouble), sums.size)
    report.put("operators.output_bytes", med(_.output.toDouble), sums.size)
    report.put("operators.task_skew", med(_.skew), sums.size)
    report.put("operators.jobs", med(_.jobs.toDouble), sums.size)
    report.put("operators.stages", med(_.stages.toDouble), sums.size)
    report.put("operators.tasks", med(_.tasks.toDouble), sums.size)
  }

  /** Apply-commit metrics of the snapshots a phase committed. */
  private def putCommits(snaps: Seq[Snapshot]): Unit = {
    val applies = snaps.filter(_.metrics.contains("durationMs"))
    report.put("table.commits", snaps.size.toDouble)
    report.put("table.commit_ms", Stats.medianOr0(applies.map(_.metrics("metaMs").toDouble)), applies.size)
    report.put("operators.apply_ms", Stats.medianOr0(applies.map(s =>
      (s.metrics("durationMs") - s.metrics("metaMs")).toDouble)), applies.size)
    report.put("table.rebases", snaps.count(_.metrics.contains("rebasedFrom")).toDouble)
    report.put("table.reruns", snaps.count(_.metrics.contains("rerunAttempt")).toDouble)
  }

  private def putSelf(rootSpan: Span): Unit = {
    val all = tracer.all
    val self = Trace.layerSelf(all, rootSpan.id)
    Seq("operators", "streaming", "table", "queries").foreach { l =>
      report.put(s"$l.self_ms", self.getOrElse(l, 0L).toDouble)
    }
    report.put("trace.phase_ms", rootSpan.durMs.toDouble)
    report.put("trace.residual_ms", Trace.selfTimes(all).getOrElse(rootSpan.id, 0L).toDouble)
  }

  // --- replay -------------------------------------------------------------

  def replay(): Unit = {
    val n = sz.replayEvents
    var files: Seq[Path] = Seq.empty
    timeSetup() { _ =>
      deleteTree(root.resolve("replay"))
      files = generate(path("replay", "gen"), n, preload = n)._1
    }
    val cl = spark.read.parquet(files.map(_.toString): _*)
    // one untimed replay warms the JIT and the session's caches
    MergeApplier.replayFull(spark, LakeTable.open(path("replay", "warm"), sz.buckets), cl)
    deleteTree(root.resolve("replay/warm"))
    log("replay set up")
    // (call span, job group, its commit); only the last successful call's
    // table is kept
    val calls = mutable.ArrayBuffer.empty[(Span, String, Snapshot)]
    var last: Option[LakeTable] = None
    startPhase()
    val (_, top) = tracer.timed(0L, "replay", "workload") { topId =>
      val t0 = System.nanoTime()
      var i = 0
      while ((System.nanoTime() - t0) / 1e9 < conf.seconds || i < 3) {
        val t = LakeTable.open(path("replay", s"t$i"), sz.buckets)
        attempt(topId, s"replayFull $i", "operators", s"replay-$i") {
          MergeApplier.replayFull(spark, t, cl)
        } match {
          case Some((_, sp)) =>
            calls += ((sp, s"replay-$i", t.currentSnapshot().get))
            last.foreach(p => deleteTree(Paths.get(p.root)))
            last = Some(t)
          case None => deleteTree(Paths.get(t.root))
        }
        i += 1
      }
    }
    endPhase()
    require(last.nonEmpty, "every replay failed")
    val ms = calls.map(_._1.durMs.toDouble).toSeq
    putLatency(ms)
    report.put("work_per_s", n / (Stats.median(ms) / 1000.0), ms.size)
    putFreshness(calls.toSeq.map { case (sp, _, snap) => (commitMs(snap) - sp.start).toDouble })
    log("checking")
    report.gate("replay final state", Oracle.compare(spark, last.get.read(spark),
      files.map(_.toString)))
    log("checked")
    if (conf.trace) {
      putStorage(last.get, 0L, n)
      putCommits(calls.map(_._3).toSeq)
      calls.foreach { case (sp, _, snap) =>
        tracer.record(sp.id, "commit meta", "table", commitMs(snap) - snap.metrics("metaMs"),
          commitMs(snap))
      }
      jobs.foreach { l =>
        val byGroup = l.allJobs.groupBy(_.group)
        val perCall = calls.map { case (sp, g, _) =>
          val js = byGroup.getOrElse(g, Seq.empty)
          l.emit(tracer, sp.id, "operators", js)
          js
        }.toSeq
        putOperatorCalls(l, perCall)
      }
      putSelf(top)
    }
  }

  // --- tails --------------------------------------------------------------

  /** Write `n` generated events as flat parquet files in one job: events
    * with seq < `preload` as 4 preload parts, the rest as arrival chunks of
    * `chunkEvents` events with 4 parts each. Returns the preload files and
    * the chunks' files, in arrival order.
    */
  private def generate(dir: String, n: Long, preload: Long,
      chunkEvents: Long = 1L): (Seq[Path], Seq[Seq[Path]]) = {
    import org.apache.spark.sql.functions._
    val seq = col("seq")
    Generator.events(spark, n, sz.numConvs(n), turnsPerConv = 25, seed = conf.seed)
      .withColumn("chunk", when(seq < preload, lit(-1L))
        .otherwise(floor((seq - preload) / chunkEvents)))
      .withColumn("part", pmod(seq, lit(4L)))
      .repartition(col("chunk"), col("part"))
      .write.partitionBy("chunk", "part").parquet(s"$dir/raw")
    def partFile(c: Long, pt: Int): Path = {
      val d = Paths.get(dir, "raw", s"chunk=$c", s"part=$pt")
      val fs = parquetFiles(d.toString)
      require(fs.size == 1, s"expected one file in $d, found ${fs.size}")
      val to = Paths.get(dir, if (c < 0) f"pre_p$pt%03d.parquet" else f"chunk_$c%05d_p$pt%03d.parquet")
      Files.move(fs.head, to)
    }
    val chunks = ((n - preload + chunkEvents - 1) / chunkEvents).toInt
    val pre = if (preload > 0) (0 until 4).map(partFile(-1L, _)) else Seq.empty
    val tail = (0 until chunks).map(c => (0 until 4).map(partFile(c.toLong, _)))
    deleteTree(Paths.get(dir, "raw"))
    (pre, tail)
  }

  /** Generate a preload plus `chunks` arrival chunks, replay the preload
    * into a fresh table and leave the chunks staged. Set-up is timed over
    * `setupRepeats` repetitions. Returns the table, the preload files and
    * the chunks' files.
    */
  private def prepareTail(name: String, chunks: Int): (LakeTable, Seq[String], Seq[Seq[Path]]) = {
    var result: (LakeTable, Seq[String], Seq[Seq[Path]]) = null
    timeSetup() { _ =>
      deleteTree(root.resolve(name))
      val (pre, tail) = generate(path(name, "gen"), sz.tailPreloadEvents + chunks * sz.chunkEvents,
        sz.tailPreloadEvents, sz.chunkEvents)
      val table = LakeTable.open(path(name, "table"), sz.buckets)
      MergeApplier.replayFull(spark, table, spark.read.parquet(pre.map(_.toString): _*))
      result = (table, pre.map(_.toString), tail)
    }
    log(s"$name set up")
    result
  }

  /** Publish a file into a source directory by atomic rename. Its mtime,
    * which orders the file source's listing, is set first.
    */
  private def move(p: Path, dir: Path, mtime: Long = System.currentTimeMillis()): Path = {
    Files.setLastModifiedTime(p, java.nio.file.attribute.FileTime.fromMillis(mtime))
    Files.move(p, dir.resolve(p.getFileName), StandardCopyOption.ATOMIC_MOVE)
  }

  /** Map each chunk to the batch that completed it and that batch's commit
    * time: batches consume files in arrival order, so chunk j is applied
    * once the cumulative input rows reach (j + 1) chunks.
    */
  private def chunkCommits(batches: Seq[org.apache.spark.sql.streaming.StreamingQueryProgress],
      batchCommit: Map[Long, Long], chunks: Int)
      : Seq[Option[(org.apache.spark.sql.streaming.StreamingQueryProgress, Long)]] = {
    val cum = batches.scanLeft(0L)(_ + _.numInputRows).tail.zip(batches)
    (0 until chunks).map { j =>
      val need = (j + 1) * sz.chunkEvents
      cum.find(_._1 >= need).flatMap { case (_, b) => batchCommit.get(b.batchId).map(b -> _) }
    }
  }

  private def parseTs(s: String): Long = java.time.Instant.parse(s).toEpochMilli

  private def ms(p: org.apache.spark.sql.streaming.StreamingQueryProgress, k: String): Double =
    Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)

  /** Batch spans from progress events, commit and compaction spans from
    * snapshot metrics, and the tail's Spark jobs under them.
    */
  private def traceTail(parent: Span, batches: Seq[org.apache.spark.sql.streaming.StreamingQueryProgress],
      snaps: Seq[Snapshot], prevCommit: Long, writer: String): Seq[Seq[JobRec]] = {
    val batchSpans = batches.map { p =>
      val s = parseTs(p.timestamp)
      p.batchId -> tracer.record(parent.id, s"batch ${p.batchId}", "streaming",
        s, s + ms(p, "triggerExecution").toLong)
    }.toMap
    def within(t: Long) = batchSpans.values.find(b => t >= b.start && t <= b.end)
    var prev = prevCommit
    val applySpans = mutable.ArrayBuffer.empty[(Long, Span)]
    snaps.foreach { s =>
      val c = commitMs(s)
      if (s.metrics.contains("durationMs")) {
        val b = s.committed.getOrElse(writer, -1L)
        val p = batchSpans.get(b).orElse(within(c)).getOrElse(parent)
        val sp = tracer.record(p.id, s"apply batch $b", "operators", c - s.metrics("durationMs"), c)
        tracer.record(sp.id, "commit meta", "table", c - s.metrics("metaMs"), c)
        applySpans += b -> sp
      } else if (s.metrics.contains("compactedRows")) {
        val p = within(c).getOrElse(parent)
        tracer.record(p.id, "compaction", "operators", math.max(prev, p.start), c)
      }
      prev = c
    }
    jobs.map { l =>
      val streamJobs = l.allJobs.filter(_.batchId >= 0)
      val spansNow = tracer.all
      val perApply = applySpans.map { case (b, sp) =>
        streamJobs.filter(j => j.batchId == b && j.start >= sp.start && j.start <= sp.end)
      }.toSeq
      val claimed = perApply.flatten.map(_.jobId).toSet
      applySpans.zip(perApply).foreach { case ((_, sp), js) => l.emit(tracer, sp.id, "operators", js) }
      streamJobs.filterNot(j => claimed.contains(j.jobId)).foreach { j =>
        // compaction or other in-batch jobs: the innermost span holding the start
        val holder = spansNow.filter(s => s.layer != "workload" && !s.open &&
            j.start >= s.start && j.start <= s.end && (s.layer == "operators" || s.layer == "streaming"))
          .sortBy(s => s.end - s.start).headOption
        holder.foreach(h => l.emit(tracer, h.id, h.layer, Seq(j)))
      }
      perApply
    }.getOrElse(Seq.empty)
  }

  private def putStreaming(batches: Seq[org.apache.spark.sql.streaming.StreamingQueryProgress]): Unit = {
    def med(k: String) = Stats.medianOr0(batches.map(ms(_, k)))
    report.put("streaming.trigger_ms", med("triggerExecution"), batches.size)
    report.put("streaming.add_batch_ms", med("addBatch"), batches.size)
    report.put("streaming.overhead_ms", Stats.medianOr0(batches.map(p =>
      ms(p, "triggerExecution") - ms(p, "addBatch"))), batches.size)
    report.put("streaming.wal_commit_ms", med("walCommit"), batches.size)
    report.put("streaming.commit_offsets_ms", med("commitOffsets"), batches.size)
    report.put("streaming.latest_offset_ms", med("latestOffset"), batches.size)
    report.put("streaming.batches", batches.size.toDouble)
  }

  private val warmChunks = 3

  def tailCow(): Unit = {
    val nChunks = math.max(2, (conf.seconds * 1000L / sz.cowBatchMs).toInt)
    val (table, pre, all) = prepareTail("tail_cow", warmChunks + nChunks)
    val (warm, chunks) = all.splitAt(warmChunks)
    // an untimed drain of a few chunks by another writer warms the JIT and
    // the streaming path, so the timed batches are all steady-state ones
    val warmSrc = Files.createDirectories(root.resolve("tail_cow/warm"))
    warm.flatten.foreach(move(_, warmSrc))
    CdcStream.runAvailableNow(spark, warmSrc.toString, table, path("tail_cow", "warm_ckpt"),
      writerId = "warm", maxFilesPerTrigger = 4, mode = "cow")
    val src = Files.createDirectories(root.resolve("tail_cow/src"))
    // the backlog keeps arrival order: chunk j's parts sort before chunk j+1's
    val mt0 = System.currentTimeMillis() - 3600000L
    chunks.zipWithIndex.foreach { case (ps, j) =>
      ps.zipWithIndex.foreach { case (p, i) => move(p, src, mt0 + 10L * j + i) }
    }
    val v0 = table.currentSnapshot().get.version
    val c0 = commitMs(table.currentSnapshot().get)
    val bytes0 = treeBytes(Paths.get(table.root))
    val progress = new Progress
    spark.streams.addListener(progress)
    startPhase()
    val (_, top) = tracer.timed(0L, "tail_cow", "workload") { topId =>
      // a tail's unit of work is a chunk: a failed drain shows up below as
      // chunks that no committed batch applied
      try tracer.timed(topId, "runAvailableNow", "streaming") { _ =>
        CdcStream.runAvailableNow(spark, src.toString, table, path("tail_cow", "ckpt"),
          writerId = "tail", maxFilesPerTrigger = 4, mode = "cow")
      } catch {
        case e: Exception => System.err.println(s"[perfbench] runAvailableNow failed: $e")
      }
    }
    endPhase()
    spark.streams.removeListener(progress)
    val batches = progress.withInput
    val call = tracer.all.find(_.name == "runAvailableNow")
    val events = batches.map(_.numInputRows).sum
    val snaps = snapshots(table, v0)
    val batchCommit = snaps.filter(_.metrics.contains("durationMs"))
      .map(s => s.committed("tail") -> commitMs(s)).toMap
    // freshness of a chunk in a backlog: from the start of the trigger that
    // picked it up to the commit that made it visible (its wait in the
    // backlog only counts the batches before it)
    val fresh = chunkCommits(batches, batchCommit, chunks.size).flatten
      .map { case (b, c) => (c - parseTs(b.timestamp)).toDouble }
    val trig = batches.map(ms(_, "triggerExecution"))
    report.attempted += chunks.size
    report.failed += chunks.size - fresh.size
    putLatency(trig)
    // the apply rate of a typical batch: robust to a short slowdown of the
    // host, unlike events over the whole drain
    report.put("work_per_s", Stats.median(batches.map(b =>
      b.numInputRows / (ms(b, "triggerExecution") / 1000.0))), batches.size)
    putFreshness(fresh)
    report.gate("tail_cow final state", Oracle.compare(spark, table.read(spark),
      pre ++ warm.flatten.map(p => warmSrc.resolve(p.getFileName).toString) ++
        chunks.flatten.map(p => src.resolve(p.getFileName).toString)))
    report.gate("tail_cow ledger", Oracle.ledgerOnce(
      snaps.filter(_.metrics.contains("durationMs")).map(_.committed("tail")), 0L, batches.size - 1L))
    if (conf.trace) {
      putStorage(table, bytes0, events)
      putCommits(snaps)
      putStreaming(batches)
      report.put("streaming.backlog_events_end", (chunks.size * sz.chunkEvents - events).toDouble)
      val perApply = traceTail(call.getOrElse(top), batches, snaps, c0, "tail")
      jobs.foreach(putOperatorCalls(_, perApply))
      putSelf(top)
    }
  }

  def tailMorReads(): Unit = {
    val period = sz.morChunkPeriodMs
    val nChunks = math.max(2, (conf.seconds * 1000L / period).toInt)
    val (table, pre, chunks) = prepareTail("tail_mor", nChunks)
    val src = Files.createDirectories(root.resolve("tail_mor/src"))
    val v0 = table.currentSnapshot().get.version
    val c0 = commitMs(table.currentSnapshot().get)
    val bytes0 = treeBytes(Paths.get(table.root))
    val numConvs = sz.numConvs(sz.chunkEvents * (sz.tailPreloadEvents / sz.chunkEvents + nChunks))
    val progress = new Progress
    spark.streams.addListener(progress)
    val scheduled = new Array[Long](nChunks)
    val lag = new Array[Long](nChunks)
    val lookups = mutable.ArrayBuffer.empty[(Span, String)]
    val admitted = mutable.ArrayBuffer.empty[Double]
    var feedEnd = 0L
    var tailCall: Option[Span] = None
    startPhase()
    val (_, top) = tracer.timed(0L, "tail_mor_reads", "workload") { topId =>
      val tailStart = System.currentTimeMillis()
      val q = CdcStream.start(spark, src.toString, table, path("tail_mor", "ckpt"),
        writerId = "tail", maxFilesPerTrigger = 10000,
        trigger = Trigger.ProcessingTime(100L), mode = "mor", autoCompactEvery = 3)
      val t0 = System.currentTimeMillis() + 50
      val feeder = new Thread(() => {
        chunks.indices.foreach { j =>
          scheduled(j) = t0 + j * period
          val wait = scheduled(j) - System.currentTimeMillis()
          if (wait > 0) Thread.sleep(wait)
          chunks(j).foreach(move(_, src))
          lag(j) = System.currentTimeMillis() - scheduled(j)
        }
      }, "perfbench-feeder")
      feeder.start()
      // the reader: closed loop on this thread while the feed runs, in a
      // scheduler pool of its own so its tasks interleave with the tail's
      // instead of queueing behind a whole batch stage
      spark.sparkContext.setLocalProperty("spark.scheduler.pool", "reader")
      var k = 0
      val end = t0 + nChunks * period
      while (System.currentTimeMillis() < end) {
        val hot = k % 4 < 2
        val conv = if (hot) s"conv_${rng.nextInt(5)}"
          else s"conv_${numConvs / 2 + rng.nextInt(math.max(1, numConvs / 2))}"
        val turn = rng.nextInt(25)
        val name = if (k % 2 == 0) s"lookupTurn $k" else s"lookupConversation $k"
        attempt(topId, name, "table", s"lookup-$k") {
          if (k % 2 == 0) table.lookupTurn(spark, conv, turn).collect()
          else table.lookupConversation(spark, conv, maxTurnExclusive = 25).collect()
        }.foreach { case (_, sp) => lookups += sp -> s"lookup-$k" }
        if (conf.trace) admitted += admittedShare(table, conv, if (k % 2 == 0) Some(turn) else None)
        k += 1
      }
      spark.sparkContext.setLocalProperty("spark.scheduler.pool", null)
      feeder.join()
      feedEnd = System.currentTimeMillis()
      q.processAllAvailable()
      q.stop()
      tailCall = Some(tracer.record(topId, "tail start", "streaming", tailStart,
        System.currentTimeMillis()))
      ()
    }
    endPhase()
    spark.streams.removeListener(progress)
    val batches = progress.withInput
    val events = batches.map(_.numInputRows).sum
    val snaps = snapshots(table, v0)
    val batchCommit = snaps.filter(_.metrics.contains("durationMs"))
      .map(s => s.committed("tail") -> commitMs(s)).toMap
    val done = chunkCommits(batches, batchCommit, nChunks)
    val fresh = done.zipWithIndex.collect { case (Some((_, c)), j) => (c - scheduled(j)).toDouble }
    report.attempted += nChunks
    report.failed += nChunks - fresh.size
    val lms = lookups.map(_._1.durMs.toDouble).toSeq
    putLatency(lms)
    report.put("work_per_s", lms.size / ((feedEnd - top.start) / 1000.0), lms.size)
    putFreshness(fresh)
    report.gate("tail_mor_reads final state", Oracle.compare(spark, table.read(spark),
      pre ++ chunks.flatten.map(p => src.resolve(p.getFileName).toString)))
    report.gate("tail_mor_reads ledger", Oracle.ledgerOnce(
      snaps.filter(_.metrics.contains("durationMs")).map(_.committed("tail")),
      batches.headOption.map(_.batchId).getOrElse(0L), batches.lastOption.map(_.batchId).getOrElse(-1L)))
    if (conf.trace) {
      putStorage(table, bytes0, events)
      putCommits(snaps)
      putStreaming(batches)
      val compactions = snaps.zip(c0 +: snaps.map(commitMs)).filter(_._1.metrics.contains("compactedRows"))
      report.put("operators.compactions", compactions.size.toDouble)
      report.put("operators.compaction_ms", Stats.medianOr0(compactions.map { case (s, prev) =>
        (commitMs(s) - prev).toDouble }), compactions.size)
      report.put("table.delta_depth_max", snaps.map(s =>
        table.deltaDepths(s).values.foldLeft(0)(math.max)).foldLeft(0)(math.max).toDouble)
      report.put("streaming.backlog_events_end", (nChunks * sz.chunkEvents - events).toDouble)
      report.put("feed.lag_ms_max", lag.max.toDouble)
      report.put("table.lookup_files_admitted", Stats.medianOr0(admitted.toSeq), admitted.size)
      val perApply = traceTail(tailCall.get, batches, snaps, c0, "tail")
      jobs.foreach { l =>
        putOperatorCalls(l, perApply)
        val byGroup = l.allJobs.groupBy(_.group)
        val perLookup = lookups.map { case (sp, g) =>
          val js = byGroup.getOrElse(g, Seq.empty)
          l.emit(tracer, sp.id, "table", js)
          sumJobs(l, js)
        }.toSeq
        report.put("table.lookup_task_ms", Stats.medianOr0(perLookup.map(_.runMs.toDouble)), perLookup.size)
        report.put("table.lookup_bytes_read", Stats.medianOr0(perLookup.map(_.input.toDouble)), perLookup.size)
        report.put("table.lookup_jobs", Stats.medianOr0(perLookup.map(_.jobs.toDouble)), perLookup.size)
      }
      putSelf(tailCall.get)
      // the reader runs beside the tail, so the tail's subtree is the phase
      report.put("trace.phase_ms", tailCall.get.durMs.toDouble)
    }
  }

  /** Files a lookup admits after bucket and stats pruning, as a share of the
    * files in the buckets it addresses (the base is every file of those
    * buckets in the current snapshot).
    */
  private def admittedShare(t: LakeTable, conv: String, turn: Option[Int]): Double =
    t.currentSnapshot().map { s =>
      val buckets = turn match {
        case Some(x) => Set(t.bucketFor(conv, x))
        case None => (0 until 25).map(t.bucketFor(conv, _)).toSet
      }
      val files = t.resolveFiles(s, Some(buckets)).values.flatten.toSeq
      val ok = files.count(f => f.stats.forall(st =>
        turn.map(st.mightContain(conv, _)).getOrElse(st.mightContainConv(conv))))
      if (files.isEmpty) 0.0 else ok.toDouble / files.size
    }.getOrElse(0.0)

  // --- query sweep --------------------------------------------------------

  def querySweep(): Unit = {
    val queries = Sweep.queries.map(q => q -> SparkEntry.queries(q))
    val dump = path("sweep", "dump")
    timeSetup(repeats = 1) { _ =>
      deleteTree(Paths.get(dump))
      Files.createDirectories(Paths.get(dump))
      queries.foreach { case (name, fn) =>
        try fn(spark, conf.data).coalesce(1).write.mode("overwrite").parquet(s"$dump/$name")
        catch { case e: Exception => System.err.println(s"[perfbench] warmup $name failed: $e") }
      }
      val json = new com.fasterxml.jackson.databind.ObjectMapper()
        .writeValueAsString(SparkEntry.oracleSql.filter(q => Sweep.queries.contains(q._1)).asJava)
      Files.writeString(Paths.get(dump, "oracle_sql.json"), json)
      val check = new ProcessBuilder("python3", s"${conf.repo}/tools/check_oracle.py", conf.data, dump)
        .redirectErrorStream(true).start()
      val out = scala.io.Source.fromInputStream(check.getInputStream).mkString
      val fails = out.linesIterator.filter(_.startsWith("FAIL")).toSeq
      report.gate("query_sweep oracle",
        if (check.waitFor() == 0 && fails.isEmpty) None
        else Some((fails.take(5) :+ out.linesIterator.toSeq.lastOption.getOrElse("")).mkString("; ")))
    }
    val order = new scala.util.Random(conf.seed).shuffle(queries)
    val times = mutable.ArrayBuffer.empty[(String, Span)]
    startPhase()
    val (_, top) = tracer.timed(0L, "query_sweep", "workload") { topId =>
      val t0 = System.nanoTime()
      var pass = 0
      while (pass == 0 || (System.nanoTime() - t0) / 1e9 < conf.seconds) {
        order.foreach { case (name, fn) =>
          attempt(topId, s"query:$name", "queries", s"query:$name:$pass") {
            fn(spark, conf.data).count()
          }.foreach { case (_, sp) => times += name -> sp }
        }
        pass += 1
      }
    }
    endPhase()
    val perQuery = times.groupBy(_._1).view.mapValues(_.map(_._2.durMs.toDouble).toSeq).toMap
    val ms = times.map(_._2.durMs.toDouble).toSeq
    putLatency(ms)
    // one pass = every query once, at its median time over the passes
    val sweepS = perQuery.values.map(Stats.median).sum / 1000.0
    report.put("work_per_s", queries.size / sweepS, ms.size)
    putFreshness(perQuery.values.map(Stats.median).toSeq)
    if (conf.trace) {
      jobs.foreach { l =>
        val byGroup = l.allJobs.groupBy(_.group)
        val fam = times.groupBy(t => Catalogue.family(t._1))
        Catalogue.families.foreach { f =>
          val runs = fam.getOrElse(f, mutable.ArrayBuffer.empty)
          val passes = math.max(1, runs.size.toDouble / math.max(1, queries.count(q => Catalogue.family(q._1) == f)))
          val sums = runs.toSeq.map { case (name, sp) =>
            val js = byGroup.view.filterKeys(_.startsWith(s"query:$name:")).values.flatten
              .filter(j => j.start >= sp.start && j.start <= sp.end).toSeq
            l.emit(tracer, sp.id, "queries", js)
            sumJobs(l, js)
          }
          report.put(s"queries.$f.s", runs.map(_._2.durMs).sum / 1000.0 / passes, runs.size)
          report.put(s"queries.$f.jobs", sums.map(_.jobs).sum / passes)
          report.put(s"queries.$f.tasks", sums.map(_.tasks).sum / passes)
          report.put(s"queries.$f.shuffle_bytes", sums.map(_.shuffleBytes).sum / passes)
        }
      }
      putSelf(top)
    }
  }
}
