package perfbench

import java.lang.management.ManagementFactory
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData
import scala.jdk.CollectionConverters._

/** The metric catalogue. Every run prints every name of its kind (the
  * end-to-end set untraced, the per-layer set traced), each with its unit.
  */
object Catalogue {
  val endToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s",
    "work_per_s" -> "1/s",
    "op_ms_p50" -> "ms",
    "freshness_ms_p50" -> "ms")

  val families: Seq[String] = Seq("cdc", "ann", "text", "dedup", "rel")

  val perLayer: Seq[(String, String)] = Seq(
    "operators.map_task_ms" -> "ms",
    "operators.shuffle_write_bytes" -> "B",
    "operators.shuffle_records" -> "count",
    "operators.fold_write_task_ms" -> "ms",
    "operators.apply_ms" -> "ms",
    "operators.spill_bytes" -> "B",
    "operators.output_bytes" -> "B",
    "operators.task_skew" -> "ratio",
    "operators.jobs" -> "count",
    "operators.stages" -> "count",
    "operators.tasks" -> "count",
    "operators.compaction_ms" -> "ms",
    "operators.compactions" -> "count",
    "operators.self_ms" -> "ms",
    "streaming.trigger_ms" -> "ms",
    "streaming.add_batch_ms" -> "ms",
    "streaming.overhead_ms" -> "ms",
    "streaming.wal_commit_ms" -> "ms",
    "streaming.commit_offsets_ms" -> "ms",
    "streaming.latest_offset_ms" -> "ms",
    "streaming.batches" -> "count",
    "streaming.backlog_events_end" -> "count",
    "streaming.self_ms" -> "ms",
    "feed.lag_ms_max" -> "ms",
    "table.commit_ms" -> "ms",
    "table.commits" -> "count",
    "table.rebases" -> "count",
    "table.reruns" -> "count",
    "table.manifests_end" -> "count",
    "table.files_end" -> "count",
    "table.delta_depth_max" -> "count",
    "table.lookup_files_admitted" -> "fraction",
    "table.lookup_task_ms" -> "ms",
    "table.lookup_bytes_read" -> "B",
    "table.lookup_jobs" -> "count",
    "table.bytes_written_per_event" -> "B/event",
    "table.stored_bytes_per_row" -> "B/row",
    "table.self_ms" -> "ms") ++
    families.flatMap { f =>
      Seq(s"queries.$f.s" -> "s", s"queries.$f.jobs" -> "count",
        s"queries.$f.tasks" -> "count", s"queries.$f.shuffle_bytes" -> "B")
    } ++ Seq(
      "queries.self_ms" -> "ms",
      "jvm.heap_live_mb" -> "MB",
      "jvm.gc_ms" -> "ms",
      "jvm.gc_count" -> "count",
      "trace.op_ms_p90" -> "ms",
      "trace.freshness_ms_p90" -> "ms",
      "trace.phase_ms" -> "ms",
      "trace.residual_ms" -> "ms")

  /** The query family of a `SparkEntry.queries` name. */
  def family(query: String): String = query.takeWhile(_ != '_') match {
    case "cdc" => "cdc"
    case "ann" => "ann"
    case "text" => "text"
    case "dedup" | "embed" => "dedup"
    case _ => "rel" // q_, q1_, mm_
  }
}

object Stats {
  /** Quantile by linear interpolation between closest ranks. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def p90(xs: Seq[Double]): Double = quantile(xs, 0.9)
  def medianOr0(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else median(xs)
}

/** GC activity over a window: collector counts and times from the MX beans,
  * and the live heap at the end of the window, i.e. the heap in use after
  * the full collection that closes it (from its GC notification). Minor
  * collections are left out: what they leave behind depends on when they
  * happen to run.
  */
final class GcWatch {
  private val beans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  @volatile private var active = false
  @volatile private var liveAfter = 0L
  private var c0 = 0L
  private var t0 = 0L

  private val listener = new NotificationListener {
    override def handleNotification(n: Notification, hb: Any): Unit =
      if (active && n.getType == "com.sun.management.gc.notification") {
        val info = n.getUserData.asInstanceOf[CompositeData]
        if (String.valueOf(info.get("gcCause")) == "System.gc()") record(info)
      }
  }

  private def record(info: CompositeData): Unit = {
    val gcInfo = info.get("gcInfo").asInstanceOf[CompositeData]
    val after = gcInfo.get("memoryUsageAfterGc").asInstanceOf[javax.management.openmbean.TabularData]
    var used = 0L
    after.values().asScala.foreach { row =>
      val r = row.asInstanceOf[CompositeData]
      val pool = r.get("key").asInstanceOf[String]
      val mu = java.lang.management.MemoryUsage.from(r.get("value").asInstanceOf[CompositeData])
      if (!pool.contains("Metaspace") && !pool.contains("Code") &&
          !pool.contains("Compressed")) used += mu.getUsed
    }
    liveAfter = used
  }
  beans.foreach {
    case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
    case _ => ()
  }

  private def counts = beans.map(b => math.max(0L, b.getCollectionCount)).sum
  private def times = beans.map(b => math.max(0L, b.getCollectionTime)).sum

  def start(): Unit = { c0 = counts; t0 = times }

  /** Close the window with one full collection. */
  def stop(): (Long, Long, Double) = {
    val gcCount = counts - c0
    val gcMs = times - t0
    liveAfter = 0L
    active = true
    System.gc()
    // the notification is delivered asynchronously
    val deadline = System.currentTimeMillis() + 5000
    while (liveAfter == 0L && System.currentTimeMillis() < deadline) Thread.sleep(10)
    active = false
    (gcCount, gcMs, liveAfter / (1024.0 * 1024.0))
  }
}
