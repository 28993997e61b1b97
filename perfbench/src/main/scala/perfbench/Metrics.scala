package perfbench

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.views.Views

/** End-to-end metrics from the timed passes and per-layer metrics from the
  * traced ones. A per-layer value is the median over traced passes of its
  * per-pass value, unless its own sample count says otherwise; a layer the
  * workload does not touch reports 0. */
object Metrics {
  /** The middle value, or the mean of the two middle values; 0 if empty. */
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  def peakRssMb(): Double =
    scala.util.Try {
      val src = scala.io.Source.fromFile("/proc/self/status")
      try src.getLines().find(_.startsWith("VmHWM:")).map(
        _.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
      finally src.close()
    }.getOrElse(0.0)

  def endToEnd(a: Args, timed: Seq[PassRec], firstTimedMs: Long)
      : Map[String, Map[String, Any]] = {
    // a traced run reports its end-to-end figures from its untraced passes
    val passes = if (timed.exists(!_.traced)) timed.filter(!_.traced) else timed
    def m(v: Double, unit: String, n: Int) =
      Map("value" -> v, "unit" -> unit, "n" -> n)
    Map(
      "setup_s" -> m((firstTimedMs - a.t0Ms) / 1000.0, "s", 1),
      "pass_s" -> m(median(passes.map(_.seconds)), "s", passes.size),
      "alloc_mb" -> m(median(passes.map(_.allocMb)), "MB", passes.size),
      "peak_rss_mb" -> m(peakRssMb(), "MB", 1))
  }

  val viewNames: Seq[String] = Views.submittedViews
  val families: Seq[String] = Seq("cc", "bpe", "pq")

  /** Union length of [lo, hi) spans clipped to the window, in ms. */
  private def covered(spans: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L
    var end = lo
    spans.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (b > end) { total += b - math.max(a, end); end = b }
      }
    total
  }

  def perLayer(a: Args, wl: Workload, spark: SparkSession,
      timed: Seq[PassRec]): Map[String, Map[String, Any]] = {
    val traced = timed.filter(_.traced)
    val untraced = timed.filter(!_.traced)
    val n = traced.size
    def per(f: PassRec => Double): Double = median(traced.map(f))
    def opsOf(p: PassRec, pred: OpRec => Boolean) = p.ops.filter(pred)
    def sumOps(p: PassRec, pred: OpRec => Boolean)(f: OpRec => Double) =
      opsOf(p, pred).map(f).sum
    val all: OpRec => Boolean = _ => true
    def named(name: String): OpRec => Boolean = _.name == name
    val mb = 1024.0 * 1024.0
    val out =
      scala.collection.mutable.LinkedHashMap.empty[String, (Double, String, Int)]
    def put(k: String, v: Double, unit: String, samples: Int = n): Unit =
      out(k) = (v, unit, samples)

    put("spark.jobs", per(p => sumOps(p, all)(_.jobs)), "count")
    put("spark.stages", per(p => sumOps(p, all)(_.stages)), "count")
    put("spark.tasks", per(p => sumOps(p, all)(_.tasks)), "count")
    put("spark.task_s", per(p => sumOps(p, all)(_.taskMs) / 1000.0), "s")
    put("spark.busy_frac", per(p =>
      sumOps(p, all)(_.taskMs) / 1000.0 / (p.seconds * a.cores)), "ratio")
    put("spark.idle_s", per { p =>
      val spans = p.ops.flatMap(_.taskSpans).toSeq
      p.seconds - covered(spans, p.e0, p.e1) / 1000.0
    }, "s")
    put("spark.shuffle_mb", per(p => sumOps(p, all)(_.shuffleBytes) / mb), "MB")
    put("spark.actions", per(p => sumOps(p, all)(_.actions)), "count")
    put("spark.planning_s", per(p => sumOps(p, all)(_.planningMs) / 1000.0), "s")

    put("sources.refresh_s", per(p => sumOps(p, named("refresh"))(_.seconds)), "s")
    put("sources.refresh_polls", per(p => p.extra.getOrElse("refresh_polls", 0.0)),
      "count")
    put("sources.partitions", wl.sourcePartitions(spark).toDouble, "count", 1)

    put("jobs.ingest_s", per(p => sumOps(p, named("ingest"))(_.seconds)), "s")
    put("jobs.ingest_jobs", per(p => sumOps(p, named("ingest"))(_.jobs)), "count")

    put("lake.register_s", per(p => sumOps(p, named("register"))(_.seconds)), "s")
    put("lake.files_written", per(_.filesWritten.toDouble), "count")
    put("lake.mb_written", per(_.bytesWritten / mb), "MB")
    put("lake.write_amp",
      if (wl.sourceBytes > 0) per(_.bytesWritten.toDouble / wl.sourceBytes)
      else 0.0, "ratio")
    put("lake.mb_read", per(p => sumOps(p, all)(_.inputBytes) / mb), "MB")

    put("views.create_s", per(p => sumOps(p, named("create_views"))(_.seconds)), "s")
    viewNames.foreach { v =>
      // the median single read of the view across the traced passes
      val xs = traced.flatMap(_.ops).filter(o => o.name == s"view:$v" && o.ok)
        .map(_.seconds)
      put(s"views.${v}_s", median(xs), "s", xs.size)
    }

    Workload.curationQueries.foreach { case (q, _) =>
      put(s"queries.${q}_s", per(p => sumOps(p, named(q))(_.seconds)), "s")
      put(s"queries.${q}_jobs", per(p => sumOps(p, named(q))(_.jobs)), "count")
    }
    families.foreach { f =>
      val fam: OpRec => Boolean = o => o.family == f
      put(s"ops.${f}_s", per(p => sumOps(p, fam)(_.seconds)), "s")
      put(s"ops.${f}_jobs", per(p => sumOps(p, fam)(_.jobs)), "count")
    }

    val k = Kernels.run(a.seed)
    put("functions.pq_encode_rows_per_s", k("pq_encode"), "rows/s", Kernels.Reps)
    put("functions.pq_adc_rows_per_s", k("pq_adc"), "rows/s", Kernels.Reps)
    put("functions.subword_rows_per_s", k("subword"), "rows/s", Kernels.Reps)

    put("streaming.batches", per(p => sumOps(p, all)(_.batchMs.size)), "count")
    put("streaming.batch_p50_ms", per(p =>
      median(p.ops.flatMap(_.batchMs).map(_.toDouble).toSeq)), "ms")
    put("streaming.add_batch_ms", per(p => sumOps(p, all)(_.addBatchMs)), "ms")
    put("streaming.planning_ms", per(p => sumOps(p, all)(_.streamPlanningMs)), "ms")
    put("streaming.commit_ms", per(p => sumOps(p, all)(_.commitMs)), "ms")
    put("streaming.input_rows", per(p => sumOps(p, all)(_.inputRows)), "count")
    put("streaming.state_rows", per(p =>
      sumOps(p, all)(_.stateRowsByQuery.values.sum)), "count")

    put("jvm.gc_s", per(_.gcMs / 1000.0), "s")
    put("jvm.heap_after_gc_mb", per(_.heapPeakMb), "MB")

    val tMed = median(traced.map(_.seconds))
    val uMed = median(untraced.map(_.seconds))
    put("bench.trace_overhead_frac", if (uMed > 0) tMed / uMed - 1.0 else 0.0,
      "ratio")
    put("bench.uncovered_frac", per { p =>
      (p.seconds - p.ops.map(_.seconds).sum - p.drainNs / 1e9) / p.seconds
    }, "ratio")
    require(n > 0, "a traced run needs at least one traced pass")
    out.map { case (k, (v, unit, samples)) =>
      k -> Map("value" -> v, "unit" -> unit, "n" -> samples) }.toMap
  }

  def jvmEvidence(): Map[String, Any] = {
    val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val upS = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getUptime / 1000.0
    val cpuS = os.getProcessCpuTime / 1e9
    Map("cpu_s" -> cpuS, "wall_s" -> upS, "cpu_per_wall" -> cpuS / upS,
      "peak_rss_mb" -> peakRssMb())
  }
}

/** Heap figures from the collectors' notifications, between a `mark()` and
  * the `Heap` reading after it: bytes allocated (bytes the collections
  * freed plus the growth of the heap in use) and the largest heap in use
  * right after a collection. Notifications arrive asynchronously, so both
  * ends first wait until every collection the JVM counted was delivered. */
object HeapWatch {
  import java.lang.management.{ManagementFactory, MemoryType, MemoryUsage}
  import javax.management.{Notification, NotificationEmitter, NotificationListener}
  import javax.management.openmbean.CompositeData
  import com.sun.management.GarbageCollectionNotificationInfo

  final case class Heap(allocBytes: Long, peakAfterGcBytes: Long)

  private val beans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  private def counted: Long = beans.map(_.getCollectionCount.max(0L)).sum
  private var seen = counted // collections delivered, or done before this
  private var reclaimed = 0L
  private var peak = 0L
  private var startUsed = 0L

  private def heapUsed(m: java.util.Map[String, MemoryUsage]): Long =
    m.asScala.collect { case (k, u) if heapPools(k) => u.getUsed }.sum

  private val listener: NotificationListener = (n: Notification, _: AnyRef) =>
    if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
      val gc = GarbageCollectionNotificationInfo.from(
        n.getUserData.asInstanceOf[CompositeData]).getGcInfo
      val after = heapUsed(gc.getMemoryUsageAfterGc)
      val before = heapUsed(gc.getMemoryUsageBeforeGc)
      synchronized {
        seen += 1
        reclaimed += before - after
        peak = math.max(peak, after)
      }
    }
  beans.foreach {
    case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
    case _ =>
  }

  /** The heap in use once no counted collection is still undelivered (or
    * after 5 s, so a lost notification cannot hang the run). */
  private def settledUsed(): Long = {
    val deadline = System.nanoTime() + 5000000000L
    var used = -1L
    while (used < 0) {
      val c = counted
      val u = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
      if ((synchronized(seen) >= c && counted == c) || System.nanoTime() > deadline)
        used = u
      else Thread.sleep(2)
    }
    used
  }

  def mark(): Unit = {
    val used = settledUsed()
    synchronized { reclaimed = 0L; peak = 0L; startUsed = used }
  }

  def read(): Heap = {
    val used = settledUsed()
    synchronized { Heap(reclaimed + used - startUsed, peak) }
  }
}
