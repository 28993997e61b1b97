package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Paths

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.perfbench.Bridge
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

final case class Args(workload: String, seed: Long, seconds: Double,
    trace: Boolean, cores: Int, work: String, sfDir: Option[String],
    accounts: Option[Int], minPasses: Int, maxPasses: Int,
    corrupt: Option[String], t0Ms: Long, queries: Option[Seq[String]],
    spans: Option[String])

/** The arguments run.py passes. It owns every default, so each general
  * option is required here; `sf` and `accounts` are the workloads' own. */
object Args {
  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(
        s"expected --key value, got ${other.mkString(" ")}")
    }.toMap
    def need(k: String): String = m.getOrElse(k,
      throw new IllegalArgumentException(s"missing --$k"))
    def opt(k: String): Option[String] = m.get(k).filter(_.nonEmpty)
    Args(
      workload = need("workload"), seed = need("seed").toLong,
      seconds = need("seconds").toDouble, trace = need("trace") == "1",
      cores = need("cores").toInt, work = need("work"),
      sfDir = opt("sf"), accounts = opt("accounts").map(_.toInt),
      minPasses = need("min-passes").toInt, maxPasses = need("max-passes").toInt,
      corrupt = opt("corrupt"), t0Ms = need("t0-ms").toLong,
      queries = opt("queries").map(_.split(",").toSeq.filter(_.nonEmpty)),
      spans = opt("spans"))
  }
}

/** One pass: its ops in order, its window, and what was measured around it. */
final class PassRec(val idx: Int, val traced: Boolean) {
  val ops = ArrayBuffer.empty[OpRec]
  var t0 = 0L
  var t1 = 0L
  var e0 = 0L // epoch ms
  var e1 = 0L
  var drainNs = 0L
  var gcMs = 0L
  var filesWritten = 0L
  var bytesWritten = 0L
  var allocMb = 0.0
  var heapPeakMb = 0.0
  val extra = mutable.Map.empty[String, Double]
  def seconds: Double = (t1 - t0) / 1e9
}

/** A read's collected output, kept from the checked pass for the oracle. */
final case class Output(op: String, check: Check, schema: StructType,
    rows: Array[Row])

/** The surface a workload runs its ops through. Every op is timed; a read's
  * rows are hashed, and on the checked pass kept for the oracle. */
final class Ctx(runner: Runner, val pass: PassRec, var session: SparkSession) {
  def freshSession(): SparkSession = {
    val s = runner.base.newSession()
    s.conf.set("spark.sql.shuffle.partitions", runner.args.cores.toString)
    session = s
    s
  }

  def step[T](name: String, family: String)(body: => T): Option[T] =
    runner.timed(pass, name, family)(body)

  def read(name: String, family: String, check: Option[Check])(
      df: => DataFrame): Unit = {
    val got = runner.timed(pass, name, family) {
      val d = df
      (d.schema, d.collect())
    }
    got.foreach { case (schema, rows0) =>
      val op = pass.ops.last
      val rows =
        if (runner.args.corrupt.contains(name) && rows0.nonEmpty) rows0.drop(1)
        else rows0
      op.rows = rows.length
      op.hash = Canon.hash(rows)
      if (runner.isChecked(pass) && check.isDefined &&
          !runner.outputs.exists(_.op == name))
        runner.outputs += Output(name, check.get, schema, rows)
    }
  }
}

final class Runner(val base: SparkSession, val args: Args) {
  val tracer = new Tracer
  val outputs = ArrayBuffer.empty[Output]
  private val sc = base.sparkContext
  private val gcBeans =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
  private def gcMs: Long = gcBeans.map(_.getCollectionTime).filter(_ > 0).sum

  private var checkedPass: PassRec = null
  def isChecked(p: PassRec): Boolean = p eq checkedPass

  def timed[T](pass: PassRec, name: String, family: String)(
      body: => T): Option[T] = {
    val op = new OpRec(pass.idx, name, family)
    pass.ops += op
    if (pass.traced) {
      tracer.begin(op)
      sc.setLocalProperty(Tracer.OpKey, op.id)
    }
    op.t0 = System.nanoTime()
    val out =
      try Some(body)
      catch {
        case t: Throwable =>
          op.ok = false
          op.error = s"${t.getClass.getName}: ${t.getMessage}".take(500)
          System.err.println(s"[perfbench] op $name failed: ${op.error}")
          None
      }
    op.t1 = System.nanoTime()
    if (pass.traced) {
      val d0 = System.nanoTime()
      Bridge.drain(sc)
      pass.drainNs += System.nanoTime() - d0
      sc.setLocalProperty(Tracer.OpKey, null)
      tracer.end()
    }
    out
  }

  private def runPass(wl: Workload, idx: Int, traced: Boolean,
      warm: Boolean): PassRec = {
    val p = new PassRec(idx, traced)
    if (!warm && checkedPass == null) checkedPass = p
    val tmp = new File(args.work, "tmp")
    val before = if (traced) Disk.snapshot(tmp) else Map.empty[String, (Long, Long)]
    if (traced) sc.addSparkListener(tracer.listener)
    val ctx = new Ctx(this, p, base)
    val g0 = gcMs
    HeapWatch.mark()
    p.e0 = System.currentTimeMillis()
    p.t0 = System.nanoTime()
    try wl.pass(ctx)
    finally {
      p.t1 = System.nanoTime()
      p.e1 = System.currentTimeMillis()
      p.gcMs = gcMs - g0
      val heap = HeapWatch.read()
      p.allocMb = heap.allocBytes / (1024.0 * 1024.0)
      p.heapPeakMb = heap.peakAfterGcBytes / (1024.0 * 1024.0)
      if (traced) {
        Bridge.drain(sc)
        sc.removeSparkListener(tracer.listener)
        val changed = Disk.changed(before, Disk.snapshot(tmp))
        p.filesWritten = changed.size.toLong
        p.bytesWritten = changed.values.sum
      }
    }
    if (isChecked(p)) lastCheckedCtx = ctx
    p
  }
  private var lastCheckedCtx: Ctx = null

  def run(wl: Workload): Map[String, Any] = {
    // Two untimed warm passes: the first compiles codegen and fills the
    // fixture memos, and the passes right after it still run 10-40% slower
    // while the JIT catches up; timing from the third pass on keeps that
    // drift out of the figures.
    val warm = Seq(-2, -1).map(i => runPass(wl, i, traced = false, warm = true))
    val firstTimedMs = System.currentTimeMillis()
    val timed = ArrayBuffer.empty[PassRec]
    val w0 = System.nanoTime()
    def elapsed = (System.nanoTime() - w0) / 1e9
    // A traced run alternates untraced and traced passes, starting and
    // ending untraced, so the tracer's overhead is measured against passes
    // on both sides of it in the same JVM.
    val minPasses = if (args.trace) math.max(3, args.minPasses) else args.minPasses
    while (timed.size < minPasses || (args.trace && timed.size % 2 == 0) ||
        (elapsed < args.seconds && timed.size < args.maxPasses)) {
      val traced = args.trace && timed.size % 2 == 1
      timed += runPass(wl, timed.size, traced, warm = false)
    }
    val windowS = elapsed

    wl.finish(lastCheckedCtx)
    val checks = writeOutputs()
    val all = warm ++ timed.toSeq
    val ops = all.flatMap(_.ops)
    val reference = timed.head.ops.filter(_.ok).groupBy(_.name)
      .map { case (n, os) => n -> os.head.hash }
    val mismatched = ops.filter(o => o.ok && o.hash.nonEmpty &&
      reference.get(o.name).exists(_ != o.hash))
    mismatched.map(_.name).distinct.foreach(n =>
      System.err.println(s"[perfbench] $n: output differs between passes"))

    args.spans.foreach(f => Spans.write(f, timed.filter(_.traced).toSeq))
    val metrics = Metrics.endToEnd(args, timed.toSeq, firstTimedMs) ++
      (if (args.trace) Metrics.perLayer(args, wl, base, timed.toSeq) else Map())
    Map(
      "workload" -> wl.name,
      "metrics" -> metrics,
      "attempted" -> ops.size,
      "failed" -> ops.count(!_.ok),
      "failed_ops" -> ops.filter(!_.ok).map(o => s"${o.name}: ${o.error}").distinct,
      "checked" -> ops.count(o => o.ok && o.hash.nonEmpty),
      "inconsistent" -> mismatched.size,
      "inconsistent_ops" -> mismatched.map(_.name).distinct,
      "passes" -> timed.size,
      "window_s" -> windowS,
      "warm_s" -> warm.map(_.seconds),
      "pass_s" -> timed.map(_.seconds),
      "pass_alloc_mb" -> (warm ++ timed).map(_.allocMb),
      "op_s" -> timed.flatMap(_.ops).groupBy(_.name).map { case (n, os) =>
        n -> Metrics.median(os.map(_.seconds).toSeq) },
      "checks" -> checks)
  }

  /** Write the checked pass's outputs as parquet, one directory per op
    * under `out/`, and beside them `oracle_sql.json` (directory name ->
    * oracle SQL): the layout the repository's tools/check.py reads. */
  private def writeOutputs(): Seq[Map[String, Any]] = {
    val out = s"${args.work}/out"
    val checks = outputs.toSeq.map { o =>
      val dir = o.op.replaceAll("[^A-Za-z0-9_.-]", "_")
      base.createDataFrame(o.rows.toSeq.asJava, o.schema).coalesce(1)
        .write.mode("overwrite").parquet(s"$out/$dir")
      (o, dir)
    }
    val sql = checks.flatMap { case (o, dir) =>
      graft.SparkEntry.oracleSql.get(o.check.oracle).map(q => dir -> o.check.sql(q))
    }.toMap
    if (checks.nonEmpty)
      java.nio.file.Files.write(Paths.get(out, "oracle_sql.json"),
        Json(sql).getBytes(StandardCharsets.UTF_8))
    checks.map { case (o, dir) =>
      Map("op" -> o.op, "dir" -> dir, "rows" -> o.rows.length) }
  }
}

/** The traced passes' spans, one JSON object per line: pass -> op -> Spark
  * job, each with an id and its parent's id, epoch-ms bounds, and the op's
  * attributed counters. */
object Spans {
  def write(file: String, passes: Seq[PassRec]): Unit = {
    val lines = passes.flatMap { p =>
      val pid = s"pass${p.idx}"
      Json(Map("id" -> pid, "parent" -> "", "kind" -> "pass",
        "name" -> s"pass ${p.idx}", "start_ms" -> p.e0, "end_ms" -> p.e1)) +:
        p.ops.toSeq.flatMap { o =>
          val e0 = p.e0 + (o.t0 - p.t0) / 1000000L
          Json(Map("id" -> o.id, "parent" -> pid, "kind" -> "op",
            "name" -> o.name, "family" -> o.family, "start_ms" -> e0,
            "end_ms" -> (e0 + (o.t1 - o.t0) / 1000000L), "ok" -> o.ok,
            "jobs" -> o.jobs, "stages" -> o.stages, "tasks" -> o.tasks,
            "task_ms" -> o.taskMs, "actions" -> o.actions, "rows" -> o.rows,
            "planning_ms" -> o.planningMs, "batches" -> o.batchMs.size)) +:
            o.jobSpans.toSeq.map { case (j, (a, b)) =>
              Json(Map("id" -> s"${o.id}:job$j", "parent" -> o.id,
                "kind" -> "job", "name" -> s"job $j", "start_ms" -> a,
                "end_ms" -> b))
            }
        }
    }
    val f = new File(file)
    f.getParentFile.mkdirs()
    java.nio.file.Files.write(f.toPath,
      lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
  }
}

/** Canonical, order-independent hash of collected rows. */
object Canon {
  private def fmt(v: Any): String = v match {
    case null => "NULL"
    case b: Array[Byte] => b.map("%02x".format(_)).mkString
    case s: scala.collection.Seq[_] => s.map(fmt).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => fmt(k) + "->" + fmt(x) }.sorted
        .mkString("{", ",", "}")
    case r: Row => r.toSeq.map(fmt).mkString("(", ",", ")")
    case d: java.math.BigDecimal => d.toPlainString
    case x => x.toString
  }
  def hash(rows: Array[Row]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.map(fmt).sorted.foreach { s =>
      md.update(s.getBytes(StandardCharsets.UTF_8)); md.update('\n'.toByte)
    }
    md.digest().take(12).map("%02x".format(_)).mkString
  }
}

/** File listings for the bytes and files a traced pass writes. */
object Disk {
  def snapshot(root: File): Map[String, (Long, Long)] =
    if (!root.exists()) Map.empty
    else {
      val s = java.nio.file.Files.walk(root.toPath)
      try s.iterator().asScala.filter(p => java.nio.file.Files.isRegularFile(p))
        .flatMap { p =>
          scala.util.Try { val f = p.toFile; p.toString -> (f.length, f.lastModified) }
            .toOption
        }.toMap
      finally s.close()
    }

  /** Files new or modified between two snapshots, with their sizes. */
  def changed(before: Map[String, (Long, Long)],
      after: Map[String, (Long, Long)]): Map[String, Long] =
    after.collect { case (p, (len, mt)) if !before.get(p).contains((len, mt)) =>
      p -> len }
}

/** JSON text of maps, sequences, options, strings and numbers. */
object Json {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
  def apply(v: Any): String = mapper.writeValueAsString(v)
}

object Main {
  def main(argv: Array[String]): Unit = {
    val a = Args.parse(argv)
    HeapWatch.mark() // registers its listener before the first collection
    val spark = SparkSession.builder()
      .master(s"local[${a.cores}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", a.cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val result =
      try new Runner(spark, a).run(Workload(a))
      finally spark.stop()
    val out = Json(result ++ Map("jvm" -> Metrics.jvmEvidence()))
    java.nio.file.Files.write(Paths.get(a.work, "result.json"),
      out.getBytes(StandardCharsets.UTF_8))
  }
}
