package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Shared text/vector primitives for the LLM-data-pipeline operators.
  *
  * Cross-engine determinism (the DuckDB oracle hash-compares results):
  *  - token hashing goes through md5 (identical in any engine) with the
  *    first 15 hex digits parsed as a 60-bit non-negative long;
  *  - embedding math quantizes floats to exact integers
  *    (`round(toDouble(x) * 1e7)`): both engines round the same IEEE double
  *    with the same half-away-from-zero rule, and everything after is
  *    overflow-safe BIGINT arithmetic — order-independent, so safe under
  *    distributed partial aggregation.
  */
object TextKit {

  /** Relations persisted by the ops operators (dedup pair generators, IVF
    * training). Bench/Verify release storage via
    * `spark.catalog.clearCache()`; long-lived sessions call
    * [[releaseCaches]] after materializing a returned DataFrame so
    * repeated invocations don't accumulate cached relations. */
  private val persistedRelations =
    java.util.Collections.synchronizedList(
      new java.util.ArrayList[org.apache.spark.sql.DataFrame]())

  private[ops] def tracked(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val p = df.persist()
    persistedRelations.add(p)
    val sc = scopeRelations.get()
    if (sc != null) sc.add(p)
    p
  }

  /** Thread-local cache scope: relations [[tracked]]/[[register]]ed by
    * THIS thread inside `f` are unpersisted when the scope closes. For
    * per-micro-batch loops (streamFeedIndexMaintain and friends), where
    * each batch builds fresh tracked intermediates that would otherwise
    * accumulate for the life of the stream — a global [[releaseCaches]]
    * there would also free caches belonging to CONCURRENT queries in the
    * same process (the pooled Verify), so the scope tracks only its own
    * thread's additions. Close happens AFTER `f` returns, so `f` must
    * materialize everything it needs (e.g. write its state out) before
    * returning. */
  private val scopeRelations =
    new ThreadLocal[java.util.List[org.apache.spark.sql.DataFrame]]()

  private[graft] def withCacheScope[A](f: => A): A = {
    val prev = scopeRelations.get()
    // synchronized: [[inParallel]] sibling threads share the scope
    val mine = java.util.Collections.synchronizedList(
      new java.util.ArrayList[org.apache.spark.sql.DataFrame]())
    scopeRelations.set(mine)
    try f finally {
      scopeRelations.set(prev)
      mine.forEach { df =>
        df.unpersist(blocking = false)
        persistedRelations.remove(df)
        if (prev != null) prev.remove(df)
        ()
      }
    }
  }

  /** [[tracked]] with LINEAGE TRUNCATION (Components.truncated): the
    * same persisted rows, but downstream plans see one constant-size
    * LogicalRDD leaf instead of the generator subtree. Use for cached
    * relations a pipeline references SEVERAL times — a cache entry
    * short-circuits execution but Catalyst still re-analyzes the full
    * embedded subtree at every action (q48's pair plan carried 64
    * copies of the shingle chain before truncation). */
  private[ops] def trackedLeaf(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    register(Components.truncated(df))

  /** Track an ALREADY-persisted relation (e.g. a frame returned to the
    * caller still cached, like connectedComponents' final labels) so
    * [[releaseCaches]] can free it — without this, long-lived sessions
    * accumulate cached relations only a full clearCache() could release. */
  private[ops] def register(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    persistedRelations.add(df)
    val sc = scopeRelations.get()
    if (sc != null) sc.add(df)
    df
  }

  /** Unpersist every relation cached by prior ops calls. */
  def releaseCaches(): Unit = {
    persistedRelations.forEach(df => { df.unpersist(blocking = false); () })
    persistedRelations.clear()
  }

  /** Run independent Spark actions from sibling threads and wait for
    * all (guide §2.6 — the scheduler happily overlaps jobs; actions are
    * only sequential because driver code calls them sequentially). After
    * every thread finished, the first failure rethrows with every other
    * failure attached as suppressed. */
  private[graft] def inParallel(fs: (() => Unit)*): Unit = {
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    // the caller's cache scope rides into the sibling threads, so
    // relations tracked there still release when the scope closes
    val parentScope = scopeRelations.get()
    val ts = fs.zipWithIndex.map { case (f, i) => new Thread(() => {
      scopeRelations.set(parentScope)
      try f() catch { case t: Throwable => errs.add(t); () }
    }, s"graft-inParallel-$i") }
    ts.foreach(_.start())
    ts.foreach(_.join())
    if (!errs.isEmpty) {
      val first = errs.poll()
      errs.forEach(t => first.addSuppressed(t))
      throw first
    }
  }

  /** Spread an under-partitioned input across the cluster's task slots —
    * a small corpus arriving as one parquet file would otherwise run a
    * whole CPU-heavy narrow stage (hashing, quantization) on one task. At
    * real scale the scan has more partitions than slots and this is a
    * no-op (no shuffle added). The partition count is ESTIMATED from
    * optimizer statistics (size / maxPartitionBytes — the same arithmetic
    * the file source uses to split scans), not from `df.rdd`: touching
    * the RDD materializes the physical plan just to read a number. The
    * estimate errs toward repartitioning, which never changes results —
    * every downstream op is partitioning-agnostic (hash-based sampling,
    * order-insensitive aggregates). */
  def spread(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val spark = df.sparkSession
    val slots = spark.sparkContext.defaultParallelism
    val maxPartBytes = spark.sessionState.conf.filesMaxPartitionBytes
    val sizeBytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val estParts = (sizeBytes / maxPartBytes) + (
      if (sizeBytes % maxPartBytes == 0) 0 else 1)
    if (estParts < slots) df.repartition(slots) else df
  }

  /** Whitespace tokens. */
  def tokens(text: Column): Column = split(text, " ")

  /** 60-bit stable hash of a string: first 15 hex digits of md5, with an
    * optional seed prefix (for the minhash family). Computed by the native
    * graft.functions.Md5Long60 (digest bytes straight to long); equality
    * with the composable `conv(substring(md5(x),1,15),16,10)` form is
    * spec-pinned. DuckDB equivalent:
    * `('0x' || substr(md5(seed || t), 1, 15))::BIGINT`. */
  def md5Long(c: Column, seed: Option[Int] = None): Column = {
    val seeded = seed.map(s => concat(lit(s.toString), c)).getOrElse(c)
    graft.functions.Md5Long60(seeded)
  }

  /** Word n-gram shingles straight from the text column — native
    * single-pass expression (graft.functions.WordShingles); empty array
    * when there are fewer than n tokens. */
  def shinglesOf(text: Column, n: Int = 2): Column =
    graft.functions.WordShingles(text, n)

  /** Word n-gram shingles from a token array; empty when there are fewer
    * than n tokens (guards Spark's descending `sequence(1,0)`). Kept for
    * callers that already hold a token array; prefer shinglesOf(text). */
  def shingles(toks: Column, n: Int = 2): Column = {
    val make = transform(sequence(lit(1), size(toks) - (n - 1)),
      i => concat_ws(" ", (0 until n).map(o => element_at(toks, i + o)): _*))
    when(size(toks) >= n, make).otherwise(array().cast(ArrayType(StringType)))
  }

  /** Quantize a float/double column to an exact integer at 1e7 scale. */
  def quant(x: Column): Column =
    round(x.cast(DoubleType) * lit(1e7)).cast(LongType)

  /** Quantize a float-array column to array<bigint> — do this ONCE per row
    * before any pairwise stage, so the O(pairs) work is pure integer
    * arithmetic (graft.functions.LongArrayDot, codegen'd). */
  def quantVec(a: Column): Column = transform(a, x => quant(x))

  /** Exact integer dot product of two PRE-QUANTIZED long-array columns. */
  def dotPre(a: Column, b: Column): Column =
    graft.functions.LongArrayDot(a, b)

  /** Exact integer dot product of two float-array columns (element count
    * must match). Convenience form; pairwise stages should pre-quantize
    * with quantVec and use dotPre instead. */
  def dotQ(a: Column, b: Column): Column = dotPre(quantVec(a), quantVec(b))

  /** Exact integer squared norm. */
  def normSqQ(a: Column): Column = dotQ(a, a)

  /** Cosine from exact integer dot/norms — double division/sqrt of
    * identical integers is deterministic across engines. */
  def cosineQ(dot: Column, n1: Column, n2: Column): Column =
    dot.cast(DoubleType) / (sqrt(n1.cast(DoubleType)) * sqrt(n2.cast(DoubleType)))

  /** DuckDB SQL fragments mirroring the above (kept adjacent so the two
    * dialects evolve together). */
  object ducksql {
    def md5Long(expr: String, seed: Option[Int] = None): String = {
      val seeded = seed.map(s => s"'$s' || $expr").getOrElse(expr)
      s"('0x' || substr(md5($seeded), 1, 15))::BIGINT"
    }
    def quant(expr: String): String =
      s"CAST(round(CAST($expr AS DOUBLE) * 1e7, 0) AS BIGINT)"
    /** dot of two DuckDB list expressions of length `dim`. */
    def dotQ(a: String, b: String, dim: Int = 64): String =
      s"list_sum(list_transform(generate_series(1, $dim), " +
        s"i -> ${quant(s"$a[i]")} * ${quant(s"$b[i]")}))"
  }
}
