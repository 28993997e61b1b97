package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Multi-dimensional data layout for file-level skipping — the Z-order
  * (Morton-curve) clustering that lake formats (Delta `OPTIMIZE ZORDER BY`,
  * Iceberg sort orders, Hudi clustering) use to make a 100 TB table
  * prunable on MORE THAN ONE column at once.
  *
  * Why it matters at scale: a table range-written on column X serves
  * `WHERE x = …` by reading ~1/nFiles of the data, but a predicate on Y
  * reads EVERYTHING — min/max stats on Y span the whole domain in every
  * file. Interleaving the bits of (x, y) into one sort key gives every
  * file a bounded rectangle in (x, y) space, so single- and
  * multi-dimension predicates all prune by file-footer (or manifest)
  * min/max stats. That pruning is the difference between a 100 TB scan
  * and a few-GB scan on the second dimension.
  *
  * Spark shape: the z-value is pure codegen'd integer bit arithmetic
  * (one expression, no UDF); the layout write is ONE
  * `repartitionByRange` shuffle on the z-value plus an in-partition
  * sort — exactly the cost of any clustered rewrite. Reads are plain
  * parquet scans: Spark's own row-group pruning uses the same stats
  * this layout tightens, and [[fileColumnStats]]/[[prunedFiles]]
  * expose the file-level manifest view a table format would consult.
  *
  * Determinism: the z-value is exact integer arithmetic reproduced by
  * the DuckDB oracle (same shifts, same masks); `quantize` is integer
  * multiply-then-div against EXPLICIT bounds, so no engine-specific
  * float rounding anywhere.
  */
object Layout {

  /** Interleave the low `bits` bits of two non-negative integer columns
    * into a Morton code: x's bit i lands at position 2i+1, y's at 2i.
    * Inputs must already lie in [0, 2^bits) — pair with [[quantize]].
    * Pure column arithmetic: folds to one codegen'd expression tree of
    * 2×`bits` shift/mask/or terms. */
  def zValue(x: Column, y: Column, bits: Int): Column = {
    require(bits >= 1 && bits <= 31, s"bits out of range: $bits")
    (0 until bits).foldLeft(lit(0L)) { (acc, i) =>
      acc
        .bitwiseOR(shiftleft(shiftright(x, i).bitwiseAND(lit(1L)), 2 * i + 1))
        .bitwiseOR(shiftleft(shiftright(y, i).bitwiseAND(lit(1L)), 2 * i))
    }
  }

  /** N-dimensional Morton interleave: bit i of column j lands at
    * position i*n + (n-1-j), so column 0 owns the most significant bit
    * of each round — the 2-D [[zValue]] generalized (zValueN(Seq(x, y),
    * b) == zValue(x, y, b)). n*bits must fit a non-negative long. */
  def zValueN(cols: Seq[Column], bits: Int): Column = {
    val n = cols.size
    require(n >= 2 && n <= 8, s"2..8 dimensions, got $n")
    require(bits >= 1 && n * bits <= 63, s"$n x $bits bits overflow long")
    cols.zipWithIndex.foldLeft(lit(0L)) { case (acc, (c, j)) =>
      (0 until bits).foldLeft(acc) { (a, i) =>
        a.bitwiseOR(shiftleft(shiftright(c, i).bitwiseAND(lit(1L)),
          i * n + (n - 1 - j)))
      }
    }
  }

  /** [[zValueN]] as a raw Catalyst tree — the SQL-function-registry twin
    * (`z_value_n` in [[graft.plans.GraftExtensions]]). A Column tree
    * cannot cross the registry boundary: Spark 4 wraps it in a
    * ColumnNodeExpression leaf the analyzer treats as opaque, so the
    * registered builder composes the same shape from Catalyst nodes.
    * Inputs are cast to BIGINT up front, so INT columns interleave
    * identically to the Column form. */
  def zValueNCatalyst(cols: Seq[org.apache.spark.sql.catalyst.expressions.Expression],
      bits: Int): org.apache.spark.sql.catalyst.expressions.Expression = {
    import org.apache.spark.sql.catalyst.expressions._
    import org.apache.spark.sql.types.LongType
    val n = cols.size
    require(n >= 2 && n <= 8, s"2..8 dimensions, got $n")
    require(bits >= 1 && n * bits <= 63, s"$n x $bits bits overflow long")
    cols.zipWithIndex.foldLeft(Literal(0L): Expression) {
      case (acc, (c, j)) =>
        val cl = Cast(c, LongType)
        (0 until bits).foldLeft(acc) { (a, i) =>
          BitwiseOr(a, ShiftLeft(
            BitwiseAnd(ShiftRight(cl, Literal(i)), Literal(1L)),
            Literal(i * n + (n - 1 - j))))
        }
    }
  }

  /** DuckDB twin of [[zValueN]]. */
  def zValueNSql(exprs: Seq[String], bits: Int): String = {
    val n = exprs.size
    require(n >= 2 && n <= 8 && bits >= 1 && n * bits <= 63)
    exprs.zipWithIndex.flatMap { case (e, j) =>
      (0 until bits).map(i =>
        s"((((($e) >> $i) & 1)::BIGINT) << ${i * n + (n - 1 - j)})")
    }.mkString("(", " | ", ")")
  }

  /** The same interleave as DuckDB SQL over two integer expressions —
    * the oracle twin of [[zValue]], generated from the same bit count. */
  def zValueSql(x: String, y: String, bits: Int): String = {
    require(bits >= 1 && bits <= 31, s"bits out of range: $bits")
    (0 until bits).map { i =>
      s"((((($x) >> $i) & 1) << ${2 * i + 1}) | (((($y) >> $i) & 1) << ${2 * i}))"
    }.mkString("(", " | ", ")")
  }

  /** Affine-quantize an integer column into [0, 2^bits) against EXPLICIT
    * inclusive bounds (from catalog stats or one cheap min/max aggregate
    * — never a per-row discovery pass): ((c - lo) * 2^bits) div (hi - lo
    * + 1), clamped. Integer multiply-then-div, identical in DuckDB. */
  def quantize(c: Column, lo: Long, hi: Long, bits: Int): Column = {
    require(hi >= lo, s"empty range [$lo, $hi]")
    val buckets = 1L << bits
    val span = hi - lo + 1
    val q = (least(greatest(c, lit(lo)), lit(hi)) - lit(lo)) * lit(buckets)
    q.divide(lit(span)).cast("long") // non-negative => trunc == floor div
  }

  /** DuckDB twin of [[quantize]]. */
  def quantizeSql(c: String, lo: Long, hi: Long, bits: Int): String = {
    val buckets = 1L << bits
    val span = hi - lo + 1
    s"((least(greatest($c, $lo), $hi) - $lo) * $buckets) // $span"
  }

  /** Write `df` Z-ordered on (x, y) into `numFiles` parquet files:
    * range-partition on the z-value (one shuffle; range boundaries from
    * Spark's reservoir sample of the key), sort within partitions, drop
    * the key. Every output file then covers a bounded rectangle of
    * (x, y) space — the property [[prunedFiles]] exploits. */
  def writeZOrdered(df: DataFrame, x: Column, y: Column, bits: Int,
      path: String, numFiles: Int): Unit = {
    val z = "__z_qch7dwoux1"
    df.withColumn(z, zValue(x, y, bits))
      .repartitionByRange(numFiles, col(z))
      .sortWithinPartitions(z)
      .drop(z)
      .write.mode("overwrite").parquet(path)
  }

  /** Linear baseline for the same comparison: range-write sorted on ONE
    * column. Perfect pruning on that column, none on any other. */
  def writeLinear(df: DataFrame, x: Column, path: String,
      numFiles: Int): Unit =
    df.repartitionByRange(numFiles, x)
      .sortWithinPartitions(x)
      .write.mode("overwrite").parquet(path)

  /** Hidden day-partitioning (the Iceberg partition-transform idea in
    * directory-layout form): the writer derives `__day` from the
    * event-time microseconds — readers never manage the partition column,
    * they query TIME and [[readDayRange]] translates the range to
    * partition filters (static pruning) plus the exact row predicate.
    * At 100 TB the translation is the difference between listing one
    * day's directories and scanning the table. */
  def writeDayPartitioned(df: DataFrame, tsUsCol: Column,
      path: String): Unit =
    df.withColumn("__ts_qch7dwoux1", tsUsCol.cast("long"))
      .withColumn("__day", expr("__ts_qch7dwoux1 div 86400000000"))
      .drop("__ts_qch7dwoux1")
      .write.partitionBy("__day").mode("overwrite").parquet(path)

  /** Read back a time range: the [from, to] microsecond window maps to
    * an inclusive day-partition range (pruned at PLAN time) and the
    * row-level predicate finishes the boundary days. `tsUsName` is the
    * stored microsecond column. */
  def readDayRange(spark: SparkSession, path: String, tsUsName: String,
      fromUs: Long, toUs: Long): DataFrame = {
    val fromDay = Math.floorDiv(fromUs, 86400000000L)
    val toDay = Math.floorDiv(toUs, 86400000000L)
    spark.read.parquet(path)
      .filter(col("__day").between(fromDay, toDay))
      .filter(col(tsUsName).between(fromUs, toUs))
      .drop("__day")
  }

  /** Per-file min/max of INT64 columns, read from parquet footers — the
    * file-level stats a lake manifest records at commit time. Driver
    * state is O(nFiles × nCols) metadata rows, the same order as the
    * manifest itself; at 100 TB these exact numbers come from the
    * manifest, not a footer sweep, but the VALUES are identical. */
  def fileColumnStats(spark: SparkSession, dir: String,
      cols: Seq[String],
      nameFilter: String => Boolean = _ => true): Seq[(String, String, Long, Long)] = {
    import org.apache.hadoop.fs.Path
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val conf = spark.sessionState.newHadoopConf()
    val fs = new Path(dir).getFileSystem(conf)
    val files = fs.listStatus(new Path(dir)).toSeq
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet") &&
        nameFilter(s.getPath.getName))
      .map(_.getPath)
    files.flatMap { p =>
      val reader = ParquetFileReader.open(HadoopInputFile.fromPath(p, conf))
      try {
        val blocks = reader.getFooter.getBlocks
        import scala.jdk.CollectionConverters._
        cols.flatMap { c =>
          val stats = blocks.asScala.flatMap(_.getColumns.asScala
            .filter(_.getPath.toDotString == c).map(_.getStatistics))
          if (stats.isEmpty) None
          else {
            val mins = stats.map(_.genericGetMin
              .asInstanceOf[java.lang.Long].longValue)
            val maxs = stats.map(_.genericGetMax
              .asInstanceOf[java.lang.Long].longValue)
            Some((p.getName, c, mins.min, maxs.max))
          }
        }
      } finally reader.close()
    }
  }

  /** How many files a box predicate must touch, judged exactly the way a
    * manifest-pruning scan does: keep a file iff EVERY predicate range
    * intersects that file's [min, max] for the column. */
  def prunedFiles(stats: Seq[(String, String, Long, Long)],
      ranges: Map[String, (Long, Long)]): Seq[String] = {
    val byFile = stats.groupBy(_._1)
    byFile.collect { case (f, ss)
        if ranges.forall { case (c, (lo, hi)) =>
          ss.find(_._2 == c).forall { case (_, _, mn, mx) =>
            mx >= lo && mn <= hi }
        } => f
    }.toSeq.sorted
  }
}
