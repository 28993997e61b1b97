package perfbench

import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.GenericArrayData

import graft.functions.{PqOps, SubwordDp}

/** Single-thread microbenchmarks of the native row kernels, called
  * directly on seed-generated inputs. Each figure is the median rows/s of
  * several timed repetitions after two warm-up repetitions. */
object Kernels {
  val Reps = 7

  private def rate(rows: Int)(body: => Unit): Double = {
    body; body
    val xs = (0 until Reps).map { _ =>
      val t0 = System.nanoTime()
      body
      rows / ((System.nanoTime() - t0) / 1e9)
    }
    Metrics.median(xs)
  }

  def run(seed: Long): Map[String, Double] = {
    val rnd = new scala.util.Random(seed)
    // PQ over 64-d quantized vectors: 8 subspaces x 8 dims x 16 codes
    val (m, subDim, codes) = (8, 8, 16)
    def q(): Long = rnd.nextInt(2001) - 1000L
    val cb = for (s <- 0 until m; c <- 0 until codes)
      yield (s, c.toLong, Seq.fill(subDim)(q()))
    val st = PqOps.buildState(cb, m, subDim, codes)
    val nVec = 20000
    val vecs = Array.fill(nVec)(
      new GenericArrayData(Array.fill[Any](m * subDim)(q())))
    var sink = 0L
    val encode = rate(nVec) {
      var i = 0
      while (i < nVec) { sink += PqOps.encode(vecs(i), st).numElements(); i += 1 }
    }
    val adc = rate(nVec) {
      var i = 0
      while (i < nVec) { sink += PqOps.adcTable(vecs(i), st).numElements(); i += 1 }
    }
    // subword DP over words of 4-16 chars; every single-char piece matches
    // (so each word segments) plus ~30% of the longer pieces
    val maxPiece = 6
    val nWords = 20000
    val words = Array.fill(nWords) {
      val n = 4 + rnd.nextInt(13)
      val pieces = for {
        pos <- 0 until n
        len <- 1 to math.min(maxPiece, n - pos)
        if len == 1 || rnd.nextDouble() < 0.3
      } yield new GenericInternalRow(
        Array[Any](pos, len, 1L + rnd.nextInt(100000))): Any
      (n, new GenericArrayData(pieces.toArray))
    }
    val subword = rate(nWords) {
      var i = 0
      while (i < nWords) {
        val (n, p) = words(i)
        sink += SubwordDp.segment(n, p, 1000000L, 999999L, maxPiece).numFields
        i += 1
      }
    }
    if (sink == 42L) println(sink) // keeps the results live
    Map("pq_encode" -> encode, "pq_adc" -> adc, "subword" -> subword)
  }
}
