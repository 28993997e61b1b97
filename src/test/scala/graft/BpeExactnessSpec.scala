package graft

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.graftbridge.GraftBridge

import graft.functions.BpeMerge
import graft.ops.{Bpe, TextKit}

/** Property test for [[Bpe.train]]'s BATCHED multi-merge acceptance: the
  * batched schedule's exactness rests on a proof sketch (triple bounds,
  * z-collision stop, strict tie rejection) — this spec checks the claim
  * empirically at nMerges well past the multi-accept threshold, against
  * an independent SEQUENTIAL reference implementation (argmax by
  * (n DESC, lhs, rhs) with (lhs, rhs) in UTF-8 byte order, the same
  * Sweeps-bounded left-to-right merge application), asserting the FULL
  * (rank, lhs, rhs, pairN) sequence is identical on varied corpora; and
  * pins the merge kernel to the `String.replace` chain it replaced. */
class BpeExactnessSpec extends SparkSpec {
  import spark.implicits._

  private val Sep = ""

  /** Unsigned lexicographic order of UTF-8 bytes — Spark's and DuckDB's
    * string order (UTF-16 `String.compareTo` disagrees above U+FFFF). */
  private def utf8Compare(a: String, b: String): Int =
    java.util.Arrays.compareUnsigned(a.getBytes(UTF_8), b.getBytes(UTF_8))

  /** The symbol string the old `regexp_replace` chain built. */
  private def refInit(w: String): String =
    Sep + w.replaceAll("(.)", "$1" + Sep)

  /** The old encode: each merge as a [[BpeMerge.Sweeps]]-fold chain of
    * plain `replace` calls. */
  private def refEncode(w: String, merges: Seq[(String, String)]): String =
    merges.foldLeft(refInit(w)) { case (s, (l, r)) =>
      (1 to BpeMerge.Sweeps).foldLeft(s)((x, _) =>
        x.replace(Sep + l + Sep + r + Sep, Sep + l + r + Sep))
    }

  /** Driver-side sequential BPE: one argmax per merge, no batching —
    * the semantics [[Bpe.train]] promises to reproduce. */
  private def refTrain(text: String,
      nMerges: Int): Seq[(Int, String, String, Long)] = {
    val words = text.split(" ", -1).filter(_.nonEmpty)
      .groupBy(identity).map { case (w, ws) => (w, ws.length.toLong) }
      .toSeq
    var syms = words.map { case (w, c) => (refInit(w), c) }
    val out = Seq.newBuilder[(Int, String, String, Long)]
    var i = 0
    var done = false
    while (i < nMerges && !done) {
      val counts = scala.collection.mutable.Map.empty[(String, String), Long]
      syms.foreach { case (s, c) =>
        val toks = s.split(Sep).filter(_.nonEmpty)
        var j = 0
        while (j + 1 < toks.length) {
          val k = (toks(j), toks(j + 1))
          counts(k) = counts.getOrElse(k, 0L) + c
          j += 1
        }
      }
      if (counts.isEmpty) done = true
      else {
        val ((l, r), n) = counts.toSeq.min(
          new Ordering[((String, String), Long)] {
            def compare(a: ((String, String), Long),
                b: ((String, String), Long)): Int =
              if (a._2 != b._2) java.lang.Long.compare(b._2, a._2)
              else {
                val c = utf8Compare(a._1._1, b._1._1)
                if (c != 0) c else utf8Compare(a._1._2, b._1._2)
              }
          })
        out += ((i + 1, l, r, n))
        val pat = Sep + l + Sep + r + Sep
        val rep = Sep + l + r + Sep
        syms = syms.map { case (s, c) =>
          ((1 to BpeMerge.Sweeps).foldLeft(s)((x, _) => x.replace(pat, rep)), c)
        }
        i += 1
      }
    }
    out.result()
  }

  private def check(name: String, text: String, nMerges: Int): Int = {
    val d: DataFrame = Seq((0L, text)).toDF("doc_id", "text")
    val trained = Bpe.train(d, nMerges = nMerges)
    val got = trained.merges.map(m => (m.rank, m.lhs, m.rhs, m.pairN))
    val want = refTrain(text, nMerges)
    assert(got == want,
      s"$name: batched schedule diverged from sequential argmax at " +
        s"rank ${got.zip(want).indexWhere(p => p._1 != p._2) + 1}:\n" +
        s"  got  $got\n  want $want")
    TextKit.releaseCaches()
    trained.passes
  }

  test("batched merge selection == sequential argmax at nMerges=24 on " +
      "varied corpora, and batching actually multi-accepts") {
    val rnd = new scala.util.Random(41)
    // natural-ish: words over a small alphabet, zipf-ish repetition
    val vocab = Seq.fill(60)(
      (1 + rnd.nextInt(6) to 6).map(_ =>
        ('a' + rnd.nextInt(5)).toChar).mkString)
    val natural = Seq.fill(400)(
      vocab(math.min(rnd.nextInt(60), rnd.nextInt(60)))).mkString(" ")
    // skew: a few dominant words + long-tail noise
    val skew = (Seq.fill(50)("theq") ++ Seq.fill(30)("quick") ++
      Seq.fill(20)("brown") ++ Seq.fill(80)(
        (1 to 4).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString))
      .mkString(" ")
    // adversarial: same-char runs (sweep/overlap semantics) and words
    // engineered so merged symbols collide with later candidates
    val runs = (Seq.fill(12)("aaaaaaaa") ++ Seq.fill(9)("abab") ++
      Seq.fill(7)("aab") ++ Seq.fill(5)("ba") ++ Seq.fill(4)("bb"))
      .mkString(" ")
    val passes = Seq(
      check("natural", natural, 24),
      check("skew", skew, 24),
      check("runs", runs, 24))
    // the batching must actually engage somewhere (passes < merges for
    // at least one corpus), or this spec proves nothing about it
    assert(passes.exists(_ < 24),
      s"no corpus multi-accepted (passes: $passes) — batched path unexercised")
  }

  test("ties break by UTF-8 bytes: supplementary-plane vs U+E000-U+FFFF") {
    // every pair ties at 3; UTF-16 puts the surrogate-encoded symbols
    // (U+1F600, U+1D11E) BEFORE U+E000/U+FFFD, UTF-8 puts them after
    val text = (Seq.fill(3)("a\uE000") ++ Seq.fill(3)("a\uD83D\uDE00") ++
      Seq.fill(3)("\uFFFDb") ++ Seq.fill(3)("\uD834\uDD1Eb") ++
      Seq.fill(3)("\uD83D\uDE00\uE000")).mkString(" ")
    check("utf8-ties", text, 6)
    val first = Bpe.train(Seq((0L, text)).toDF("doc_id", "text"), nMerges = 1)
      .merges.head
    assert((first.lhs, first.rhs) == ("a", "\uE000"))
    TextKit.releaseCaches()
  }

  test("merge kernel == the Sweeps-fold String.replace chain on random words") {
    val rnd = new scala.util.Random(7)
    // ASCII, 2- and 3-byte UTF-8, a supplementary-plane char and a line
    // terminator (regex `.` skips it, so no SEP follows it)
    val alphabet = Seq("a", "b", "c", "\u00e9", "\uE000", "\uD83D\uDE00", "\n")
    def word(n: Int) = Seq.fill(n)(alphabet(rnd.nextInt(alphabet.size))).mkString
    val words = Seq.fill(300)(word(1 + rnd.nextInt(12))) :+ ("b" * 16)
    // merges over single symbols and over earlier merges' outputs
    val syms = scala.collection.mutable.ArrayBuffer(alphabet.init: _*)
    val merges = (1 to 10).map { _ =>
      val l = syms(rnd.nextInt(syms.size)); val r = syms(rnd.nextInt(syms.size))
      syms += l + r
      (l, r)
    } :+ (("b", "b"))
    val model = BpeMerge.model(merges)
    words.foreach { w =>
      assert(BpeMerge.encode(w, model).toString == refEncode(w, merges),
        s"kernel diverged on ${w.map(_.toInt.toHexString)}")
    }
    // b^16 under (b,b): alternating bb/b, no (b,b) left after 2 sweeps
    val b16 = BpeMerge.encode("b" * 16, BpeMerge.model(Seq(("b", "b"))))
    assert(BpeMerge.symbols(b16).map(_.toString).toSeq ==
      Seq("bb", "b", "bb", "b", "bb", "b", "bb", "b", "bb", "bb"))
    // the token count is the symbol count summed over space-split words
    val text = words.take(20).mkString("  ")
    val want = words.take(20).map(w =>
      refEncode(w, merges).split(Sep).count(_.nonEmpty).toLong).sum
    assert(BpeMerge.tokenCount(
      org.apache.spark.unsafe.types.UTF8String.fromString(text), model) == want)
  }

  test("train runs one Spark job per pass") {
    val rnd = new scala.util.Random(3)
    val text = Seq.fill(400)((1 to 2 + rnd.nextInt(5)).map(_ =>
      ('a' + rnd.nextInt(6)).toChar).mkString).mkString(" ")
    val d = Seq((0L, text)).toDF("doc_id", "text")
    val sc = spark.sparkContext
    val group = "bpe-train-budget"
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null &&
            e.properties.getProperty("spark.jobGroup.id") == group)
          jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    val trained = try {
      sc.setJobGroup(group, "budget")
      try Bpe.train(d, nMerges = 16) finally sc.clearJobGroup()
    } finally {
      GraftBridge.drainListenerBus(spark)
      sc.removeSparkListener(listener)
    }
    TextKit.releaseCaches()
    assert(trained.merges.size == 16)
    assert(jobs.get > 0 && jobs.get <= trained.passes + 2,
      s"${jobs.get} jobs for ${trained.passes} passes")
  }
}
