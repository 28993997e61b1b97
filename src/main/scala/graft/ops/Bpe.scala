package graft.ops

import scala.collection.mutable

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.GraftBridge
import org.apache.spark.sql.types.StringType
import org.apache.spark.storage.StorageLevel
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.{BpeMerge, BpeTokenCount}
import TextKit._

/** Trained byte-pair-encoding tokenizer (Sennrich et al. 2016, "Neural
  * Machine Translation of Rare Words with Subword Units") — the real
  * tokenizer the pipeline's token budgeting/mixing/packing should count
  * with, replacing the "BPE-ish" regex proxy in
  * [[TextAnalysis.tokenCounts]].
  *
  * The classic scalable shape, translated to Spark:
  *
  *  1. ONE corpus-scale pass aggregates documents to a WORD-FREQUENCY
  *     table (symbol string, cnt per distinct word). Everything after
  *     runs over that vocab-sized relation, never the corpus — exactly
  *     how reference BPE trains from a word-count dict.
  *  2. Training keeps the word table as a persisted, partition-local
  *     RDD. Each pass is ONE Spark job: per partition, apply the previous
  *     pass's accepted merges, then count adjacent symbol pairs and
  *     triples weighted by word frequency; the counts reduce to the
  *     driver (bounded by |symbols|^2 resp. the distinct triples of the
  *     vocabulary, never by the corpus), which picks the pass's merges.
  *     Driver state is the merge list and one pass's counts.
  *  3. Training, encoding and counting all apply merges through ONE
  *     native kernel ([[graft.functions.BpeMerge]]): the column form is
  *     a single codegen'd `bpe_token_count` call per row — no UDF, no
  *     join against training state (the word-table join form is used
  *     for per-doc counting because it dedups the encode work per
  *     distinct word).
  *
  * Cross-engine determinism: a word's symbol string is its characters
  * joined by the 0x1F unit separator, wrapped in leading/trailing
  * separators; applying merge (l, r) is the plain string replacement
  * SEP+l+SEP+r+SEP -> SEP+lr+SEP, swept [[BpeMerge.Sweeps]] times —
  * byte-identical to DuckDB's `replace` chain in the oracle (see
  * [[graft.functions.BpeMerge]] for the sweep semantics, including the
  * spec-pinned b^16 case). Ties between equally frequent pairs break by
  * the UTF-8 BYTE order of (lhs, rhs) — Spark's and DuckDB's string
  * order, not Java's UTF-16 `String.compareTo`.
  *
  * 100 TB shape: the corpus is touched exactly twice (word counts;
  * final per-doc encode join) regardless of nMerges; `trainSampleMod`
  * hash-samples the TRAINING corpus (the [[Similarity.kmeansCentroids]]
  * policy — frequency counts on a 1/mod sample rank pairs nearly
  * identically) while encoding still covers everything, with a
  * per-character fallback for words outside the sampled vocabulary.
  */
object Bpe {

  /** A learned merge: rank order, left/right symbol, weighted count. */
  final case class Merge(rank: Int, lhs: String, rhs: String, pairN: Long)

  /** A trained tokenizer: the merge table plus the number of training
    * passes (one Spark job each) it took. */
  final case class Trained(merges: Seq[Merge], passes: Int)

  private def wordsOf(docs: DataFrame): DataFrame =
    docs.select(explode(tokens(col("text"))).as("word"))
      .filter(col("word") =!= "")

  /** The merge table as the kernel's frozen model. */
  def model(merges: Seq[Merge]): BpeMerge.Model =
    BpeMerge.model(merges.map(m => (m.lhs, m.rhs)))

  /** Whole-document token count as ONE row-local column expression —
    * every word through the merge kernel, symbol counts summed. No join,
    * no aggregation, no state: slots into any scan (the `tokCol` door in
    * the token budget/rate mixers) and is legal on a STREAM before any
    * stateful operator ([[graft.streaming.StreamingOps.streamBpeCounts]]).
    * Pays the encode per word OCCURRENCE; the dictionary-join form
    * ([[tokenCounts]]) pays it per DISTINCT word — pick by corpus shape. */
  def tokenCountExpr(text: Column, merges: Seq[Merge]): Column =
    GraftBridge.column(BpeTokenCount(GraftBridge.expression(text), model(merges)))

  private type Pair = (UTF8String, UTF8String)

  /** One pass's weighted adjacent-pair and adjacent-triple counts over
    * the word table's current symbols. */
  private final class Counts extends Serializable {
    val pairs = mutable.HashMap.empty[Pair, Long]
    val triples = mutable.HashMap.empty[(UTF8String, UTF8String, UTF8String), Long]

    def add(row: (UTF8String, Long)): Counts = {
      val s = BpeMerge.symbols(row._1)
      var i = 0
      while (i + 1 < s.length) {
        val p = (s(i), s(i + 1))
        pairs.update(p, pairs.getOrElse(p, 0L) + row._2)
        if (i + 2 < s.length) {
          val t = (s(i), s(i + 1), s(i + 2))
          triples.update(t, triples.getOrElse(t, 0L) + row._2)
        }
        i += 1
      }
      this
    }

    def merge(o: Counts): Counts = {
      o.pairs.foreach { case (k, n) => pairs.update(k, pairs.getOrElse(k, 0L) + n) }
      o.triples.foreach { case (k, n) =>
        triples.update(k, triples.getOrElse(k, 0L) + n) }
      this
    }
  }

  /** Candidate order: weighted count descending, then (lhs, rhs) by
    * UTF-8 bytes. */
  private val byRank: Ordering[(Pair, Long)] = new Ordering[(Pair, Long)] {
    def compare(a: (Pair, Long), b: (Pair, Long)): Int =
      if (a._2 != b._2) java.lang.Long.compare(b._2, a._2)
      else {
        val c = a._1._1.binaryCompare(b._1._1)
        if (c != 0) c else a._1._2.binaryCompare(b._1._2)
      }
  }

  /** Learn `nMerges` merge rules from the corpus. Returns the merge
    * table (driver-side, nMerges entries — the model) and the pass
    * count. `trainSampleMod` > 1 trains on the deterministic 1/mod md5
    * hash-sample of documents. The loop stops early if the vocabulary
    * runs out of adjacent pairs.
    *
    * BATCHED merge selection — one Spark job per pass, not per merge,
    * and EXACTLY the sequential argmax loop's output. Per pass, rank the
    * candidate pairs by (n DESC, lhs, rhs) and accept a PREFIX
    * c_1..c_m such that the sequential loop provably picks exactly
    * c_1, ..., c_m next:
    *  - c_1 is the true argmax — always accepted, so a pass always
    *    progresses and the worst case degrades to one merge per pass;
    *  - c_i (i>1) is accepted only if its symbols are disjoint from
    *    every earlier accepted merge's {lhs, rhs, lhs+rhs} — applying
    *    those merges then neither creates nor destroys occurrences of
    *    c_i, so its count and tie-break rank are unchanged when the
    *    sequential loop reaches it;
    *  - every pair a merge (l,r)→z can CREATE is (x,z) or (z,y);
    *    every occurrence of x·z was x·l·r before the merge (and of
    *    z·y was l·r·y), so its count is bounded by the pre-pass
    *    count of the TRIPLE (x,l,r) resp. (l,r,y). This holds for
    *    later merges in the same pass too: a created symbol z' ends
    *    with its rhs, so an adjacency through z' maps back to a
    *    pre-pass triple over original symbols. c_i is accepted only
    *    while the max triple bound over all earlier accepted merges
    *    is STRICTLY below n_i — no created pair can outrank it (a
    *    tie could win the lexicographic break, hence strict). The
    *    triple bound is far tighter than the naive pair bound
    *    max(count(x,l)), which on natural text stops nearly every
    *    pass after one merge (the top pairs share letters with
    *    other frequent pairs);
    *  - a z that collides with a symbol already active in some pair
    *    would ADD created counts onto that symbol's existing pairs,
    *    voiding the bound — acceptance stops after such a merge.
    * The first rejection ends the pass: a skipped candidate may belong
    * BETWEEN later ones in sequential order. The pass's accepted merges
    * are applied at the start of the next pass's job. */
  def train(docs: DataFrame, nMerges: Int = 8,
      trainSampleMod: Int = 1): Trained = {
    val base =
      if (trainSampleMod <= 1) docs
      else docs.filter(pmod(md5Long(col("doc_id").cast(StringType)),
        lit(trainSampleMod.toLong)) === 0)
    val sc = docs.sparkSession.sparkContext
    val words = wordsOf(base).queryExecution.toRdd
    val table: RDD[(UTF8String, Long)] = words
      .map(r => (r.getUTF8String(0).clone(), 1L))
      .reduceByKey(_ + _,
        math.max(1, math.min(words.getNumPartitions, sc.defaultParallelism)))
      .map { case (w, n) => (BpeMerge.init(w.toString), n) }
    val merges = mutable.ArrayBuffer.empty[Merge]
    var pending = model(Nil)
    var state: RDD[(UTF8String, Long)] = null
    var passes = 0
    var exhausted = false
    try {
      while (merges.size < nMerges && !exhausted) {
        passes += 1
        val prev = state
        val m = pending
        state = (if (prev == null) table
          else prev.map { case (s, n) => (BpeMerge.applyMerges(s, m, 0, m.size), n) })
          .persist(StorageLevel.MEMORY_AND_DISK)
        val counts = state.aggregate(new Counts)(_ add _, _ merge _)
        if (prev != null) prev.unpersist(blocking = false)
        val top = counts.pairs.toSeq.sorted(byRank).take(nMerges - merges.size)
        if (top.isEmpty) exhausted = true
        else {
          // per candidate (l,r): the max weighted count of the triples
          // (x,l,r) (bounds created left-pairs (x,z)) and (l,r,y)
          // (bounds created right-pairs (z,y)); per candidate z, whether
          // z is already an active symbol (a collision would merge
          // created counts into existing pairs, voiding the bound)
          val keys = top.map(_._1).toSet
          val leftMax = mutable.HashMap.empty[Pair, Long]
          val rightMax = mutable.HashMap.empty[Pair, Long]
          counts.triples.foreach { case ((a, b, c), n) =>
            if (keys((b, c))) leftMax((b, c)) = math.max(n, leftMax.getOrElse((b, c), n))
            if (keys((a, b))) rightMax((a, b)) = math.max(n, rightMax.getOrElse((a, b), n))
          }
          val zs = top.map { case ((l, r), _) => UTF8String.concat(l, r) }.toSet
          val zHit = counts.pairs.keysIterator
            .flatMap(p => Iterator(p._1, p._2)).filter(zs).toSet
          val before = merges.size
          val banned = mutable.Set.empty[UTF8String]
          var bound = Long.MinValue
          var open = true
          top.foreach { case ((l, r), n) =>
            if (open) {
              val z = UTF8String.concat(l, r)
              val conflicts = banned(l) || banned(r) || banned(z)
              if (banned.nonEmpty && (conflicts || bound >= n)) open = false
              else {
                merges += Merge(merges.size + 1, l.toString, r.toString, n)
                banned += l; banned += r; banned += z
                bound = math.max(bound, math.max(
                  leftMax.getOrElse((l, r), Long.MinValue),
                  rightMax.getOrElse((l, r), Long.MinValue)))
                if (zHit(z)) bound = Long.MaxValue
              }
            }
          }
          pending = model(merges.drop(before).toSeq)
        }
      }
    } finally if (state != null) state.unpersist(blocking = false)
    Trained(merges.toSeq, passes)
  }

  /** The learned merge table as a DataFrame — q124's output. */
  def mergeTable(docs: DataFrame, nMerges: Int = 8,
      trainSampleMod: Int = 1): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    train(docs, nMerges, trainSampleMod).merges
      .map(m => (m.rank, m.lhs, m.rhs, m.pairN))
      .toDF("rank", "lhs", "rhs", "pair_n")
  }

  /** Per-document token counts under the trained tokenizer — q125's
    * output and the drop-in upgrade for token budgeting/mixing/packing.
    * The corpus encodes via a distinct-word dictionary join (each
    * distinct word pays the merge kernel once); words missing from a
    * SAMPLED training vocabulary start from their per-character split
    * like every other word, so sampled training never drops a
    * document. Output: (doc_id, n_words, bpe_tokens, n_chars,
    * ratio_permille) — all exact integers. */
  def tokenCounts(docs: DataFrame, nMerges: Int = 8,
      trainSampleMod: Int = 1): DataFrame = {
    val merges = train(docs, nMerges, trainSampleMod).merges
    // every distinct corpus word through the merge kernel — covers
    // OOV-vs-training words by construction
    val dict = wordsOf(docs).distinct()
      .select(col("word"), tokenCountExpr(col("word"), merges).as("n_sym"))
    docs.select(col("doc_id"), explode(tokens(col("text"))).as("word"))
      .filter(col("word") =!= "")
      .groupBy(col("doc_id"), col("word")).agg(count(lit(1)).as("n"))
      .join(dict, Seq("word"))
      .groupBy(col("doc_id"))
      .agg(sum(col("n")).as("n_words"),
        sum(col("n") * col("n_sym")).as("bpe_tokens"),
        sum(col("n") * length(col("word"))).as("n_chars"))
      .select(col("doc_id"), col("n_words"), col("bpe_tokens"),
        col("n_chars"),
        expr("bpe_tokens * 1000 div n_chars").as("ratio_permille"))
  }
}
