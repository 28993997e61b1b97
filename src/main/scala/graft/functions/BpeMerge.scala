package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** The BPE merge kernel: every caller of the trained tokenizer (the
  * [[graft.ops.Bpe.train]] loop, the dictionary encode, the row-local
  * token count and the `bpe_token_count` SQL function) goes through these
  * static functions, so there is exactly one definition of what applying
  * a merge table means.
  *
  * A word's symbol string is its code points joined and wrapped by the
  * 0x1F unit separator (SEP) — byte for byte what
  * `SEP || regexp_replace(word, '(.)', '$1' || SEP)` builds, so a line
  * terminator, which regex `.` does not match, gets no SEP after it.
  * Applying merge (l, r) is the plain replace SEP l SEP r SEP -> SEP lr
  * SEP ([[UTF8String.replace]]: left to right, non-overlapping, resuming
  * after each replacement — DuckDB's `replace` does the same), swept at
  * most [[Sweeps]] times. A run like b^16 under (b, b) therefore ends as
  * alternating bb/b symbols, not as classic first-occurrence BPE's
  * output; that sweep semantics is the tokenizer's defined behavior and
  * is spec-pinned. A sweep that replaces nothing leaves the string as it
  * is, so the remaining sweeps of that merge are skipped: every replace
  * shortens the string by one byte, which makes "nothing replaced"
  * a length comparison.
  *
  * The expression form ([[BpeTokenCount]]) is one call into
  * [[tokenCount]] per row, so a plan stays small whatever the merge
  * count (the [[PqOps]] precedent), and the Column API and the SQL
  * registry build the same node.
  */
object BpeMerge {

  /** 0x1F unit separator — never appears in text tokens. */
  final val Sep: Char = '\u001f'
  private final val SepByte: Byte = 0x1f

  /** Replace sweeps per merge rule. */
  final val Sweeps = 6

  /** A frozen merge table in rank order, shipped to executors as a
    * codegen reference object or a task closure: per rank the pattern
    * SEP l SEP r SEP and its replacement SEP lr SEP. */
  final class Model(val pats: Array[UTF8String], val reps: Array[UTF8String])
      extends Serializable {
    def size: Int = pats.length
    override def toString: String = s"$size merges"
  }

  def model(merges: Seq[(String, String)]): Model = new Model(
    merges.map { case (l, r) =>
      UTF8String.fromString(s"$Sep$l$Sep$r$Sep") }.toArray,
    merges.map { case (l, r) => UTF8String.fromString(s"$Sep$l$r$Sep") }.toArray)

  /** Initial symbol string of a word: SEP, then every code point followed
    * by SEP unless it is one of the line terminators regex `.` skips. */
  def init(word: String): UTF8String = {
    val sb = new java.lang.StringBuilder(word.length * 2 + 1)
    sb.append(Sep)
    var i = 0
    while (i < word.length) {
      val cp = word.codePointAt(i)
      sb.appendCodePoint(cp)
      if (cp != '\n' && cp != '\r' && cp != 0x85 && cp != 0x2028 &&
          cp != 0x2029) sb.append(Sep)
      i += Character.charCount(cp)
    }
    UTF8String.fromString(sb.toString)
  }

  /** Apply ranks [from, until) of `m` to a symbol string, in rank order. */
  def applyMerges(sym: UTF8String, m: Model, from: Int,
      until: Int): UTF8String = {
    var s = sym
    var i = from
    while (i < until) {
      var k = 0
      while (k < Sweeps) {
        val t = s.replace(m.pats(i), m.reps(i))
        if (t.numBytes == s.numBytes) k = Sweeps
        else { s = t; k += 1 }
      }
      i += 1
    }
    s
  }

  /** A word through the whole merge table. */
  def encode(word: String, m: Model): UTF8String =
    applyMerges(init(word), m, 0, m.size)

  /** The non-empty SEP-delimited symbols of a symbol string, as slices
    * of its bytes. */
  def symbols(sym: UTF8String): Array[UTF8String] = {
    val b = sym.getBytes
    val out = Array.newBuilder[UTF8String]
    var start = 0
    var i = 0
    while (i <= b.length) {
      if (i == b.length || b(i) == SepByte) {
        if (i > start) out += UTF8String.fromBytes(b, start, i - start)
        start = i + 1
      }
      i += 1
    }
    out.result()
  }

  /** Number of non-empty SEP-delimited symbols. */
  def symbolCount(sym: UTF8String): Int = {
    val b = sym.getBytes
    var n = 0
    var i = 0
    while (i < b.length) {
      if (b(i) != SepByte && (i == 0 || b(i - 1) == SepByte)) n += 1
      i += 1
    }
    n
  }

  /** Whole-text token count: the non-empty space-separated words of
    * `text`, each through the merge table, symbol counts summed. */
  def tokenCount(text: UTF8String, m: Model): Long = {
    val s = text.toString
    var n = 0L
    var i = 0
    while (i < s.length) {
      val sp = s.indexOf(' ', i)
      val j = if (sp < 0) s.length else sp
      if (j > i) n += symbolCount(encode(s.substring(i, j), m))
      i = j + 1
    }
    n
  }
}

/** BPE token count of a text under a frozen merge table
  * ([[BpeMerge.tokenCount]]); NULL text counts NULL. */
case class BpeTokenCount(child: Expression, model: BpeMerge.Model)
    extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "bpe_token_count"
  override def nullSafeEval(input: Any): Any =
    BpeMerge.tokenCount(input.asInstanceOf[UTF8String], model)
  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val m = ctx.addReferenceObj("bpeModel", model,
      classOf[BpeMerge.Model].getName)
    defineCodeGen(ctx, ev, c => s"graft.functions.BpeMerge.tokenCount($c, $m)")
  }
  override protected def withNewChildInternal(newChild: Expression): BpeTokenCount =
    copy(child = newChild)
}
