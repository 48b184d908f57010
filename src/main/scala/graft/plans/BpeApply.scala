package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Rank-greedy BPE merge application over a mutable per-word symbol table —
  * the single-pass replacement for the literal replace CHAIN formulation
  * ([[graft.operators.TextOps.bpeApply]]'s original form: one full-string
  * regexp wrap + one `replace` pass PER MERGE, each allocating a fresh
  * string; the r12 10× stress probe priced that at a 14-pass constant,
  * 15.2 s on the 10× corpus). Here each word's characters become a symbol
  * array once, every merge is one leftmost-nonoverlapping sweep over it
  * (in-place, index arithmetic only), and the sep-joined output string is
  * built once.
  *
  * SEMANTIC PARITY with the replace chain is exact on the chain's own
  * domain (text free of the separator character), INCLUDING its subtle
  * boundary rule: `replace` scans the ORIGINAL string left-to-right
  * non-overlapping, and consecutive merge sites SHARE a separator
  * character ("·a·b·a·b·" has its second match starting on the first
  * match's trailing '·') — so the pair starting IMMEDIATELY after a
  * merge is skipped within that pass (in "a b a b a b" with merge (a,b),
  * pairs 0-1 and 4-5 merge; 2-3 does not). The sweep below replicates
  * that with a forced copy after each merge. Pinned by a randomized
  * property test against the chain formulation (which CAUGHT the naive
  * every-adjacent-pair sweep) AND by the unchanged DuckDB oracle (which
  * still runs the chain). Comparison is per UTF-16 code unit at
  * symbolization — identical to the chain's `(\\S)` per-character wrap
  * on the ASCII/BMP domain. Input contract (both formulations): text is
  * space-separated tokens of non-whitespace characters, free of the
  * separator character — non-space whitespace would be wrapped by neither
  * `(\\S)` nor recognized as a word break by split(' '). */
final class BpeMerger(val sep: String,
                      val merges: Array[(String, String)]) extends Serializable {

  def merge(text: UTF8String): UTF8String =
    UTF8String.fromString(mergeStr(text.toString))

  def mergeStr(text: String): String = {
    val words = text.split(" ", -1)
    // Second boundary quirk of the chain (probed identical in Java regex
    // AND DuckDB RE2): "(^| )" matches zero-width ^ at position 0 and the
    // matcher bumps PAST it, so a single leading space never receives its
    // separator — the word immediately after it can never anchor a merge
    // at its FIRST pair (the pattern's leading '·' is missing in every
    // pass). Replicated exactly; found by the randomized chain-parity
    // property, not by inspection.
    val blockedWord =
      if (text.length > 1 && text.charAt(0) == ' ' && text.charAt(1) != ' ') 1 else -1
    val out = new java.lang.StringBuilder(text.length * 2)
    var w = 0
    while (w < words.length) {
      if (w > 0) out.append(' ')
      appendWord(words(w), out, blockFirst = w == blockedWord)
      w += 1
    }
    out.toString
  }

  private def appendWord(word: String, out: java.lang.StringBuilder,
                         blockFirst: Boolean): Unit = {
    val len = word.length
    if (len == 0) return
    val syms = new Array[String](len)
    var i = 0
    while (i < len) { syms(i) = String.valueOf(word.charAt(i)); i += 1 }
    var n = len
    var m = 0
    while (m < merges.length) {
      val a = merges(m)._1
      val b = merges(m)._2
      var r = 0 // read
      var q = 0 // write
      while (r < n) {
        if (r + 1 < n && !(blockFirst && r == 0) &&
          syms(r) == a && syms(r + 1) == b) {
          syms(q) = a + b
          r += 2
          q += 1
          // boundary rule (see class doc): the replace scan consumed the
          // separator BEFORE symbol r, so a pair starting exactly here is
          // ineligible in this pass — force-copy one symbol
          if (r < n) { syms(q) = syms(r); r += 1; q += 1 }
        } else {
          syms(q) = syms(r)
          r += 1
          q += 1
        }
      }
      n = q
      m += 1
    }
    var k = 0
    while (k < n) {
      if (k > 0) out.append(sep)
      out.append(syms(k))
      k += 1
    }
  }
}

/** `bpe_apply(text, array(sep, a0, b0, a1, b1, …)) → string` — tokenizer
  * inference: the trained merge table applied in rank order, words joined
  * by spaces and symbols within a word by `sep`. The second argument is a
  * FOLDABLE flat literal (separator first, then merge pairs in rank
  * order): the merge table is a model artifact folded into the plan, and
  * a per-row table would rebuild the merger per row (the
  * [[KeywordExpression]] literal-dictionary rule). */
case class BpeApplyExpr(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def dataType: DataType = StringType
  override def prettyName: String = "bpe_apply"
  override def inputTypes = Seq(StringType, ArrayType(StringType))

  override def checkInputDataTypes(): TypeCheckResult = {
    val base = KeywordScan.validatePatterns(super.checkInputDataTypes(), right, prettyName)
    if (base.isFailure) return base
    val n = right.eval(null).asInstanceOf[ArrayData].numElements()
    if (n % 2 != 1)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName: merge argument must be [sep, a0, b0, a1, b1, …] — " +
          s"odd element count expected, got $n")
    else TypeCheckResult.TypeCheckSuccess
  }

  /** Built once per plan on the driver; serialized to executors. */
  @transient private lazy val merger: BpeMerger = {
    val arr = right.eval(null).asInstanceOf[ArrayData]
    val flat = Seq.tabulate(arr.numElements())(i => arr.getUTF8String(i).toString)
    new BpeMerger(flat.head,
      flat.tail.grouped(2).map(p => (p(0), p(1))).toArray)
  }

  override def nullSafeEval(text: Any, pats: Any): Any =
    merger.merge(text.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (t, _) =>
      s"${ctx.addReferenceObj("bpeMerger", merger, classOf[BpeMerger].getName)}.merge($t)")

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}
