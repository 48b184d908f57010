package graft.plans

import scala.collection.mutable

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Byte-level Aho–Corasick automaton (Aho & Corasick 1975, CACM 18(6)):
  * finds every dictionary phrase occurring as a substring of a text in ONE
  * pass over the text, independent of dictionary size.
  *
  * This is the scale-correct kernel for phrase blocklists, contamination
  * phrase lists, and PII keyword dictionaries: the naive formulations are
  * O(text × patterns) per row — `contains` once per phrase, or one giant
  * regex alternation whose NFA backtracks per position — and both get
  * linearly worse as the curation dictionary grows. The automaton is built
  * ONCE on the driver (O(total pattern bytes)), ships to executors inside
  * the serialized plan as a codegen reference object, and matching is
  * amortized O(text bytes): the fail-chain loop can only descend as far as
  * previous bytes ascended.
  *
  * Matching runs over UTF-8 BYTES, not decoded code points — no per-row
  * `toString` allocation. Byte-exact matching is substring-correct for
  * UTF-8: a valid encoded pattern can only match at code-point boundaries
  * because UTF-8 lead/continuation bytes are disjoint ranges.
  *
  * Representation: the root's transitions are a dense 256-entry table (most
  * scan positions sit at the root); inner nodes hold sorted parallel
  * key/next arrays probed by binary search — O(log fanout) per step instead
  * of 1 KiB per node, so a 100k-phrase dictionary stays a few MiB, not
  * gigabytes. Output lists are merged through fail links at BUILD time, so
  * emission at match time is a plain array walk. Per-row work never scales
  * with dictionary size either: hits collect into a growable buffer sized
  * by the MATCHES, not an nPatterns-wide scratch array.
  *
  * Patterns are deduplicated and sorted at construction, so pattern id
  * order IS lexicographic order — `matchArray` emits matched phrases
  * sorted (what the DuckDB oracle's `string_agg(... ORDER BY ...)`
  * produces) without comparing strings at match time.
  */
final class AhoCorasick private (
    val patterns: Array[String],
    rootNext: Array[Int],
    keys: Array[Array[Int]],
    next: Array[Array[Int]],
    fail: Array[Int],
    out: Array[Array[Int]]) extends Serializable {

  @transient private lazy val utf8Patterns: Array[UTF8String] =
    patterns.map(UTF8String.fromString)
  // immutable and row-independent, so one instance serves every zero-hit row
  @transient private lazy val emptyResult = new GenericArrayData(Array.empty[Any])
  @transient private lazy val patternByteLens: Array[Int] =
    patterns.map(_.getBytes(java.nio.charset.StandardCharsets.UTF_8).length)

  /** Sorted distinct matched phrases of `text`, as Catalyst array data.
    * Cost: O(text bytes + hits log hits) — hit ids buffer up per EMISSION
    * and dedupe in one sorted sweep, so a huge dictionary costs nothing
    * per row beyond its actual matches (no nPatterns-sized scratch; a
    * shared scratch array would race across concurrent tasks sharing this
    * plan-referenced instance). */
  def matchArray(text: UTF8String): ArrayData = {
    val ids = collectIds(text, perOccurrence = false)
    val nIds = ids.length
    if (nIds == 0) return emptyResult
    java.util.Arrays.sort(ids)
    var distinct = 1
    var i = 1
    while (i < nIds) { if (ids(i) != ids(i - 1)) distinct += 1; i += 1 }
    val res = new Array[Any](distinct)
    res(0) = utf8Patterns(ids(0).toInt)
    var k = 1
    i = 1
    while (i < nIds) {
      if (ids(i) != ids(i - 1)) { res(k) = utf8Patterns(ids(i).toInt); k += 1 }
      i += 1
    }
    new GenericArrayData(res)
  }

  /** Every occurrence of every dictionary phrase in `text`, as (pos, id)
    * pairs sorted by (pos, id) — pos is the 1-BASED BYTE offset of the
    * occurrence start (byte = the scale-correct unit: no per-row decode;
    * for ASCII corpora byte and character offsets coincide). Overlapping
    * and nested occurrences all emit — this is the span-extraction
    * primitive dictionary tagging and redaction build on. Packs (pos, id)
    * into one long per occurrence so the sort is a primitive
    * `Arrays.sort`. */
  def occurrences(text: UTF8String): Array[Long] = {
    val occ = collectIds(text, perOccurrence = true)
    java.util.Arrays.sort(occ) // (pos, id) ascending — ids are pre-sorted phrases
    occ
  }

  /** The shared scan loop: emitted pattern ids, either one entry per
    * EMISSION (`perOccurrence = false`, plain ids) or packed
    * (startPos << 32 | id) per occurrence (`perOccurrence = true`). */
  private def collectIds(text: UTF8String, perOccurrence: Boolean): Array[Long] = {
    var buf = new Array[Long](8)
    var nOut = 0
    var state = 0
    val n = text.numBytes()
    var i = 0
    while (i < n) {
      state = advance(state, text.getByte(i) & 0xff)
      val o = out(state)
      var j = 0
      while (j < o.length) {
        val id = o(j)
        if (nOut == buf.length) buf = java.util.Arrays.copyOf(buf, buf.length * 2)
        buf(nOut) =
          if (perOccurrence) ((i - patternByteLens(id) + 2).toLong << 32) | id.toLong
          else id.toLong
        nOut += 1
        j += 1
      }
      i += 1
    }
    java.util.Arrays.copyOf(buf, nOut)
  }

  /** Per-pattern occurrence counts (ALL occurrences — overlapping and
    * nested emit too), indexed by the automaton's sorted-distinct pattern
    * order: the counting readout behind profile scoring (language-ID
    * trigram profiles, dictionary frequency features) — one automaton pass
    * per document regardless of profile size, vs one regexp pass per
    * pattern. Equals `regexp_extract_all`'s NON-overlapping count exactly
    * when no pattern has a border (no proper suffix equals a prefix) —
    * callers that need regex parity must require that property
    * ([[graft.operators.TextOps.langId]] does). Allocates one
    * nPatterns-long counts array per row, so it suits PROFILE-sized
    * dictionaries; for 100k-phrase blocklists use the hit-sized
    * [[matchArray]]/[[occurrences]] forms instead. */
  def countArray(text: UTF8String): ArrayData = {
    val ids = collectIds(text, perOccurrence = false)
    val counts = new Array[Long](patterns.length)
    var i = 0
    while (i < ids.length) { counts(ids(i).toInt) += 1L; i += 1 }
    ArrayData.toArrayData(counts)
  }

  /** Catalyst rows (pos int, phrase string) for [[occurrences]]. */
  def spanArray(text: UTF8String): ArrayData = {
    val occ = occurrences(text)
    val rows = new Array[Any](occ.length)
    var i = 0
    while (i < occ.length) {
      val pos = (occ(i) >>> 32).toInt
      val id = (occ(i) & 0xffffffffL).toInt
      rows(i) = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](pos, utf8Patterns(id)))
      i += 1
    }
    new GenericArrayData(rows)
  }

  /** `text` with every byte covered by ANY phrase occurrence replaced by
    * '*'. Union-of-spans masking — the dictionary-PII policy: if any
    * pattern claims a byte, it is gone, regardless of which occurrence
    * found it first. Masking is per BYTE (a covered 2-byte code point
    * becomes "**"): output stays valid UTF-8 because patterns only match
    * at code-point boundaries and always cover whole code points. */
  def redact(text: UTF8String): UTF8String = {
    val occ = occurrences(text)
    if (occ.length == 0) return text
    val n = text.numBytes()
    // manual byte copy: UTF8String.getBytes may return its BACKING array,
    // which must never be mutated in place
    val bytes = new Array[Byte](n)
    var i = 0
    while (i < n) { bytes(i) = text.getByte(i); i += 1 }
    var k = 0
    while (k < occ.length) {
      val start = (occ(k) >>> 32).toInt - 1 // back to 0-based
      val len = patternByteLens((occ(k) & 0xffffffffL).toInt)
      var j = start
      while (j < start + len) { bytes(j) = '*'; j += 1 }
      k += 1
    }
    UTF8String.fromBytes(bytes)
  }

  /** Does ANY dictionary phrase occur in `text`? Early-exits at the first
    * emission — the blocklist-filter fast path: a denied document is
    * recognized at its first offending byte, not after a full scan that
    * collects every hit into an array. */
  def matchesAny(text: UTF8String): Boolean = {
    var state = 0
    val n = text.numBytes()
    var i = 0
    while (i < n) {
      state = advance(state, text.getByte(i) & 0xff)
      if (out(state).length > 0) return true
      i += 1
    }
    false
  }

  /** The automaton's transition on byte `b` from `state`: follow failure
    * links until some state has a `b` edge, or fall back to the root. */
  private def advance(state: Int, b: Int): Int = {
    var s = state
    var nx = step(s, b)
    while (nx < 0 && s != 0) { s = fail(s); nx = step(s, b) }
    if (nx >= 0) nx else 0
  }

  private def step(s: Int, b: Int): Int =
    if (s == 0) rootNext(b)
    else {
      val ks = keys(s)
      var lo = 0
      var hi = ks.length - 1
      while (lo <= hi) {
        val mid = (lo + hi) >>> 1
        val k = ks(mid)
        if (k == b) return next(s)(mid)
        else if (k < b) lo = mid + 1
        else hi = mid - 1
      }
      -1
    }
}

object AhoCorasick {

  /** Builds the goto/fail/output automaton: trie insert, then a BFS that
    * resolves fail links and merges each node's output list with its fail
    * target's (already-final, since BFS visits shallower nodes first). */
  def build(patternsIn: Seq[String]): AhoCorasick = {
    val patterns = patternsIn.distinct.sorted.toArray
    require(patterns.nonEmpty, "keyword scan: pattern list must be non-empty")
    require(patterns.forall(_.nonEmpty), "keyword scan: empty-string pattern")

    val children = mutable.ArrayBuffer(mutable.TreeMap.empty[Int, Int])
    val ownOut = mutable.ArrayBuffer[List[Int]](Nil)
    patterns.zipWithIndex.foreach { case (p, id) =>
      var node = 0
      p.getBytes(java.nio.charset.StandardCharsets.UTF_8).foreach { byte =>
        val b = byte & 0xff
        node = children(node).getOrElse(b, {
          children += mutable.TreeMap.empty[Int, Int]
          ownOut += Nil
          children(node).put(b, children.length - 1)
          children.length - 1
        })
      }
      ownOut(node) = id :: ownOut(node)
    }

    val nNodes = children.length
    val fail = new Array[Int](nNodes)
    val out = new Array[Array[Int]](nNodes)
    out(0) = Array.emptyIntArray // no empty patterns, so the root emits nothing
    val queue = mutable.Queue.empty[Int]
    children(0).valuesIterator.foreach { v =>
      fail(v) = 0
      out(v) = ownOut(v).sorted.toArray
      queue += v
    }
    while (queue.nonEmpty) {
      val u = queue.dequeue()
      children(u).foreach { case (b, v) =>
        var f = fail(u)
        while (f != 0 && !children(f).contains(b)) f = fail(f)
        fail(v) = children(f).get(b).filter(_ != v).getOrElse(0)
        // own ids and the fail target's ids are disjoint (distinct patterns,
        // proper-suffix relation), so concat+sort is a set union
        out(v) = (ownOut(v) ++ out(fail(v))).sorted.toArray
        queue += v
      }
    }

    val rootNext = Array.fill(256)(-1)
    children(0).foreach { case (b, v) => rootNext(b) = v }
    val keysArr = new Array[Array[Int]](nNodes)
    val nextArr = new Array[Array[Int]](nNodes)
    var i = 0
    while (i < nNodes) {
      val kv = children(i).toArray // TreeMap iterates key-sorted
      keysArr(i) = kv.map(_._1)
      nextArr(i) = kv.map(_._2)
      i += 1
    }
    new AhoCorasick(patterns, rootNext, keysArr, nextArr, fail, out)
  }
}

/** Shared shape of the four keyword expressions: (text: string, patterns:
  * foldable array<string>) with a plan-time-built automaton shipped to
  * executors as a codegen reference object. The pattern argument must be a
  * LITERAL — a per-row pattern column would rebuild the automaton per row,
  * which is the O(text × patterns) trap these expressions exist to remove —
  * and its CONTENTS are validated at analysis time too (non-empty list, no
  * null/empty phrases): the value is foldable, so there is no reason to
  * defer those errors to execution. */
trait KeywordExpression extends BinaryExpression with ExpectsInputTypes {

  // see VecDotProduct: wrong-typed SQL input must fail at analysis time
  override def inputTypes = Seq(StringType, ArrayType(StringType))

  override def checkInputDataTypes(): TypeCheckResult =
    KeywordScan.validatePatterns(super.checkInputDataTypes(), right, prettyName)

  /** Built once per plan on the driver; serialized to executors. */
  @transient protected lazy val automaton: AhoCorasick =
    KeywordScan.automatonFrom(right, prettyName)

  /** Codegen accessor for the shared automaton (the NgramHashes precedent:
    * one virtual call keeps the expression inside whole-stage codegen
    * without inlining the matcher as a string template). */
  protected def automatonRef(ctx: CodegenContext): String =
    ctx.addReferenceObj("ahoCorasick", automaton, classOf[AhoCorasick].getName)
}

private[plans] object KeywordScan {

  /** Analysis-time validation: the pattern child must be a literal with
    * usable contents. Everything here is knowable at analysis time (the
    * value is foldable), so malformed dictionaries fail as
    * TypeCheckFailure, not as a runtime exception out of the automaton
    * build. */
  def validatePatterns(base: TypeCheckResult, right: Expression,
                       name: String): TypeCheckResult = {
    if (base.isFailure) return base
    if (!right.foldable)
      return TypeCheckResult.TypeCheckFailure(
        s"$name requires a foldable (literal) pattern array — " +
          "a per-row pattern column would rebuild the automaton per row")
    val arr = right.eval(null)
    if (arr == null)
      return TypeCheckResult.TypeCheckFailure(s"$name: pattern array must not be null")
    val data = arr.asInstanceOf[ArrayData]
    if (data.numElements() == 0)
      return TypeCheckResult.TypeCheckFailure(s"$name: pattern array must be non-empty")
    var i = 0
    while (i < data.numElements()) {
      val s = data.getUTF8String(i)
      if (s == null)
        return TypeCheckResult.TypeCheckFailure(s"$name: pattern $i is null")
      if (s.numBytes() == 0)
        return TypeCheckResult.TypeCheckFailure(s"$name: pattern $i is the empty string")
      i += 1
    }
    TypeCheckResult.TypeCheckSuccess
  }

  /** Pattern-literal extraction for the keyword expressions: evaluates the
    * foldable array child once at plan time (contents already validated at
    * analysis time; the build's require()s remain as a backstop). */
  def automatonFrom(right: Expression, name: String): AhoCorasick = {
    val arr = right.eval(null).asInstanceOf[ArrayData]
    require(arr != null, s"$name: pattern array must not be null")
    val pats = Seq.tabulate(arr.numElements()) { i =>
      val s = arr.getUTF8String(i)
      require(s != null, s"$name: null pattern")
      s.toString
    }
    AhoCorasick.build(pats)
  }
}

/** `keyword_matches(text, array<string> patterns) → array<string>` — every
  * dictionary phrase occurring in `text` (substring semantics, identical to
  * `contains` per phrase), sorted and distinct, in ONE automaton pass. */
case class KeywordMatches(left: Expression, right: Expression) extends KeywordExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "keyword_matches"

  override def nullSafeEval(text: Any, pats: Any): Any =
    automaton.matchArray(text.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ac = automatonRef(ctx)
    nullSafeCodeGen(ctx, ev, (a, _) =>
      s"${ev.value} = (org.apache.spark.sql.catalyst.util.ArrayData) $ac.matchArray($a);")
  }

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** `keyword_counts(text, array<string> patterns) → array<long>` —
  * per-phrase occurrence counts in the automaton's SORTED-DISTINCT phrase
  * order (callers index accordingly): the profile-scoring sibling of
  * [[KeywordMatches]] — one automaton pass per document independent of
  * profile size, replacing one regexp pass per pattern. Counts EVERY
  * occurrence; see [[AhoCorasick.countArray]] for the borderless-pattern
  * condition under which this equals the non-overlapping regexp count. */
case class KeywordCounts(left: Expression, right: Expression) extends KeywordExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "keyword_counts"

  override def nullSafeEval(text: Any, pats: Any): Any =
    automaton.countArray(text.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ac = automatonRef(ctx)
    nullSafeCodeGen(ctx, ev, (a, _) =>
      s"${ev.value} = (org.apache.spark.sql.catalyst.util.ArrayData) $ac.countArray($a);")
  }

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** `keyword_any(text, array<string> patterns) → boolean` — does any
  * dictionary phrase occur in `text`? The existence-only sibling of
  * [[KeywordMatches]]: the automaton EARLY-EXITS at the first hit instead
  * of scanning the whole document and materializing the hit array. This is
  * what a blocklist filter actually needs, and what
  * [[SimplifyKeywordPredicates]] rewrites `size(keyword_matches(…)) > 0`
  * predicates into. */
case class KeywordAny(left: Expression, right: Expression) extends KeywordExpression {

  override def dataType: DataType = org.apache.spark.sql.types.BooleanType
  override def prettyName: String = "keyword_any"

  override def nullSafeEval(text: Any, pats: Any): Any =
    automaton.matchesAny(text.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ac = automatonRef(ctx)
    nullSafeCodeGen(ctx, ev, (a, _) => s"${ev.value} = $ac.matchesAny($a);")
  }

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** `keyword_spans(text, array<string> patterns) →
  * array<struct<pos:int, phrase:string>>` — EVERY occurrence of every
  * dictionary phrase, with its 1-based byte offset, sorted by (pos,
  * phrase). Overlapping and nested occurrences all emit. The
  * span-extraction primitive under dictionary tagging, span-level audits,
  * and redaction review — still ONE automaton pass per document. */
case class KeywordSpans(left: Expression, right: Expression) extends KeywordExpression {

  override def dataType: DataType = ArrayType(
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("pos", org.apache.spark.sql.types.IntegerType, nullable = false),
      org.apache.spark.sql.types.StructField("phrase", StringType, nullable = false))),
    containsNull = false)
  override def prettyName: String = "keyword_spans"

  override def nullSafeEval(text: Any, pats: Any): Any =
    automaton.spanArray(text.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ac = automatonRef(ctx)
    nullSafeCodeGen(ctx, ev, (a, _) =>
      s"${ev.value} = (org.apache.spark.sql.catalyst.util.ArrayData) $ac.spanArray($a);")
  }

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** `keyword_redact(text, array<string> patterns) → string` — `text` with
  * every byte covered by ANY dictionary-phrase occurrence replaced by '*'
  * (union-of-spans masking, length-preserving). The large-dictionary PII /
  * banned-term masking pass: one automaton scan + one byte rewrite per
  * document, independent of dictionary size — versus a chain of
  * per-phrase `replace` calls that re-copies the string once PER PHRASE
  * and whose output depends on application order when phrases overlap
  * (union masking is order-free by construction). */
case class KeywordRedact(left: Expression, right: Expression) extends KeywordExpression {

  override def dataType: DataType = StringType
  override def prettyName: String = "keyword_redact"

  override def nullSafeEval(text: Any, pats: Any): Any =
    automaton.redact(text.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ac = automatonRef(ctx)
    nullSafeCodeGen(ctx, ev, (a, _) => s"${ev.value} = $ac.redact($a);")
  }

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Optimizer rule: existence-only uses of the keyword scan drop the
  * hit-collection work.
  *
  * `size(keyword_matches(t, p)) > 0` / `>= 1` (and the `= 0` negation)
  * forces the full-document scan plus per-row array materialization, then
  * throws the array away — but a filter only needs EXISTENCE, and blocklist
  * scans are overwhelmingly written as filters. The rewrite to
  * [[KeywordAny]] early-exits at the first hit (a denied document costs
  * only its prefix up to the first offending phrase) and allocates nothing.
  * `NOT (size(…) = 0)` needs no case of its own: the inner equality
  * rewrites here and BooleanSimplification collapses the double negation
  * in the same fixed-point batch.
  *
  * Null-parity: with the default non-legacy `size` (matched via
  * `legacySizeOfNull = false`), `size(null) = null` and comparisons with 0
  * stay null — exactly what the null-propagating [[KeywordAny]] produces,
  * so the rewrite is safe in ANY expression context, not just filters.
  * Legacy-mode plans (`size(null) = -1`, a non-null FALSE) are left alone.
  */
object SimplifyKeywordPredicates
    extends org.apache.spark.sql.catalyst.rules.Rule[org.apache.spark.sql.catalyst.plans.logical.LogicalPlan] {
  import org.apache.spark.sql.catalyst.expressions.{EqualTo, GreaterThan, GreaterThanOrEqual, IntegerLiteral, LessThan, LessThanOrEqual, Not, Size}
  import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformAllExpressions {
    case GreaterThan(Size(km: KeywordMatches, false), IntegerLiteral(0)) =>
      KeywordAny(km.left, km.right)
    case GreaterThanOrEqual(Size(km: KeywordMatches, false), IntegerLiteral(1)) =>
      KeywordAny(km.left, km.right)
    case LessThan(IntegerLiteral(0), Size(km: KeywordMatches, false)) =>
      KeywordAny(km.left, km.right)
    case LessThanOrEqual(IntegerLiteral(1), Size(km: KeywordMatches, false)) =>
      KeywordAny(km.left, km.right)
    case EqualTo(Size(km: KeywordMatches, false), IntegerLiteral(0)) =>
      Not(KeywordAny(km.left, km.right))
    case EqualTo(IntegerLiteral(0), Size(km: KeywordMatches, false)) =>
      Not(KeywordAny(km.left, km.right))
  }
}
