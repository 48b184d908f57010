package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression, ExpressionInfo, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType, LongType, StringType}

/** `vec_dot(array<double>, array<double>) → double` — a native Catalyst
  * expression with whole-stage codegen.
  *
  * The built-in formulation `aggregate(zip_with(a, b, _*_), 0d, _+_)` is
  * semantically identical but interpreted per element (lambda closures +
  * boxing); on pairwise similarity workloads that evaluation dominates the
  * query. This expression compiles to a primitive `double` loop inside the
  * generated code — preference order (b) of the build contract: a custom
  * `Expression` where built-ins can't express the op *efficiently*, well
  * before any UDF.
  *
  * Accumulation is in strict index order, so results are bit-identical to
  * the interpreted fold (and to the DuckDB oracle's list_dot_product).
  * Callers must supply array<double> (widen floats first — see
  * [[graft.functions.VectorFunctions.toDouble]]).
  */
case class VecDotProduct(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "vec_dot"
  // strict array<double> inputs: without the check, a SQL call with
  // array<int>/array<float> would make UnsafeArrayData.getDouble silently
  // misread memory — wrong results instead of an analysis error
  override def inputTypes =
    Seq(ArrayType(DoubleType), ArrayType(DoubleType))

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) { s += x.getDouble(i) * y.getDouble(i); i += 1 }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $acc += $a.getDouble($i) * $b.getDouble($i);
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** `vec_lsh_bits(array<double>, nPlanes) → array<int>` — the random-
  * hyperplane LSH signature as a native codegen expression.
  *
  * Semantically identical to the built-in formulation in
  * [[graft.functions.VectorFunctions.hyperplaneBitsBuiltin]] (plane
  * coefficients ±1 from xxhash64(plane, dim) — replicated here via the
  * same XXH64.hashInt chain Spark's xxhash64 uses for two int children,
  * seed 42; strict index-order accumulation), but compiled to a primitive
  * nested loop instead of nPlanes × dim interpreted lambda closures — the
  * signature computation dominates LSH index builds otherwise. Equality
  * with the interpreted form is pinned in ScalaTest. */
case class VecLshBits(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "vec_lsh_bits"
  // see VecDotProduct: wrong-typed SQL input must fail at analysis time
  override def inputTypes =
    Seq(ArrayType(DoubleType), IntegerType)

  override def nullSafeEval(a: Any, b: Any): Any = {
    val v = a.asInstanceOf[ArrayData]
    val nPlanes = b.asInstanceOf[Int]
    val dim = v.numElements()
    val bits = new Array[Int](nPlanes)
    var p = 0
    while (p < nPlanes) {
      val seedP = XXH64.hashInt(p, 42L)
      var s = 0.0
      var i = 0
      while (i < dim) {
        val h = XXH64.hashInt(i, seedP)
        val x = v.getDouble(i)
        s += (if (((h % 2) + 2) % 2 == 0) x else -x)
        i += 1
      }
      bits(p) = if (s >= 0) 1 else 0
      p += 1
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(bits)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val p = ctx.freshName("p")
      val i = ctx.freshName("i")
      val dim = ctx.freshName("dim")
      val seedP = ctx.freshName("seedP")
      val h = ctx.freshName("h")
      val s = ctx.freshName("s")
      val x = ctx.freshName("x")
      val bits = ctx.freshName("bits")
      val xxh = "org.apache.spark.sql.catalyst.expressions.XXH64"
      s"""
         |int $dim = $a.numElements();
         |int[] $bits = new int[$b];
         |for (int $p = 0; $p < $b; $p++) {
         |  long $seedP = $xxh.hashInt($p, 42L);
         |  double $s = 0.0;
         |  for (int $i = 0; $i < $dim; $i++) {
         |    long $h = $xxh.hashInt($i, $seedP);
         |    double $x = $a.getDouble($i);
         |    $s += ((($h % 2L) + 2L) % 2L == 0L) ? $x : -$x;
         |  }
         |  $bits[$p] = ($s >= 0.0) ? 1 : 0;
         |}
         |${ev.value} = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray($bits);
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** `simhash64(array<long>) → long` — the 64-bit SimHash of a pre-hashed
  * token multiset as a single narrow codegen expression.
  *
  * Replaces the explode → 64-column conditional-sum aggregate → sign-pack
  * formulation ([[graft.operators.DedupOps.simhash]]'s original shape): that
  * plan exploded every token into a row and shuffled a 65-column partial
  * aggregate per document; this expression computes the same per-bit
  * majority vote in one primitive loop per document — no generator, no
  * aggregate, NO SHUFFLE. Bit packing is identical to the aggregate
  * formulation (bit b of the loop lands at position 63−b; ties 2·cnt = n
  * round to 1, matching the `>=` vote), pinned in ScalaTest.
  */
case class SimHash64(child: Expression) extends UnaryExpression with ExpectsInputTypes {

  override def dataType: DataType = LongType
  override def prettyName: String = "simhash64"
  // see VecDotProduct: wrong-typed SQL input must fail at analysis time
  override def inputTypes = Seq(ArrayType(LongType))

  override protected def nullSafeEval(input: Any): Any = {
    val hs = input.asInstanceOf[ArrayData]
    val n = hs.numElements()
    val cnt = new Array[Int](64)
    var i = 0
    while (i < n) {
      val h = hs.getLong(i)
      var b = 0
      while (b < 64) { cnt(b) += ((h >>> b) & 1L).toInt; b += 1 }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) {
      out = (out << 1) | (if (2 * cnt(b) >= n) 1L else 0L)
      b += 1
    }
    out
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val i = ctx.freshName("i")
      val b = ctx.freshName("b")
      val n = ctx.freshName("n")
      val h = ctx.freshName("h")
      val cnt = ctx.freshName("cnt")
      val out = ctx.freshName("out")
      s"""
         |int $n = $a.numElements();
         |int[] $cnt = new int[64];
         |for (int $i = 0; $i < $n; $i++) {
         |  long $h = $a.getLong($i);
         |  for (int $b = 0; $b < 64; $b++) { $cnt[$b] += (int) (($h >>> $b) & 1L); }
         |}
         |long $out = 0L;
         |for (int $b = 0; $b < 64; $b++) {
         |  $out = ($out << 1) | ((2 * $cnt[$b] >= $n) ? 1L : 0L);
         |}
         |${ev.value} = $out;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `sorted_intersect_count(array<long>, array<long>) → long` — merge-style
  * intersection size of two SORTED, DEDUPLICATED long arrays.
  *
  * The built-in `size(array_intersect(a, b))` builds a hash set per row —
  * allocation and boxing on every candidate pair, which dominates exact
  * near-dup verification (hundreds of thousands of candidate pairs × ~50
  * element sets). This is the O(n+m) two-pointer merge in primitive longs.
  * Callers must pre-sort with `sort_array(collect_set(…))` — one cheap pass
  * per DOCUMENT, amortized over every PAIR the document appears in.
  */
/** `md5_u32(string) → long` — the first 32 bits of md5 as an unsigned
  * integer: bit-identical to `conv(substring(md5(s), 1, 8), 16, 10)`
  * cast to long, fused into one digest call.
  *
  * This chain is THE deterministic-uniform primitive of the repo (Poisson
  * bootstrap weights ×b per row, the DOULION edge coin, hashed features
  * per token, hash-split/sampling buckets) and the composite form pays for
  * three intermediates per evaluation that the semantics never need: the
  * 32-char hex UTF8String from `md5`, the 8-char `substring` copy, and
  * `conv`'s string→long radix parse (plus a per-call MessageDigest
  * allocation inside commons-codec's md5Hex). This expression digests the
  * input bytes once into a thread-local MessageDigest and assembles the
  * long from the first 4 digest bytes — same value, zero string
  * intermediates (measured ~2× on the chain).
  * Equivalence is pinned in ScalaTest (NativeExprSpec) and every consumer
  * stays oracle-checked against the hex-based DuckDB SQL. */
case class Md5U32(child: Expression) extends UnaryExpression with ExpectsInputTypes {

  override def dataType: DataType = LongType
  override def prettyName: String = "md5_u32"
  override def inputTypes = Seq(StringType)

  override protected def nullSafeEval(input: Any): Any =
    Md5U32.firstWord(input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.plans.Md5U32.firstWord($a);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object Md5U32 {
  // MessageDigest.getInstance walks the provider list per call (the hidden
  // cost inside DigestUtils.md5Hex); one digester per task thread, reset
  // between rows, removes that and every byte[]→hex round-trip.
  private val local = ThreadLocal.withInitial[java.security.MessageDigest](
    () => java.security.MessageDigest.getInstance("MD5"))

  def firstWord(s: org.apache.spark.unsafe.types.UTF8String): Long = {
    val md = local.get()
    md.reset()
    val d = md.digest(s.getBytes)
    ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) | ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
  }
}

/** `poisson_w(string) → long` — the frozen-threshold Poisson(1) draw from
  * the md5 uniform: the first k with md5_u32(s) < T(k), else 9, over
  * [[graft.operators.StatsOps.PoissonThresholds]]'s integer literals.
  *
  * Functionally identical to the 9-branch `when` cascade over
  * `md5_u32(s)` (pinned in NativeExprSpec), but ONE expression node: the
  * cascade inlines its 9 CASE branches (each naming the digest
  * subexpression) into whole-stage codegen ×b replicas — the generated
  * method is what dominates q_bootstrap_ci's first evaluation
  * (codegen+JIT), the suite's documented worst first-run cost. Here the
  * digest and the threshold walk are one static call. */
case class PoissonW(child: Expression) extends UnaryExpression with ExpectsInputTypes {

  override def dataType: DataType = LongType
  override def prettyName: String = "poisson_w"
  override def inputTypes = Seq(StringType)

  override protected def nullSafeEval(input: Any): Any =
    PoissonW.weight(input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.plans.PoissonW.weight($a);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object PoissonW {
  // Poisson(1) inverse-CDF thresholds at 2^32 scale — MUST stay equal to
  // StatsOps.PoissonThresholds (asserted there at class-load).
  val Thresholds: Array[Long] = Array(
    1580030168L, 3160060337L, 3950075421L, 4213413783L, 4279248373L,
    4292415291L, 4294609777L, 4294923276L, 4294962463L)

  def weight(s: org.apache.spark.unsafe.types.UTF8String): Long = {
    val u = Md5U32.firstWord(s)
    var k = 0
    while (k < 9 && u >= Thresholds(k)) k += 1
    k.toLong
  }
}

case class SortedIntersectCount(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def dataType: DataType = LongType
  override def prettyName: String = "sorted_intersect_count"
  // see VecDotProduct: wrong-typed SQL input must fail at analysis time
  override def inputTypes =
    Seq(ArrayType(LongType), ArrayType(LongType))

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val (nx, ny) = (x.numElements(), y.numElements())
    var i = 0; var j = 0; var c = 0L
    while (i < nx && j < ny) {
      val xv = x.getLong(i); val yv = y.getLong(j)
      if (xv == yv) { c += 1; i += 1; j += 1 }
      else if (xv < yv) i += 1
      else j += 1
    }
    c
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val nx = ctx.freshName("nx")
      val ny = ctx.freshName("ny")
      val xv = ctx.freshName("xv")
      val yv = ctx.freshName("yv")
      val c = ctx.freshName("c")
      s"""
         |int $nx = $a.numElements();
         |int $ny = $b.numElements();
         |int $i = 0; int $j = 0; long $c = 0L;
         |while ($i < $nx && $j < $ny) {
         |  long $xv = $a.getLong($i);
         |  long $yv = $b.getLong($j);
         |  if ($xv == $yv) { $c++; $i++; $j++; }
         |  else if ($xv < $yv) { $i++; } else { $j++; }
         |}
         |${ev.value} = $c;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** `ngram_hashes(array<string>, n) → array<long>` — the SORTED, DISTINCT
  * hash values of a document's word n-grams, as one narrow codegen
  * expression.
  *
  * Replaces the explode → `collect_set(xxhash64(concat_ws(...)))` → sort
  * formulation: no generator, no aggregate and NO SHUFFLE — near-dup
  * verification's per-doc set build becomes a pure map over the candidate
  * documents, and `size(ngram_hashes(...))` gives the distinct-shingle
  * count for PPJoin-style length gates at signature-build time. Each token
  * is xxhash64'd ONCE and each window hashes the n token-hashes as a fixed
  * 8-byte chain (`XXH64.hashLong` fold) — no per-position string
  * concatenation or allocation at all, unlike the concat_ws formulation
  * whose interpreted-lambda equivalent measured ~2.5× a whole simhash
  * signature pass at sf0.1. Set EQUALITY and set SIZE are what consumers
  * use, and both are preserved versus hashing the concatenated strings
  * (injective in the n-gram up to 2⁻⁶⁴ collisions — the same assumption the
  * whole hashed-shingle pipeline already makes). Null tokens hash as 0
  * (whitespace `split` never produces null tokens). Texts shorter than n
  * yield an empty array.
  */
case class NgramHashes(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "ngram_hashes"
  // see VecDotProduct: wrong-typed SQL input must fail at analysis time
  override def inputTypes =
    Seq(ArrayType(org.apache.spark.sql.types.StringType), IntegerType)

  override def nullSafeEval(a: Any, b: Any): Any =
    NgramHashes.compute(a.asInstanceOf[ArrayData], b.asInstanceOf[Int])

  // The kernel is a static JVM method (primitive loop + Arrays.sort) — calling
  // it from generated code keeps the expression inside whole-stage codegen
  // without inlining the dedup logic as a string template.
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = (org.apache.spark.sql.catalyst.util.ArrayData) " +
        s"graft.plans.NgramHashes.compute($a, $b);")

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object NgramHashes {

  /** Sorted distinct window hashes of the n-grams of `toks`: per-token
    * xxhash64 (seed 42) computed once, then an `XXH64.hashLong` fold over
    * each length-n window of token hashes. */
  def compute(toks: ArrayData, n: Int): ArrayData = {
    import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
    val nt = toks.numElements()
    val m = nt - n + 1
    if (n <= 0 || m <= 0) return UnsafeArrayData.fromPrimitiveArray(Array.emptyLongArray)
    val th = new Array[Long](nt)
    var i = 0
    while (i < nt) {
      val s = toks.getUTF8String(i)
      th(i) = if (s == null) 0L
        else XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes, 42L)
      i += 1
    }
    val hs = new Array[Long](m)
    i = 0
    while (i < m) {
      var h = 42L
      var j = 0
      while (j < n) { h = XXH64.hashLong(th(i + j), h); j += 1 }
      hs(i) = h
      i += 1
    }
    java.util.Arrays.sort(hs)
    var w = 1
    i = 1
    while (i < m) { if (hs(i) != hs(i - 1)) { hs(w) = hs(i); w += 1 }; i += 1 }
    UnsafeArrayData.fromPrimitiveArray(
      if (w == m) hs else java.util.Arrays.copyOf(hs, w))
  }
}

/** `bloom_might_contain(array<long> words, long key) → boolean` — probe of
  * the Bloom bit array built by
  * [[graft.functions.BloomFilterAggregator]] (same
  * [[graft.functions.BloomHash]] double-hashing, so build and probe agree
  * by construction). A codegen'd primitive loop per row: the pre-shuffle
  * semi-join filter evaluates this against a BROADCAST blob for every
  * big-side row, so it must stay inside whole-stage codegen. NO FALSE
  * NEGATIVES: a true member always probes true; false positives are
  * removed by the exact join that follows (see ScaleOps.bloomSemiJoin).
  */
case class BloomMightContain(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def dataType: DataType = org.apache.spark.sql.types.BooleanType
  override def prettyName: String = "bloom_might_contain"
  // see VecDotProduct: wrong-typed SQL input must fail at analysis time
  override def inputTypes = Seq(ArrayType(LongType), LongType)

  // numHashes rides in the blob? No — kept protocol-simple: the probe count
  // is fixed at BloomMightContain.NumHashes for the engine (build side must
  // use the same k; ScaleOps.bloomSemiJoin passes it for both).
  override def nullSafeEval(a: Any, b: Any): Any = {
    val arr = a.asInstanceOf[ArrayData].toLongArray()
    graft.functions.BloomHash.mightContain(arr, b.asInstanceOf[Long], BloomMightContain.NumHashes)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.BloomHash.mightContain(" +
        s"$a.toLongArray(), $b, ${BloomMightContain.NumHashes});")

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object BloomMightContain {
  /** Engine-wide probe count k. 7 probes at 10 bits/key ≈ 0.8% FP — the
    * classic design point; build side must use the same k. */
  val NumHashes = 7
}

/** `nfc_normalize(string) → string` — Unicode NFC normalization as a native
  * codegen expression (JDK `java.text.Normalizer`, no external library).
  *
  * The curation-pipeline text normalizer: crawled text mixes precomposed
  * (U+00E9 é) and combining-sequence (e + U+0301) encodings of the SAME
  * glyphs, so exact dedup, shingling, and token counting silently treat
  * identical documents as different until the corpus is normalized to one
  * canonical form. No Spark built-in exposes Unicode normalization; a
  * Scala UDF would serialize through the encoder per row — this stays
  * inside whole-stage codegen with an `isNormalized` fast path, so the
  * (dominant) already-NFC case costs one verification scan and zero
  * allocation of a new string. Matches DuckDB's `nfc_normalize` (both
  * implement UAX #15 NFC), which is what makes it oracle-checkable. */
case class NfcNormalize(child: Expression) extends UnaryExpression with ExpectsInputTypes {

  override def dataType: DataType = StringType
  override def prettyName: String = "nfc_normalize"
  override def inputTypes = Seq(StringType)

  override protected def nullSafeEval(input: Any): Any = {
    val u = input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String]
    val s = u.toString
    if (java.text.Normalizer.isNormalized(s, java.text.Normalizer.Form.NFC)) u
    else org.apache.spark.unsafe.types.UTF8String.fromString(
      java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFC))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val s = ctx.freshName("s")
      s"""
         |String $s = $a.toString();
         |${ev.value} = java.text.Normalizer.isNormalized($s, java.text.Normalizer.Form.NFC)
         |  ? $a
         |  : UTF8String.fromString(java.text.Normalizer.normalize($s, java.text.Normalizer.Form.NFC));
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `char_entropy(string) → double` — per-document Shannon entropy (bits)
  * over code points, as a single codegen pass.
  *
  * The repetitiveness/gibberish quality signal (the cheap proxy for the
  * compression-ratio heuristic of web-corpus filters): near-zero entropy
  * flags mashed-key and template spam, abnormally high entropy flags
  * binary-as-text. The relational formulation explodes every CHARACTER
  * into a row and shuffles a (doc, char) aggregation — corpus-character
  * row volume through an exchange; this expression folds the histogram in
  * one primitive loop per document, NO shuffle, no generator. Summation
  * runs in ascending-code-point order (a defined order, so the double is
  * a constant of the text); empty/whitespace-only inputs yield 0. */
case class CharEntropy(child: Expression) extends UnaryExpression with ExpectsInputTypes {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "char_entropy"
  override def inputTypes = Seq(StringType)

  override protected def nullSafeEval(input: Any): Any =
    CharEntropy.entropyBits(input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String].toString)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.plans.CharEntropy.entropyBits($a.toString());")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object CharEntropy {
  /** Shared by interpreted eval and generated code: histogram over code
    * points, then −Σ p·log2 p with terms added in ascending code-point
    * order. */
  def entropyBits(s: String): Double = {
    val counts = new java.util.TreeMap[Integer, Integer]()
    var i = 0
    var n = 0L
    while (i < s.length) {
      val cp = s.codePointAt(i)
      counts.merge(cp, 1, (x: Integer, y: Integer) => Integer.valueOf(x + y))
      i += Character.charCount(cp)
      n += 1
    }
    if (n == 0L) 0.0
    else {
      var h = 0.0
      val it = counts.values().iterator()
      val ln2 = math.log(2.0)
      while (it.hasNext) {
        val p = it.next().doubleValue() / n
        h -= p * (math.log(p) / ln2)
      }
      h
    }
  }
}

/** `jaro_winkler(string, string) → double` — native codegen'd Jaro–Winkler
  * similarity for entity-resolution scoring: the edit-distance-free name
  * matcher (typo transpositions cost little, shared prefixes are rewarded)
  * that complements the bounded-levenshtein tier in
  * [[graft.operators.FuzzyOps]].
  *
  * Semantics pinned to DuckDB's `jaro_winkler_similarity` (probed, not
  * assumed): match window = max(len)/2 − 1; transpositions over matched
  * sequences halved; EITHER input empty → 0 (including both-empty);
  * Winkler boost `jw = j + 0.1·l·(1−j)` applied only when jaro > 0.7,
  * prefix l capped at 4. Comparison is per UTF-16 code unit — identical
  * to byte semantics on ASCII (the intended name/identifier domain);
  * multibyte text may diverge from byte-based engines, as with the
  * keyword-scan tier.
  *
  * A primitive two-array loop per pair inside whole-stage codegen — on
  * the blocked self-join hot path this evaluates once per candidate pair,
  * so it must not fall out of codegen into an interpreted UDF. */
case class JaroWinklerSim(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "jaro_winkler"
  override def inputTypes = Seq(StringType, StringType)

  override def nullSafeEval(a: Any, b: Any): Any =
    JaroWinklerSim.similarity(a.toString, b.toString)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.plans.JaroWinklerSim.similarity($a.toString(), $b.toString());")

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object JaroWinklerSim {

  /** Shared by interpreted eval and generated code. */
  def similarity(s1: String, s2: String): Double = {
    val l1 = s1.length; val l2 = s2.length
    if (l1 == 0 || l2 == 0) return 0.0
    if (s1 == s2) return 1.0
    val window = math.max(math.max(l1, l2) / 2 - 1, 0)
    val m1 = new Array[Boolean](l1)
    val m2 = new Array[Boolean](l2)
    var matches = 0
    var i = 0
    while (i < l1) {
      val hi = math.min(l2 - 1, i + window)
      var j = math.max(0, i - window)
      var done = false
      while (j <= hi && !done) {
        if (!m2(j) && s1.charAt(i) == s2.charAt(j)) {
          m1(i) = true; m2(j) = true; matches += 1; done = true
        }
        j += 1
      }
      i += 1
    }
    if (matches == 0) return 0.0
    var t = 0
    var k = 0
    i = 0
    while (i < l1) {
      if (m1(i)) {
        while (!m2(k)) k += 1
        if (s1.charAt(i) != s2.charAt(k)) t += 1
        k += 1
      }
      i += 1
    }
    val m = matches.toDouble
    val jaro = (m / l1 + m / l2 + (m - t / 2.0) / m) / 3.0
    if (jaro <= 0.7) return jaro
    var l = 0
    val maxPref = math.min(4, math.min(l1, l2))
    while (l < maxPref && s1.charAt(l) == s2.charAt(l)) l += 1
    jaro + 0.1 * l * (1.0 - jaro)
  }
}

/** Session extensions registering graft's native functions. Enabled via
  * `spark.sql.extensions=graft.plans.GraftExtensions` (set by
  * [[graft.GraftSession]]), so `call_function("vec_dot", a, b)` and SQL
  * `vec_dot(a, b)` resolve in every session. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(extensions: SparkSessionExtensions): Unit = {
    extensions.injectFunction((
      new FunctionIdentifier("vec_dot"),
      new ExpressionInfo(classOf[VecDotProduct].getName, "vec_dot"),
      (children: Seq[Expression]) => VecDotProduct(children(0), children(1))))
    extensions.injectFunction((
      new FunctionIdentifier("vec_lsh_bits"),
      new ExpressionInfo(classOf[VecLshBits].getName, "vec_lsh_bits"),
      (children: Seq[Expression]) => VecLshBits(children(0), children(1))))
    extensions.injectFunction((
      new FunctionIdentifier("simhash64"),
      new ExpressionInfo(classOf[SimHash64].getName, "simhash64"),
      (children: Seq[Expression]) => SimHash64(children.head)))
    extensions.injectFunction((
      new FunctionIdentifier("poisson_w"),
      new ExpressionInfo(classOf[PoissonW].getName, "poisson_w"),
      (children: Seq[Expression]) => PoissonW(children.head)))
    extensions.injectFunction((
      new FunctionIdentifier("md5_u32"),
      new ExpressionInfo(classOf[Md5U32].getName, "md5_u32"),
      (children: Seq[Expression]) => Md5U32(children.head)))
    extensions.injectFunction((
      new FunctionIdentifier("sorted_intersect_count"),
      new ExpressionInfo(classOf[SortedIntersectCount].getName, "sorted_intersect_count"),
      (children: Seq[Expression]) => SortedIntersectCount(children(0), children(1))))
    extensions.injectFunction((
      new FunctionIdentifier("ngram_hashes"),
      new ExpressionInfo(classOf[NgramHashes].getName, "ngram_hashes"),
      (children: Seq[Expression]) => NgramHashes(children(0), children(1))))
    extensions.injectFunction((
      new FunctionIdentifier("bloom_might_contain"),
      new ExpressionInfo(classOf[BloomMightContain].getName, "bloom_might_contain"),
      (children: Seq[Expression]) => BloomMightContain(children(0), children(1))))
    extensions.injectFunction((
      new FunctionIdentifier("nfc_normalize"),
      new ExpressionInfo(classOf[NfcNormalize].getName, "nfc_normalize"),
      (children: Seq[Expression]) => NfcNormalize(children.head)))
    extensions.injectFunction((
      new FunctionIdentifier("char_entropy"),
      new ExpressionInfo(classOf[CharEntropy].getName, "char_entropy"),
      (children: Seq[Expression]) => CharEntropy(children.head)))
    extensions.injectFunction((
      new FunctionIdentifier("jaro_winkler"),
      new ExpressionInfo(classOf[JaroWinklerSim].getName, "jaro_winkler"),
      (children: Seq[Expression]) => JaroWinklerSim(children(0), children(1))))
    extensions.injectFunction((
      new FunctionIdentifier("keyword_matches"),
      new ExpressionInfo(classOf[KeywordMatches].getName, "keyword_matches"),
      (children: Seq[Expression]) => KeywordMatches(children(0), children(1))))
    extensions.injectFunction((
      new FunctionIdentifier("keyword_any"),
      new ExpressionInfo(classOf[KeywordAny].getName, "keyword_any"),
      (children: Seq[Expression]) => KeywordAny(children(0), children(1))))
    extensions.injectFunction((
      new FunctionIdentifier("keyword_counts"),
      new ExpressionInfo(classOf[KeywordCounts].getName, "keyword_counts"),
      (children: Seq[Expression]) => KeywordCounts(children(0), children(1))))
    extensions.injectFunction((
      new FunctionIdentifier("bpe_apply"),
      new ExpressionInfo(classOf[BpeApplyExpr].getName, "bpe_apply"),
      (children: Seq[Expression]) => BpeApplyExpr(children(0), children(1))))
    extensions.injectFunction((
      new FunctionIdentifier("keyword_spans"),
      new ExpressionInfo(classOf[KeywordSpans].getName, "keyword_spans"),
      (children: Seq[Expression]) => KeywordSpans(children(0), children(1))))
    extensions.injectFunction((
      new FunctionIdentifier("keyword_redact"),
      new ExpressionInfo(classOf[KeywordRedact].getName, "keyword_redact"),
      (children: Seq[Expression]) => KeywordRedact(children(0), children(1))))
    // existence-only keyword predicates early-exit instead of collecting hits
    extensions.injectOptimizerRule(_ => SimplifyKeywordPredicates)
  }
}
