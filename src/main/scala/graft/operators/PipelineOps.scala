package graft.operators

import graft.GraftSession.Ckpt

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Dataset-curation operators a large-scale training-data pipeline needs
  * beyond dedup/similarity: deterministic splits, chunking, redaction,
  * repetition analysis, class balancing, anonymization, profiling.
  *
  * Scale notes (100 TB): every per-document operator here is a narrow,
  * codegen'd map over the scan — no shuffle, no state. The only shuffles are
  * the explicit aggregations (repetition stats' per-token counts, n-gram
  * counts, balancing's per-class ranks), all of which partial-aggregate
  * map-side before exchanging. Hash-based splitting/sampling is preferred to
  * `rand()` because it is reproducible across retries/re-runs (a failed task
  * re-derives the same sample — `rand()` would silently change the dataset)
  * and needs no coordination between executors.
  */
object PipelineOps {

  private val Text = "text"
  private val DocId = "doc_id"
  /** The token maskTokens writes in place of a masked one. */
  private val MaskToken = "<mask>"
  /** Quality buckets of selectByTokenBudget. */
  private val BudgetBuckets = 1000
  /** Hashed-unigram buckets of dsirResample's bag-of-words models. */
  private val DsirBuckets = 256

  /** Deterministic train/valid/test assignment from a content hash: the
    * first hex nibble of md5(text) buckets the corpus 12/2/2 (75% / 12.5% /
    * 12.5%). Content-keyed (not id-keyed) so re-ingested duplicates land in
    * the same split — the standard guard against train/test leakage. */
  def hashSplit(docs: DataFrame): DataFrame =
    docs.select(col(DocId), md5Split(col(Text)).as("split"))

  /** THE md5-nibble → split rule (~75/12.5/12.5): one definition shared by
    * [[hashSplit]] and [[graft.operators.DedupOps.clusterAwareSplit]], so
    * the corpus split and the leakage-safe split cannot drift apart. */
  def md5Split(keyCol: Column): Column = {
    val nibble = substring(md5(keyCol), 1, 1)
    when(nibble.isin("c", "d"), "valid")
      .when(nibble.isin("e", "f"), "test")
      .otherwise("train")
  }

  /** Length-bucketed batch packing with padding-waste accounting: documents
    * go to power-of-two token-length buckets (bucket = ⌈log2(len)⌉), each
    * bucket packs into fixed-size batches in doc-id order, and every batch
    * reports the pad-token waste it pays (docs padded to the batch max).
    * The dynamic-batching step that sizes training batches — batching
    * similar-length sequences bounds pad waste at ≤ (2^b − 2^(b−1))·size
    * per batch instead of maxLen·size under random batching.
    *
    * ADAPTIVE plan (the [[QuantileOps.exactQuantiles]] contract — two
    * formulations, IDENTICAL output, chosen by [[ScaleOps.fitsOneWave]]):
    * the window key has only ~log2(maxLen) values, so the direct
    * bucket-partitioned ranking window caps parallelism at the bucket
    * count and buffers a whole bucket per task — fine while the input is
    * executor-comfortable, a funnel at 100 TB. Above the crossover the
    * per-bucket rank is computed in two phases instead (the
    * [[packSequences]] prefix-sum trick): per-(bucket, id-block) counts →
    * cumulative block offsets over that MODEL-SIZED table → block-local
    * ranks — no task ever sees more than one id-block of one bucket, and
    * because blocks follow id order the global batch numbering is
    * bit-identical to the single-window form (pinned in ScalaTest), not
    * merely waste-equivalent like a hash-shard would be. */
  def lengthBuckets(docs: DataFrame, batchSize: Int = 8): DataFrame = {
    require(batchSize > 0, s"batchSize must be positive, got $batchSize")
    // the sharded form needs integral ids for its block arithmetic; a
    // non-integral id must stay on the window form AT ANY SIZE rather than
    // start throwing once the corpus grows past the crossover (the window
    // form is correct for any orderable id, just bucket-bound in
    // parallelism — a documented trade, not a failure)
    if (!hasIntegralId(docs) || ScaleOps.fitsOneWave(docs))
      windowLengthBuckets(docs, batchSize)
    else
      shardedLengthBuckets(docs, batchSize, blockSize = 4096L)
  }

  /** (doc_id, n_tokens, bucket) projection shared by both formulations.
    * bucket = ⌈log2(n)⌉ computed INTEGER-exactly as the bit length of n−1
    * (len(bin(n−1)) = ⌊log2(n−1)⌋+1 = ⌈log2(n)⌉ for n ≥ 2): floating log2
    * at power-of-two boundaries is one ulp from flipping the ceil between
    * engines, binary-string length never is. */
  private def bucketed(docs: DataFrame): DataFrame = {
    val n = size(split(col(Text), " ")).cast("long")
    docs.select(
      col(DocId).as("doc_id"),
      n.as("n_tokens"),
      when(n <= 1, lit(0L))
        .otherwise(length(bin(n - 1)).cast("long")).as("bucket"))
  }

  /** The block-sharded formulations derive id-blocks with integer
    * arithmetic (`id − pmod(id, blockSize)`), which silently degrades on a
    * non-integral id: a string id casts to null blk, and a partially
    * numeric string id can order blocks differently than the id itself —
    * breaking the bit-identity contract with the single-window form. Fail
    * loudly at plan time instead. */
  private def hasIntegralId(docs: DataFrame): Boolean = {
    import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
    Seq(ByteType, ShortType, IntegerType, LongType).contains(docs.schema(DocId).dataType)
  }

  private def requireIntegralId(docs: DataFrame, who: String): Unit =
    require(hasIntegralId(docs),
      s"$who derives id-blocks arithmetically and requires an integral id " +
        s"column; '$DocId' is ${docs.schema(DocId).dataType}")

  /** Waste accounting over ranked docs: batch = ⌊(rank−1)/batchSize⌋. */
  private def packBatches(ranked: DataFrame, batchSize: Int): DataFrame =
    ranked
      .withColumn("batch_id", ((col("__rk") - 1) / batchSize).cast("long"))
      .groupBy("bucket", "batch_id")
      .agg(
        count(lit(1)).as("n_docs"),
        max("n_tokens").as("max_len"),
        sum("n_tokens").as("sum_len"))
      .withColumn("padding_waste",
        col("n_docs") * col("max_len") - col("sum_len"))

  /** Direct form: one ranking window partitioned by bucket. Parallelism =
    * bucket count (~17 keys), task memory ∝ largest bucket — planned only
    * below the crossover (see [[lengthBuckets]]). */
  private[graft] def windowLengthBuckets(docs: DataFrame, batchSize: Int): DataFrame = {
    val w = Window.partitionBy("bucket").orderBy("doc_id")
    packBatches(
      bucketed(docs).withColumn("__rk", row_number().over(w).cast("long")),
      batchSize)
  }

  /** Two-phase form: the per-bucket rank decomposes into (cumulative count
    * of earlier id-blocks in the bucket) + (rank within the block). Phase 1
    * aggregates one row per (bucket, block) — |docs|/blockSize rows, a
    * broadcastable model-sized table at 100 TB — phase 2 ranks within
    * (bucket, block) partitions, so parallelism is buckets × blocks and no
    * task buffers more than one block of one bucket. Blocks follow id
    * order, so ranks — and hence batch ids and waste rows — are
    * bit-identical to [[windowLengthBuckets]]. */
  private[graft] def shardedLengthBuckets(docs: DataFrame, batchSize: Int,
                                              blockSize: Long): DataFrame = {
    require(blockSize > 0, s"blockSize must be positive, got $blockSize")
    requireIntegralId(docs, "shardedLengthBuckets")
    val d = bucketed(docs).withColumn("blk",
      call_function("div", col("doc_id") - pmod(col("doc_id"), lit(blockSize)), lit(blockSize)))
    val partials = d.groupBy("bucket", "blk").agg(count(lit(1)).as("blk_n"))
    val wOff = Window.partitionBy("bucket").orderBy("blk")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = partials
      .withColumn("blk_off", coalesce(sum("blk_n").over(wOff), lit(0L)))
      .select("bucket", "blk", "blk_off")
    val wLocal = Window.partitionBy("bucket", "blk").orderBy("doc_id")
    packBatches(
      d.join(broadcast(offsets), Seq("bucket", "blk"))
        .withColumn("__rk", col("blk_off") + row_number().over(wLocal)),
      batchSize)
  }

  /** Sliding-window token chunking (size/stride in tokens) — the standard
    * pre-tokenization step that turns documents into fixed-length training
    * sequences with overlap. One output row per (doc, window start). */
  def chunk(docs: DataFrame, size: Int, stride: Int): DataFrame = {
    require(stride > 0 && size > 0, "size and stride must be positive")
    val toks = split(col(Text), " ")
    docs
      .select(col(DocId), toks.as("__toks"))
      // one start offset per stride step; size-1 guard keeps ANSI sequence()
      // happy for docs shorter than one stride
      .select(col(DocId), col("__toks"),
        explode(sequence(lit(0),
          greatest(org.apache.spark.sql.functions.size(col("__toks")) - 1, lit(0)),
          lit(stride))).as("start"))
      .select(col(DocId),
        (col("start") / stride).cast("long").as("chunk_id"),
        array_join(slice(col("__toks"), col("start") + 1, lit(size)), " ").as("chunk"),
        org.apache.spark.sql.functions.size(slice(col("__toks"), col("start") + 1, lit(size)))
          .cast("long").as("n_tokens"))
  }

  /** Greedy stream packing of documents into fixed-length training
    * sequences: concatenate the token stream in doc-id order and cut every
    * `ctxLen` tokens — the standard GPT-style pretraining packing. Each doc
    * gets (seq_id, seq_offset) = where its first token lands; a doc may
    * straddle a boundary (its tokens spill into seq_id+1), exactly like the
    * real packed layout.
    *
    * The global prefix sum is computed in two phases so no single task ever
    * sees the whole stream: per-bucket token subtotals (one small shuffle,
    * |docs|/bucketSize rows), a cumulative-offset window over that TINY
    * bucket table, then a per-bucket window for the local prefix — the big
    * relation is touched by one bucket-partitioned sort, never a global
    * one. (The naive `Window.orderBy(id)` formulation funnels 100 TB
    * through one task.) */
  def packSequences(docs: DataFrame, ctxLen: Long, bucketSize: Long = 4096): DataFrame = {
    require(ctxLen > 0 && bucketSize > 0, "ctxLen and bucketSize must be positive")
    requireIntegralId(docs, "packSequences")
    val counts = docs.select(col(DocId).as("id"),
      org.apache.spark.sql.functions.size(split(col(Text), " ")).cast("long").as("n_tok"))
    val bucketed = counts.withColumn("bkt",
      call_function("div", col("id") - pmod(col("id"), lit(bucketSize)), lit(bucketSize)))
    val partials = bucketed.groupBy("bkt").agg(sum("n_tok").as("bkt_tok"))
    // bucket offsets: window over one row per bucket — thousands of rows at
    // 100 TB, a broadcastable model-sized table
    val wOff = Window.orderBy("bkt").rowsBetween(Window.unboundedPreceding, -1)
    val offsets = partials
      .withColumn("bkt_off", coalesce(sum("bkt_tok").over(wOff), lit(0L)))
      .select("bkt", "bkt_off")
    val wLocal = Window.partitionBy("bkt").orderBy("id")
    bucketed
      .join(broadcast(offsets), Seq("bkt"))
      .withColumn("start",
        col("bkt_off") + sum("n_tok").over(wLocal) - col("n_tok"))
      .select(col("id").as(DocId), col("n_tok"),
        call_function("div", col("start") - pmod(col("start"), lit(ctxLen)), lit(ctxLen))
          .as("seq_id"),
        pmod(col("start"), lit(ctxLen)).as("seq_offset"))
  }

  /** Deterministic MLM-style token masking: token i of doc d is replaced by
    * [[MaskToken]] when the first 4 hex digits of md5("d:i") fall below
    * rate·65536 — a pure, reproducible function of (doc, position) that any
    * engine recomputes identically (no RNG state, retries re-derive the
    * same corruption). Narrow codegen'd map over the token array; no
    * shuffle, no state. Hex-string comparison against the fixed-width
    * threshold IS the numeric comparison, so both sides stay in string
    * space. */
  def maskTokens(docs: DataFrame, rate: Double = 0.15): DataFrame = {
    require(rate >= 0 && rate <= 1, s"rate must be in [0,1], got $rate")
    val threshold = math.round(rate * 65536)
    val thresholdHex = f"$threshold%04x"
    def hit(i: Column): Column =
      // rate 1.0 would need a 5-hex-digit threshold, outside the 4-digit
      // compare domain — short-circuit it
      if (threshold >= 65536) lit(true)
      else substring(md5(concat(col(DocId).cast("string"), lit(":"), i.cast("string"))
        .cast("binary")), 1, 4) < thresholdHex
    // bind the per-position mask decisions to ONE projected array column:
    // both consumers (token substitution and the mask count) read the same
    // attribute instead of re-running the md5 chain — the hash is the whole
    // cost of this operator, and an expression referenced inside two lambdas
    // evaluates once PER REFERENCE (r9: q_mask_tokens paid every md5 twice)
    docs
      .withColumn("__toks", split(col(Text), " "))
      .withColumn("__mask", transform(
        sequence(lit(0), org.apache.spark.sql.functions.size(col("__toks")) - 1),
        i => hit(i)))
      .select(
        col(DocId),
        concat_ws(" ", zip_with(col("__toks"), col("__mask"),
          (t, m) => when(m, lit(MaskToken)).otherwise(t))).as("masked_text"),
        aggregate(col("__mask"), lit(0L),
          (acc, m) => acc + when(m, 1L).otherwise(0L)).as("n_masked"),
        org.apache.spark.sql.functions.size(col("__toks")).cast("long").as("n_tokens"))
  }

  /** Chained regex redaction: each (pattern → replacement) pair applied in
    * order. Codegen'd `regexp_replace`, global per pattern. */
  def redact(df: DataFrame, col0: String, outCol: String,
             patterns: Seq[(String, String)]): DataFrame = {
    val redacted = patterns.foldLeft(col(col0)) { case (c, (pat, repl)) =>
      regexp_replace(c, pat, repl)
    }
    df.withColumn(outCol, redacted)
  }

  /** Luhn checksum validity (Luhn 1954 / ISO-7812 check digit) of a digit
    * string — the payment-card-number VALIDATOR a PII scrub runs on its
    * redaction candidates: a regex finds 13–19-digit runs, this separates
    * real card numbers (report + redact) from order ids and timestamps
    * that merely look like them (false-positive suppression). Every second
    * digit from the RIGHT doubles, digits > 9 fold by −9, and the total
    * must be ≡ 0 (mod 10).
    *
    * A pure column expression (aggregate HOF over the reversed digit
    * string — no UDF, no explode/shuffle); NULL for empty or non-digit
    * input, so malformed candidates classify instead of crash. */
  def luhnValid(d: Column): Column = {
    val clean = when(d.rlike("^[0-9]+$"), d) // else NULL, which propagates
    val r = reverse(clean)
    val total = aggregate(
      sequence(lit(1), length(clean)),
      lit(0),
      (acc: Column, i: Column) => {
        val dig = ascii(r.substr(i, lit(1))) - lit(48)
        val dbl = dig * 2
        acc + when(pmod(i, lit(2)) === 1, dig)
          .otherwise(when(dbl > 9, dbl - 9).otherwise(dbl))
      })
    pmod(total, lit(10)) === 0
  }

  /** Gopher-style repetition metrics per document: token count, distinct
    * ratio, most-frequent-token fraction, duplicate-token fraction. High
    * values of top_frac/dup_frac flag boilerplate and degenerate text.
    * Two-stage aggregation — (doc, token) counts then per-doc roll-up — both
    * with map-side partial aggregation. */
  def repetitionStats(docs: DataFrame): DataFrame =
    docs
      .select(col(DocId), explode(split(col(Text), " ")).as("tok"))
      .groupBy(col(DocId), col("tok")).agg(count(lit(1)).as("c"))
      .groupBy(col(DocId)).agg(
        sum("c").as("n_tokens"),
        count(lit(1)).as("n_distinct"),
        max("c").as("top_cnt"))
      .select(col(DocId),
        col("n_tokens"), col("n_distinct"),
        round(col("top_cnt") / col("n_tokens"), 6).as("top_frac"),
        round((col("n_tokens") - col("n_distinct")) / col("n_tokens"), 6).as("dup_frac"))

  /** Corpus-level top-k word n-grams with counts — vocabulary statistics for
    * tokenizer training / contamination checks. Deterministic tie-break on
    * the n-gram itself. The n-gram build is a per-row transform; the count
    * partial-aggregates before the single shuffle; top-k is a global sort of
    * the (small) aggregated result. */
  def topNgrams(docs: DataFrame, n: Int, k: Int): DataFrame = {
    val toks = split(col(Text), " ")
    val grams = (0 until n).map(i => col("__toks")(col("pos") + i))
    docs
      .select(toks.as("__toks"))
      .select(col("__toks"), explode(
        when(org.apache.spark.sql.functions.size(col("__toks")) >= n,
          sequence(lit(0), org.apache.spark.sql.functions.size(col("__toks")) - n))
          .otherwise(array().cast("array<int>"))).as("pos"))
      .select(concat_ws(" ", grams: _*).as("ngram"))
      .groupBy("ngram").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("ngram"))
      .limit(k)
  }

  /** Class-balanced subsampling: per class, keep the `minCount` docs ranked
    * by content hash (deterministic), where minCount is the smallest class
    * size — equalizes class frequencies without `rand()`. The per-class rank
    * is a window over the class key; the min-count is a broadcast scalar. */
  def balanceClasses(docs: DataFrame, classCol: String): DataFrame = {
    val w = Window.partitionBy(col(classCol)).orderBy(md5(col(Text)), col(DocId))
    val counts = docs.groupBy(col(classCol)).agg(count(lit(1)).as("__cnt"))
    val minCnt = counts.agg(min("__cnt").as("__min"))
    docs
      .withColumn("__rn", row_number().over(w))
      .crossJoin(broadcast(minCnt))
      .where(col("__rn") <= col("__min"))
      .drop("__rn", "__min")
  }

  /** Per-source document cap — the web-curation guard against any one
    * domain dominating the corpus: keep at most `maxPerKey` docs per source,
    * preferring longer documents (quality proxy), doc_id tie-break.
    *
    * Expressed as a rank-≤-k window so Catalyst plans a WindowGroupLimit:
    * each map task pre-prunes its partition to k rows per key BEFORE the
    * exchange (gated in PlanQualitySpec), so the shuffle carries O(k) rows
    * per (task, key) instead of the whole corpus — with web-scale source
    * cardinality (millions of domains) the window itself is embarrassingly
    * parallel. */
  def sourceCap(docs: DataFrame, maxPerKey: Int): DataFrame = {
    val w = Window.partitionBy(col("source")).orderBy(col("n_chars").desc, col(DocId))
    docs
      .withColumn("__rn", row_number().over(w))
      .where(col("__rn") <= maxPerKey)
      .select(col(DocId), col("source"), col("n_chars"))
  }

  /** Curation filter-cascade report: for an ORDERED list of (name,
    * predicate) filters, how many documents each stage drops (attributed to
    * the FIRST failing filter, as a sequential pipeline would) and the
    * cumulative survivors — the observability step of a FineWeb/RefinedWeb
    * filter pipeline. ONE corpus scan: each doc maps to its first-failing
    * stage index and a single conditional aggregation counts the stages; a
    * per-filter `df.filter(...).count()` loop would rescan the corpus once
    * per filter. Everything after the scan operates on ≤ |filters| rows. */
  def filterCascade(docs: DataFrame, filters: Seq[(String, Column)]): DataFrame = {
    require(filters.nonEmpty, "need at least one filter")
    val spark = docs.sparkSession
    import spark.implicits._
    // first failing stage per doc (1-based); 0 = survivor. NULL predicates
    // fall through to the next stage (three-valued logic, same as SQL CASE).
    val stage = filters.zipWithIndex.foldRight(lit(0)) { case (((_, p), i), rest) =>
      when(!p, lit(i + 1)).otherwise(rest)
    }
    val counts = docs.select(stage.as("stage")).groupBy("stage").agg(count(lit(1)).as("n"))
    val dim = filters.zipWithIndex.map { case ((name, _), i) => (i + 1, name) }
      .toDF("stage", "filter")
    val total = docs.agg(count(lit(1)).as("total"))
    val w = Window.orderBy("stage").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    dim.join(counts, Seq("stage"), "left")
      .withColumn("dropped", coalesce(col("n"), lit(0L)))
      .crossJoin(broadcast(total))
      .withColumn("remaining", col("total") - sum(col("dropped")).over(w))
      .select(col("stage").cast("long").as("stage"), col("filter"),
        col("dropped"), col("remaining"))
  }

  /** Select the highest-quality documents that fit a token budget — the
    * data-mixing step that turns quality scores into a training corpus
    * ("take the best B tokens"). Greedy by (quality desc, id): keep every
    * document whose inclusive running token total stays within `budget`.
    *
    * Scale shape: NO data-sized global window (the naive cumulative sum
    * would total-order the corpus on one reducer). Quality (∈ [0,1]) is
    * quantized into [[BudgetBuckets]] buckets; the global running sum runs over
    * the BUCKET TOTALS (a model-sized table), whole buckets inside the
    * budget pass via a broadcast semi-join, and only the single straddling
    * bucket runs a per-doc prefix window — partitioned by bucket, i.e.
    * 1/BudgetBuckets of the corpus sorts, distributed. Same two-level pattern
    * as [[packSequences]]. Exactly equals the global greedy selection:
    * bucket order refines quality order and ties break on id inside one
    * bucket (equal qualities always share a bucket). Callers should pass a
    * quality already rounded to a cross-engine-stable precision if results
    * must reproduce bitwise across engines. */
  def selectByTokenBudget(docs: DataFrame, budget: Long): DataFrame = {
    require(budget >= 0, s"need budget>=0, got $budget")
    val q = col("quality")
    // bucket 0 = best quality
    val d = docs.withColumn("__bkt",
      least(greatest(floor((lit(1.0) - q) * BudgetBuckets), lit(0.0)), lit(BudgetBuckets - 1.0))
        .cast("int"))
    val totals = d.groupBy("__bkt").agg(sum(col("n_tokens")).as("__btok"))
    // running total of tokens in strictly better buckets — a global window
    // over ≤ BudgetBuckets rows (model-sized, the one place a global order is OK)
    val wB = Window.orderBy(col("__bkt")).rowsBetween(Window.unboundedPreceding, -1)
    val offsets = totals.withColumn("__prev", coalesce(sum(col("__btok")).over(wB), lit(0L)))
    val fullyIn = offsets.where(col("__prev") + col("__btok") <= budget).select("__bkt")
    val straddle = offsets
      .where(col("__prev") < budget && col("__prev") + col("__btok") > budget)
      .select("__bkt", "__prev") // ≤ 1 row
    val keptWhole = d.join(broadcast(fullyIn), Seq("__bkt"), "left_semi")
    val wD = Window.partitionBy(col("__bkt")).orderBy(q.desc, col(DocId))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val keptPart = d.join(broadcast(straddle), Seq("__bkt"))
      .withColumn("__cum", sum(col("n_tokens")).over(wD))
      .where(col("__prev") + col("__cum") <= budget)
      .drop("__prev", "__cum")
    keptWhole.unionByName(keptPart).drop("__bkt")
  }

  /** Temperature-based language/source rebalancing (the multilingual
    * α-sampling of mC4/XLM-R, α = 0.5): group g with count n_g is kept at a
    * rate making the sampled composition ∝ n_g^α, damping dominant groups
    * while preserving long-tail ones. `frac` sets the overall sample size
    * (targetTotal = floor(frac × N)).
    *
    * Realized as a HASH-THRESHOLD keep (expected-count sampling), not a
    * rank-and-cut: a doc survives iff its first 8 md5(text) hex digits fall
    * below the group's cut = floor(rate_g × 2³²). That makes the corpus pass
    * a pure narrow map after the tiny per-group rate table broadcasts — no
    * per-group window, no total order inside a 40 TB language partition —
    * the only 100 TB-safe shape for exact-rate subsampling. Deterministic
    * across engines and re-runs: weights are integerized
    * (w_g = ⌊√(n_g·10⁶)⌋, exact in IEEE), targets use pure BIGINT arithmetic
    * (tgt_g = min(n_g, T·w_g div Σw)), and the cut is an 8-hex-digit string
    * compare (lexicographic = numeric for fixed-width lowercase hex). */
  def temperatureSample(docs: DataFrame, frac: Double = 0.5): DataFrame = {
    val counts = docs.groupBy(col("lang")).agg(count(lit(1)).as("__n"))
      .withColumn("__w", floor(sqrt(col("__n") * lit(1000000.0))).cast("long"))
    val totals = counts.agg(sum("__n").as("__tn"), sum("__w").as("__tw"))
    val cuts = counts.crossJoin(broadcast(totals))
      .withColumn("__t", floor(col("__tn") * lit(frac)).cast("long"))
      .withColumn("__tgt",
        least(col("__n"), call_function("div", col("__t") * col("__w"), col("__tw"))))
      // rate ≥ 1 → keep everything: 'g' sorts above every hex digit
      .withColumn("__cut",
        when(col("__tgt") >= col("__n"), lit("g"))
          .otherwise(lpad(lower(hex(
            floor(col("__tgt").cast("double") / col("__n") * lit(4294967296.0))
              .cast("long"))), 8, "0")))
      .select(col("lang"), col("__cut"))
    docs
      .join(broadcast(cuts), "lang")
      .where(substring(md5(col(Text)), 1, 8) < col("__cut"))
      .select(col(DocId), col("lang"))
  }

  /** Weighted source mixing: keep a per-source fraction of documents
    * (deterministic, hash-ranked) — the dataset-mixture step that reweights
    * corpora (web/books/code/...) toward a target composition. Quotas are
    * `floor(weight × source count)`; choose exact binary fractions (0.75,
    * 0.25, ...) for bit-stable quotas across engines. The per-source ranks
    * shuffle once on the source key; the (sources × weights) quota table is
    * broadcast. */
  def mixSources(docs: DataFrame, weights: Map[String, Double]): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val w = weights.toSeq.toDF("source", "__w")
    val counts = docs.groupBy(col("source")).agg(count(lit(1)).as("__cnt"))
    val quotas = counts.join(w, "source")
      .withColumn("__quota", floor(col("__w") * col("__cnt")))
      .select(col("source"), col("__quota"))
    val rn = row_number().over(
      Window.partitionBy(col("source")).orderBy(md5(col(Text)), col(DocId)))
    docs
      .withColumn("__rn", rn)
      .join(broadcast(quotas), "source")
      .where(col("__rn") <= col("__quota"))
      .select(col(DocId), col("source"))
  }

  /** SCD-1 upsert: apply a keyed changeset to a snapshot — changed keys are
    * replaced whole-row, new keys insert, untouched keys carry over. Full
    * outer join on the key; at 100 TB both sides hash-partition on the key
    * (and a base bucketed by the key via ScaleOps makes the apply
    * shuffle-free on the big side). Row-level replacement (a NULL column in
    * a change row wins), not column-level patching.
    *
    * The changeset is deduplicated to one row per key first — a duplicate
    * key would otherwise fan the full outer join out and multiply base
    * rows. The winner is deterministic (max xxhash64 of the whole row), so
    * re-runs pick the same survivor; feed a changelog with a real version
    * column through `latestByKey`-style selection instead if ordering
    * matters. `changes` must share `base`'s non-key columns by name. */
  def upsert(base: DataFrame, changes: DataFrame, keyCol: String): DataFrame = {
    val cols = base.columns.filter(_ != keyCol)
    val one = Window.partitionBy(col(keyCol))
      .orderBy(xxhash64(struct(changes.columns.map(col): _*)).desc)
    val changes1 = changes
      .withColumn("__rn", row_number().over(one))
      .where(col("__rn") === 1).drop("__rn")
    val joined = base.alias("b").join(changes1.alias("c"),
      col(s"b.$keyCol") === col(s"c.$keyCol"), "full_outer")
    val replaced = cols.map(n =>
      when(col(s"c.$keyCol").isNotNull, col(s"c.$n")).otherwise(col(s"b.$n")).as(n))
    joined.select(
      coalesce(col(s"c.$keyCol"), col(s"b.$keyCol")).as(keyCol) +: replaced: _*)
  }

  /** SCD-2 history build: turn a keyed changelog into versioned validity
    * ranges — consecutive rows with the same state collapse into one
    * version carrying `valid_from`/`valid_to` (null = current) and the
    * collapsed row count.
    *
    * Gaps-and-islands via change flags: a row opens a new island when its
    * state differs from its predecessor's (`lag`), and the running sum of
    * those flags is the island id — both window functions share one
    * key-partitioned sort, the island aggregation and the `valid_to`
    * window cluster on the same key, so the whole history builds off a
    * single exchange. Event time is µs-truncated ns (the engine-wide
    * ns-stream convention); `tieCol` must make (key, ts, tie) unique for a
    * deterministic history. */
  def scd2History(df: DataFrame, keyCol: String, tsNsCol: String,
                  tieCol: String, stateCol: String): DataFrame = {
    val tsU = col(tsNsCol) - pmod(col(tsNsCol), lit(1000L))
    val byKey = Window.partitionBy(col(keyCol)).orderBy(col("ts_us"), col(tieCol))
    val running = byKey.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val versions = df
      .select(col(keyCol), tsU.as("ts_us"), col(tieCol), col(stateCol).as("state"))
      .withColumn("chg",
        when(col("state") <=> lag(col("state"), 1).over(byKey), 0L).otherwise(1L))
      .withColumn("island", sum(col("chg")).over(running))
      .groupBy(col(keyCol), col("state"), col("island"))
      .agg(min(col("ts_us")).as("valid_from"), count(lit(1)).as("n_events"))
    val byStart = Window.partitionBy(col(keyCol)).orderBy(col("valid_from"))
    versions
      .withColumn("version", row_number().over(byStart).cast("long"))
      .withColumn("valid_to", lead(col("valid_from"), 1).over(byStart))
      .select(col(keyCol), col("version"), col("state"),
        col("valid_from"), col("valid_to"), col("n_events"))
  }

  /** Keyed pseudonymization: replace a stable identifier with its SHA-256
    * digest — referential integrity preserved (same key → same pseudonym),
    * original not recoverable. Pure map, no shuffle. */
  def pseudonymize(df: DataFrame, keyCol: String, outCol: String): DataFrame =
    df.withColumn(outCol, sha2(col(keyCol).cast("string"), 256))

  /** Key-skew diagnostics for a prospective join/groupBy key: cardinality,
    * max/avg per-key multiplicity, and the key distribution's Shannon
    * entropy in bits. Low entropy + high max_cnt says "salt this key"
    * (ScaleOps.saltedJoin). One shuffle on the key, partial-aggregated. */
  def keySkew(df: DataFrame, keyCol: String): DataFrame = {
    val counts = df.groupBy(col(keyCol)).agg(count(lit(1)).as("c"))
    // broadcast the scalar total rather than a global window (which would
    // single-partition the per-key counts)
    val total = counts.agg(sum("c").as("__n"))
    val p = col("c") / col("__n")
    counts.crossJoin(broadcast(total)).agg(
      count(lit(1)).as("n_keys"),
      max(col("__n")).as("n_rows"),
      max("c").as("max_cnt"),
      round(avg("c"), 6).as("avg_cnt"),
      round(-sum(p * log(2.0, p)), 6).as("entropy_bits"))
  }

  /** Apply an ordered CDC changelog (upserts AND deletes) to a base
    * snapshot: per key, the highest-sequence change wins — op 'D' removes
    * the key, anything else replaces/inserts the full row. Change rows
    * carry the base schema plus (seqCol, opCol).
    *
    * Scale shape: latest-change selection is a per-key window over the
    * changelog only (typically ≪ base); the base is touched by one
    * anti-join on the changed-key set and never rewritten wholesale. A key
    * deleted then re-inserted at a later sequence survives (latest wins),
    * matching log-compaction semantics.
    */
  /** Snapshot diff — the inverse of [[applyCdc]]: given two versions of a
    * keyed table, emit the per-key change set (`added` / `removed` /
    * `changed`, unchanged keys excluded) that turns the old snapshot into
    * the new one. The changelog a pipeline derives when its upstream
    * republishes full snapshots instead of deltas — feeding incremental
    * recompute, cache invalidation, and audit diffs.
    *
    * Scale shape: each side reduces to (key, md5-of-compare-columns) —
    * a narrow codegen'd hash, the wide payload never crosses the exchange
    * — then ONE key-partitioned full outer join classifies every key.
    * The encoding is INJECTION-PROOF: each column contributes a 1-char
    * null/value tag plus its own fixed-width md5 digest, so no value can
    * shift a column boundary — ('a|b','c') and ('a','b|c') hash
    * differently, and a null hashes distinctly from every string
    * (including ""). Keys must be unique within each snapshot by
    * contract — a diff over a non-keyed table is ill-defined. */
  def snapshotDiff(oldSnap: DataFrame, newSnap: DataFrame, keyCol: String,
                   compareCols: Seq[String]): DataFrame = {
    require(compareCols.nonEmpty, "need at least one compare column")
    def hashed(df: DataFrame, h: String): DataFrame = df
      .select(col(keyCol) +: compareCols.map(col): _*)
      .select(col(keyCol),
        md5(concat(compareCols.flatMap(c => Seq(
          when(col(c).isNull, lit("N")).otherwise(lit("V")),
          coalesce(md5(col(c).cast("string")), lit("")))): _*)).as(h))
    val o = hashed(oldSnap, "__oh")
    val n = hashed(newSnap, "__nh")
    o.join(n, Seq(keyCol), "full_outer")
      .withColumn("change_type",
        when(col("__oh").isNull, "added")
          .when(col("__nh").isNull, "removed")
          .when(col("__oh") =!= col("__nh"), "changed"))
      .where(col("change_type").isNotNull)
      .select(col(keyCol), col("change_type"))
  }

  def applyCdc(base: DataFrame, changes: DataFrame, keyCol: String,
      seqCol: String, opCol: String): DataFrame = {
    val w = Window.partitionBy(col(keyCol)).orderBy(col(seqCol).desc)
    // Materialize the latest-per-key changelog once (executor-local
    // checkpoint, the verifyJaccard/connectedComponents pattern): it is
    // read twice below — as the anti-join filter and as the upsert rows —
    // and column pruning diverges the two subtrees (the filter side keeps
    // only the key), so without the barrier the window over the changelog
    // runs twice. A CDC batch is orders of magnitude smaller than the base
    // it applies to; materializing it also hands AQE a sized relation it
    // can broadcast, keeping the base side of the anti-join shuffle-free.
    val latest = changes
      .withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1)
      .ckpt(true)
    val upserts = latest.where(col(opCol) =!= "D")
      .drop("__rn", seqCol, opCol)
    base
      .join(latest.select(col(keyCol)), Seq(keyCol), "left_anti")
      .unionByName(upserts)
  }

  /** Incremental (materialized-view) aggregate maintenance: merge a stored
    * base aggregate with the aggregate of newly arrived rows, touching only
    * the delta — never re-scanning history. Works for any algebraic
    * (commutative-monoid) measures: both inputs carry the same key columns
    * and partial-sum columns, and the merge is a union + re-sum, so
    * `merge(agg(old), agg(new)) == agg(old ∪ new)` by associativity.
    * Non-decomposable metrics (avg, stddev) must be carried as their
    * sum/count/moment parts and finalized downstream.
    *
    * Cost at scale: |base agg| + |delta| rows through one shuffle on the
    * group keys — the historical fact table is never read.
    */
  def mergeAggregates(baseAgg: DataFrame, deltaAgg: DataFrame,
      keyCols: Seq[String], sumCols: Seq[String]): DataFrame =
    baseAgg.unionByName(deltaAgg)
      .groupBy(keyCols.map(col): _*)
      .agg(sum(sumCols.head).as(sumCols.head),
        sumCols.tail.map(c => sum(c).as(c)): _*)

  /** Deterministic weighted sampling WITHOUT replacement, k per group —
    * Efraimidis–Spirakis A-Res: each row draws u ∈ [0,1) and the k largest
    * u^(1/w) win, which samples exactly proportional-to-weight without
    * replacement. Two scale properties: (1) u is HASH-DERIVED (md5 of the
    * id), so the sample is reproducible across retries and engines — the
    * same reason hashSplit avoids rand(); (2) selection runs on the
    * bounded-state [[graft.functions.TopKAggregator]], so per-group state
    * is O(k) and the shuffle carries ≤ k rows per (partition, group) —
    * never a whole-group sort. Rows with non-positive weight are excluded
    * (zero-weight rows have sampling probability 0 anyway). */
  def weightedSample(df: DataFrame, groupCol: String, idCol: String,
      weightCol: String, k: Int): DataFrame = {
    require(k > 0, s"need k>0, got $k")
    val spark = df.sparkSession
    import spark.implicits._
    // first 8 md5 hex chars as a uniform in [0,1): cross-engine exact
    // (conv/cast on the same 32-bit integer), granularity 2^-32
    val u = call_function("md5_u32", col(idCol).cast("string"))
      .cast("double") / lit(4294967296.0)
    val key = pow(u, lit(1.0) / col(weightCol))
    df.where(col(weightCol) > 0)
      .select(col(groupCol).cast("string"), key, col(idCol).cast("long"))
      .as[(String, Double, Long)]
      .groupByKey(_._1)
      .mapValues(r => (r._2, r._3))
      .agg(new graft.functions.TopKAggregator(k).toColumn.name("top"))
      .toDF(groupCol, "top")
      .select(col(groupCol), posexplode(col("top")))
      .select(col(groupCol), (col("pos") + 1).cast("long").as("rk"),
        col("col._2").as(idCol))
  }

  /** Cross-document boilerplate stripping: remove every token covered by a
    * word n-gram that appears in at least `minDf` DISTINCT documents — the
    * repeated-span removal step of web-corpus curation (shared headers,
    * navigation, license blocks), distinct from document-level dedup in
    * that it rewrites surviving documents instead of dropping them.
    *
    * Plan shape: positional n-grams exploded once (corpus-linear), document
    * frequency via one partial-aggregated groupBy on the gram hash, then a
    * shuffle JOIN of positions against the frequent-gram set — never a
    * broadcast, because at `minDf` = 2 the frequent set is as large as the
    * duplicated text itself. Covered positions aggregate per document
    * (state bounded by document length) and the rebuild is a codegen'd
    * array filter per document. Output: (doc_id, clean_text, n_removed,
    * n_tokens); documents shorter than n tokens pass through unchanged.
    *
    * Positions are 1-based so the SQL oracle's list slicing maps 1:1.
    */
  def stripBoilerplate(docs: DataFrame, n: Int = 8, minDf: Int = 2): DataFrame = {
    // fanOut the raw (id, text) before tokenizing: the per-position
    // slice+concat+hash pass below would otherwise run single-task in the
    // scan stage of a small parquet source (no-op at scale); the rebuild
    // join's re-tokenize reuses the same fanned-out exchange subtree
    val base = ScaleOps.fanOut(docs.select(col(DocId).as("id"), col(Text).as("__t")))
    val toked = base.select(col("id"), split(col("__t"), " ").as("toks"))
    // shuffle_hash on the frequent-gram side: it is aggregation output
    // already colocated with the gram exchange's partitions, so the join
    // needs neither an exchange nor a sort of the gram stream (and at
    // minDf = 2 it is never a broadcast — the frequent set scales with the
    // duplicated text).
    val grams = ScaleOps.gramExchange(toked, n)
    val freq = grams
      .groupBy("g").agg(count_distinct(col("id")).as("df"))
      .where(col("df") >= minDf)
      .select("g")
    val covered = grams.join(freq.hint("shuffle_hash"), Seq("g"))
      .select(col("id"), explode(sequence(col("i"), col("i") + (n - 1))).as("p"))
      .groupBy("id")
      .agg(sort_array(collect_set(col("p"))).as("cov"))
    rebuildWithoutPositions(toked, covered)
  }

  /** Rebuild step shared by [[stripBoilerplate]] and
    * [[dedupSpansKeepFirst]]: drop each doc's covered (1-based) token
    * positions and re-join the survivors — a codegen'd array filter per
    * document; docs with no covered positions pass through via the left
    * join. */
  private def rebuildWithoutPositions(toked: DataFrame, covered: DataFrame): DataFrame = {
    val positions = sequence(lit(1), size(col("toks")))
    val kept = filter(
      zip_with(col("toks"), positions, (t, p) => struct(t.as("t"), p.as("p"))),
      s => not(array_contains(col("cov"), s.getField("p"))))
    toked.join(covered, Seq("id"), "left")
      .withColumn("cov", coalesce(col("cov"), array().cast("array<int>")))
      .select(col("id").as(DocId),
        concat_ws(" ", transform(kept, s => s.getField("t"))).as("clean_text"),
        size(col("cov")).cast("long").as("n_removed"),
        size(col("toks")).cast("long").as("n_tokens"))
  }

  /** Exact-substring deduplication with KEEP-FIRST semantics (Lee et al.
    * 2021, "Deduplicating Training Data Makes Language Models Better" —
    * the remove-all-but-one policy their suffix-array dedup applies):
    * every token covered by a word n-gram instance that is NOT that
    * gram's globally first occurrence (lowest (doc id, position)) is
    * removed; the first instance survives. Differs from
    * [[stripBoilerplate]] (minDf policy), which removes ALL instances of
    * a repeated span including the first — keep-first preserves exactly
    * one copy of every duplicated passage, the right policy when the
    * span is content rather than boilerplate.
    *
    * Plan shape: positional n-grams exploded once (corpus-linear), the
    * first-occurrence index via one partial-aggregated min(struct(id,
    * pos)) per gram hash, then a gram-keyed shuffle join back (never a
    * broadcast — the duplicated-gram set scales with the duplicated text)
    * and the shared [[rebuildWithoutPositions]] array filter. At 100 TB
    * this is the scalable stand-in for a suffix array: same removal
    * semantics for spans ≥ n tokens, at n-gram (not suffix) index cost. */
  def dedupSpansKeepFirst(docs: DataFrame, n: Int = 8): DataFrame = {
    // fanOut before tokenizing — see [[stripBoilerplate]]
    val base = ScaleOps.fanOut(docs.select(col(DocId).as("id"), col(Text).as("__t")))
    val toked = base.select(col("id"), split(col("__t"), " ").as("toks"))
    val grams = ScaleOps.gramExchange(toked, n)
    val first = grams.groupBy("g")
      .agg(min(struct(col("id"), col("i"))).as("f"))
      .select(col("g"), col("f.id").as("fid"), col("f.i").as("fi"))
    val covered = grams.join(first.hint("shuffle_hash"), Seq("g"))
      .where(!(col("id") === col("fid") && col("i") === col("fi")))
      .select(col("id"), explode(sequence(col("i"), col("i") + (n - 1))).as("p"))
      .groupBy("id")
      .agg(sort_array(collect_set(col("p"))).as("cov"))
    rebuildWithoutPositions(toked, covered)
  }

  /** DSIR data selection (Xie et al. 2023, "Data Selection for Language
    * Models via Importance Resampling"): score every raw document by how
    * much it resembles a target distribution under hashed bag-of-words
    * models, then Gumbel-top-k sample by the importance weight. The
    * target/raw models are bucket-count vectors over [[DsirBuckets]] hashed
    * unigrams (the hashing trick — first 8 md5 hex chars mod DsirBuckets,
    * portable to the SQL oracle like [[TextOps.linearQualityScore]]);
    * log importance of a doc = Σ_tokens (ln p_target(b) − ln p_raw(b)),
    * add-one smoothed.
    *
    * Scale shape: pass 1 fits BOTH models in one conditional aggregation
    * over the token stream (the shuffle carries DsirBuckets rows, not
    * tokens); the 1-row totals cross-join and the DsirBuckets-row ratio
    * table are model-sized broadcasts; pass 2 re-derives the token stream
    * and scores it with a broadcast hash join + per-doc sum (partial
    * map-side); selection is TakeOrderedAndProject — no global sort, no
    * unpartitioned window. Exactness: per-bucket log-ratios are scaled to
    * int64 (×1e6) BEFORE the per-doc sum, so document scores are exact
    * long sums — order-invariant under any partitioning, unlike a
    * floating sum whose low bits depend on partial-agg order. Gumbel
    * noise is hash-derived from doc_id (reproducible across retries, no
    * RNG state), also ×1e6-quantized, so the selection key is a long and
    * the top-k frontier is engine-independent.
    */
  def dsirResample(docs: DataFrame, isTarget: Column, k: Int): DataFrame = {
    val scale = 1000000L
    def bucketOf(w: Column): Column =
      (call_function("md5_u32", w) % DsirBuckets).cast("int")
    val tok = docs.select(col(DocId).as("doc_id"), isTarget.as("is_tgt"),
        explode(split(col(Text), " ")).as("w"))
      .select(col("doc_id"), col("is_tgt"), bucketOf(col("w")).as("b"))
    // ONE tokenize + per-token-md5 pass (the dominant cost — r13 profiling
    // attributed the query's 1.6 s to running it twice, once for the fit
    // and once for scoring): the per-(doc, bucket) histogram is bounded by
    // |docs| × DsirBuckets rows, materializes eagerly, and BOTH the bucket fit
    // and the per-doc scores derive from it. Scores are unchanged exact
    // integer sums: Σ_tokens lr = Σ_buckets n·lr.
    val perDoc = tok.groupBy(col("doc_id"), col("is_tgt"), col("b"))
      .agg(count(lit(1)).as("n"))
      .ckpt(true)
    val counts = perDoc.groupBy("b").agg(
      sum("n").as("raw_n"),
      sum(when(col("is_tgt"), col("n")).otherwise(0L)).as("tgt_n"))
    val totals = counts.agg(sum("raw_n").as("raw_tot"), sum("tgt_n").as("tgt_tot"))
    val ratios = counts.crossJoin(broadcast(totals))
      .select(col("b"),
        round((log((col("tgt_n") + 1).cast("double") / (col("tgt_tot") + DsirBuckets)) -
               log((col("raw_n") + 1).cast("double") / (col("raw_tot") + DsirBuckets))) * scale)
          .cast("long").as("lr_l"))
    val scored = perDoc.join(broadcast(ratios), Seq("b"))
      .groupBy("doc_id")
      .agg(sum("n").cast("long").as("n_tokens"),
        sum(col("n") * col("lr_l")).as("logw_l"))
    // standard Gumbel from a hash-derived uniform in (0,1): the +0.5 offset
    // keeps u strictly inside the open interval
    val u = (call_function("md5_u32", col("doc_id").cast("string"))
      .cast("double") + lit(0.5d)) / lit(4294967296.0d)
    scored
      .withColumn("key_l", col("logw_l") + round(-log(-log(u)) * scale).cast("long"))
      .orderBy(col("key_l").desc, col("doc_id"))
      .limit(k)
      .select(col("doc_id"), col("n_tokens"),
        (col("logw_l").cast("double") / scale).as("logw"), col("key_l"))
  }
}
