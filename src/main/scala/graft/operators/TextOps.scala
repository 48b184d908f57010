package graft.operators

import graft.GraftSession.Ckpt

import graft.functions.TextFunctions
import graft.functions.TextFunctions._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis operators for the training-data pipeline: language ID,
  * quality scoring, token counting, fingerprinting. All single-pass,
  * shuffle-free per-document transforms (narrow dependencies) — at 100 TB
  * these run map-side at scan parallelism; only the optional per-language
  * aggregations shuffle.
  */
object TextOps {

  private val Text = "text"
  private val DocId = "doc_id"
  /** The symbol separator bpeApply and tokenizerFertility write between
    * the characters of a word. */
  private val Sep = "·"
  /** BM25's term-frequency saturation (k1) and length normalization (b). */
  private val Bm25K1 = 1.2
  private val Bm25B = 0.75
  /** linearQualityScore keeps a document whose score is at least this. */
  private val QualityCutoff = 0.0
  /** Seed of the PRNG that draws the classifier weights. */
  private val QualitySeed = 7L

  /** Per-document token statistics. */
  def tokenStats(docs: DataFrame): DataFrame = {
    val toks = tokens(col(Text))
    docs.select(
      col(DocId),
      size(toks).cast("long").as("n_tokens"),
      size(array_distinct(toks)).cast("long").as("n_distinct"),
      (size(array_distinct(toks)).cast("double") / size(toks)).as("ttr"))
  }

  /** Per-language character-trigram profiles — a tiny instance of the
    * n-gram-frequency method real language identifiers use (Cavnar &
    * Trenkle 1994's rank-profile idea reduced to literal hit counting).
    * Keys sorted ascending: the argmax tie-break below relies on it, and
    * the SQL oracle's comparison cascade mirrors the same order. ASCII
    * only, so the byte-level regexp scan and DuckDB's agree on units. */
  val LangTrigramProfiles: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "sch", "ein", "ich", "und"),
    "en" -> Seq("the", "ing", "ion", " th", "and"),
    "es" -> Seq("de ", "los", "que", " la", "ado"),
    "fr" -> Seq("les", "ent", "des", " de", "une"))

  /** Multi-class language ID by per-language trigram profiles: one
    * non-overlapping occurrence count per profile trigram (summed per
    * language), predicted = the language of the max count, ties broken to
    * the lexicographically smallest language, all-zero scores falling to
    * "other" (the honest call for scripts no Latin profile covers, e.g.
    * zh). Counts are exact integers, so the argmax has no FP tie hazard.
    * On the synthetic shared-vocabulary corpus the MECHANISM (profile
    * scan → per-class scores → deterministic argmax) is what's exercised;
    * production profiles drop in as data.
    *
    * Scale shape: ONE native Aho–Corasick pass per document for ALL
    * profile trigrams (`keyword_counts` — amortized O(text bytes),
    * independent of how many languages/trigrams the profile set carries;
    * the r12 10× stress probe measured the per-trigram regexp form linear
    * per byte but with a 20-pass constant), then a pure projection — no
    * shuffle, no UDF; the per-class argmax is a single array_max over a
    * 4-element struct array. The automaton counts EVERY occurrence, so
    * regexp-oracle parity requires borderless trigrams (no proper suffix
    * equals a prefix) — mechanically `require`d below, not assumed. */
  def langId(docs: DataFrame): DataFrame = {
    val allTris = LangTrigramProfiles.flatMap(_._2).distinct.sorted
    allTris.foreach { p =>
      require(!(1 until p.length).exists(k => p.take(k) == p.takeRight(k)),
        s"lang-id trigram '$p' has a border: overlapping-count parity with " +
          "the non-overlapping regexp oracle would break")
    }
    // counts indexed by the automaton's sorted-distinct pattern order;
    // materialized ONCE per row (a named column, not 20 repeated subtrees)
    val counts = call_function("keyword_counts", col(Text),
      array(allTris.map(lit): _*))
    val withCounts = docs.select(col(DocId), counts.as("_tri_counts"))
    val hits = LangTrigramProfiles.map { case (l, tris) =>
      tris.map(tr => element_at(col("_tri_counts"), lit(allTris.indexOf(tr) + 1)))
        .reduce(_ + _).as(s"hits_$l")
    }
    val scored = withCounts.select(col(DocId) +: hits: _*)
    // struct max orders by (h, negRank): highest count first, then the
    // HIGHEST negated profile index = lowest index = smallest language
    // (profiles are sorted ascending)
    val best = array_max(array(LangTrigramProfiles.zipWithIndex.map {
      case ((l, _), i) => struct(col(s"hits_$l").as("h"), lit(-i).as("nr"))
    }: _*))
    val names = array(LangTrigramProfiles.map(p => lit(p._1)): _*)
    // confidence margin = top hit count − runner-up hit count (EXACT
    // integers, so downstream cascades gate on it deterministically):
    // sort the hit array ascending and subtract the last two. A tied
    // argmax — and the all-zero 'other' rows — report margin 0, exactly
    // the "don't trust this label" signal a lang-gated pipeline wants.
    val sortedHits = array_sort(array(
      LangTrigramProfiles.map { case (l, _) => col(s"hits_$l") }: _*))
    val nLangs = LangTrigramProfiles.length
    scored.select(
      col(DocId) +:
        LangTrigramProfiles.map { case (l, _) => col(s"hits_$l") } :+
        when(best.getField("h") === 0, lit("other"))
          .otherwise(element_at(names, (-best.getField("nr")) + 1))
          .as("predicted_lang") :+
        (element_at(sortedHits, nLangs) - element_at(sortedHits, nLangs - 1))
          .as("margin"): _*)
  }

  /** Composite quality score from length, lexical diversity, and stopword
    * density — the usual cheap pre-filter before expensive pipeline stages. */
  def qualityScore(docs: DataFrame): DataFrame = {
    val toks = tokens(col(Text))
    val nTok = size(toks).cast("double")
    val ttr = size(array_distinct(toks)).cast("double") / nTok
    val stopRatio = vocabCount(toks, EnglishStopwords).cast("double") / nTok
    val lenScore = least(nTok / 100.0, lit(1.0))
    docs.select(
      col(DocId),
      size(toks).cast("long").as("n_tokens"),
      round(ttr, 6).as("ttr"),
      round(stopRatio, 6).as("stop_ratio"),
      round(lenScore * 0.3 + ttr * 0.4 + stopRatio * 0.3, 6).as("quality"))
  }

  /** Token counting: whitespace tokens and a BPE-ish regex tokenisation. */
  def tokenCounts(docs: DataFrame): DataFrame =
    docs.select(
      col(DocId),
      size(tokens(col(Text))).cast("long").as("ws_tokens"),
      size(regexp_extract_all(col(Text), lit(BpePattern), lit(0))).cast("long").as("bpe_tokens"))

  /** Content fingerprints: md5 of normalised text (oracle-checkable) plus an
    * order-sensitive rolling token hash (engine-specific, test-covered). */
  def fingerprints(docs: DataFrame): DataFrame =
    docs.select(
      col(DocId),
      fingerprint(col(Text)).as("fp_md5"),
      rollingHash(tokens(normalized(col(Text)))).as("fp_rolling"))

  /** Winnowing fingerprints (Schleimer, Wilkerson & Aiken, SIGMOD 2003 —
    * the MOSS algorithm): hash every k-token gram, slide a window of w
    * consecutive gram hashes, keep the minimum per window, distinct per
    * document. GUARANTEE: any token run of ≥ w+k-1 tokens shared between
    * two documents contributes at least one shared fingerprint, while only
    * ~2/(w+1) of gram hashes are kept — the index a downstream overlap
    * join probes is w× smaller than the full shingle index at the same
    * detection floor ([[graft.operators.DedupOps.winnowPairs]]).
    *
    * The gram hash is the md5 hex of the gram text with LEXICOGRAPHIC min —
    * engine-independent (same md5-hex contract as maskTokens/hashSplit), so
    * the selected fingerprints are bit-identical in any engine. Plan shape:
    * position-explode + codegen'd scalar md5 per gram (the measured-fast
    * shingle idiom — HOF lambdas re-evaluate non-attribute children per
    * reference), then the window min as a bounded w-row frame over the
    * per-document position order, then one distinct. The only exchange is
    * the doc_id hash partitioning the window and distinct share. */
  def winnow(docs: DataFrame, k: Int = 4, w: Int = 5): DataFrame = {
    val toks = tokens(col(Text))
    val grams = docs
      .where(size(toks) >= k + w - 1) // at least one full window
      .select(col(DocId).as("doc_id"), toks.as("t"))
      .select(col("doc_id"), (size(col("t")) - k).as("last_i"), col("t"))
      .select(col("doc_id"), col("last_i"),
        explode(sequence(lit(0), col("last_i"))).as("i"), col("t"))
      .select(col("doc_id"), col("last_i"), col("i"),
        md5(concat_ws(" ", slice(col("t"), col("i") + 1, lit(k)))
          .cast("binary")).as("h"))
    val win = Window.partitionBy("doc_id").orderBy("i")
      .rowsBetween(Window.currentRow, w - 1)
    grams
      .withColumn("fp", min(col("h")).over(win))
      .where(col("i") <= col("last_i") - (w - 1)) // full windows only
      .select(col("doc_id"), col("fp"))
      .distinct()
  }

  /** (doc_id, term, tf) term frequencies — the shared base of the IR
    * operators below. One explode + one (doc, term) aggregation; partial
    * (map-side) combine absorbs most of the explode fan-out before the
    * shuffle. */
  private def termFreqs(docs: DataFrame): DataFrame =
    docs
      .select(col(DocId).as("doc_id"), explode(tokens(col(Text))).as("term"))
      .groupBy("doc_id", "term")
      .agg(count(lit(1)).as("tf"))

  /** Top-k keywords per document by TF-IDF (idf = ln(N/df)).
    *
    * Plan: per-(doc,term) tf → per-term df (a second, far smaller
    * aggregation) → join tf⋈df on term → per-doc top-k window. The df table
    * has one row per vocabulary term — at 100 TB that is still tiny next to
    * the corpus, so AQE broadcasts it; the only big shuffles are the two
    * aggregations, both partial-combined. N (corpus size) is a broadcast
    * scalar, not a window over the data. */
  def tfidfTopK(docs: DataFrame, k: Int = 3): DataFrame = {
    val tf = termFreqs(docs)
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val scored = tf
      .join(broadcast(df), "term")
      .crossJoin(broadcast(n))
      .withColumn("score",
        round(col("tf") * log(col("n_docs").cast("double") / col("df")), 6))
    val w = Window.partitionBy("doc_id").orderBy(col("score").desc, col("term"))
    scored
      .withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
      .select(col("doc_id"), col("rank"), col("term"), col("score"))
  }

  /** BM25 ranking of the corpus against a bag of query terms
    * (Robertson/Sparck Jones; the `ln(1 + (N-df+0.5)/(df+0.5))` idf variant
    * that stays positive for common terms).
    *
    * The query side is literal terms — the tf table is filtered with `isin`
    * (pushed to the scan side of the aggregate), idf constants live in a
    * broadcast row, and the final top-k is `orderBy.limit` =
    * TakeOrderedAndProject: per-partition heaps, no global sort. */
  def bm25(docs: DataFrame, queryTerms: Seq[String], k: Int = 20): DataFrame = {
    require(queryTerms.nonEmpty, "queryTerms must be non-empty")
    val tf = termFreqs(docs)
      .where(col("term").isin(queryTerms: _*))
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val stats = docs.agg(
      count(lit(1)).as("n_docs"),
      avg(size(tokens(col(Text))).cast("double")).as("avgdl"))
    val dl = docs.select(col(DocId).as("doc_id"),
      size(tokens(col(Text))).cast("double").as("dl"))
    val idf = df.crossJoin(broadcast(stats))
      .withColumn("idf",
        log(lit(1.0) + (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5))))
    val perTerm = tf
      .join(broadcast(idf), "term")
      .join(dl, "doc_id")
      .withColumn("contrib",
        col("idf") * (col("tf") * (lit(Bm25K1) + 1.0)) /
          (col("tf") + lit(Bm25K1) *
            (lit(1.0) - lit(Bm25B) + lit(Bm25B) * col("dl") / col("avgdl"))))
    perTerm
      .groupBy("doc_id")
      .agg(round(sum("contrib"), 6).as("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(k)
  }

  /** Adjacent-token-pair frequencies — the merge-candidate statistic at the
    * heart of BPE/WordPiece tokenizer training (each training step merges
    * the most frequent adjacent pair). One position explode (codegen'd
    * scalar pair construction, the same hot path as the shingle operators)
    * and one partial-combined count; top-k via orderBy+limit =
    * TakeOrderedAndProject. Linear in corpus tokens. */
  def bpePairCounts(docs: DataFrame, k: Int = 20): DataFrame = {
    val pairs = docs
      .select(tokens(col(Text)).as("toks"))
      .where(size(col("toks")) >= 2)
      .select(col("toks"), explode(sequence(lit(0), size(col("toks")) - 2)).as("i"))
      .select(
        element_at(col("toks"), col("i") + 1).as("lhs"),
        element_at(col("toks"), col("i") + 2).as("rhs"))
    pairs
      .groupBy("lhs", "rhs")
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("lhs"), col("rhs"))
      .limit(k)
  }

  /** TRAIN a byte-pair-encoding merge table (Sennrich 2016): the corpus
    * reduces once to the word-frequency vocabulary, every word splits to
    * characters, and each round (a) counts adjacent symbol pairs weighted
    * by word frequency, (b) picks the most frequent pair (ties to the
    * lexicographically smallest), and (c) merges it everywhere. Emits one
    * (round, pair, n) row per learned merge — the model artifact
    * [[bpeApply]] consumes.
    *
    * Merge convention: a single leftmost-nonoverlapping literal replace
    * per round on the space-joined symbol string — EXACTLY the convention
    * [[bpeApply]] applies at inference and the one a SQL oracle can
    * reproduce verbatim with `replace()` (both engines scan left to right
    * and resume AFTER each match, so "a a a" merges once per pass in
    * both). Pair counting is over all adjacent positions of the CURRENT
    * symbol string; counts are exact integers, so selection is
    * deterministic down to the tie-break.
    *
    * Scale shape: after the one corpus rollup, every round touches only
    * the VOCABULARY relation (distinct words — millions of rows at 100 TB,
    * not the corpus): one pair aggregation, a 1-row best-pair broadcast
    * (no driver collect — the argmin rides a crossJoin), and a narrow
    * string map. Each round runs two eager checkpoints while the plan is
    * built: the 1-row best pair and the merged vocabulary, so the returned
    * union only reads checkpointed rows. */
  def bpeTrain(docs: DataFrame, rounds: Int): DataFrame = {
    require(rounds >= 1 && rounds <= 64, s"rounds must be in [1, 64], got $rounds")
    var vocab = docs
      .select(explode(split(col(Text), " ")).as("w"))
      .where(length(col("w")) > 0)
      .groupBy("w").agg(count(lit(1)).as("cnt"))
      .select(col("cnt"), trim(regexp_replace(col("w"), "(.)", "$1 ")).as("s"))
      .ckpt(true)
    val merges = scala.collection.mutable.Buffer.empty[DataFrame]
    var r = 1
    while (r <= rounds) {
      val withPairs = vocab
        .select(col("cnt"), split(col("s"), " ").as("x"))
        .where(size(col("x")) >= 2) // sequence(1, 0) would run DESCENDING
        .select(col("cnt"), explode(expr(
          "transform(sequence(1, size(x) - 1), " +
            "i -> concat(element_at(x, i), ' ', element_at(x, i + 1)))")).as("pr"))
      val best = withPairs.groupBy("pr").agg(sum("cnt").as("n"))
        .agg(min(struct((lit(-1L) * col("n")).as("negN"), col("pr").as("p"))).as("m"))
        .select(lit(r.toLong).as("round"), col("m.p").as("pair"),
          (lit(-1L) * col("m.negN")).as("n"))
        .ckpt(true) // 1 row: the round's output AND its broadcast
      merges += best
      vocab = vocab
        .crossJoin(broadcast(best.select(col("pair").as("bp"))))
        .select(col("cnt"),
          when(col("bp").isNull, col("s")) // exhausted vocab: no-op round
            .otherwise(trim(call_function("replace",
              concat(lit(" "), col("s"), lit(" ")),
              concat(lit(" "), col("bp"), lit(" ")),
              concat(lit(" "),
                call_function("replace", col("bp"), lit(" "), lit("")),
                lit(" "))))).as("s"))
        .ckpt(true)
      r += 1
    }
    // an exhausted vocabulary yields a NULL argmin for the remaining
    // rounds — drop those rows (a SQL LIMIT-1 over an empty pair table
    // emits nothing, and a model artifact must not carry null merges)
    merges.reduce(_ unionAll _).where(col("pair").isNotNull)
  }

  /** Apply a TRAINED byte-pair-encoding merge table to text — the
    * production tokenization step ([[bpePairCounts]] is the training-side
    * statistic; this is inference with the resulting model artifact). Each
    * word becomes a [[Sep]]-delimited symbol sequence (every character a
    * symbol), then the merge list applies in rank order, each merge a
    * global leftmost-nonoverlapping literal replace — the rank-greedy
    * application order of the BPE literature (Sennrich 2016; GPT-2's
    * per-word loop realizes the same rank precedence). One native
    * expression ([[graft.plans.BpeMerger]]) runs it: a narrow per-row map
    * with no shuffle, no UDF, and the merge table folded into the plan as
    * literals — the broadcast-a-model-artifact shape at any scale.
    * Emits the symbolized text and the post-merge symbol count.
    */
  def bpeApply(docs: DataFrame, merges: Seq[(String, String)]): DataFrame = {
    // ONE native pass over a per-word symbol table (graft.plans.BpeMerger)
    // instead of one regexp wrap + one full-string replace PER MERGE — the
    // r12 10× stress probe priced the chain at a merges-count constant
    // (8.1× ratio / 15.2 s at 10× data for 10 merges). Semantic parity
    // with the chain is exact on Sep-free text (pinned by a randomized
    // property against the chain, BpeMergerProperties, AND by the
    // unchanged chain-formulation DuckDB oracle).
    val flat = Sep +: merges.flatMap { case (a, b) => Seq(a, b) }
    val clean = call_function("bpe_apply", col(Text), array(flat.map(lit): _*))
    docs
      .select(col(DocId), clean.as("bpe_text"))
      .select(col(DocId), col("bpe_text"),
        size(split(col("bpe_text"), "[ " + Sep + "]")).cast("long").as("n_symbols"))
  }

  /** Tokenizer-fertility report per language: how many BPE symbols the
    * trained merge table spends per whitespace word (fertility — the
    * standard tokenizer-efficiency metric multilingual pipelines budget
    * by) and how many bytes each symbol carries. High fertility on a
    * language = the tokenizer fragments it = that data costs more context
    * window per word — exactly what a mixture designer gates on.
    *
    * One codegen'd scan (the native `bpe_apply` pass + two splits) into a
    * partial-aggregated groupBy over the |langs|-sized rollup; ratios are
    * single divisions of exact long sums, so the report is
    * partitioning-independent. */
  def tokenizerFertility(docs: DataFrame, merges: Seq[(String, String)]): DataFrame = {
    val flat = Sep +: merges.flatMap { case (a, b) => Seq(a, b) }
    val clean = call_function("bpe_apply", col(Text), array(flat.map(lit): _*))
    docs
      .select(col("lang").as("lang"),
        size(split(clean, "[ " + Sep + "]")).cast("long").as("n_symbols"),
        size(split(col(Text), " ")).cast("long").as("n_words"),
        octet_length(col(Text)).cast("long").as("n_bytes"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum("n_symbols").as("ss"), sum("n_words").as("swd"), sum("n_bytes").as("sb"))
      .select(col("lang"), col("n_docs"),
        round(col("ss").cast("double") / col("swd"), 6).as("fertility"),
        round(col("sb").cast("double") / col("ss"), 6).as("bytes_per_symbol"))
  }

  /** PMI collocation mining — pointwise mutual information of adjacent
    * token pairs, log(p(ab) / (p(a)·p(b))): the phrase-mining /
    * vocabulary-construction statistic that separates true collocations
    * ("new york") from pairs that co-occur only because both words are
    * frequent. Complements [[bpePairCounts]] (raw frequency) with the
    * association-strength score; `minCount` drops low-support pairs whose
    * PMI estimate is noise.
    *
    * Plan shape: one bigram count (single shuffle, partial-combined), then
    * the model-sized unigram vocabulary broadcasts onto the pair table
    * twice — the corpus is never reshuffled for the probability join. The
    * two corpus totals are broadcast scalars. Top-k via orderBy+limit =
    * TakeOrderedAndProject. The PMI argument is evaluated in a fixed
    * association (((c_ab·T)·T) / ((B·c_a)·c_b)) so engines agree bitwise
    * before the round. */
  def pmiCollocations(docs: DataFrame, minCount: Long = 10, k: Int = 30): DataFrame = {
    val toks = docs.select(tokens(col(Text)).as("toks"))
    val uni = toks.select(explode(col("toks")).as("t"))
      .groupBy("t").agg(count(lit(1)).as("c"))
    val uniTot = uni.agg(sum("c").cast("double").as("tt"))
    val pairs = toks.where(size(col("toks")) >= 2)
      .select(col("toks"), explode(sequence(lit(0), size(col("toks")) - 2)).as("i"))
      .select(
        element_at(col("toks"), col("i") + 1).as("lhs"),
        element_at(col("toks"), col("i") + 2).as("rhs"))
      .groupBy("lhs", "rhs").agg(count(lit(1)).as("c_ab"))
    val pairTot = pairs.agg(sum("c_ab").cast("double").as("bt"))
    pairs
      .where(col("c_ab") >= minCount)
      .join(broadcast(uni.select(col("t").as("lhs"), col("c").as("c_a"))), Seq("lhs"))
      .join(broadcast(uni.select(col("t").as("rhs"), col("c").as("c_b"))), Seq("rhs"))
      .crossJoin(broadcast(uniTot))
      .crossJoin(broadcast(pairTot))
      .withColumn("pmi", round(log(
        ((col("c_ab").cast("double") * col("tt")) * col("tt")) /
          ((col("bt") * col("c_a")) * col("c_b"))), 6))
      .select(col("lhs"), col("rhs"), col("c_ab"), col("pmi"))
      .orderBy(col("pmi").desc, col("lhs"), col("rhs"))
      .limit(k)
  }

  /** Reciprocal-rank fusion of several rankings (Cormack et al.): each
    * ranker contributes 1/(k+rank) and documents are re-ranked by the sum —
    * the standard lexical+semantic hybrid-retrieval merge (BM25 ⊕ vector
    * top-k), robust to incomparable score scales because only RANKS enter.
    * A document absent from a ranker simply gets no contribution from it.
    *
    * Inputs are top-k ranking tables — model-sized by construction — so the
    * union + aggregation is trivially cheap; the heavy lifting lives in the
    * upstream rankers. Final top-N via orderBy+limit =
    * TakeOrderedAndProject. With two rankers the per-group sum is a single
    * commutative FP add, bit-stable across engines; for 3+ rankers prefer
    * higher-precision accumulation if bit-reproducibility matters. */
  def rrfFuse(rankings: Seq[DataFrame], kRrf: Int = 60, topN: Int = 20): DataFrame = {
    require(rankings.nonEmpty, "need at least one ranking")
    rankings
      .map(r => r.select(col(DocId),
        (lit(1.0) / (lit(kRrf) + col("rank"))).as("__c")))
      .reduce(_ unionByName _)
      .groupBy(DocId)
      .agg(round(sum("__c"), 6).as("rrf_score"),
        count(lit(1)).cast("long").as("n_rankers"))
      .orderBy(col("rrf_score").desc, col(DocId))
      .limit(topN)
  }

  /** CCNet-style language-model quality proxy: the mean log-probability of
    * a document's tokens under the corpus's own unigram distribution
    * (ln(cnt(term)/total)). Documents dominated by rare/garbled tokens
    * score low; boilerplate scores high — the cheap LM filter that
    * precedes expensive model-based scoring in pretraining pipelines.
    *
    * Plan: per-(doc,term) tf (one partial-combined shuffle), corpus term
    * counts (a second, vocabulary-sized aggregation — broadcast back), the
    * corpus total as a broadcast scalar, then one per-doc aggregation.
    * The corpus is scanned once; nothing driver-side. */
  def unigramLogProb(docs: DataFrame): DataFrame = {
    val tf = termFreqs(docs)
    val cnt = tf.groupBy("term").agg(sum("tf").as("cnt"))
    val total = cnt.agg(sum("cnt").as("total"))
    tf
      .join(broadcast(cnt), Seq("term"))
      .crossJoin(broadcast(total))
      .groupBy("doc_id")
      .agg(
        sum("tf").cast("long").as("n_tokens"),
        round(sum(col("tf") * log(col("cnt").cast("double") / col("total"))) / sum("tf"), 6)
          .as("avg_logprob"))
  }

  /** Bigram-LM document fluency: average log P(w_i | w_{i-1}) under an
    * add-one-smoothed bigram model fitted on the corpus itself — the
    * conditional-probability quality signal one tier above
    * [[unigramLogProb]] (the KenLM-style perplexity filter of the CCNet/
    * RefinedWeb pipelines, restricted to order 2). Smoothing:
    * P(w₂|w₁) = (c(w₁,w₂) + 1) / (c(w₁·) + V), with c(w₁·) the count of w₁
    * as a bigram prefix and V the corpus vocabulary size.
    *
    * Plan: one position explode builds (doc, w₁, w₂) rows (codegen'd
    * element_at, same hot path as the shingle operators); the bigram count
    * table is corpus-sparse and joins back on its own key (content-keyed
    * shuffle — skew follows real collocations, AQE-splittable); the prefix
    * counts are vocabulary-sized (broadcast) and V is a broadcast scalar.
    * Linear in corpus tokens, nothing driver-side. */
  def bigramLogProb(docs: DataFrame): DataFrame = {
    val pos = docs
      .select(col(DocId).as("doc_id"), tokens(col(Text)).as("toks"))
      .where(size(col("toks")) >= 2)
      .select(col("doc_id"), col("toks"),
        explode(sequence(lit(0), size(col("toks")) - 2)).as("i"))
      .select(col("doc_id"),
        element_at(col("toks"), col("i") + 1).as("w1"),
        element_at(col("toks"), col("i") + 2).as("w2"))
    val c12 = pos.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
    val c1 = pos.groupBy("w1").agg(count(lit(1)).as("c1"))
    val v = docs.select(explode(tokens(col(Text))).as("w"))
      .agg(count_distinct(col("w")).as("v"))
    pos
      .join(c12, Seq("w1", "w2"))
      .join(broadcast(c1), Seq("w1"))
      .crossJoin(broadcast(v))
      .withColumn("lp",
        log((col("c12") + 1).cast("double") / (col("c1") + col("v")).cast("double")))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), round(avg("lp"), 6).as("avg_logprob"))
  }

  /** Feature-hashed linear quality classifier — the fasttext-style scoring
    * tier of quality filtering (CCNet / Llama-style pipelines run a learned
    * linear model over bag-of-words features; heuristics and LM perplexity
    * are the other two tiers, see [[qualityScore]] / [[unigramLogProb]]).
    * Each token maps to one of `nFeatures` buckets via the hashing trick
    * (first 8 hex chars of md5 mod nFeatures — portable across engines,
    * unlike murmur/xxhash), and the document score is the mean bucket
    * weight, squashed to a keep decision at [[QualityCutoff]].
    *
    * Weights are multiples of 1/64 in [-0.5, 0.5) from a seeded PRNG (a
    * stand-in for trained coefficients — swap in a real model's weights at
    * production; the plan is identical). Dyadic weights make every partial
    * sum exactly representable, so the token sum is order-independent and
    * the score reproduces bitwise on any engine. One narrow pass: the
    * weight table rides as a constant-folded array literal (model
    * metadata), the per-token lookup is an `aggregate` HOF over the token
    * array — no explode, no shuffle, no state; scan-speed at 100 TB. */
  def linearQualityScore(docs: DataFrame, nFeatures: Int = 1024): DataFrame = {
    val weights = array(classifierWeights(nFeatures).map(lit): _*)
    val toks = split(col(Text), " ")
    def featOf(tok: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      (call_function("md5_u32", tok) % nFeatures).cast("int")
    docs
      .withColumn("__toks", toks)
      .select(
        col(DocId),
        size(col("__toks")).cast("long").as("n_tokens"),
        round(
          aggregate(col("__toks"), lit(0.0d),
            (acc, tok) => acc + element_at(weights, featOf(tok) + 1)) /
            greatest(size(col("__toks")), lit(1)), 6).as("score"))
      .withColumn("keep", col("score") >= QualityCutoff)
  }

  /** The dyadic weight table [[linearQualityScore]] bakes into its plan —
    * exposed so an oracle can reproduce the identical literals. */
  def classifierWeights(nFeatures: Int): Array[Double] = {
    val rnd = new scala.util.Random(QualitySeed)
    Array.fill(nFeatures)((rnd.nextInt(64) - 32) / 64.0)
  }

  /** Inverted index: one row per term with document frequency, collection
    * frequency, and the sorted distinct posting list. Single aggregation on
    * the term after the explode; posting lists are built from the already
    * per-(doc,term)-collapsed tf rows, so the collected arrays carry one
    * entry per document, not per occurrence. */
  def invertedIndex(docs: DataFrame): DataFrame =
    termFreqs(docs)
      .groupBy("term")
      .agg(
        count(lit(1)).as("df"),
        sum("tf").as("cf"),
        sort_array(collect_list(col("doc_id"))).as("postings"))

  /** Per-document out-of-vocabulary rate against the corpus's own top-V
    * token vocabulary — the tokenizer-coverage diagnostic a pipeline runs
    * before committing to a vocab size (docs with high OOV under the
    * candidate vocab will fragment into byte-level pieces at train time).
    *
    * The vocabulary is the `vocabSize` most frequent tokens, ties broken
    * lexicographically — a total order, so the vocab is a deterministic
    * constant of the corpus an oracle recomputes with the same ORDER BY +
    * LIMIT. Plan shape: one token-count aggregation, TakeOrdered to the
    * bounded vocab (model metadata, never corpus-sized), then the vocab
    * BROADCASTS onto the exploded token stream and membership aggregates
    * per document — the big relation sees one shuffle (the per-doc agg);
    * the vocab side is |V| rows regardless of corpus size. */
  def oovRate(docs: DataFrame, vocabSize: Int = 50): DataFrame = {
    require(vocabSize > 0, s"vocabSize must be positive, got $vocabSize")
    val toks = docs.select(col(DocId), explode(tokens(col(Text))).as("tok"))
    val vocab = toks.groupBy("tok").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("tok").asc)
      .limit(vocabSize)
      .select(col("tok"), lit(1).as("__in_vocab"))
    toks
      .join(broadcast(vocab), Seq("tok"), "left")
      .groupBy(col(DocId))
      .agg(
        count(lit(1)).as("n_tokens"),
        sum(when(col("__in_vocab").isNull, 1L).otherwise(0L)).as("n_oov"))
      .withColumn("oov_rate", round(col("n_oov") / col("n_tokens").cast("double"), 6))
  }

  /** Per-document n-gram novelty: the fraction of a document's DISTINCT
    * n-grams that occur for the FIRST time in this document (first = lowest
    * doc id over the whole corpus) — the marginal-contribution curve
    * curation uses to order or cap sources (late documents of a crawl
    * contribute mostly n-grams the corpus already has; their novelty rate
    * decays toward the dedup threshold).
    *
    * Plan shape: per-doc distinct grams (explode + distinct), a gram-keyed
    * min-id aggregation (the first-occurrence index — ONE pass, partial
    * aggregation map-side), and a gram-keyed equi-join back. Both shuffles
    * key on the gram: hash-distributed, AQE-splittable, no broadcast of
    * anything corpus-sized. The join key here is the gram STRING so the
    * SQL oracle reproduces it byte-for-byte; at 100 TB key it on
    * xxhash64(gram) instead — same plan, 8-byte exchange keys. */
  def ngramNovelty(docs: DataFrame, n: Int = 3): DataFrame = {
    require(n > 0, s"n must be positive, got $n")
    // fanOut before tokenizing (the shingleHashed small-file-trap fix)
    val grams = graft.operators.ScaleOps.fanOut(
        docs.select(col(DocId).as("id"), col(Text).as("__t")))
      .select(col("id"), tokens(col("__t")).as("toks"))
      .where(size(col("toks")) >= n)
      .select(col("id"), explode(sequence(lit(0), size(col("toks")) - n)).as("i"),
        col("toks"))
      .select(col("id"), concat_ws(" ", slice(col("toks"), col("i") + 1, lit(n))).as("gram"))
      .distinct()
    val first = grams.groupBy("gram").agg(min(col("id")).as("first_id"))
    grams
      .join(first, Seq("gram"))
      .groupBy(col("id"))
      .agg(
        count(lit(1)).as("n_grams"),
        sum(when(col("id") === col("first_id"), 1L).otherwise(0L)).as("n_novel"))
      .withColumn("novelty_rate", round(col("n_novel") / col("n_grams").cast("double"), 6))
      .select(col("id").as(DocId), col("n_grams"), col("n_novel"), col("novelty_rate"))
  }

  /** Zipf rank-frequency slope over the top-`k` tokens: the least-squares
    * slope of log(freq) on log(rank) — natural text sits near −1; heavily
    * deduplicated or templated corpora drift shallower/steeper, so the
    * slope is a one-number corpus-diversity health metric tracked across
    * pipeline stages. Returns one row (n_ranks, slope, intercept).
    *
    * Plan shape: one token-count aggregation, TakeOrdered to the bounded
    * top-k (ties broken lexicographically — total order, oracle-exact),
    * rank + regression over those k rows only. The ranking window and the
    * final aggregate run on k rows — model-sized, never corpus-sized. */
  def zipfSlope(docs: DataFrame, k: Int = 100): DataFrame = {
    require(k >= 2, s"need at least 2 ranks for a slope, got $k")
    val top = docs.select(explode(tokens(col(Text))).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("tok").asc)
      .limit(k)
    // rank over the k-row table (bounded single-partition window by design)
    val ranked = top
      .withColumn("rank", row_number().over(
        Window.orderBy(col("cnt").desc, col("tok").asc)))
      .select(log(col("rank").cast("double")).as("x"),
        log(col("cnt").cast("double")).as("y"))
    ranked.agg(
      count(lit(1)).as("n_ranks"),
      round(covar_pop(col("y"), col("x")) / var_pop(col("x")), 6).as("slope"),
      round(avg(col("y")) - covar_pop(col("y"), col("x")) / var_pop(col("x")) * avg(col("x")), 6)
        .as("intercept"))
  }

  /** URL canonicalization — the web-curation normalizer that makes
    * crawl-duplicate detection an EXACT groupBy instead of fuzzy matching:
    * scheme/authority lowercased, a leading `www.` and the scheme's
    * default port dropped (non-default ports are real routing and stay),
    * trailing path slashes stripped, tracking parameters (utm_*, fbclid,
    * gclid, ref, mc_cid/mc_eid) removed, surviving query params sorted so
    * parameter order stops mattering, fragments dropped (parse_url never
    * surfaces them). Pure codegen'd expressions over `parse_url` — a
    * narrow map in the scan, no shuffle; the canonical string is what
    * reaches the dedup exchange. Malformed URLs (no authority) canonicalize
    * to NULL and can be routed out. */
  def canonicalizeUrl(url: Column): Column = {
    val proto = lower(try_parse_url(url, lit("PROTOCOL")))
    val auth0 = regexp_replace(lower(try_parse_url(url, lit("AUTHORITY"))), "^www\\.", "")
    val auth = when(proto === "http", regexp_replace(auth0, ":80$", ""))
      .when(proto === "https", regexp_replace(auth0, ":443$", ""))
      .otherwise(auth0)
    val path0 = try_parse_url(url, lit("PATH"))
    val path = when(path0.isNull, lit("")).otherwise(regexp_replace(path0, "/+$", ""))
    val keep = filter(split(coalesce(try_parse_url(url, lit("QUERY")), lit("")), "&"), p =>
      p =!= "" && !p.rlike("^(utm_[^=]*|fbclid|gclid|ref|mc_cid|mc_eid)="))
    val canonQ = array_join(sort_array(keep), "&")
    when(proto.isNull || auth.isNull, lit(null).cast("string"))
      .otherwise(concat(proto, lit("://"), auth, path,
        when(canonQ === "", lit("")).otherwise(concat(lit("?"), canonQ))))
  }

  /** Exact URL dedup over the canonical form: [[canonicalizeUrl]] then the
    * [[DedupOps.exact]] keeper pattern — one narrow canonicalization in
    * the scan, one hash-partitioned window on the canonical string. The
    * crawl-frontier "have we fetched this page" primitive at 100 TB:
    * only (id, canonical string) crosses the exchange. Malformed URLs
    * (NULL canonical form) each stay their OWN singleton group — the
    * partition key falls back to a per-row sentinel, so two distinct
    * unparseable URLs are never declared duplicates of each other (and
    * the NULL class can't become one skewed window partition). */
  def urlDedup(df: DataFrame, urlCol: String, idCol: String): DataFrame = {
    val w = Window.partitionBy(col("__grp"))
    // fanOut the raw (id, url) first: canonicalization is 4 URI parses +
    // 3 regex passes per row, and without it the whole pass runs in the
    // single-task scan stage of a small parquet source (the shingleHashed
    // small-file trap; provable no-op at production scale)
    ScaleOps.fanOut(df.select(col(idCol), col(urlCol)))
      .select(col(idCol), canonicalizeUrl(col(urlCol)).as("canon_url"))
      .withColumn("__grp", coalesce(col("canon_url"),
        concat(lit("\u0000id:"), col(idCol).cast("string"))))
      .withColumn("keeper_id", min(col(idCol)).over(w))
      .withColumn("n_copies", count(lit(1)).over(w))
      .withColumn("is_dup", col(idCol) =!= col("keeper_id"))
      .drop("__grp")
  }

  /** Multi-pattern keyword spotting: which dictionary phrases occur in each
    * document (substring semantics), plus the hit count. The curation
    * primitive behind phrase blocklists, benchmark-contamination phrase
    * lists, and PII keyword dictionaries.
    *
    * Scale shape: ONE Aho–Corasick automaton pass per document
    * ([[graft.plans.KeywordMatches]] — amortized O(text bytes), independent
    * of dictionary size), versus O(text × patterns) for per-phrase
    * `contains` or a regex alternation. The automaton is built once on the
    * driver and ships inside the serialized plan; the scan itself is a
    * narrow map at scan parallelism — NO shuffle, no join against the
    * dictionary. The matched list is emitted BOTH ways a consumer wants it:
    * the raw array (for downstream `array_contains` routing) and a sorted
    * comma-joined string (stable, hash-comparable). Evaluated ONCE per row:
    * the expression is bound to a single projected attribute and the
    * derived columns reference the attribute (the q_mask_tokens lesson —
    * filter/project pushdown re-evaluates per REFERENCE otherwise). */
  def keywordSpot(docs: DataFrame, phrases: Seq[String]): DataFrame = {
    require(phrases.nonEmpty, "keywordSpot: need at least one phrase")
    docs.select(
        col(DocId),
        TextFunctions.keywordMatches(col(Text), phrases).as("hits_arr"))
      .select(
        col(DocId),
        col("hits_arr"),
        array_join(col("hits_arr"), ",").as("hits"),
        size(col("hits_arr")).cast("long").as("n_hits"))
  }

  /** Phrase-blocklist filter: drop every document containing ANY deny
    * phrase. Written as the natural `size(keyword_matches(…)) === 0`
    * predicate; the [[graft.plans.SimplifyKeywordPredicates]] optimizer
    * rule rewrites it to the early-exit `keyword_any` probe, so a denied
    * document costs only its prefix up to the first offending phrase and
    * no hit array is ever materialized. Narrow filter at scan parallelism
    * — the 100-TB blocklist pass is one map stage. */
  def keywordFilter(docs: DataFrame, denyPhrases: Seq[String]): DataFrame = {
    require(denyPhrases.nonEmpty, "keywordFilter: need at least one phrase")
    docs.where(size(TextFunctions.keywordMatches(col(Text), denyPhrases)) === 0)
  }

  /** Dictionary span extraction: one row per OCCURRENCE of any phrase —
    * (doc, 1-based byte offset, phrase), overlaps and nestings included.
    * The tagging/audit companion to [[keywordSpot]] (which reports only
    * WHICH phrases hit): still one automaton pass per document, then a
    * narrow generator — the only shuffle a consumer pays is whatever it
    * aggregates afterwards. Offsets are BYTE offsets (no per-row decode;
    * equal to character offsets for ASCII corpora). */
  def keywordSpans(docs: DataFrame, phrases: Seq[String]): DataFrame = {
    require(phrases.nonEmpty, "keywordSpans: need at least one phrase")
    docs.select(col(DocId),
        explode(TextFunctions.keywordSpans(col(Text), phrases)).as("__s"))
      .select(col(DocId),
        col("__s.pos").cast("long").as("pos"),
        col("__s.phrase").as("phrase"))
  }

  /** Dictionary redaction: every byte covered by ANY phrase occurrence
    * masked to '*' (union-of-spans, length-preserving). The
    * large-dictionary PII / banned-term masking pass: one automaton scan +
    * one byte rewrite per document, independent of dictionary size — a
    * per-phrase `replace` chain re-copies the string once per phrase and
    * is order-dependent under overlap; union masking is order-free. */
  def keywordRedact(docs: DataFrame, denyPhrases: Seq[String]): DataFrame = {
    require(denyPhrases.nonEmpty, "keywordRedact: need at least one phrase")
    docs.select(col(DocId),
      TextFunctions.keywordRedact(col(Text), denyPhrases).as("masked"))
  }

  /** Flesch readability per document — reading-ease and Flesch–Kincaid
    * grade from the classic word/sentence/syllable counts (Flesch 1948;
    * Kincaid 1975): the interpretable prose-complexity signal a curation
    * tier uses alongside the LM/classifier quality scores (a 90+ ease
    * score is simple prose; negative means run-on technical text).
    *
    * Heuristic counts, engine-mirrorable by construction:
    *  - words = whitespace-split length (the q_token_count convention);
    *  - sentences = runs of `[.!?]+`, clamped to ≥ 1 (a fragment still
    *    reads as one sentence — and the clamp keeps the division total);
    *  - syllables = per-word vowel-group count `[aeiouy]+`, clamped to
    *    ≥ 1 per word (every spoken word has a syllable).
    *
    * Determinism: all three counts are exact integers; each score is ONE
    * fixed double expression of them (the Flesch constants are exact in
    * binary64 arithmetic either way since both engines evaluate the same
    * literal expression), rounded at 6 dp.
    *
    * Scale shape: a pure per-row projection — no shuffle, no state; the
    * regex work is codegen'd string scanning in the scan stage. */
  def readability(docs: DataFrame): DataFrame = {
    val words = split(col(Text), " ")
    val nWords = size(words).cast("long")
    val nSent = greatest(lit(1L),
      size(regexp_extract_all(col(Text), lit("[.!?]+"), lit(0))).cast("long"))
    val nSyl = aggregate(words, lit(0L),
      (acc, w) => acc + greatest(lit(1L),
        size(regexp_extract_all(w, lit("[aeiouy]+"), lit(0))).cast("long")))
    val wps = nWords.cast("double") / nSent.cast("double")
    val spw = nSyl.cast("double") / nWords.cast("double")
    docs
      .where(col(Text).isNotNull && nWords > 0)
      .select(col(DocId), nWords.as("n_words"), nSent.as("n_sentences"),
        nSyl.as("n_syllables"),
        round(wps, 6).as("words_per_sentence"),
        round(spw, 6).as("syllables_per_word"),
        round(lit(206.835) - lit(1.015) * wps - lit(84.6) * spw, 6).as("flesch_ease"),
        round(lit(0.39) * wps + lit(11.8) * spw - lit(15.59), 6).as("fk_grade"))
  }

  /** Corpus concentration over a provenance column — Gini coefficient,
    * Herfindahl–Hirschman index, and dominant-source share of the
    * per-source document distribution: the one-look "is this corpus a
    * monoculture" balance check that complements q_source_profile's
    * per-source detail and q_dataset_card's dominant-language share.
    *
    * Determinism: with c_i the per-source counts ranked ascending by
    * (count, source), Gini = (2·Σ i·c_i − (n+1)·Σc_i) / (n·Σc_i) — every
    * term an exact integer sum, one final division; HHI = Σc_i²/(Σc_i)²
    * and top share likewise.
    *
    * Scale shape: the corpus collapses to the |sources|-row rollup in one
    * aggregation; the ranking window runs over that model-sized table
    * only (allowlisted in the global-window audit), and the final
    * aggregate is a second one-row reduction. */
  def sourceConcentration(docs: DataFrame): DataFrame = {
    val counts = docs
      .groupBy(col("source").as("s"))
      .agg(count(lit(1)).as("c"))
    // rank over the |sources|-row table (bounded single-partition window)
    val ranked = counts.withColumn("i",
      row_number().over(Window.orderBy(col("c"), col("s"))).cast("long"))
    ranked.agg(
        count(lit(1)).as("n_sources"),
        sum("c").as("n_docs"),
        // decimal BEFORE the products: a 4e9-doc source squares past long
        sum(col("i").cast("decimal(38,0)") * col("c").cast("decimal(38,0)")).as("sic"),
        sum(col("c").cast("decimal(38,0)") * col("c").cast("decimal(38,0)")).as("scc"),
        max("c").as("cmax"))
      .select(
        col("n_sources"), col("n_docs"),
        round((lit(2L) * col("sic") - (col("n_sources") + 1L) * col("n_docs"))
          .cast("double") / (col("n_sources").cast("decimal(38,0)") *
            col("n_docs").cast("decimal(38,0)")).cast("double"), 6)
          .as("gini"),
        round(col("scc").cast("double") /
          (col("n_docs").cast("double") * col("n_docs").cast("double")), 6).as("hhi"),
        round(col("cmax").cast("double") / col("n_docs").cast("double"), 6)
          .as("top_share"))
  }
}
