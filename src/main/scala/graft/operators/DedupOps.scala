package graft.operators

import graft.GraftSession.Ckpt

import graft.functions.TextFunctions._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Document deduplication operators for the training-data pipeline, in
  * increasing order of fuzziness:
  *
  *  1. [[exact]] — hash-groupBy on content digest.
  *  2. [[ngramJaccard]] — n-gram shingle Jaccard via an inverted-index join
  *     (never a quadratic cross join).
  *  3. [[minhashCandidates]]/[[minhashLsh]] — MinHash signatures + banded LSH:
  *     the 100 TB path, where candidate generation cost is proportional to
  *     colliding-band pairs, not n².
  *  4. [[simhash]] — 64-bit SimHash with banded Hamming candidate search.
  *
  * Scale design: every pairwise step goes through a shuffle keyed on a
  * content-derived token (shingle / band hash), so skew follows content
  * duplication — exactly the thing AQE skew-join splitting handles. Nothing
  * collects to the driver.
  */
object DedupOps {

  private val Text = "text"
  private val DocId = "doc_id"
  /** Document-frequency cap of the shingle and fingerprint posting lists
    * (see [[ngramJaccard]]). */
  private val MaxDf = 100

  /** Exact dedup: one row per distinct content hash with the surviving
    * (minimum) doc id and the duplicate count. Map-side partial aggregation;
    * one shuffle on the digest. */
  def exact(docs: DataFrame): DataFrame =
    docs
      .select(md5(col(Text).cast("binary")).as("h"), col(DocId))
      .groupBy("h")
      .agg(min(col(DocId)).as("keeper"), count(lit(1)).as("n_dupes"))

  // Measured notes (local[32], sf0.1, 255k shingle instances):
  //  - Generate (explode) over a higher-order-function-built array is
  //    pathological: ~6 s where position-explode + codegen'd scalar shingle
  //    construction takes ~1.2 s. So the hot path explodes POSITIONS
  //    (sequence 0..len-n) and builds each shingle with slice/concat_ws as
  //    scalars per row — everything whole-stage-codegen'd.
  //  - Hashing inside a transform lambda (multi-arg xxhash64 per position)
  //    benched ~2× slower again — lambdas are interpreted, and a
  //    non-attribute child referenced in a lambda re-evaluates per
  //    reference.

  /** Exploded hashed-shingle rows (id, s): one row per shingle *position*
    * (duplicates retained — distinct where set semantics matter).
    * NO fanOut here (measured r15): the hash kernel is cheap native work
    * and every consumer shuffles immediately after — adding a fan-out
    * exchange cost the minhash/index family +15-20% solo. */
  private def shingleHashed(docs: DataFrame, n: Int): DataFrame =
    docs
      // explicit not-null guard: null ids can never reach the output (every
      // consumer inner-joins on id), but stating it HERE keeps the pushed
      // filter set identical across all consumers of the exploded index, so
      // their exchange subtrees stay canonically equal and ReuseExchange
      // dedupes the scan+explode+distinct work instead of re-running it per
      // consumer (measured: one corpus pass instead of two at sf0.01)
      .where(col(DocId).isNotNull)
      .select(col(DocId).as("id"), tokens(col(Text)).as("toks"))
      .where(size(col("toks")) >= n)
      .select(col("id"), col("toks"),
        explode(sequence(lit(0), size(col("toks")) - n)).as("i"))
      .select(col("id"),
        xxhash64(concat_ws(" ", slice(col("toks"), col("i") + 1, lit(n)))).as("s"))

  /** Benchmark decontamination: find corpus documents sharing any word
    * n-gram with a (small) benchmark/eval set — the standard pre-training
    * hygiene step that keeps test data out of training data. Returns
    * (doc_id, n_hits) for contaminated documents.
    *
    * Plan: positions exploded and shingles built as codegen'd scalars (same
    * hot path as [[ngramJaccard]], see measured notes above); the benchmark
    * shingle set is distinct'd and BROADCAST, so the corpus is scanned once
    * with a map-side hash join — no shuffle of the 100 TB side, cost linear
    * in corpus tokens. */
  def contamination(corpus: DataFrame, benchmark: DataFrame, n: Int = 8): DataFrame = {
    def shingles(df: DataFrame): DataFrame = df
      .select(col(DocId).as("id"), tokens(col(Text)).as("toks"))
      .where(size(col("toks")) >= n)
      .select(col("id"), col("toks"),
        explode(sequence(lit(0), size(col("toks")) - n)).as("i"))
      .select(col("id"), concat_ws(" ", slice(col("toks"), col("i") + 1, lit(n))).as("s"))
    val bench = shingles(benchmark).select("s").distinct()
    shingles(corpus)
      .join(broadcast(bench), Seq("s"))
      .groupBy("id")
      .agg(count(lit(1)).as("n_hits"))
      .select(col("id").as(DocId), col("n_hits"))
  }

  /** Near-duplicate pairs by n-gram Jaccard ≥ threshold.
    *
    * Inverted-index plan: explode shingles, collect a BOUNDED posting list
    * per shingle, generate the co-occurring id pairs map-side from each
    * posting list (pairs that share no shingle — Jaccard 0 — are never
    * materialised), count shared shingles per pair, then
    * Jaccard = |∩| / (|A|+|B|-|∩|).
    *
    * `maxDf` caps the document frequency of shingles contributing pairs:
    * a shingle in k documents produces O(k²) pair rows, so one stop-phrase in
    * a million documents would alone emit 10¹² rows. Shingles above the cap
    * are near-universal boilerplate carrying ~no Jaccard signal; dropping
    * them from PAIR GENERATION ONLY (set sizes stay uncapped) makes the
    * score a tight lower bound of the true Jaccard and bounds the fan-out at
    * maxDf² per shingle. The posting lists are collected with
    * [[graft.functions.CappedSetAggregator]] at cap = maxDf+1, so a hot
    * shingle's aggregation state saturates at maxDf+1 ids instead of
    * buffering its (possibly million-row) full posting list, and its shuffle
    * payload is equally bounded; size = maxDf+1 identifies df > maxDf
    * exactly, and any list below the cap is complete. This replaces an
    * earlier formulation (df count + broadcast anti-join + corpus-sized
    * self-join on the shingle) whose diverged subtrees defeated
    * ReuseExchange — 7 corpus scan+explode passes per query; this shape
    * scans the corpus for the index once (plus once for set sizes), and the
    * pair fan-out never crosses a shuffle unaggregated: the per-pair count
    * is partially aggregated map-side.
    */
  def ngramJaccard(docs: DataFrame, n: Int = 3, threshold: Double = 0.5,
                   maxDf: Int = MaxDf): DataFrame =
    sharedShinglePairs(docs, n, maxDf)
      .withColumn("jaccard",
        col("shared").cast("double") / (col("na") + col("nb") - col("shared")))
      .where(col("jaccard") >= threshold)
      .select("ida", "idb", "jaccard")

  /** Candidate pairs (ida, idb, shared, na, nb) from the capped-posting
    * shingle index — the shared core of [[ngramJaccard]] and [[containment]]
    * (the two differ only in the final similarity formula). */
  private def sharedShinglePairs(docs: DataFrame, n: Int, maxDf: Int): DataFrame = {
    // Per-doc sorted-DISTINCT shingle hashes from the native ngram_hashes
    // kernel (the minhash/simhash idiom): set semantics are established
    // per row in the scan stage, so the former global
    // `.distinct()` exchange over every (id, shingle) instance AND the
    // groupBy(id) exchange behind the size table both disappear — sizes
    // are `size(sh)` computed in the same map. The only exchange left on
    // the index side is the posting aggregation itself (one exchange
    // instead of three; measured −15-30% on the whole dedup family).
    // Hash VALUES differ from xxhash64(concat_ws(...)) but consumers use
    // set equality/size only, under the same 2⁻⁶⁴-collision assumption
    // the signature operators already make — pair outputs are unchanged
    // (oracle re-verified 245/245).
    val withSh = docs
      .where(col(DocId).isNotNull)
      .select(col(DocId).as("id"),
        call_function("ngram_hashes", tokens(col(Text)), lit(n)).as("sh"))
      .where(size(col("sh")) > 0)
    val ex = withSh.select(col("id"), explode(col("sh")).as("s"))
    val sz = withSh.select(col("id"), size(col("sh")).cast("long").as("n_sh"))
    val cappedIds = udaf(new graft.functions.CappedSetAggregator(maxDf + 1))
    val postings = ex.groupBy("s").agg(cappedIds(col("id")).as("ids"))
      .where(size(col("ids")) <= maxDf)
    // all ida<idb pairs from each ≤maxDf posting list, as codegen'd
    // higher-order functions (ids is sorted by construction)
    val cand = postings
      .select(explode(flatten(transform(col("ids"), a =>
        transform(filter(col("ids"), b => b > a), b =>
          struct(a.as("ida"), b.as("idb")))))).as("p"))
      .select(col("p.ida").as("ida"), col("p.idb").as("idb"))
      .groupBy("ida", "idb")
      .agg(count(lit(1)).as("shared"))
    // set sizes join AFTER pair aggregation — cand is orders of magnitude
    // smaller than the exploded index, and sz is one small row per doc (AQE
    // broadcasts it at test scale)
    cand
      .join(sz.select(col("id").as("ida"), col("n_sh").as("na")), Seq("ida"))
      .join(sz.select(col("id").as("idb"), col("n_sh").as("nb")), Seq("idb"))
  }

  /** Asymmetric shingle containment: C(A,B) = |S_A ∩ S_B| / min(|S_A|,|S_B|)
    * ≥ threshold (Broder 1997, "On the resemblance and containment of
    * documents"). Catches PARTIAL copies — a short document quoted or
    * embedded whole inside a much longer one has Jaccard ≈ |S_A|/|S_B| ≈ 0
    * but containment ≈ 1 — the curation case symmetric near-dup misses
    * (reference analogue: none; this is the training-data-pipeline tier).
    * Same index, cap contract, and cost shape as [[ngramJaccard]]: one
    * corpus pass for the capped posting lists, map-side pair fan-out
    * bounded by MaxDf² per shingle, sizes joined after pair aggregation. */
  def containment(docs: DataFrame, n: Int = 4, threshold: Double = 0.8): DataFrame =
    sharedShinglePairs(docs, n, MaxDf)
      .withColumn("containment",
        col("shared").cast("double") / least(col("na"), col("nb")))
      .where(col("containment") >= threshold)
      .select("ida", "idb", "containment")

  /** Span-overlap candidate pairs over winnowing fingerprints
    * ([[TextOps.winnow]], MOSS): documents sharing ≥ `minShared`
    * fingerprints. Winnowing guarantees every shared run of ≥ w+k-1 tokens
    * surfaces at least one shared fingerprint, so this finds partial-copy /
    * quoted-span pairs like [[containment]] — but the inverted index it
    * joins is ~w× smaller than the full shingle index (only window-minimum
    * grams are kept), which at 100 TB is the difference between indexing
    * every 4-gram of the corpus and indexing a 2/(w+1) sample with the same
    * detection floor. Same capped-posting contract as [[ngramJaccard]]:
    * a boilerplate fingerprint's posting state saturates at MaxDf+1 and is
    * dropped from pair generation, bounding fan-out at MaxDf² per
    * fingerprint. Returns (ida, idb, shared_fps). */
  def winnowPairs(docs: DataFrame, k: Int = 4, w: Int = 5, minShared: Long = 2): DataFrame = {
    val fps = TextOps.winnow(docs, k, w)
    val cappedIds = udaf(new graft.functions.CappedSetAggregator(MaxDf + 1))
    val postings = fps.groupBy("fp").agg(cappedIds(col("doc_id")).as("ids"))
      .where(size(col("ids")) <= MaxDf)
    postings
      .select(explode(flatten(transform(col("ids"), a =>
        transform(filter(col("ids"), b => b > a), b =>
          struct(a.as("ida"), b.as("idb")))))).as("p"))
      .select(col("p.ida").as("ida"), col("p.idb").as("idb"))
      .groupBy("ida", "idb")
      .agg(count(lit(1)).as("shared_fps"))
      .where(col("shared_fps") >= minShared)
  }

  /** Incremental near-dup check: which INCOMING documents are near-
    * duplicates (n-gram Jaccard ≥ threshold) of an EXISTING corpus — the
    * rolling-ingestion shape of dedup at 100 TB. Re-running pairwise dedup
    * over corpus+batch per ingest would re-pay the corpus×corpus work every
    * batch; here the batch joins the corpus's shingle inverted index, so
    * cost is proportional to the BATCH's shingle instances × their corpus
    * document frequency — linear in the batch, never |corpus|².
    *
    * Same df-cap contract as [[ngramJaccard]]: corpus-side shingles above
    * `MaxDf` (near-universal boilerplate) are dropped from the join only,
    * making the score a tight lower bound and bounding the per-shingle
    * fan-out. Returns (new_id, old_id, jaccard) — aggregate per new_id
    * downstream for a keep/drop decision. */
  def incrementalNearDup(existing: DataFrame, incoming: DataFrame, n: Int = 3,
                         threshold: Double = 0.5): DataFrame =
    incrementalNearDupAgainst(
      buildNearDupIndex(existing, n),
      incoming, n, threshold)

  /** [[incrementalNearDup]] against a MAINTAINED [[NearDupIndex]] — the
    * rolling-ingest loop that keeps one corpus index alive across batches
    * (build once, append/retract as the corpus changes) instead of
    * re-deriving it from the full corpus per batch. */
  def incrementalNearDupAgainst(index: NearDupIndex, incoming: DataFrame, n: Int = 3,
                                threshold: Double = 0.5): DataFrame =
    sharedPairsAgainstIndex(index, incoming, n)
      .withColumn("jaccard",
        col("shared").cast("double") / (col("ni") + col("ne") - col("shared")))
      .where(col("jaccard") >= threshold)
      .select("new_id", "old_id", "jaccard")

  /** Incremental containment check: which INCOMING documents are partial
    * copies (shingle containment ≥ threshold, [[containment]]) of — or are
    * partially copied by — an EXISTING corpus document. The rolling-ingest
    * counterpart of [[containment]] exactly as [[incrementalNearDup]] is of
    * [[ngramJaccard]]: cost linear in the batch's shingle instances × their
    * bounded corpus df, never |corpus|². Catches the quote/embed ingest
    * case: a new doc that wholesale-includes an archived one (or a stub
    * extracted from one) scores ≈ 1 here while its Jaccard stays ≈ 0. */
  def incrementalContainment(existing: DataFrame, incoming: DataFrame, n: Int = 4,
                             threshold: Double = 0.8): DataFrame =
    incrementalContainmentAgainst(
      buildNearDupIndex(existing, n),
      incoming, n, threshold)

  /** [[incrementalContainment]] against a maintained [[NearDupIndex]] —
    * see [[incrementalNearDupAgainst]]. */
  def incrementalContainmentAgainst(index: NearDupIndex, incoming: DataFrame, n: Int = 4,
                                    threshold: Double = 0.8): DataFrame =
    sharedPairsAgainstIndex(index, incoming, n)
      .withColumn("containment",
        col("shared").cast("double") / least(col("ni"), col("ne")))
      .where(col("containment") >= threshold)
      .select("new_id", "old_id", "containment")

  /** The corpus side of incremental dedup as a MAINTAINED artifact:
    * `postings` = capped shingle posting lists (s → old_ids, saturated
    * shingles dropped), `sizes` = per-doc distinct-shingle counts. Both
    * halves persist/restore as plain parquet; the `*Against` checkers join
    * ingest batches against it. */
  final case class NearDupIndex(postings: DataFrame, sizes: DataFrame)

  /** Build the [[NearDupIndex]] — one pass over the corpus, same
    * saturation contract as [[ngramJaccard]]: a corpus-hot shingle's
    * aggregation state caps at MaxDf+1 ids instead of buffering its full
    * posting list, and size > MaxDf identifies (and drops) it exactly. */
  def buildNearDupIndex(existing: DataFrame, n: Int = 3): NearDupIndex = {
    val exE = shingleHashed(existing, n).distinct()
    val szE = exE.groupBy("id").agg(count(lit(1)).as("n_sh"))
    val cappedIds = udaf(new graft.functions.CappedSetAggregator(MaxDf + 1))
    val postE = exE.groupBy("s").agg(cappedIds(col("id")).as("old_ids"))
      .where(size(col("old_ids")) <= MaxDf)
    NearDupIndex(postE, szE)
  }

  /** Batch-vs-index candidate pairs (new_id, old_id, shared, ni, ne): the
    * batch joins the bounded posting lists and fans out old_ids map-side —
    * cost proportional to the batch's shingle instances × their bounded
    * corpus df, never |corpus|². Shared core of the incremental
    * checkers. */
  private def sharedPairsAgainstIndex(index: NearDupIndex, incoming: DataFrame,
                                      n: Int): DataFrame = {
    val exI = shingleHashed(incoming, n).distinct()
    val szI = exI.groupBy("id").agg(count(lit(1)).as("n_sh"))
    val cand = exI.select(col("id").as("new_id"), col("s"))
      .join(index.postings, Seq("s"))
      .select(col("new_id"), explode(col("old_ids")).as("old_id"))
      .groupBy("new_id", "old_id")
      .agg(count(lit(1)).as("shared"))
    cand
      .join(szI.select(col("id").as("new_id"), col("n_sh").as("ni")), Seq("new_id"))
      .join(index.sizes.select(col("id").as("old_id"), col("n_sh").as("ne")), Seq("old_id"))
  }

  /** MinHash signature of the shingle set: `numHashes` min-hash values from
    * the standard affine family h_i(x) = (a_i·h(x) + b_i) mod p over one
    * xxhash64 base hash per shingle.
    *
    * Plan shape: explode shingles → hash once → groupBy(id) with `numHashes`
    * codegen'd `min` aggregates (partial map-side). This replaces a nested
    * interpreted higher-order-function formulation that evaluated
    * numHashes × |shingles| lambda closures per document — same signatures
    * family, ~10× cheaper, and the aggregate shuffles only (id, 32 longs).
    * Arithmetic is overflow-free under ANSI: base and a_i are < 2^31, so
    * a_i·base + b_i < 2^63. */
  def minhashSignatures(docs: DataFrame, n: Int = 3, numHashes: Int = 32): DataFrame = {
    val P = 2147483647L // 2^31 - 1 (Mersenne prime)
    val rnd = new scala.util.Random(42)
    val coeffs = Seq.fill(numHashes)((1L + rnd.nextInt(Int.MaxValue - 1), rnd.nextInt(Int.MaxValue).toLong))
    // duplicates don't affect a min-aggregate, so no distinct here
    val ex = shingleHashed(docs, n)
      .withColumn("base", col("s").bitwiseAND(lit(P)))
    val mins = coeffs.zipWithIndex.map { case ((a, b), i) =>
      min((col("base") * a + b) % P).as(s"m$i")
    }
    ex.groupBy("id")
      .agg(mins.head, mins.tail: _*)
      .select(col("id"),
        array((0 until numHashes).map(i => col(s"m$i")): _*).as("sig"))
  }

  /** LSH candidate pairs: split the signature into `bands` bands of
    * `rowsPerBand` minhashes, hash each band, and emit pairs colliding in at
    * least one band. Recall for a pair with Jaccard J is 1-(1-J^r)^b — fewer
    * rows per band and more bands push recall toward 1 at the cost of more
    * false candidates for the verification step to discard. */
  def minhashCandidates(signatures: DataFrame, bands: Int = 8,
                        rowsPerBand: Int = 4): DataFrame = {
    val banded = signatures.select(col("id"),
      posexplode(transform(sequence(lit(0), lit(bands - 1)),
        bnd => hash(slice(col("sig"), bnd * rowsPerBand + 1, lit(rowsPerBand)), bnd))))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "band_hash")
    banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.band_hash") === col("b.band_hash") &&
        col("a.id") < col("b.id"))
      .select(col("a.id").as("ida"), col("b.id").as("idb"))
      .distinct()
  }

  /** Exact-Jaccard verification of a candidate pair list: join each side to
    * its (collected) shingle set and keep pairs at or above the threshold.
    * Shared by [[minhashLsh]] and [[simhashNearDup]] — the output is a pure
    * function of the candidate set and the corpus, so any candidate
    * generator with full recall yields exactly the true pair set. */
  private def verifyJaccard(docs: DataFrame, cands0: DataFrame, n: Int,
                            threshold: Double): DataFrame = {
    // Materialize the candidate pairs once (executor-local checkpoint, the
    // same pattern as connectedComponents): the pair list is read twice
    // below — as the semi-join filter and as the join probe — and column
    // pruning diverges the two subtrees enough that ReuseExchange does NOT
    // dedupe them (measured: the no-checkpoint variant re-runs part of
    // candidate generation, minhash 2.1→2.8s). Candidate pairs are orders
    // of magnitude smaller than the corpus; the checkpoint's job barrier
    // costs a little DAG overlap on candidate-dense corpora (simhash
    // 2.5→3.2s) but candidate-doc pruning dominates wherever blocking is
    // effective (minhash 4.9→1.9s) — and at 100 TB re-shingling the full
    // corpus for verification is never acceptable.
    val cands = cands0.ckpt(true)
    // Only documents that appear in some candidate pair need a shingle set
    // — semi-join the corpus down BEFORE re-shingling, so the verify
    // explode+aggregate is candidate-sized, not corpus-sized (under
    // effective blocking, candidates are a small fraction of the corpus).
    val candIds = cands.select(col("ida").as("__cand_id"))
      .union(cands.select(col("idb").as("__cand_id")))
      .distinct()
    val needed = docs.join(candIds, col(DocId) === col("__cand_id"), "left_semi")
    // Per-doc sorted distinct shingle-hash sets as a PURE MAP (native
    // ngram_hashes kernel) — no explode, no groupBy, no shuffle; sorted so
    // the per-PAIR intersection is a primitive two-pointer merge (native
    // sorted_intersect_count) instead of size(array_intersect(…))'s per-row
    // hash-set build — the verify step runs once per candidate pair, which
    // outnumber documents by orders of magnitude under near-dup-heavy
    // blocking. Empty sets (texts shorter than n) are dropped, matching the
    // exploded formulation which emitted no rows for them.
    // persist(), NOT localCheckpoint: the set table is consumed TWICE
    // (ida-side and idb-side joins) and each broadcast build would
    // otherwise re-run scan + semi-join + shingle kernel — but a checkpoint
    // replaces the logical plan with an RDD scan whose stats AQE cannot
    // measure (no shuffle stage), demoting both joins to SMJ (measured
    // +1.5 s at sf0.1). persist keeps the plan — and AQE's runtime
    // broadcast — while computing the blocks once. Size is bounded by
    // candidate docs × ~n_sh longs; released by
    // GraftSession.releaseMaterialized after the query.
    val sets = needed
      .where(col(Text).isNotNull && col(DocId).isNotNull)
      .select(col(DocId).as("id"), tokens(col(Text)).as("toks"))
      .select(col("id"), call_function("ngram_hashes", col("toks"), lit(n)).as("sh"))
      .withColumn("n_sh", size(col("sh")).cast("long"))
      .where(col("n_sh") > 0)
      .persist()
    cands
      .join(sets.select(col("id").as("ida"), col("sh").as("sha"), col("n_sh").as("na")), Seq("ida"))
      .join(sets.select(col("id").as("idb"), col("sh").as("shb"), col("n_sh").as("nb")), Seq("idb"))
      .withColumn("shared", call_function("sorted_intersect_count", col("sha"), col("shb")))
      .withColumn("jaccard",
        col("shared").cast("double") / (col("na") + col("nb") - col("shared")))
      .where(col("jaccard") >= threshold)
      .select("ida", "idb", "jaccard")
  }

  /** Full MinHash-LSH near-dup pipeline: candidates from banding, then exact
    * Jaccard verification of candidates only.
    *
    * Because verification is exact, the output is hash-free whenever banding
    * recall is 1: it equals the true Jaccard pair set, which a SQL oracle
    * can recompute independently. The default 32 bands × 2 rows make a miss
    * at the J=0.7 decision boundary a (1-0.7²)^32 ≈ 4·10⁻¹⁰ event per pair
    * — and with deterministic hashes (xxhash64 + fixed affine coefficients)
    * the recall observed on a given corpus is a constant of the build, not a
    * per-run draw. Cost scales with colliding-band pairs, never n². */
  def minhashLsh(docs: DataFrame, n: Int = 3, numHashes: Int = 64, bands: Int = 32,
                 rowsPerBand: Int = 2, threshold: Double = 0.7): DataFrame = {
    require(bands * rowsPerBand <= numHashes,
      s"bands*rowsPerBand (${bands * rowsPerBand}) exceeds numHashes ($numHashes)")
    val sigs = minhashSignatures(docs, n, numHashes)
    val cands = minhashCandidates(sigs, bands, rowsPerBand)
    verifyJaccard(docs, cands, n, threshold)
  }

  /** SimHash-blocked near-dup pipeline: candidate pairs from chunk
    * collisions of the 64-bit SimHash, then exact Jaccard verification —
    * the same verify step as [[minhashLsh]], so with full candidate recall
    * the output is the true Jaccard pair set, independent of the hash
    * family.
    *
    * Candidate recall is the HmSearch-style pigeonhole: with `chunks`
    * chunks and per-chunk probing of every ≤`probeBits`-bit variant, any
    * pair within Hamming chunks·(probeBits+1)-1 shares a probed value.
    * Chunk width controls bucket concentration: on a shared-vocabulary
    * corpus the simhash bits are correlated across documents, so narrow
    * chunks collapse into a few huge buckets (8-bit chunks measured 6.8M
    * same-bucket pairs at sf0.1 vs 0.23M for 16-bit) — wide chunks + probes
    * is the cheap shape, because probe values mostly hit EMPTY buckets
    * (2% occupancy at 16 bits) while narrow chunks pay k² on every hot
    * bucket. Short documents put real near-dups well past the classic
    * Hamming-3 regime (measured max 11 at sf0.1 — ~50-token docs give each
    * bit a tiny margin), hence the default 4×16-bit chunks with 2-bit
    * probes: guarantee ≤ 11. For long-document corpora (the classic
    * simhash setting, Hamming ≤ 3) probeBits = 0 suffices and the index
    * stays 1 row per (doc, chunk). Probing multiplies one side's index
    * rows by Σ C(width,i), never the pair space (a `require` rejects
    * configurations where that multiplier exceeds 160 — e.g. 2×32-bit
    * chunks with 2-bit probes would be 529×); false candidates are
    * discarded by the exact verification. */
  def simhashNearDup(docs: DataFrame, n: Int = 3, threshold: Double = 0.5,
                     chunks: Int = 4, probeBits: Int = 2): DataFrame = {
    require(64 % chunks == 0, s"chunks must divide 64, got $chunks")
    require(probeBits >= 0 && probeBits <= 2, s"probeBits must be 0..2, got $probeBits")
    val width = 64 / chunks
    // probe-budget guard: probing multiplies ONE side's index rows by
    // 1 + C(width,1) + C(width,2); at width 16 that is 137 (the measured
    // default), but width 32 with probeBits=2 would be 529 rows per
    // (doc, chunk) — an index explosion no recall gain justifies. Callers
    // needing a wider Hamming guarantee should add chunks, not probes.
    val probeMult = 1 + (if (probeBits >= 1) width else 0) +
      (if (probeBits >= 2) width * (width - 1) / 2 else 0)
    require(probeMult <= 160,
      s"probe multiplier $probeMult (chunks=$chunks -> width=$width, probeBits=$probeBits) " +
        "exceeds the 160-rows-per-(doc,chunk) budget; use more chunks or fewer probe bits")
    val mask = if (width == 64) -1L else (1L << width) - 1
    // Signature build also counts each document's distinct hashed shingles
    // (identical hashes to the verify step's set build — both are the native
    // `ngram_hashes` kernel — so the length gate below is exact): one extra
    // linear pass per document at signature time buys a length filter over
    // the quadratic pair stream.
    // fanOut BEFORE the signature kernels run (r15: the simhash64 +
    // ngram_hashes passes themselves were still single-task in the scan
    // stage; fanning out the raw (id, text) parallelizes them too, and the
    // probe explode + broadcast bucket join below inherit the parallelism
    // exactly as before — measured 1.85 s single-task vs ~0.3 s spread at
    // sf0.1 for the post-signature stages alone).
    val sigsPar = ScaleOps.fanOut(docs
      .where(col(Text).isNotNull)
      .select(col(DocId).as("id"), col(Text).as("__t")))
      .select(col("id"), tokens(col("__t")).as("toks"))
      .select(col("id"),
        call_function("simhash64", transform(col("toks"), t => xxhash64(t))).as("simhash"),
        size(call_function("ngram_hashes", col("toks"), lit(n))).cast("long").as("n_sh"))
    // the full signature and shingle count ride along with every index row,
    // so the Hamming + length gates below need no join-back
    val chunked = sigsPar.select(col("id"), col("simhash"), col("n_sh"),
      posexplode(array((0 until chunks).map(c =>
        shiftright(col("simhash"), c * width).bitwiseAND(mask)): _*)))
      .withColumnRenamed("pos", "chunk").withColumnRenamed("col", "chunk_val")
    // probe side: the chunk value plus all its ≤probeBits-bit flips
    val flips: Seq[Long] =
      (if (probeBits >= 1) (0 until width).map(j => 1L << j) else Seq.empty) ++
      (if (probeBits >= 2)
        for { i <- 0 until width; j <- i + 1 until width } yield (1L << i) | (1L << j)
      else Seq.empty)
    val probed =
      if (flips.isEmpty) chunked
      else chunked.select(col("id"), col("simhash"), col("n_sh"), col("chunk"),
        explode(array(col("chunk_val") +:
          flips.map(m => col("chunk_val").bitwiseXOR(lit(m))): _*))
          .as("chunk_val"))
    // Hamming gate at the pigeonhole guarantee: candidates beyond it were
    // never guaranteed anyway, and with both signatures riding the bucket
    // join the gate is a pure codegen'd filter (xor+bit_count) on the
    // joined stream — so the bulk of bucket-collision noise (measured 5.8M
    // pair rows at sf0.1: correlated simhash bits make probe buckets
    // collide far more than uniform hashes would) dies before the
    // expensive set-intersection verify.
    val maxHamming = chunks * (probeBits + 1) - 1
    // Pair-level dedup WITHOUT a shuffle: a pair (a,b) collides in chunk c
    // iff the intra-chunk Hamming distance is ≤ probeBits (a's probe set is
    // exactly the ≤probeBits-bit flips of its chunk value), and within a
    // chunk at most one probe value matches. So "keep only the FIRST
    // colliding chunk" — every earlier chunk has intra-chunk Hamming >
    // probeBits — emits each candidate pair exactly once, as a codegen'd
    // filter on the two signatures already riding the join. Replaces the
    // distinct() that shuffled 1.2M pair rows at sf0.1 (2.1× average
    // bucket multiplicity) with a zero-exchange map-side gate.
    val xorSig = col("a.simhash").bitwiseXOR(col("b.simhash"))
    def chunkHamming(c: Int) =
      bit_count(shiftright(xorSig, c * width).bitwiseAND(lit(mask)))
    val firstCollidingChunk = (0 until chunks).reverse
      .foldLeft(lit(chunks): Column) { (acc, c) =>
        when(chunkHamming(c) <= probeBits, lit(c)).otherwise(acc)
      }
    // Length gate (PPJoin-family size filter): Jaccard ≤ min/max of the two
    // distinct-shingle counts, so `min ≥ t·max` is a NECESSARY condition for
    // J ≥ t — pairs it drops could never pass the exact verify. Measured at
    // sf0.1 it kills ~43% of bucket-collision pairs before the expensive
    // set-intersection step, as a codegen'd comparison on counts already
    // riding the join.
    val lengthGate = least(col("a.n_sh"), col("b.n_sh")).cast("double") >=
      lit(threshold) * greatest(col("a.n_sh"), col("b.n_sh")).cast("double")
    val cands = probed.as("a").join(chunked.as("b"),
        col("a.chunk") === col("b.chunk") && col("a.chunk_val") === col("b.chunk_val") &&
        col("a.id") < col("b.id"))
      .where(bit_count(xorSig) <= maxHamming &&
        col("a.chunk") === firstCollidingChunk && lengthGate)
      .select(col("a.id").as("ida"), col("b.id").as("idb"))
    verifyJaccard(docs, cands, n, threshold)
  }

  /** Exact-substring duplication stats (the Lee et al. 2021 "Deduplicating
    * Training Data" signal, position-resolved): a token position is
    * DUPLICATED when its n-gram occurs anywhere else in the corpus (another
    * document, or elsewhere in the same document). Returns per-document
    * position counts and the duplicated-position ratio — the input to
    * span-removal or doc-dropping policies.
    *
    * Plan: one position explode (the codegen'd slice/concat path), a global
    * per-n-gram count (partial-combined; the n-gram table is vocabulary-
    * sized), a shuffle join back on the n-gram hash (content-keyed → skew
    * follows duplication, AQE-splittable), and a per-doc aggregation.
    * Nothing driver-side; no pairwise joins at all — cost is linear in
    * corpus positions, which is what makes this the 100 TB-safe exact
    * signal next to the pairwise Jaccard family. */
  def duplicatedSpanStats(docs: DataFrame, n: Int = 8): DataFrame = {
    val pos = ScaleOps.gramExchange(
      docs.select(col(DocId).as("id"), tokens(col(Text)).as("toks")), n)
    val counts = pos.groupBy("g").agg(count(lit(1)).as("cnt"))
    pos
      .join(counts.hint("shuffle_hash"), Seq("g"))
      .groupBy("id")
      .agg(
        count(lit(1)).as("n_positions"),
        sum(when(col("cnt") > 1, 1L).otherwise(0L)).as("dup_positions"))
      .select(col("id").as(DocId), col("n_positions"), col("dup_positions"),
        round(col("dup_positions").cast("double") / col("n_positions"), 6).as("dup_ratio"))
  }

  /** Connected components over near-duplicate pairs: the clustering step
    * between candidate generation ([[ngramJaccard]]/[[minhashLsh]]/
    * [[simhashNearDup]]) and canonical-document selection — every doc in a
    * cluster gets the cluster's minimum doc id as its label, so "keep one
    * per cluster" is a plain filter on `doc_id === cluster`.
    *
    * Iterative distributed min-label propagation with pointer jumping:
    * each round every node takes the min of its own label and its
    * neighbours' labels, then relabels through its label's own label
    * (label(id) := label(label(id))) — the classic doubling step, so
    * convergence needs O(log diameter) rounds, not diameter. The rounds
    * run on [[Fixpoint]]; the probe is the label sum: labels only ever
    * decrease, so an unchanged sum IS the fixpoint (summed in
    * decimal(38,0): no overflow at any id scale). Nothing collects to the
    * driver; the per-round action is one scalar aggregate. When `maxIter`
    * rounds pass without convergence the labels of the last round are
    * returned.
    *
    * Output: one row per node appearing in `pairs` — (id, cluster), where
    * cluster = the component's minimum id. Singleton documents never enter
    * the pair list and are absent (their cluster is trivially themselves). */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 25): DataFrame = {
    // Symmetrize with a narrow 2× generator, which reads `pairs` once (a
    // union of both directions would re-run the expensive pair-generation
    // subtree through both branches: the projections differ enough that
    // ReuseExchange does not dedupe them), then materialize the edge list
    // once: every round joins against it. Pairs are orders of magnitude
    // smaller than the corpus that produced them.
    val sc = pairs.sparkSession.sparkContext
    val (edges, edgeRdds) = Fixpoint.persisting(sc)(pairs
      .select(explode(array(
        struct(col("ida").as("src"), col("idb").as("dst")),
        struct(col("idb").as("src"), col("ida").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .distinct()
      .ckpt(true))
    def labelSum(l: DataFrame): java.math.BigDecimal =
      l.agg(sum(col("cluster").cast("decimal(38,0)"))).first().getDecimal(0)
    // Fused first round: labels₀ = id makes round 1's neighbour-min over
    // {self} ∪ neighbours exactly least(src, min(dst)) — one aggregation
    // over the symmetrized edges replaces the node-distinct, its
    // checkpoint, AND a first join round (convergence detection is
    // unchanged since labels only ever decrease).
    val firstLabels = edges.groupBy(col("src"))
      .agg(least(col("src"), min(col("dst"))).as("cluster"))
      .select(col("src").as("id"), col("cluster"))
    val rounds = Fixpoint.iterate(firstLabels, maxIter)(labelSum) { (labels, _) =>
      val fromNeighbours = edges
        .join(labels.withColumnRenamed("id", "src"), "src")
        .select(col("dst").as("id"), col("cluster"))
      val combined = labels.select("id", "cluster").union(fromNeighbours)
        .groupBy("id").agg(min("cluster").as("cluster"))
      // pointer jump: follow the label one hop (labels are node ids, so the
      // label's own row always exists; left join guards the root, whose
      // label is itself)
      combined
        .join(combined.select(col("id").as("cluster"), col("cluster").as("jump")),
          Seq("cluster"), "left")
        .select(col("id"), coalesce(col("jump"), col("cluster")).as("cluster"))
    }
    // the last round is materialized and no longer reads the edges: hold
    // one round's blocks, like every other Fixpoint caller
    Fixpoint.release(sc, edgeRdds)
    rounds.frame
  }

  /** Leakage-safe train/valid/test split: assign every document the split
    * of its near-dup CLUSTER representative, so two near-duplicates can
    * never straddle the train/eval boundary — the contamination-control
    * counterpart of random splitting (a paraphrase of a training doc in
    * the test set is silent leakage; Lee et al. 2021 measure the inflation
    * it causes). `clusters` is [[connectedComponents]] output (id,
    * cluster); docs outside any cluster represent themselves.
    *
    * The split is the same md5-nibble rule as
    * [[graft.operators.PipelineOps.hashSplit]] (deterministic,
    * engine-mirrorable, ~75/12.5/12.5) but keyed on the representative's
    * id STRING instead of the doc's own text. Scale shape: one left
    * equi-join of the corpus ids against the (pairs-sized, ≪ corpus)
    * cluster table + a narrow hash projection. */
  def clusterAwareSplit(docs: DataFrame, clusters: DataFrame): DataFrame = {
    val rep = docs.select(col(DocId))
      .join(clusters.select(col("id").as(DocId), col("cluster")), Seq(DocId), "left")
      .select(col(DocId), coalesce(col("cluster"), col(DocId)).as("cluster_rep"))
    rep.select(col(DocId), col("cluster_rep"),
      PipelineOps.md5Split(col("cluster_rep").cast("string")).as("split"))
  }
}
