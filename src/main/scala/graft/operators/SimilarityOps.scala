package graft.operators

import graft.GraftSession.Ckpt

import graft.functions.VectorFunctions._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbour search over an embedding column.
  *
  *  - [[bruteForceTopK]]: exact baseline — broadcast the (small) query set
  *    against the full corpus; one pass, no shuffle of the corpus side.
  *  - [[lshTopK]]: the scale path — random-hyperplane LSH buckets both sides;
  *    the corpus is scanned once, scored only against queries sharing a
  *    bucket. At 100 TB the bucket join replaces an infeasible cross join.
  *  - [[nearDupPairs]]: EXACT all-pairs cosine ≥ threshold as a blocked,
  *    shuffle-distributed equi-join (required when the threshold sits in the
  *    continuous bulk of the similarity distribution, where no bucketing
  *    retains full recall); [[nearDupPairsLsh]] is the candidate-pruned
  *    production path for genuine high-similarity near-dup thresholds.
  *
  * All scoring is double-precision in array index order (see
  * [[graft.functions.VectorFunctions]]), so results are reproducible across
  * partitionings.
  */
object SimilarityOps {

  private val VecId = "vec_id"
  private val Embedding = "embedding"
  /** Lloyd steps of the quantizer fits: 0 keeps the deterministic
    * lowest-id init, so cell routing and codes reproduce exactly in SQL. */
  private val KmeansIters = 0
  /** Lloyd steps of ivfTopK's coarse quantizer. */
  private val IvfKmeansIters = 2
  /** Seed of randomProject's projection matrix. */
  private val ProjectionSeed = 42L
  /** marginMine's LSH bands and planes per band, past the broadcast budget. */
  private val MarginLshPlanes = 8
  private val MarginLshBands = 8
  /** nearDupPairsLsh's planes per band and bands. */
  private val NearDupPlanes = 8
  private val NearDupBands = 16

  /** Corpus with normalised vector + precomputed norm. Fanned out when the
    * source under-supplies partitions (small single-row-group parquet scans
    * as ONE partition, and the block/band explodes downstream then run
    * single-task until the first shuffle) — a provable no-op at production
    * scale, see [[ScaleOps.fanOut]]. */
  private[operators] def prepared(emb: DataFrame): DataFrame =
    ScaleOps.fanOut(
      emb.select(col(VecId).as("id"), toDouble(col(Embedding)).as("v"))
        .withColumn("nrm", norm(col("v"))))

  /** The query side of a search over [[prepared]] vectors: (query_id, qv,
    * qnrm), then `extra`. */
  private def asQueries(p: DataFrame, extra: Column*): DataFrame =
    p.select(Seq(col("id").as("query_id"), col("v").as("qv"), col("nrm").as("qnrm")) ++ extra: _*)

  /** The top-k tail of every search: rank each query's scored candidates by
    * (sim desc, id), keep k, and emit (query_id, neighbor_id, `extra`…,
    * rank, sim rounded to 4 dp). */
  private def nearest(scored: DataFrame, k: Int, extra: Column*): DataFrame = {
    val w = Window.partitionBy(col("query_id")).orderBy(col("sim").desc, col("id"))
    scored
      .withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
      .select(Seq(col("query_id"), col("id").as("neighbor_id")) ++ extra ++
        Seq(col("rank"), round(col("sim"), 4).as("sim")): _*)
  }

  /** How many sample vectors a quantizer fit trains on, per centroid. */
  private val FitSamplePerCentroid = 256

  /** cast(x AS decimal(38,20)) replicated driver-side: the engine converts
    * a double through its shortest decimal form (`BigDecimal.valueOf`)
    * and rescales HALF_UP — replicating it keeps the driver-side Lloyd
    * fit bit-identical to the former distributed decimal aggregation. */
  private def dec20(x: Double): java.math.BigDecimal =
    java.math.BigDecimal.valueOf(x).setScale(20, java.math.RoundingMode.HALF_UP)

  /** Per-cell mean vectors for one Lloyd step over the collected training
    * sample, with EXACT decimal arithmetic (sum of decimal(38,20) casts,
    * MathContext.DECIMAL64 divide). A float mean accumulates in iteration
    * order, so the fitted centroids — and everything downstream of them
    * (cell assignments, PQ codes, ADC scores) — would differ between
    * environments; exact decimal addition is order-independent, making
    * the fit a pure function of the member SET. decimal(38,20) leaves 18
    * integer digits of headroom — 10¹⁷ unit-scale elements per cell. */
  private def lloydMeans(sample: Array[Seq[Double]],
                         cellOf: Seq[Double] => Int): Map[Int, Seq[Double]] =
    sample.groupBy(cellOf).map { case (cell, members) =>
      val n = java.math.BigDecimal.valueOf(members.length.toLong)
      val mean: Seq[Double] = (0 until members.head.length).map(i =>
        members.iterator.map(m => dec20(m(i))).reduce(_ add _)
          .divide(n, java.math.MathContext.DECIMAL64).doubleValue())
      cell -> mean
    }

  /** Driver replica of [[cellsFor]] at n = 1 — argmin of (−dot(c,v)/‖c‖,
    * cid) with the dot in index order, so the sample assignment is bitwise
    * the engine's assignment. */
  private def nearestCell(centroids: Array[(Int, Seq[Double], Double)],
                          v: Seq[Double]): Int = {
    var bestCid = -1
    var best = Double.PositiveInfinity
    centroids.foreach { case (cid, cv, cnorm) =>
      var d = 0.0
      var i = 0
      while (i < cv.length) { d += cv(i) * v(i); i += 1 }
      val negSim = -1.0 * d / cnorm
      if (negSim < best) { best = negSim; bestCid = cid }
    }
    bestCid
  }

  /** The bounded deterministic training sample every quantizer fit runs
    * on: the `256·nCentroids` LOWEST-ID vectors — TakeOrdered, never a
    * global sort — collected once. Training is model work, not a data
    * pass: at 100 TB the corpus is never rescanned per Lloyd step, and
    * the sample (4096 × 64 doubles at k = 16) is driver-side model
    * metadata. Lowest-id selection keeps the fit a constant of the
    * corpus, reconstructable by an external oracle. */
  private def fitSample(p: DataFrame, nCentroids: Int): Array[Seq[Double]] =
    p.orderBy(col("id")).limit(FitSamplePerCentroid * nCentroids)
      .select(col("v")).collect().map(_.getSeq[Double](0))

  /** (cid, vector, norm) triples of a fitted coarse quantizer — spherical
    * k-means with deterministic init (the `nCentroids` lowest-id vectors)
    * and `kmeansIters` Lloyd steps over the bounded [[fitSample]]:
    * assign each sample vector to its max-cosine cell ([[nearestCell]] ≡
    * the engine's [[cellsFor]]), new centroid = per-cell [[lloydMeans]]
    * exact-decimal mean. The exact arithmetic makes the fit a constant of
    * the corpus, not of the cluster layout (pinned by `DeterminismSpec`).
    * Shared by [[ivfTopK]] and [[semanticDedup]], which must agree on
    * cell geometry. Expects a [[prepared]]-shaped frame — [[fitIvfPq]]
    * fits from raw embeddings. */
  private[operators] def fitCoarseQuantizer(c: DataFrame, nCentroids: Int,
                                            kmeansIters: Int): Array[(Int, Seq[Double], Double)] =
    fitCoarseQuantizerFromSample(fitSample(c, nCentroids), nCentroids, kmeansIters)

  /** The Lloyd loop of [[fitCoarseQuantizer]] over an ALREADY-collected
    * sample — split out so [[fitIvfPq]] can fit both IVF-PQ models from one
    * sample collect. `sample` must be the lowest-id-ordered [[fitSample]]
    * result (or a prefix-extending superset truncated to the right size by
    * the caller), or the fit constant changes. */
  private def fitCoarseQuantizerFromSample(sample: Array[Seq[Double]], nCentroids: Int,
                                           kmeansIters: Int): Array[(Int, Seq[Double], Double)] = {
    var centroids: Array[(Int, Seq[Double], Double)] =
      sample.take(nCentroids).zipWithIndex.map { case (v, i) =>
        (i, v, math.sqrt(v.map(x => x * x).sum))
      }
    for (_ <- 1 to kmeansIters) {
      val means = lloydMeans(sample, nearestCell(centroids, _))
      // cells that lost all members keep their previous centroid
      centroids = centroids.map { case (i, prev, _) =>
        val v = means.getOrElse(i, prev)
        (i, v, math.sqrt(v.map(x => x * x).sum))
      }
    }
    centroids
  }

  /** The `n` nearest cells of a fitted quantizer for a vector column, by
    * cosine: the row's own norm is constant across centroids, so ranking by
    * -dot/cnorm suffices. Centroids ride as array literals (model
    * metadata); the whole expression is codegen'd — no shuffle, no state. */
  private def cellsFor(centroids: Array[(Int, Seq[Double], Double)],
                       vCol: Column, n: Int): Column = {
    val centArr = array(centroids.map { case (i, v, nr) =>
      struct(lit(i).as("cid"), array(v.map(lit): _*).as("cv"), lit(nr).as("cnorm"))
    }: _*)
    slice(transform(
      array_sort(transform(centArr, cent =>
        struct((lit(-1.0) * call_function("vec_dot", cent.getField("cv"), vCol) /
          cent.getField("cnorm")).as("negSim"),
          cent.getField("cid").as("cid")))),
      s => s.getField("cid")), lit(1), lit(n))
  }

  /** Exact top-k neighbours for each query vector (excluding self).
    * The query side is broadcast — corpus never shuffles. */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val c = prepared(corpus)
    val q = asQueries(prepared(queries))
    val scored = c.join(broadcast(q), col("id") =!= col("query_id"))
      .withColumn("sim", cosinePrenormed(col("qv"), col("v"), col("qnrm"), col("nrm")))
    nearest(scored, k)
  }

  /** [[bruteForceTopK]] re-expressed as a BOUNDED-STATE aggregation: the
    * per-query top-k is maintained by [[graft.functions.TopKAggregator]]
    * (O(k) buffer, associative merge, map-side combine) instead of a
    * window sort, so per-query state never exceeds k rows regardless of
    * corpus size — and the same plan runs UNCHANGED on a streaming corpus
    * (stream-static broadcast join + stateful aggregation = the running
    * top-k is the aggregation state), the continuously-maintained
    * similarity-search shape of the streaming top-k literature (EDBT'19/
    * SIGMOD'20 continuous similarity search). Batch output is identical to
    * [[bruteForceTopK]] (same sim, same desc/id tie-break). */
  def topKAggregated(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val c = prepared(corpus)
    val q = asQueries(prepared(queries))
    c.join(broadcast(q), col("id") =!= col("query_id"))
      .withColumn("sim", cosinePrenormed(col("qv"), col("v"), col("qnrm"), col("nrm")))
      .select(col("query_id"), col("sim"), col("id"))
      .as[(Long, Double, Long)]
      .groupByKey(_._1)
      .mapValues(r => (r._2, r._3))
      .agg(new graft.functions.TopKAggregator(k).toColumn.name("top"))
      .toDF("query_id", "top")
      .select(col("query_id"), posexplode(col("top")))
      .select(col("query_id"), col("col._2").as("neighbor_id"),
        (col("pos") + 1).cast("long").as("rank"),
        round(col("col._1"), 4).as("sim"))
  }

  /** Hard-negative mining for contrastive training: for each query vector,
    * the top-k most-SIMILAR corpus vectors with a DIFFERENT label — the
    * near-miss examples that carry the most gradient signal when training
    * dense retrievers / embedding models (in-batch negatives are too easy;
    * hard negatives come from a corpus-wide similarity search that excludes
    * the query's own class). Same plan shape as [[bruteForceTopK]]: the
    * query side broadcasts, the corpus never shuffles, and the label
    * exclusion rides the scored join as a codegen'd filter before ranking.
    * At production scale swap the scoring join for [[lshTopK]]'s banded
    * candidates — the label filter composes unchanged. */
  def hardNegatives(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val c = corpus.select(col(VecId).as("id"), col("label").as("lbl"),
        toDouble(col(Embedding)).as("v"))
      .withColumn("nrm", norm(col("v")))
    val qs = queries.select(col(VecId).as("query_id"), col("label").as("qlbl"),
        toDouble(col(Embedding)).as("qv"))
      .withColumn("qnrm", norm(col("qv")))
    val scored = c.join(broadcast(qs),
        col("id") =!= col("query_id") && col("lbl") =!= col("qlbl"))
      .withColumn("sim", cosinePrenormed(col("qv"), col("v"), col("qnrm"), col("nrm")))
    nearest(scored, k, col("lbl").as("neg_label"))
  }

  /** Semantic benchmark decontamination: flag every corpus vector whose
    * cosine against ANY benchmark/eval-set vector reaches `threshold` —
    * the embedding-space counterpart of n-gram decontamination (an eval
    * item paraphrased into the training corpus shares no 13-gram but
    * sits at cosine ≈ 1). Emits one row per contaminated corpus id with
    * its best-matching benchmark id (max sim, lowest bench id on ties).
    *
    * Scale shape: the benchmark set is model-sized (eval suites are
    * thousands of items, the corpus is the 100-TB side), so it broadcasts
    * and the corpus is scanned ONCE with the scoring fully codegen'd —
    * no corpus shuffle before the per-id max aggregation, which carries
    * only flagged ids (threshold-pruned, ≪ corpus). For benchmark sets
    * past the broadcast budget, swap the scoring join for [[banded]] LSH
    * candidates exactly as [[nearDupPairsLsh]] does — the aggregation
    * composes unchanged. */
  def contaminationScreen(corpus: DataFrame, benchmark: DataFrame,
                          threshold: Double): DataFrame = {
    val c = prepared(corpus)
    val b = prepared(benchmark)
      .select(col("id").as("bench_id"), col("v").as("bv"), col("nrm").as("bnrm"))
    // Corpus and benchmark id spaces need NOT be disjoint: every pair is
    // compared, so a corpus/bench pair whose independently-assigned ids
    // happen to coincide is still screened.
    c.join(broadcast(b), lit(true))
      .withColumn("sim", cosinePrenormed(col("bv"), col("v"), col("bnrm"), col("nrm")))
      .where(col("sim") >= threshold)
      .groupBy(col("id"))
      .agg(min(struct((lit(-1.0) * col("sim")).as("negSim"),
        col("bench_id").as("bid"))).as("m"))
      .select(col("id").as("vec_id"), col("m.bid").as("bench_id"),
        round(lit(-1.0) * col("m.negSim"), 4).as("sim"))
  }

  /** Margin-based mutual-top-1 pair mining across two embedding sides —
    * the parallel-corpus (bitext) mining shape (Artetxe & Schwenk 2019's
    * margin criterion over Schwenk's mutual-nearest intersection, reduced
    * to its deterministic core): x's nearest y and y's nearest x must
    * AGREE, and the pair must clear a ratio margin against BOTH sides'
    * k-NN neighbourhoods — margin = 2k·sim / (Σtop-k(x) + Σtop-k(y)) ≥
    * `minMargin` — so hub vectors that are uniformly similar to everything
    * are rejected even when they win a mutual top-1. The aligned-pair
    * miner for translation pairs, caption↔image-embedding alignment, or
    * any cross-corpus linkage over a shared embedding space.
    *
    * Determinism: sims quantize to exact 1e-4 integers BEFORE ranking and
    * summing (k-NN sums are exact integer sums — FP addition order can
    * never flip a rank or a 6-dp margin), ties rank by ascending id, and
    * the margin is one exact-integer ratio rounded at 6 dp.
    *
    * Scale shape — TWO strategies behind [[ScaleOps.fitsBroadcast]], the
    * broadcast-budget predicate [[GraphOps.pageRank]] also uses:
    *
    *  - '''broadcast''' (seed side fits the session broadcast budget): X
    *    broadcasts onto ONE fully-codegen'd scoring scan of the Y corpus;
    *    each scored pair explodes into its two directed views (per-x and
    *    per-y) so a single windowed top-k — WindowGroupLimit prunes it
    *    map-side — covers BOTH directions in that one pass. Only
    *    (side, key, other, si) survivor rows ((|X|+|Y|)·k, bounded) reach
    *    the exchange; vectors never shuffle. Pre-r13 this ran the
    *    |X|×|Y| scoring scan twice (once per direction).
    *  - '''lsh''' (seed side past the budget — the 10M+-pair bitext case):
    *    both sides hash into [[banded]] hyperplane sign buckets, the
    *    candidate set is the band equi-join (never all-pairs), candidates
    *    are scored ONCE after an id-keyed vector re-join, and the same
    *    explode + windowed-top-k composes mutual agreement and the margin
    *    on the survivor set. Top-k neighbourhoods (and therefore margin
    *    denominators) are computed among candidates, so recall follows the
    *    band parameters: wide cheap bands (e.g. 2×40 on this corpus) make
    *    it exactly the broadcast output (pinned in ScalaTest); production
    *    high-sim regimes use fewer wider bands and inherit LSH recall.
    *
    * The estimate puts the seed table at dim×8+48 B/row via one scalar
    * aggregate (count + dim — model metadata), run only when a broadcast
    * budget is set.
    * Survivors materialize eagerly (localCheckpoint) so the scoring scan
    * runs exactly once even though two aggregations consume them. */
  def marginMine(xSide: DataFrame, ySide: DataFrame, k: Int = 4,
                 minMargin: Double = 1.0): DataFrame = {
    val strategy = if (seedPastBroadcastBudget(xSide)) "lsh" else "broadcast"
    // The crossover changes RESULT semantics, not just cost (the lsh path's
    // recall follows the band parameters), so a conf- or data-size-driven
    // flip must be observable rather than silent.
    org.slf4j.LoggerFactory.getLogger(getClass).info(
      s"marginMine strategy=$strategy (seed side vs autoBroadcastJoinThreshold; " +
        s"lsh recall follows bands=$MarginLshBands x planes=$MarginLshPlanes)")
    marginMineStrategy(xSide, ySide, k, minMargin,
      strategy, MarginLshPlanes, MarginLshBands)
  }

  /** True when the seed side's estimated in-memory footprint exceeds the
    * session broadcast budget. One scalar aggregate (row count + vector
    * dim) — bounded model metadata, never data rows. */
  private[graft] def seedPastBroadcastBudget(seed: DataFrame): Boolean =
    !ScaleOps.fitsBroadcast {
      val m = seed.agg(count(lit(1)).as("n"), max(size(col(Embedding))).as("d")).head()
      val dim = if (m.isNullAt(1)) 0L else m.getInt(1).toLong
      m.getLong(0) * (dim * 8L + 48L)
    }

  /** Strategy-pinned entry (tests pin lsh ≡ broadcast through this). */
  private[graft] def marginMineStrategy(xSide: DataFrame, ySide: DataFrame,
                                        k: Int, minMargin: Double,
                                        strategy: String,
                                        lshPlanes: Int, lshBands: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val surv = marginSurvivors(xSide, ySide, k,
        strategy, lshPlanes, lshBands)
      .ckpt(true) // bounded: (|X|+|Y|)·k narrow rows
    val xStats = surv.where(col("side") === 0).groupBy(col("key"))
      .agg(sum("si").as("sum_x"),
        max(when(col("rk") === 1, struct(col("other"), col("si")))).as("best"))
      .select(col("key").as("x_id"), col("sum_x"),
        col("best.other").as("y_id"), col("best.si").as("si"))
    val yStats = surv.where(col("side") === 1).groupBy(col("key"))
      .agg(sum("si").as("sum_y"), max(when(col("rk") === 1, col("other"))).as("best_x"))
      .select(col("key").as("y_id"), col("sum_y"), col("best_x"))
    xStats.join(yStats, Seq("y_id"))
      .where(col("best_x") === col("x_id"))
      .withColumn("margin",
        round((col("si") * (2L * k)) / (col("sum_x") + col("sum_y")).cast("double"), 6))
      .where(col("margin") >= minMargin)
      .select(col("x_id"), col("y_id"),
        round(col("si") / 10000.0, 4).as("sim"), col("margin"))
  }

  /** Pre-checkpoint survivor frame (side, key, other, si, rk): every
    * scored pair exploded into its per-x (side 0) and per-y (side 1)
    * directed views, rank-pruned to the top-k per (side, key) by one
    * window — (si desc, other asc), the exact tie order of the former
    * per-direction windows. Package-private so PlanQualitySpec pins the
    * scoring plan that eager checkpointing hides from the final query. */
  private[graft] def marginSurvivors(xSide: DataFrame, ySide: DataFrame, k: Int,
                                     strategy: String,
                                     lshPlanes: Int, lshBands: Int): DataFrame = {
    val x = prepared(xSide)
    val y = prepared(ySide)
    val scored = strategy match {
      case "broadcast" => marginScoredBroadcast(x, y)
      case "lsh"       => marginScoredLsh(x, y, lshPlanes, lshBands)
      case other => throw new IllegalArgumentException(
        s"unknown marginMine strategy '$other' (broadcast|lsh)")
    }
    val both = scored.select(explode(array(
        struct(lit(0).as("side"), col("x_id").as("key"), col("y_id").as("other"), col("si")),
        struct(lit(1).as("side"), col("y_id").as("key"), col("x_id").as("other"), col("si")))).as("e"))
      .select(col("e.side").as("side"), col("e.key").as("key"),
        col("e.other").as("other"), col("e.si").as("si"))
    val w = Window.partitionBy("side", "key").orderBy(col("si").desc, col("other"))
    both.withColumn("rk", row_number().over(w)).where(col("rk") <= k)
  }

  /** Exhaustive scoring: one scan of Y against the broadcast seed. */
  private def marginScoredBroadcast(x: DataFrame, y: DataFrame): DataFrame =
    y.select(col("id").as("y_id"), col("v").as("yv"), col("nrm").as("yn"))
      .join(broadcast(x.select(col("id").as("x_id"), col("v").as("xv"), col("nrm").as("xn"))),
        lit(true))
      .select(col("x_id"), col("y_id"),
        round(cosinePrenormed(col("xv"), col("yv"), col("xn"), col("yn")) * 10000)
          .cast("long").as("si"))

  /** Candidate scoring past the broadcast budget: band equi-join on
    * (band, bucket) over [[banded]] hyperplane signatures — only ids and
    * two small ints cross that exchange — then ONE id-keyed vector
    * re-join per side feeds a single scoring projection. Linear vector
    * movement, no all-pairs anywhere. */
  private def marginScoredLsh(x: DataFrame, y: DataFrame,
                              nPlanes: Int, bands: Int): DataFrame = {
    val xb = banded(x, nPlanes, bands)
      .select(col("id").as("x_id"), col("band"), col("bucket"))
    val yb = banded(y, nPlanes, bands)
      .select(col("id").as("y_id"), col("band"), col("bucket"))
    yb.join(xb, Seq("band", "bucket"))
      .select("x_id", "y_id").distinct()
      .join(x.select(col("id").as("x_id"), col("v").as("xv"), col("nrm").as("xn")), Seq("x_id"))
      .join(y.select(col("id").as("y_id"), col("v").as("yv"), col("nrm").as("yn")), Seq("y_id"))
      .select(col("x_id"), col("y_id"),
        round(cosinePrenormed(col("xv"), col("yv"), col("xn"), col("yn")) * 10000)
          .cast("long").as("si"))
  }

  /** Greedy k-center (farthest-point) core-set selection — the classic
    * 2-approximation to the k-center objective (Gonzalez 1985; the
    * diverse-subset selector of Sener & Savarese 2018's core-set active
    * learning): seed with the lowest-id vector, then k−1 times pick the
    * candidate FARTHEST from the selected set (max over candidates of the
    * min distance to any center), ties to the lowest id. The selector a
    * curation pipeline uses to pull a maximally-diverse exemplar panel
    * from an embedded corpus.
    *
    * Determinism: distances quantize to exact integers BEFORE any
    * comparison — d = 10000 − round(cos·10000) — so min-chains, the
    * argmax, and tie-breaks are integer decisions on both engines.
    *
    * Scale shape: the selected set is MODEL metadata (k vectors), pulled
    * one bounded row per round; each round is ONE job — a TakeOrdered(1)
    * probe that materializes a lazily-checkpointed frame whose stored `md`
    * column is updated by a single new distance against the newest center
    * (riding as an array literal) — never a candidate×candidate or
    * candidate×corpus join, never a re-read of the source: total distance
    * work is n·k (inherent to the greedy — each choice depends on the
    * last), resident state ~one (id, v, nrm, md) copy of the corpus (each
    * round releases the previous round's blocks), and the result itself is
    * a k-row frame.
    * Returns (rank, vec_id, sep_dist) where sep_dist is the quantized
    * min-distance at selection time (NULL for the seed) — the classic
    * "coverage radius" curve a curator reads k off of. */
  def kCenterSelect(emb: DataFrame, k: Int): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    kCenterGreedy(emb, k).zipWithIndex
      .map { case ((id, _, _, md), rank) => (rank.toLong, id, md) }
      .toDF("rank", "vec_id", "sep_dist")
      .select(col("rank"), col("vec_id"),
        col("sep_dist").cast("long").as("sep_dist"))
  }

  /** Core-set partition: every vector assigned to its NEAREST
    * [[kCenterSelect]] center — the per-stratum view a curator samples
    * from once the exemplar panel is chosen (with the same quantized
    * integer distance and lowest-center-id tie-break as the greedy).
    * One codegen'd corpus scan against the k-center model riding along as
    * array literals (an argmin over k structs) — no join, no shuffle
    * beyond the scan; centers assign to themselves at distance 0. */
  def kCenterAssign(emb: DataFrame, k: Int): DataFrame =
    kCenterAssignWith(emb, kCenterFit(emb, k))

  /** Fit the exemplar panel ALONE: (center_id, vector, norm) in selection
    * order — bounded model metadata, the artifact a maintained core-set
    * lifecycle freezes between refits (the kCenter mirror of [[fitIvfPq]]'s
    * models: build once, serve appends against it, re-greedy on drift
    * — CoreSetLifecycleSpec pins the discipline). */
  def kCenterFit(emb: DataFrame, k: Int): Seq[(Long, Seq[Double], Double)] =
    kCenterGreedy(emb, k).map { case (id, v, n, _) => (id, v, n) }

  /** [[kCenterAssign]] against an ALREADY-fitted frozen panel — a pure
    * codegen projection (argmin over k struct literals: no join, no
    * shuffle, no state), so the SAME call serves a batch corpus and a
    * STREAMING append feed unchanged: streamed rows assign to the frozen
    * panel exactly as a batch re-run would (streamed ≡ batch pinned in
    * CoreSetLifecycleSpec). */
  def kCenterAssignWith(emb: DataFrame, panel: Seq[(Long, Seq[Double], Double)]): DataFrame = {
    require(panel.nonEmpty, "kCenterAssignWith: empty panel")
    val p = prepared(emb)
      .select(col("id").cast("long").as("id"), col("v"), col("nrm"))
    val best = array_min(array(panel.map { case (cid, cv, cn) =>
      struct(
        (lit(10000L) -
          round(cosinePrenormed(array(cv.map(lit): _*), col("v"), lit(cn), col("nrm")) * 10000)
            .cast("long")).as("d"),
        lit(cid).as("cid"))
    }: _*))
    p.select(col("id").as("vec_id"), best.getField("cid").as("center_id"),
      best.getField("d").as("dist"))
  }

  /** The farthest-point greedy itself: selected (id, vector, norm,
    * min-dist-at-selection) in selection order — bounded model metadata
    * (k rows), shared by [[kCenterSelect]] and [[kCenterAssign]].
    *
    * The rounds run on [[Fixpoint]]. The frame carries each row's distance
    * `md` to its nearest selected center; a round folds in ONE new distance
    * per row against the newest center — least(stored md, d_new) — instead
    * of re-deriving the whole i-term least-chain from the parquet scan up
    * (the pre-r14 form: O(k²) distance work + k source re-reads). The
    * probe is the argmax row (ties to the lowest id): with every `md` still
    * null in round 0 it is the seed, the lowest id. An exhausted corpus
    * (n < k) probes None, which leaves the frame as it is, so the next
    * probe repeats and the rounds stop with the selected prefix. */
  private def kCenterGreedy(emb: DataFrame,
                            k: Int): Seq[(Long, Seq[Double], Double, Option[Long])] = {
    require(k >= 1 && k <= 128, s"k must be in [1, 128] (k driver rounds), got $k")
    val p = prepared(emb)
      .select(col("id").cast("long").as("id"), col("v"), col("nrm"), lit(null).cast("long").as("md"))
    val rounds = Fixpoint.iterate(p, k - 1) { frame =>
      frame.orderBy(col("md").desc, col("id")).limit(1).take(1).headOption.map(row =>
        (row.getLong(0), row.getSeq[Double](1), row.getDouble(2),
          if (row.isNullAt(3)) None else Some(row.getLong(3))))
    } { (frame, selected) =>
      selected.fold(frame) { case (cid, cv, cn, _) =>
        val d = lit(10000L) -
          round(cosinePrenormed(array(cv.map(lit): _*), col("v"), lit(cn), col("nrm")) * 10000)
            .cast("long")
        frame.where(col("id") =!= cid).withColumn("md", least(col("md"), d))
      }
    }
    rounds.release()
    require(rounds.probes.head.nonEmpty, "kCenterGreedy: empty input — no vectors to select from")
    rounds.probes.flatten
  }

  /** (id, band, bucket) rows: `bands` bands of `nPlanes` hyperplane sign
    * bits each, one row per band. Only ids and two small ints go through the
    * candidate join — vectors are re-fetched for scoring afterwards, so the
    * LSH index shuffle never carries embeddings. */
  private def banded(p: DataFrame, nPlanes: Int, bands: Int): DataFrame =
    p.withColumn("bits", hyperplaneBits(col("v"), nPlanes * bands))
      .select(col("id"),
        posexplode(transform(sequence(lit(0), lit(bands - 1)),
          bnd => packBits(slice(col("bits"), bnd * nPlanes + 1, lit(nPlanes))))))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bucket")

  /** Banded hyperplane-LSH approximate top-k: both sides hashed to `bands`
    * independent `nPlanes`-bit sign buckets; a corpus vector is a candidate
    * for a query if they collide in ANY band, and candidates are then
    * rescored with the exact cosine. Recall for a neighbour at cosine s is
    * 1-(1-p^r)^b with p = 1-θ(s)/π — more bands push recall toward 1, more
    * planes per band shrink buckets (fewer false candidates).
    *
    * Because rescoring is exact, parameters with full recall at a given
    * corpus make the output equal exact top-k — banding then only decides
    * COST. At production scale (near-dup-heavy corpora, target sims ≥0.8)
    * a handful of 8-16-plane bands prunes candidate volume by orders of
    * magnitude; the synthetic test corpus has near-orthogonal vectors
    * (top-5 sims 0.26-0.5), where honest full recall needs wide cheap bands
    * (2 planes × 40). Candidate generation joins only (id, band, bucket)
    * rows with the query side broadcast; vectors rejoin afterwards keyed on
    * id. The corpus never cross-joins the query set. */
  def lshTopK(corpus: DataFrame, queries: DataFrame, k: Int, nPlanes: Int = 8,
              bands: Int = 1): DataFrame = {
    val c = prepared(corpus)
    val q = prepared(queries)
    val qb = banded(q, nPlanes, bands)
      .select(col("id").as("query_id"), col("band"), col("bucket"))
    val cands = banded(c, nPlanes, bands)
      .join(broadcast(qb), Seq("band", "bucket"))
      .where(col("id") =!= col("query_id"))
      .select("query_id", "id").distinct()
    val scored = cands
      .join(c, Seq("id"))
      .join(broadcast(asQueries(q)), Seq("query_id"))
      .withColumn("sim", cosinePrenormed(col("qv"), col("v"), col("qnrm"), col("nrm")))
    nearest(scored, k)
  }

  /** IVF (inverted-file) approximate top-k: a coarse quantizer of
    * `nCentroids` centroids partitions the corpus into cells; queries score
    * only the `nProbe` nearest cells.
    *
    * Centroids are chosen deterministically (the lowest-id vectors — at
    * production scale substitute a k-means fit, the assignment plan is
    * unchanged). Plan shape: one corpus scan to assign cells (broadcast
    * centroids, argmin over a literal array), then a cell-keyed join against
    * the probed query cells — the corpus never cross-joins the query set.
    */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, k: Int,
              nCentroids: Int = 16, nProbe: Int = 4): DataFrame = {
    val c = prepared(corpus)
    val centroids = fitCoarseQuantizer(c, nCentroids, IvfKmeansIters)
    val assigned = c.withColumn("cell", element_at(cellsFor(centroids, col("v"), 1), 1))
    val q = asQueries(prepared(queries),
      explode(cellsFor(centroids, col("v"), nProbe)).as("cell"))
    val scored = assigned.join(broadcast(q), Seq("cell"))
      .where(col("id") =!= col("query_id"))
      .withColumn("sim", cosinePrenormed(col("qv"), col("v"), col("qnrm"), col("nrm")))
    nearest(scored, k)
  }

  /** Product-quantization (PQ) codes — the storage layer of IVF-PQ, the
    * standard billion-vector ANN index: the vector splits into `nSub`
    * subspaces and each subvector is replaced by the id of its nearest
    * codebook centroid, compressing dim×f32 down to nSub bytes (here
    * 64×4B → 4B per vector, 64×). Output per vector: the code word, plus
    * the reconstruction distance √Σ‖x_s − c_s‖² (the quantization
    * distortion that an ADC scan would incur).
    *
    * Codebooks here are the subvectors of the `nCentroids` lowest-id
    * vectors — the same deterministic-init contract as [[ivfTopK]] (swap a
    * per-subspace k-means fit at production; the assignment plan is
    * unchanged, and the k-means-fitted variant's distortion win is pinned
    * in ScalaTest). Assignment is one narrow codegen'd pass: centroids ride
    * along as array literals (model metadata, nSub×nCentroids×subdim
    * doubles), ‖x_s−c‖² expands to x·x − 2x·c + c·c with dots in index
    * order on both engines (bitwise-reproducible), argmin via array_sort on
    * (dist², cid). No shuffle, no state — at 100 TB this is scan-speed. */
  def pqCodes(emb: DataFrame, nSub: Int = 4, nCentroids: Int = 16,
              kmeansIters: Int = 0): DataFrame = {
    pqCodesWith(emb, pqFitBooks(emb, nSub, nCentroids, kmeansIters))
  }

  /** [[pqCodes]] against ALREADY-FITTED codebooks — use when the same fit
    * is shared with [[adcTopK]] (the fit is deterministic, but refitting
    * per call would still rescan the corpus kmeansIters × nSub times). */
  def pqCodesWith(emb: DataFrame, books: Array[Array[Seq[Double]]]): DataFrame = {
    val nSub = books.length
    val sd = books(0)(0).length
    val p = emb.select(col(VecId).as("id"), toDouble(col(Embedding)).as("v"))
    val withSubs = bindSubspaces(p, nSub, sd)
    val coded = withSubs.select(col("id") +:
      (0 until nSub).map(s => nearestEntry(s, books(s)).as(s"__b$s")): _*)
    coded.select(
      col("id").as(VecId),
      concat_ws(",", (0 until nSub).map(s =>
        col(s"__b$s").getField("cid").cast("string")): _*).as("codes"),
      round(sqrt((0 until nSub).map(s => col(s"__b$s").getField("d2")).reduce(_ + _)), 4)
        .as("recon_err"))
  }

  /** Bind each subvector and its self-dot to columns first: non-attribute
    * expressions referenced inside lambdas re-evaluate per reference. */
  private def bindSubspaces(p: DataFrame, nSub: Int, sd: Int): DataFrame =
    (0 until nSub).foldLeft(p) { (df, s) =>
      df.withColumn(s"__s$s", slice(col("v"), s * sd + 1, sd))
        .withColumn(s"__ss$s",
          call_function("vec_dot", col(s"__s$s"), col(s"__s$s")))
    }

  /** Nearest codebook entry struct(d2, cid) for subspace s: argmin ‖x_s−c‖²
    * via (x·x − 2x·c) + c·c (dots in index order, bitwise-reproducible),
    * array_sort on (dist², cid). Expects [[bindSubspaces]] columns. */
  private def nearestEntry(s: Int, book: Array[Seq[Double]]): Column = {
    val centArr = array(book.zipWithIndex.map { case (cs, ci) =>
      val cdot = cs.foldLeft(0.0)((a, x) => a + x * x) // index order = vec_dot order
      struct(lit(ci).as("cid"), array(cs.map(lit): _*).as("cv"), lit(cdot).as("cc"))
    }: _*)
    element_at(array_sort(transform(centArr, c =>
      struct(
        ((col(s"__ss$s") -
          lit(2.0) * call_function("vec_dot", col(s"__s$s"), c.getField("cv"))) +
          c.getField("cc")).as("d2"),
        c.getField("cid").as("cid")))), 1)
  }

  /** ADC (asymmetric distance computation) top-k over PQ codes — the search
    * path of IVF-PQ: corpus vectors exist only as [[pqCodes]] code words;
    * each query scores a code word by summing, per subspace, its exact
    * dot-product with the CENTROID the code names. The classic formulation
    * precomputes a (nSub × nCentroids) lookup table per query; here the
    * codebooks ride as array literals and the per-subspace lookup is
    * `element_at(book, code+1)` + `vec_dot` in codegen — the corpus side
    * carries only its id and nSub bytes of codes through the scan, never
    * the original vectors. Approximate by construction (quantization error
    * bounds the score), so recall is pinned in ScalaTest against brute
    * force, the same contract as partial-probe IVF.
    *
    * `books` must be the codebooks the codes were assigned under — pass
    * the same (nSub, nCentroids, kmeansIters, corpus) to [[pqCodes]]. */
  def adcTopK(codes: DataFrame, queries: DataFrame, books: Array[Array[Seq[Double]]],
              k: Int): DataFrame = {
    val q = queries.select(col(VecId).as("query_id"), toDouble(col(Embedding)).as("qv"))
      .withColumn("qnrm", norm(col("qv")))
    val withCodes = codes.select(col(VecId).as("id"),
      split(col("codes"), ",").as("cs"))
    val scored = withCodes
      .join(broadcast(q), col("id") =!= col("query_id"))
      .withColumn("sim", adcSim(books, col("cs"), col("qv"), col("qnrm")))
    nearest(scored, k)
  }

  /** Two-stage retrieval: ADC shortlist over PQ codes → exact cosine
    * re-rank of the shortlist only — the production PQ search composition
    * (Jégou et al. 2011, "Product quantization for nearest neighbor
    * search": asymmetric-distance shortlist, exact re-ranking of the top
    * candidates). The corpus crosses the ADC stage as (id, nSub code
    * bytes); FULL vectors are touched only for the |queries|×shortlist
    * candidate rows — which is the point of PQ at 100 TB: the wide
    * embedding column never shuffles and is read only for the shortlist
    * semi-join (candidate set broadcast; the corpus-side re-read is a
    * narrow map-side join). Result ranks equal brute force whenever the
    * true top-k survive the shortlist (pinned in ScalaTest; the oracle
    * models shortlist + re-rank end-to-end, nothing exhaustive). */
  def adcRerankTopK(corpus: DataFrame, queries: DataFrame,
                    books: Array[Array[Seq[Double]]], shortlist: Int, k: Int): DataFrame = {
    require(shortlist >= k, s"shortlist $shortlist must be ≥ k $k")
    val codes = pqCodesWith(corpus, books)
    val cand = adcTopK(codes, queries, books, shortlist)
      .select(col("query_id"), col("neighbor_id").as("id"))
    val c = prepared(corpus)
    val q = asQueries(prepared(queries))
    val exact = c.join(broadcast(cand), Seq("id"))
      .join(broadcast(q), Seq("query_id"))
      .withColumn("sim", cosinePrenormed(col("qv"), col("v"), col("qnrm"), col("nrm")))
    nearest(exact, k)
  }

  /** Recall@k of an approximate top-k result against the exact one — the
    * standard ANN index-quality measurement (the number every IVF/PQ/LSH
    * deployment tracks to tune nProbe/bands against). Both inputs are
    * (query_id, neighbor_id) top-k tables; output is per-query
    * n_matched / recall. Cost is trivial by construction: top-k tables are
    * |queries|×k rows however large the corpus is, so the evaluation join
    * never touches corpus-scale data — run it on a bounded query sample
    * and the whole comparison is driver-light and broadcastable. */
  def recallAtK(approx: DataFrame, exact: DataFrame, k: Int): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    // distinct on both projected inputs: the top-k-table contract (unique
    // (query_id, neighbor_id)) is assumed but not enforced by the type, and
    // duplicate approx rows would double-count hits (recall > 1.0) while
    // queries present only in approx silently vanish. Cheap by construction
    // — both inputs are |queries|×k.
    exact.select("query_id", "neighbor_id").distinct()
      .join(
        approx.select(col("query_id"), col("neighbor_id")).distinct()
          .withColumn("__hit", lit(1L)),
        Seq("query_id", "neighbor_id"), "left")
      .groupBy("query_id")
      .agg(coalesce(sum("__hit"), lit(0L)).as("n_matched"))
      .withColumn("recall", round(col("n_matched") / (k * 1.0), 6))
  }

  /** ADC cosine-against-the-reconstruction for a code-word column:
    * numerator Σ_s q_s·c_{code_s} (each dot in index order, subspaces
    * summed left-to-right), denominator ‖q‖·√Σ_s‖c_{code_s}‖². Codebooks
    * and their self-dots ride as array literals — two `element_at` lookups
    * per subspace in codegen, the classic per-query ADC lookup table
    * expressed as plan constants. Shared by [[adcTopK]] and [[ivfPqTopK]]
    * so both score with bitwise-identical arithmetic. */
  private def adcSim(books: Array[Array[Seq[Double]]],
                     csCol: Column, qvCol: Column, qnrmCol: Column): Column = {
    val nSub = books.length
    val sd = books(0)(0).length
    (0 until nSub).map { s =>
      val book = array(books(s).map(cv => array(cv.map(lit): _*)): _*)
      call_function("vec_dot",
        slice(qvCol, s * sd + 1, sd),
        element_at(book, element_at(csCol, s + 1).cast("int") + 1))
    }.reduce(_ + _) /
      (qnrmCol * sqrt((0 until nSub).map { s =>
        val cc = array(books(s).map(cv =>
          lit(cv.foldLeft(0.0)((a, x) => a + x * x))): _*)
        element_at(cc, element_at(csCol, s + 1).cast("int") + 1)
      }.reduce(_ + _)))
  }

  /** IVF-PQ search — the full production ANN composition (Jégou et al.,
    * "Product Quantization for Nearest Neighbor Search", TPAMI 2011): a
    * coarse quantizer routes each corpus vector into one of `nCentroids`
    * inverted lists, vectors are stored only as `nSub`-byte PQ code words,
    * and a query probes its `nProbe` nearest lists, ADC-scoring just the
    * candidates that live there — candidate volume is nProbe/nCentroids of
    * the corpus instead of all of it, and each candidate costs nSub lookups
    * instead of a full-dimension dot.
    *
    * Plan shape: ONE narrow codegen'd corpus pass computes both the cell id
    * and the code word (coarse centroids and codebooks are plan literals —
    * model metadata, never broadcast state); the probe join is a broadcast
    * hash join on cell (the query side is tiny), so the corpus never
    * shuffles and nothing vector-sized crosses the exchange — the scan
    * carries (id, cell, nSub small ints). At 100 TB this is the
    * billion-vector index layout: scale nCentroids to ~√n, partition the
    * corpus BY cell at write time, and the probe join prunes partitions.
    *
    * With [[KmeansIters]] = 0 both quantizers are deterministic functions of
    * the lowest-id vectors, so cell routing AND scoring reproduce exactly
    * in SQL; partial-probe recall is pinned in ScalaTest, and full probe
    * (nProbe = nCentroids) degenerates to [[adcTopK]] by construction. */
  def ivfPqTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                nCentroids: Int = 16, nProbe: Int = 4,
                nSub: Int = 4, nPqCentroids: Int = 16): DataFrame = {
    val (centroids, books) =
      fitIvfPq(corpus, nCentroids, nSub, nPqCentroids, KmeansIters)
    ivfPqTopKWith(corpus, queries, k, centroids, books, nProbe)
  }

  /** Fit BOTH IVF-PQ models — coarse quantizer and PQ codebooks — from ONE
    * bounded sample collect. Each model trains on exactly the sample its
    * standalone fit would use (the lowest `256·n` ids; the shared collect is
    * the larger of the two and the smaller model takes the prefix, which is
    * the identical array because the sample is id-ordered), so the fitted
    * models are bit-identical to [[fitCoarseQuantizer]] + [[pqFitBooks]]
    * run separately — at half the corpus TakeOrdered passes. This is the
    * model-build entry an index pipeline calls once and shares across
    * search, coding ([[ivfPqCode]]) and evaluation ([[recallAtK]]). */
  def fitIvfPq(emb: DataFrame, nCentroids: Int = 16, nSub: Int = 4,
               nPqCentroids: Int = 16, kmeansIters: Int = 0)
      : (Array[(Int, Seq[Double], Double)], Array[Array[Seq[Double]]]) = {
    val p = emb.select(col(VecId).as("id"), toDouble(col(Embedding)).as("v"))
    val sample = fitSample(p, math.max(nCentroids, nPqCentroids))
    val coarse = fitCoarseQuantizerFromSample(
      sample.take(FitSamplePerCentroid * nCentroids), nCentroids, kmeansIters)
    val books = pqFitBooksFromSample(
      sample.take(FitSamplePerCentroid * nPqCentroids), nSub, nPqCentroids, kmeansIters)
    (coarse, books)
  }

  /** [[ivfPqTopK]] against ALREADY-FITTED models — the search half of the
    * fit-once contract ([[fitIvfPq]]): an evaluation like [[recallAtK]]'s
    * runs fit → search → code → recall against ONE model pair instead of
    * refitting per call (the fits are deterministic, so refitting changes
    * nothing but cost — two TakeOrdered corpus passes per call). */
  def ivfPqTopKWith(corpus: DataFrame, queries: DataFrame, k: Int,
                    centroids: Array[(Int, Seq[Double], Double)],
                    books: Array[Array[Seq[Double]]], nProbe: Int = 4): DataFrame = {
    val nCentroids = centroids.length
    require(nProbe >= 1 && nProbe <= nCentroids,
      s"nProbe must be in [1, nCentroids=$nCentroids]; got $nProbe")
    val q = asQueries(prepared(queries),
      explode(cellsFor(centroids, col("v"), nProbe)).as("cell"))
    val coded = ivfPqCode(corpus, centroids, books)
      .select(col(VecId).as("id"), col("cell"), split(col("codes"), ",").as("cs"))
    val scored = coded.join(broadcast(q), Seq("cell"))
      .where(col("id") =!= col("query_id"))
      .withColumn("sim", adcSim(books, col("cs"), col("qv"), col("qnrm")))
    nearest(scored, k)
  }

  /** The IVF-PQ WRITE path: code vectors against ALREADY-FITTED quantizers
    * — (id, inverted-list cell, PQ code word) in one narrow codegen'd pass
    * with both models riding as plan literals. This is what continuous
    * index maintenance runs on every ingest batch: a STATELESS map, so the
    * identical plan runs over a streaming DataFrame (stream parity pinned
    * in `StreamingPqIngestSpec`) and new vectors land in the same cells
    * with the same codes the batch build would assign. */
  def ivfPqCode(emb: DataFrame, centroids: Array[(Int, Seq[Double], Double)],
                books: Array[Array[Seq[Double]]]): DataFrame = {
    require(centroids.nonEmpty, "empty coarse quantizer")
    require(books.nonEmpty && books.forall(_.nonEmpty),
      "PQ codebooks must have at least one entry per subspace")
    val nSub = books.length
    val sd = books(0)(0).length
    require(sd * nSub == centroids.head._2.length,
      s"codebook geometry ($nSub × $sd) does not cover the quantizer dim ${centroids.head._2.length}")
    val p = emb.select(col(VecId), toDouble(col(Embedding)).as("v"))
    bindSubspaces(p, nSub, sd)
      .select(col(VecId),
        element_at(cellsFor(centroids, col("v"), 1), 1).as("cell"),
        concat_ws(",", (0 until nSub).map(s =>
          nearestEntry(s, books(s)).getField("cid").cast("string")): _*).as("codes"))
  }

  /** Driver replica of [[nearestEntry]] — argmin of (d2, cid) with
    * d2 = (x·x − 2 x·c) + c·c, every dot in index order and the same
    * parenthesization, ties to the lower cid, so a sample assignment is
    * bitwise the engine's code assignment. */
  private def nearestBookEntry(book: Array[Seq[Double]], x: Seq[Double]): Int = {
    var xx = 0.0
    var i = 0
    while (i < x.length) { xx += x(i) * x(i); i += 1 }
    var bestCid = -1
    var best = Double.PositiveInfinity
    var ci = 0
    while (ci < book.length) {
      val c = book(ci)
      var d = 0.0
      var cc = 0.0
      var j = 0
      while (j < c.length) { d += x(j) * c(j); cc += c(j) * c(j); j += 1 }
      val d2 = (xx - 2.0 * d) + cc
      if (d2 < best) { best = d2; bestCid = ci }
      ci += 1
    }
    bestCid
  }

  /** The fitted per-subspace codebooks [[pqCodes]] trains — exposed so
    * [[adcTopK]] can score against exactly the books the codes were
    * assigned under. Same training-sample contract as
    * [[fitCoarseQuantizer]]: init = the `nCentroids` lowest-id vectors,
    * then `kmeansIters` per-subspace Lloyd steps over the bounded
    * [[fitSample]] — assign via [[nearestBookEntry]] (≡ the engine's
    * [[nearestEntry]]), new entry = [[lloydMeans]] exact-decimal mean.
    * Training is model work, not a data pass: at 100 TB the corpus is
    * never rescanned per Lloyd step, and the exact arithmetic keeps the
    * fit a constant of the corpus, not of the cluster layout. */
  def pqFitBooks(emb: DataFrame, nSub: Int = 4, nCentroids: Int = 16,
                 kmeansIters: Int = 0): Array[Array[Seq[Double]]] = {
    val p = emb.select(col(VecId).as("id"), toDouble(col(Embedding)).as("v"))
    pqFitBooksFromSample(fitSample(p, nCentroids), nSub, nCentroids, kmeansIters)
  }

  /** The per-subspace Lloyd loop of [[pqFitBooks]] over an ALREADY-collected
    * [[fitSample]] — same caller contract as
    * [[fitCoarseQuantizerFromSample]]. */
  private def pqFitBooksFromSample(sample: Array[Seq[Double]], nSub: Int, nCentroids: Int,
                                   kmeansIters: Int): Array[Array[Seq[Double]]] = {
    val init = sample.take(nCentroids)
    val dim = init.head.length
    require(dim % nSub == 0, s"dim $dim not divisible into $nSub subspaces")
    val sd = dim / nSub
    val books = Array.tabulate(nSub)(s => init.map(_.slice(s * sd, (s + 1) * sd)))
    if (kmeansIters > 0) {
      val subSamples = Array.tabulate(nSub)(s =>
        sample.map(_.slice(s * sd, (s + 1) * sd)))
      for (_ <- 1 to kmeansIters; s <- 0 until nSub) {
        val means = lloydMeans(subSamples(s), nearestBookEntry(books(s), _))
        // cells that lost all members keep their previous centroid
        books(s) = books(s).zipWithIndex.map { case (prev, ci) => means.getOrElse(ci, prev) }
      }
    }
    books
  }

  /** Deterministic random projection (Achlioptas ±1 signs): reduce `inDim`
    * → `outDim` before indexing/pre-scoring — the Johnson-Lindenstrauss
    * step that cuts ANN index size and scan bandwidth (pairwise distances
    * preserved within ε for outDim = O(log n / ε²)). Matrix entries are
    * ±1/√outDim from a seeded PRNG, baked into the plan as literals (model
    * metadata, outDim × inDim doubles — never broadcast state); each output
    * coordinate is one native `vec_dot` against a literal row, so the whole
    * map is a narrow codegen'd scan: no shuffle, no state, scan-speed at
    * 100 TB. With outDim a power of 4 the entries (e.g. ±0.25) are exact in
    * floating point, so the projection reproduces bitwise on any engine. */
  def randomProject(emb: DataFrame, inDim: Int, outDim: Int = 16): DataFrame = {
    require(inDim > 0 && outDim > 0, s"need positive dims; got $inDim -> $outDim")
    val rows = projectionMatrix(inDim, outDim)
    emb
      .withColumn("__v", toDouble(col(Embedding)))
      .select(col(VecId),
        array(rows.map(r =>
          round(dot(col("__v"), array(r.map(lit): _*)), 6)): _*).as("proj"))
  }

  /** The ±1/√outDim projection matrix [[randomProject]] bakes into its plan
    * — exposed so an oracle can reproduce the identical literals. */
  def projectionMatrix(inDim: Int, outDim: Int): Array[Array[Double]] = {
    val rnd = new scala.util.Random(ProjectionSeed)
    val scale = 1.0 / math.sqrt(outDim)
    Array.fill(outDim, inDim)(if (rnd.nextBoolean()) scale else -scale)
  }

  /** Symmetric int8 quantization of an embedding column — the standard
    * storage/bandwidth reduction before ANN indexing (4× smaller than f32,
    * 8× smaller than the f64 compute type). Per vector: scale by
    * 127/max|x|, round to int; the l2 norm is kept at full precision for
    * dequantized scoring. Pure per-row map — no shuffle, no state. */
  def quantizeInt8(emb: DataFrame): DataFrame = {
    val v = toDouble(col(Embedding))
    emb
      .withColumn("__v", v)
      // bind max|x| to a column first: a non-attribute expression referenced
      // inside a lambda re-evaluates per reference
      .withColumn("__mx", array_max(transform(col("__v"), x => abs(x))))
      .select(
        col(VecId),
        round(norm(col("__v")), 6).as("l2_norm"),
        when(col("__mx") === 0d, concat_ws(",", transform(col("__v"), _ => lit("0"))))
          .otherwise(concat_ws(",",
            transform(col("__v"), x => round(x * 127.0 / col("__mx"), 0).cast("int").cast("string"))))
          .as("quant"))
  }

  /** EXACT all-pairs near-duplicates by cosine ≥ threshold (ida < idb),
    * as a blocked distributed join.
    *
    * At a low/continuous similarity threshold no bucketing scheme can prune
    * with full recall (borderline pairs are statistically indistinguishable
    * from background — on the synthetic corpus the tightest true pair sits
    * at sim 0.4000), so exact O(n²) comparison is the honest semantics; the
    * engineering question is only how that work DISTRIBUTES. A naive
    * `a.join(b, ida < idb)` plans a BroadcastNestedLoopJoin: one copy of b
    * broadcast everywhere and driver-bound memory. Here each row gets a
    * block id (id mod nBlocks) and side a replicates once per partner
    * block, so the comparison becomes a shuffled EQUI-join on the partner
    * block — n·B rows against n rows, hash-partitioned, every (block-a,
    * block-b) pair lands in a bounded task and the cluster scales the work
    * out instead of one nested loop. Each unordered pair is compared
    * exactly once (ida < idb keeps one direction). For genuine near-dup
    * thresholds (≥ ~0.8) use [[nearDupPairsLsh]], which prunes candidates
    * before exact verification. */
  def nearDupPairs(emb: DataFrame, threshold: Double, nBlocks: Int = 64): DataFrame = {
    val p = prepared(emb)
    val a = p.select(col("id").as("ida"), col("v").as("va"), col("nrm").as("na"))
      .withColumn("pb", explode(sequence(lit(0), lit(nBlocks - 1))))
    val b = p.select(col("id").as("idb"), col("v").as("vb"), col("nrm").as("nb"),
      pmod(col("id"), lit(nBlocks)).cast("int").as("pb"))
    a.join(b, Seq("pb"))
      .where(col("ida") < col("idb"))
      .withColumn("sim", cosinePrenormed(col("va"), col("vb"), col("na"), col("nb")))
      .where(col("sim") >= threshold)
      .select(col("ida"), col("idb"), round(col("sim"), 4).as("sim"))
  }

  /** APPROXIMATE near-duplicates for genuine near-dup thresholds: banded
    * hyperplane-LSH candidate pairs (collide in any band), then exact cosine
    * verification of candidates only — the production path when target
    * similarity is high (≥ ~0.8), where a miss probability (1-p^r)^b is
    * driven to ~0 by a handful of bands while candidate volume stays
    * near-linear. Same verify-exact contract as [[graft.operators.DedupOps
    * .minhashLsh]]: with full candidate recall the output equals
    * [[nearDupPairs]]. */
  def nearDupPairsLsh(emb: DataFrame, threshold: Double): DataFrame = {
    val p = prepared(emb)
    val pb = banded(p, NearDupPlanes, NearDupBands)
    // Materialize the candidate pairs once (executor-local checkpoint, the
    // verifyJaccard pattern): they are read three times below (id semi-join
    // + two verify joins), and each un-materialized reference re-derives
    // banding over the full corpus. Candidate pairs are bounded by colliding
    // bucket volume — orders of magnitude below the corpus under effective
    // blocking.
    val cands = pb.as("a").join(pb.as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
        col("a.id") < col("b.id"))
      .select(col("a.id").as("ida"), col("b.id").as("idb"))
      .distinct()
      .ckpt(true)
    // only candidate members need their vector for the exact rescore —
    // semi-join the prepared corpus down ONCE, then both verify joins read
    // the bounded result instead of re-preparing the corpus each
    val candIds = cands.select(col("ida").as("id"))
      .union(cands.select(col("idb").as("id"))).distinct()
    val needed = p.join(candIds, Seq("id"), "left_semi").ckpt(true)
    cands
      .join(needed.select(col("id").as("ida"), col("v").as("va"), col("nrm").as("na")), Seq("ida"))
      .join(needed.select(col("id").as("idb"), col("v").as("vb"), col("nrm").as("nb")), Seq("idb"))
      .withColumn("sim", cosinePrenormed(col("va"), col("vb"), col("na"), col("nb")))
      .where(col("sim") >= threshold)
      .select(col("ida"), col("idb"), round(col("sim"), 4).as("sim"))
  }

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023,
    * arXiv:2303.09540): partition the corpus into `nCentroids` coarse
    * k-means cells, then compare pairs only WITHIN a cell — semantically
    * redundant documents land in the same cell, so the within-cell pair
    * set captures them while cross-cell comparisons (the overwhelming bulk
    * of the n² pair space) are never materialised. Emits (cell, ida, idb,
    * sim) for every within-cell pair at cosine ≥ threshold; feed the pairs
    * to [[graft.operators.DedupOps.connectedComponents]] + a keeper rule
    * for the drop decision, exactly like the text near-dup family.
    *
    * Cell geometry is [[fitCoarseQuantizer]]'s — identical to [[ivfTopK]]
    * (deterministic lowest-id init, exact-decimal Lloyd steps), so the
    * partition is a constant of the corpus. Plan shape: one narrow
    * codegen'd assignment pass (centroid literals), then a cell-keyed
    * self-equi-join — work is Σ_c |cell_c|²/2, n²/nCentroids in
    * expectation, and each cell's comparisons land in that cell's shuffle
    * partition. At 100 TB scale nCentroids to ~√n (the paper runs 110k
    * cells on LAION): per-cell work stays bounded and the cluster scales
    * the cells out; skewed cells are the AQE skew-join case. */
  def semanticDedup(emb: DataFrame, nCentroids: Int = 16, threshold: Double = 0.4): DataFrame = {
    val c = prepared(emb)
    val centroids = fitCoarseQuantizer(c, nCentroids, KmeansIters)
    val assigned = c.withColumn("cell", element_at(cellsFor(centroids, col("v"), 1), 1))
    val a = assigned.select(col("cell"), col("id").as("ida"),
      col("v").as("va"), col("nrm").as("na"))
    val b = assigned.select(col("cell"), col("id").as("idb"),
      col("v").as("vb"), col("nrm").as("nb"))
    a.join(b, Seq("cell"))
      .where(col("ida") < col("idb"))
      .withColumn("sim", cosinePrenormed(col("va"), col("vb"), col("na"), col("nb")))
      .where(col("sim") >= threshold)
      .select(col("cell"), col("ida"), col("idb"), round(col("sim"), 4).as("sim"))
  }

  /** Rolling-ingestion [[semanticDedup]]: score an INCOMING batch against an
    * EXISTING corpus through the corpus's cell index — the embedding-side
    * analog of [[graft.operators.DedupOps.incrementalNearDup]]. The
    * quantizer is fitted on the corpus (the index that already exists at
    * ingest time); both sides get cells in one narrow pass each, and the
    * batch joins only the corpus vectors in ITS cells — cost is
    * |batch|·|corpus|/nCentroids in expectation, linear in the batch,
    * never |corpus|². Emits (cell, new_id, old_id, sim ≥ threshold);
    * aggregate per new_id for the keep/drop decision. */
  def incrementalSemanticDedup(existing: DataFrame, incoming: DataFrame,
                               nCentroids: Int = 16, threshold: Double = 0.4): DataFrame = {
    val c = prepared(existing)
    val centroids = fitCoarseQuantizer(c, nCentroids, KmeansIters)
    val corpus = c.withColumn("cell", element_at(cellsFor(centroids, col("v"), 1), 1))
      .select(col("cell"), col("id").as("old_id"), col("v").as("vo"), col("nrm").as("no"))
    val batch = prepared(incoming)
      .withColumn("cell", element_at(cellsFor(centroids, col("v"), 1), 1))
      .select(col("cell"), col("id").as("new_id"), col("v").as("vn"), col("nrm").as("nn"))
    batch.join(corpus, Seq("cell"))
      .withColumn("sim", cosinePrenormed(col("vn"), col("vo"), col("nn"), col("no")))
      .where(col("sim") >= threshold)
      .select(col("cell"), col("new_id"), col("old_id"), round(col("sim"), 4).as("sim"))
  }

  /** Prototype-distance data pruning (Sorscher et al. 2022, "Beyond neural
    * scaling laws"): assign each vector to its nearest coarse-quantizer
    * cell, score prototypicality as the cosine to the cell centroid, and
    * keep only the `keepFrac` hardest (least prototypical) examples per
    * cell — the easy, redundant core of each cluster is what data pruning
    * discards at scale. Shares [[fitCoarseQuantizer]]'s deterministic fit
    * with the IVF/SemDeDup family, so the pruned set is a constant of the
    * corpus.
    *
    * Scale shape: the quantizer is model metadata (bounded fit sample,
    * centroids ride as array literals), assignment + scoring is ONE narrow
    * codegen'd pass — the cosine to the chosen prototype falls out of the
    * same argmin expression, no second dot product, no join. The only
    * shuffle is the per-cell ranking window (partitioned by cell —
    * nCentroids-way parallelism; at production scale nCentroids is sized
    * to the cluster, e.g. √N cells, so no cell outgrows a task). Emits
    * the kept rows: (cell, id, proto_sim, rk) with rk 1 = hardest.
    */
  def protoPrune(emb: DataFrame, keepFrac: Double, nCentroids: Int = 16): DataFrame = {
    require(keepFrac > 0.0 && keepFrac <= 1.0, "keepFrac must be in (0, 1]")
    val c = prepared(emb)
    val centroids = fitCoarseQuantizer(c, nCentroids, KmeansIters)
    // argmin of (−dot/cnorm, cid) — cellsFor's ordering — but keeping the
    // winning negSim so the prototype cosine needs no second pass:
    // cos(v, c) = dot/(cnorm·nrm) = −negSim/nrm
    val centArr = array(centroids.map { case (i, v, nr) =>
      struct(lit(i).as("cid"), array(v.map(lit): _*).as("cv"), lit(nr).as("cnorm"))
    }: _*)
    val best = element_at(array_sort(transform(centArr, cent =>
      struct((lit(-1.0) * call_function("vec_dot", cent.getField("cv"), col("v")) /
        cent.getField("cnorm")).as("negSim"), cent.getField("cid").as("cid")))), 1)
    val assigned = c.select(col("id"), col("nrm"), best.as("bc"))
      .select(col("id"), col("bc").getField("cid").as("cell"),
        (lit(-1.0) * col("bc").getField("negSim") / col("nrm")).as("sim"))
    val byCell = Window.partitionBy("cell")
    assigned
      .withColumn("rk", row_number().over(byCell.orderBy(col("sim").asc, col("id"))))
      .withColumn("n_cell", count(lit(1)).over(byCell))
      .where(col("rk") <= ceil(col("n_cell") * keepFrac))
      .select(col("cell"), col("id").as(VecId),
        round(col("sim"), 4).as("proto_sim"), col("rk").cast("long").as("rk"))
  }
}
