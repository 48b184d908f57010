package graft.operators

import graft.GraftSession.Ckpt

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Iterative graph analytics over edge DataFrames (PageRank-family).
  *
  * Scale design: the classic DataFrame power-iteration shape, arranged so the
  * big relation never moves after setup. The edge list is built with one
  * shuffle (per-group `collect_set` + pair explode), hash-partitioned by
  * `dst` ONCE, normalized via a broadcast of the per-source out-weights, and
  * persisted. Because `hashpartitioning(dst)` satisfies the clustering
  * requirement of every downstream `groupBy` that includes `dst`, each power
  * iteration is then a broadcast join plus an in-place aggregation — zero
  * per-iteration exchanges of the |E|-row relation. Only the node count (a
  * scalar) ever reaches the driver. When the |V|-row rank vector outgrows
  * the broadcast budget, [[pageRank]] flips to the pre-partitioned
  * shuffle-hash iteration (src-partitioned edges reused across iterations;
  * only O(|V|) rows per exchange) — same output, pinned in ScalaTest.
  */
object GraphOps {

  /** Undirected co-occurrence edges: items sharing a group, both directions,
    * weighted by co-occurrence count. (Co-purchase graph when `groupCol` is
    * the order key and `itemCol` the part key.) Pair generation is quadratic
    * in items-per-group — inherent to co-occurrence — so `maxBasket` drops
    * groups above the cap before the pair explode: one pathological
    * million-item group would otherwise emit 10¹² pair rows in a single
    * task. Oversized baskets are catalogue noise for co-occurrence anyway
    * (every pair in them is weak evidence). Default 1000 ⇒ ≤ ~10⁶ pairs per
    * group worst-case, AQE-splittable.
    */
  def coOccurrenceEdges(df: DataFrame, groupCol: String, itemCol: String,
                        maxBasket: Int = 1000): DataFrame =
    df.select(col(groupCol).as("g"), col(itemCol).as("item"))
      .groupBy("g").agg(collect_set(col("item")).as("items"))
      .where(size(col("items")) <= maxBasket)
      .select(explode(col("items")).as("src"), col("items"))
      .select(col("src"), explode(col("items")).as("dst"))
      .where(col("src") =!= col("dst"))
      // partition by dst up front: the weight aggregation below, the
      // per-iteration contribution aggregation, and the cached layout all
      // reuse this single exchange
      .repartition(col("dst"))
      .groupBy("src", "dst").agg(count(lit(1)).as("w"))

  /** Association rules (market-basket) from co-occurrence: for each
    * directed item pair (a → b), support = P(a,b), confidence = P(b|a),
    * lift = P(a,b)/(P(a)·P(b)). The pair table comes from
    * [[coOccurrenceEdges]]; per-item group counts are |V| slim rows,
    * broadcast onto it twice. Counts-to-ratios arithmetic is exact-integer
    * division, so results are bit-stable across engines.
    *
    * `maxBasket` bounds the quadratic pair explode exactly as in
    * [[coOccurrenceEdges]]; dropped baskets leave the probability universe
    * entirely (they count in neither nGroups nor any item/pair count), so
    * support/confidence/lift stay a consistent probability model over the
    * retained baskets.
    */
  def associationRules(df: DataFrame, groupCol: String, itemCol: String,
                       maxBasket: Int = 1000): DataFrame = {
    // one scan + one shuffle: the per-group item sets feed the group count,
    // the per-item counts, AND the pair explode
    val sets = df.select(col(groupCol).as("g"), col(itemCol).as("item"))
      .groupBy("g").agg(collect_set(col("item")).as("items"))
      .where(size(col("items")) <= maxBasket)
      .persist(StorageLevel.MEMORY_AND_DISK)
    // item counts AND the basket count out of ONE shuffle: each basket
    // contributes its items plus a NULL marker row, so the per-item
    // aggregation's null group IS the basket count — no separate 1-row
    // aggregate pass over `sets` (r10 measured the separate-scalar form
    // at 14 jobs: the extra agg + its AQE stage; this folds the scalar
    // into the existing exchange, and the count() never blocks the
    // driver either — job-count discipline, ARCHITECTURE "Driver-box
    // bench divergence")
    val itemType = sets.schema("items").dataType
      .asInstanceOf[org.apache.spark.sql.types.ArrayType].elementType
    val marker = array(lit(null).cast(itemType))
    // materialized once (executor-local checkpoint): its three consumers
    // filter on the grouping key, and those predicates push BELOW the
    // aggregation's exchange — three divergent copies of the same shuffle
    // without the barrier (measured; the filters are cheap, the repeated
    // explode+shuffle is not). The relation is item-vocabulary-sized.
    val counted = sets
      .select(explode(concat(col("items"), marker)).as("item"))
      .groupBy(col("item")).agg(count(lit(1)).as("cnt"))
      .ckpt(false) // lazy: first broadcast build materializes it, rest reuse
    val itemCnt = counted.where(col("item").isNotNull)
    val nGroups = counted.where(col("item").isNull).select(col("cnt").as("n_groups"))
    val edges = sets
      .select(explode(col("items")).as("src"), col("items"))
      .select(col("src"), explode(col("items")).as("dst"))
      .where(col("src") =!= col("dst"))
      .groupBy("src", "dst").agg(count(lit(1)).as("w"))
    // the 1-row basket count rides INSIDE the src-side broadcast build
    // (itemCnt × 1 row) instead of as a third broadcast against the edge
    // stream: one fewer AQE broadcast stage on the big side
    val srcStats = itemCnt.crossJoin(nGroups)
      .select(col("item").as("src"), col("cnt").as("src_cnt"), col("n_groups"))
    edges
      .join(broadcast(srcStats), Seq("src"))
      .join(broadcast(itemCnt.select(col("item").as("dst"), col("cnt").as("dst_cnt"))), Seq("dst"))
      .select(col("src"), col("dst"),
        col("w").as("pair_cnt"),
        round(col("w") / col("n_groups").cast("double"), 6).as("support"),
        round(col("w") / col("src_cnt"), 6).as("confidence"),
        round((col("w") * col("n_groups")) / (col("src_cnt") * col("dst_cnt")), 6).as("lift"))
  }

  /** Per-node triangle counts over an undirected edge DataFrame (src, dst
    * both directions or either) — the clustering-coefficient / community-
    * cohesion primitive.
    *
    * Scale design: the degree-ordered orientation of the compact-forward
    * algorithm (Latapy 2008; the same orientation MGT/Cohen's MapReduce
    * triangle counting uses). Naively joining wedges at every vertex
    * explodes on hot vertices — a degree-d hub yields d² wedge rows, and
    * power-law graphs have hubs with d ~ √m or worse. Orienting every edge
    * from its (degree, id)-smaller endpoint to the larger makes each
    * triangle countable exactly once at its smallest vertex, and bounds
    * every out-degree by O(√m): total wedge volume is Σ outdeg² = O(m^1.5)
    * REGARDLESS of hub structure. All three steps are shuffled equi-joins
    * on node keys — hash-distributed, AQE-splittable, no driver state. */
  def triangleCounts(edges: DataFrame): DataFrame =
    triangleCountsFromUnd(canonicalUndirected(edges))

  /** Bounded-cost [[triangleCounts]]: exact triangle counts over the
    * subgraph INDUCED by nodes of backbone degree ≤ `maxDegree` — hub
    * exclusion as the cost bound (the [[linkPrediction]] `maxDegree`
    * precedent). Rationale: a degree-D hub contributes O(D²) of the wedge
    * volume while carrying the WEAKEST cohesion signal (everything
    * co-occurs with a bestseller), and the w≥2 co-occurrence backbone
    * densifies super-linearly with fact volume — at 100× facts the exact
    * variant's m^1.5 legitimately grows past budget, whereas the induced
    * subgraph's wedge volume is bounded by m·maxDegree. Semantics are
    * EXACT on the capped subgraph (counts/degrees are of that subgraph),
    * not an estimator of the uncapped quantity — callers wanting hub
    * triangles run the exact variant on the hub neighbourhood. */
  def triangleCountsCapped(edges: DataFrame, maxDegree: Int): DataFrame = {
    require(maxDegree >= 2, s"maxDegree must be >= 2, got $maxDegree")
    triangleCountsFromUnd(cappedUndirected(canonicalUndirected(edges), maxDegree))
  }

  /** DOULION global-triangle ESTIMATOR (Tsourakakis/Kang/Koutra/Faloutsos,
    * KDD 2009): sparsify the canonical edge set with a deterministic
    * dyadic coin — keep an edge iff its 32-bit md5 uniform is below
    * 2^(32−shift), i.e. p = 2^−shift — count triangles EXACTLY on the
    * sample (same degree-ordered closure as [[triangleCounts]]), and
    * scale by p^−3 = 2^(3·shift). E[estimate] = the true global count
    * (each triangle survives with probability p³ independently of the
    * others' expectations); the dyadic p keeps the estimator an exact
    * integer, and the hash coin makes the "randomness" reproducible on
    * any engine (the PoissonThresholds discipline).
    *
    * ESTIMATOR SEMANTICS — read before reaching for it: the output is an
    * unbiased estimate of the GLOBAL triangle count with relative variance
    * that shrinks as triangle count grows (the DOULION paper's
    * concentration regime is exactly the massive-graph case this option
    * exists for); on triangle-poor graphs the estimate is coarse
    * (sf0.1's single backbone triangle estimates as 0 or 8). Per-node
    * readouts want [[triangleCounts]] (exact) or [[triangleCountsCapped]]
    * (exact on the capped subgraph) — a per-node sampled count is
    * high-variance noise. Cost: the closure runs on p·m edges, so wedge
    * volume drops by ~p^1.5 at the same graph; at growing data the caller
    * raises `shift` to hold cost flat, trading variance for budget.
    * Returns ONE row: (n_sampled_tri, n_tri_est). */
  def triangleCountGlobalSampled(edges: DataFrame, shift: Int = 1): DataFrame = {
    require(shift >= 1 && shift <= 10, s"shift must be in [1, 10], got $shift")
    val und = canonicalUndirected(edges)
    val u = call_function("md5_u32", concat_ws(":", col("a"), col("b")))
    val sampled = und.where(u < lit(1L << (32 - shift)))
    // sum of per-node credits = 3 · sampled triangles (each triangle
    // credits its three members once)
    triangleCountsFromUnd(sampled)
      .agg(coalesce(sum(col("n_tri")), lit(0L)).as("credits"))
      .select(
        (col("credits") / 3).cast("long").as("n_sampled_tri"),
        ((col("credits") / 3).cast("long") * (1L << (3 * shift))).as("n_tri_est"))
  }

  /** The induced subgraph of `und` on nodes of degree ≤ `maxDegree`:
    * degree table over the canonical edge set, then a two-sided semi-join
    * keeping edges whose BOTH endpoints survive. Materialized for the same
    * reason as [[canonicalUndirected]] — it feeds the degree table twice
    * plus the orientation join downstream. */
  private def cappedUndirected(und: DataFrame, maxDegree: Int): DataFrame = {
    val keep = und.select(col("a").as("n")).unionAll(und.select(col("b").as("n")))
      .groupBy("n").agg(count(lit(1)).as("d"))
      .where(col("d") <= maxDegree)
      .select(col("n"))
    und
      .join(keep.select(col("n").as("a")), Seq("a"), "left_semi")
      .join(keep.select(col("n").as("b")), Seq("b"), "left_semi")
      .select(col("a"), col("b"))
      // EAGER on purpose (measured r15): downstream AQE stages that read
      // this relation run concurrently, and a lazy checkpoint lets them
      // race to compute the whole semi-join chain in parallel — duplicated
      // work that cost q_clustering_capped +22% when this was ckpt(false)
      .ckpt(true)
  }

  /** Canonical undirected edge set (one row per unordered pair), materialized
    * with an executor-local checkpoint (the connectedComponents pattern; swap
    * for reliable `checkpoint` on a cluster): it feeds the degree table TWICE
    * (unionAll) and the orientation join, and without the barrier each
    * reference re-derives the whole upstream edge construction — measured 15
    * upstream scans for one triangle query. The edge list is orders of
    * magnitude smaller than the data that produced it (thresholded
    * co-occurrence backbone). */
  private def canonicalUndirected(edges: DataFrame): DataFrame =
    edges
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .where(col("a") =!= col("b"))
      .distinct()
      // LAZY checkpoint (was eager): same lineage truncation and same
      // compute-once blocks (the RDD is persisted on first materialization,
      // within whichever downstream job touches it first), but the barrier
      // no longer costs its own job — the triangle/clustering queries run
      // 2-3 eager-checkpoint jobs fewer per call, which at bench scale is
      // pure scheduling latency removed (r15 job-count audit).
      .ckpt(false)

  /** Triangle counting over an ALREADY-canonical, already-materialized
    * undirected edge set — the shared entry for [[triangleCounts]] and
    * [[clusteringCoefficient]], so callers that also need degrees build the
    * expensive upstream backbone exactly once. */
  private def triangleCountsFromUnd(und: DataFrame): DataFrame = {
    val deg = und.select(col("a").as("n")).unionAll(und.select(col("b").as("n")))
      .groupBy("n").agg(count(lit(1)).as("d"))
    // orient a→b iff (deg(a), a) < (deg(b), b): a total order, so exactly
    // one direction survives per edge and out-degrees are O(√m)-bounded
    val withDeg = und
      .join(deg.select(col("n").as("a"), col("d").as("da")), Seq("a"))
      .join(deg.select(col("n").as("b"), col("d").as("db")), Seq("b"))
    val aFirst = col("da") < col("db") || (col("da") === col("db") && col("a") < col("b"))
    // same m rows as `und`, consumed by the closure once directly and twice
    // through the adjacency aggregation — materialize instead of re-running
    // the two degree joins per consumer
    val oriented = withDeg.select(
      when(aFirst, col("a")).otherwise(col("b")).as("u"),
      when(aFirst, col("b")).otherwise(col("a")).as("v"))
      .ckpt(false) // lazy: all three consumers live in the final job
    // edge-iterator closure: the triangle u≺v≺w is edge u→v with
    // w ∈ N⁺(u) ∩ N⁺(v), so attach both endpoints' out-neighbour sets to
    // every oriented edge and intersect in codegen — the O(m^1.5)
    // intersection work happens inside array expressions, never as
    // materialised rows (a wedge self-join would shuffle Σ outdeg² rows;
    // this shuffles m edge rows carrying O(√m)-bounded arrays)
    val adj = oriented.groupBy(col("u"))
      .agg(sort_array(collect_list(col("v"))).as("ns"))
    val closed = oriented.select(col("u"), col("v"))
      .join(adj, Seq("u"))
      .join(adj.select(col("u").as("v"), col("ns").as("vs")), Seq("v"))
      .withColumn("ws", array_intersect(col("ns"), col("vs")))
      .where(size(col("ws")) > 0)
    // each triangle credits all three members: u and v get the
    // intersection size, every w in it gets 1
    closed
      .select(explode(concat(
        array(
          struct(col("u").as("node"), size(col("ws")).cast("long").as("c")),
          struct(col("v").as("node"), size(col("ws")).cast("long").as("c"))),
        transform(col("ws"), w => struct(w.as("node"), lit(1L).as("c"))))).as("e"))
      .groupBy(col("e.node").as("node")).agg(sum(col("e.c")).as("n_tri"))
  }

  /** Per-node local clustering coefficient 2·tri(v)/(d(v)·(d(v)−1)) —
    * Watts–Strogatz 1998: how close each node's neighbourhood is to a
    * clique. THE community-cohesion readout over [[triangleCounts]]'
    * raw counts (spam farms score near 1, crawl hubs near 0). Emits
    * every node of degree ≥ 2 (triangle-free ones at coefficient 0).
    *
    * Determinism: triangle and degree counts are exact integers; the
    * coefficient is one division. Scale shape: [[triangleCounts]]'
    * O(m^1.5) bound + one degree aggregation + a node-keyed left join. */
  def clusteringCoefficient(edges: DataFrame): DataFrame =
    // ONE canonical backbone shared between the degree table and the
    // triangle count — the r11 form called triangleCounts(edges), which
    // re-derived (and re-checkpointed) its own copy of `und`, running the
    // expensive upstream (collect_set + quadratic pair explode + shuffle)
    // twice for the suite's slowest query.
    clusteringFromUnd(canonicalUndirected(edges))

  /** Bounded-cost [[clusteringCoefficient]]: coefficients over the
    * degree-capped induced subgraph, with [[triangleCountsCapped]]'s
    * semantics — degrees, triangle counts and the 2·tri/(d·(d−1)) division
    * are all those OF the capped subgraph (internally consistent: the
    * coefficient stays in [0, 1] by construction, which mixing capped
    * triangles with uncapped degrees would break). */
  def clusteringCoefficientCapped(edges: DataFrame, maxDegree: Int): DataFrame = {
    require(maxDegree >= 2, s"maxDegree must be >= 2, got $maxDegree")
    clusteringFromUnd(cappedUndirected(canonicalUndirected(edges), maxDegree))
  }

  private def clusteringFromUnd(und: DataFrame): DataFrame = {
    val deg = und.select(col("a").as("node")).unionAll(und.select(col("b").as("node")))
      .groupBy("node").agg(count(lit(1)).as("degree"))
    deg.where(col("degree") >= 2)
      .join(triangleCountsFromUnd(und), Seq("node"), "left")
      .select(col("node"), col("degree"),
        coalesce(col("n_tri"), lit(0L)).as("n_tri"),
        round(lit(2.0) * coalesce(col("n_tri"), lit(0L)) /
          (col("degree") * (col("degree") - 1)).cast("double"), 6).as("coeff"))
  }

  /** Common-neighbor link prediction over an undirected edge DataFrame:
    * for every NON-adjacent node pair sharing ≥ `minCommon` neighbours,
    * emits the four classic topological scores — common-neighbour count,
    * Jaccard overlap cn/(d(x)+d(y)−cn), Adamic–Adar Σ 1/ln d(v) and
    * resource allocation Σ 1/d(v) over the shared neighbours v
    * (Liben-Nowell & Kleinberg 2003; Zhou/Lü/Zhang 2009 for RA). The
    * missing-edge recommender for co-purchase ("users who bought these
    * also…") and the ghost-link probe for dedup graphs.
    *
    * Determinism: cn and the Jaccard denominator are exact integers
    * (single division); AA/RA sum per-center doubles whose addition order
    * is partition-dependent in the last ulps — reported at 6 dp like the
    * chi-square/MI tier.
    *
    * Scale shape: wedge pairs are generated per CENTER from its collected
    * neighbour set, so the volume is Σ min(d, maxDegree)² — `maxDegree`
    * caps the quadratic hub blow-up exactly as [[coOccurrenceEdges]]'
    * maxBasket does (a degree-10⁶ hub would otherwise emit 10¹² wedges;
    * hub centers are weak evidence for every pair through them). All
    * joins are node-key equi-joins, hash-distributed and AQE-splittable;
    * the adjacency anti-join removes already-linked pairs. */
  def linkPrediction(edges: DataFrame, minCommon: Long = 2,
                     maxDegree: Int = 1000): DataFrame = {
    require(minCommon >= 1, s"minCommon must be >= 1, got $minCommon")
    require(maxDegree >= 2, s"maxDegree must be >= 2, got $maxDegree")
    val und = edges
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .where(col("a") =!= col("b"))
      .distinct()
      // lazy: feeds adjacency and the anti-join, both inside the final job
      .ckpt(false)
    val adj = und.select(col("a").as("n"), col("b").as("nb"))
      .unionAll(und.select(col("b").as("n"), col("a").as("nb")))
      .groupBy("n").agg(sort_array(collect_set(col("nb"))).as("ns"))
      .withColumn("d", size(col("ns")).cast("long"))
    // per-center wedge explode: each kept center v of degree d contributes
    // its C(d,2) neighbour pairs, carrying 1/ln d and 1/d for the sums
    val wedges = adj
      .where(col("d") <= maxDegree)
      .select(col("d"), explode(col("ns")).as("x"), col("ns"))
      .select(col("d"), col("x"), explode(col("ns")).as("y"))
      .where(col("x") < col("y"))
    val deg = adj.select(col("n"), col("d"))
    val scored = wedges
      .groupBy("x", "y")
      .agg(
        count(lit(1)).as("cn"),
        sum(lit(1.0) / log(col("d"))).as("aa_raw"),
        sum(lit(1.0) / col("d")).as("ra_raw"))
      .where(col("cn") >= minCommon)
      // drop pairs that are already edges — link PREDICTION, not overlap
      .join(und, col("x") === col("a") && col("y") === col("b"), "left_anti")
    scored
      .join(deg.select(col("n").as("x"), col("d").as("dx")), Seq("x"))
      .join(deg.select(col("n").as("y"), col("d").as("dy")), Seq("y"))
      .select(col("x"), col("y"), col("cn"),
        round(col("cn") / (col("dx") + col("dy") - col("cn")).cast("double"), 6)
          .as("jaccard"),
        round(col("aa_raw"), 6).as("adamic_adar"),
        round(col("ra_raw"), 6).as("resource_alloc"))
  }

  /** k-core decomposition by synchronous iterative peeling (Matula–Beck
    * 1983 degeneracy peel, batch-synchronous form): drop every node whose
    * degree in the CURRENT subgraph is < k, recompute degrees over the
    * survivors, repeat to fixpoint. The survivors are exactly the k-core
    * — the maximal subgraph where every member keeps ≥ k neighbours — the
    * community-backbone / spam-farm filter a graph tier runs before
    * centrality. Returns (node, deg) with `deg` the node's degree WITHIN
    * the core.
    *
    * The edge list is symmetrized internally (union of both directions,
    * then distinct) like the sibling operators [[clusteringCoefficient]] and
    * [[linkPrediction]], so callers may pass either a both-directions
    * relation (the [[coOccurrenceEdges]] contract — the union is then a
    * distinct no-op) or a canonical one-direction list; per-src row counts
    * are degrees either way. The extra union is negligible next to the
    * iterative peel.
    *
    * Scale shape: each round is one key aggregation over the surviving
    * edge relation plus two semi-joins on node keys — hash-distributed,
    * AQE-splittable, no driver state beyond the 1-row survivor-count
    * probe. Rounds = peel depth of the graph, not data size. The rounds
    * run on [[Fixpoint]], each round one peel of the surviving edge
    * relation, probed by its edge count: the edge set only ever shrinks,
    * so equal counts ⇒ equal sets, and an unchanged set is the k-core.
    * `maxRounds` caps the peels (the first included); a graph not peeled
    * to its core within the cap fails rather than return a partial core. */
  def kCore(edges: DataFrame, k: Int, maxRounds: Int = 50): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    // symmetrize via canonical-form distinct + narrow 2× generator: the
    // distinct carries m CANONICAL rows (half what a union-then-distinct
    // would), and the mirror direction is re-emitted by a shuffle-free
    // explode — one upstream pass, one exchange, no double-build (a lazy
    // unionAll here would re-run the upstream through both branches, the
    // exact defect clusteringCoefficient had pre-r12)
    val symmetric = edges
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .where(col("a") =!= col("b"))
      .distinct()
      .select(explode(array(
        struct(col("a").as("src"), col("b").as("dst")),
        struct(col("b").as("src"), col("a").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
    // one peel: keep the edges whose BOTH endpoints have degree ≥ k. Both
    // semi-joins probe the SAME `keep` plan, so its exchange (a broadcast at
    // small scale) is built once and reused — a per-side projection of it
    // would plan two different exchanges, one more job per round.
    def peel(e: DataFrame): DataFrame = {
      val keep = e.groupBy(col("src").as("node")).agg(count(lit(1)).as("deg"))
        .where(col("deg") >= k)
        .select(col("node"))
      e.join(keep, col("src") === col("node"), "left_semi")
        .join(keep, col("dst") === col("node"), "left_semi")
    }
    // probe: an RDD count is one job; Dataset.count adds a SinglePartition
    // exchange, which AQE runs as a second job every round
    val rounds = Fixpoint.iterate(peel(symmetric), maxRounds - 1)(_.rdd.count())((e, _) => peel(e))
    // an empty edge set is the (empty) core even when the cap cut the
    // confirming round
    require(rounds.converged || rounds.probes.last == 0L,
      s"kCore did not converge within $maxRounds rounds — raise maxRounds")
    rounds.frame.groupBy(col("src")).agg(count(lit(1)).as("deg"))
      .select(col("src").as("node"), col("deg"))
  }

  /** PageRank's damping factor d. */
  private val Damping = 0.85

  /** Weighted PageRank by fixed-iteration power iteration.
    *
    * rank₀ = 1/N; rankₖ₊₁(v) = (1-d)/N + d·Σ_{(u,v)∈E} rankₖ(u)·w(u,v)/outw(u).
    * The co-occurrence graph is symmetric, so every node has out-edges and
    * no dangling-mass term is needed. Returns (node, rank_ratio) where
    * rank_ratio = rank·N (mean 1.0), rounded to 6 dp for stable comparison.
    */
  def pageRank(edges: DataFrame, iterations: Int): DataFrame = {
    val (e, nodes, n) = prepRank(edges)
    // crossover on the RANK VECTOR, not the edges: the per-iteration join
    // broadcasts one (node, rank) row per vertex, so the broadcast form is
    // valid exactly while that vector fits the broadcast budget. Estimated
    // at ~32 B/row (long + double + row overhead) against the session's
    // autoBroadcastJoinThreshold — past it, flip to the pre-partitioned
    // shuffle iteration (identical output, pinned in ScalaTest).
    iterate(e, nodes, n, iterations, broadcastRanks = ScaleOps.fitsBroadcast(n * 32L))
  }

  /** Normalized edge fractions + node table + node count — shared setup of
    * both iteration strategies. `e` keeps the upstream dst-partitioning. */
  private def prepRank(edges: DataFrame): (DataFrame, DataFrame, Long) = {
    // out_w is one row per node — broadcast it so normalization is a
    // map-side join that preserves the edges' dst-partitioning
    val outW = broadcast(edges.groupBy(col("src")).agg(sum(col("w")).as("out_w")))
    val e = edges.join(outW, "src")
      .select(col("src"), col("dst"),
        (col("w").cast("double") / col("out_w")).as("frac"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val nodes = e.select(col("src").as("node")).distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    (e, nodes, nodes.count()) // one scalar to the driver, by design
  }

  private def finishRank(ranks: DataFrame, n: Long): DataFrame =
    ranks.select(col("node"), round(col("rank") * n, 6).as("rank_ratio"))

  /** rank_k(v) from the iteration-k contribution column: every rank update
    * is (1-d)/N + d·Σcontrib, with Σcontrib = 0 (NULL) for zero-in-degree
    * nodes — shared by both iteration strategies so the rank arithmetic is
    * bitwise one expression. */
  private def rankOf(c: Column, n: Long): Column =
    lit((1 - Damping) / n) + lit(Damping) * coalesce(c, lit(0.0))

  /** The power iteration, in one of two layouts that differ only in where
    * the edges sit and how the |V|-row vector meets them:
    *
    *  - '''broadcast''' (small |V|): the vector broadcasts and the edge
    *    relation never moves after setup — zero per-iteration exchanges of
    *    |E| rows.
    *  - '''partitioned''' (the vector outgrows broadcast): the edges pay
    *    ONE extra exchange at setup (repartition by src, persisted) and then
    *    never move; per iteration only the |V|-row vector shuffles to the
    *    edges' partitioning, the contribution aggregation partial-aggregates
    *    map-side before exchanging |V|-sized partials, and every exchange is
    *    O(|V|), none O(|E|). The shuffle_hash hint keeps the planner from
    *    sorting the persisted edges per iteration (SMJ) or re-broadcasting a
    *    vector the crossover said doesn't fit.
    *
    * The rank vector is carried IMPLICITLY as the previous iteration's
    * contribution table: rank_k(src) = (1-d)/N + d·coalesce(c_k(src), 0),
    * computed inline on the contribution side of the next scoring join —
    * algebraically (and bitwise: same doubles, same op order, left join
    * emits e's rows in e's order exactly like the former inner join on the
    * all-srcs ranks frame) the former explicit ranks frame, minus the
    * per-iteration nodes-join and its build: ONE vector exchange per
    * iteration instead of two, iteration 1 inlines rank₀ = 1/N as a
    * literal (no exchange at all), and `nodes` is joined exactly once at
    * the end to emit zero-in-degree nodes. */
  private def iterate(e: DataFrame, nodes: DataFrame, n: Long, iterations: Int,
                      broadcastRanks: Boolean): DataFrame = {
    if (iterations < 1)
      return finishRank(nodes.withColumn("rank", lit(1.0 / n)), n)
    val (edges, vector) =
      if (broadcastRanks) (e, broadcast(_: DataFrame))
      else (e.repartition(col("src")).persist(StorageLevel.MEMORY_AND_DISK),
        (v: DataFrame) => v.hint("shuffle_hash"))
    var contrib = edges.groupBy(col("dst"))
      .agg(sum(col("frac") * lit(1.0 / n)).as("c"))
    for (_ <- 2 to iterations) {
      contrib = edges.join(vector(contrib.select(col("dst").as("__cs"), col("c"))),
          col("src") === col("__cs"), "left")
        .groupBy(col("dst"))
        .agg(sum(col("frac") * rankOf(col("c"), n)).as("c"))
    }
    val ranks = nodes.join(vector(contrib), col("node") === col("dst"), "left")
      .select(col("node"), rankOf(col("c"), n).as("rank"))
    finishRank(ranks, n)
  }

  /** Test/measurement entries pinning the two strategies independently of
    * the [[pageRank]] crossover. */
  private[operators] def pageRankBroadcast(edges: DataFrame, iterations: Int): DataFrame = {
    val (e, nodes, n) = prepRank(edges)
    iterate(e, nodes, n, iterations, broadcastRanks = true)
  }

  private[operators] def pageRankPartitioned(edges: DataFrame, iterations: Int): DataFrame = {
    val (e, nodes, n) = prepRank(edges)
    iterate(e, nodes, n, iterations, broadcastRanks = false)
  }
}
