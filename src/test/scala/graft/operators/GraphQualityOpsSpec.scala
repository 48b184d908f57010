package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Unit semantics of the graph / quality / fuzzy operators; the
  * cross-engine values are pinned by the q_* oracles in AnalyticsQueries.
  */
class GraphQualityOpsSpec extends SparkSpec {
  import spark.implicits._

  test("coOccurrenceEdges emits both directions with multiplicity weights") {
    // orders: (o1: p1,p2), (o2: p1,p2), (o3: p1,p3) → w(p1,p2)=2 both ways
    val li = Seq((1L, 10L), (1L, 20L), (2L, 10L), (2L, 20L), (3L, 10L), (3L, 30L))
      .toDF("l_orderkey", "l_partkey")
    val e = GraphOps.coOccurrenceEdges(li, "l_orderkey", "l_partkey")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(e((10L, 20L)) == 2L && e((20L, 10L)) == 2L)
    assert(e((10L, 30L)) == 1L && e((30L, 10L)) == 1L)
    assert(!e.contains((20L, 30L))) // never co-purchased
  }

  test("maxBasket drops oversized baskets from both the pair explode and the probability universe") {
    // one normal basket (2 items) + one oversized basket (5 items)
    val li = (Seq((1L, 10L), (1L, 20L)) ++ (0 until 5).map(i => (2L, 100L + i)))
      .toDF("o", "p")
    val e = GraphOps.coOccurrenceEdges(li, "o", "p", maxBasket = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(e == Set((10L, 20L), (20L, 10L)), s"oversized basket leaked pairs: $e")
    val rules = GraphOps.associationRules(li, "o", "p", maxBasket = 3).collect()
    // the dropped basket leaves the universe: nGroups=1 → support of (10,20)=1.0
    val r = rules.map(x => (x.getLong(1), x.getLong(0)) -> x.getDouble(3)).toMap
    assert(rules.length == 2 && r.values.forall(_ == 1.0), rules.mkString(","))
  }

  test("associationRules: always-together pair has confidence 1 and lift n/cnt") {
    // 4 baskets: items 10,20 always together (2 baskets); 30 alone in 2
    val li = Seq((1L, 10L), (1L, 20L), (2L, 10L), (2L, 20L), (3L, 30L), (4L, 30L))
      .toDF("o", "p")
    val r = GraphOps.associationRules(li, "o", "p")
      .collect().map(x => (x.getLong(0), x.getLong(1)) ->
        (x.getLong(2), x.getDouble(3), x.getDouble(4), x.getDouble(5))).toMap
    // pair_cnt=2, support=2/4, conf=2/2, lift=2*4/(2*2)=2
    assert(r((10L, 20L)) == (2L, 0.5, 1.0, 2.0))
    assert(r((20L, 10L)) == (2L, 0.5, 1.0, 2.0))
    assert(!r.keySet.exists { case (a, b) => a == 30L || b == 30L })
  }

  test("kCore peels pendants transitively and reports within-core degrees") {
    // triangle {1,2,3} + chain 1-4-5: the 2-core is exactly the triangle,
    // reached only after TWO peel rounds (5 falls first, then 4 — a
    // one-shot degree filter would wrongly keep 4, whose raw degree is 2)
    val und = Seq((1L, 2L), (2L, 3L), (1L, 3L), (1L, 4L), (4L, 5L))
    val edges = (und ++ und.map(_.swap)).toDF("src", "dst")
    val core = GraphOps.kCore(edges, k = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(core == Map(1L -> 2L, 2L -> 2L, 3L -> 2L),
      s"2-core should be the bare triangle with in-core degree 2: $core")
  }

  test("kCore symmetrizes internally: canonical one-direction edges give the same core") {
    // same triangle+chain graph as above, but passed ONE direction per edge
    // (the canonical a<b list) — pre-r12 this silently halved degrees
    val und = Seq((1L, 2L), (2L, 3L), (1L, 3L), (1L, 4L), (4L, 5L))
    val core = GraphOps.kCore(und.toDF("src", "dst"), k = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(core == Map(1L -> 2L, 2L -> 2L, 3L -> 2L),
      s"one-direction input must yield the identical 2-core: $core")
  }

  test("kCore on a tree is empty at k=2; k=1 keeps every non-isolated node") {
    val und = Seq((1L, 2L), (2L, 3L), (3L, 4L)) // path graph
    val edges = (und ++ und.map(_.swap)).toDF("src", "dst")
    assert(GraphOps.kCore(edges, k = 2).count() == 0L)
    val k1 = GraphOps.kCore(edges, k = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(k1 == Map(1L -> 1L, 2L -> 2L, 3L -> 2L, 4L -> 1L))
  }

  /** q_graph_reach over a hand-built `lineitem.parquet`: (node, hops) rows
    * in output order, a NULL node as None. */
  private def graphReach(lineitem: Seq[(Long, Long)]): Seq[(Option[Long], Long)] = {
    val dir = java.nio.file.Files.createTempDirectory("graph-reach").toString
    try {
      lineitem.toDF("l_orderkey", "l_partkey").coalesce(1)
        .write.parquet(s"$dir/lineitem.parquet")
      graft.SparkEntry.queries("q_graph_reach")(spark, dir).collect().toSeq
        .map(r => (if (r.isNullAt(0)) None else Some(r.getLong(0)), r.getLong(1)))
    } finally {
      graft.GraftSession.releaseMaterialized(spark)
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("q_graph_reach: min hops ≤ 3 from the smallest backbone node, w ≥ 2 edges only") {
    // Every order holds exactly one part pair, so w(a, b) is the number of
    // orders listing {a, b}; `edge` lists a pair twice (w = 2).
    var order = 0L
    def pair(a: Long, b: Long): Seq[(Long, Long)] = { order += 1; Seq((order, a), (order, b)) }
    def edge(a: Long, b: Long): Seq[(Long, Long)] = pair(a, b) ++ pair(a, b)
    val lineitem =
      edge(1, 2) ++ edge(2, 3) ++ edge(3, 1) ++ // cycle through the seed
      edge(1, 4) ++ edge(2, 5) ++ edge(5, 4) ++ // 4 at depth 1, again at 3 via 1-2-5-4
      edge(1, 6) ++ edge(6, 7) ++ edge(7, 8) ++ edge(8, 9) ++ // 9 only at depth 4
      pair(0, 1) // w = 1: no edge, so 0 is neither the seed nor reached
    assert(graphReach(lineitem) == Seq(
      Some(1L) -> 0L, Some(2L) -> 1L, Some(3L) -> 1L, Some(4L) -> 1L,
      Some(5L) -> 2L, Some(6L) -> 1L, Some(7L) -> 2L, Some(8L) -> 3L))
    // no w ≥ 2 pair: the seed is min over no edges, one (NULL, 0) row
    assert(graphReach(Seq((1L, 10L), (1L, 20L), (2L, 20L), (2L, 30L), (3L, 40L))) ==
      Seq(None -> 0L))
  }

  test("linkPrediction scores non-adjacent pairs and excludes existing edges") {
    // square 1-2-3-4-1: diagonals (1,3) and (2,4) share two degree-2
    // neighbours → cn 2, jaccard 2/(2+2−2)=1, aa 2/ln2, ra 1; the four
    // edges themselves must NOT appear
    val und = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L))
    val edges = (und ++ und.map(_.swap)).toDF("src", "dst")
    val out = GraphOps.linkPrediction(edges, minCommon = 1)
      .orderBy("x", "y").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5)))
    val aa2 = BigDecimal(2.0 / math.log(2.0))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out.toSeq == Seq(
      (1L, 3L, 2L, 1.0, aa2, 1.0),
      (2L, 4L, 2L, 1.0, aa2, 1.0)))
  }

  test("linkPrediction maxDegree drops hub centers but keeps full endpoint degrees") {
    // star center 10 connects leaves 1..4 (plus edge 1-2): every candidate
    // pair is a wedge through the degree-4 hub, so maxDegree=3 empties the
    // output; uncapped, the leaf pairs appear with FULL endpoint degrees
    val und = Seq((10L, 1L), (10L, 2L), (10L, 3L), (10L, 4L), (1L, 2L))
    val edges = (und ++ und.map(_.swap)).toDF("src", "dst")
    assert(GraphOps.linkPrediction(edges, minCommon = 1, maxDegree = 3).count() == 0L)
    val out = GraphOps.linkPrediction(edges, minCommon = 1)
      .orderBy("x", "y").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    // (1,2) is an edge → excluded; (1,3): d(1)=2 (neighbours 2,10), d(3)=1
    // → jaccard 1/(2+1−1)=0.5; (3,4): two degree-1 leaves → 1/(1+1−1)=1
    assert(out.toSeq == Seq(
      (1L, 3L, 1L, 0.5), (1L, 4L, 1L, 0.5),
      (2L, 3L, 1L, 0.5), (2L, 4L, 1L, 0.5),
      (3L, 4L, 1L, 1.0)))
  }

  test("clusteringCoefficient: closed forms incl. triangle-free nodes at 0") {
    // triangle {1,2,3} with pendant 4 on node 1: node 1 has d 3, 1
    // triangle → 2/(3·2) = 1/3; nodes 2,3 are fully clustered (1.0);
    // pendant 4 (d 1) is excluded; path-center 5 between 4... keep simple:
    // add edge 4-5 so node 4 has d 2 and NO triangle → coefficient 0
    val und = Seq((1L, 2L), (2L, 3L), (1L, 3L), (1L, 4L), (4L, 5L))
    val edges = (und ++ und.map(_.swap)).toDF("src", "dst")
    val out = GraphOps.clusteringCoefficient(edges)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(out(1L) == ((3L, 1L, 0.333333)))
    assert(out(2L) == ((2L, 1L, 1.0)) && out(3L) == ((2L, 1L, 1.0)))
    assert(out(4L) == ((2L, 0L, 0.0)), s"triangle-free degree-2 node: ${out.get(4L)}")
    assert(!out.contains(5L), "degree-1 node has no defined coefficient")
  }

  test("capped backbone: hub exclusion removes hub triangles, leaves the rest exact") {
    // triangle {1,2,3}; hub 10 connected to everything (degree 5) forms
    // triangles (10,1,2),(10,2,3),(10,1,3). cap=4 drops the hub: only the
    // base triangle survives, with subgraph degrees (node 1: d=2, was 3)
    val und = Seq((1L, 2L), (2L, 3L), (1L, 3L),
      (10L, 1L), (10L, 2L), (10L, 3L), (10L, 4L), (10L, 5L))
    val edges = (und ++ und.map(_.swap)).toDF("src", "dst")
    // uncapped: node 1 touches triangles {1,2,3},{10,1,2},{10,1,3} → 3
    val exact = GraphOps.triangleCounts(edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(exact(10L) == 3L && exact(1L) == 3L, s"exact counts: $exact")
    val capped = GraphOps.triangleCountsCapped(edges, maxDegree = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(capped == Map(1L -> 1L, 2L -> 1L, 3L -> 1L),
      s"capped must count only the hub-free triangle: $capped")
    // a cap above every degree reproduces the exact variant bit for bit
    val wide = GraphOps.triangleCountsCapped(edges, maxDegree = 1000)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(wide == exact, s"non-biting cap must equal exact: $wide vs $exact")
    // capped coefficients are of the INDUCED subgraph: node 1 there has
    // d=2 and its 1 triangle → coeff 1.0 (uncapped it is 2·3/(3·2)=1.0
    // too, but node 4: uncapped d=1 excluded; capped d=0 — absent)
    val cc = GraphOps.clusteringCoefficientCapped(edges, maxDegree = 4)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(3))).toMap
    assert(cc == Map(1L -> ((2L, 1.0)), 2L -> ((2L, 1.0)), 3L -> ((2L, 1.0))),
      s"capped coefficients live on the induced subgraph: $cc")
  }

  test("DOULION estimator: exact-integer x8 scale, deterministic coin, empty-sample safe") {
    // K5: C(5,3) = 10 triangles; the md5 coin keeps a deterministic edge
    // subset, so the sampled count is a fixed integer and the estimate is
    // exactly 8x it
    val und = for (a <- 1L to 5L; b <- (a + 1) to 5L) yield (a, b)
    val edges = (und ++ und.map(_.swap)).toDF("src", "dst")
    val r = GraphOps.triangleCountGlobalSampled(edges, shift = 1)
      .as[(Long, Long)].collect().head
    assert(r._2 == 8 * r._1, s"estimate must be the exact x8 integer: $r")
    assert(r._1 <= 10, s"cannot sample more triangles than exist: $r")
    val r2 = GraphOps.triangleCountGlobalSampled(edges, shift = 1)
      .as[(Long, Long)].collect().head
    assert(r == r2, "the hash coin makes the estimator deterministic")
    // a graph with no triangles estimates 0 (empty aggregate path)
    val path = Seq((1L, 2L), (2L, 3L), (2L, 1L), (3L, 2L)).toDF("src", "dst")
    assert(GraphOps.triangleCountGlobalSampled(path, shift = 1)
      .as[(Long, Long)].collect().head == ((0L, 0L)))
  }

  test("pageRank converges toward degree-proportional mass on a symmetric graph") {
    // path graph a-b-c: b is twice as central as the endpoints
    val edges = Seq((1L, 2L, 1L), (2L, 1L, 1L), (2L, 3L, 1L), (3L, 2L, 1L))
      .toDF("src", "dst", "w")
    val r = GraphOps.pageRank(edges, iterations = 30)
      .collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    // stationary distribution of the symmetric random walk is deg/Σdeg =
    // (1/4, 2/4, 1/4); damping pulls slightly toward uniform
    assert(r(2L) > r(1L) && r(2L) > r(3L))
    assert(math.abs(r(1L) - r(3L)) < 1e-9) // symmetry is exact
    assert(math.abs(r.values.sum - 3.0) < 2e-6) // rank_ratio sums to N (6dp-rounded)
  }

  test("pageRank: partitioned shuffle iteration equals the broadcast iteration bitwise") {
    // a less-symmetric weighted graph: star + chain + a heavy edge, so the
    // two strategies must agree beyond what symmetry alone would force
    val edges = Seq(
      (1L, 2L, 1L), (2L, 1L, 1L), (1L, 3L, 2L), (3L, 1L, 2L),
      (1L, 4L, 1L), (4L, 1L, 1L), (4L, 5L, 3L), (5L, 4L, 3L),
      (5L, 2L, 1L), (2L, 5L, 1L)).toDF("src", "dst", "w")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("node").collect().map(x => (x.getLong(0), x.getDouble(1))).toSeq
    val bc = rows(GraphOps.pageRankBroadcast(edges, iterations = 12))
    val pt = rows(GraphOps.pageRankPartitioned(edges, iterations = 12))
    assert(pt == bc, "crossover strategies must produce the identical rank vector")
  }

  test("sourceProfile aggregates per-provenance volume and vocabulary exactly") {
    val d = Seq(
      (1L, "a b a", "s1"), (2L, "a c", "s1"),   // s1: 5 toks, vocab {a,b,c}
      (3L, "x x x x", "s2"))                    // s2: 4 toks, vocab {x}
      .toDF("doc_id", "text", "source")
    val out = QualityOps.sourceProfile(d).orderBy("source")
      .as[(String, Long, Long, Long, Double, Double)].collect().toSeq
    assert(out == Seq(
      ("s1", 2L, 5L, 3L, 2.5, 0.6),
      ("s2", 1L, 4L, 1L, 4.0, 0.25)))
  }

  test("sourceOverlap counts distinct shared n-grams per unordered source pair") {
    // gram "a b c" in s1+s2+s3; "b c d" in s1+s2 only; "z z z" unique to s3
    val d = Seq(
      (1L, "a b c d", "s1"),
      (2L, "a b c d", "s2"),
      (3L, "a b c", "s3"), (4L, "z z z", "s3"))
      .toDF("doc_id", "text", "source")
    val out = QualityOps.sourceOverlap(d, n = 3).orderBy("source_a", "source_b")
      .as[(String, String, Long)].collect().toSeq
    assert(out == Seq(
      ("s1", "s2", 2L), ("s1", "s3", 1L), ("s2", "s3", 1L)))
  }

  test("dqChecks evaluates every constraint in one pass and flags failures") {
    val df = Seq((1L, 10.0), (2L, -5.0), (3L, 20.0), (3L, 30.0)).toDF("id", "v")
    val out = QualityOps.dqChecks(df, Seq(
      QualityOps.Check("pk_unique",
        count_distinct(col("id")).cast("double") / count(lit(1)), 1.0),
      QualityOps.Check("v_positive", QualityOps.rate(col("v") > 0), 1.0)))
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getBoolean(3))).toMap
    assert(out("pk_unique") == (0.75, false)) // 3 distinct / 4 rows
    assert(out("v_positive") == (0.75, false))
  }

  test("skyline2d keeps exactly the non-strictly-dominated rows, any bucket width") {
    // (5,5) strictly dominates (4,4) and (1,1); (2,9)/(9,2) are frontier
    // corners; (5,4) survives because no row has BOTH x>5 and y>4 —
    // equal-x rows never dominate under strict dominance.
    val rows = Seq((1L, 5.0, 5.0), (2L, 4.0, 4.0), (3L, 2.0, 9.0),
      (4L, 9.0, 2.0), (5L, 1.0, 1.0), (6L, 5.0, 4.0))
      .toDF("id", "x", "y")
    for (bw <- Seq(0.5, 3.0, 100.0)) {
      val keep = ParetoOps.skyline2d(rows, "x", "y", bucketWidth = bw)
        .select("id").collect().map(_.getLong(0)).toSet
      assert(keep == Set(1L, 3L, 4L, 6L), s"bucketWidth=$bw")
    }
  }

  test("autocorr of a perfectly periodic series: corr at the period is 1") {
    val series = (0 until 28).map(d => (d.toLong, (d % 7).toDouble + 1))
      .toDF("day", "cnt")
    val r = TimeSeriesOps.autocorr(series, "day", "cnt", lags = Seq(7)).collect().head
    assert(r.getAs[Long]("n") == 28L)
    assert(r.getAs[Double]("corr_lag7") == 1.0)
  }

  test("fuzzyMatchSummary blocks, excludes self, and tie-breaks by key") {
    val df = Seq(
      (1L, "cold widget", "A"), (2L, "cold widgit", "A"), (3L, "cold widgets", "A"),
      (4L, "cold widget", "B"), // same name, different block → never matched
      (5L, "zzzzzzzz", "A")) // in-block but too distant
      .toDF("k", "nm", "grp")
    val out = FuzzyOps.fuzzyMatchSummary(df, "k", "nm", "grp", maxDist = 2)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(out(1L) == (2L, 1L, 2L)) // two neighbours, best dist 1, smallest key 2
    assert(!out.contains(4L) && !out.contains(5L))
  }
}
