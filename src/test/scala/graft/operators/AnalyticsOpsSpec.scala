package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Unit semantics of the round-4 analytics and IR operators; cross-engine
  * values are pinned by the q_* oracles (AnalyticsQueries / TextQueries).
  */
class AnalyticsOpsSpec extends SparkSpec {
  import spark.implicits._

  test("scd2History compresses runs and chains validity ranges") {
    // user 1: a,a,b,a → versions a[10,30) b[30,40) a[40,null); user 2: x
    val e = Seq(
      (1L, 10_000L, 1L, "a"), (1L, 20_000L, 2L, "a"),
      (1L, 30_000L, 3L, "b"), (1L, 40_000L, 4L, "a"),
      (2L, 15_000L, 5L, "x")).toDF("user_id", "ts", "event_id", "event_type")
    val out = PipelineOps.scd2History(e, "user_id", "ts", "event_id", "event_type")
      .orderBy("user_id", "version")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getLong(3), Option(r.get(4)).map(_.asInstanceOf[Long]), r.getLong(5)))
    assert(out.toSeq == Seq(
      (1L, 1L, "a", 10_000L, Some(30_000L), 2L),
      (1L, 2L, "b", 30_000L, Some(40_000L), 1L),
      (1L, 3L, "a", 40_000L, None, 1L),
      (2L, 1L, "x", 15_000L, None, 1L)))
  }

  test("bpeApply merges in rank order and counts post-merge symbols") {
    val merges = Seq("t" -> "h", "th" -> "e", "a" -> "t", "at" -> "a")
    val d = Seq((1L, "the data")).toDF("doc_id", "text")
    val out = TextOps.bpeApply(d, merges).collect().head
    // "the" → t·h·e → th·e → the (1 symbol); "data" → d·a·t·a → d·at·a →
    // d·ata (2 symbols): earlier merges feed later ones
    assert(out.getString(1) == "the d·ata")
    assert(out.getLong(2) == 3L)
  }

  test("kAnonymityAudit flags classes under k or with low sensitive diversity") {
    // class A: 3 rows, 3 distinct users (k ok at 3, diverse); class B: 3
    // rows but ONE user (diversity fails); class C: 1 row (size fails)
    val d = Seq(
      ("A", 1L), ("A", 2L), ("A", 3L),
      ("B", 7L), ("B", 7L), ("B", 7L),
      ("C", 9L)).toDF("qi", "uid")
    val out = QualityOps.kAnonymityAudit(d, Seq(col("qi")), col("uid"), k = 3L, l = 2L)
      .orderBy("qi").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
    assert(out.toSeq == Seq(
      ("A", 3L, 3L, true), ("B", 3L, 1L, false), ("C", 1L, 1L, false)))
  }

  test("welchTTest matches the hand-computed statistic on a known two-sample case") {
    // arm a: 1,2,3,4 (mean 2.5, var 5/3); arm b: 2,4,6 (mean 4, var 4)
    val d = Seq(("a", 1.0), ("a", 2.0), ("a", 3.0), ("a", 4.0),
      ("b", 2.0), ("b", 4.0), ("b", 6.0)).toDF("arm", "v")
      .withColumn("seg", lit(0L))
    val out = StatsOps.welchTTest(d, col("seg"),
        col("arm") === "a", col("arm") === "b", col("v"))
      .collect().head
    assert(out.getAs[Long]("n_a") == 4L && out.getAs[Long]("n_b") == 3L)
    assert(out.getAs[Double]("mean_diff") == -1.5)
    // se2 = (5/3)/4 + 4/3 = 1.75; t = -1.5/sqrt(1.75) = -1.1339
    assert(out.getAs[Double]("t_stat") == -1.1339)
    // df = 1.75^2 / ((5/12)^2/3 + (4/3)^2/2) = 3.0625/0.946759 = 3.2347 → 3.23
    assert(out.getAs[Double]("welch_df") == 3.23)
  }

  test("chiSquare recovers the textbook 2x2 statistic") {
    // classic 2×2: rows s/n, cols y/x with counts 20/30 | 30/20
    // chi2 = sum (o-e)^2/e with all e = 25 → 4 * 25/25 = 4.0
    val rows =
      Seq.fill(20)(("s", "y")) ++ Seq.fill(30)(("s", "x")) ++
      Seq.fill(30)(("n", "y")) ++ Seq.fill(20)(("n", "x"))
    val out = StatsOps.chiSquare(rows.toDF("r", "c"), col("r"), col("c"))
      .collect().head
    assert(out.getAs[Double]("chi2") == 4.0)
    assert(out.getAs[Long]("dof") == 1L)
    assert(out.getAs[Long]("n") == 100L)
  }

  test("mutualInformation: zero for independent columns, H(A) for identical ones") {
    // perfectly independent 2×2 (uniform joint = product of margins)
    val indep = Seq.fill(25)(("a", "x")) ++ Seq.fill(25)(("a", "y")) ++
      Seq.fill(25)(("b", "x")) ++ Seq.fill(25)(("b", "y"))
    val i = StatsOps.mutualInformation(indep.toDF("u", "v"), col("u"), col("v"))
      .collect().head
    assert(i.getAs[Double]("mi_nats") == 0.0)
    assert(i.getAs[Long]("n") == 100L)
    // identical columns: I(A;A) = H(A); normalized score = 1. Uneven margins
    // (75/25) give H = -(0.75 ln 0.75 + 0.25 ln 0.25) = 0.562335
    val ident = Seq.fill(75)(("a", "a")) ++ Seq.fill(25)(("b", "b"))
    val d = StatsOps.mutualInformation(ident.toDF("u", "v"), col("u"), col("v"))
      .collect().head
    assert(d.getAs[Double]("mi_nats") == 0.562335)
    assert(d.getAs[Double]("mi_normalized") == 1.0)
    // null rows carry no category — excluded from n
    val withNull = StatsOps.mutualInformation(
      (indep.map { case (a, b) => (Option(a), b) } :+ ((None: Option[String]), "x"))
        .toDF("u", "v"), col("u"), col("v")).collect().head
    assert(withNull.getAs[Long]("n") == 100L)
    // a constant column has zero entropy → normalization undefined → NULL
    // (not NaN, not Infinity), in operator and oracle alike
    val const = Seq.fill(10)(("a", "x")) ++ Seq.fill(10)(("a", "y"))
    val c = StatsOps.mutualInformation(const.toDF("u", "v"), col("u"), col("v"))
      .collect().head
    assert(c.getAs[Double]("mi_nats") == 0.0)
    assert(c.isNullAt(c.fieldIndex("mi_normalized")),
      "zero-entropy normalization must be NULL")
  }

  test("ksTest: textbook gap, block-count invariance, zero on identical samples") {
    // a = {1,2,3}, b = {2,3,4}: every step gap is 1/3 → D = 0.333333
    val d = (Seq(1.0, 2.0, 3.0).map((_, true)) ++ Seq(2.0, 3.0, 4.0).map((_, false)))
      .toDF("v", "ia")
    def ks(blocks: Int) = StatsOps.ksTest(d, col("v"), col("ia"), nBlocks = blocks)
      .as[(Double, Long, Long)].collect().head
    assert(ks(4096) == ((0.333333, 3L, 3L)))
    // nBlocks shards computation only — D identical at any block count
    assert(ks(1) == ks(4096) && ks(2) == ks(4096) && ks(7) == ks(4096))
    // identical samples → zero distance
    val same = (Seq(1.0, 5.0, 9.0).map((_, true)) ++ Seq(1.0, 5.0, 9.0).map((_, false)))
      .toDF("v", "ia")
    assert(StatsOps.ksTest(same, col("v"), col("ia"))
      .as[(Double, Long, Long)].collect().head == ((0.0, 3L, 3L)))
    // the block table is bounded for ANY value distribution: a pathological
    // range (1e-9 .. 1e12) that would explode a fixed-width blocking into
    // ~1e21 blocks still computes, because blocks derive from the observed
    // range — and a single-value relation (range 0) degenerates to 1 block
    val patho = (Seq(1e-9, 1.0, 1e12).map((_, true)) ++
      Seq(1e-9, 5e11, 1e12).map((_, false))).toDF("v", "ia")
    assert(StatsOps.ksTest(patho, col("v"), col("ia"), nBlocks = 8)
      .as[(Double, Long, Long)].collect().head == ((0.333333, 3L, 3L)))
    val onev = (Seq(7.5, 7.5).map((_, true)) ++ Seq(7.5).map((_, false))).toDF("v", "ia")
    assert(StatsOps.ksTest(onev, col("v"), col("ia"))
      .as[(Double, Long, Long)].collect().head == ((0.0, 2L, 1L)))
    // a range so narrow that range / nBlocks underflows to 0.0 puts every
    // value in block 0 instead of dividing by zero
    val narrow = Seq((0.0, true), (Double.MinPositiveValue, false)).toDF("v", "ia")
    assert(StatsOps.ksTest(narrow, col("v"), col("ia"))
      .as[(Double, Long, Long)].collect().head == ((1.0, 1L, 1L)))
  }

  test("aucMannWhitney: closed forms, tie handling, block invariance, brute-force parity") {
    def auc(rows: Seq[(Double, Boolean)], blocks: Int = 4096) =
      StatsOps.aucMannWhitney(rows.toDF("v", "p"), col("v"), col("p"), nBlocks = blocks)
        .as[(Option[Double], Long, Long)].collect().head
    // perfect separation → 1.0; inverted → 0.0; identical scores → 0.5
    assert(auc(Seq((3.0, true), (4.0, true), (1.0, false), (2.0, false)))
      == ((Some(1.0), 2L, 2L)))
    assert(auc(Seq((1.0, true), (2.0, true), (3.0, false), (4.0, false)))
      == ((Some(0.0), 2L, 2L)))
    assert(auc(Seq((5.0, true), (5.0, true), (5.0, false)))
      == ((Some(0.5), 2L, 1L)))
    // textbook mixed case with a tie, checked against the pair count:
    // pos {1,3,3}, neg {2,3}: pairs won 3 (3>2 twice, 3>2) ... compute
    // brute force instead of hand-arithmetic
    val rows = Seq((1.0, true), (3.0, true), (3.0, true), (2.0, false), (3.0, false))
    val pos = rows.filter(_._2).map(_._1)
    val neg = rows.filterNot(_._2).map(_._1)
    val brute = (for (a <- pos; b <- neg)
      yield if (a > b) 1.0 else if (a == b) 0.5 else 0.0).sum / (pos.size * neg.size)
    val got = auc(rows)._1.get
    assert(math.abs(got - BigDecimal(brute).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-9)
    // nBlocks shards computation only
    assert(auc(rows, blocks = 1) == auc(rows, blocks = 4096)
      && auc(rows, blocks = 3) == auc(rows, blocks = 4096))
    // degenerate single-class input → NULL auc, not a division error
    assert(auc(Seq((1.0, true), (2.0, true))) == ((None, 2L, 0L)))
    // a subnormal score range (range / nBlocks underflows to 0.0) still
    // separates the classes
    assert(auc(Seq((Double.MinPositiveValue, true), (0.0, false))) == ((Some(1.0), 1L, 1L)))
    // randomized parity with the brute-force pair count
    val rnd = new scala.util.Random(11)
    for (_ <- 0 until 10) {
      val rs = Seq.fill(30)((rnd.nextInt(8).toDouble, rnd.nextBoolean()))
      val p = rs.filter(_._2).map(_._1)
      val n = rs.filterNot(_._2).map(_._1)
      if (p.nonEmpty && n.nonEmpty) {
        val bf = (for (a <- p; b <- n)
          yield if (a > b) 1.0 else if (a == b) 0.5 else 0.0).sum / (p.size * n.size)
        val g = auc(rs)._1.get
        assert(math.abs(g - bf) < 1e-6, s"rows=$rs got=$g brute=$bf")
      }
    }
  }

  test("rollingDistinctActives counts trailing-window distinct keys") {
    val day = 86_400_000_000_000L
    // user 1 active day 0; user 2 active days 0 and 2; window = 3 days
    val e = Seq((1L, 0L), (2L, day / 2), (2L, 2 * day))
      .toDF("user_id", "ts")
    val out = TimeSeriesOps.rollingDistinctActives(e, "user_id", "ts", windowDays = 3)
      .orderBy("day").collect().map(r => r.getLong(0) -> r.getLong(1))
    // day 0: {1,2}; day 1: {1,2}; day 2: {1,2}∪{2}; days 3-4: {2} from day 2
    assert(out.toSeq == Seq(0L -> 2L, 1L -> 2L, 2L -> 2L, 3L -> 1L, 4L -> 1L))
  }

  test("zscoreAnomalies scores against prior-only frames and withholds early points") {
    // values alternate 10/11 (so the prior window has variance), then jump
    val e = (1 to 10).map(i =>
      ("k", i * 1_000_000L, i.toLong, if (i == 10) 100.0 else 10.0 + i % 2))
      .toDF("event_type", "ts", "event_id", "value")
    val out = TimeSeriesOps.zscoreAnomalies(e, "event_type", "ts", "event_id", "value",
        lookback = 20, threshold = 2.5, minPrior = 5)
      .orderBy("event_id")
      .collect().map(r => (r.getLong(2), Option(r.get(4)).map(_.asInstanceOf[Double]),
        r.getBoolean(5)))
    // first 5 points lack minPrior predecessors → null z, never flagged
    assert(out.take(5).forall { case (_, z, flag) => z.isEmpty && !flag })
    // in-distribution points score small; the jump at i=10 flags
    assert(out.slice(5, 9).forall { case (_, z, flag) => z.exists(math.abs(_) < 2.5) && !flag })
    assert(out.last._2.exists(_ > 2.5) && out.last._3)
  }

  test("zscoreAnomalies yields null z on zero-variance priors, not a blow-up") {
    val e = (1 to 8).map(i => ("k", i * 1_000L, i.toLong, 7.0))
      .toDF("event_type", "ts", "event_id", "value")
    val out = TimeSeriesOps.zscoreAnomalies(e, "event_type", "ts", "event_id", "value")
      .collect()
    assert(out.forall(r => r.isNullAt(4) && !r.getBoolean(5)))
  }

  test("seasonalDecompose: pure periodic series has exact phase seasonals and zero interior residuals") {
    val hour = 3_600_000_000_000L
    // one key, 15 hourly buckets tiling THREE full periods of 5 with
    // counts (1,2,3,4,5) per phase: mean=3, seasonal(phase p)=p+1-3,
    // and any 5-bucket MA covers each phase once → trend=3 everywhere
    // the frame is full, so resid = cnt - seasonal - trend = 0 exactly
    val rows = for {
      b <- 0 until 15
      i <- 0 until (b % 5) + 1
    } yield ("k", b * hour + i)
    val out = TimeSeriesOps.seasonalDecompose(rows.toDF("event_type", "ts"),
        "event_type", "ts", bucketNs = hour, period = 5, halfWindow = 2)
      .orderBy("bucket_ns").collect()
    assert(out.length == 15)
    out.foreach { r =>
      val b = (r.getLong(1) / hour).toInt
      assert(r.getLong(2) == (b % 5) + 1) // n
      assert(r.getDouble(3) == (b % 5) + 1 - 3.0, s"seasonal at bucket $b")
      if (b >= 2 && b <= 12) {
        assert(r.getDouble(4) == 3.0, s"trend at bucket $b")
        assert(r.getDouble(5) == 0.0, s"resid at bucket $b")
      } else {
        assert(r.isNullAt(4) && r.isNullAt(5), s"edge bucket $b must have null trend/resid")
      }
    }
  }

  test("seasonalDecompose partitions per key: a second key's series never leaks into the first") {
    val hour = 3_600_000_000_000L
    val rows = (0 until 15).flatMap { b =>
      Seq.fill((b % 5) + 1)(("a", b * hour)) ++ Seq.fill(100)(("b", b * hour))
    }
    val out = TimeSeriesOps.seasonalDecompose(rows.toDF("event_type", "ts"),
        "event_type", "ts", bucketNs = hour, period = 5, halfWindow = 2)
      .where($"event_type" === "a").orderBy("bucket_ns").collect()
    // key a's decomposition is unchanged by key b's flat 100s
    assert(out.forall(r => r.getDouble(3) == (r.getLong(1) / hour % 5) + 1 - 3.0))
  }

  test("robustOutliers flags the heavy tail and skips MAD-zero groups") {
    val df = (Seq(8.0, 9.0, 10.0, 11.0, 12.0, 1000.0).zipWithIndex.map {
        case (v, i) => ("g", i.toLong, v)
      } ++ Seq(5.0, 5.0, 5.0, 5.0, 100.0).zipWithIndex.map {
        case (v, i) => ("z", 100L + i, v) // MAD = 0: over half identical
      }).toDF("event_type", "event_id", "value")
    val out = QuantileOps.robustOutliers(df, "event_type", "event_id", "value",
      cutoff = 3.5).collect()
    // group g: median 10.5, MAD 1.5 → only 1000.0 crosses 3.5
    //   z = 0.6745·(1000−10.5)/1.5 = 444.9451666̄ → 444.945167 at 6 dp
    assert(out.length == 1, s"expected exactly the planted outlier: ${out.mkString(",")}")
    val r = out.head
    assert(r.getString(0) == "g" && r.getLong(1) == 5L)
    assert(r.getDouble(3) == 10.5 && r.getDouble(4) == 1.5)
    assert(r.getDouble(5) == 444.945167)
  }

  test("contaminationScreen flags exactly the leaked vectors, lowest bench id on ties") {
    val corpus = Seq(
      (1L, Seq(1.0f, 0.0f, 0.0f)),
      (2L, Seq(0.0f, 1.0f, 0.0f)),
      (3L, Seq(0.0f, 0.0f, 1.0f))).toDF("vec_id", "embedding")
    // two benchmark items are scaled copies of corpus 2 (ids 20 < 21),
    // one is orthogonal to everything in the corpus
    val bench = Seq(
      (20L, Seq(0.0f, 2.0f, 0.0f)),
      (21L, Seq(0.0f, 3.0f, 0.0f)),
      (30L, Seq(0.7f, -0.7f, 0.0f))).toDF("vec_id", "embedding")
    val out = SimilarityOps.contaminationScreen(corpus, bench, threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(out.toSeq == Seq((2L, 20L, 1.0)),
      s"only corpus 2 leaks, matched to bench 20 by tie-break: ${out.mkString(",")}")
  }

  test("theilSen ignores a spiked day that would drag least squares") {
    val day = 86_400_000_000_000L
    // days 0..3 count (1,3,5,7): every in-trend pairwise slope is 2; day 4
    // spikes to 100 — its 4 slopes (24.75..93) sit ABOVE the 6 trend
    // slopes, so the 10-slope median stays 2 and residuals (1,1,1,1,92)
    // median to intercept 1
    val rows = for {
      (d, n) <- Seq((0, 1), (1, 3), (2, 5), (3, 7), (4, 100))
      i <- 0 until n
    } yield ("a", d * day + i)
    val out = TimeSeriesOps.theilSen(rows.toDF("event_type", "ts"), "event_type", "ts")
      .collect().head
    assert(out.getString(0) == "a" && out.getLong(1) == 5L)
    assert(out.getDouble(2) == 2.0, s"Sen slope must resist the spike: $out")
    assert(out.getDouble(3) == 1.0, s"median-residual intercept: $out")
  }

  test("interArrival: closed-form burstiness, periodic key at -1, singletons dropped") {
    // key a: events at 0/1/3/6 ms → µs gaps (1000, 2000, 3000):
    // μ = 2000, σ = sqrt(3·14e6 − 36e6)/3 = sqrt(6e6)/3
    val a = Seq(0L, 1_000_000L, 3_000_000L, 6_000_000L).map(("a", _, 1L))
    // key b: perfectly periodic → σ 0 → burstiness −1, cv 0
    val b = Seq(0L, 1_000_000L, 2_000_000L, 3_000_000L).map(("b", _, 2L))
    val c = Seq(("c", 0L, 3L)) // single event: no gap, no row
    val df = (a ++ b ++ c).toDF("event_type", "ts", "event_id")
    val out = TimeSeriesOps.interArrival(df, "event_type", "ts", "event_id")
      .orderBy("event_type").collect()
    assert(out.map(_.getString(0)).toSeq == Seq("a", "b"))
    val ra = out(0)
    def r6(v: Double) = BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val mu = 2000.0; val sig = math.sqrt(6e6) / 3.0
    assert(ra.getLong(1) == 3L && ra.getDouble(2) == 2000.0 && ra.getLong(3) == 3000L)
    assert(ra.getDouble(4) == r6(sig / mu))
    assert(ra.getDouble(5) == r6((sig - mu) / (sig + mu)))
    val rb = out(1)
    assert(rb.getDouble(4) == 0.0 && rb.getDouble(5) == -1.0)
  }

  test("crossCorrelation peaks at the planted lead and NULLs zero-variance slices") {
    val hour = 3_600_000_000_000L
    // x counts (1,2,3) at buckets 0,1,2; y is x shifted one bucket later →
    // lag +1 pairs (1,1),(2,2),(3,3) = perfect r 1.0; constant z NULLs out
    def burst(tp: String, bucket: Int, n: Int) =
      Seq.tabulate(n)(i => (bucket * hour + i, tp))
    val rows = burst("a", 0, 1) ++ burst("a", 1, 2) ++ burst("a", 2, 3) ++
      burst("b", 1, 1) ++ burst("b", 2, 2) ++ burst("b", 3, 3) ++
      burst("z", 0, 1) ++ burst("z", 1, 1) ++ burst("z", 2, 1) ++ burst("z", 3, 1)
    val df = rows.toDF("ts", "event_type")
    val out = TimeSeriesOps.crossCorrelation(df, "ts", hour,
        isX = $"event_type" === "a", isY = $"event_type" === "b", maxLag = 1)
      .orderBy("lag").collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(-1L, 0L, 1L))
    assert(out.map(_.getLong(1)).toSeq == Seq(3L, 4L, 3L)) // grid is 4 buckets
    assert(out(2).getDouble(2) == 1.0, s"lag +1 must be the perfect lead: ${out.toSeq}")
    assert(out(1).getDouble(2) < 1.0)
    // constant series → zero variance at every lag → NULL r
    val z = TimeSeriesOps.crossCorrelation(df, "ts", hour,
        isX = $"event_type" === "z", isY = $"event_type" === "b", maxLag = 1)
      .collect()
    assert(z.forall(_.isNullAt(2)))
  }

  test("calibration: closed-form bins, exact-integer gap and ECE") {
    // units of 1/10000, 10 bins. bin1: units 1000 (pos) + 1800 (neg) →
    // acc .5, mean_conf .14, gap (10000−2800)/20000 = .36; bin9: 9000
    // (pos) → acc 1, mean_conf .9, gap .1.
    // ECE = (|10000−2800|+|10000−9000|)/(10000·3) = 8200/30000.
    val df = Seq((1000L, true), (1800L, false), (9000L, true))
      .toDF("cu", "pos")
    val out = StatsOps.calibration(df, col("cu"), col("pos"))
      .orderBy("bin").collect()
    assert(out.length == 2)
    val b0 = out(0); val b1 = out(1)
    assert(b0.getLong(0) == 1L && b0.getLong(1) == 2L && b0.getLong(2) == 1L)
    assert(b0.getDouble(3) == 0.5 && b0.getDouble(4) == 0.14 && b0.getDouble(5) == 0.36)
    assert(b1.getLong(0) == 9L && b1.getDouble(3) == 1.0 &&
      b1.getDouble(4) == 0.9 && b1.getDouble(5) == 0.1)
    assert(out.forall(_.getDouble(6) == 0.273333)) // ECE repeated per row
  }

  test("calibration clamps the top edge into the last bin") {
    // cu = 10000 (confidence 1.0) lands in the last bin 9, not a phantom bin 10
    val df = Seq((10000L, true), (0L, false)).toDF("cu", "pos")
    val bins = StatsOps.calibration(df, col("cu"), col("pos"))
      .orderBy("bin").collect().map(_.getLong(0)).toSeq
    assert(bins == Seq(0L, 9L))
  }

  test("benfordScreen: string-of-cents digit extraction and closed-form terms") {
    // one value per leading digit (0.05 → cents 5 → digit 5; 123.45 →
    // 12345 → digit 1; 9000.00 → digit 9); zero/null rows dropped
    val df = Seq(Some(123.45), Some(0.05), Some(9000.0), Some(0.0), None)
      .toDF("v")
    val out = StatsOps.benfordScreen(df, col("v")).orderBy("digit").collect()
    assert(out.map(_.getInt(0)).toSeq == Seq(1, 5, 9))
    assert(out.forall(_.getLong(1) == 1L))
    // digit 1 with N=3: exp = 3·0.3010299956639812 = 0.9030899869919436
    val d1 = out(0)
    assert(d1.getDouble(2) == 0.30103) // p_exp at 6 dp
    assert(d1.getDouble(3) == 0.9031)  // n_exp at 4 dp
    val exp1 = 3 * 0.3010299956639812
    val want = BigDecimal((1 - exp1) * (1 - exp1) / exp1)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(d1.getDouble(4) == want)
  }

  test("benfordScreen: a positive value below half a cent leaves the universe entirely") {
    // 0.004 rounds to 0 cents — it must not form a dropped digit-0 group
    // that still inflates the row total (pre-r12 defect): with it excluded,
    // N=2 and every expected count is computed over 2, not 3
    val df = Seq(0.004, 123.45, 9000.0).toDF("v")
    val out = StatsOps.benfordScreen(df, col("v")).orderBy("digit").collect()
    assert(out.map(_.getInt(0)).toSeq == Seq(1, 9))
    val exp1 = 2 * 0.3010299956639812
    assert(out(0).getDouble(3) == BigDecimal(exp1)
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble,
      "expected counts must use the digit-1..9 row total (N=2)")
  }

  test("contaminationScreen compares coinciding corpus/bench ids (independent namespaces)") {
    // corpus id 2 and bench id 2 coincide numerically — with independent id
    // spaces that is a coincidence, not a self-pair, and the leak MUST flag
    val corpus = Seq(
      (1L, Seq(1.0f, 0.0f, 0.0f)),
      (2L, Seq(0.0f, 1.0f, 0.0f))).toDF("vec_id", "embedding")
    val bench = Seq((2L, Seq(0.0f, 2.0f, 0.0f))).toDF("vec_id", "embedding")
    val out = SimilarityOps.contaminationScreen(corpus, bench, threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(out.toSeq == Seq((2L, 2L, 1.0)),
      s"coinciding ids must still be screened: ${out.mkString(",")}")
  }

  test("rankSumTest: textbook tie-corrected U and z; degenerate inputs yield NULL z") {
    // X = {1, 2}, Y = {2, 3}: ranks 1, 2.5, 2.5, 4 → Rx = 3.5, U = 0.5.
    // T = 2³−2 = 6; σ² = (4/12)·(5 − 6/12) = 1.5; z = (0.5−2)/√1.5
    val df = Seq((1.0, true), (2.0, true), (2.0, false), (3.0, false))
      .toDF("v", "ix")
    val r = StatsOps.rankSumTest(df, col("v"), col("ix")).collect().head
    assert(r.getLong(0) == 2L && r.getLong(1) == 2L)
    assert(r.getDouble(2) == 0.5)
    val want = BigDecimal(-1.5 / math.sqrt(2.0 * 2.0 / 12.0 * 4.5))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(r.getDouble(3) == want, s"z: ${r.getDouble(3)} vs $want")
    // every value tied → σ² = 0 → NULL z (U still reported)
    val tied = Seq((5.0, true), (5.0, false), (5.0, false)).toDF("v", "ix")
    val rt = StatsOps.rankSumTest(tied, col("v"), col("ix")).collect().head
    assert(rt.getDouble(2) == 1.0 && rt.isNullAt(3)) // U = cx·cy/2 = 1
    // one side empty → NULL z
    val one = Seq((1.0, true), (2.0, true)).toDF("v", "ix")
    assert(StatsOps.rankSumTest(one, col("v"), col("ix")).collect().head.isNullAt(3))
    // a subnormal value range (range / blocks underflows to 0.0): U = 0,
    // σ² = (1/12)·3, z = (0 − 1) / (2·0.5)
    val narrow = Seq((0.0, true), (Double.MinPositiveValue, false)).toDF("v", "ix")
    val rn = StatsOps.rankSumTest(narrow, col("v"), col("ix")).collect().head
    assert(rn.getDouble(2) == 0.0 && rn.getDouble(3) == -1.0)
  }

  test("marginMine keeps mutual partners, drops non-reciprocated hubs, enforces the margin") {
    // x1↔y1 and x2↔y2 are clear partners; y3 sits between both x's (its
    // top-1 is x1 by tie-break) but x1's top-1 is y1 → y3 never reciprocates
    val xs = Seq(
      (1L, Seq(1.0f, 0.0f, 0.0f)),
      (2L, Seq(0.0f, 1.0f, 0.0f))).toDF("vec_id", "embedding")
    val ys = Seq(
      (11L, Seq(1.0f, 0.05f, 0.0f)),
      (12L, Seq(0.3f, 1.0f, 0.0f)),
      (13L, Seq(0.7f, 0.7f, 0.0f))).toDF("vec_id", "embedding")
    val out = SimilarityOps.marginMine(xs, ys, k = 2, minMargin = 1.0)
      .orderBy("x_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(3)))
    assert(out.map(p => (p._1, p._2)).toSeq == Seq((1L, 11L), (2L, 12L)),
      s"exactly the mutual partners: ${out.mkString(",")}")
    // raising the threshold above every computed margin empties the output —
    // the margin is a real filter, not decoration
    val maxMargin = out.map(_._3).max
    assert(SimilarityOps.marginMine(xs, ys, k = 2, minMargin = maxMargin + 0.01)
      .collect().isEmpty)
  }

  test("bootstrapCi: constant values collapse the CI to the mean; mixed values bracket it") {
    import org.apache.spark.sql.functions.col
    // a constant column has every replica mean equal to it, whatever the
    // Poisson weights drew — CI must collapse to [c, c] exactly
    val const = (1 to 50).map(i => ("a", 5.0, i.toLong)).toDF("k", "v", "id")
    val r = StatsOps.bootstrapCi(const, col("k"), col("v"), col("id"), b = 16)
      .as[(String, Long, Double, Double, Double)].collect().head
    assert(r == (("a", 50L, 5.0, 5.0, 5.0)), s"constant-column CI must collapse: $r")
    // mixed values: point mean inside a non-degenerate CI
    val mixed = (1 to 200).map(i => ("b", if (i % 2 == 0) 1.0 else 9.0, i.toLong))
      .toDF("k", "v", "id")
    val m = StatsOps.bootstrapCi(mixed, col("k"), col("v"), col("id"), b = 64)
      .as[(String, Long, Double, Double, Double)].collect().head
    assert(m._3 == 5.0, s"point estimate is the exact full-sample mean: $m")
    assert(m._4 < 5.0 && 5.0 < m._5, s"CI must bracket the mean: $m")
    assert(m._4 > 1.0 && m._5 < 9.0,
      s"a 200-row half-half mix cannot bootstrap anywhere near the extremes: $m")
  }

  test("kCenterSelect replays the hand-computed farthest-point greedy") {
    // seed = lowest id (1); round 1 picks the opposite vector (dist 20000),
    // round 2 the orthogonal one (min-dist 10000); the near-duplicate of
    // the seed (id 2, cos ~ 1) is never selected
    val emb = Seq(
      (1L, Seq(1.0f, 0.0f)),
      (2L, Seq(0.999f, 0.01f)),
      (3L, Seq(0.0f, 1.0f)),
      (4L, Seq(-1.0f, 0.0f))).toDF("vec_id", "embedding")
    val out = SimilarityOps.kCenterSelect(emb, k = 3)
      .as[(Long, Long, Option[Long])].collect().toSeq
    assert(out == Seq((0L, 1L, None), (1L, 4L, Some(20000L)), (2L, 3L, Some(10000L))),
      s"greedy trace diverged: $out")
    // k = 1 degenerates to the seed alone
    assert(SimilarityOps.kCenterSelect(emb, k = 1).as[(Long, Long, Option[Long])]
      .collect().toSeq == Seq((0L, 1L, None)))
    // the partition: each center assigns to itself at distance 0, the
    // near-duplicate of the seed lands in the seed's stratum just above it
    val asg = SimilarityOps.kCenterAssign(emb, k = 3)
      .as[(Long, Long, Long)].collect().toSeq.sortBy(_._1)
    assert(asg.map(a => (a._1, a._2)) == Seq((1L, 1L), (2L, 1L), (3L, 3L), (4L, 4L)),
      s"assignment strata diverged: $asg")
    assert(asg.filter(_._1 != 2L).forall(_._3 == 0L), s"centers must self-assign at 0: $asg")
    assert(asg(1)._3 > 0L && asg(1)._3 < 50L,
      s"the near-dup sits just off its center: $asg")
  }

  test("kCenterGreedy runs ONE job per round (md materialized, no least-chain re-eval)") {
    // r13 VERDICT item 1: the pre-r14 greedy re-evaluated all i previous
    // distance expressions from the source scan up on round i (O(k²) work,
    // k source re-reads). With the per-round checkpoint the marginal cost
    // of one more round is exactly ONE TakeOrdered probe job — pinned here
    // as jobs(k+Δ) − jobs(k) == Δ, which fails if any round re-derives the
    // chain through extra jobs or the probe stops materializing the frame.
    val emb = (1L to 40L).map(i =>
        (i, Seq(math.cos(i * 0.37).toFloat, math.sin(i * 0.37).toFloat)))
      .toDF("vec_id", "embedding")
    def jobsFor(k: Int): Int =
      try jobsDuring(SimilarityOps.kCenterSelect(emb, k).collect())
      finally graft.GraftSession.releaseMaterialized(spark)
    val j5 = jobsFor(5)
    val j9 = jobsFor(9)
    assert(j9 - j5 == 4, s"per-round job count must be flat at 1: k=5→$j5 jobs, k=9→$j9")
    // per-round release: the greedy leaves no persistent blocks behind
    val before = spark.sparkContext.getPersistentRDDs.keySet
    SimilarityOps.kCenterSelect(emb, 6).collect()
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty, s"greedy must release its per-round frames, leaked RDDs: $leaked")
  }

  test("kCenterGreedy guards: empty input fails clearly, n < k returns the selected prefix") {
    val tiny = Seq(
      (1L, Seq(1.0f, 0.0f)), (2L, Seq(0.0f, 1.0f)), (3L, Seq(-1.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    // n = 3 < k = 8: the greedy exhausts the corpus and returns all 3 in
    // selection order instead of throwing from an empty argmax probe
    val prefix = SimilarityOps.kCenterSelect(tiny, k = 8)
      .as[(Long, Long, Option[Long])].collect().toSeq
    assert(prefix.map(_._2) == Seq(1L, 3L, 2L), s"prefix on exhaustion diverged: $prefix")
    val empty = Seq.empty[(Long, Seq[Float])].toDF("vec_id", "embedding")
    val e = intercept[IllegalArgumentException] {
      SimilarityOps.kCenterSelect(empty, k = 2).collect()
    }
    assert(e.getMessage.contains("empty input"), s"guard message: ${e.getMessage}")
  }

  test("marginMine LSH path with full-recall bands equals the broadcast path exactly") {
    // same full-recall banding contract as the lshTopK≡bruteForce pin:
    // 40 cheap 2-plane bands make the candidate set effectively exhaustive
    // on a random corpus, so mutual-top-1, the k-NN margin sums, and the
    // final (sim, margin) values must all reproduce bitwise
    val rnd = new scala.util.Random(41)
    val emb = (0 until 120).map(i => (i.toLong, Array.fill(16)(rnd.nextFloat() * 2 - 1)))
      .toDF("vec_id", "embedding")
    val xs = emb.where(col("vec_id") % 13 === 0)
    val ys = emb.where(col("vec_id") % 13 =!= 0)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long, Double, Double)].collect().toSet
    val bcast = rows(SimilarityOps.marginMineStrategy(xs, ys, k = 4, minMargin = 1.0,
      strategy = "broadcast", lshPlanes = 8, lshBands = 8))
    val lsh = rows(SimilarityOps.marginMineStrategy(xs, ys, k = 4, minMargin = 1.0,
      strategy = "lsh",
      lshPlanes = 2, lshBands = 40))
    assert(bcast.nonEmpty, "degenerate fixture: broadcast path mined no pairs")
    assert(lsh == bcast,
      s"LSH path diverged from broadcast: ${(bcast diff lsh) ++ (lsh diff bcast)}")
  }

  test("changePoint locates a planted level shift at the exact boundary") {
    // hourly volumes 1,1,1,9,9,9: the split must land after bucket 3
    // (G = 576 there vs 288 at the flanks), boundary = start of bucket 3+1
    val hr = 3600L * 1000 * 1000 * 1000
    val rows = for {
      (b, n) <- Seq((0, 1), (1, 1), (2, 1), (3, 9), (4, 9), (5, 9))
      j <- 0 until n
    } yield ("a", b * hr + j)
    val out = TimeSeriesOps.changePoint(rows.toDF("event_type", "ts"),
      "event_type", "ts", bucketNs = hr).collect().head
    assert(out.getString(0) == "a")
    assert(out.getLong(1) == 3L * hr, s"split boundary: ${out.getLong(1)}")
    assert(out.getDouble(2) == 576.0) // (3·3 − 27·3)²/9
    assert(out.getDouble(3) == 1.0 && out.getDouble(4) == 9.0)
    // fewer than two observed buckets → no row (no split exists)
    val tiny = Seq(("b", 0L), ("b", 1L)).toDF("event_type", "ts")
    assert(TimeSeriesOps.changePoint(tiny, "event_type", "ts", hr).collect().isEmpty)
  }

  test("transitionCounts builds the per-key consecutive-pair matrix") {
    val e = Seq(
      (1L, 1L, 1L, "a"), (1L, 2L, 2L, "b"), (1L, 3L, 3L, "a"),
      (2L, 1L, 4L, "a"), (2L, 2L, 5L, "b")).toDF("user_id", "ts", "event_id", "event_type")
    val out = TimeSeriesOps.transitionCounts(e, "user_id", "ts", "event_id", "event_type")
      .orderBy("src", "dst").collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    assert(out.toSeq == Seq(("a", "b", 2L), ("b", "a", 1L)))
  }

  test("histogram clamps outliers into the outer bins and drops NULLs") {
    val d = Seq(Some(-5.0), Some(0.0), Some(9.9), Some(10.0), Some(25.0),
      Some(99.0), Some(1000.0), None).toDF("v")
    val out = QuantileOps.histogram(d, "v", lo = 0.0, width = 10.0, nBins = 10)
      .orderBy("bin")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    assert(out.toSeq == Seq(
      (0L, 3L, -5.0, 9.9), (1L, 1L, 10.0, 10.0), (2L, 1L, 25.0, 25.0),
      (9L, 2L, 99.0, 1000.0)))
  }

  test("connectedComponents labels every member with the component minimum") {
    // two components: {1,2,3,4} via a chain (diameter 3) and {10,11}
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L)).toDF("ida", "idb")
    val out = DedupOps.connectedComponents(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("connectedComponents converges on a long chain within the iteration cap") {
    val n = 40
    val pairs = (1 until n).map(i => (i.toLong, i + 1L)).toDF("ida", "idb")
    val out = DedupOps.connectedComponents(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(out.length == n && out.forall(_._2 == 1L))
  }

  test("tfidfTopK ranks rare terms above common ones") {
    val docs = Seq(
      (1L, "common common rare"), (2L, "common common common"),
      (3L, "common other other")).toDF("doc_id", "text")
    val top = TextOps.tfidfTopK(docs, k = 1)
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    // 'common' appears in all 3 docs → idf 0 → never a keyword
    assert(top(1L) == "rare" && top(3L) == "other")
  }

  test("bm25 ranks the doc containing the rare query term first") {
    val docs = Seq(
      (1L, "join scan sort"), (2L, "dup scan sort"), (3L, "scan sort agg"))
      .toDF("doc_id", "text")
    val ranked = TextOps.bm25(docs, Seq("dup", "join"), k = 3)
      .collect().map(_.getLong(0))
    // doc 2 has 'dup' (df=1), doc 1 only 'join' (df=1): tie in idf broken by
    // neither — both single-hit, same dl → same score, doc_id tiebreak;
    // doc 3 matches nothing and is absent
    assert(ranked.toSeq == Seq(1L, 2L))
  }

  test("frameSlices emits strided fixed-length slices, skipping short payloads") {
    val d = Seq((1L, "abcdefghijklmnop"), (2L, "ab")).toDF("id", "s")
      .withColumn("blob", col("s").cast("binary"))
    val out = MultimodalOps.frameSlices(d, "blob", "id", frameLen = 4, stride = 2)
      .orderBy("id", "frame_offset")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    // doc 1 (16 bytes): step = stride·frameLen = 8, offsets 0 and 8, both
    // full 4-byte frames; doc 2 is shorter than one frame and yields nothing
    assert(out.toSeq == Seq(
      (1L, 0L, "61626364"), (1L, 8L, "696A6B6C")))
  }

  test("invertedIndex postings are sorted, distinct, and df/cf disagree on repeats") {
    val docs = Seq((3L, "x x y"), (1L, "x z")).toDF("doc_id", "text")
    val out = TextOps.invertedIndex(docs)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getSeq[Long](3)))
      .sortBy(_._1)
    assert(out.toSeq == Seq(
      ("x", 2L, 3L, Seq(1L, 3L)), ("y", 1L, 1L, Seq(3L)), ("z", 1L, 1L, Seq(1L))))
  }
}
