package graft.queries

import graft.GraftSession.Ckpt

import graft.Tables
import graft.operators.{FuzzyOps, GraphOps, ParetoOps, PipelineOps, QualityOps, QuantileOps, TimeSeriesOps}
import org.apache.spark.sql.DataFrame

/** Event-analytics query bindings: the history/rolling-metric/anomaly
  * surface a product-analytics or monitoring pipeline runs over the ns-time
  * event stream, plus value distribution profiling. Each query has a DuckDB
  * oracle; event time follows the engine-wide convention (int64 ns in
  * Spark, µs-truncated on both sides before surfacing — SURVEY §7.4.1).
  */
object AnalyticsQueries {

  val queries: Map[String, Tables => DataFrame] = Map(
    // SCD-2 history: compress each user's event-type changelog into
    // versioned validity ranges (gaps-and-islands, single key exchange).
    "q_scd2" -> { t =>
      PipelineOps.scd2History(t.events, "user_id", "ts", "event_id", "event_type")
        .orderBy("user_id", "version")
    },

    // Trailing 7-day rolling distinct actives per day (MAU-family metric)
    // without a sliding count-distinct window: explode each active
    // (day, user) into the 7 window ends it serves, then one count-distinct
    // per day.
    "q_rolling_actives" -> { t =>
      TimeSeriesOps.rollingDistinctActives(t.events, "user_id", "ts", windowDays = 7)
        .orderBy("day")
    },

    // Rolling z-score anomaly flags per event type: each value scored
    // against the 20 points strictly before it.
    "q_anomaly_zscore" -> { t =>
      TimeSeriesOps.zscoreAnomalies(t.events, "event_type", "ts", "event_id", "value",
          lookback = 20, threshold = 2.5, minPrior = 5)
        .orderBy("event_type", "ts_us", "event_id")
    },

    // First-order event-type transition matrix over per-user sequences.
    "q_event_transitions" -> { t =>
      TimeSeriesOps.transitionCounts(t.events, "user_id", "ts", "event_id", "event_type")
        .orderBy("src", "dst")
    },

    // Fixed-width value histogram of order totals (clamped outer bins).
    "q_histogram" -> { t =>
      QuantileOps.histogram(t.orders, "o_totalprice", lo = 0.0, width = 50000.0, nBins = 10)
        .orderBy("bin")
    },

    // Statistical aggregate surface: correlation, covariance, dispersion,
    // and least-squares regression per group — all single-pass partial
    // aggregates (Spark's declarative aggregates merge moment sketches, so
    // the shuffle carries a handful of doubles per group, never values).
    "q_stat_aggs" -> { t =>
      import org.apache.spark.sql.functions._
      t.lineitem
        .groupBy(col("l_returnflag"))
        .agg(
          count(lit(1)).as("n"),
          round(corr(col("l_quantity"), col("l_extendedprice")), 4).as("corr_qp"),
          round(covar_samp(col("l_quantity"), col("l_extendedprice")), 2).as("covar_qp"),
          round(stddev_samp(col("l_extendedprice")), 4).as("std_price"),
          round(var_samp(col("l_quantity")), 4).as("var_qty"),
          round(regr_slope(col("l_extendedprice"), col("l_quantity")), 4).as("slope"),
          round(regr_intercept(col("l_extendedprice"), col("l_quantity")), 4).as("intercept"))
        .orderBy("l_returnflag")
    },

    // A/B experiment readout: Welch's unequal-variance t statistic per user
    // segment, treatment = purchase events, control = view events. One
    // conditional aggregation — both arms from a single scan; the shuffle
    // carries moment sketches, never values (StatsOps).
    "q_ab_test" -> { t =>
      import org.apache.spark.sql.functions._
      graft.operators.StatsOps.welchTTest(
          t.events,
          segmentCol = col("user_id") % 4,
          condA = col("event_type") === "purchase",
          condB = col("event_type") === "view",
          valCol = col("value"))
        .orderBy("segment")
    },

    // Poisson-bootstrap CI for the per-type mean value — the distributed
    // bootstrap (Chamandy et al.): replica b gives every row a hash-derived
    // Poisson(1) weight, so all 64 resamples ride ONE scan as a ×64 explode
    // + a partial-aggregated groupBy; the CI is an exact order statistic of
    // the 64 replica means (a bounded per-group array). Weights compare a
    // 32-bit md5 uniform against frozen integer thresholds shared with the
    // oracle; values quantize to exact cents before weighting. (r14
    // attribution: the r13 1.86× is first-run variance, not plan — the
    // column-wise no-explode alternative measured 4× WORSE fully
    // evaluated; see ARCHITECTURE "q_bootstrap_ci attribution".)
    "q_bootstrap_ci" -> { t =>
      import org.apache.spark.sql.functions._
      graft.operators.StatsOps.bootstrapCi(
          t.events, keyCol = col("event_type"), valCol = col("value"),
          idCol = col("event_id"), b = 64)
        .withColumnRenamed("k", "event_type")
        .orderBy("event_type")
    },

    // Chi-square independence of event type × value band (100-wide bands,
    // clamped at 4): exact integer contingency table, marginals on
    // partitioned windows, grand total broadcast back (1-row BNLJ).
    "q_chi_square" -> { t =>
      import org.apache.spark.sql.functions._
      graft.operators.StatsOps.chiSquare(
        t.events,
        rowCol = col("event_type"),
        colCol = least(floor(col("value") / 100), lit(4L)))
    },

    // Two-sample KS statistic between purchase and signup value
    // distributions — bin-free drift detection; cumulative ECDF counts via
    // the two-phase prefix sum (no unpartitioned window over the
    // distinct-value relation).
    "q_ks_test" -> { t =>
      import org.apache.spark.sql.functions._
      graft.operators.StatsOps.ksTest(
        t.events.where(col("event_type").isin("purchase", "signup")),
        valCol = col("value"),
        isA = col("event_type") === "purchase")
    },

    // Mann–Whitney rank-sum TEST: did click values shift vs purchase
    // values? Exact-integer U with average-rank ties + the tie-corrected
    // z — the location-shift readout next to q_ks_test's sup-gap.
    "q_rank_sum" -> { t =>
      import org.apache.spark.sql.functions._
      graft.operators.StatsOps.rankSumTest(
        t.events.where(col("event_type").isin("click", "purchase")),
        valCol = col("value"),
        isX = col("event_type") === "click")
    },

    // Mann–Whitney AUC of `value` ranking purchases above other events —
    // the threshold-free scorer-evaluation metric for curation classifiers
    // and dedup signals. Exact-integer rank sum via the same two-phase
    // blocked prefix sum as q_ks_test; one final division.
    "q_score_auc" -> { t =>
      import org.apache.spark.sql.functions._
      graft.operators.StatsOps.aucMannWhitney(
        t.events.where(col("event_type").isNotNull),
        scoreCol = col("value"),
        isPos = col("event_type") === "purchase")
    },

    // Reliability diagram + expected calibration error of value-as-
    // probability (2-dp value → exact fixed-point units of 1/10000, capped
    // at 1.0) against purchase outcomes — AUC's companion: does 0.8 mean
    // 80%? Every output is one division of exact integer sums.
    "q_calibration" -> { t =>
      import org.apache.spark.sql.functions._
      graft.operators.StatsOps.calibration(
          // value IS NOT NULL up front: least() skips NULL args (both
          // engines), so a NULL value would otherwise read as conf = 1.0
          t.events.where(col("value").isNotNull),
          confUnits = least(round(col("value") * 100), lit(10000.0)).cast("long"),
          isPos = col("event_type") === "purchase")
        .orderBy("bin")
    },

    // Benford first-digit conformance of order totals — the fabricated-
    // data / broken-feed screen. Leading digit from the decimal string of
    // exact integer cents (never floor(log10)); expectations are the
    // shared literal table.
    "q_benford" -> { t =>
      import org.apache.spark.sql.functions._
      graft.operators.StatsOps.benfordScreen(t.orders, col("o_totalprice"))
        .orderBy("digit")
    },

    // Mutual information I(event_type; value band) in nats, plus the
    // min-entropy-normalized score — chi-square's information-theoretic
    // sibling for feature-relevance ranking. One corpus aggregation; all
    // margins/entropies derive from the model-sized contingency table.
    "q_mutual_info" -> { t =>
      import org.apache.spark.sql.functions._
      graft.operators.StatsOps.mutualInformation(
        t.events,
        aCol = col("event_type"),
        bCol = least(floor(col("value") / 25), lit(4L)))
    },

    // Data-quality constraint suite: uniqueness, completeness, referential
    // integrity, range and domain checks — the whole orders-side suite is a
    // single scan (FK probe rides a broadcast join), lineitem adds one more.
    "q_dq_checks" -> { t =>
      import org.apache.spark.sql.functions._
      import graft.operators.QualityOps.{Check, rate}
      val custKeys = broadcast(t.customer.select(col("c_custkey")).distinct())
      val o = t.orders.join(custKeys, col("o_custkey") === col("c_custkey"), "left")
      val ordersChecks = QualityOps.dqChecks(o, Seq(
        Check("orders_pk_unique",
          count_distinct(col("o_orderkey")).cast("double") / count(lit(1)), 1.0),
        Check("orders_custkey_complete", rate(col("o_custkey").isNotNull), 1.0),
        Check("orders_fk_customer", rate(col("c_custkey").isNotNull), 1.0),
        Check("orders_totalprice_positive", rate(col("o_totalprice") > 0), 1.0),
        Check("orders_status_domain",
          rate(col("o_orderstatus").isin("O", "F", "P")), 1.0)))
      val lineChecks = QualityOps.dqChecks(t.lineitem, Seq(
        Check("lineitem_qty_range", rate(col("l_quantity").between(1, 50)), 0.99),
        Check("lineitem_discount_range", rate(col("l_discount").between(0, 0.1)), 0.99)))
      ordersChecks.unionAll(lineChecks).orderBy("check_name")
    },

    // Blocked fuzzy self-match: per part, its edit-distance-≤3 neighbours
    // within a (brand, first-token) block — candidate generation for fuzzy
    // dedup without the O(n²) cross product.
    "q_fuzzy_match" -> { t =>
      FuzzyOps.fuzzyMatchSummary(t.part, "p_partkey", "p_name",
          "concat(p_brand, '|', split_part(p_name, ' ', 1))", maxDist = 3)
        .orderBy("a_key")
    },

    // Blocked Jaro–Winkler name matching: within-block distinct-name pairs
    // scoring ≥ 0.88 via the native codegen'd jaro_winkler expression
    // (semantics probed against DuckDB's jaro_winkler_similarity) —
    // transposition-tolerant, prefix-weighted record linkage.
    "q_jaro_winkler" -> { t =>
      FuzzyOps.jaroWinklerPairs(t.part, "p_name",
          "concat(p_brand, '|', split_part(p_name, ' ', 1))", threshold = 0.88)
        .orderBy("blk", "nm_a", "nm_b")
    },

    // Incremental aggregate maintenance: weekly per-type rollups refreshed
    // by merging the stored base aggregate with the delta's aggregate —
    // history is never re-scanned; the day-19745 cutoff splits week 2820 so
    // the merge genuinely re-sums overlapping groups. Oracle = the full
    // recompute the merge must equal.
    "q_incr_agg" -> { t =>
      import org.apache.spark.sql.functions._
      val cutoffDay = 19745L
      val e = t.events.select(
        expr("(ts div 86400000000000) div 7").as("week"),
        expr("ts div 86400000000000").as("day"),
        col("event_type"), col("value"))
      def agg(df: DataFrame) = df.groupBy("week", "event_type")
        .agg(count(lit(1)).as("cnt"), sum("value").as("sum_value"))
      val base = agg(e.where(col("day") < cutoffDay))
      val delta = agg(e.where(col("day") >= cutoffDay))
      PipelineOps.mergeAggregates(base, delta,
          keyCols = Seq("week", "event_type"), sumCols = Seq("cnt", "sum_value"))
        .select(col("week"), col("event_type"), col("cnt"),
          round(col("sum_value"), 2).as("sum_value"))
        .orderBy("week", "event_type")
    },

    // Per-group top-k via the bounded-state typed aggregator: O(k) buffer,
    // partial-merge, map-side combine — the shuffle carries ≤ k rows per
    // (partition, group) where the window formulation sorts whole groups.
    "q_topk_group" -> { t =>
      import org.apache.spark.sql.functions._
      val s = t.spark
      import s.implicits._
      t.orders.select(col("o_orderpriority"), col("o_totalprice"), col("o_orderkey"))
        .as[(String, Double, Long)]
        .groupByKey(_._1)
        .mapValues(r => (r._2, r._3))
        .agg(new graft.functions.TopKAggregator(5).toColumn.name("top"))
        .toDF("o_orderpriority", "top")
        .select(col("o_orderpriority"), posexplode(col("top")))
        .select(col("o_orderpriority"), (col("pos") + 1).cast("long").as("rk"),
          col("col._1").as("o_totalprice"), col("col._2").as("o_orderkey"))
        .orderBy("o_orderpriority", "rk")
    },

    // Market-basket association rules over co-purchased parts: top pairs by
    // lift (deterministic tie-break on keys). Ratios are exact-integer
    // divisions, so the double ordering is bit-identical cross-engine.
    "q_market_basket" -> { t =>
      import org.apache.spark.sql.functions._
      GraphOps.associationRules(t.lineitem, "l_orderkey", "l_partkey")
        .orderBy(desc("lift"), col("src"), col("dst"))
        .limit(20)
    },

    // 2-D skyline: orders not strictly dominated on (totalprice, orderdate)
    // — "no other order is both more valuable and more recent". Distributed
    // two-level prefix max, no global window.
    "q_skyline" -> { t =>
      ParetoOps.skyline2d(t.orders.select("o_orderkey", "o_totalprice", "o_orderdate"),
          xCol = "o_totalprice", yCol = "o_orderdate", bucketWidth = 10000.0)
        .select("o_orderkey", "o_totalprice", "o_orderdate")
        .orderBy("o_orderkey")
    },

    // Lag-1/lag-7 autocorrelation of the daily event-count series —
    // day-over-day persistence and weekly seasonality in one pass.
    "q_autocorr" -> { t =>
      import org.apache.spark.sql.functions._
      val daily = t.events
        .groupBy(expr("ts div 86400000000000").as("day"))
        .agg(count(lit(1)).cast("double").as("cnt"))
      TimeSeriesOps.autocorr(daily, ordCol = "day", valCol = "cnt", lags = Seq(1, 7))
    },

    // Per-user EWMA of event values (α = 0.5) — the sequential-recurrence
    // time-series op: a per-key sort + left fold, dyadic α so every step is
    // exact FP scaling and the fold reproduces bitwise in the oracle's
    // list_reduce. Ordered by event_id (ingestion order): a total order
    // both engines agree on, unlike sub-µs timestamps.
    "q_ewma" -> { t =>
      TimeSeriesOps.ewma(t.events, keyCol = "user_id", ordCol = "event_id",
          valCol = "value", alpha = 0.5)
        .orderBy("user_id")
    },

    // Per-part triangle counts over the SUPPORT-THRESHOLDED co-purchase
    // backbone (pairs co-bought ≥ 2 times — single co-occurrences are
    // sampling noise whose count grows linearly with data, while repeated
    // pairs are the stable signal): community cohesion via the
    // degree-ordered (compact-forward) orientation, whose O(m^1.5) wedge
    // bound survives power-law hubs at scale.
    "q_triangle_count" -> { t =>
      import org.apache.spark.sql.functions.col
      GraphOps.triangleCounts(
          GraphOps.coOccurrenceEdges(t.lineitem, "l_orderkey", "l_partkey")
            .where(col("w") >= 2))
        .orderBy("node")
    },

    // Watts–Strogatz local clustering coefficient over the same backbone:
    // 2·tri/(d·(d−1)) per degree-≥2 node, exact integers, one division.
    "q_clustering_coeff" -> { t =>
      import org.apache.spark.sql.functions.col
      GraphOps.clusteringCoefficient(
          GraphOps.coOccurrenceEdges(t.lineitem, "l_orderkey", "l_partkey")
            .where(col("w") >= 2))
        .orderBy("node")
    },

    // Bounded-cost backbone variants (r13 VERDICT #5): exact triangle
    // counts / coefficients on the subgraph induced by nodes of backbone
    // degree ≤ 8 — hubs excluded, so wedge volume is bounded by m·cap and
    // the densifying-backbone growth at 100× facts can't blow the budget.
    // Cap = 8 deliberately BITES at sf0.01 (backbone max degree 13, 50
    // nodes over) so the capped semantics are oracle-tested, not
    // vacuously ≡ the exact variant.
    "q_triangle_capped" -> { t =>
      import org.apache.spark.sql.functions.col
      GraphOps.triangleCountsCapped(
          GraphOps.coOccurrenceEdges(t.lineitem, "l_orderkey", "l_partkey")
            .where(col("w") >= 2), maxDegree = 8)
        .orderBy("node")
    },

    "q_clustering_capped" -> { t =>
      import org.apache.spark.sql.functions.col
      GraphOps.clusteringCoefficientCapped(
          GraphOps.coOccurrenceEdges(t.lineitem, "l_orderkey", "l_partkey")
            .where(col("w") >= 2), maxDegree = 8)
        .orderBy("node")
    },

    // DOULION global-triangle estimator at p = 1/2: deterministic md5 coin
    // per canonical edge, exact closure on the sample, ×8 integer scale-up.
    // The second bounded-cost mode (degree cap = exact on a subgraph;
    // this = unbiased estimate of the FULL count) — estimator semantics
    // documented on the operator. 1-row output, exact integers.
    "q_triangle_doulion" -> { t =>
      import org.apache.spark.sql.functions.col
      GraphOps.triangleCountGlobalSampled(
        GraphOps.coOccurrenceEdges(t.lineitem, "l_orderkey", "l_partkey")
          .where(col("w") >= 2), shift = 1)
    },

    // Distribution drift between corpus snapshots: PSI of the value column,
    // first ingest half (by event id) vs second, 10 fixed-width bins with
    // dyadic Laplace smoothing so empty bins stay finite AND shares stay
    // bitwise-reproducible. The split threshold rides as a broadcast 1-row
    // aggregate — no driver scalar.
    "q_psi" -> { t =>
      import org.apache.spark.sql.functions._
      val m = broadcast(t.events.agg(max(col("event_id")).as("__m")))
      val withM = t.events.crossJoin(m)
      val ref = withM.where(col("event_id") * 2 <= col("__m"))
      val cur = withM.where(col("event_id") * 2 > col("__m"))
      QualityOps.psi(ref, cur, "value", lo = 0.0, width = 50.0, nBins = 10)
        .orderBy("bin")
    },

    // Embedding-space drift between ingest halves (by vec_id parity):
    // per-dimension mean shift — the vector-space counterpart of q_psi.
    "q_embedding_drift" -> { t =>
      import org.apache.spark.sql.functions._
      val ref = t.embeddings.where(col("vec_id") % 2 === 0)
      val cur = t.embeddings.where(col("vec_id") % 2 =!= 0)
      QualityOps.embeddingDrift(ref, cur).orderBy("dim")
    },

    // Per-user one-sided CUSUM drift score at target 50 / slack 0.25 —
    // the changepoint-monitoring op (Page 1954): persistent upward shift
    // accumulates, in-control noise resets to 0. Same order-pinned fold
    // contract as q_ewma (explicit 0 seed, left-associated subtraction),
    // so the score reproduces bitwise in the oracle's list_reduce.
    "q_cusum" -> { t =>
      TimeSeriesOps.cusum(t.events, keyCol = "user_id", ordCol = "event_id",
          valCol = "value", target = 50.0, slack = 0.25, h = 100.0)
        .orderBy("user_id")
    },

    // Changepoint LOCATOR (q_cusum is the alarm, this is the "where"):
    // per event type, the hourly-volume split maximizing the
    // between-segment statistic — binary segmentation's first split.
    // Prefix sums exact integers; G one fixed double expression;
    // earliest-bucket tie-break.
    "q_changepoint" -> { t =>
      TimeSeriesOps.changePoint(t.events, "event_type", "ts",
          bucketNs = 3600L * 1000 * 1000 * 1000)
        .orderBy("event_type")
    },

    // Weighted PageRank over the part co-purchase graph (parts sharing an
    // order), 5 power iterations — the iterative-graph-analytics surface.
    "q_pagerank" -> { t =>
      GraphOps.pageRank(
          GraphOps.coOccurrenceEdges(t.lineitem, "l_orderkey", "l_partkey"),
          iterations = 5)
        .orderBy("node")
    },

    // 2-core of the support-≥2 co-purchase backbone (the q_triangle_count
    // graph): iterative peel to fixpoint, degree reported within the core.
    "q_kcore" -> { t =>
      import org.apache.spark.sql.functions.col
      GraphOps.kCore(
          GraphOps.coOccurrenceEdges(t.lineitem, "l_orderkey", "l_partkey")
            .where(col("w") >= 2),
          k = 2)
        .orderBy("node")
    },

    // Link prediction on the support-≥2 co-purchase backbone: every
    // non-adjacent part pair sharing a neighbour, scored by common
    // neighbours, Jaccard, Adamic–Adar, resource allocation. minCommon=1
    // keeps the candidate table non-degenerate at every SF (the sf0.1
    // backbone is sparse); maxDegree caps the wedge blow-up.
    "q_link_predict" -> { t =>
      import org.apache.spark.sql.functions.col
      GraphOps.linkPrediction(
          GraphOps.coOccurrenceEdges(t.lineitem, "l_orderkey", "l_partkey")
            .where(col("w") >= 2),
          minCommon = 1, maxDegree = 100)
        .orderBy("x", "y")
    },

    // Bounded-depth BFS reachability from the support-≥2 backbone's minimum
    // node: min-hop distance per node within 3 hops. The depth is fixed, so
    // the walk is three frontier joins over the edges, materialized once
    // (otherwise each hop re-runs the quadratic co-occurrence build). A
    // frontier carries walks, not distinct nodes: a per-frontier distinct
    // cost more heap than the duplicate rows it drops.
    "q_graph_reach" -> { t =>
      import org.apache.spark.sql.functions.{col, lit, min}
      val edges = GraphOps.coOccurrenceEdges(t.lineitem, "l_orderkey", "l_partkey")
        .where(col("w") >= 2)
        .select(col("src").as("node"), col("dst"))
        .ckpt(true)
      val seed = edges.agg(min("node").as("node"))
      val frontiers = (1 to 3).scanLeft(seed) { (f, _) =>
        f.join(edges, "node").select(col("dst").as("node"))
      }
      frontiers.zipWithIndex
        .map { case (f, d) => f.withColumn("d", lit(d.toLong)) }
        .reduce(_ union _)
        .groupBy("node").agg(min("d").as("hops"))
        .orderBy("node")
    },

    // Additive seasonal decomposition of the hourly event-count series per
    // event type: seasonal-means over a 24-hour period + a 25-point
    // centered-MA trend; resid is the de-seasonalized surprise. Every
    // estimate is one division of an exact integer sum (determinism
    // contract in TimeSeriesOps).
    "q_seasonal_decompose" -> { t =>
      TimeSeriesOps.seasonalDecompose(t.events, "event_type", "ts",
          bucketNs = 3600L * 1000 * 1000 * 1000, period = 24, halfWindow = 12)
        .orderBy("event_type", "bucket_ns")
    },

    // Equal-frequency (decile) binning of the value distribution — the
    // feature-prep quantile transform: boundaries from ONE exactQuantiles
    // pass (distribution-safe crossover at scale), broadcast back as a
    // 1-row bound set, bin assignment pure codegen comparisons.
    "q_quantile_bins" -> { t =>
      import org.apache.spark.sql.functions._
      val ps = (1 to 9).map(i => s"q$i" -> i / 10.0)
      val bounds = QuantileOps.exactQuantiles(
        t.events.select(lit(1).as("g"), col("value")), "g", "value",
        ps = ps, scale = 6)
      val bin = (1 to 9).map(i =>
        when(col("value") > col(s"q$i"), 1).otherwise(0))
        .reduce(_ + _) + lit(1)
      t.events.where(col("value").isNotNull)
        .crossJoin(broadcast(bounds.drop("g")))
        .groupBy(bin.cast("long").as("bin"))
        .agg(count(lit(1)).as("n"),
          round(min(col("value")), 2).as("min_v"),
          round(max(col("value")), 2).as("max_v"))
        .orderBy("bin")
    },

    // Revenue concentration (Pareto/80-20 curve): per-user purchase
    // revenue in exact cents, users bucketed into revenue deciles via
    // broadcast exactQuantiles boundaries (no global rank over the user
    // relation), per-decile share and cumulative share as single
    // divisions of exact integer sums.
    "q_pareto_users" -> { t =>
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.functions._
      val rev = t.events
        .where(col("event_type") === "purchase" && col("value").isNotNull)
        .groupBy("user_id")
        .agg(sum(round(col("value") * 100).cast("long")).as("cents"))
      val ps = (1 to 9).map(i => s"q$i" -> i / 10.0)
      val bounds = QuantileOps.exactQuantiles(
        rev.select(lit(1).as("g"), col("cents").cast("double").as("v")),
        "g", "v", ps = ps, scale = 6)
      val bin = (1 to 9).map(i =>
        when(col("cents").cast("double") > col(s"q$i"), 1).otherwise(0))
        .reduce(_ + _) + lit(1)
      val cells = rev.crossJoin(broadcast(bounds.drop("g")))
        .groupBy(bin.cast("long").as("bin"))
        .agg(count(lit(1)).as("n_users"), sum("cents").as("cents"))
      val w = Window.orderBy("bin") // ≤10-row decile rollup
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val total = cells.agg(sum("cents").as("total"))
      cells
        .withColumn("cum_cents", sum("cents").over(w))
        .crossJoin(broadcast(total))
        .select(col("bin"), col("n_users"),
          round(col("cents") / 100.0, 2).as("revenue"),
          round(col("cents") / col("total").cast("double"), 6).as("share"),
          round(col("cum_cents") / col("total").cast("double"), 6).as("cum_share"))
        .orderBy("bin")
    },

    // Cohort lifetime value: weekly signup cohorts × age, purchase revenue
    // in EXACT integer cents (2-dp source data) with the running LTV as an
    // integer cumulative sum over the calendar-sized cohort×age rollup.
    "q_cohort_ltv" -> { t =>
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.functions._
      val dayNs = 86400000000000L
      val e = t.events.withColumn("day", expr(s"(ts - ts % 1000) div ${dayNs}L"))
      val cohort = e.groupBy("user_id").agg(min("day").as("cohort_day"))
      val cells = e.join(cohort, "user_id")
        .where(col("event_type") === "purchase" && col("value").isNotNull)
        .groupBy(expr("cohort_day div 7").as("cohort_week"),
          expr("(day - cohort_day) div 7").as("age_weeks"))
        .agg(count(lit(1)).as("n_purchases"),
          sum(round(col("value") * 100).cast("long")).as("cents"))
      val w = Window.partitionBy("cohort_week").orderBy("age_weeks")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      cells
        .withColumn("cum_cents", sum("cents").over(w))
        .select(col("cohort_week"), col("age_weeks"), col("n_purchases"),
          round(col("cents") / 100.0, 2).as("revenue"),
          round(col("cum_cents") / 100.0, 2).as("cum_ltv"))
        .orderBy("cohort_week", "age_weeks")
    },

    // Theil–Sen robust trend of daily volume per event type: median of
    // all pairwise slopes + median-residual intercept — the outlier-proof
    // volume-trend estimator; pair volume is calendar-quadratic only.
    "q_theil_sen" -> { t =>
      TimeSeriesOps.theilSen(t.events, "event_type", "ts")
        .orderBy("event_type")
    },

    // Inter-arrival profile per event type: mean/max gap, CV, and the
    // Goh–Barabási burstiness score from exact decimal gap sums — the
    // steady-drip vs correlated-bursts feed fingerprint.
    "q_interarrival" -> { t =>
      TimeSeriesOps.interArrival(t.events, "event_type", "ts", "event_id")
        .orderBy("event_type")
    },

    // Lead–lag cross-correlation: does hourly click volume lead purchase
    // volume? Pearson r of (clicks_t, purchases_{t+lag}) for lag −6..6
    // over the zero-filled hourly grid; six exact-integer sufficient
    // statistics per lag, one division + one IEEE sqrt.
    "q_crosscorr" -> { t =>
      import org.apache.spark.sql.functions.col
      TimeSeriesOps.crossCorrelation(t.events, "ts",
          bucketNs = 3600L * 1000 * 1000 * 1000,
          isX = col("event_type") === "click",
          isY = col("event_type") === "purchase",
          maxLag = 6)
        .orderBy("lag")
    },

    // Median/MAD robust outlier screen of event values per type (modified
    // z-score at the standard 3.5 cutoff) — the heavy-tail-safe
    // counterpart of q_anomaly_zscore's mean/stddev scoring.
    "q_robust_outliers" -> { t =>
      QuantileOps.robustOutliers(t.events, "event_type", "event_id", "value",
          cutoff = 3.5)
        .orderBy("event_type", "event_id")
    }
  )

  /** DuckDB lacks recursive aggregation, so the PageRank oracle unrolls the
    * power iteration as chained CTEs — generated, not hand-written, so the
    * iteration count stays in one place.
    */
  private def pagerankOracleSql(iters: Int): String = {
    val base =
      """WITH g AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |e0 AS (
        |  SELECT a.l_partkey AS src, b.l_partkey AS dst, CAST(count(*) AS DOUBLE) AS w
        |  FROM g a JOIN g b ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
        |  GROUP BY 1, 2),
        |ow AS (SELECT src, sum(w) AS ow FROM e0 GROUP BY src),
        |e AS (SELECT e0.src, e0.dst, e0.w / ow.ow AS frac FROM e0 JOIN ow ON e0.src = ow.src),
        |nodes AS (SELECT DISTINCT src AS node FROM e),
        |nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
        |r0 AS (SELECT node, 1.0 / (SELECT n FROM nn) AS pr FROM nodes)""".stripMargin
    val iterCtes = (1 to iters).map { i =>
      s""", r$i AS (
         |  SELECT nodes.node, 0.15 / (SELECT n FROM nn) + 0.85 * coalesce(c.c, 0) AS pr
         |  FROM nodes LEFT JOIN (
         |    SELECT e.dst, sum(e.frac * r.pr) AS c
         |    FROM e JOIN r${i - 1} r ON e.src = r.node GROUP BY e.dst) c
         |  ON nodes.node = c.dst)""".stripMargin
    }.mkString
    (base + iterCtes +
      s" SELECT node, round(pr * (SELECT n FROM nn), 6) AS rank_ratio" +
      s" FROM r$iters ORDER BY node").replaceAll("\\s+", " ")
  }

  /** DuckDB lacks iterate-to-fixpoint recursion with shrinking sets, so the
    * k-core oracle unrolls the synchronous peel as chained CTEs — generated,
    * like the PageRank oracle, so the round bound stays in one place. The
    * peel is monotone, so any round count ≥ the true peel depth yields the
    * fixpoint; `rounds` carries >2× headroom over the measured depth at
    * sf0.1 (5), and the engine side converges by probe, so a depth beyond
    * the bound would surface as an oracle mismatch, never silently.
    */
  private def kcoreOracleSql(k: Int, rounds: Int): String = {
    // AS MATERIALIZED is load-bearing: each peel references its predecessor
    // three times, so DuckDB's default CTE inlining would expand the chain
    // ~5^rounds-fold (observed as an fd-exhaustion error on the base scan).
    val base =
      """WITH g AS (SELECT DISTINCT l_orderkey AS grp, l_partkey AS item FROM lineitem),
        |e0 AS MATERIALIZED (SELECT a.item AS u, b.item AS v
        |  FROM g a JOIN g b ON a.grp = b.grp AND a.item < b.item
        |  GROUP BY 1, 2 HAVING count(*) >= 2)""".stripMargin
    val peels = (1 to rounds).map { i =>
      s""", n$i AS MATERIALIZED (SELECT n FROM (
         |    SELECT u AS n FROM e${i - 1} UNION ALL SELECT v FROM e${i - 1})
         |  GROUP BY n HAVING count(*) >= $k),
         |e$i AS MATERIALIZED (SELECT e.u, e.v FROM e${i - 1} e
         |  JOIN n$i a ON a.n = e.u JOIN n$i b ON b.n = e.v)""".stripMargin
    }.mkString
    (base + peels +
      s" SELECT n AS node, CAST(count(*) AS BIGINT) AS deg FROM (" +
      s" SELECT u AS n FROM e$rounds UNION ALL SELECT v FROM e$rounds)" +
      s" GROUP BY n ORDER BY node").replaceAll("\\s+", " ")
  }

  /** The q_triangle_count / q_clustering_coeff oracle with ONE extra
    * induced-subgraph stage mirroring the engine's cappedUndirected:
    * keep = backbone nodes of degree ≤ cap, e = edges with BOTH endpoints
    * kept; everything downstream (degrees, orientation, wedge join,
    * closure) re-derives on the capped subgraph. Pure integer counting. */
  private def cappedTriangleOracle(cap: Int, coeff: Boolean): String = {
    val base =
      s"""WITH g AS (SELECT DISTINCT l_orderkey AS grp, l_partkey AS item FROM lineitem),
         |e0 AS (SELECT a.item AS a, b.item AS b
         |  FROM g a JOIN g b ON a.grp = b.grp AND a.item < b.item
         |  GROUP BY 1, 2 HAVING count(*) >= 2),
         |deg0 AS (SELECT n, count(*) AS d FROM (
         |  SELECT a AS n FROM e0 UNION ALL SELECT b AS n FROM e0) GROUP BY n),
         |keep AS (SELECT n FROM deg0 WHERE d <= $cap),
         |e AS (SELECT e0.a AS a, e0.b AS b FROM e0
         |  JOIN keep ka ON ka.n = e0.a JOIN keep kb ON kb.n = e0.b),
         |deg AS (SELECT n, count(*) AS d FROM (
         |  SELECT a AS n FROM e UNION ALL SELECT b AS n FROM e) GROUP BY n),
         |o AS (SELECT
         |  CASE WHEN da.d < db.d OR (da.d = db.d AND e.a < e.b)
         |    THEN e.a ELSE e.b END AS u,
         |  CASE WHEN da.d < db.d OR (da.d = db.d AND e.a < e.b)
         |    THEN e.b ELSE e.a END AS v,
         |  CASE WHEN da.d < db.d OR (da.d = db.d AND e.a < e.b)
         |    THEN db.d ELSE da.d END AS dv
         |  FROM e JOIN deg da ON da.n = e.a JOIN deg db ON db.n = e.b),
         |t AS (SELECT w1.u, w1.v AS x, w2.v AS y
         |  FROM o w1 JOIN o w2 ON w1.u = w2.u
         |    AND (w1.dv < w2.dv OR (w1.dv = w2.dv AND w1.v < w2.v))
         |  JOIN o cl ON cl.u = w1.v AND cl.v = w2.v),
         |nodes AS (SELECT u AS node FROM t
         |  UNION ALL SELECT x FROM t UNION ALL SELECT y FROM t)""".stripMargin
    val tail =
      if (!coeff)
        """
          |SELECT node, CAST(count(*) AS BIGINT) AS n_tri
          |FROM nodes GROUP BY node ORDER BY node""".stripMargin
      else
        """,
          |tri AS (SELECT node, CAST(count(*) AS BIGINT) AS n_tri
          |  FROM nodes GROUP BY node)
          |SELECT deg.n AS node, CAST(deg.d AS BIGINT) AS degree,
          |  coalesce(tri.n_tri, 0) AS n_tri,
          |  round(2.0 * coalesce(tri.n_tri, 0)
          |    / CAST(deg.d * (deg.d - 1) AS DOUBLE), 6) AS coeff
          |FROM deg LEFT JOIN tri ON tri.node = deg.n
          |WHERE deg.d >= 2 ORDER BY node""".stripMargin
    (base + tail).replaceAll("\\s+", " ")
  }

  val oracles: Map[String, String] = Map(
    "q_kcore" -> kcoreOracleSql(k = 2, rounds = 12),

    "q_triangle_capped" -> cappedTriangleOracle(cap = 8, coeff = false),
    "q_clustering_capped" -> cappedTriangleOracle(cap = 8, coeff = true),

    // Same md5 coin (u < 2^31 ⇔ p = 1/2), same degree-ordered closure on
    // the sampled edge set; t has one row per sampled triangle, ×8 scale.
    "q_triangle_doulion" ->
      """WITH g AS (SELECT DISTINCT l_orderkey AS grp, l_partkey AS item FROM lineitem),
        |e0 AS (SELECT a.item AS a, b.item AS b
        |  FROM g a JOIN g b ON a.grp = b.grp AND a.item < b.item
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |s AS (SELECT a, b FROM e0
        |  WHERE ('0x' || substr(md5(a || ':' || b), 1, 8))::UBIGINT::BIGINT < 2147483648),
        |deg AS (SELECT n, count(*) AS d FROM (
        |  SELECT a AS n FROM s UNION ALL SELECT b AS n FROM s) GROUP BY n),
        |o AS (SELECT
        |  CASE WHEN da.d < db.d OR (da.d = db.d AND s.a < s.b)
        |    THEN s.a ELSE s.b END AS u,
        |  CASE WHEN da.d < db.d OR (da.d = db.d AND s.a < s.b)
        |    THEN s.b ELSE s.a END AS v,
        |  CASE WHEN da.d < db.d OR (da.d = db.d AND s.a < s.b)
        |    THEN db.d ELSE da.d END AS dv
        |  FROM s JOIN deg da ON da.n = s.a JOIN deg db ON db.n = s.b),
        |t AS (SELECT w1.u
        |  FROM o w1 JOIN o w2 ON w1.u = w2.u
        |    AND (w1.dv < w2.dv OR (w1.dv = w2.dv AND w1.v < w2.v))
        |  JOIN o cl ON cl.u = w1.v AND cl.v = w2.v)
        |SELECT CAST(count(*) AS BIGINT) AS n_sampled_tri,
        |  CAST(count(*) * 8 AS BIGINT) AS n_tri_est
        |FROM t""".stripMargin.replaceAll("\\s+", " "),

    // Recursive on purpose: the engine unrolls the depth-3 walk into three
    // joins, so this checks it against an independent formulation.
    "q_graph_reach" ->
      """WITH RECURSIVE gp AS (
        |  SELECT DISTINCT l_orderkey AS grp, l_partkey AS item FROM lineitem),
        |e0 AS (SELECT a.item AS u, b.item AS v
        |  FROM gp a JOIN gp b ON a.grp = b.grp AND a.item < b.item
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |g AS MATERIALIZED (SELECT u AS src, v AS dst FROM e0
        |  UNION ALL SELECT v, u FROM e0),
        |seed AS (SELECT min(src) AS s FROM g),
        |walk(node, d) AS (
        |  SELECT s, 0 FROM seed
        |  UNION ALL
        |  SELECT g.dst, w.d + 1 FROM walk w JOIN g ON g.src = w.node
        |  WHERE w.d < 3)
        |SELECT node, CAST(min(d) AS BIGINT) AS hops FROM walk
        |GROUP BY node ORDER BY node""".stripMargin.replaceAll("\\s+", " "),

    // Wedge pairs through ≤100-degree centers only (mirrors maxDegree);
    // endpoint degrees for Jaccard stay UNcapped. cn and the Jaccard
    // denominator are exact integers; AA/RA compare at 6 dp.
    "q_link_predict" ->
      """WITH g AS (SELECT DISTINCT l_orderkey AS grp, l_partkey AS item FROM lineitem),
        |e AS MATERIALIZED (SELECT a.item AS u, b.item AS v
        |  FROM g a JOIN g b ON a.grp = b.grp AND a.item < b.item
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |adj AS (SELECT u AS n, v AS nb FROM e UNION ALL SELECT v, u FROM e),
        |d AS MATERIALIZED (SELECT n, CAST(count(*) AS BIGINT) AS deg FROM adj GROUP BY n),
        |c AS (SELECT a1.nb AS x, a2.nb AS y, d.deg
        |  FROM adj a1 JOIN adj a2 ON a1.n = a2.n AND a1.nb < a2.nb
        |  JOIN d ON d.n = a1.n WHERE d.deg <= 100),
        |s AS (SELECT x, y, CAST(count(*) AS BIGINT) AS cn,
        |    sum(1.0 / ln(deg)) AS aa, sum(1.0 / deg) AS ra
        |  FROM c GROUP BY x, y HAVING count(*) >= 1),
        |ne AS (SELECT s.* FROM s LEFT JOIN e ON s.x = e.u AND s.y = e.v
        |  WHERE e.u IS NULL)
        |SELECT ne.x, ne.y, ne.cn,
        |  round(CAST(ne.cn AS DOUBLE) / (dx.deg + dy.deg - ne.cn), 6) AS jaccard,
        |  round(ne.aa, 6) AS adamic_adar,
        |  round(ne.ra, 6) AS resource_alloc
        |FROM ne JOIN d dx ON dx.n = ne.x JOIN d dy ON dy.n = ne.y
        |ORDER BY ne.x, ne.y""".stripMargin.replaceAll("\\s+", " "),

    // quantile_cont parity with exactQuantiles is pinned (q_percentiles);
    // boundaries round at 6 dp on both sides BEFORE the bin comparisons.
    "q_quantile_bins" ->
      ("""WITH b AS (SELECT """ +
        (1 to 9).map(i => s"round(quantile_cont(value, 0.$i), 6) AS q$i")
          .mkString(", ") +
        """ FROM events),
        |e AS (SELECT value, 1 + """.stripMargin +
        (1 to 9).map(i => s"(CASE WHEN value > q$i THEN 1 ELSE 0 END)")
          .mkString(" + ") +
        """ AS bin FROM events, b WHERE value IS NOT NULL)
        |SELECT CAST(bin AS BIGINT) AS bin, CAST(count(*) AS BIGINT) AS n,
        |  round(min(value), 2) AS min_v, round(max(value), 2) AS max_v
        |FROM e GROUP BY 1 ORDER BY bin""".stripMargin).replaceAll("\\s+", " "),

    // Decile boundaries over per-user revenue (quantile_cont parity with
    // exactQuantiles); shares divide exact integer cents.
    "q_pareto_users" ->
      ("""WITH rev AS (
        |  SELECT user_id, CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
        |  FROM events WHERE event_type = 'purchase' AND value IS NOT NULL
        |  GROUP BY user_id),
        |b AS (SELECT """.stripMargin +
        (1 to 9).map(i => s"round(quantile_cont(CAST(cents AS DOUBLE), 0.$i), 6) AS q$i")
          .mkString(", ") +
        """ FROM rev),
        |cells AS (
        |  SELECT 1 + """.stripMargin +
        (1 to 9).map(i => s"(CASE WHEN CAST(cents AS DOUBLE) > q$i THEN 1 ELSE 0 END)")
          .mkString(" + ") +
        """ AS bin, CAST(count(*) AS BIGINT) AS n_users,
        |    CAST(sum(cents) AS BIGINT) AS cents
        |  FROM rev, b GROUP BY 1),
        |t AS (SELECT CAST(sum(cents) AS DOUBLE) AS total FROM cells)
        |SELECT CAST(bin AS BIGINT) AS bin, n_users,
        |  round(CAST(cents AS DOUBLE) / 100.0, 2) AS revenue,
        |  round(CAST(cents AS DOUBLE) / total, 6) AS share,
        |  round(CAST(sum(cents) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING)
        |    AS DOUBLE) / total, 6) AS cum_share
        |FROM cells, t ORDER BY bin""".stripMargin).replaceAll("\\s+", " "),

    // Revenue accumulates as exact integer cents; the cumulative window
    // runs over the cohort×age rollup only.
    "q_cohort_ltv" ->
      """WITH e AS (SELECT user_id, event_type, value,
        |    epoch_ns(ts) // 86400000000000 AS day FROM events),
        |c AS (SELECT user_id, min(day) AS cohort_day FROM e GROUP BY user_id),
        |cells AS (
        |  SELECT c.cohort_day // 7 AS cohort_week,
        |    (e.day - c.cohort_day) // 7 AS age_weeks,
        |    CAST(count(*) AS BIGINT) AS n_purchases,
        |    CAST(sum(CAST(round(e.value * 100) AS BIGINT)) AS BIGINT) AS cents
        |  FROM e JOIN c USING (user_id)
        |  WHERE e.event_type = 'purchase' AND e.value IS NOT NULL
        |  GROUP BY 1, 2)
        |SELECT cohort_week, age_weeks, n_purchases,
        |  round(CAST(cents AS DOUBLE) / 100.0, 2) AS revenue,
        |  round(CAST(sum(cents) OVER (PARTITION BY cohort_week ORDER BY age_weeks
        |    ROWS UNBOUNDED PRECEDING) AS DOUBLE) / 100.0, 2) AS cum_ltv
        |FROM cells ORDER BY cohort_week, age_weeks""".stripMargin
        .replaceAll("\\s+", " "),

    // Both medians interpolate like the engine's exactQuantiles (the
    // pinned quantile_cont parity); residuals use the ROUNDED slope on
    // both sides; `+ 0` folds -0.0 on the signables.
    "q_theil_sen" ->
      """WITH c AS (
        |  SELECT event_type AS k, epoch_ns(ts) // 86400000000000 AS d,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2),
        |p AS (SELECT a.k, CAST(b.n - a.n AS DOUBLE) / (b.d - a.d) AS slope
        |  FROM c a JOIN c b ON a.k = b.k AND b.d > a.d),
        |s AS (SELECT k, round(median(slope), 6) + 0 AS sen_slope FROM p GROUP BY k),
        |r AS (SELECT c.k, CAST(c.n AS DOUBLE) - s.sen_slope * c.d AS resid
        |  FROM c JOIN s USING (k)),
        |i AS (SELECT k, round(median(resid), 6) + 0 AS sen_intercept FROM r GROUP BY k),
        |nd AS (SELECT k, CAST(count(*) AS BIGINT) AS n_days FROM c GROUP BY k)
        |SELECT nd.k AS event_type, nd.n_days, s.sen_slope, i.sen_intercept
        |FROM nd JOIN s USING (k) JOIN i USING (k)
        |ORDER BY event_type""".stripMargin.replaceAll("\\s+", " "),

    // Gap sums in HUGEINT (a squared day-long µs gap is past BIGINT);
    // σ² = (n·Σd² − (Σd)²)/n² stays exact until the final CASTs.
    "q_interarrival" ->
      """WITH e AS (
        |  SELECT event_type AS k, epoch_us(ts) AS ts_us, event_id AS id
        |  FROM events),
        |g AS (SELECT k, ts_us - lag(ts_us) OVER
        |    (PARTITION BY k ORDER BY ts_us, id) AS d
        |  FROM e),
        |s AS (SELECT k, CAST(count(*) AS BIGINT) AS n,
        |    sum(CAST(d AS HUGEINT)) AS sd,
        |    sum(CAST(d AS HUGEINT) * d) AS sdd,
        |    CAST(max(d) AS BIGINT) AS max_gap_us
        |  FROM g WHERE d IS NOT NULL GROUP BY k),
        |m AS (SELECT k, n, max_gap_us,
        |    CAST(sd AS DOUBLE) / n AS mu,
        |    sqrt(CAST(n * sdd - sd * sd AS DOUBLE)) / n AS sig
        |  FROM s)
        |SELECT k AS event_type, n AS n_gaps, round(mu, 2) AS mean_gap_us,
        |  max_gap_us,
        |  CASE WHEN mu = 0 THEN NULL ELSE round(sig / mu, 6) END AS cv,
        |  CASE WHEN sig + mu = 0 THEN NULL
        |    ELSE round((sig - mu) / (sig + mu), 6) + 0 END AS burstiness
        |FROM m ORDER BY event_type""".stripMargin.replaceAll("\\s+", " "),

    // Same dense-grid + shifted self-join; the Pearson terms stay integer
    // (HUGEINT) until the final CASTs, matching the engine's decimal path.
    "q_crosscorr" ->
      """WITH c AS (
        |  SELECT epoch_ns(ts) // 3600000000000 AS b,
        |    sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS x,
        |    sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS y
        |  FROM events GROUP BY 1),
        |bounds AS (SELECT min(b) AS lo, max(b) AS hi FROM c),
        |g AS (SELECT unnest(generate_series(lo, hi)) AS b FROM bounds),
        |d AS (SELECT g.b, coalesce(c.x, 0) AS x, coalesce(c.y, 0) AS y
        |  FROM g LEFT JOIN c USING (b)),
        |l AS (SELECT i AS lag FROM range(-6, 7) AS t(i)),
        |s AS (SELECT l.lag, CAST(count(*) AS BIGINT) AS n,
        |    sum(d.x) AS sx, sum(d2.y) AS sy,
        |    sum(d.x * d.x) AS sxx, sum(d2.y * d2.y) AS syy,
        |    sum(d.x * d2.y) AS sxy
        |  FROM l CROSS JOIN d JOIN d d2 ON d2.b = d.b + l.lag
        |  GROUP BY 1)
        |SELECT lag, n,
        |  CASE WHEN n * sxx - sx * sx <= 0 OR n * syy - sy * sy <= 0 THEN NULL
        |    ELSE round(CAST(n * sxy - sx * sy AS DOUBLE)
        |      / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
        |           * CAST(n * syy - sy * sy AS DOUBLE)), 6) + 0 END AS xcorr
        |FROM s ORDER BY lag""".stripMargin.replaceAll("\\s+", " "),

    // Prefix sums / totals exact integers; the G statistic and both means
    // are fixed double expressions of them, mirrored token-for-token.
    // Bucketing uses the explicit floor form (x - pmod(x,N)) // N, not bare
    // `//`: DuckDB `//` truncates toward zero while the engine's floorDiv
    // floors, and they diverge on pre-1970 (negative) ns epochs. The
    // subtraction makes the dividend an exact multiple of N, so `//` on it
    // is sign-safe and stays in exact int64 (no double rounding at ~1e18).
    "q_changepoint" ->
      """WITH c AS (SELECT event_type AS k,
        |    (epoch_ns(ts) - ((epoch_ns(ts) % 3600000000000 + 3600000000000)
        |      % 3600000000000)) // 3600000000000 AS b,
        |    CAST(count(*) AS BIGINT) AS n FROM events GROUP BY 1, 2),
        |w AS (SELECT k, b, n,
        |    CAST(row_number() OVER (PARTITION BY k ORDER BY b) AS BIGINT) AS i,
        |    CAST(sum(n) OVER (PARTITION BY k ORDER BY b
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS lsum,
        |    CAST(count(*) OVER (PARTITION BY k) AS BIGINT) AS nb,
        |    CAST(sum(n) OVER (PARTITION BY k) AS BIGINT) AS tot
        |  FROM c),
        |g AS (SELECT k, b, i, lsum, nb, tot,
        |    CAST(lsum * (nb - i) - (tot - lsum) * i AS DOUBLE) AS num,
        |    CAST(i * (nb - i) AS DOUBLE) AS den
        |  FROM w WHERE i < nb),
        |r AS (SELECT *, num * num / den AS g,
        |    row_number() OVER (PARTITION BY k
        |      ORDER BY num * num / den DESC, b) AS rk FROM g)
        |SELECT k AS event_type, (b + 1) * 3600000000000 AS split_ns,
        |  round(g, 4) AS g_stat,
        |  round(CAST(lsum AS DOUBLE) / i, 6) AS left_mean,
        |  round(CAST(tot - lsum AS DOUBLE) / (nb - i), 6) AS right_mean
        |FROM r WHERE rk = 1 ORDER BY event_type""".stripMargin
        .replaceAll("\\s+", " "),

    // Every estimate is one division of exact integer sums; +0 folds
    // DuckDB's -0.0 rounding artifacts to the engine's 0.0.
    "q_seasonal_decompose" ->
      """WITH c AS (
        |  SELECT event_type AS k, epoch_ns(ts) // 3600000000000 AS bucket,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2),
        |w AS (
        |  SELECT k, bucket, n,
        |    CAST(sum(n) OVER (PARTITION BY k) AS DOUBLE)
        |      / (count(*) OVER (PARTITION BY k)) AS km,
        |    CAST(sum(n) OVER (PARTITION BY k, (bucket % 24 + 24) % 24) AS DOUBLE)
        |      / (count(*) OVER (PARTITION BY k, (bucket % 24 + 24) % 24)) AS pm,
        |    CASE WHEN count(*) OVER ma = 25
        |      THEN CAST(sum(n) OVER ma AS DOUBLE) / 25.0 END AS trend
        |  FROM c
        |  WINDOW ma AS (PARTITION BY k ORDER BY bucket
        |    ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING))
        |SELECT k AS event_type, bucket * 3600000000000 AS bucket_ns, n,
        |  round(pm - km, 6) + 0 AS seasonal,
        |  round(trend, 6) + 0 AS trend,
        |  round(n - (pm - km) - trend, 6) + 0 AS resid
        |FROM w ORDER BY 1, 2""".stripMargin.replaceAll("\\s+", " "),

    // Both medians round at 6 dp BEFORE any arithmetic (the operator's
    // determinism contract); robust_z sits beyond ±3.5 so needs no -0 fold.
    "q_robust_outliers" ->
      """WITH m AS (
        |  SELECT event_type, round(median(value), 6) AS med
        |  FROM events WHERE value IS NOT NULL GROUP BY 1),
        |d AS (
        |  SELECT e.event_type, e.event_id, e.value, m.med,
        |    abs(e.value - m.med) AS dev
        |  FROM events e JOIN m USING (event_type) WHERE e.value IS NOT NULL),
        |md AS (
        |  SELECT event_type, round(median(dev), 6) AS mad FROM d GROUP BY 1)
        |SELECT d.event_type, d.event_id, d.value, d.med, md.mad,
        |  round(0.6745 * (d.value - d.med) / md.mad, 6) AS robust_z
        |FROM d JOIN md USING (event_type)
        |WHERE md.mad > 0 AND abs(0.6745 * (d.value - d.med) / md.mad) > 3.5
        |ORDER BY d.event_type, d.event_id""".stripMargin.replaceAll("\\s+", " "),

    // The weight cascade is GENERATED from the same frozen PoissonThresholds
    // constant the engine folds into its plan — one source of truth; sums
    // are exact longs over cents, each replica mean one division, the CI an
    // exact order statistic of the sorted replica-mean list. The hardcoded
    // CI indices LEAST(1,nr)/LEAST(63,nr) mirror the engine's
    // max(1,floor(.025*64))=1 / min(64,ceil(.975*64))=63 convention — the
    // lower endpoint is the conservative MIN replica mean, documented in
    // StatsOps.bootstrapCi.
    "q_bootstrap_ci" -> {
      val cascade = graft.operators.StatsOps.PoissonThresholds.zipWithIndex
        .map { case (t, k) => s"WHEN u < $t THEN $k" }.mkString(" ")
      s"""WITH base AS (SELECT event_type AS k,
         |    CAST(round(value * 100) AS BIGINT) AS cv,
         |    CAST(event_id AS VARCHAR) AS rid
         |  FROM events WHERE value IS NOT NULL),
         |rep AS (SELECT k, cv, rid, unnest(range(0, 64)) AS rep FROM base),
         |wv AS (SELECT k, rep, cv, CASE $cascade ELSE 9 END AS w
         |  FROM (SELECT k, rep, cv,
         |    ('0x' || substr(md5(rid || ':' || rep), 1, 8))::UBIGINT::BIGINT AS u
         |    FROM rep)),
         |pr AS (SELECT k, rep, sum(w * cv) AS sv, sum(w) AS sw
         |  FROM wv GROUP BY 1, 2),
         |mr AS (SELECT k, CAST(sv AS DOUBLE) / sw / 100.0 AS mean_r
         |  FROM pr WHERE sw > 0),
         |ms AS (SELECT k, list_sort(list(mean_r)) AS ms, count(*) AS nr
         |  FROM mr GROUP BY k),
         |st AS (SELECT k, CAST(count(*) AS BIGINT) AS n, sum(cv) AS sv
         |  FROM base GROUP BY k)
         |SELECT st.k AS event_type, st.n,
         |  round(CAST(st.sv AS DOUBLE) / st.n / 100.0, 6) + 0 AS mean,
         |  round(ms.ms[LEAST(1, ms.nr)], 6) + 0 AS ci_lo,
         |  round(ms.ms[LEAST(63, ms.nr)], 6) + 0 AS ci_hi
         |FROM st JOIN ms ON ms.k = st.k
         |ORDER BY event_type""".stripMargin.replaceAll("\\s+", " ")
    },

    "q_ab_test" ->
      """WITH f AS (
        |  SELECT user_id % 4 AS segment, event_type, value FROM events
        |  WHERE event_type IN ('purchase', 'view')),
        |g AS (
        |  SELECT segment,
        |    CAST(count(*) FILTER (WHERE event_type = 'purchase') AS BIGINT) AS n_a,
        |    CAST(count(*) FILTER (WHERE event_type = 'view') AS BIGINT) AS n_b,
        |    avg(value) FILTER (WHERE event_type = 'purchase') AS m_a,
        |    avg(value) FILTER (WHERE event_type = 'view') AS m_b,
        |    var_samp(value) FILTER (WHERE event_type = 'purchase') AS v_a,
        |    var_samp(value) FILTER (WHERE event_type = 'view') AS v_b
        |  FROM f GROUP BY segment)
        |SELECT segment, n_a, n_b,
        |  round(m_a - m_b, 4) + 0 AS mean_diff,
        |  round((m_a - m_b) / sqrt(v_a / n_a + v_b / n_b), 4) + 0 AS t_stat,
        |  round(pow(v_a / n_a + v_b / n_b, 2) /
        |    (pow(v_a / n_a, 2) / (n_a - 1) + pow(v_b / n_b, 2) / (n_b - 1)), 2) + 0 AS welch_df
        |FROM g ORDER BY segment""".stripMargin.replaceAll("\\s+", " "),

    "q_chi_square" ->
      """WITH cells AS (
        |  SELECT event_type AS r, least(CAST(floor(value / 100) AS BIGINT), 4) AS c,
        |    CAST(count(*) AS DOUBLE) AS o
        |  FROM events GROUP BY 1, 2),
        |m AS (
        |  SELECT o, sum(o) OVER (PARTITION BY r) AS rt, sum(o) OVER (PARTITION BY c) AS ct
        |  FROM cells),
        |t AS (
        |  SELECT sum(o) AS n, count(DISTINCT r) AS nr, count(DISTINCT c) AS nc FROM cells)
        |SELECT round(sum((o - rt * ct / n) * (o - rt * ct / n) / (rt * ct / n)), 6) + 0 AS chi2,
        |  CAST((max(nr) - 1) * (max(nc) - 1) AS BIGINT) AS dof,
        |  CAST(max(n) AS BIGINT) AS n
        |FROM m, t""".stripMargin.replaceAll("\\s+", " "),

    // 2U and the tie term accumulate as exact integers; the z expression
    // mirrors the engine's double arithmetic token-for-token (+0 folds a
    // -0.0 rounding artifact).
    "q_rank_sum" ->
      """WITH e AS (
        |  SELECT value AS v, event_type = 'click' AS ix FROM events
        |  WHERE event_type IN ('click', 'purchase') AND value IS NOT NULL),
        |c AS (SELECT v, sum(CASE WHEN ix THEN 1 ELSE 0 END) AS cx,
        |        sum(CASE WHEN ix THEN 0 ELSE 1 END) AS cy
        |      FROM e GROUP BY v),
        |r AS (SELECT v, cx, cy,
        |    coalesce(sum(cy) OVER (ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS fy
        |  FROM c),
        |t AS (SELECT CAST(sum(cx) AS BIGINT) AS nx, CAST(sum(cy) AS BIGINT) AS ny,
        |    CAST(sum(cx * (2 * fy + cy)) AS DOUBLE) AS u2,
        |    CAST(sum((cx + cy) * (cx + cy) * (cx + cy) - (cx + cy)) AS DOUBLE) AS tt
        |  FROM r),
        |s AS (SELECT nx, ny, u2, tt, CAST(nx + ny AS DOUBLE) AS nn,
        |    CAST(nx AS DOUBLE) AS nxd, CAST(ny AS DOUBLE) AS nyd FROM t),
        |s2 AS (SELECT *, nn + 1.0 - tt / (nn * (nn - 1.0)) AS vterm FROM s)
        |SELECT nx AS n_x, ny AS n_y, round(u2 / 2.0, 4) AS u,
        |  CASE WHEN nx = 0 OR ny = 0 OR vterm <= 0 THEN NULL
        |    ELSE round((u2 - nxd * nyd) / (2.0 * sqrt(nxd * nyd / 12.0 * vterm)), 6) + 0
        |  END AS z
        |FROM s2""".stripMargin.replaceAll("\\s+", " "),

    "q_ks_test" ->
      """WITH e AS (
        |  SELECT value AS v, event_type = 'purchase' AS ia FROM events
        |  WHERE event_type IN ('purchase', 'signup') AND value IS NOT NULL),
        |c AS (SELECT v, sum(CASE WHEN ia THEN 1 ELSE 0 END) AS ca,
        |        sum(CASE WHEN ia THEN 0 ELSE 1 END) AS cb
        |      FROM e GROUP BY v),
        |t AS (SELECT sum(ca) AS n_a, sum(cb) AS n_b FROM c),
        |m AS (SELECT sum(ca) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cum_a,
        |        sum(cb) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cum_b
        |      FROM c)
        |SELECT round(max(abs(cum_a * 1.0 / n_a - cum_b * 1.0 / n_b)), 6) AS ks_stat,
        |  CAST(max(n_a) AS BIGINT) AS n_a, CAST(max(n_b) AS BIGINT) AS n_b
        |FROM m, t""".stripMargin.replaceAll("\\s+", " "),

    // Exact-integer rank sum (2U), one final division — any engine
    // difference in cumulative ordering or tie handling shifts an integer.
    "q_score_auc" ->
      """WITH e AS (
        |  SELECT value AS v, event_type = 'purchase' AS p FROM events
        |  WHERE event_type IS NOT NULL AND value IS NOT NULL),
        |g AS (SELECT v, sum(CASE WHEN p THEN 1 ELSE 0 END) AS np,
        |        sum(CASE WHEN p THEN 0 ELSE 1 END) AS nn
        |      FROM e GROUP BY v),
        |t AS (SELECT sum(np) AS n_pos, sum(nn) AS n_neg FROM g),
        |c AS (SELECT v, np, nn,
        |        coalesce(sum(nn) OVER (ORDER BY v
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
        |      FROM g)
        |SELECT round(sum(np * (2 * cum + nn)) / (2.0 * max(n_pos) * max(n_neg)), 6) + 0
        |    AS auc,
        |  CAST(max(n_pos) AS BIGINT) AS n_pos, CAST(max(n_neg) AS BIGINT) AS n_neg
        |FROM c, t""".stripMargin.replaceAll("\\s+", " "),

    // Mirrors the engine's exact-integer formulation: counts and Σunits
    // per bin, every readout one division; `+ 0` folds -0.0 on the signed
    // gap. cu*10//10000 is integer floor division in both engines.
    "q_calibration" ->
      """WITH e AS (
        |  SELECT least(CAST(round(value * 100) AS BIGINT), 10000) AS cu,
        |    event_type = 'purchase' AS p
        |  FROM events WHERE value IS NOT NULL),
        |b AS (
        |  SELECT least(cu * 10 // 10000, 9) AS bin,
        |    CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CASE WHEN p THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
        |    sum(cu) AS cs
        |  FROM e GROUP BY 1),
        |t AS (SELECT sum(n) AS nn, sum(abs(10000 * n_pos - cs)) AS en FROM b)
        |SELECT bin, n, n_pos,
        |  round(CAST(n_pos AS DOUBLE) / n, 6) AS acc,
        |  round(CAST(cs AS DOUBLE) / (10000.0 * n), 6) AS mean_conf,
        |  round((10000.0 * n_pos - CAST(cs AS DOUBLE)) / (10000.0 * n), 6) + 0 AS gap,
        |  round(CAST(en AS DOUBLE) / (10000.0 * nn), 6) AS ece
        |FROM b, t ORDER BY bin""".stripMargin.replaceAll("\\s+", " "),

    // Same shared-literal expectation table as the engine (no cross-engine
    // log10); (obs-exp)² as an explicit product, pow's ulp freedom avoided.
    "q_benford" ->
      """WITH d AS (
        |  SELECT CAST(substr(CAST(CAST(round(o_totalprice * 100) AS BIGINT)
        |      AS VARCHAR), 1, 1) AS INTEGER) AS digit,
        |    CAST(count(*) AS BIGINT) AS n_obs
        |  FROM orders WHERE o_totalprice IS NOT NULL AND round(o_totalprice * 100) >= 1
        |  GROUP BY 1),
        |p AS (SELECT * FROM (VALUES
        |  (1, 0.3010299956639812), (2, 0.17609125905568124),
        |  (3, 0.12493873660829992), (4, 0.09691001300805642),
        |  (5, 0.07918124604762482), (6, 0.06694678963061322),
        |  (7, 0.05799194697768673), (8, 0.05115252244738129),
        |  (9, 0.04575749056067514)) AS v(digit, p_exp)),
        |t AS (SELECT CAST(sum(n_obs) AS DOUBLE) AS nn FROM d)
        |SELECT d.digit, d.n_obs, round(p.p_exp, 6) AS p_exp,
        |  round(t.nn * p.p_exp, 4) AS n_exp,
        |  round((d.n_obs - t.nn * p.p_exp) * (d.n_obs - t.nn * p.p_exp)
        |    / (t.nn * p.p_exp), 6) AS chi2_term
        |FROM d JOIN p USING (digit), t ORDER BY digit""".stripMargin
        .replaceAll("\\s+", " "),

    // Same windows-over-the-contingency-table shape as q_chi_square; the
    // per-cell entropy terms divide by the other side's cell count so each
    // margin contributes exactly once. `+ 0` guards -0.0 on near-zero MI.
    "q_mutual_info" ->
      """WITH c AS (
        |  SELECT event_type AS a, least(CAST(floor(value / 25) AS BIGINT), 4) AS b,
        |    CAST(count(*) AS DOUBLE) AS nab
        |  FROM events WHERE event_type IS NOT NULL AND value IS NOT NULL
        |  GROUP BY 1, 2),
        |m AS (
        |  SELECT a, b, nab,
        |    sum(nab) OVER (PARTITION BY a) AS na,
        |    sum(nab) OVER (PARTITION BY b) AS nb,
        |    sum(nab) OVER () AS n
        |  FROM c)
        |SELECT round(sum(nab / n * ln(nab * n / (na * nb))), 6) + 0 AS mi_nats,
        |  CASE WHEN least(sum(nab / na * (na / n * -ln(na / n))),
        |                  sum(nab / nb * (nb / n * -ln(nb / n)))) = 0 THEN NULL
        |  ELSE round(sum(nab / n * ln(nab * n / (na * nb))) /
        |    least(sum(nab / na * (na / n * -ln(na / n))),
        |          sum(nab / nb * (nb / n * -ln(nb / n)))), 6) + 0 END AS mi_normalized,
        |  CAST(max(n) AS BIGINT) AS n
        |FROM m""".stripMargin.replaceAll("\\s+", " "),

    "q_scd2" ->
      """WITH e AS (
        |  SELECT user_id, epoch_ns(ts) AS ts_us, event_id, event_type AS state
        |  FROM events),
        |f AS (
        |  SELECT *, CASE WHEN state IS NOT DISTINCT FROM lag(state) OVER
        |    (PARTITION BY user_id ORDER BY ts_us, event_id) THEN 0 ELSE 1 END AS chg
        |  FROM e),
        |i AS (
        |  SELECT *, sum(chg) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
        |    ROWS UNBOUNDED PRECEDING) AS island
        |  FROM f),
        |v AS (
        |  SELECT user_id, state, island, min(ts_us) AS valid_from,
        |    CAST(count(*) AS BIGINT) AS n_events
        |  FROM i GROUP BY user_id, state, island)
        |SELECT user_id, CAST(row_number() OVER w AS BIGINT) AS version, state,
        |  valid_from, lead(valid_from) OVER w AS valid_to, n_events
        |FROM v WINDOW w AS (PARTITION BY user_id ORDER BY valid_from)
        |ORDER BY user_id, version""".stripMargin.replaceAll("\\s+", " "),

    "q_rolling_actives" ->
      """WITH a AS (
        |  SELECT DISTINCT epoch_ns(ts) // 86400000000000 AS day, user_id FROM events),
        |x AS (SELECT user_id, unnest(range(day, day + 7)) AS wday FROM a)
        |SELECT wday AS day, CAST(count(DISTINCT user_id) AS BIGINT) AS actives
        |FROM x GROUP BY wday ORDER BY day""".stripMargin.replaceAll("\\s+", " "),

    "q_anomaly_zscore" ->
      """WITH e AS (
        |  SELECT event_type, epoch_ns(ts) AS ts_us, event_id, value FROM events),
        |w AS (
        |  SELECT *, count(value) OVER win AS pn, avg(value) OVER win AS pm,
        |    stddev_samp(value) OVER win AS ps
        |  FROM e WINDOW win AS (PARTITION BY event_type ORDER BY ts_us, event_id
        |    ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING))
        |SELECT event_type, ts_us, event_id, value,
        |  CASE WHEN pn >= 5 AND ps > 0 THEN round((value - pm) / ps, 4) + 0 END AS z,
        |  coalesce(CASE WHEN pn >= 5 AND ps > 0
        |    THEN abs(round((value - pm) / ps, 4)) > 2.5 END, false) AS is_anomaly
        |FROM w ORDER BY event_type, ts_us, event_id""".stripMargin.replaceAll("\\s+", " "),

    "q_event_transitions" ->
      """WITH e AS (
        |  SELECT user_id, epoch_ns(ts) AS ts_us, event_id, event_type AS src
        |  FROM events),
        |p AS (
        |  SELECT src, lead(src) OVER (
        |    PARTITION BY user_id ORDER BY ts_us, event_id) AS dst
        |  FROM e)
        |SELECT src, dst, CAST(count(*) AS BIGINT) AS cnt FROM p
        |WHERE dst IS NOT NULL GROUP BY src, dst ORDER BY src, dst"""
        .stripMargin.replaceAll("\\s+", " "),

    "q_histogram" ->
      """SELECT CAST(least(greatest(floor((o_totalprice - 0.0) / 50000.0), 0), 9) AS BIGINT) AS bin,
        |CAST(count(*) AS BIGINT) AS cnt,
        |round(min(o_totalprice), 6) AS min_v, round(max(o_totalprice), 6) AS max_v
        |FROM orders WHERE o_totalprice IS NOT NULL
        |GROUP BY 1 ORDER BY bin""".stripMargin.replaceAll("\\s+", " "),

    "q_stat_aggs" ->
      """SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
        |round(corr(l_quantity, l_extendedprice), 4) + 0 AS corr_qp,
        |round(covar_samp(l_quantity, l_extendedprice), 2) + 0 AS covar_qp,
        |round(stddev_samp(l_extendedprice), 4) AS std_price,
        |round(var_samp(l_quantity), 4) AS var_qty,
        |round(regr_slope(l_extendedprice, l_quantity), 4) + 0 AS slope,
        |round(regr_intercept(l_extendedprice, l_quantity), 4) + 0 AS intercept
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""
        .stripMargin.replaceAll("\\s+", " "),

    "q_dq_checks" ->
      """WITH o AS (
        |  SELECT o.*, c.c_custkey AS fk FROM orders o
        |  LEFT JOIN (SELECT DISTINCT c_custkey FROM customer) c
        |    ON o.o_custkey = c.c_custkey),
        |om AS (
        |  SELECT
        |    round(CAST(count(DISTINCT o_orderkey) AS DOUBLE) / count(*), 6) AS orders_pk_unique,
        |    round(avg(CASE WHEN o_custkey IS NOT NULL THEN 1.0 ELSE 0.0 END), 6) AS orders_custkey_complete,
        |    round(avg(CASE WHEN fk IS NOT NULL THEN 1.0 ELSE 0.0 END), 6) AS orders_fk_customer,
        |    round(avg(CASE WHEN o_totalprice > 0 THEN 1.0 ELSE 0.0 END), 6) AS orders_totalprice_positive,
        |    round(avg(CASE WHEN o_orderstatus IN ('O','F','P') THEN 1.0 ELSE 0.0 END), 6) AS orders_status_domain
        |  FROM o),
        |lm AS (
        |  SELECT
        |    round(avg(CASE WHEN l_quantity BETWEEN 1 AND 50 THEN 1.0 ELSE 0.0 END), 6) AS lineitem_qty_range,
        |    round(avg(CASE WHEN l_discount BETWEEN 0 AND 0.1 THEN 1.0 ELSE 0.0 END), 6) AS lineitem_discount_range
        |  FROM lineitem),
        |r AS (
        |  SELECT 'orders_pk_unique' AS check_name, orders_pk_unique AS metric, CAST(1.0 AS DOUBLE) AS threshold FROM om
        |  UNION ALL SELECT 'orders_custkey_complete', orders_custkey_complete, 1.0 FROM om
        |  UNION ALL SELECT 'orders_fk_customer', orders_fk_customer, 1.0 FROM om
        |  UNION ALL SELECT 'orders_totalprice_positive', orders_totalprice_positive, 1.0 FROM om
        |  UNION ALL SELECT 'orders_status_domain', orders_status_domain, 1.0 FROM om
        |  UNION ALL SELECT 'lineitem_qty_range', lineitem_qty_range, 0.99 FROM lm
        |  UNION ALL SELECT 'lineitem_discount_range', lineitem_discount_range, 0.99 FROM lm)
        |SELECT check_name, metric, threshold, metric >= threshold AS pass
        |FROM r ORDER BY check_name""".stripMargin.replaceAll("\\s+", " "),

    // DuckDB's own jaro_winkler_similarity IS the reference the native
    // expression was pinned against — an independent implementation of the
    // same published metric.
    "q_jaro_winkler" ->
      """WITH n AS (
        |  SELECT DISTINCT p_brand || '|' || split_part(p_name, ' ', 1) AS blk,
        |    p_name AS nm
        |  FROM part WHERE p_name IS NOT NULL)
        |SELECT a.blk, a.nm AS nm_a, b.nm AS nm_b,
        |  round(jaro_winkler_similarity(a.nm, b.nm), 6) AS sim
        |FROM n a JOIN n b ON a.blk = b.blk AND a.nm < b.nm
        |WHERE jaro_winkler_similarity(a.nm, b.nm) >= 0.88
        |ORDER BY a.blk, nm_a, nm_b""".stripMargin.replaceAll("\\s+", " "),

    "q_fuzzy_match" ->
      """WITH b AS (
        |  SELECT p_partkey AS k, p_name AS nm,
        |    p_brand || '|' || split_part(p_name, ' ', 1) AS blk
        |  FROM part),
        |j AS (
        |  SELECT a.k AS a_key, c.k AS b_key, levenshtein(a.nm, c.nm) AS d
        |  FROM b a JOIN b c ON a.blk = c.blk AND a.k <> c.k),
        |f AS (
        |  SELECT *, row_number() OVER (PARTITION BY a_key ORDER BY d, b_key) AS rn
        |  FROM j WHERE d <= 3)
        |SELECT a_key, CAST(count(*) AS BIGINT) AS n_matches,
        |  CAST(min(d) AS BIGINT) AS best_dist,
        |  max(CASE WHEN rn = 1 THEN b_key END) AS best_match
        |FROM f GROUP BY a_key ORDER BY a_key""".stripMargin.replaceAll("\\s+", " "),

    "q_pagerank" -> pagerankOracleSql(5),

    "q_incr_agg" ->
      """SELECT (epoch_ns(ts) // 86400000000000) // 7 AS week, event_type,
        |CAST(count(*) AS BIGINT) AS cnt, round(sum(value), 2) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY week, event_type"""
        .stripMargin.replaceAll("\\s+", " "),

    "q_topk_group" ->
      """SELECT o_orderpriority, rk, o_totalprice, o_orderkey FROM (
        |  SELECT o_orderpriority,
        |    CAST(row_number() OVER (PARTITION BY o_orderpriority
        |      ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS rk,
        |    o_totalprice, o_orderkey
        |  FROM orders)
        |WHERE rk <= 5 ORDER BY o_orderpriority, rk""".stripMargin.replaceAll("\\s+", " "),

    "q_market_basket" ->
      """WITH g AS (SELECT DISTINCT l_orderkey AS grp, l_partkey AS item FROM lineitem),
        |n AS (SELECT CAST(count(DISTINCT grp) AS BIGINT) AS n FROM g),
        |ic AS (SELECT item, CAST(count(*) AS BIGINT) AS cnt FROM g GROUP BY 1),
        |e AS (
        |  SELECT a.item AS src, b.item AS dst, CAST(count(*) AS BIGINT) AS pair_cnt
        |  FROM g a JOIN g b ON a.grp = b.grp AND a.item <> b.item GROUP BY 1, 2)
        |SELECT src, dst, pair_cnt,
        |  round(pair_cnt / (SELECT n FROM n), 6) AS support,
        |  round(pair_cnt / sc.cnt, 6) AS confidence,
        |  round((pair_cnt * (SELECT n FROM n)) / (sc.cnt * dc.cnt), 6) AS lift
        |FROM e JOIN ic sc ON e.src = sc.item JOIN ic dc ON e.dst = dc.item
        |ORDER BY lift DESC, src, dst LIMIT 20""".stripMargin.replaceAll("\\s+", " "),

    "q_skyline" ->
      """WITH pmax AS (
        |  SELECT o_totalprice AS x, max(o_orderdate) AS ym FROM orders GROUP BY 1),
        |d AS (
        |  SELECT x, max(ym) OVER (ORDER BY x DESC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS dom
        |  FROM pmax)
        |SELECT o_orderkey, o_totalprice, o_orderdate
        |FROM orders JOIN d ON o_totalprice = d.x
        |WHERE dom IS NULL OR o_orderdate >= dom
        |ORDER BY o_orderkey""".stripMargin.replaceAll("\\s+", " "),

    "q_autocorr" ->
      """WITH daily AS (
        |  SELECT epoch_ns(ts) // 86400000000000 AS day,
        |    CAST(count(*) AS DOUBLE) AS cnt
        |  FROM events GROUP BY 1),
        |l AS (
        |  SELECT cnt, lag(cnt, 1) OVER (ORDER BY day) AS lag1,
        |    lag(cnt, 7) OVER (ORDER BY day) AS lag7
        |  FROM daily)
        |SELECT CAST(count(cnt) AS BIGINT) AS n,
        |  round(corr(cnt, lag1), 6) + 0 AS corr_lag1,
        |  round(corr(cnt, lag7), 6) + 0 AS corr_lag7
        |FROM l""".stripMargin.replaceAll("\\s+", " "),

    // Mirrors the degree-ordered orientation step for step: canonical
    // undirected pairs from shared orders, (deg, id)-ordered orientation,
    // wedge join in the same order, closure probe, explode-count. Pure
    // integer counting — no FP anywhere.
    "q_triangle_count" ->
      """WITH g AS (SELECT DISTINCT l_orderkey AS grp, l_partkey AS item FROM lineitem),
        |e0 AS (SELECT a.item AS a, b.item AS b
        |  FROM g a JOIN g b ON a.grp = b.grp AND a.item < b.item
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |deg AS (SELECT n, count(*) AS d FROM (
        |  SELECT a AS n FROM e0 UNION ALL SELECT b AS n FROM e0) GROUP BY n),
        |o AS (SELECT
        |  CASE WHEN da.d < db.d OR (da.d = db.d AND e0.a < e0.b)
        |    THEN e0.a ELSE e0.b END AS u,
        |  CASE WHEN da.d < db.d OR (da.d = db.d AND e0.a < e0.b)
        |    THEN e0.b ELSE e0.a END AS v,
        |  CASE WHEN da.d < db.d OR (da.d = db.d AND e0.a < e0.b)
        |    THEN db.d ELSE da.d END AS dv
        |  FROM e0 JOIN deg da ON da.n = e0.a JOIN deg db ON db.n = e0.b),
        |t AS (SELECT w1.u, w1.v AS x, w2.v AS y
        |  FROM o w1 JOIN o w2 ON w1.u = w2.u
        |    AND (w1.dv < w2.dv OR (w1.dv = w2.dv AND w1.v < w2.v))
        |  JOIN o cl ON cl.u = w1.v AND cl.v = w2.v),
        |nodes AS (SELECT u AS node FROM t
        |  UNION ALL SELECT x FROM t UNION ALL SELECT y FROM t)
        |SELECT node, CAST(count(*) AS BIGINT) AS n_tri
        |FROM nodes GROUP BY node ORDER BY node""".stripMargin.replaceAll("\\s+", " "),

    // q_triangle_count's oracle + degrees + the coefficient division.
    "q_clustering_coeff" ->
      """WITH g AS (SELECT DISTINCT l_orderkey AS grp, l_partkey AS item FROM lineitem),
        |e0 AS (SELECT a.item AS a, b.item AS b
        |  FROM g a JOIN g b ON a.grp = b.grp AND a.item < b.item
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |deg AS (SELECT n, count(*) AS d FROM (
        |  SELECT a AS n FROM e0 UNION ALL SELECT b AS n FROM e0) GROUP BY n),
        |o AS (SELECT
        |  CASE WHEN da.d < db.d OR (da.d = db.d AND e0.a < e0.b)
        |    THEN e0.a ELSE e0.b END AS u,
        |  CASE WHEN da.d < db.d OR (da.d = db.d AND e0.a < e0.b)
        |    THEN e0.b ELSE e0.a END AS v,
        |  CASE WHEN da.d < db.d OR (da.d = db.d AND e0.a < e0.b)
        |    THEN db.d ELSE da.d END AS dv
        |  FROM e0 JOIN deg da ON da.n = e0.a JOIN deg db ON db.n = e0.b),
        |t AS (SELECT w1.u, w1.v AS x, w2.v AS y
        |  FROM o w1 JOIN o w2 ON w1.u = w2.u
        |    AND (w1.dv < w2.dv OR (w1.dv = w2.dv AND w1.v < w2.v))
        |  JOIN o cl ON cl.u = w1.v AND cl.v = w2.v),
        |nodes AS (SELECT u AS node FROM t
        |  UNION ALL SELECT x FROM t UNION ALL SELECT y FROM t),
        |tri AS (SELECT node, CAST(count(*) AS BIGINT) AS n_tri
        |  FROM nodes GROUP BY node)
        |SELECT deg.n AS node, CAST(deg.d AS BIGINT) AS degree,
        |  coalesce(tri.n_tri, 0) AS n_tri,
        |  round(2.0 * coalesce(tri.n_tri, 0)
        |    / CAST(deg.d * (deg.d - 1) AS DOUBLE), 6) AS coeff
        |FROM deg LEFT JOIN tri ON tri.node = deg.n
        |WHERE deg.d >= 2 ORDER BY node""".stripMargin.replaceAll("\\s+", " "),

    // Counts are integers (exact any order); shares and the (q−p)·ln(q/p)
    // term are computed bin-local with CAST-double smoothing constants
    // (BIGINT + DECIMAL would silently go decimal in DuckDB), so every
    // value matches bitwise before the round.
    "q_embedding_drift" ->
      // round(x,6)+0 normalizes DuckDB's signed zero (Spark's round never
      // emits -0.0 — see the z-score/correlation oracles)
      """WITH e AS (SELECT vec_id % 2 = 0 AS is_ref, unnest(embedding) AS v,
        |generate_subscripts(embedding, 1) AS d FROM embeddings),
        |m AS (SELECT CAST(d - 1 AS BIGINT) AS dim,
        |avg(CASE WHEN is_ref THEN v END) AS mr,
        |avg(CASE WHEN NOT is_ref THEN v END) AS mc
        |FROM e GROUP BY 1)
        |SELECT dim, round(mr, 6) + 0 AS mean_ref, round(mc, 6) + 0 AS mean_cur,
        |round(abs(mr - mc), 6) + 0 AS shift FROM m ORDER BY dim""".stripMargin.replaceAll("\\s+", " "),

    "q_psi" ->
      """WITH m AS (SELECT max(event_id) AS m FROM events),
        |r AS (SELECT least(greatest(CAST(floor((value - 0.0) / 50.0) AS BIGINT), 0), 9) AS bin
        |  FROM events, m WHERE event_id * 2 <= m.m),
        |c AS (SELECT least(greatest(CAST(floor((value - 0.0) / 50.0) AS BIGINT), 0), 9) AS bin
        |  FROM events, m WHERE event_id * 2 > m.m),
        |rb AS (SELECT bin, CAST(count(*) AS BIGINT) AS ref_cnt FROM r GROUP BY bin),
        |cb AS (SELECT bin, CAST(count(*) AS BIGINT) AS cur_cnt FROM c GROUP BY bin),
        |sp AS (SELECT CAST(unnest(range(10)) AS INT) AS bin),
        |rt AS (SELECT CAST(count(*) AS BIGINT) AS rtot FROM r),
        |ct AS (SELECT CAST(count(*) AS BIGINT) AS ctot FROM c),
        |j AS (SELECT sp.bin,
        |  coalesce(rb.ref_cnt, 0) AS ref_cnt, coalesce(cb.cur_cnt, 0) AS cur_cnt,
        |  rt.rtot, ct.ctot
        |  FROM sp LEFT JOIN rb ON sp.bin = rb.bin LEFT JOIN cb ON sp.bin = cb.bin, rt, ct),
        |s AS (SELECT bin, ref_cnt, cur_cnt,
        |  (ref_cnt + CAST(0.5 AS DOUBLE)) / (rtot + CAST(5.0 AS DOUBLE)) AS p,
        |  (cur_cnt + CAST(0.5 AS DOUBLE)) / (ctot + CAST(5.0 AS DOUBLE)) AS q
        |  FROM j)
        |SELECT bin, ref_cnt, cur_cnt, round(p, 6) AS ref_share, round(q, 6) AS cur_share,
        |  round((q - p) * ln(q / p), 6) AS psi_term
        |FROM s ORDER BY bin""".stripMargin.replaceAll("\\s+", " "),

    // Prepending the explicit CAST-double 0 seed makes list_reduce's
    // first-element seeding equal the Spark aggregate's init; each step is
    // greatest(0, acc + ((x − 50) − 0.25)) with the same association, so
    // scores agree bitwise before the round.
    "q_cusum" ->
      """WITH l AS (
        |  SELECT user_id, list(value ORDER BY event_id) AS vs
        |  FROM events GROUP BY user_id),
        |s AS (SELECT user_id, CAST(len(vs) AS BIGINT) AS n_obs,
        |  list_reduce([CAST(0.0 AS DOUBLE)] || vs,
        |    (acc, x) -> greatest(CAST(0.0 AS DOUBLE), acc + ((x - 50.0) - 0.25))) AS sv
        |  FROM l)
        |SELECT user_id, n_obs, round(sv, 6) AS cusum, sv > 100.0 AS drifted
        |FROM s ORDER BY user_id""".stripMargin.replaceAll("\\s+", " "),

    // list_reduce is a left fold seeded with the first element — the same
    // seed/association as the Spark aggregate(), and 0.5·x + 0.5·acc is
    // exact FP scaling at every step, so the folds agree bitwise.
    "q_ewma" ->
      """WITH l AS (
        |  SELECT user_id, list(value ORDER BY event_id) AS vs
        |  FROM events GROUP BY user_id)
        |SELECT user_id, CAST(len(vs) AS BIGINT) AS n_obs,
        |  round(list_reduce(vs, (acc, x) -> 0.5 * x + 0.5 * acc), 6) AS ewma
        |FROM l ORDER BY user_id""".stripMargin.replaceAll("\\s+", " ")
  )
}
