package graft.queries

import graft.GraftSession.Ckpt

import graft.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Relational coverage (SURVEY.md §2b X5-X13): joins (broadcast, semi, anti),
  * hash aggregation, window functions, sorts/limits, set operations, rollup,
  * sessionization, event-time tumbling windows, JSON extraction over the
  * TPC-H-ish star schema + events table.
  *
  * Scale notes (the 100 TB story):
  *  - Star joins broadcast the dimension side (`broadcast(nation)`); the
  *    orders↔customer join is left to AQE, which picks broadcast at test SF
  *    and sort-merge with coalesced partitions at cluster scale.
  *  - Aggregations are partial (map-side combine) by construction; nothing
  *    here collects to the driver.
  *  - Window queries partition by a key (user_id / mktsegment) — no global
  *    single-partition windows.
  */
object RelationalQueries {

  /** 10h session gap in ns — events in the testdata arrive hours apart per
    * user (median per-user gap ≈ 7h), so 30 min would degenerate to
    * one-session-per-event. */
  private val SessionGapNs = 36000000000000L

  /** Events with `tsn` (ts truncated to µs) and a per-user `session_id`:
    * a new session starts at a user's first event and after every gap
    * over [[SessionGapNs]] (lag, then a running sum of the starts) —
    * shared by q_sessionize and q_session_stats. */
  private def sessionized(events: DataFrame): DataFrame = {
    val byTime = Window.partitionBy(col("user_id")).orderBy(col("tsn"))
    val cum = Window.partitionBy(col("user_id")).orderBy(col("tsn"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    events
      .withColumn("tsn", col("ts") - (col("ts") % 1000))
      .withColumn("prev", lag(col("tsn"), 1).over(byTime))
      .withColumn("new_s",
        when(col("prev").isNull || col("tsn") - col("prev") > SessionGapNs, 1).otherwise(0))
      .withColumn("session_id", sum(col("new_s")).over(cum))
  }

  val queries: Map[String, Tables => DataFrame] = Map(
    // X8 — star join: orders→customer (AQE choice) →nation (broadcast).
    "q_join_orders_customer" -> { t =>
      t.orders
        .join(t.customer, col("o_custkey") === col("c_custkey"))
        .join(broadcast(t.nation), col("c_nationkey") === col("n_nationkey"))
        .groupBy("n_name")
        .agg(round(sum(col("o_totalprice")), 2).as("revenue"),
             count(lit(1)).as("n_orders"))
        .orderBy("n_name")
    },

    // X9 — left-semi join: customers having at least one finished order.
    "q_semi_join" -> { t =>
      t.customer
        .join(t.orders.where(col("o_orderstatus") === "F"),
          col("c_custkey") === col("o_custkey"), "left_semi")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    },

    // Bloom-prefiltered semi join (the runtime-filter pattern as an
    // operator): lineitem rows of high-value orders, with the big side
    // pruned map-side by a broadcast Bloom blob over the qualifying order
    // keys BEFORE the exact semi join. No false negatives + exact verify
    // ⇒ the result equals the plain semi join the oracle recomputes.
    "q_bloom_prefilter" -> { t =>
      graft.operators.ScaleOps.bloomSemiJoin(
          t.lineitem.select("l_orderkey", "l_linenumber", "l_extendedprice"), "l_orderkey",
          t.orders.where(col("o_totalprice") > 400000).select("o_orderkey"), "o_orderkey")
        .orderBy("l_orderkey", "l_linenumber")
    },

    // X9b — left-anti join: customers with no finished order.
    "q_anti_join" -> { t =>
      t.customer
        .join(t.orders.where(col("o_orderstatus") === "F"),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    },

    // X10 — TPC-H Q1 shape: wide partial aggregation over lineitem with a
    // pushed-down date predicate. Money arithmetic in EXACT integer cents
    // (the q_cohort_ltv convention): the double-sum form was bit-stable at
    // the graded SFs but the r12 10×-facts probe (6M rows) flipped a 2-dp
    // rounding boundary between Spark's and DuckDB's accumulation orders —
    // the classic FP-reorder-at-scale trap. Per-row products stay inside
    // long (price_cents ≤ ~1e7 × 200 × 200 ≈ 4e11), sums carry in
    // decimal(38,0), and each output is one exact-integer → double
    // division + round, mirrored token-for-token in the oracle.
    "q_pricing_summary" -> { t =>
      def cents(c: org.apache.spark.sql.Column) = round(c * 100).cast("long")
      val qtyC = cents(col("l_quantity"))
      val priceC = cents(col("l_extendedprice"))
      val discC = cents(col("l_discount"))
      val taxC = cents(col("l_tax"))
      def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")
      t.lineitem
        .where(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          sum(dec(qtyC)).as("sq"),
          sum(dec(priceC)).as("sbp"),
          sum(dec(priceC * (lit(100L) - discC))).as("sdp"),
          sum(dec(priceC * (lit(100L) - discC) * (lit(100L) + taxC))).as("sc"),
          sum(dec(discC)).as("sd"),
          count(lit(1)).as("count_order"))
        .select(
          col("l_returnflag"), col("l_linestatus"),
          round(col("sq").cast("double") / 100.0, 2).as("sum_qty"),
          round(col("sbp").cast("double") / 100.0, 2).as("sum_base_price"),
          round(col("sdp").cast("double") / 10000.0, 2).as("sum_disc_price"),
          round(col("sc").cast("double") / 1000000.0, 2).as("sum_charge"),
          round(col("sq").cast("double") / 100.0 / col("count_order"), 4).as("avg_qty"),
          round(col("sd").cast("double") / 100.0 / col("count_order"), 4).as("avg_disc"),
          col("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    },

    // X11 — top-k by sort+limit (TakeOrderedAndProject — no global sort of
    // the full table).
    "q_topk_revenue" -> { t =>
      t.orders
        .select("o_orderkey", "o_totalprice")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(10)
    },

    // X12 — set operations: customer vs supplier nation keys.
    "q_setops" -> { t =>
      val c = t.customer.select(col("c_nationkey").cast("int").as("nationkey")).distinct()
      val s = t.supplier.select(col("s_nationkey").cast("int").as("nationkey")).distinct()
      c.union(s).distinct().withColumn("op", lit("union"))
        .unionByName(c.intersect(s).withColumn("op", lit("intersect")))
        .unionByName(c.except(s).withColumn("op", lit("except")))
        .select("op", "nationkey")
        .orderBy("op", "nationkey")
    },

    // X12b — multiset set operations (ALL variants preserve duplicates).
    "q_setops_all" -> { t =>
      val c = t.customer.select(col("c_nationkey").cast("int").as("nationkey"))
      val s = t.supplier.select(col("s_nationkey").cast("int").as("nationkey"))
      c.intersectAll(s).withColumn("op", lit("intersect_all"))
        .unionByName(c.exceptAll(s).withColumn("op", lit("except_all")))
        .groupBy("op", "nationkey")
        .agg(count(lit(1)).as("n"))
        .orderBy("op", "nationkey")
    },

    // Argmin/argmax aggregation: the order with the highest/lowest price per
    // status (min_by/max_by ↔ DuckDB arg_min/arg_max).
    "q_arg_minmax" -> { t =>
      t.orders
        .groupBy("o_orderstatus")
        .agg(max_by(col("o_orderkey"), struct(col("o_totalprice"), col("o_orderkey"))).as("priciest_order"),
             min_by(col("o_orderkey"), struct(col("o_totalprice"), col("o_orderkey"))).as("cheapest_order"),
             round(max(col("o_totalprice")), 2).as("max_price"))
        .orderBy("o_orderstatus")
    },

    // Ordered string aggregation per region.
    "q_string_agg" -> { t =>
      t.nation
        .groupBy("n_regionkey")
        .agg(concat_ws(",", array_sort(collect_list(col("n_name")))).as("nations"))
        .orderBy("n_regionkey")
    },

    // X13 — rollup over documents; NULL grouping slots coalesced to 'ALL'
    // so no cross-engine null-ordering ambiguity (SURVEY §7.4.4).
    "q_rollup" -> { t =>
      t.documents
        .rollup("lang", "source")
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
        .select(coalesce(col("lang"), lit("ALL")).as("lang"),
                coalesce(col("source"), lit("ALL")).as("source"),
                col("n_docs"), col("sum_chars"))
        .orderBy("lang", "source")
    },

    // Window ranking: top-3 customers by balance per market segment.
    "q_window_rank" -> { t =>
      val w = Window.partitionBy(col("c_mktsegment"))
        .orderBy(col("c_acctbal").desc, col("c_custkey"))
      t.customer
        .withColumn("rn", row_number().over(w).cast("long"))
        .where(col("rn") <= 3)
        .select("c_mktsegment", "rn", "c_custkey", "c_acctbal")
        .orderBy("c_mktsegment", "rn")
    },

    // Analytic window-function surface: lead/lag, first/last, ntile,
    // percent_rank over per-segment balance order.
    "q_window_analytics" -> { t =>
      val w = Window.partitionBy(col("c_mktsegment"))
        .orderBy(col("c_acctbal").desc, col("c_custkey"))
      val wf = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      t.customer.select(
        col("c_custkey"), col("c_mktsegment"),
        lead(col("c_custkey"), 1).over(w).as("next_cust"),
        lag(col("c_custkey"), 1).over(w).as("prev_cust"),
        first(col("c_custkey")).over(wf).as("richest"),
        last(col("c_custkey")).over(wf).as("poorest"),
        ntile(4).over(w).cast("long").as("quartile"),
        round(percent_rank().over(w), 6).as("pct_rank"))
        .orderBy("c_custkey")
    },

    // RANGE window frame over event time: per-user trailing-hour rolling sum
    // (value-based frame; peers at equal ts are included in both engines).
    "q_range_frame" -> { t =>
      val hourNs = 3600L * 1000 * 1000 * 1000
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts_us"))
        .rangeBetween(-hourNs, 0)
      t.events
        .withColumn("ts_us", col("ts") - col("ts") % 1000)
        .select(col("event_id"), col("user_id"),
          round(sum(col("value")).over(w), 6).as("trailing_hr_sum"))
        .orderBy("event_id")
    },

    // Explicit null-ordering semantics (Spark defaults NULLS FIRST asc,
    // DuckDB NULLS LAST — portable sorts must say what they mean).
    "q_null_ordering" -> { t =>
      import org.apache.spark.sql.types.{LongType, StructField, StructType}
      val kSchema = StructType(Seq(StructField("k", LongType)))
      t.events
        .select(col("event_id"),
          from_json(col("props"), kSchema).getField("k").as("k"))
        .orderBy(col("k").asc_nulls_last, col("event_id"))
    },

    // Map-function surface (constructed map, scalar-equivalent oracle).
    "q_map_funcs" -> { t =>
      val m = map(lit("uid"), col("user_id"), lit("eid"), col("event_id"))
      t.events.orderBy("event_id").select(
        col("event_id"),
        element_at(m, "uid").as("uid"),
        size(m).cast("long").as("m_size"),
        concat_ws("|", array_sort(map_keys(m))).as("keys_sorted"),
        aggregate(map_values(m), lit(0L), _ + _).as("vals_sum"),
        map_contains_key(m, "uid").as("has_uid"))
    },

    // Analytic running sum per key in event-time order.
    "q_running_sum" -> { t =>
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t.events
        .select(col("event_id"), col("user_id"),
          round(sum(col("value")).over(w), 2).as("cum_value"))
        .orderBy("event_id")
    },

    // Exact distinct aggregation.
    "q_distinct_users" -> { t =>
      t.events
        .groupBy("event_type")
        .agg(countDistinct(col("user_id")).as("n_users"), count(lit(1)).as("n_events"))
        .orderBy("event_type")
    },

    // Cohort retention: users grouped by first-seen day, distinct actives
    // counted per days-since-cohort — the standard retention matrix. Two
    // aggregations on the user key plus one on the (cohort, age) pair; the
    // cohort table is the distinct-user set (small relative to events) and
    // broadcastable at scale.
    "q_cohort_retention" -> { t =>
      val dayNs = 86400000000000L
      val e = t.events.withColumn("day", expr(s"(ts - ts % 1000) div ${dayNs}L"))
      val cohort = e.groupBy("user_id").agg(min("day").as("cohort_day"))
      e.join(cohort, "user_id")
        .select(col("cohort_day"), (col("day") - col("cohort_day")).as("age_days"), col("user_id"))
        .distinct()
        .groupBy("cohort_day", "age_days")
        .agg(count_distinct(col("user_id")).as("n_users"))
        .orderBy("cohort_day", "age_days")
    },

    // Sequential funnel: per user, the earliest strictly-ordered
    // view → click → purchase chain and the furthest stage reached. Each
    // stage is one aggregation joined back on the user key — no row-by-row
    // state, so the plan is three partial-aggregated shuffles on user_id
    // regardless of event volume. The twice-consumed stage tables (s1, s2
    // feed both the next stage's join and the final assembly; one bounded
    // row per user) are materialized via executor-local checkpoint — without
    // the barrier the re-derivation cascades to 7 event scans for a 3-stage
    // funnel.
    "q_funnel" -> { t =>
      val e = t.events.withColumn("tsn", col("ts") - (col("ts") % 1000))
      val s1 = e.where(col("event_type") === "view")
        .groupBy("user_id").agg(min("tsn").as("t_view"))
        .ckpt(true)
      val s2 = e.join(s1, "user_id")
        .where(col("event_type") === "click" && col("tsn") > col("t_view"))
        .groupBy("user_id").agg(min("tsn").as("t_click"))
        .ckpt(true)
      val s3 = e.join(s2, "user_id")
        .where(col("event_type") === "purchase" && col("tsn") > col("t_click"))
        .groupBy("user_id").agg(min("tsn").as("t_purchase"))
      // (s3 is consumed exactly once — no barrier needed)
      e.select("user_id").distinct()
        .join(s1, Seq("user_id"), "left")
        .join(s2, Seq("user_id"), "left")
        .join(s3, Seq("user_id"), "left")
        .select(col("user_id"), col("t_view"), col("t_click"), col("t_purchase"),
          when(col("t_purchase").isNotNull, 3L)
            .when(col("t_click").isNotNull, 2L)
            .when(col("t_view").isNotNull, 1L)
            .otherwise(0L).as("stage"))
        .orderBy("user_id")
    },

    // X5 — sessionization: gap-based session assignment via lag + cumulative
    // sum, then per-session aggregates. All event-time math on µs-truncated
    // ns longs (see EventQueries.tsUs rationale).
    "q_sessionize" -> { t =>
      sessionized(t.events)
        .groupBy("user_id", "session_id")
        .agg(count(lit(1)).as("n_events"),
             min(col("tsn")).as("start_ts"), max(col("tsn")).as("end_ts"))
        .orderBy("user_id", "session_id")
    },

    // Session-length distribution: the one-row engagement summary over the
    // q_sessionize sessions — session counts, multi-event share input,
    // mean events (one division of exact integers), exact duration
    // quantiles (exactQuantiles, crossover-guarded) and the max. Duration
    // math is integral div on µs-truncated ns.
    "q_session_stats" -> { t =>
      val sessions = sessionized(t.events)
        .groupBy("user_id", "session_id")
        .agg(count(lit(1)).as("n_events"),
          min(col("tsn")).as("st"), max(col("tsn")).as("en"))
        .select(col("n_events"), expr("(en - st) div 1000").as("dur_us"))
        .ckpt(true) // feeds the quantile pass and the summary
      val qs = graft.operators.QuantileOps.exactQuantiles(
        sessions.select(lit(1).as("g"), col("dur_us").cast("double").as("v")),
        // 2 dp, not 6: µs durations reach 10^11, where DuckDB's
        // float-multiply round corrupts x·10⁶ past 2^53 (the
        // q_interarrival lesson); x·10² stays exact
        "g", "v", ps = Seq("p50_dur_us" -> 0.5, "p90_dur_us" -> 0.9), scale = 2)
      sessions.agg(
          count(lit(1)).as("n_sessions"),
          sum(when(col("n_events") > 1, 1L).otherwise(0L)).as("n_multi"),
          sum("n_events").as("se"),
          max("dur_us").as("max_dur_us"))
        .crossJoin(broadcast(qs.drop("g")))
        .select(col("n_sessions"), col("n_multi"),
          round(col("se").cast("double") / col("n_sessions").cast("double"), 6)
            .as("mean_events"),
          col("p50_dur_us"), col("p90_dur_us"), col("max_dur_us"))
    },

    // X6 — event-time tumbling window aggregation via Spark's window()
    // (epoch-aligned hourly buckets), surfaced as epoch-ns starts.
    "q_tumbling_window" -> { t =>
      t.events
        .withColumn("tmu", expr("timestamp_micros(ts div 1000)"))
        .groupBy(window(col("tmu"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .select((unix_micros(col("window.start")) * 1000).as("window_start"),
          col("event_type"), col("n"))
        .orderBy("window_start", "event_type")
    },

    // Sliding (hopping) event-time windows via the native window()
    // generator: each event lands in width/slide overlapping windows.
    "q_sliding_window" -> { t =>
      t.events
        .withColumn("tmu", expr("timestamp_micros(ts div 1000)"))
        .groupBy(window(col("tmu"), "2 hours", "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"), round(avg("value"), 6).as("avg_value"))
        .select((unix_micros(col("window.start")) * 1000).as("window_start"),
          col("event_type"), col("n"), col("avg_value"))
        .orderBy("window_start", "event_type")
    },

    // X7 — JSON props extraction with get_json_object + aggregation.
    "q_json_props" -> { t =>
      t.events
        .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
        .groupBy("event_type")
        .agg(round(avg(col("k")), 4).as("avg_k"), count(lit(1)).as("n"))
        .orderBy("event_type")
    },

    // Date arithmetic + aggregation by year.
    "q_orders_by_year" -> { t =>
      t.orders
        .groupBy(year(col("o_orderdate")).as("yr"))
        .agg(count(lit(1)).as("n_orders"), round(sum(col("o_totalprice")), 2).as("revenue"))
        .orderBy("yr")
    },

    // X13b — full cube over documents (all four grouping sets).
    "q_cube" -> { t =>
      t.documents
        .cube("lang", "source")
        .agg(count(lit(1)).as("n_docs"))
        .select(coalesce(col("lang"), lit("ALL")).as("lang"),
                coalesce(col("source"), lit("ALL")).as("source"),
                col("n_docs"))
        .orderBy("lang", "source")
    },

    // Correlated scalar subquery (Catalyst decorrelates to a join under the
    // hood): customers above their segment's average balance.
    "q_corr_subquery" -> { t =>
      t.customer.createOrReplaceTempView("graft_customer_v")
      t.customer.sparkSession.sql(
        """SELECT c_custkey, c_mktsegment, c_acctbal FROM graft_customer_v c
          |WHERE c_acctbal > (SELECT avg(c2.c_acctbal) FROM graft_customer_v c2
          |                   WHERE c2.c_mktsegment = c.c_mktsegment)
          |ORDER BY c_custkey""".stripMargin)
    },

    // TPC-H Q3 shape: three-way join with selective predicates on both fact
    // sides, aggregation, top-10 by revenue.
    "q_shipping_priority" -> { t =>
      val cutoff = lit("1998-01-01").cast("timestamp")
      t.customer.where(col("c_mktsegment") === "BUILDING")
        .join(t.orders.where(col("o_orderdate") < cutoff),
          col("c_custkey") === col("o_custkey"))
        .join(t.lineitem.where(col("l_shipdate") > cutoff),
          col("o_orderkey") === col("l_orderkey"))
        .groupBy("o_orderkey")
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))
        .orderBy(col("revenue").desc, col("o_orderkey"))
        .limit(10)
    },

    // Approximate distinct (HyperLogLog++ sketch). The sketch estimate
    // itself is engine-specific, so the oracled output is the exact count
    // plus a boolean pinning the estimate inside the sketch's error budget
    // (3× the default 5% relative sd) — the oracle asserts the same exact
    // count and `true`, making the HLL's accuracy contract the thing under
    // test rather than its engine-specific bit pattern.
    "q_approx_distinct" -> { t =>
      t.events
        .groupBy("event_type")
        .agg(
          count_distinct(col("user_id")).as("exact_users"),
          approx_count_distinct(col("user_id")).as("__approx"))
        .select(col("event_type"), col("exact_users"),
          (abs(col("__approx") - col("exact_users")).cast("double") /
            col("exact_users") <= 0.15).as("approx_ok"))
        .orderBy("event_type")
    },

    // X5b — native session windows (session_window merges events closer than
    // the gap): same sessions as the lag+cumsum formulation in q_sessionize,
    // with engine-managed window bounds (end = last event + gap).
    "q_session_window" -> { t =>
      t.events
        .withColumn("tmu", expr("timestamp_micros(ts div 1000)"))
        .groupBy(session_window(col("tmu"), "10 hours"), col("user_id"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("user_id"),
          (unix_micros(col("session_window.start")) * 1000).as("start_ts"),
          (unix_micros(col("session_window.end")) * 1000).as("end_ts"),
          col("n_events"))
        .orderBy("user_id", "start_ts")
    },

    // Z-order (Morton) layout key over (l_partkey, l_suppkey): rows sorted
    // by this value cluster in BOTH dimensions, so file-level min/max stats
    // prune scans for predicates on either key (Delta/Iceberg Z-ORDER). The
    // value is a pure codegen'd shift/mask sum; at write time the engine
    // would repartitionByRange(zval) — here the sorted projection itself is
    // the graded artifact.
    "q_zorder" -> { t =>
      import graft.operators.ScaleOps
      t.lineitem.select(
          col("l_orderkey"), col("l_linenumber"),
          ScaleOps.zorderValue(
            pmod(col("l_partkey"), lit(65536L)),
            pmod(col("l_suppkey"), lit(65536L))).cast("long").as("zval"))
        .orderBy("zval", "l_orderkey", "l_linenumber")
    },

    // Skew-handling path as a graded query: the salted join must produce
    // exactly the plain equi-join result (the oracle is the plain join).
    "q_salted_join" -> { t =>
      graft.operators.ScaleOps.saltedJoin(
          t.orders, t.customer.select("c_custkey", "c_mktsegment")
            .withColumnRenamed("c_custkey", "o_custkey"),
          key = "o_custkey", saltFactor = 8)
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_orders"), round(sum(col("o_totalprice")), 2).as("revenue"))
        .orderBy("c_mktsegment")
    },

    // Range join via bucket banding (preference order (a)): purchases within
    // ±1h of each error, per user. Each side is keyed by an hour bucket and
    // the probe side explodes into its three candidate buckets, so the join
    // is equi on (user, bucket) — never a per-user cross product — and the
    // exact |Δt| predicate filters the band edges. This is the scale shape
    // for time-proximity joins; a naive theta-join would be quadratic per
    // key.
    "q_range_join" -> { t =>
      val bucketNs = 3600000000000L // 1h in ns
      val e = t.events.withColumn("tsn", col("ts") - (col("ts") % 1000))
      val errors = e.where(col("event_type") === "error")
        .select(col("event_id").as("err_id"), col("user_id"), col("tsn").as("err_ts"))
        .withColumn("bucket", expr(s"err_ts div $bucketNs"))
      val purchases = e.where(col("event_type") === "purchase")
        .select(col("user_id"), col("tsn").as("p_ts"))
        .withColumn("b0", expr(s"p_ts div $bucketNs"))
        .select(col("user_id"), col("p_ts"),
          explode(array(col("b0") - 1, col("b0"), col("b0") + 1)).as("bucket"))
      errors
        .join(purchases, Seq("user_id", "bucket"), "left")
        .withColumn("hit",
          when(abs(col("err_ts") - col("p_ts")) <= bucketNs, col("p_ts")))
        .groupBy("err_id")
        .agg(count(col("hit")).as("n_purchases"))
        .orderBy("err_id")
    },

    // As-of lookup by composition (preference order (a) — no custom
    // operator needed): for every event, the latest purchase timestamp of
    // the same user at or before the event.
    "q_asof" -> { t =>
      val w = Window.partitionBy(col("user_id")).orderBy(col("tsn"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t.events
        .withColumn("tsn", col("ts") - (col("ts") % 1000))
        .withColumn("last_purchase_ts",
          max(when(col("event_type") === "purchase", col("tsn"))).over(w))
        .select("event_id", "user_id", "tsn", "last_purchase_ts")
        .orderBy("event_id")
    },

    // SQL surface: the engine accepts raw ANSI SQL via spark.sql over
    // registered views — TPC-H Q5 shape (local-supplier revenue by nation):
    // a 6-table star join where Catalyst plans the dimension broadcasts and
    // join order; nothing is hand-scheduled.
    "q_sql_q5" -> { t =>
      Seq("region" -> t.region, "nation" -> t.nation, "customer" -> t.customer,
        "supplier" -> t.supplier, "orders" -> t.orders, "lineitem" -> t.lineitem)
        .foreach { case (n, df) => df.createOrReplaceTempView(n) }
      t.spark.sql(
        """SELECT n_name,
          |       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
          |       CAST(count(*) AS BIGINT) AS n_lines
          |FROM customer
          |JOIN orders   ON c_custkey = o_custkey
          |JOIN lineitem ON l_orderkey = o_orderkey
          |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
          |JOIN nation   ON s_nationkey = n_nationkey
          |JOIN region   ON n_regionkey = r_regionkey
          |WHERE o_orderdate >= TIMESTAMP '1994-01-01 00:00:00'
          |  AND o_orderdate <  TIMESTAMP '1996-01-01 00:00:00'
          |GROUP BY n_name
          |ORDER BY n_name""".stripMargin)
    },

    // Correlated LATERAL subquery (ANSI SQL surface): per-group top-k as a
    // lateral per-outer-row subplan — Catalyst decorrelates it into a
    // ranked join (DecorrelateInnerQuery), so no per-row re-execution
    // survives into the physical plan; the oracle runs the same LATERAL
    // text through DuckDB's independent decorrelation.
    "q_lateral_topk" -> { t =>
      Seq("region" -> t.region, "nation" -> t.nation, "customer" -> t.customer)
        .foreach { case (n, df) => df.createOrReplaceTempView(n) }
      t.spark.sql(
        """SELECT r.r_name, t.n_name, t.total_bal
          |FROM region r,
          |LATERAL (
          |  SELECT n.n_name, round(sum(c.c_acctbal), 2) AS total_bal
          |  FROM nation n JOIN customer c ON c.c_nationkey = n.n_nationkey
          |  WHERE n.n_regionkey = r.r_regionkey
          |  GROUP BY n.n_name
          |  ORDER BY total_bal DESC, n_name
          |  LIMIT 2
          |) t
          |ORDER BY r.r_name, t.total_bal DESC, t.n_name""".stripMargin)
    }
  )

  val oracles: Map[String, String] = Map(
    "q_join_orders_customer" ->
      """SELECT n_name, round(sum(o_totalprice), 2) AS revenue, count(*) AS n_orders
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin.replaceAll("\\s+", " "),

    "q_semi_join" ->
      """SELECT c_custkey, c_name FROM customer WHERE EXISTS (
        |SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_orderstatus = 'F')
        |ORDER BY c_custkey""".stripMargin.replaceAll("\\s+", " "),

    "q_bloom_prefilter" ->
      """SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem
        |WHERE l_orderkey IN (SELECT o_orderkey FROM orders WHERE o_totalprice > 400000)
        |ORDER BY l_orderkey, l_linenumber""".stripMargin.replaceAll("\\s+", " "),

    "q_anti_join" ->
      """SELECT c_custkey, c_name FROM customer WHERE NOT EXISTS (
        |SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_orderstatus = 'F')
        |ORDER BY c_custkey""".stripMargin.replaceAll("\\s+", " "),

    // Exact integer cents mirrored from the engine: sums are
    // order-independent integers, each output one division + round.
    "q_pricing_summary" ->
      """WITH c AS (SELECT l_returnflag, l_linestatus,
        |  CAST(round(l_quantity * 100) AS BIGINT) AS qc,
        |  CAST(round(l_extendedprice * 100) AS BIGINT) AS pc,
        |  CAST(round(l_discount * 100) AS BIGINT) AS dc,
        |  CAST(round(l_tax * 100) AS BIGINT) AS tc
        |  FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'),
        |a AS (SELECT l_returnflag, l_linestatus,
        |  sum(qc) AS sq, sum(pc) AS sbp,
        |  sum(pc * (100 - dc)) AS sdp,
        |  sum(pc * (100 - dc) * (100 + tc)) AS sc,
        |  sum(dc) AS sd, count(*) AS count_order
        |  FROM c GROUP BY 1, 2)
        |SELECT l_returnflag, l_linestatus,
        |round(CAST(sq AS DOUBLE) / 100.0, 2) AS sum_qty,
        |round(CAST(sbp AS DOUBLE) / 100.0, 2) AS sum_base_price,
        |round(CAST(sdp AS DOUBLE) / 10000.0, 2) AS sum_disc_price,
        |round(CAST(sc AS DOUBLE) / 1000000.0, 2) AS sum_charge,
        |round(CAST(sq AS DOUBLE) / 100.0 / count_order, 4) AS avg_qty,
        |round(CAST(sd AS DOUBLE) / 100.0 / count_order, 4) AS avg_disc,
        |CAST(count_order AS BIGINT) AS count_order
        |FROM a ORDER BY l_returnflag, l_linestatus""".stripMargin.replaceAll("\\s+", " "),

    "q_topk_revenue" ->
      """SELECT o_orderkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin.replaceAll("\\s+", " "),

    "q_setops" ->
      """SELECT op, nationkey FROM (
        |SELECT 'union' AS op, nationkey FROM (
        |  SELECT c_nationkey AS nationkey FROM customer UNION SELECT s_nationkey FROM supplier)
        |UNION ALL
        |SELECT 'intersect', nationkey FROM (
        |  SELECT c_nationkey AS nationkey FROM customer INTERSECT SELECT s_nationkey FROM supplier)
        |UNION ALL
        |SELECT 'except', nationkey FROM (
        |  SELECT c_nationkey AS nationkey FROM customer EXCEPT SELECT s_nationkey FROM supplier))
        |ORDER BY op, nationkey""".stripMargin.replaceAll("\\s+", " "),

    "q_setops_all" ->
      """SELECT op, nationkey, count(*) AS n FROM (
        |SELECT 'intersect_all' AS op, nationkey FROM (
        |  SELECT c_nationkey AS nationkey FROM customer
        |  INTERSECT ALL SELECT s_nationkey FROM supplier)
        |UNION ALL
        |SELECT 'except_all', nationkey FROM (
        |  SELECT c_nationkey AS nationkey FROM customer
        |  EXCEPT ALL SELECT s_nationkey FROM supplier))
        |GROUP BY op, nationkey ORDER BY op, nationkey""".stripMargin.replaceAll("\\s+", " "),

    "q_arg_minmax" ->
      """SELECT o_orderstatus,
        |max(CASE WHEN rmax = 1 THEN o_orderkey END) AS priciest_order,
        |max(CASE WHEN rmin = 1 THEN o_orderkey END) AS cheapest_order,
        |round(max(o_totalprice), 2) AS max_price
        |FROM (
        |SELECT o_orderstatus, o_orderkey, o_totalprice,
        |row_number() OVER (PARTITION BY o_orderstatus
        |  ORDER BY o_totalprice DESC, o_orderkey DESC) AS rmax,
        |row_number() OVER (PARTITION BY o_orderstatus
        |  ORDER BY o_totalprice ASC, o_orderkey ASC) AS rmin
        |FROM orders)
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin.replaceAll("\\s+", " "),

    "q_string_agg" ->
      """SELECT n_regionkey, string_agg(n_name, ',' ORDER BY n_name) AS nations
        |FROM nation GROUP BY n_regionkey ORDER BY n_regionkey""".stripMargin.replaceAll("\\s+", " "),

    "q_rollup" ->
      """SELECT coalesce(lang, 'ALL') AS lang, coalesce(source, 'ALL') AS source,
        |count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM documents GROUP BY ROLLUP (lang, source)
        |ORDER BY lang, source""".stripMargin.replaceAll("\\s+", " "),

    "q_window_rank" ->
      """SELECT c_mktsegment, rn, c_custkey, c_acctbal FROM (
        |SELECT c_mktsegment, c_custkey, c_acctbal,
        |row_number() OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey) AS rn
        |FROM customer) WHERE rn <= 3
        |ORDER BY c_mktsegment, rn""".stripMargin.replaceAll("\\s+", " "),

    "q_window_analytics" ->
      """SELECT c_custkey, c_mktsegment,
        |lead(c_custkey, 1) OVER w AS next_cust,
        |lag(c_custkey, 1) OVER w AS prev_cust,
        |first_value(c_custkey) OVER (PARTITION BY c_mktsegment
        |  ORDER BY c_acctbal DESC, c_custkey
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS richest,
        |last_value(c_custkey) OVER (PARTITION BY c_mktsegment
        |  ORDER BY c_acctbal DESC, c_custkey
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS poorest,
        |CAST(ntile(4) OVER w AS BIGINT) AS quartile,
        |round(percent_rank() OVER w, 6) AS pct_rank
        |FROM customer
        |WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey)
        |ORDER BY c_custkey""".stripMargin.replaceAll("\\s+", " "),

    "q_cohort_retention" ->
      """WITH e AS (SELECT user_id, epoch_ns(ts) // 86400000000000 AS day FROM events),
        |c AS (SELECT user_id, min(day) AS cohort_day FROM e GROUP BY user_id)
        |SELECT cohort_day, age_days, CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
        |FROM (SELECT DISTINCT c.cohort_day, e.day - c.cohort_day AS age_days, e.user_id
        |      FROM e JOIN c USING (user_id))
        |GROUP BY cohort_day, age_days
        |ORDER BY cohort_day, age_days""".stripMargin.replaceAll("\\s+", " "),

    "q_funnel" ->
      """WITH s1 AS (SELECT user_id, min(epoch_ns(ts)) AS t_view FROM events
        |            WHERE event_type = 'view' GROUP BY user_id),
        |s2 AS (SELECT e.user_id, min(epoch_ns(e.ts)) AS t_click FROM events e
        |       JOIN s1 USING (user_id)
        |       WHERE e.event_type = 'click' AND epoch_ns(e.ts) > s1.t_view
        |       GROUP BY e.user_id),
        |s3 AS (SELECT e.user_id, min(epoch_ns(e.ts)) AS t_purchase FROM events e
        |       JOIN s2 USING (user_id)
        |       WHERE e.event_type = 'purchase' AND epoch_ns(e.ts) > s2.t_click
        |       GROUP BY e.user_id)
        |SELECT u.user_id, s1.t_view, s2.t_click, s3.t_purchase,
        |CAST(CASE WHEN s3.t_purchase IS NOT NULL THEN 3
        |          WHEN s2.t_click IS NOT NULL THEN 2
        |          WHEN s1.t_view IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS stage
        |FROM (SELECT DISTINCT user_id FROM events) u
        |LEFT JOIN s1 USING (user_id) LEFT JOIN s2 USING (user_id) LEFT JOIN s3 USING (user_id)
        |ORDER BY user_id""".stripMargin.replaceAll("\\s+", " "),

    "q_range_frame" ->
      """SELECT event_id, user_id,
        |round(sum(value) OVER (PARTITION BY user_id ORDER BY epoch_ns(ts)
        |  RANGE BETWEEN 3600000000000 PRECEDING AND CURRENT ROW), 6) AS trailing_hr_sum
        |FROM events ORDER BY event_id""".stripMargin.replaceAll("\\s+", " "),

    "q_null_ordering" ->
      """SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
        |FROM events
        |ORDER BY k ASC NULLS LAST, event_id""".stripMargin.replaceAll("\\s+", " "),

    "q_map_funcs" ->
      """SELECT event_id, user_id AS uid, CAST(2 AS BIGINT) AS m_size,
        |'eid|uid' AS keys_sorted,
        |user_id + event_id AS vals_sum,
        |true AS has_uid
        |FROM events ORDER BY event_id""".stripMargin.replaceAll("\\s+", " "),

    "q_running_sum" ->
      """SELECT event_id, user_id,
        |round(sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS cum_value
        |FROM events ORDER BY event_id""".stripMargin.replaceAll("\\s+", " "),

    "q_distinct_users" ->
      """SELECT event_type, count(DISTINCT user_id) AS n_users, count(*) AS n_events
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin.replaceAll("\\s+", " "),

    "q_approx_distinct" ->
      """SELECT event_type, count(DISTINCT user_id) AS exact_users, TRUE AS approx_ok
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin.replaceAll("\\s+", " "),

    "q_sessionize" ->
      """SELECT user_id, session_id, count(*) AS n_events,
        |min(tsn) AS start_ts, max(tsn) AS end_ts FROM (
        |SELECT user_id, tsn,
        |CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY tsn
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        |FROM (
        |SELECT user_id, epoch_ns(ts) AS tsn,
        |CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL THEN 1
        |WHEN epoch_ns(ts) - lag(epoch_ns(ts)) OVER (PARTITION BY user_id ORDER BY ts) > 36000000000000 THEN 1
        |ELSE 0 END AS new_s
        |FROM events))
        |GROUP BY user_id, session_id
        |ORDER BY user_id, session_id""".stripMargin.replaceAll("\\s+", " "),

    // Same session derivation as q_sessionize; quantile_cont parity with
    // exactQuantiles is the pinned convention.
    "q_session_stats" ->
      """WITH s AS (
        |SELECT user_id, session_id, CAST(count(*) AS BIGINT) AS n_events,
        |  min(tsn) AS st, max(tsn) AS en FROM (
        |SELECT user_id, tsn,
        |CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY tsn
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        |FROM (
        |SELECT user_id, epoch_ns(ts) AS tsn,
        |CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL THEN 1
        |WHEN epoch_ns(ts) - lag(epoch_ns(ts)) OVER (PARTITION BY user_id ORDER BY ts) > 36000000000000 THEN 1
        |ELSE 0 END AS new_s
        |FROM events))
        |GROUP BY user_id, session_id),
        |d AS (SELECT n_events, (en - st) // 1000 AS dur_us FROM s)
        |SELECT CAST(count(*) AS BIGINT) AS n_sessions,
        |  CAST(sum(CASE WHEN n_events > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_multi,
        |  round(CAST(sum(n_events) AS DOUBLE) / count(*), 6) AS mean_events,
        |  round(quantile_cont(CAST(dur_us AS DOUBLE), 0.5), 2) AS p50_dur_us,
        |  round(quantile_cont(CAST(dur_us AS DOUBLE), 0.9), 2) AS p90_dur_us,
        |  CAST(max(dur_us) AS BIGINT) AS max_dur_us
        |FROM d""".stripMargin.replaceAll("\\s+", " "),

    "q_tumbling_window" ->
      """SELECT (epoch_ns(ts) // 3600000000000) * 3600000000000 AS window_start,
        |event_type, count(*) AS n
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin.replaceAll("\\s+", " "),

    "q_sliding_window" ->
      """WITH x AS (
        |  SELECT unnest([(epoch_ns(ts) // 3600000000000) * 3600000000000,
        |                 (epoch_ns(ts) // 3600000000000 - 1) * 3600000000000])
        |    AS window_start, event_type, value
        |  FROM events)
        |SELECT window_start, event_type, CAST(count(*) AS BIGINT) AS n,
        |  round(avg(value), 6) AS avg_value
        |FROM x GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin.replaceAll("\\s+", " "),

    "q_json_props" ->
      """SELECT event_type,
        |round(avg(CAST(json_extract_string(props, '$.k') AS BIGINT)), 4) AS avg_k,
        |count(*) AS n
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin.replaceAll("\\s+", " "),

    "q_orders_by_year" ->
      """SELECT year(o_orderdate) AS yr, count(*) AS n_orders,
        |round(sum(o_totalprice), 2) AS revenue
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin.replaceAll("\\s+", " "),

    "q_cube" ->
      """SELECT coalesce(lang, 'ALL') AS lang, coalesce(source, 'ALL') AS source,
        |count(*) AS n_docs
        |FROM documents GROUP BY CUBE (lang, source)
        |ORDER BY lang, source""".stripMargin.replaceAll("\\s+", " "),

    "q_corr_subquery" ->
      """SELECT c_custkey, c_mktsegment, c_acctbal FROM customer c
        |WHERE c_acctbal > (SELECT avg(c2.c_acctbal) FROM customer c2
        |                   WHERE c2.c_mktsegment = c.c_mktsegment)
        |ORDER BY c_custkey""".stripMargin.replaceAll("\\s+", " "),

    "q_session_window" ->
      """SELECT user_id, min(tsn) AS start_ts, max(tsn) + 36000000000000 AS end_ts,
        |count(*) AS n_events FROM (
        |SELECT user_id, tsn,
        |CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY tsn
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        |FROM (
        |SELECT user_id, epoch_ns(ts) AS tsn,
        |CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL THEN 1
        |WHEN epoch_ns(ts) - lag(epoch_ns(ts)) OVER (PARTITION BY user_id ORDER BY ts) >= 36000000000000 THEN 1
        |ELSE 0 END AS new_s
        |FROM events))
        |GROUP BY user_id, session_id
        |ORDER BY user_id, start_ts""".stripMargin.replaceAll("\\s+", " "),

    "q_zorder" -> {
      val terms = (0 until 16).map(i =>
        s"((((l_partkey % 65536) >> $i) & 1) << ${2 * i}) + " +
          s"((((l_suppkey % 65536) >> $i) & 1) << ${2 * i + 1})").mkString(" + ")
      s"""SELECT l_orderkey, l_linenumber, CAST($terms AS BIGINT) AS zval
         |FROM lineitem ORDER BY zval, l_orderkey, l_linenumber""".stripMargin.replaceAll("\\s+", " ")
    },

    "q_salted_join" ->
      """SELECT c_mktsegment, count(*) AS n_orders,
        |round(sum(o_totalprice), 2) AS revenue
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin.replaceAll("\\s+", " "),

    "q_range_join" ->
      """SELECT err_id, count(p_ts) AS n_purchases FROM (
        |SELECT e.event_id AS err_id, p.p_ts FROM
        |(SELECT event_id, user_id, epoch_ns(ts) AS tsn FROM events WHERE event_type = 'error') e
        |LEFT JOIN
        |(SELECT user_id, epoch_ns(ts) AS p_ts FROM events WHERE event_type = 'purchase') p
        |ON e.user_id = p.user_id AND abs(e.tsn - p.p_ts) <= 3600000000000)
        |GROUP BY err_id ORDER BY err_id""".stripMargin.replaceAll("\\s+", " "),

    "q_asof" ->
      """SELECT event_id, user_id, epoch_ns(ts) AS tsn,
        |max(CASE WHEN event_type = 'purchase' THEN epoch_ns(ts) END)
        |  OVER (PARTITION BY user_id ORDER BY ts
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_purchase_ts
        |FROM events ORDER BY event_id""".stripMargin.replaceAll("\\s+", " "),

    "q_shipping_priority" ->
      """SELECT o_orderkey,
        |round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        |FROM customer, orders, lineitem
        |WHERE c_mktsegment = 'BUILDING'
        |AND c_custkey = o_custkey AND o_orderkey = l_orderkey
        |AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
        |AND l_shipdate > TIMESTAMP '1998-01-01 00:00:00'
        |GROUP BY o_orderkey
        |ORDER BY revenue DESC, o_orderkey LIMIT 10""".stripMargin.replaceAll("\\s+", " "),

    "q_sql_q5" ->
      """SELECT n_name,
        |round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
        |CAST(count(*) AS BIGINT) AS n_lines
        |FROM customer
        |JOIN orders   ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation   ON s_nationkey = n_nationkey
        |JOIN region   ON n_regionkey = r_regionkey
        |WHERE o_orderdate >= TIMESTAMP '1994-01-01 00:00:00'
        |AND o_orderdate < TIMESTAMP '1996-01-01 00:00:00'
        |GROUP BY n_name ORDER BY n_name""".stripMargin.replaceAll("\\s+", " "),

    // same LATERAL text, independently decorrelated by DuckDB
    "q_lateral_topk" ->
      """SELECT r.r_name, t.n_name, t.total_bal
        |FROM region r,
        |LATERAL (
        |  SELECT n.n_name, round(sum(c.c_acctbal), 2) AS total_bal
        |  FROM nation n JOIN customer c ON c.c_nationkey = n.n_nationkey
        |  WHERE n.n_regionkey = r.r_regionkey
        |  GROUP BY n.n_name
        |  ORDER BY total_bal DESC, n_name
        |  LIMIT 2
        |) t
        |ORDER BY r.r_name, t.total_bal DESC, t.n_name""".stripMargin
      .replaceAll("\\s+", " ")
  )
}
