package graft.operators

import graft.GraftSession.Ckpt

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Time-series alignment operators over int64-ns event time (SURVEY §1.2:
  * event time stays LongType ns end to end; bucket arithmetic uses integer
  * `div`, never `/` — double division corrupts int64 ns above 2^53).
  */
object TimeSeriesOps {

  /** Regularise an irregular event stream onto a fixed grid per key: one row
    * per (key, bucket) over each key's observed span, with event counts
    * (0 for gaps) and the last observed aggregate forward-filled across
    * gaps — the resample + ffill step that precedes windowed feature
    * extraction.
    *
    * Scale shape: rather than the naive grid-generate + left-join +
    * fill-window plan (5 exchanges: agg, span agg, two join sides, window),
    * each observed bucket looks back at its predecessor with `lag` and emits
    * the gap rows itself — one aggregation shuffle on (key, bucket), one
    * key-partitioned window, and a narrow gap-explode: 2 exchanges total
    * (asserted in PlanQualitySpec). Forward fill falls out of the explode —
    * gap rows carry the predecessor's aggregate directly, no second window.
    * Grid size is bounded by span/bucket per key, independent of event
    * count. */
  def resampleFill(df: DataFrame, keyCol: String, tsNsCol: String,
                   valCol: String, bucketNs: Long): DataFrame = {
    require(bucketNs > 0, s"bucketNs must be positive, got $bucketNs")
    val ts = col(tsNsCol)
    // Floor division that matches DuckDB's `//` for negative timestamps too:
    // ts - pmod(ts, b) is the largest multiple of b that is <= ts, so the
    // integral divide is exact and its truncation direction is irrelevant.
    // Column-based (not expr(s"...")) so odd column names needing backticks
    // still resolve.
    val bucket =
      call_function("div", ts - pmod(ts, lit(bucketNs)), lit(bucketNs))
        .as("bucket")
    val w = Window.partitionBy(col(keyCol)).orderBy(col("bucket"))
    df
      .select(col(keyCol), bucket, col(valCol))
      .groupBy(col(keyCol), col("bucket"))
      .agg(count(lit(1)).as("n"), avg(col(valCol)).as("v"))
      .withColumn("prev_bucket", lag("bucket", 1).over(w))
      .withColumn("prev_v", lag("v", 1).over(w))
      // emit every bucket in (prev_bucket, bucket]: the gaps, then the
      // observed bucket itself (first bucket of a key has no predecessor)
      .select(col(keyCol), col("bucket"), col("n"), col("v"), col("prev_v"),
        explode(sequence(
          coalesce(col("prev_bucket") + lit(1L), col("bucket")),
          col("bucket"))).as("b"))
      .select(col(keyCol), col("b").as("bucket"),
        when(col("b") === col("bucket"), col("n")).otherwise(lit(0L)).as("n"),
        round(when(col("b") === col("bucket"), col("v")).otherwise(col("prev_v")), 6)
          .as("v_fill"))
  }

  private val DayNs = 86400L * 1000 * 1000 * 1000
  /** Decimal places of theilSen's slope and intercept medians. */
  private val Scale = 6

  /** Floor division on Column longs (floors toward -inf, negative-safe).
    * NOT DuckDB `//` semantics: DuckDB integer `//` truncates toward zero
    * ((-3)//2 = -1, probed), while this floors ((-3) floorDiv 2 = -2). The
    * two agree exactly for non-negative inputs, which every ns-epoch
    * timestamp in the driver testdata satisfies (all ts > 1970); oracles
    * that must hold for negative inputs spell out the floor form
    * `(x - ((x % N + N) % N)) // N` instead of bare `//` (q_changepoint). */
  private def floorDiv(c: Column, by: Long): Column =
    call_function("div", c - pmod(c, lit(by)), lit(by))

  /** Trailing `windowDays`-day rolling distinct actives per day (the
    * DAU/WAU/MAU family): for each day, the count of distinct keys seen in
    * the trailing window ending that day.
    *
    * Scale shape: `count(DISTINCT x)` over a sliding RANGE window
    * re-buffers every frame; instead each distinct (day, key) pair — one
    * shuffle, partial-combined — contributes itself to the `windowDays`
    * window ends it falls into via a narrow `sequence`+`explode` (fan-out =
    * windowDays, a constant), then one count-distinct per day. Two
    * aggregation shuffles total, no window operator, no per-frame
    * re-buffering. Days with no activity of their own still appear while a
    * trailing window covers them. */
  def rollingDistinctActives(df: DataFrame, keyCol: String, tsNsCol: String,
                             windowDays: Int = 7): DataFrame = {
    require(windowDays > 0, s"windowDays must be positive, got $windowDays")
    val active = df
      .select(floorDiv(col(tsNsCol), DayNs).as("day"), col(keyCol).as("k"))
      .distinct()
    active
      .select(col("k"),
        explode(sequence(col("day"), col("day") + lit(windowDays - 1))).as("day"))
      .groupBy("day")
      .agg(count_distinct(col("k")).as("actives"))
  }

  /** Rolling z-score anomaly detection per key: each point is scored
    * against the mean/stddev of the `lookback` points strictly before it
    * (so the point never masks its own deviation). Points with fewer than
    * `minPrior` predecessors or zero variance get a null score.
    *
    * One key-partitioned sort window — the canonical distributed shape:
    * keys hash across the cluster, frames never cross keys. Event time is
    * µs-truncated ns (the engine-wide convention for the ns-precision
    * event stream); `tieCol` must make (key, ts, tie) unique or frame
    * contents are nondeterministic. */
  def zscoreAnomalies(df: DataFrame, keyCol: String, tsNsCol: String,
                      tieCol: String, valCol: String,
                      lookback: Int = 20, threshold: Double = 2.5,
                      minPrior: Int = 5): DataFrame = {
    val tsU = (col(tsNsCol) - pmod(col(tsNsCol), lit(1000L))).as("ts_us")
    val w = Window.partitionBy(col(keyCol))
      .orderBy(col("ts_us"), col(tieCol))
      .rowsBetween(-lookback, -1)
    df.select(col(keyCol), tsU, col(tieCol), col(valCol))
      .withColumn("prior_n", count(col(valCol)).over(w))
      .withColumn("prior_mean", avg(col(valCol)).over(w))
      .withColumn("prior_std", stddev_samp(col(valCol)).over(w))
      .withColumn("z",
        when(col("prior_n") >= minPrior && col("prior_std") > 0,
          round((col(valCol) - col("prior_mean")) / col("prior_std"), 4)))
      .withColumn("is_anomaly", coalesce(abs(col("z")) > threshold, lit(false)))
      .drop("prior_n", "prior_mean", "prior_std")
  }

  /** First-order transition counts between consecutive states per key (the
    * Markov-chain / clickstream-path matrix): (state, next_state, count)
    * over each key's time-ordered sequence. One key-partitioned window for
    * `lead`, one global aggregation over the tiny (states²) result. */
  /** Lag-k autocorrelation of a regular series: Pearson corr(v_t, v_{t-k})
    * for each requested lag, one output row. The lag windows order over the
    * whole series — fine when the series is a bounded aggregate (daily /
    * hourly rollups: rows = calendar span, not data size); partition by a
    * series key upstream for per-key correlograms over raw-scale data.
    */
  def autocorr(series: DataFrame, ordCol: String, valCol: String,
      lags: Seq[Int]): DataFrame = {
    val w = Window.orderBy(col(ordCol))
    val withLags = lags.foldLeft(series) { (d, k) =>
      d.withColumn(s"__lag$k", lag(col(valCol), k).over(w))
    }
    withLags.agg(
      count(col(valCol)).as("n"),
      lags.map(k => round(corr(col(valCol), col(s"__lag$k")), 6).as(s"corr_lag$k")): _*)
  }

  /** Per-key exponential moving average — the order-pinned sequential fold
    * s₁ = x₁, sₙ = α·xₙ + (1−α)·sₙ₋₁ over each key's ingestion-ordered
    * values (`ordCol` must be a total order; ingestion ids avoid the
    * engine-varying sub-µs timestamp tie problem). The recurrence is
    * inherently sequential, so it computes as one per-key sort + left fold
    * (`aggregate` over the collected sequence) instead of a window; with a
    * dyadic α (0.5, 0.25, …) each step is exact power-of-two FP scaling,
    * making the fold bitwise-reproducible on any engine. Per-key state is
    * that key's own history (the same per-entity-sequence contract as
    * sessionization); the streaming form keeps only the running s per key
    * — O(1) state, the [[graft.streaming]] parity shape. */
  def ewma(df: DataFrame, keyCol: String, ordCol: String, valCol: String,
           alpha: Double = 0.5): DataFrame = {
    require(alpha > 0 && alpha <= 1, s"alpha must be in (0,1]; got $alpha")
    df.groupBy(col(keyCol))
      .agg(sort_array(collect_list(
        struct(col(ordCol).as("o"), col(valCol).as("x")))).as("__l"))
      .select(col(keyCol),
        size(col("__l")).cast("long").as("n_obs"),
        round(aggregate(
          slice(col("__l"), lit(2), greatest(size(col("__l")) - 1, lit(0))),
          element_at(col("__l"), 1).getField("x"),
          (acc, e) => lit(alpha) * e.getField("x") + lit(1 - alpha) * acc
        ), 6).as("ewma"))
  }

  /** Per-key one-sided CUSUM drift score (Page 1954 — the classic
    * changepoint/drift monitor): s₀ = 0, sₙ = max(0, sₙ₋₁ + (xₙ − target −
    * slack)). Persistent upward shift accumulates; in-control noise resets
    * toward 0. The data-quality monitoring op for a training pipeline:
    * run per (source, feature) to flag ingest drift before it poisons a
    * corpus. Same order-pinned fold contract as [[ewma]] — sequential by
    * nature, computed as a per-key sort + left fold with an explicit 0
    * seed, subtraction left-associated, so the fold reproduces bitwise in
    * a SQL list_reduce; the streaming form carries s per key, O(1) state.
    * Emits the final score and a `drifted` flag at threshold `h`. */
  def cusum(df: DataFrame, keyCol: String, ordCol: String, valCol: String,
            target: Double, slack: Double = 0.25, h: Double = 100.0): DataFrame = {
    df.groupBy(col(keyCol))
      .agg(sort_array(collect_list(
        struct(col(ordCol).as("o"), col(valCol).as("x")))).as("__l"))
      .select(col(keyCol),
        size(col("__l")).cast("long").as("n_obs"),
        aggregate(col("__l"), lit(0.0),
          (acc, e) => greatest(lit(0.0),
            acc + ((e.getField("x") - lit(target)) - lit(slack)))).as("__s"))
      .select(col(keyCol), col("n_obs"),
        round(col("__s"), 6).as("cusum"),
        (col("__s") > h).as("drifted"))
  }

  def transitionCounts(df: DataFrame, keyCol: String, tsNsCol: String,
                       tieCol: String, stateCol: String): DataFrame = {
    val tsU = col(tsNsCol) - pmod(col(tsNsCol), lit(1000L))
    val w = Window.partitionBy(col(keyCol)).orderBy(col("ts_us"), col(tieCol))
    df.select(col(keyCol), tsU.as("ts_us"), col(tieCol), col(stateCol).as("src"))
      .withColumn("dst", lead(col("src"), 1).over(w))
      .where(col("dst").isNotNull)
      .groupBy("src", "dst")
      .agg(count(lit(1)).as("cnt"))
  }

  /** Per-key seasonal decomposition of an event-count series — the
    * classical additive split cnt = level + seasonal + trend-residual the
    * monitoring tier reads before alerting on raw counts (a Monday-morning
    * surge is seasonality, not drift):
    *
    *  - `seasonal(phase)` = mean count at this phase-of-period minus the
    *    key's overall mean (seasonal-means estimator);
    *  - `trend` = centered moving average over 2·halfWindow+1 consecutive
    *    observed buckets (NULL until the frame is full — no partial-frame
    *    estimates at the series edges);
    *  - `resid` = cnt − seasonal − trend, the de-seasonalized
    *    de-trended surprise an anomaly rule thresholds.
    *
    * Determinism contract: every estimate is ONE division of an exact
    * integer window sum (counts are longs; long sums are order-exact), so
    * no floating-point accumulation order enters the result — the same
    * discipline as the PSI/chi-square tier. The MA frame is ROWS-based
    * over observed buckets; run [[resampleFill]] upstream when gaps should
    * occupy frame slots.
    *
    * Scale shape: the input to every window is the (key, bucket) rollup —
    * calendar-sized, not data-sized (hours × keys rows at bucketNs=1h) —
    * and all three windows partition by key, so no task ever sees more
    * than one key's calendar span. */
  def seasonalDecompose(df: DataFrame, keyCol: String, tsNsCol: String,
                        bucketNs: Long, period: Int, halfWindow: Int): DataFrame = {
    require(bucketNs > 0, s"bucketNs must be positive, got $bucketNs")
    require(period > 1, s"period must be > 1 buckets, got $period")
    require(halfWindow > 0, s"halfWindow must be positive, got $halfWindow")
    val frameLen = 2 * halfWindow + 1
    val counts = df
      .select(col(keyCol).as("k"), floorDiv(col(tsNsCol), bucketNs).as("bucket"))
      .groupBy("k", "bucket").agg(count(lit(1)).as("n"))
    val wKey = Window.partitionBy(col("k"))
    val wPhase = Window.partitionBy(col("k"), col("phase"))
    val wMa = Window.partitionBy(col("k")).orderBy(col("bucket"))
      .rowsBetween(-halfWindow, halfWindow)
    counts
      .withColumn("phase", pmod(col("bucket"), lit(period.toLong)))
      .withColumn("key_mean",
        sum(col("n")).over(wKey) / count(lit(1)).over(wKey))
      .withColumn("phase_mean",
        sum(col("n")).over(wPhase) / count(lit(1)).over(wPhase))
      .withColumn("trend",
        when(count(lit(1)).over(wMa) === frameLen,
          sum(col("n")).over(wMa) / lit(frameLen.toDouble)))
      .select(col("k").as(keyCol),
        (col("bucket") * lit(bucketNs)).as("bucket_ns"),
        col("n"),
        round(col("phase_mean") - col("key_mean"), 6).as("seasonal"),
        round(col("trend"), 6).as("trend"),
        round(col("n") - (col("phase_mean") - col("key_mean")) - col("trend"), 6)
          .as("resid"))
  }

  /** Lead–lag cross-correlation between two event-count series: Pearson
    * r of (x_t, y_{t+lag}) for every lag in [−maxLag, maxLag] over the
    * zero-filled bucket grid — the "does clicking LEAD purchasing, and by
    * how many hours" probe (and, in a pipeline-health tier, "does source
    * A's volume anticipate source B's"). A peak at positive lag means x
    * leads y by that many buckets.
    *
    * Determinism contract: both series are integer counts on a shared
    * dense grid, so all six Pearson sufficient statistics (n, Σx, Σy,
    * Σx², Σy², Σxy) are EXACT integer sums per lag; r is one fixed
    * expression of them — numerator and both variance terms computed in
    * decimal(38,0), converted to double, one divide and one IEEE sqrt.
    * Zero-variance lags (a constant series slice) yield NULL, mirrored
    * in the oracle.
    *
    * Scale shape: the corpus collapses to the bucket rollup in one
    * aggregation (calendar-sized — hours, not events); the zero-fill
    * sequence explode and its lag window run over that rollup only
    * (q_autocorr's allowlisted shape), and the lag fan-out is a broadcast
    * of 2·maxLag+1 rows joined back on an equi key. Nothing data-sized
    * ever re-shuffles. */
  def crossCorrelation(df: DataFrame, tsNsCol: String, bucketNs: Long,
                       isX: Column, isY: Column, maxLag: Int): DataFrame = {
    require(bucketNs > 0, s"bucketNs must be positive, got $bucketNs")
    require(maxLag >= 1 && maxLag <= 10000,
      s"maxLag must be in [1, 10000] (the lag table broadcasts), got $maxLag")
    val sparse = df
      .select(floorDiv(col(tsNsCol), bucketNs).as("bucket"),
        isX.as("px"), isY.as("py"))
      .groupBy("bucket")
      .agg(
        sum(when(col("px"), 1L).otherwise(0L)).as("x"),
        sum(when(col("py"), 1L).otherwise(0L)).as("y"))
    // dense zero-filled grid: emit every bucket in (prev, bucket] — the
    // resampleFill gap trick; the global lag window runs over the
    // calendar-sized rollup only. Materialized once: it feeds both join
    // sides below.
    val w = Window.orderBy("bucket")
    val dense = sparse
      .withColumn("prev", lag("bucket", 1).over(w))
      .select(col("bucket"), col("x"), col("y"),
        explode(sequence(coalesce(col("prev") + lit(1L), col("bucket")),
          col("bucket"))).as("b"))
      .select(col("b"),
        when(col("b") === col("bucket"), col("x")).otherwise(lit(0L)).as("x"),
        when(col("b") === col("bucket"), col("y")).otherwise(lit(0L)).as("y"))
      .ckpt(true)
    val lags = df.sparkSession.range(-maxLag.toLong, maxLag + 1L)
      .select(col("id").as("lag"))
    val stats = dense.crossJoin(broadcast(lags))
      .join(dense.select(col("b").as("b2"), col("y").as("y2")),
        col("b2") === col("b") + col("lag"))
      .groupBy("lag")
      .agg(count(lit(1)).as("n"),
        sum("x").as("sx"), sum("y2").as("sy"),
        // decimal BEFORE the products: per-bucket counts can reach ~3e9 at
        // the target corpus scale, where x*x overflows long silently
        sum(col("x").cast("decimal(38,0)") * col("x").cast("decimal(38,0)")).as("sxx"),
        sum(col("y2").cast("decimal(38,0)") * col("y2").cast("decimal(38,0)")).as("syy"),
        sum(col("x").cast("decimal(38,0)") * col("y2").cast("decimal(38,0)")).as("sxy"))
    def dec(c: Column) = c.cast("decimal(38,0)")
    val num = dec(col("n")) * dec(col("sxy")) - dec(col("sx")) * dec(col("sy"))
    val d1 = dec(col("n")) * dec(col("sxx")) - dec(col("sx")) * dec(col("sx"))
    val d2 = dec(col("n")) * dec(col("syy")) - dec(col("sy")) * dec(col("sy"))
    stats.select(col("lag"), col("n"),
      when(d1 <= 0 || d2 <= 0, lit(null).cast("double"))
        .otherwise(round(num.cast("double") /
          sqrt(d1.cast("double") * d2.cast("double")), 6))
        .as("xcorr"))
  }

  /** Theil–Sen robust trend of the per-key daily event-count series: the
    * median over all pairwise slopes (c_j − c_i)/(d_j − d_i), plus the
    * matching median-residual intercept (Theil 1950; Sen 1968). The
    * outlier-proof "is this source's volume actually declining" estimator
    * — a single spiked day drags least squares but moves a 29%-breakdown
    * median not at all; the trend sibling of [[graft.operators.QuantileOps.robustOutliers]].
    *
    * Determinism contract: every slope is ONE division of exact integer
    * differences; both medians come from [[QuantileOps.exactQuantiles]]
    * ROUNDED at [[Scale]] places before any further arithmetic (the intercept's
    * residuals use the rounded slope), so the estimates are fixed
    * expressions over engine-identical inputs.
    *
    * Scale shape: the corpus collapses to the (key, day) rollup first —
    * pair volume is quadratic in the CALENDAR span (≤ ~10⁵ pairs per key
    * per decade), never in the data; the pair generation is a key-local
    * equi-join on the rollup and both median passes inherit
    * exactQuantiles' own distribution-safe crossover. */
  def theilSen(df: DataFrame, keyCol: String, tsNsCol: String): DataFrame = {
    val counts = df
      .select(col(keyCol).as("k"), floorDiv(col(tsNsCol), DayNs).as("d"))
      .groupBy("k", "d").agg(count(lit(1)).as("n"))
      .ckpt(true) // feeds the pair join twice + the resid pass
    // explicit renames, not as("a")/as("b"): a self-join of one
    // checkpointed plan shares attribute ids, and alias-qualified
    // resolution can silently bind both sides to one attribute
    val lhs = counts.select(col("k"), col("d").as("da"), col("n").as("na"))
    val rhs = counts.select(col("k"), col("d").as("db"), col("n").as("nb"))
    val pairs = lhs.join(rhs, Seq("k"))
      .where(col("db") > col("da"))
      .select(col("k"),
        ((col("nb") - col("na")).cast("double") /
          (col("db") - col("da")).cast("double")).as("slope"))
    val sen = QuantileOps.exactQuantiles(pairs, "k", "slope",
      ps = Seq("sen_slope" -> 0.5), scale = Scale)
    val resid = counts.join(broadcast(sen), Seq("k"))
      .select(col("k"),
        (col("n").cast("double") - col("sen_slope") * col("d").cast("double"))
          .as("resid"))
    val icpt = QuantileOps.exactQuantiles(resid, "k", "resid",
      ps = Seq("sen_intercept" -> 0.5), scale = Scale)
    val nDays = counts.groupBy("k").agg(count(lit(1)).as("n_days"))
    nDays.join(broadcast(sen), Seq("k")).join(broadcast(icpt), Seq("k"))
      .select(col("k").as(keyCol), col("n_days"),
        col("sen_slope"), col("sen_intercept"))
  }

  /** Per-key inter-arrival profile over the µs-truncated event stream:
    * gap count, mean/max gap, coefficient of variation, and the
    * Goh–Barabási burstiness score (σ−μ)/(σ+μ) ∈ (−1, 1) — the
    * "is this feed a steady drip or correlated bursts" fingerprint a
    * source-health tier reads next to volume (B → −1 periodic, 0
    * Poisson, → 1 bursty). Keys with fewer than two events have no gap
    * and emit nothing.
    *
    * Determinism contract: gaps order by (ts, id) so ties are stable;
    * Σd and Σd² accumulate in decimal(38,0) (a day-long gap is ~10¹⁴ ns,
    * its square 10²⁸ — far past long range), so
    * σ² = (n·Σd² − (Σd)²)/n² is exact integer algebra down to one final
    * division, and every emitted statistic is a fixed double expression
    * of (n, Σd, Σd², max d). Zero-mean degenerate keys (all gaps 0) emit
    * NULL cv/burstiness, mirrored in the oracle.
    *
    * Scale shape: one key-partitioned window (the lag) feeding one
    * aggregation — single exchange, shuffle carries the event keys and
    * one long each; the decimal sums are per-key scalars. */
  def interArrival(df: DataFrame, keyCol: String, tsNsCol: String,
                   idCol: String): DataFrame = {
    val w = Window.partitionBy(col("k")).orderBy(col("ts_us"), col("id"))
    val gaps = df
      .select(col(keyCol).as("k"),
        // integral div, never `/`: epoch-ns exceeds 2^53, so a double
        // division here silently wobbles the low microseconds
        floorDiv(col(tsNsCol), 1000L).as("ts_us"),
        col(idCol).as("id"))
      .withColumn("d", col("ts_us") - lag("ts_us", 1).over(w))
      .where(col("d").isNotNull)
    val stats = gaps.groupBy("k").agg(
      count(lit(1)).as("n"),
      sum(col("d").cast("decimal(38,0)")).as("sd"),
      sum(col("d").cast("decimal(38,0)") * col("d").cast("decimal(38,0)"))
        .as("sdd"),
      max("d").as("max_gap_us"))
    val mu = col("sd").cast("double") / col("n").cast("double")
    // population σ = sqrt(n·Σd² − (Σd)²)/n: exact integer radicand
    val sig = sqrt((col("n").cast("decimal(38,0)") * col("sdd") -
      col("sd") * col("sd")).cast("double")) / col("n").cast("double")
    stats.select(col("k").as(keyCol), col("n").as("n_gaps"),
      // 2 dp, not 6: a µs mean can reach 10^10+, and DuckDB's
      // float-multiply round corrupts x·10⁶ past 2^53 — x·10² stays exact
      // for any gap under ~3 years
      round(mu, 2).as("mean_gap_us"),
      col("max_gap_us"),
      when(mu === 0.0, lit(null).cast("double"))
        .otherwise(round(sig / mu, 6)).as("cv"),
      when(sig + mu === 0.0, lit(null).cast("double"))
        .otherwise(round((sig - mu) / (sig + mu), 6)).as("burstiness"))
  }

  /** Changepoint LOCATOR by binary segmentation's first split (Scott &
    * Knott 1974 lineage; the standard CUSUM-family localization): bucket
    * each key's events onto a fixed grid, then pick the split index τ
    * maximizing the between-segment statistic
    * G(τ) = (L_τ·(n−τ) − (T−L_τ)·τ)² / (τ·(n−τ))
    * — the squared scaled mean-difference between the left and right
    * segments (∝ the variance-reduction of splitting at τ). [[cusum]] is
    * the ALARM ("has the level shifted?"); this is the LOCATOR ("where?").
    * Emits one row per key: the split bucket boundary, G, and both
    * segment means. τ ranges over the OBSERVED bucket sequence (1..n−1,
    * both segments non-empty); keys with fewer than two observed buckets
    * are dropped.
    *
    * Determinism: bucket counts and prefix sums are exact integers; G is
    * one fixed double expression of three exact integers (mirrored
    * token-for-token in the oracle) and the argmax breaks ties toward the
    * EARLIEST bucket. Scale shape: one (key, bucket) aggregation, one
    * key-partitioned window over each key's calendar-bounded bucket
    * series, one per-key max — no unpartitioned window, no join. */
  def changePoint(df: DataFrame, keyCol: String, tsNsCol: String,
                  bucketNs: Long): DataFrame = {
    require(bucketNs > 0, s"bucketNs must be positive, got $bucketNs")
    val buckets = df
      .groupBy(col(keyCol).as("k"), floorDiv(col(tsNsCol), bucketNs).as("b"))
      .agg(count(lit(1)).as("n"))
    val wOrd = Window.partitionBy("k").orderBy("b")
    val wAll = Window.partitionBy("k")
    val indexed = buckets
      .withColumn("i", row_number().over(wOrd).cast("long"))
      .withColumn("lsum", sum("n").over(
        wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("nb", count(lit(1)).over(wAll))
      .withColumn("tot", sum("n").over(wAll))
      .where(col("i") < col("nb"))
    val num = (col("lsum") * (col("nb") - col("i")) -
      (col("tot") - col("lsum")) * col("i")).cast("double")
    val den = (col("i") * (col("nb") - col("i"))).cast("double")
    indexed
      .withColumn("g", num * num / den)
      // argmax with earliest-bucket tie-break: max of (g, -b) structs
      .groupBy("k")
      .agg(max(struct(col("g"), (-col("b")).as("nb_ord"), col("b"), col("i"),
        col("lsum"), col("nb"), col("tot"))).as("m"))
      .select(
        col("k").as(keyCol),
        // boundary AFTER the left segment's last bucket: the first ns of
        // the right regime
        ((col("m.b") + 1) * bucketNs).as("split_ns"),
        round(col("m.g"), 4).as("g_stat"),
        round(col("m.lsum").cast("double") / col("m.i"), 6).as("left_mean"),
        round((col("m.tot") - col("m.lsum")).cast("double") /
          (col("m.nb") - col("m.i")), 6).as("right_mean"))
  }
}
