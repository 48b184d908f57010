package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Hypothesis-testing surface for experiment analysis (A/B readouts) over
  * event streams: Welch's unequal-variance t statistic and the chi-square
  * independence statistic. Both are pure aggregate algebra — the shuffle
  * carries moment sketches (count/mean/M2 per group) or an integer
  * contingency table, never raw values, so the plans are single-exchange
  * and scale-invariant: 100 TB of events reduce to the same handful of
  * per-segment rows as the sf0.01 fixture.
  */
object StatsOps {

  /** Value-range blocks of the two-phase prefix sum in ksTest,
    * aucMannWhitney and rankSumTest: the offsets table never has more rows. */
  private val NBlocks = 4096
  /** bootstrapCi's percentile endpoints. */
  private val LoPct = 0.025
  private val HiPct = 0.975
  /** calibration's fixed-point confidence unit (1/ConfScale) and bin count. */
  private val ConfScale = 10000L
  private val CalibrationBins = 10

  /** Welch's two-sample t statistic per segment.
    *
    * For each `segmentCol` group, compares `valCol` between rows matching
    * `condA` (treatment) and `condB` (control): emits per-arm counts/means,
    * the mean difference, the t statistic
    * `t = (m_a - m_b) / sqrt(s²_a/n_a + s²_b/n_b)` and the
    * Welch–Satterthwaite degrees of freedom. One conditional aggregation —
    * both arms come out of a single scan (no per-arm subqueries), the same
    * one-scan discipline as [[QualityOps.dqChecks]]. Spark's var_samp is a
    * merge of numerically-stable central-moment sketches, so partial
    * aggregation order only wobbles the last bits; outputs are rounded at
    * reporting precision.
    */
  def welchTTest(df: DataFrame, segmentCol: Column, condA: Column, condB: Column,
                 valCol: Column): DataFrame = {
    val g = df.where(condA || condB)
      .groupBy(segmentCol.as("segment"))
      .agg(
        count(when(condA, 1)).as("n_a"),
        count(when(condB, 1)).as("n_b"),
        avg(when(condA, valCol)).as("m_a"),
        avg(when(condB, valCol)).as("m_b"),
        var_samp(when(condA, valCol)).as("v_a"),
        var_samp(when(condB, valCol)).as("v_b"))
    val sa = col("v_a") / col("n_a")
    val sb = col("v_b") / col("n_b")
    val se2 = sa + sb
    g.select(
      col("segment"),
      col("n_a"), col("n_b"),
      round(col("m_a") - col("m_b"), 4).as("mean_diff"),
      round((col("m_a") - col("m_b")) / sqrt(se2), 4).as("t_stat"),
      round(se2 * se2 / (sa * sa / (col("n_a") - 1) + sb * sb / (col("n_b") - 1)), 2)
        .as("welch_df"))
  }

  /** Pearson chi-square independence statistic for `rowCol` × `colCol`.
    *
    * Observed counts are the exact integer contingency table (one groupBy);
    * marginals ride partitioned windows over that tiny table; the grand
    * total is a 1-row aggregate broadcast back (model-sized BNLJ — the
    * allowlisted scalar-broadcast pattern). Emits the statistic, the
    * degrees of freedom, and the table size.
    */
  def chiSquare(df: DataFrame, rowCol: Column, colCol: Column): DataFrame = {
    val cells = df.groupBy(rowCol.as("r"), colCol.as("c"))
      .agg(count(lit(1)).cast("double").as("o"))
    val total = cells.agg(sum(col("o")).as("n"),
      count_distinct(col("r")).as("nr"), count_distinct(col("c")).as("nc"))
    val e = col("rt") * col("ct") / col("n")
    cells
      .withColumn("rt", sum(col("o")).over(Window.partitionBy(col("r"))))
      .withColumn("ct", sum(col("o")).over(Window.partitionBy(col("c"))))
      .crossJoin(broadcast(total))
      .select(((col("o") - e) * (col("o") - e) / e).as("contrib"),
        col("n"), col("nr"), col("nc"))
      .groupBy(col("n"), col("nr"), col("nc"))
      .agg(round(sum(col("contrib")), 6).as("chi2"))
      .select(
        round(col("chi2"), 6).as("chi2"),
        ((col("nr") - 1) * (col("nc") - 1)).as("dof"),
        col("n").cast("long").as("n"))
  }

  /** Mutual information I(A;B) = Σ_{a,b} p(a,b)·ln(p(a,b)/(p(a)p(b))) over
    * two categorical columns — the feature-relevance statistic ranked when
    * selecting metadata features (chi-square's information-theoretic
    * sibling; also reported normalized by min(H(A), H(B)) so scores
    * compare across feature pairs). NULL rows in either column are
    * excluded (no category).
    *
    * Scale shape: ONE corpus aggregation builds the |A|×|B| contingency
    * table; margins, entropies and the MI sum all derive from that
    * model-sized cell table (per-side windows over it + a broadcast 1-row
    * total) — the corpus is scanned exactly once. Counts stay exact
    * integers until the final ratios. */
  def mutualInformation(df: DataFrame, aCol: Column, bCol: Column): DataFrame = {
    val cells = df
      .where(aCol.isNotNull && bCol.isNotNull)
      .groupBy(aCol.as("a"), bCol.as("b"))
      .agg(count(lit(1)).cast("double").as("nab"))
    val total = cells.agg(sum(col("nab")).as("n"))
    val withMargins = cells
      .withColumn("na", sum(col("nab")).over(Window.partitionBy(col("a"))))
      .withColumn("nb", sum(col("nab")).over(Window.partitionBy(col("b"))))
      .crossJoin(broadcast(total))
    withMargins
      .select(
        (col("nab") / col("n") * log(col("nab") * col("n") / (col("na") * col("nb"))))
          .as("mi_c"),
        // per-cell entropy contributions double-count margins across cells —
        // divide by the OTHER side's cell count so each margin counts once
        (col("nab") / col("na") * (col("na") / col("n") * -log(col("na") / col("n"))))
          .as("ha_c"),
        (col("nab") / col("nb") * (col("nb") / col("n") * -log(col("nb") / col("n"))))
          .as("hb_c"),
        col("n"))
      .groupBy(col("n"))
      .agg(sum(col("mi_c")).as("mi"), sum(col("ha_c")).as("ha"), sum(col("hb_c")).as("hb"))
      .select(
        round(col("mi"), 6).as("mi_nats"),
        // a constant column has zero entropy and the normalization is
        // undefined (0/0) — return NULL explicitly rather than whatever
        // NaN/NULL the engine's double division produces (engines differ)
        when(least(col("ha"), col("hb")) === 0, lit(null).cast("double"))
          .otherwise(round(col("mi") / least(col("ha"), col("hb")), 6))
          .as("mi_normalized"),
        col("n").cast("long").as("n"))
  }

  /** The per-distinct-value `counts` (a `v` column) with the 1-row
    * `bounds` (`vmin`, `vmax`, totals) broadcast onto every row and `blk`,
    * the value's block among `nBlocks` equal-width blocks over
    * [vmin, vmax] — a function of the value alone, never of layout. A
    * width that rounds to 0.0 (all values equal, or a range so narrow that
    * range / nBlocks underflows) puts every value in block 0, which the
    * block-count invariance allows, instead of dividing by zero. */
  private def rangeBlocked(counts: DataFrame, bounds: DataFrame, nBlocks: Int): DataFrame = {
    require(nBlocks >= 1 && nBlocks <= (1 << 20),
      s"nBlocks must be in [1, 2^20] (the offsets table must stay model-sized), got $nBlocks")
    val width = (col("vmax") - col("vmin")) / nBlocks
    counts.crossJoin(broadcast(bounds))
      .withColumn("blk",
        when(width <= 0.0, lit(0L))
          .otherwise(least(floor((col("v") - col("vmin")) / width), lit(nBlocks - 1L))))
  }

  /** Two-sample Kolmogorov–Smirnov statistic D = max_x |F_a(x) − F_b(x)| —
    * the nonparametric distribution-drift test that needs no binning
    * choice (PSI's bin-free sibling): compare a metric's distribution
    * across segments/snapshots and alarm on the largest ECDF gap.
    *
    * Scale shape: one conditional aggregation collapses both samples to
    * per-distinct-value counts, then the cumulative counts come from the
    * TWO-PHASE prefix sum (the packSequences/lengthBuckets trick): range
    * blocks by value → per-block subtotals → cumulative offsets over the
    * model-sized block table → block-local value-ordered windows. No
    * unpartitioned window ever touches the distinct-value relation, and
    * ECDFs are exact-integer counts until the final two divisions, so D
    * is partition-layout-independent.
    *
    * The block partition is derived IN-PLAN from the observed value range
    * (a broadcast 1-row min/max rides the same aggregate as the sample
    * totals), so the offsets table is provably ≤ `nBlocks` rows for ANY
    * input distribution — the bound is mechanical, not caller discipline.
    * Blocking is a function of values only (never of layout), and any
    * `nBlocks ≥ 1` yields the identical D. */
  def ksTest(df: DataFrame, valCol: Column, isA: Column,
             nBlocks: Int = NBlocks): DataFrame = {
    val counts = df
      .where(valCol.isNotNull)
      .groupBy(valCol.as("v"))
      .agg(
        sum(when(isA, 1L).otherwise(0L)).as("ca"),
        sum(when(isA, 0L).otherwise(1L)).as("cb"))
    // sample totals AND value range in ONE pass over the distinct-value
    // relation
    val bounds = counts.agg(
      sum("ca").as("n_a"), sum("cb").as("n_b"),
      min("v").cast("double").as("vmin"), max("v").cast("double").as("vmax"))
    val blocked = rangeBlocked(counts, bounds, nBlocks)
    val partials = blocked.groupBy("blk")
      .agg(sum("ca").as("blk_a"), sum("cb").as("blk_b"))
    val wOff = Window.orderBy("blk").rowsBetween(Window.unboundedPreceding, -1)
    val offsets = partials
      .withColumn("off_a", coalesce(sum("blk_a").over(wOff), lit(0L)))
      .withColumn("off_b", coalesce(sum("blk_b").over(wOff), lit(0L)))
      .select("blk", "off_a", "off_b")
    val wLocal = Window.partitionBy("blk").orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    blocked
      .join(broadcast(offsets), Seq("blk"))
      .withColumn("cum_a", col("off_a") + sum("ca").over(wLocal))
      .withColumn("cum_b", col("off_b") + sum("cb").over(wLocal))
      .select(abs(col("cum_a") / col("n_a") - col("cum_b") / col("n_b")).as("gap"),
        col("n_a"), col("n_b"))
      .groupBy(col("n_a"), col("n_b"))
      .agg(round(max(col("gap")), 6).as("ks_stat"))
      .select(col("ks_stat"), col("n_a").cast("long").as("n_a"),
        col("n_b").cast("long").as("n_b"))
  }

  /** Mann–Whitney AUC: the probability a ranked scorer puts a random
    * positive above a random negative (ties count ½) — THE evaluation
    * metric for curation scorers (quality classifiers, dedup signals,
    * language ID confidence): "does this score actually separate the
    * classes", threshold-free.
    *
    * Scale shape: identical to [[ksTest]] — one conditional aggregation
    * collapses the corpus to per-distinct-score (nPos, nNeg) counts, then
    * the below-score negative count comes from the two-phase prefix sum
    * over in-plan-derived range blocks (the offsets table is provably
    * ≤ nBlocks rows for any input). The rank-sum accumulates as
    * 2U = Σ nPos(v)·(2·cumNegBelow(v) + nNeg(v)) in EXACT integers
    * (decimal against 100-TB-scale products), so AUC is
    * partition-layout-independent down to the one final division.
    * Degenerate inputs (one class absent) yield NULL, mirrored in the
    * oracle. */
  def aucMannWhitney(df: DataFrame, scoreCol: Column, isPos: Column,
                     nBlocks: Int = NBlocks): DataFrame = {
    val counts = df
      .where(scoreCol.isNotNull)
      .groupBy(scoreCol.as("v"))
      .agg(
        sum(when(isPos, 1L).otherwise(0L)).as("np"),
        sum(when(isPos, 0L).otherwise(1L)).as("nn"))
    val bounds = counts.agg(
      sum("np").as("n_pos"), sum("nn").as("n_neg"),
      min("v").cast("double").as("vmin"), max("v").cast("double").as("vmax"))
    val blocked = rangeBlocked(counts, bounds, nBlocks)
    val partials = blocked.groupBy("blk").agg(sum("nn").as("blk_n"))
    val wOff = Window.orderBy("blk").rowsBetween(Window.unboundedPreceding, -1)
    val offsets = partials
      .withColumn("off_n", coalesce(sum("blk_n").over(wOff), lit(0L)))
      .select("blk", "off_n")
    val wBelow = Window.partitionBy("blk").orderBy("v")
      .rowsBetween(Window.unboundedPreceding, -1)
    blocked
      .join(broadcast(offsets), Seq("blk"))
      .withColumn("cum_below", col("off_n") + coalesce(sum("nn").over(wBelow), lit(0L)))
      // exact-integer rank sum; decimal(19,0) factors so the product and its
      // running sum stay exact at 100-TB cardinalities (long² would overflow)
      .select(
        (col("np").cast("decimal(19,0)") *
          (col("cum_below") * 2 + col("nn")).cast("decimal(19,0)")).as("u2"),
        col("n_pos"), col("n_neg"))
      .groupBy("n_pos", "n_neg")
      .agg(sum("u2").as("u2"))
      .select(
        when(col("n_pos") === 0 || col("n_neg") === 0, lit(null).cast("double"))
          .otherwise(round(col("u2").cast("double") /
            (lit(2.0) * col("n_pos").cast("double") * col("n_neg").cast("double")), 6))
          .as("auc"),
        col("n_pos").cast("long").as("n_pos"),
        col("n_neg").cast("long").as("n_neg"))
  }

  /** Mann–Whitney U rank-sum TEST (the significance readout on top of
    * [[aucMannWhitney]]'s U statistic): U with average-rank tie handling,
    * plus the tie-corrected normal approximation
    * z = (U − n_x·n_y/2) / σ with
    * σ² = n_x·n_y/12 · (N+1 − Σ(t³−t)/(N(N−1)))
    * (Mann & Whitney 1947; the standard tie correction) — "did this
    * metric's distribution actually shift between segments", the rank-based
    * companion to [[ksTest]] that is sensitive to location shifts the KS
    * sup-gap understates.
    *
    * Determinism: 2U accumulates as Σ c_x·(2·cumYBelow + c_y) in EXACT
    * integers (decimal against 100-TB-scale products), and the tie term
    * Σ(t³−t) is exact decimal; z is then a fixed double expression of
    * three exact integers, mirrored token-for-token in the oracle.
    * Degenerate inputs (one side empty, or every value tied — σ² ≤ 0)
    * yield NULL z, mirrored.
    *
    * Scale shape: identical to [[ksTest]]/[[aucMannWhitney]] — one
    * conditional aggregation to per-distinct-value counts, two-phase
    * prefix sum over in-plan-derived range blocks (offsets table provably
    * ≤ [[NBlocks]] rows), no unpartitioned window over the value relation. */
  def rankSumTest(df: DataFrame, valCol: Column, isX: Column): DataFrame = {
    val counts = df
      .where(valCol.isNotNull)
      .groupBy(valCol.as("v"))
      .agg(
        sum(when(isX, 1L).otherwise(0L)).as("cx"),
        sum(when(isX, 0L).otherwise(1L)).as("cy"))
    // tie term rides the same bounds pass: t³ ≤ (2^53)³ needs decimal, and
    // (12,0)·(12,0)·(12,0) stays inside precision 38 without truncation
    val t = (col("cx") + col("cy")).cast("decimal(12,0)")
    val bounds = counts.agg(
      sum("cx").as("n_x"), sum("cy").as("n_y"),
      min("v").cast("double").as("vmin"), max("v").cast("double").as("vmax"),
      sum(t * t * t - t).as("tt"))
    val blocked = rangeBlocked(counts, bounds, NBlocks)
    val partials = blocked.groupBy("blk").agg(sum("cy").as("blk_y"))
    val wOff = Window.orderBy("blk").rowsBetween(Window.unboundedPreceding, -1)
    val offsets = partials
      .withColumn("off_y", coalesce(sum("blk_y").over(wOff), lit(0L)))
      .select("blk", "off_y")
    val wBelow = Window.partitionBy("blk").orderBy("v")
      .rowsBetween(Window.unboundedPreceding, -1)
    val u2 = blocked
      .join(broadcast(offsets), Seq("blk"))
      .withColumn("cum_below", col("off_y") + coalesce(sum("cy").over(wBelow), lit(0L)))
      .select(
        (col("cx").cast("decimal(19,0)") *
          (col("cum_below") * 2 + col("cy")).cast("decimal(19,0)")).as("u2"),
        col("n_x"), col("n_y"), col("tt"))
      .groupBy("n_x", "n_y", "tt")
      .agg(sum("u2").as("u2"))
    // z from three exact integers; the double expression below is mirrored
    // token-for-token by the SQL oracle so IEEE evaluation order matches
    val nxD = col("n_x").cast("double")
    val nyD = col("n_y").cast("double")
    val nD = (col("n_x") + col("n_y")).cast("double")
    val varTerm = nD + lit(1.0) - col("tt").cast("double") / (nD * (nD - lit(1.0)))
    val z = (col("u2").cast("double") - nxD * nyD) /
      (lit(2.0) * sqrt(nxD * nyD / lit(12.0) * varTerm))
    u2.select(
      col("n_x").cast("long").as("n_x"),
      col("n_y").cast("long").as("n_y"),
      round(col("u2").cast("double") / 2.0, 4).as("u"),
      when(col("n_x") === 0 || col("n_y") === 0 || varTerm <= 0,
        lit(null).cast("double"))
        .otherwise(round(z, 6)).as("z"))
  }

  /** Calibration audit (reliability diagram + expected calibration error)
    * of a probabilistic scorer against observed outcomes — the companion
    * to [[aucMannWhitney]]: AUC says whether a quality classifier RANKS
    * well; calibration says whether its probabilities can be TRUSTED as
    * sampling weights (a curation pipeline that keeps docs with
    * p(good) ≥ 0.8 needs 0.8 to mean 80%).
    *
    * `confUnits` must be the confidence in EXACT fixed-point units of
    * 1/[[ConfScale]] (e.g. `least(round(value*100), 10000)` for 2-dp data),
    * binned into [[CalibrationBins]] bins. Working in integer units is what
    * makes the audit deterministic: per-bin accuracy, mean confidence, the signed gap and
    * ECE are all single divisions of exact integer sums —
    *   gap_b = (scale·pos_b − Σunits_b) / (scale·n_b)
    *   ECE   = Σ_b |scale·pos_b − Σunits_b| / (scale·N)
    * so no floating-point accumulation order enters any output.
    *
    * Scale shape: ONE conditional aggregation collapses the corpus to
    * ≤ CalibrationBins rows (the shuffle carries integer partials only),
    * then the corpus-level ECE joins back as a broadcast 1-row aggregate of that
    * model-sized bin table — no unpartitioned window, no second scan.
    * Decimal(38) sums: Σunits can reach scale·|rows| ≈ 10^16 at 100-TB
    * cardinalities, inside decimal range but past safe long·long products. */
  def calibration(df: DataFrame, confUnits: Column, isPos: Column): DataFrame = {
    // integral floor division, never `/`: the bin edges stay exact
    val prod = confUnits * CalibrationBins
    val binDiv = call_function("div", prod - pmod(prod, lit(ConfScale)), lit(ConfScale))
    val bins = df
      .where(confUnits.isNotNull)
      .groupBy(least(binDiv, lit(CalibrationBins - 1L)).cast("long").as("bin"))
      .agg(
        count(lit(1)).as("n"),
        sum(when(isPos, 1L).otherwise(0L)).as("n_pos"),
        sum(confUnits.cast("decimal(38,0)")).as("cs"))
    val totals = bins.agg(
      sum("n").as("nn"),
      sum(abs(col("n_pos").cast("decimal(38,0)") * ConfScale - col("cs"))).as("en"))
    bins.crossJoin(broadcast(totals))
      .select(
        col("bin"), col("n"), col("n_pos"),
        round(col("n_pos").cast("double") / col("n"), 6).as("acc"),
        round(col("cs").cast("double") / (lit(ConfScale.toDouble) * col("n")), 6)
          .as("mean_conf"),
        round((col("n_pos").cast("decimal(38,0)") * ConfScale - col("cs")).cast("double") /
          (lit(ConfScale.toDouble) * col("n")), 6).as("gap"),
        round(col("en").cast("double") / (lit(ConfScale.toDouble) * col("nn")), 6)
          .as("ece"))
  }

  /** Benford first-significant-digit probabilities log10(1 + 1/d),
    * d = 1..9, as fixed literals so the engine and any SQL oracle use
    * bit-identical expectations (no cross-engine log10 dependency). */
  val BenfordP: Seq[Double] = Seq(
    0.3010299956639812, 0.17609125905568124, 0.12493873660829992,
    0.09691001300805642, 0.07918124604762482, 0.06694678963061322,
    0.05799194697768673, 0.05115252244738129, 0.04575749056067514)

  /** Benford's-law conformance screen over a positive 2-dp money/metric
    * column — the classic fabricated-data / broken-feed detector for a
    * data-quality tier: naturally occurring multi-magnitude amounts follow
    * P(d) = log10(1+1/d); synthetic, clipped, or unit-mangled feeds don't.
    * Emits one row per leading digit with observed count, expected count,
    * and the digit's chi-square contribution (obs−exp)²/exp.
    *
    * Determinism contract: the leading digit comes from the DECIMAL STRING
    * of the exact integer `round(value·100)` — never from floor(log10(x)),
    * whose cross-engine boundary behavior at exact powers of ten is not
    * trustworthy. Counts are exact integers; each emitted term is a fixed
    * expression of (n_d, N) and the literal [[BenfordP]] table.
    *
    * Scale shape: one conditional aggregation to a 9-row digit table (the
    * shuffle carries 9 integer partials), then the row total joins back as
    * a broadcast 1-row aggregate — same two-level rollup as
    * [[calibration]]. */
  def benfordScreen(df: DataFrame, valCol: Column): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val digits = df
      // round(v·100) >= 1, not v > 0: a positive value below 0.005 rounds
      // to 0 cents and would form a digit-0 group — dropped by the join
      // with the 1-9 expectation table yet still counted in the row total,
      // silently deflating every expected count. Unreachable under the
      // 2-dp data contract, but the operator accepts any positive column.
      .where(valCol.isNotNull && round(valCol * 100) >= 1)
      .groupBy(substring(round(valCol * 100).cast("decimal(38,0)")
        .cast("string"), 1, 1).cast("int").as("digit"))
      .agg(count(lit(1)).as("n_obs"))
    val expected = broadcast(
      BenfordP.zipWithIndex
        .map { case (p, i) => (i + 1, p) }
        .toDF("digit", "p_exp"))
    val total = digits.agg(sum("n_obs").as("nn"))
    // (obs-exp)² as an explicit product, not pow(x, 2): IEEE multiplication
    // is bit-identical across engines; pow's last-ulp freedom is not.
    val dev = col("n_obs") - col("nn") * col("p_exp")
    digits.join(expected, Seq("digit"))
      .crossJoin(broadcast(total))
      .select(
        col("digit"), col("n_obs"),
        round(col("p_exp"), 6).as("p_exp"),
        round(col("nn") * col("p_exp"), 4).as("n_exp"),
        round(dev * dev / (col("nn") * col("p_exp")), 6).as("chi2_term"))
  }

  /** Poisson(1) inverse-CDF thresholds at 2³² scale: weight k is assigned
    * iff the 32-bit hash uniform u < T(k) and u ≥ T(k−1) — i.e. the first
    * k with u < T(k), else 9. Computed once from the exact series
    * (60-digit decimal e) and frozen as integer literals so the engine and
    * the generated oracle SQL compare the SAME longs — no floating CDF at
    * query time. P(w=9) ≈ 1.1e-6 absorbs the tail. */
  val PoissonThresholds: Seq[Long] = Seq(
    1580030168L, 3160060337L, 3950075421L, 4213413783L, 4279248373L,
    4292415291L, 4294609777L, 4294923276L, 4294962463L)
  // the fused poisson_w expression carries its own copy of these literals
  // (plans may not depend on operators) — drift would silently change
  // every bootstrap weight, so equality is a load-time invariant
  require(PoissonThresholds == graft.plans.PoissonW.Thresholds.toSeq,
    "StatsOps.PoissonThresholds diverged from plans.PoissonW.Thresholds")

  /** Poisson-bootstrap confidence interval for the per-group mean — THE
    * distributed bootstrap (Chamandy et al., "Estimating Uncertainty for
    * Massive Data Streams"): classical resampling needs the whole sample
    * on one machine per replica; here replica b assigns every row an
    * independent Poisson(1) weight (multinomial→Poisson approximation),
    * so all `b` resamples ride ONE scan as a ×b explode + one partial-
    * aggregated groupBy. No row-level resample shuffle exists at any
    * scale. (The column-wise form — 2b agg columns, no row blow-up —
    * looks cheaper on paper but measured ~4× SLOWER fully evaluated: the
    * 2b+2-expression aggregate falls out of whole-stage codegen. See
    * ARCHITECTURE "q_bootstrap_ci attribution".)
    *
    * Determinism: the weight is a pure function of (id, replica) — a
    * 32-bit md5 uniform compared against frozen integer
    * [[PoissonThresholds]] — and values quantize to exact integer cents
    * BEFORE weighting, so every replica sum is an exact long and each
    * replica mean is ONE division. The CI is an exact order statistic of
    * the ≤ b replica means (a bounded per-group array, sorted): lo = the
    * max(1, ⌊[[LoPct]]·b⌋)-th smallest, hi = the min(b, ⌈[[HiPct]]·b⌉)-th.
    * CONVENTION: the floor-with-min-1 lower index is deliberately
    * conservative — at LoPct = 0.025 and b = 64 it
    * selects the MINIMUM replica mean (empirical ~1.5th percentile)
    * rather than ceil's 2.5th-percentile order statistic; the generated
    * oracle SQL hardcodes the same indices, so both engines share the
    * convention exactly (ADVICE r13). Callers wanting textbook
    * percentile-bootstrap endpoints can raise b (the index granularity).
    * Replicas that drew total weight 0 (probability e^{-n·b} — only
    * conceivable for single-digit groups) are dropped from the order
    * statistic rather than polluting it with NULL.
    *
    * Output: (key, n, mean, ci_lo, ci_hi), mean/CI rounded to 6 dp. */
  def bootstrapCi(df: DataFrame, keyCol: Column, valCol: Column, idCol: Column,
                  b: Int = 32): DataFrame = {
    require(b >= 2, s"need at least 2 replicas, got $b")
    val cents = round(valCol * 100).cast("long")
    // fanOut: the ×b explode + per-replica md5 is the query's entire cost
    // and sits in the scan stage — on a single-row-group parquet source it
    // would all run on ONE core (the documented small-file trap; a no-op
    // at production scale). Narrow columns only, per the fanOut contract.
    val base = ScaleOps.fanOut(df.where(valCol.isNotNull)
      .select(keyCol.as("k"), cents.as("cv"), idCol.cast("string").as("rid")))
    val rep = base.select(col("k"), col("cv"), col("rid"),
      explode(sequence(lit(0), lit(b - 1))).as("rep"))
    // first threshold the md5 uniform falls under = the Poisson(1) draw —
    // one fused expression node instead of a 9-branch when-cascade whose
    // inlined codegen dominated this query's first evaluation (the
    // cascade≡poisson_w equality is pinned in NativeExprSpec; thresholds
    // asserted equal below at class load)
    val w = call_function("poisson_w", concat(col("rid"), lit(":"), col("rep")))
    val perRep = rep.withColumn("w", w)
      .groupBy(col("k"), col("rep"))
      .agg(sum(col("w") * col("cv")).as("sv"), sum(col("w")).as("sw"))
      .where(col("sw") > 0)
      .select(col("k"), (col("sv").cast("double") / col("sw") / 100.0).as("mean_r"))
    val kLo = math.max(1, math.floor(LoPct * b).toInt)
    val kHi = math.min(b, math.ceil(HiPct * b).toInt)
    val stats = base.groupBy(col("k"))
      .agg(count(lit(1)).as("n"), sum(col("cv")).as("sv"))
    perRep.groupBy(col("k"))
      .agg(sort_array(collect_list(col("mean_r"))).as("ms"), count(lit(1)).as("nr"))
      .join(stats, Seq("k"))
      .select(col("k"), col("n"),
        round(col("sv").cast("double") / col("n") / 100.0, 6).as("mean"),
        round(element_at(col("ms"), least(lit(kLo), col("nr")).cast("int")), 6).as("ci_lo"),
        round(element_at(col("ms"), least(lit(kHi), col("nr")).cast("int")), 6).as("ci_hi"))
  }
}
