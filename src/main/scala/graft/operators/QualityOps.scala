package graft.operators

import graft.GraftSession.Ckpt

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Declarative data-quality checks (Deequ-style constraint suite).
  *
  * Scale design: all per-table metrics are computed in ONE aggregation pass
  * over the fact table — the check suite costs a single scan regardless of
  * how many checks it contains, and the referential-integrity probe rides
  * the same pass as a broadcast hash join against the (small) dimension key
  * set. The wide 1-row aggregate is then unpivoted driver-free into one row
  * per check; nothing here is per-row driver work.
  */
object QualityOps {

  private val Text = "text"
  private val DocId = "doc_id"

  /** One named constraint: a metric column (evaluated inside the single
    * aggregation) and the minimum value it must reach to pass.
    */
  final case class Check(name: String, metric: Column, threshold: Double)

  /** Evaluate a constraint suite in one aggregation pass over `df`.
    * Returns one row per check: (check_name, metric, threshold, pass), with the
    * metric rounded to 6 dp so downstream equality comparisons are stable
    * across summation orders.
    */
  def dqChecks(df: DataFrame, checks: Seq[Check]): DataFrame = {
    val agg = df.agg(
      round(checks.head.metric, 6).as(checks.head.name),
      checks.tail.map(c => round(c.metric, 6).as(c.name)): _*)
    // Unpivot the 1-row wide aggregate into (check, metric) rows in-plan.
    val pairs = checks.map(c =>
      struct(lit(c.name).as("check_name"), col(c.name).as("metric"),
        lit(c.threshold).as("threshold")))
    agg.select(explode(array(pairs: _*)).as("c"))
      .select(col("c.check_name").as("check_name"), col("c.metric").as("metric"),
        col("c.threshold").as("threshold"),
        (col("c.metric") >= col("c.threshold")).as("pass"))
  }

  /** Fraction of rows satisfying `cond` (NULL counts as failing). */
  def rate(cond: Column): Column = avg(when(cond, 1.0d).otherwise(0.0d))

  /** k-anonymity / l-diversity audit (Sweeney 2002; Machanavajjhala 2007):
    * for each quasi-identifier combination, the equivalence-class size
    * (k-anonymity) and the number of distinct sensitive values it contains
    * (l-diversity), plus the keep/suppress verdict at thresholds (k, l).
    * The release-gating step of a privacy-aware curation pipeline: classes
    * below k are re-identifiable by an attacker who knows the quasi-
    * identifiers; classes whose sensitive attribute is near-constant leak
    * it even at k. One groupBy over the quasi-identifier key — the shuffle
    * carries one row per equivalence class (count + distinct-count partials,
    * never raw rows), so the audit is a single exchange at any scale. */
  def kAnonymityAudit(df: DataFrame, quasiCols: Seq[Column], sensitiveCol: Column,
                      k: Long, l: Long): DataFrame =
    df.groupBy(quasiCols: _*)
      .agg(
        count(lit(1)).as("class_size"),
        count_distinct(sensitiveCol).as("l_div"))
      .withColumn("keep", col("class_size") >= k && col("l_div") >= l)

  /** Population Stability Index between a reference and a current sample of
    * a numeric column — the standard two-sample distribution-drift metric
    * (credit-scoring monitoring lineage; PSI ≥ 0.2 conventionally flags a
    * shift). The companion to [[TimeSeriesOps.cusum]]: CUSUM watches a
    * sequence for sustained level drift, PSI compares whole distributions
    * between two corpus snapshots (last month's ingest vs this month's).
    *
    * Values bin into `nBins` fixed-width buckets on [lo, lo + nBins·width)
    * with both tails clamped into the edge bins; each side is one
    * partial-combined count aggregation (a scan), totals ride back as
    * broadcast 1-row aggregates, and the ≤ nBins-row result is where the
    * ln() arithmetic happens — model-sized, never data-sized. Zero-count
    * bins get +0.5 Laplace smoothing (exact-dyadic, so shares stay
    * bitwise-reproducible): PSI stays finite when a bin empties on one
    * side, which is exactly the drifted case worth flagging. Returns one
    * row per bin: counts, smoothed shares, and the additive PSI term
    * (q − p)·ln(q/p); Σ terms is the index, left to the consumer so
    * summation order never enters the contract. */
  def psi(ref: DataFrame, cur: DataFrame, valCol: String,
          lo: Double, width: Double, nBins: Int): DataFrame = {
    require(nBins >= 2 && width > 0, s"need nBins >= 2, width > 0; got $nBins, $width")
    // ONE pass per input: both histograms come out of a single conditional
    // aggregation over the flagged union, and every downstream consumer
    // (spine join, totals) reads the resulting nBins-row table — previously
    // each histogram AND each total re-derived its own full input scan
    // (8 scans per PSI). The checkpoint is bounded model metadata: nBins
    // count rows, never data.
    def side(df: DataFrame, isRef: Boolean): DataFrame = df
      .select(col(valCol).as("__v"), lit(isRef).as("__is_ref"))
    val counts = side(ref, isRef = true).unionByName(side(cur, isRef = false))
      .select(least(greatest(floor((col("__v") - lo) / width), lit(0L)),
        lit((nBins - 1).toLong)).cast("int").as("bin"), col("__is_ref"))
      .groupBy("bin").agg(
        sum(when(col("__is_ref"), 1L).otherwise(0L)).as("ref_cnt"),
        sum(when(col("__is_ref"), 0L).otherwise(1L)).as("cur_cnt"))
      .ckpt(true)
    val spine = ref.sparkSession.range(nBins)
      .select(col("id").cast("int").as("bin"))
    val totals = counts.agg(sum(col("ref_cnt")).as("ref_total"),
      sum(col("cur_cnt")).as("cur_total"))
    val half = lit(0.5)
    val smooth = lit(nBins * 0.5)
    spine
      .join(counts, Seq("bin"), "left")
      .crossJoin(broadcast(totals))
      .select(col("bin"),
        coalesce(col("ref_cnt"), lit(0L)).as("ref_cnt"),
        coalesce(col("cur_cnt"), lit(0L)).as("cur_cnt"),
        col("ref_total"), col("cur_total"))
      .withColumn("p", (col("ref_cnt") + half) / (col("ref_total") + smooth))
      .withColumn("q", (col("cur_cnt") + half) / (col("cur_total") + smooth))
      .select(col("bin"), col("ref_cnt"), col("cur_cnt"),
        round(col("p"), 6).as("ref_share"),
        round(col("q"), 6).as("cur_share"),
        round((col("q") - col("p")) * log(col("q") / col("p")), 6).as("psi_term"))
  }

  /** Embedding-space drift between two snapshots: the per-dimension shift
    * of the mean vector — the vector-space counterpart of [[psi]], which
    * watches scalar distributions. A retrained embedder, upstream
    * content-mix change, or corrupt ingest shows up as per-dimension mean
    * shift long before downstream task metrics move.
    *
    * One pass over the flagged union: posexplode to (dim, value) and a
    * partial-aggregated conditional average per dimension — shuffle
    * payload is dims × partitions partial sums, never the vectors.
    * Output: one row per dimension (dim, mean_ref, mean_cur, shift).
    */
  def embeddingDrift(ref: DataFrame, cur: DataFrame): DataFrame = {
    def side(df: DataFrame, isRef: Boolean): DataFrame = df
      .select(col("embedding").as("__v"), lit(isRef).as("__is_ref"))
    side(ref, isRef = true).unionByName(side(cur, isRef = false))
      .select(col("__is_ref"), posexplode(col("__v")))
      .groupBy(col("pos").cast("long").as("dim"))
      .agg(avg(when(col("__is_ref"), col("col"))).as("mr"),
        avg(when(!col("__is_ref"), col("col"))).as("mc"))
      .select(col("dim"),
        round(col("mr"), 6).as("mean_ref"),
        round(col("mc"), 6).as("mean_cur"),
        round(abs(col("mr") - col("mc")), 6).as("shift"))
  }

  /** Per-source corpus profile: document count, token volume, mean doc
    * length, distinct-token count and type-token ratio — the per-provenance
    * health report a curation pipeline prints before deciding mixing
    * weights. One token explode, one two-key aggregation (partial map-side:
    * the shuffle carries (source, token) partials, never raw tokens), one
    * per-source rollup. At 100 TB the distinct-token count per source is
    * the only state that grows with vocabulary — swap count_distinct for
    * approx_count_distinct when exactness stops mattering; the plan is
    * otherwise identical. */
  def sourceProfile(docs: DataFrame): DataFrame =
    docs
      .select(col("source").as("source"), col(DocId),
        split(col(Text), " ").as("__toks"))
      .select(col("source"), col(DocId), explode(col("__toks")).as("tok"))
      .groupBy("source")
      .agg(
        count_distinct(col(DocId)).as("n_docs"),
        count(lit(1)).as("n_tokens"),
        count_distinct(col("tok")).as("n_distinct_tokens"))
      .withColumn("avg_tokens", round(col("n_tokens") / col("n_docs").cast("double"), 6))
      .withColumn("ttr", round(col("n_distinct_tokens") / col("n_tokens").cast("double"), 6))

  /** Cross-source duplication matrix: for every unordered source pair, the
    * number of DISTINCT word n-grams they share — the provenance-level
    * contamination/overlap diagnostic (which crawls duplicate which, which
    * sources are near-mirrors) run before document-level dedup decides
    * keepers. Plan shape: one positional gram pass, distinct (source, gram)
    * pairs, then a per-gram source-set aggregation whose state is bounded
    * by the SOURCE COUNT (handfuls, not corpus-sized) and a map-side pair
    * explode of that tiny set — the |sources|² pair space never joins
    * corpus-sized relations. */
  def sourceOverlap(docs: DataFrame, n: Int = 8): DataFrame = {
    val grams = docs
      .select(col("source").as("src_grp"), split(col(Text), " ").as("toks"))
      .where(size(col("toks")) >= n)
      .select(col("src_grp"), explode(sequence(lit(1), size(col("toks")) - (n - 1))).as("i"),
        col("toks"))
      .select(col("src_grp"), concat_ws(" ", slice(col("toks"), col("i"), lit(n))).as("g"))
      .distinct()
    grams
      .groupBy("g").agg(sort_array(collect_set(col("src_grp"))).as("ss"))
      .where(size(col("ss")) >= 2)
      .select(explode(flatten(transform(col("ss"), a =>
        transform(filter(col("ss"), b => b > a), b =>
          struct(a.as("source_a"), b.as("source_b")))))).as("p"))
      .groupBy(col("p.source_a").as("source_a"), col("p.source_b").as("source_b"))
      .agg(count(lit(1)).as("shared_ngrams"))
  }
}
