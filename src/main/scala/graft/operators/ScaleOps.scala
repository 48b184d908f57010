package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Scale-technique helpers: source fan-out, the two size crossovers
  * (one wave of scan tasks, the broadcast budget), the content-keyed
  * n-gram exchange, Bloom-prefiltered semi joins, key salting for skewed
  * joins and Z-order keys. These are the knobs the engine reaches for at
  * 100 TB when AQE alone isn't enough.
  */
object ScaleOps {

  /** Restore map-side parallelism when the SOURCE under-supplies partitions.
    *
    * Parquet splits at row-group boundaries, so a small single-row-group
    * file yields ONE scan partition no matter how many cores exist — and a
    * broadcast-join-only pipeline (no shuffle anywhere) then runs start to
    * finish on one core. This repartitions to `defaultParallelism` ONLY when
    * the plan's estimated size says the scan cannot reach that parallelism
    * anyway (`sizeInBytes < cores × files.maxPartitionBytes`), which bounds
    * the repartition shuffle by cores × maxPartitionBytes — trivial — while
    * making the call a provable NO-OP on production-scale inputs, where the
    * scan already has thousands of natural splits. Call it on a NARROW
    * intermediate (signatures, ids), never on wide text/binary columns.
    */
  def fanOut(df: DataFrame): DataFrame = {
    // pass streams through untouched: forcing queryExecution on a streaming
    // DataFrame is a batch-analysis error, and micro-batch sources manage
    // their own partitioning
    if (df.isStreaming) return df
    if (fitsOneWave(df)) df.repartition(df.sparkSession.sparkContext.defaultParallelism)
    else df
  }

  /** The one-wave crossover: true when the plan's estimated size is below
    * `cores × files.maxPartitionBytes` — the whole input fits one wave of
    * scan tasks, so the executors hold it comfortably. [[fanOut]],
    * [[QuantileOps.exactQuantiles]] and [[PipelineOps.lengthBuckets]] pick
    * their small-input form with it. */
  def fitsOneWave(df: DataFrame): Boolean = {
    val cores = df.sparkSession.sparkContext.defaultParallelism
    val maxPart = org.apache.spark.sql.internal.SQLConf.get.filesMaxPartitionBytes
    df.queryExecution.optimizedPlan.stats.sizeInBytes < BigInt(maxPart) * cores
  }

  /** The broadcast-budget crossover: true when an estimated `bytes` fits
    * the session's `spark.sql.autoBroadcastJoinThreshold`. A disabled
    * budget (≤ 0) fits nothing, and then `bytes` is never evaluated, so an
    * estimate that costs a job runs only when the answer depends on it.
    * [[GraphOps.pageRank]] and [[SimilarityOps.marginMine]] pick their
    * broadcast form with it. */
  def fitsBroadcast(bytes: => Long): Boolean = {
    val thresh = org.apache.spark.sql.internal.SQLConf.get.autoBroadcastJoinThreshold
    thresh > 0 && bytes <= thresh
  }

  /** The content-keyed n-gram exchange: one (id, i, g) row per positional
    * word n-gram of each (id, toks) row with at least `n` tokens — `i` the
    * gram's 1-based start, `g` the xxhash64 of its space-joined text —
    * repartitioned by `g` ONCE. A gram-keyed aggregation and a gram-keyed
    * join probe over the result share that one exchange subtree
    * (ReuseExchange), so the tokenize + slice + hash derivation runs a
    * single time. Every gram-frequency operator (boilerplate stripping,
    * keep-first span dedup, duplicated-span stats) exchanges through here,
    * so skew handling for a hot gram has this one site. */
  def gramExchange(toked: DataFrame, n: Int): DataFrame =
    toked
      .where(size(col("toks")) >= n)
      .select(col("id"), col("toks"), explode(sequence(lit(1), size(col("toks")) - (n - 1))).as("i"))
      .select(col("id"), col("i"),
        xxhash64(concat_ws(" ", slice(col("toks"), col("i"), lit(n)))).as("g"))
      .repartition(col("g"))

  /** Bits in bloomSemiJoin's filter: an 8 KB broadcast blob. */
  private val BloomBits = 1 << 16
  /** Bits of each key that zorderValue interleaves. */
  private val ZorderBits = 16

  /** Bloom-prefiltered left-semi join: keep `big` rows whose `bigKey`
    * appears in `small`'s `smallKey` set — the exact semi-join result —
    * but prune the big side MAP-SIDE first with a broadcast Bloom filter
    * built over the small side's keys.
    *
    * This is the runtime-filter pattern as a reusable operator: at 100 TB
    * the semi join must shuffle whatever survives its filters, and when
    * the match rate is low the Bloom probe (a codegen'd bit test against
    * an 8 KB broadcast blob) discards most of the big side before ANY
    * exchange. The result is EXACTLY the plain semi join — the Bloom has
    * no false negatives by construction, and its false positives are
    * removed by the exact join that follows — so the operator is
    * oracle-checkable with plain SQL while the plan carries the pruning.
    * Build cost: one partial-aggregated pass over the small side; the
    * shuffle carries one m-bit blob per partition (bitwise-OR merge),
    * never the key set.
    */
  def bloomSemiJoin(big: DataFrame, bigKey: String,
                    small: DataFrame, smallKey: String): DataFrame = {
    val k = graft.plans.BloomMightContain.NumHashes
    val bloomAgg = udaf(new graft.functions.BloomFilterAggregator(BloomBits, k))
    val blob = small.agg(bloomAgg(col(smallKey).cast("long")).as("__bloom"))
    big
      .crossJoin(broadcast(blob)) // 1-row m-bit blob
      .where(call_function("bloom_might_contain", col("__bloom"), col(bigKey).cast("long")))
      .drop("__bloom")
      .join(small.select(col(smallKey).as("__sk")).distinct(),
        col(bigKey) === col("__sk"), "left_semi")
  }

  /** Salted equi-join for skewed keys: the skewed (big) side gets a random
    * salt in [0, saltFactor); the small side is replicated saltFactor times,
    * so one hot key fans out over saltFactor reducers instead of one.
    *
    * The salt is derived deterministically from a hash of the whole row
    * (monotonically_increasing_id would break retry idempotence), so the
    * join stays reproducible. AQE's skew-join handles moderate skew on its
    * own; explicit salting is for the pathological keys AQE can't split
    * (single-key hot spots inside one task). */
  def saltedJoin(big: DataFrame, small: DataFrame, key: String, saltFactor: Int): DataFrame = {
    val saltedBig = big.withColumn("__salt",
      pmod(xxhash64(struct(big.columns.map(col).toIndexedSeq: _*)), lit(saltFactor)).cast("int"))
    val saltedSmall = small
      .withColumn("__salt", explode(sequence(lit(0), lit(saltFactor - 1))))
    saltedBig
      .join(saltedSmall, Seq(key, "__salt"))
      .drop("__salt")
  }

  /** Z-order (Morton) value of two keys: interleave the low [[ZorderBits]] bits of
    * x (even positions) and y (odd positions). Sorting/range-partitioning a
    * table by this value clusters rows that are close in BOTH dimensions
    * into the same files, so min/max file statistics prune scans for
    * predicates on either key — the multi-dimensional layout optimization
    * behind Delta/Iceberg Z-ORDER, here as a plain codegen'd column
    * expression (a sum of shift/mask terms; no UDF, no shuffle). */
  def zorderValue(x: Column, y: Column): Column =
    (0 until ZorderBits).map { i =>
      shiftleft(shiftright(x, i).bitwiseAND(1), 2 * i) +
        shiftleft(shiftright(y, i).bitwiseAND(1), 2 * i + 1)
    }.reduce(_ + _)
}
