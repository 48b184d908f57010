package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Scale-technique helpers: source fan-out, Bloom-prefiltered semi
  * joins, key salting for skewed joins and Z-order keys. These are the
  * knobs the engine reaches for at 100 TB when AQE alone isn't enough.
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
    val target = df.sparkSession.sparkContext.defaultParallelism
    val maxPart = org.apache.spark.sql.internal.SQLConf.get.filesMaxPartitionBytes
    if (df.queryExecution.optimizedPlan.stats.sizeInBytes < BigInt(maxPart) * target)
      df.repartition(target)
    else df
  }

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
