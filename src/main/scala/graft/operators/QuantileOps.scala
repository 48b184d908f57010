package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Exact distributed quantiles.
  *
  * Spark's built-in exact `percentile()` aggregate buffers EVERY value of a
  * group into one in-memory map before the final merge — at 100 TB a single
  * group's values land on a single reducer and OOM it. This computes the
  * same linear-interpolated quantiles (`quantile_cont` semantics: position
  * `(n-1)·p`) from a key-partitioned sort + rank arithmetic: the sort
  * distributes across the cluster, and only ≤ 2 boundary rows per (group,
  * quantile) survive into the final tiny aggregation.
  */
object QuantileOps {

  /** One row per group: one `label` column per requested probability with
    * the round(·, scale) quantile of `valCol`.
    *
    * ADAPTIVE: two formulations with identical results (pinned in
    * ScalaTest), chosen by [[ScaleOps.fitsOneWave]] from the plan's size
    * estimate — "would the whole input fit the executors comfortably"
    * (cores × files.maxPartitionBytes):
    *
    *  - small inputs → [[windowQuantiles]]: one shuffle + per-group window.
    *    Parallelism is capped at the group count, but below the threshold
    *    the whole input is a few hundred MB and the window costs less than
    *    the selection path's extra jobs.
    *  - large inputs → [[selectionQuantiles]]: distributed selection with
    *    partition-count metadata — parallelism independent of group count
    *    and NO task ever buffers a whole group, which is what matters when
    *    one group is 30 TB of a 100 TB table.
    */
  def exactQuantiles(df: DataFrame, groupCol: String, valCol: String,
                     ps: Seq[(String, Double)], scale: Int = 4): DataFrame = {
    require(ps.nonEmpty, "need at least one quantile")
    if (ScaleOps.fitsOneWave(df))
      windowQuantiles(df, groupCol, valCol, ps, scale)
    else
      selectionQuantiles(df, groupCol, valCol, ps, scale)
  }

  /** Per-group window formulation: `row_number` over partitionBy(group) +
    * boundary-row aggregation. Each group lands on ONE window partition —
    * parallelism = group count, task memory ∝ largest group — so this is
    * only planned when the whole input is executor-comfortable (see
    * [[exactQuantiles]]). */
  private[operators] def windowQuantiles(df: DataFrame, groupCol: String, valCol: String,
                     ps: Seq[(String, Double)], scale: Int): DataFrame = {
    val byVal = Window.partitionBy(col(groupCol)).orderBy(col(valCol))
    val whole = Window.partitionBy(col(groupCol))
    val ranked = df
      .select(col(groupCol), col(valCol))
      // quantile_cont/percentile semantics ignore NULLs; without this filter
      // Spark's NULLS FIRST ordering would rank them ahead of every value
      .where(col(valCol).isNotNull)
      .withColumn("rn", row_number().over(byVal))
      .withColumn("n", count(lit(1)).over(whole))
    // keep only the ≤ 2·|ps| boundary rows per group before aggregating
    val needed = ps.map { case (_, p) =>
      val target = (col("n") - 1) * lit(p)
      val lo = floor(target).cast("long") + 1
      col("rn") === lo || col("rn") === least(lo + 1, col("n"))
    }.reduce(_ || _)
    val aggs = ps.flatMap { case (label, p) =>
      val target = (col("n") - 1) * lit(p)
      val lo = floor(target).cast("long") + 1
      val hi = least(lo + 1, col("n"))
      val frac = target - floor(target)
      val vLo = max(when(col("rn") === lo, col(valCol)))
      val vHi = max(when(col("rn") === hi, col(valCol)))
      val fr = max(frac) // constant within the group
      Seq(round(vLo + fr * (coalesce(vHi, vLo) - vLo), scale).as(label))
    }
    ranked
      .where(needed)
      .groupBy(col(groupCol))
      .agg(aggs.head, aggs.tail: _*)
  }

  /** DISTRIBUTED SELECTION — the 100 TB path:
    *
    *  1. range-repartition + in-partition sort on (group, value); both
    *     spread one group across MANY partitions,
    *  2. one pass counts rows per (partition, group) — driver receives
    *     only partitions × groups count rows (metadata-sized: the final
    *     answer is already `groups` rows, and partitions is a config),
    *  3. the driver converts each target rank `(n−1)·p` into (partition,
    *     local index) pairs, broadcast back,
    *  4. one selection pass emits exactly the ≤ 2·|ps| boundary rows per
    *     group (the second job reuses the first's shuffle files — same RDD
    *     lineage, the map stage is skipped),
    *  5. interpolation happens in Catalyst on the ORIGINAL value type with
    *     the same expression as the window formulation (decimal-exact until
    *     the double fraction enters), so results are bit-identical to it.
    */
  private[operators] def selectionQuantiles(df: DataFrame, groupCol: String, valCol: String,
                     ps: Seq[(String, Double)], scale: Int): DataFrame = {
    val spark = df.sparkSession
    // quantile_cont/percentile semantics ignore NULLs
    val slim = df.select(col(groupCol), col(valCol)).where(col(valCol).isNotNull)
    val nPart = spark.sessionState.conf.numShufflePartitions
    val rdf = slim.repartitionByRange(nPart, col(groupCol), col(valCol))
      .sortWithinPartitions(groupCol, valCol)
    val schema = rdf.schema
    val groupType = schema(0).dataType
    val valType = schema(1).dataType
    // Catalyst-internal → external (UTF8String is buffer-backed and reused
    // by the sort iterator; Decimal/Double box into fresh objects)
    def ext(x: Any): Any = x match {
      case u: org.apache.spark.unsafe.types.UTF8String => u.toString
      case d: org.apache.spark.sql.types.Decimal => d.toJavaBigDecimal
      case other => other
    }
    val rdd = rdf.queryExecution.toRdd // shared lineage: one shuffle, two jobs
    // job 1 — per-(partition, group) counts; driver traffic = nPart × groups
    val partCounts: Array[(Int, Any, Long)] = rdd.mapPartitionsWithIndex { (pid, it) =>
      val m = scala.collection.mutable.LinkedHashMap.empty[Any, Long]
      it.foreach { row =>
        val g = ext(row.get(0, groupType))
        m.update(g, m.getOrElse(g, 0L) + 1L)
      }
      m.iterator.map { case (g, c) => (pid, g, c) }
    }.collect()
    val totals: Map[Any, Long] =
      partCounts.groupBy(_._2).map { case (g, xs) => g -> xs.map(_._3).sum }
    // per group: global offset of each partition (ranks are 1-based)
    val offsets: Map[Any, Seq[(Int, Long, Long)]] = partCounts.groupBy(_._2).map {
      case (g, xs) =>
        val sorted = xs.sortBy(_._1)
        val offs = sorted.scanLeft(0L)(_ + _._3).init
        g -> sorted.zip(offs).map { case ((pid, _, c), off) => (pid, off, c) }
    }
    // target ranks per group — identical double arithmetic to the window
    // formulation: target = (n-1)·p, lo = floor(target)+1, hi = min(lo+1, n)
    case class Target(label: String, lo: Long, hi: Long, frac: Double)
    val targets: Map[Any, Seq[Target]] = totals.map { case (g, n) =>
      g -> ps.map { case (label, p) =>
        val target = (n - 1).toDouble * p
        val lo = math.floor(target).toLong + 1
        Target(label, lo, math.min(lo + 1, n), target - math.floor(target))
      }
    }
    // ranks → (partition, local index), broadcast for the selection pass
    val wantedByPid: Map[Int, Map[Any, Seq[Long]]] = {
      val triples = for {
        (g, ts) <- targets.toSeq
        rank <- ts.flatMap(t => Seq(t.lo, t.hi)).distinct
        (pid, off, c) <- offsets(g)
        if rank > off && rank <= off + c
      } yield (pid, g, rank - off)
      triples.groupBy(_._1).map { case (pid, xs) =>
        pid -> xs.groupBy(_._2).map { case (g, ys) => g -> ys.map(_._3).distinct.sorted }
      }
    }
    val bc = spark.sparkContext.broadcast(wantedByPid)
    // job 2 — selection: per partition walk the (group, value)-sorted rows
    // with a per-group counter, emitting only the wanted local ranks
    val picked: Array[(Int, Any, Long, Any)] = rdd.mapPartitionsWithIndex { (pid, it) =>
      bc.value.get(pid) match {
        case None => Iterator.empty
        case Some(wanted) =>
          val seen = scala.collection.mutable.HashMap.empty[Any, Long]
          it.flatMap { row =>
            val g = ext(row.get(0, groupType))
            val c = seen.getOrElse(g, 0L) + 1L
            seen.update(g, c)
            if (wanted.getOrElse(g, Nil).contains(c))
              Iterator.single((pid, g, c, ext(row.get(1, valType))))
            else Iterator.empty
          }
      }
    }.collect()
    // local rank → global rank via the partition offset it was selected from
    val offsetOf: Map[(Any, Int), Long] = offsets.flatMap { case (g, xs) =>
      xs.map { case (pid, off, _) => (g, pid) -> off }
    }
    val valueAt: Map[(Any, Long), Any] =
      picked.map { case (pid, g, local, v) => (g, offsetOf((g, pid)) + local) -> v }.toMap
    // rebuild result rows on the driver (groups × (2 values + frac) per
    // quantile — output-sized), interpolate in Catalyst exactly as before
    import org.apache.spark.sql.types.{DoubleType, StructField, StructType}
    import org.apache.spark.sql.Row
    val outSchema = StructType(
      StructField(groupCol, groupType) +:
        ps.flatMap { case (label, _) => Seq(
          StructField(s"__${label}_lo", valType),
          StructField(s"__${label}_hi", valType),
          StructField(s"__${label}_fr", DoubleType))
        })
    val rows: Seq[Row] = targets.toSeq.map { case (g, ts) =>
      Row.fromSeq(g +: ts.flatMap(t =>
        Seq(valueAt((g, t.lo)), valueAt((g, t.hi)), t.frac)))
    }
    val base = spark.createDataFrame(
      new java.util.ArrayList[Row](scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava),
      outSchema)
    val cols = col(groupCol) +: ps.map { case (label, _) =>
      val (vLo, vHi, fr) = (col(s"__${label}_lo"), col(s"__${label}_hi"), col(s"__${label}_fr"))
      round(vLo + fr * (vHi - vLo), scale).as(label)
    }
    base.select(cols: _*)
  }

  /** Fixed-width histogram of `valCol`: bin index, count, and the bin's
    * observed min/max. Values below `lo` clamp into bin 0 and values at or
    * above `lo + nBins·width` into the last bin (open outer bins). One
    * partial-combined aggregation on the bin index — the two-pass
    * "min/max then bin" dance is avoided by fixing the range up front,
    * which is also what keeps the bin boundaries stable across reruns and
    * engines. Only non-empty bins appear; NULL values are dropped. */
  def histogram(df: DataFrame, valCol: String,
                lo: Double, width: Double, nBins: Int): DataFrame = {
    require(width > 0 && nBins > 0, s"need width>0, nBins>0; got $width, $nBins")
    val v = col(valCol)
    val bin = least(greatest(floor((v - lit(lo)) / lit(width)), lit(0L)),
      lit(nBins - 1L)).cast("long")
    df.where(v.isNotNull)
      .groupBy(bin.as("bin"))
      .agg(count(lit(1)).as("cnt"),
        round(min(v), 6).as("min_v"), round(max(v), 6).as("max_v"))
  }

  /** Decimal places of winsorize's and robustOutliers' quantiles and
    * outputs. */
  private val Scale = 6

  /** Winsorize: clamp `valCol` into its group's [pLo, pHi] quantile range,
    * the robust-stats outlier treatment that keeps row count (unlike
    * trimming). The quantile table is one row per group — broadcast back
    * onto the data, so the fact table is scanned once for the quantiles
    * (sort-based, distributed) and once for the clamp; swap the broadcast
    * for a shuffle join if the group count itself is huge. Boundaries and
    * output share one rounding scale so the clamped value is exactly the
    * published quantile.
    */
  /** Equi-depth histogram per group: `nBins` bins whose edges are the
    * i/nBins quantiles of `valCol` within the group, so populations are
    * ~equal up to value ties. Edges come from [[exactQuantiles]] (one slim
    * row per group, broadcast back); bin assignment is a codegen'd chain of
    * comparisons, no per-row interpreted work. Only non-empty bins appear.
    */
  def equiDepthHistogram(df: DataFrame, groupCol: String, valCol: String,
      nBins: Int): DataFrame = {
    require(nBins > 1, s"need nBins>1; got $nBins")
    val edges = (1 until nBins).map(i => s"__e$i" -> i.toDouble / nBins)
    val qs = exactQuantiles(df, groupCol, valCol, ps = edges, scale = 6)
    val bin = edges.map { case (label, _) =>
      when(col(valCol) > col(label), 1L).otherwise(0L)
    }.reduce(_ + _)
    df.where(col(valCol).isNotNull)
      .join(broadcast(qs), Seq(groupCol))
      .groupBy(col(groupCol), bin.as("bin"))
      .agg(count(lit(1)).as("cnt"),
        round(min(col(valCol)), 6).as("min_v"), round(max(col(valCol)), 6).as("max_v"))
  }

  def winsorize(df: DataFrame, groupCol: String, valCol: String,
      pLo: Double, pHi: Double): DataFrame = {
    val qs = exactQuantiles(df, groupCol, valCol,
      ps = Seq("__qlo" -> pLo, "__qhi" -> pHi), scale = Scale)
    df.join(broadcast(qs), Seq(groupCol))
      .withColumn(s"${valCol}_w",
        round(least(greatest(col(valCol), col("__qlo")), col("__qhi")), Scale))
      .drop("__qlo", "__qhi")
  }

  /** Per-group robust (median/MAD) outlier detection — the heavy-tail-safe
    * counterpart of z-scoring (Iglewicz & Hoaglin 1993's modified z-score):
    * robust_z = 0.6745·(x − median)/MAD with MAD = median(|x − median|).
    * Mean/stddev scoring breaks down exactly when outliers are present
    * (the outliers inflate the stddev that is supposed to flag them);
    * median and MAD have 50% breakdown, so this is the curation-tier
    * screen for corrupt numeric features. Emits one row per flagged value
    * (|robust_z| > cutoff).
    *
    * Determinism contract: both medians come from [[exactQuantiles]]
    * rounded at [[Scale]] places BEFORE any arithmetic, so the score is a single
    * fixed expression over engine-identical inputs — no accumulation
    * order. Groups with MAD = 0 (over half the values identical) have no
    * defined scale and are skipped, matching the SQL oracle's `mad > 0`.
    *
    * Scale shape: two [[exactQuantiles]] passes (each distribution-safe by
    * that operator's own crossover) + two broadcast joins of the per-group
    * stats (|groups| rows) onto the data — the data itself never
    * shuffles for scoring. */
  def robustOutliers(df: DataFrame, groupCol: String, idCol: String,
                     valCol: String, cutoff: Double = 3.5): DataFrame = {
    val med = exactQuantiles(df, groupCol, valCol,
      ps = Seq("__med" -> 0.5), scale = Scale)
    val withMed = df.select(col(groupCol), col(idCol), col(valCol))
      .join(broadcast(med), Seq(groupCol))
      .withColumn("__dev", abs(col(valCol) - col("__med")))
    val mad = exactQuantiles(withMed, groupCol, "__dev",
      ps = Seq("__mad" -> 0.5), scale = Scale)
    withMed.join(broadcast(mad), Seq(groupCol))
      .where(col("__mad") > 0)
      .withColumn("robust_z",
        lit(0.6745) * (col(valCol) - col("__med")) / col("__mad"))
      .where(abs(col("robust_z")) > cutoff)
      // 6 dp, not 4: the 2-decimal source data can land z exactly on a
      // 4th-decimal half-tie, where Spark's decimal HALF_UP and a
      // float-multiply round() disagree; at 6 dp the same expansion ends
      // .99…/.00… — unambiguous for both rounding implementations.
      .select(col(groupCol), col(idCol), col(valCol),
        col("__med").as("med"), col("__mad").as("mad"),
        round(col("robust_z"), 6).as("robust_z"))
  }
}
