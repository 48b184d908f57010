package graft

import org.apache.spark.sql.{Dataset, SparkSession}
import scala.util.control.NonFatal

/** Shared SparkSession configuration for every entrypoint (Verify, Bench,
  * tests). Centralised so the correctness gate, the benchmark and the test
  * suite all see identical semantics.
  *
  * Notable choices:
  *  - `spark.sql.legacy.parquet.nanosAsLong=true`: the driver testdata's
  *    `events.ts` column is parquet `timestamp[ns]` (TESTDATA/FIXTURES §B).
  *    Spark's TimestampType is microsecond-precision, so we read nanosecond
  *    columns as raw int64 ns and keep all event-time arithmetic on LongType
  *    (SURVEY §7.4.1). This mirrors the reference, which also treats
  *    `TaskEvent.Time` as an int64 ns scalar (reference app.rb:154-155).
  *  - UTC session timezone: deterministic date/timestamp formatting vs the
  *    DuckDB oracle.
  *  - AQE on (default in Spark 4, made explicit): runtime coalescing of
  *    shuffle partitions + skew-join splitting are the scale story for the
  *    100 TB target; nothing in this library fights the adaptive planner.
  */
object GraftSession {

  def configure(b: SparkSession.Builder): SparkSession.Builder = b
    .config("spark.sql.extensions", "graft.plans.GraftExtensions")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
    .config("spark.sql.adaptive.skewJoin.enabled", "true")
    // Dimension tables (region/nation/customer/supplier/part at test SF) are
    // broadcast; at production scale the 64 MB threshold still keeps the
    // small side of star joins on the map side.
    .config("spark.sql.autoBroadcastJoinThreshold", (64L * 1024 * 1024).toString)

  /** Release every materialized intermediate: catalog-cached plans AND
    * RDD-level persisted blocks. Iterative/multi-consumer operators
    * lineage-truncate bounded intermediates with eager `localCheckpoint`
    * (DedupOps, SimilarityOps, GraphOps, …); those blocks live outside the
    * CacheManager, so `catalog.clearCache()` alone leaves them resident and
    * across a 160-query session the accumulated storage depresses later
    * queries (observed driver-side in round 8: q_ewma 5.4 s vs 0.33 s solo).
    * Call ONLY between queries: a locally-checkpointed RDD has truncated
    * lineage, so its DataFrame must never be re-evaluated after release.
    */
  def releaseMaterialized(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
  }

  /** Lineage-truncation strategy seam — the ONLY place the library decides
    * between executor-local and reliable checkpoints. Every iterative /
    * multi-consumer operator routes its barrier through here (via the
    * [[Ckpt]] extension): with no checkpoint directory configured (tests,
    * bench, single-box runs) it is an executor-local checkpoint — fastest,
    * but blocks die with their executor; when the caller has set
    * `sparkContext.setCheckpointDir(...)` (a real cluster run) the SAME
    * call sites become reliable HDFS/object-store checkpoints, so a lost
    * node costs a re-read of the checkpoint file instead of the whole
    * iterative job (kCore, connectedComponents, the index lifecycle, …).
    * Lazy (`eager = false`) checkpoints are materialized by the caller's
    * next action either way; [[graft.operators.Fixpoint]] builds its
    * one-probe-job rounds on that. */
  def checkpointed[T](ds: Dataset[T], eager: Boolean): Dataset[T] = {
    quietTruncatedUnpersistWarning
    if (ds.sparkSession.sparkContext.getCheckpointDir.isDefined) {
      // Reliable checkpoints write their files in a SECOND job that
      // re-computes the RDD (Spark's documented checkpoint caveat), so
      // cache first: the write job then reads blocks instead of re-running
      // the operator's upstream. Eager: the cache can drop immediately —
      // the checkpoint files are the source of truth the moment
      // checkpoint() returns. Lazy: materialization happens at the
      // caller's next probe job, so the cache must outlive this call;
      // releaseMaterialized reclaims it between queries.
      ds.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val out = ds.checkpoint(eager)
      if (eager) ds.unpersist(blocking = false)
      out
    } else ds.localCheckpoint(eager)
  }

  /** Iterative operators ([[graft.operators.Fixpoint]]'s per-round release,
    * [[releaseMaterialized]] between queries) unpersist locally-checkpointed
    * frames that are DELIBERATELY never recomputed; Spark warns on every such
    * unpersist ("lineage has been truncated and cannot be recomputed").
    * Known-benign — an actual post-release recompute throws, it doesn't warn
    * — so the emitting logger is pinned to ERROR once to keep bench/test
    * output readable (one warning per round × 242 queries otherwise). */
  private lazy val quietTruncatedUnpersistWarning: Unit =
    try org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.rdd.MapPartitionsRDD", org.apache.logging.log4j.Level.ERROR)
    catch { case NonFatal(_) => () }

  /** Call-site sugar for [[checkpointed]]: `df.ckpt(true)` reads like the
    * `localCheckpoint` it replaces while keeping the strategy switch in one
    * place. */
  implicit class Ckpt[T](private val ds: Dataset[T]) extends AnyVal {
    def ckpt(eager: Boolean): Dataset[T] = checkpointed(ds, eager)
  }

  /** The entrypoints' core count: `SPARK_GRAFT_CPUS`, default 4. */
  def mainCpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")

  /** The entrypoints' session (Bench, Verify, tools.DumpPlans):
    * `local[mainCpus]` with as many shuffle partitions, no UI, WARN logs. */
  def forMain(): SparkSession = {
    val s = configure(SparkSession.builder()
      .master(s"local[$mainCpus]")
      .config("spark.sql.shuffle.partitions", mainCpus)
      .config("spark.ui.enabled", "false"))
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** The entrypoints' query subset from `SPARK_GRAFT_ONLY`: comma-separated
    * names, blanks trimmed and empty entries dropped; None (unset) = every
    * query. */
  def onlyQueries(env: Option[String] = sys.env.get("SPARK_GRAFT_ONLY")): Option[Set[String]] =
    env.map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)

  /** Local session for tests / ad-hoc runs. */
  def local(threads: Int): SparkSession = {
    val s = configure(
      SparkSession.builder()
        .master(s"local[$threads]")
        .appName("graft")
        .config("spark.sql.shuffle.partitions", threads.toString)
        .config("spark.sql.warehouse.dir",
          java.nio.file.Files.createTempDirectory("graft-warehouse").toString)
        .config("spark.ui.enabled", "false")
    ).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
