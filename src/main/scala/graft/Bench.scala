package graft
import org.apache.spark.sql.SparkSession
import scala.util.control.NonFatal

object Bench {

  /** tools/bench_reference.json is a flat {"q_name": seconds} map — parse it
    * with a regex instead of a JSON dependency (the build adds none). The
    * optional "__cpus" entry records the core count the reference was
    * measured at (bench_gate.py --update writes it), so the burst defense
    * can widen its trigger when THIS run uses fewer cores than the
    * reference did. Returns (times, refCpus). */
  private def loadReference(path: String): (Map[String, Double], Option[Double]) =
    try {
      val text = new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)))
      val times = "\"(q_[A-Za-z0-9_]+)\"\\s*:\\s*([0-9.]+)".r
        .findAllMatchIn(text).map(m => m.group(1) -> m.group(2).toDouble).toMap
      val refCpus = "\"__cpus\"\\s*:\\s*([0-9.]+)".r
        .findFirstMatchIn(text).map(_.group(1).toDouble)
      (times, refCpus)
    } catch { case NonFatal(_) => (Map.empty, None) }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = GraftSession.mainCpus
    val spark = GraftSession.forMain()
    // Untimed warmup: absorb JVM/codegen/parquet-footer initialisation so the
    // first timed query isn't charged for it.
    SparkEntry.queries.get("q_initial_offset").foreach { fn =>
      try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      catch { case NonFatal(_) => () }
    }
    val runT0 = System.nanoTime()
    def sinceStart: Double = (System.nanoTime() - runT0) / 1e9
    // noop sink forces full evaluation of every column (count() would let
    // Catalyst prune the projections we are trying to measure). Two timed
    // runs per query, min reported: the first run absorbs that query's
    // codegen/JIT compilation, so the number reflects steady-state execution
    // rather than which query happened to trigger compilation.
    def timeOnce(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
      val t0 = System.nanoTime()
      try { fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9 }
      catch { case NonFatal(e) =>
        System.err.println(s"[bench] $name failed: $e"); -1.0 }
    }
    // Optional comma-separated filter for targeted re-measurement while
    // iterating on one query (dev loop; the driver never sets it).
    val only = GraftSession.onlyQueries()
    val ordered = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
    val starts = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val firstPass = ordered.map { case (name, fn) =>
      // A failed run must NOT record its fail-fast wall time as a speed —
      // r8's broken q_tumbling_window showed up as "0.061 s" and would have
      // poisoned bench_reference.json on --update. Mark errors as -1.
      starts(name) = sinceStart
      val times = (1 to 2).map(_ => timeOnce(name, fn))
      // Iterative operators persist/localCheckpoint intermediates; drop BOTH
      // the catalog cache and RDD-level blocks so later queries aren't
      // measured under another query's storage pressure (clearCache alone
      // leaves localCheckpoint blocks resident — r8 regression root cause).
      GraftSession.releaseMaterialized(spark)
      name -> (if (times.contains(-1.0)) -1.0 else times.min)
    }
    // BURST DEFENSE: the gate runs on a shared driver box whose transient
    // co-load stalls have inflated clustered runs of queries 3-27x (r10:
    // every >2x outlier sat in the alphabetical a-d prefix — one early
    // stall window, not 13 slow plans). A min-of-two over BACK-TO-BACK runs
    // cannot defend against a stall lasting minutes, so after the main
    // pass — minutes later, when the burst has passed — re-measure any
    // query whose min exceeds 1.3x its committed clean reference (and a
    // 0.5 s floor; r11 used 3x/1s and r14 used 2x, which left a whole
    // 1.3-1.9x inflation band uncorrected — r14's driver run manufactured
    // 32 phantom "regressions" in exactly that band under sustained
    // sub-2x co-load), and report the min of all runs. A FINAL SWEEP then
    // re-runs once more anything STILL above the trigger (the remeasure
    // itself can land in a second stall window). The artifact records every
    // run's value and run-relative timestamp, so a burst is directly
    // visible: a real regression re-measures slow; a stall victim
    // re-measures at parity. When this run uses fewer cores than the
    // reference (the driver's scaling control run), the trigger widens by
    // the core ratio — perfect-scaling queries legitimately run refCpus/
    // cpus slower than the reference, which is not a burst.
    val (reference, refCpus) = loadReference(
      sys.env.getOrElse("SPARK_GRAFT_BENCH_REF", "tools/bench_reference.json"))
    val trigger = 1.3 * math.max(1.0, refCpus.getOrElse(cpus.toDouble) / cpus.toDouble)
    def inflated(v: Double, ref: Option[Double]): Boolean =
      v > 0 && ref.exists(r => v > trigger * r && v > 0.5)
    val fnByName = ordered.toMap
    val outliers = scala.collection.mutable.LinkedHashMap.empty[String, (Double, Double, Double, Double)]
    val afterRemeasure = firstPass.map { case (name, first) =>
      if (!inflated(first, reference.get(name))) name -> first
      else {
        val tRe = sinceStart
        val re = timeOnce(name, fnByName(name))
        GraftSession.releaseMaterialized(spark)
        val best = if (re < 0) first else math.min(first, re)
        outliers(name) = (first, re, starts(name), tRe)
        name -> best
      }
    }
    val sweeps = scala.collection.mutable.LinkedHashMap.empty[String, (Double, Double)]
    val results = afterRemeasure.map { case (name, v) =>
      if (!inflated(v, reference.get(name))) name -> v
      else {
        val tSw = sinceStart
        val sw = timeOnce(name, fnByName(name))
        GraftSession.releaseMaterialized(spark)
        sweeps(name) = (sw, tSw)
        name -> (if (sw < 0) v else math.min(v, sw))
      }
    }.toMap
    def fmt(v: Double) = BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP).toString
    def jsonMap(m: Seq[(String, Double)]) =
      m.map { case (k, v) => "\"" + k + "\":" + fmt(v) }.mkString("{", ",", "}")
    val ok = results.filter(_._2 >= 0)
    val nFailed = results.size - ok.size
    val total = if (ok.nonEmpty) ok.values.sum else 0.0
    val outliersJson = outliers.toSeq.map { case (k, (first, re, tFirst, tRe)) =>
      val sweepPart = sweeps.get(k).map { case (sw, tSw) =>
        ",\"sweep\":" + fmt(sw) + ",\"t_sweep\":" + fmt(tSw)
      }.getOrElse("")
      "\"" + k + "\":{\"first\":" + fmt(first) + ",\"remeasured\":" + fmt(re) +
        ",\"t_first\":" + fmt(tFirst) + ",\"t_remeasure\":" + fmt(tRe) + sweepPart + "}"
    }.mkString("{", ",", "}")
    // Full per-query map on its own line for human/archival readers
    // (failed queries carry -1, never a fail-fast duration), plus each
    // query's run-relative start timestamp (burst forensics), the core
    // count (so --update can record "__cpus" in the reference) and the
    // re-measured outliers...
    val allLine =
      s"""{"metric":"all_queries","n":${results.size},"n_failed":$nFailed,"cpus":$cpus,"queries":${jsonMap(results.toSeq.sortBy(_._1))},"t_start":${jsonMap(starts.toSeq)},"outliers_remeasured":$outliersJson}"""
    println(allLine)
    // ...AND as a file: the driver keeps only a bounded tail of stdout, which
    // truncates this line out of BENCH_r*.json (r9 lost 129 of 179 queries
    // from the round artifact). bench_last.json survives in the round
    // snapshot so round-over-round per-query comparison never depends on
    // stdout truncation. Written only for full runs — a SPARK_GRAFT_ONLY
    // subset would otherwise masquerade as a full bench.
    if (only.isEmpty)
      try java.nio.file.Files.writeString(
        java.nio.file.Paths.get(sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_last.json")),
        allLine + "\n")
      catch { case NonFatal(e) => System.err.println(s"[bench] bench_last.json write failed: $e") }
    // ...then the machine-read summary LAST and compact: the harness keeps
    // only a bounded tail of stdout and json-parses it line by line, so this
    // line must stay well under ~1.8 kB — slowest 50 queries only.
    val slowest = ok.toSeq.sortBy(-_._2).take(50)
    println(s"""{"metric":"total","value":${fmt(total)},"unit":"sec","n_queries":${results.size},"n_failed":$nFailed,"n_remeasured":${outliers.size},"queries":${jsonMap(slowest)},"queries_note":"slowest 50 of ${results.size}","sf":"$sfDir"}""")
    spark.stop()
  }
}
