package graft
import java.nio.file.{Files, Paths}
import scala.util.control.NonFatal
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = GraftSession.forMain()
    new java.io.File(outDir).mkdirs()
    // A throwing query must be loud in the artifact, not just on stderr: a
    // missing result dir silently shrinks the driver's compare (r8 shipped
    // 140/160 rows that read as "all green"). Collect every failure into
    // verify_errors.json next to oracle_sql.json so both the driver and
    // tools/check.py can flag it.
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    // Dev-only subset runs (the driver never sets this): comma-separated
    // query names; the oracle json below is filtered to match so
    // tools/check.py sees a consistent subset instead of flagging every
    // unrun query as missing.
    val only = GraftSession.onlyQueries()
    def selected(name: String): Boolean = only.forall(_.contains(name))
    SparkEntry.queries.filter { case (n, _) => selected(n) }.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case NonFatal(e) =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        errors(name) = s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(500)}"
      }
      // Drop persisted/checkpointed blocks between queries (see Bench).
      GraftSession.releaseMaterialized(spark)
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql.filter { case (k, _) => selected(k) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val errJson = errors.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/verify_errors.json"), errJson)
    // Self-describing artifact: a SPARK_GRAFT_ONLY subset filters BOTH the
    // run and oracle_sql.json, so a subset output is otherwise byte-shaped
    // like a full gate run. Record the registry size and what was skipped so
    // tools/check.py (and any reader of the artifact) can tell a dev subset
    // from a real full-gate verification.
    val registry = SparkEntry.queries.keys.toSeq.sorted
    val skipped = registry.filterNot(selected)
    val meta =
      s"""{"n_registry": ${registry.size}, "n_selected": ${registry.size - skipped.size}, """ +
        s""""subset": ${skipped.nonEmpty}, "skipped": [${skipped.map(q).mkString(", ")}]}"""
    Files.writeString(Paths.get(s"$outDir/verify_meta.json"), meta)
    if (errors.nonEmpty)
      System.err.println(s"[verify] ${errors.size} queries FAILED: ${errors.keys.mkString(", ")}")
    spark.stop()
  }
}
