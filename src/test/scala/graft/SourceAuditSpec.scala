package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Source-level scale-safety audit: driver-side materialization
  * (`collect`/`first`/`head`/`toLocalIterator`) pulls a DataFrame onto one
  * JVM — at 100 TB that is an OOM, not a slowdown. The only legitimate uses
  * pull BOUNDED MODEL METADATA (a fit sample capped by construction, a
  * 1-row scalar aggregate). Every such site must be allowlisted here with
  * its bound; a new `.collect()` anywhere else fails the build.
  */
class SourceAuditSpec extends AnyFunSuite {

  private val root = Paths.get("src/main/scala/graft")

  // file (relative to src/main/scala/graft) -> (expected site count, bound)
  private val allowed = Map(
    "operators/SimilarityOps.scala" ->
      (5, "k-means fit sample (≤ 256·nCentroids vectors by construction); " +
        "index-deletion emptied-cell list (≤ nCentroids touched cells); " +
        "drift-refit predicate (1-row max-shift scalar); " +
        "marginMine broadcast-budget crossover (1-row count+dim scalar); " +
        "kCenterSelect per-round argmax, the seed's round included (1 bounded " +
        "row × k ≤ 128 rounds — the selected set IS the model)"),
    "operators/DedupOps.scala" ->
      (1, "1-row decimal checksum driving the label-propagation fixpoint"),
    "operators/QuantileOps.scala" ->
      (2, "distributed selection metadata: (partitions × groups) count rows, " +
        "then ≤ 2·quantiles boundary rows per group — both output-sized, " +
        "never data-sized (the result itself is one row per group)")
  )

  test("driver-side materialization only at allowlisted bounded-metadata sites") {
    // `take(1)` included: Dataset.take is driver-side materialization like
    // head() (the r14 kCenter rewrite switched head() → take(1) and silently
    // left the audit — this keeps the swap visible). Collection/string
    // `.take(n)` with n ≠ 1 doesn't match; a collection `.take(1)` in
    // src/main would demand an allowlist note, which is cheap and honest.
    val pattern =
      """\.(collect\(\)|toLocalIterator|collectAsList|first\(\)|head\(\)|take\(1\))""".r
    val found: Map[String, Int] = Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala"))
      .map { p: Path =>
        val rel = root.relativize(p).toString
        rel -> pattern.findAllIn(Files.readString(p)).size
      }
      .filter(_._2 > 0)
      .toMap

    val unexpected = found.collect {
      case (f, n) if !allowed.contains(f) => s"$f: $n site(s)"
      case (f, n) if allowed(f)._1 != n =>
        s"$f: $n site(s), allowlist expects ${allowed(f)._1}"
    }
    assert(unexpected.isEmpty,
      s"driver-side materialization outside the allowlist (justify the bound " +
        s"here or distribute the operator):\n  ${unexpected.mkString("\n  ")}")

    val stale = allowed.keySet.filterNot(found.contains)
    assert(stale.isEmpty, s"stale allowlist entries: ${stale.mkString(", ")}")
  }

  test("entrypoints: Bench, Verify and tools.DumpPlans are the only mains") {
    // One dev entrypoint: a new profiling need extends DumpPlans instead of
    // growing another main with its own session setup.
    val mains = Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") &&
        """\bdef main\(""".r.findFirstIn(Files.readString(p)).isDefined)
      .map(p => root.relativize(p).toString).toSeq.sorted
    assert(mains == Seq("Bench.scala", "Verify.scala", "tools/DumpPlans.scala"))
  }
}
