package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Source-level audits of src/main.
  *
  * Scale safety: driver-side materialization
  * (`collect`/`first`/`head`/`toLocalIterator`) pulls a DataFrame onto one
  * JVM — at 100 TB that is an OOM, not a slowdown. The only legitimate uses
  * pull BOUNDED MODEL METADATA (a fit sample capped by construction, a
  * 1-row scalar aggregate). Every such site must be allowlisted here with
  * its bound; a new `.collect()` anywhere else fails the build.
  *
  * Reachability: every top-level type serves a product path (the batch
  * registry, the notifier pipeline, the mains, the benchmark harness), and
  * so does every member of the batch library, so code kept only for its
  * own spec fails the build.
  */
class SourceAuditSpec extends AnyFunSuite {

  private val root = Paths.get("src/main/scala/graft")

  // Comments are blanked (a scaladoc "Heartbeat frames" is no caller);
  // string and char literals are matched first so a `//` inside one stays.
  private val lexeme =
    """"{3}[\s\S]*?"{3}|"(?:\\.|[^"\\\n])*"|'(?:\\.|[^'\\\n])'|//[^\n]*|/\*[\s\S]*?\*/""".r
  /** Source text with comments blanked, and literals too when `literals`. */
  private def code(p: Path, literals: Boolean = false): String =
    lexeme.replaceAllIn(Files.readString(p), m =>
      if (literals || m.matched.startsWith("/")) " "
      else java.util.regex.Matcher.quoteReplacement(m.matched))
  private def scalaFiles(dir: Path): Seq[Path] =
    Files.walk(dir).iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq

  // file (relative to src/main/scala/graft) -> (expected site count, bound)
  private val allowed = Map(
    "operators/SimilarityOps.scala" ->
      (3, "k-means fit sample (≤ 256·nCentroids vectors by construction); " +
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

  test("every top-level type in src/main is reachable from a product root") {
    val decl = ("""(?m)^(?:(?:private|protected)(?:\[\w+\])?\s+|final\s+|sealed\s+|""" +
      """abstract\s+|case\s+|implicit\s+)*(?:class|object|trait)\s+(\w+)""").r
    def declared(src: String): Set[String] = decl.findAllMatchIn(src).map(_.group(1)).toSet

    val files = scalaFiles(root).map(p => root.relativize(p).toString -> code(p)).toMap
    // name -> declaring files: a companion object and its class are one type
    val home: Map[String, Set[String]] = files.toSeq
      .flatMap { case (f, src) => declared(src).map(_ -> f) }
      .groupMap(_._1)(_._2).view.mapValues(_.toSet).toMap

    // Roots: the registry, the notifier pipeline, the mains, the DSv2
    // service registrations, and the benchmark harness — a caller outside
    // the tests, and the only one that wires WebhookSink.
    val rootFiles = Seq("SparkEntry.scala", "streaming/NomadPipeline.scala",
      "Bench.scala", "Verify.scala", "tools/DumpPlans.scala")
    val services = Files.list(Paths.get("src/main/resources/META-INF/services"))
      .iterator().asScala.flatMap(p => Files.readAllLines(p).asScala)
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#")).map(_.split('.').last)
    var reached = services.toSet ++ rootFiles.flatMap(f => declared(files(f)))
    var texts = scalaFiles(Paths.get("perfbench/scala")).map(code(_))
    var scanned = Set.empty[String]
    var grew = true
    while (grew) {
      val fresh = reached.flatMap(home.getOrElse(_, Set.empty[String])) -- scanned
      scanned ++= fresh
      texts ++= fresh.toSeq.map(files)
      val found = (home.keySet -- reached).filter { n =>
        val own = s"""\\b(?:class|object|trait)\\s+$n\\b""".r
        val word = s"""\\b$n\\b""".r
        texts.exists(t => word.findFirstIn(own.replaceAllIn(t, " ")).isDefined)
      }
      reached ++= found
      grew = fresh.nonEmpty || found.nonEmpty
    }

    val unreached = (home.keySet -- reached).toSeq.sorted
      .map(n => s"$n (${home(n).toSeq.sorted.mkString(", ")})")
    assert(unreached.isEmpty,
      s"top-level types no product root reaches (call them from a product " +
        s"path or delete them):\n  ${unreached.mkString("\n  ")}")
  }

  // library member -> why it stays without a product caller
  private val testedReferences = Map(
    "VectorFunctions.dotBuiltin" ->
      "the built-in formulation the native vec_dot kernel is tested against",
    "VectorFunctions.hyperplaneBitsBuiltin" ->
      "the built-in formulation the native vec_lsh_bits kernel is tested against",
    "MultimodalOps.encodePcmWavJdk" ->
      "the JDK-writer reference encodePcmWav is byte-exact against",
    "GraphOps.pageRankBroadcast" ->
      "pins the broadcast side of pageRank's size crossover",
    "GraphOps.pageRankPartitioned" ->
      "pins the partitioned side of pageRank's size crossover")

  test("every library member in operators/, functions/ and plans/ has a product caller") {
    // A member is a `def`, `class` or `case class` at two-space indent (the
    // members of a top-level object or class) that is not an override. It is
    // reached when its name appears as a word in src/main or perfbench/scala
    // outside its own declaration. Literals are blanked too, so
    // `col("simhash")` names a column, not a DedupOps.simhash. Deleting a
    // member can orphan its helpers: delete until the list is empty.
    val texts = (scalaFiles(root) ++ scalaFiles(Paths.get("perfbench/scala")))
      .map(p => p -> code(p, literals = true))
    val decl = ("""(?m)^  (?:(?:private|protected)(?:\[\w+\])?\s+|final\s+|sealed\s+|""" +
      """abstract\s+|implicit\s+|lazy\s+|@\w+\s+)*(?:case\s+)?(?:def|class)\s+(\w+)""").r
    val library = Seq("operators", "functions", "plans").map(root.resolve)
    val members = texts.filter { case (p, _) => library.exists(p.startsWith) }
      .flatMap { case (p, src) =>
        val owner = p.getFileName.toString.stripSuffix(".scala")
        decl.findAllMatchIn(src).map(m => s"$owner.${m.group(1)}" -> m.group(1))
      }
    val unreached = members.filterNot { case (_, n) =>
      val own = s"""\\b(?:def|class)\\s+$n\\b""".r
      val word = s"""\\b$n\\b""".r
      texts.exists { case (_, t) =>
        word.findFirstIn(t).isDefined && word.findFirstIn(own.replaceAllIn(t, " ")).isDefined
      }
    }.map(_._1).toSet

    val orphans = (unreached -- testedReferences.keySet).toSeq.sorted
    assert(orphans.isEmpty,
      s"library members no product path calls (call them from a product " +
        s"path or delete them):\n  ${orphans.mkString("\n  ")}")
    val stale = (testedReferences.keySet -- unreached).toSeq.sorted
    assert(stale.isEmpty, s"allowlisted members that now have a product caller " +
      s"(drop them from the allowlist): ${stale.mkString(", ")}")
  }
}
