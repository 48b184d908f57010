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
  * own spec fails the build. Likewise every default-valued parameter of a
  * library member is set by some product call: a knob no caller turns is
  * a constant.
  *
  * Copies: no run of six code lines occurs twice in src/main — a shape
  * that is needed twice has one definition.
  */
class SourceAuditSpec extends AnyFunSuite {

  private val root = Paths.get("src/main/scala/graft")

  // Comments are blanked (a scaladoc "Heartbeat frames" is no caller) down
  // to their line breaks, so line numbers survive; string and char
  // literals are matched first so a `//` inside one stays.
  private val lexeme =
    """"{3}[\s\S]*?"{3}|"(?:\\.|[^"\\\n])*"|'(?:\\.|[^'\\\n])'|//[^\n]*|/\*[\s\S]*?\*/""".r
  /** Source text with comments blanked, and literals too when `literals`.
    * A blanked literal becomes `""`: it names nothing, but it still
    * counts as an argument. */
  private def blank(src: String, literals: Boolean): String =
    lexeme.replaceAllIn(src, m =>
      if (m.matched.startsWith("/")) " " + "\n" * m.matched.count(_ == '\n')
      else if (literals) "\"\""
      else java.util.regex.Matcher.quoteReplacement(m.matched))
  private def code(p: Path, literals: Boolean = false): String =
    blank(Files.readString(p), literals)
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

  /** Index just past the bracket group that opens at `i`. */
  private def groupEnd(s: String, i: Int): Int = {
    var depth = 0
    var j = i
    do {
      s(j) match {
        case '(' | '[' | '{' => depth += 1
        case ')' | ']' | '}' => depth -= 1
        case _ =>
      }
      j += 1
    } while (depth > 0 && j < s.length)
    j
  }

  /** The comma-separated parts of a group's inside, at its own depth. */
  private def topLevel(inside: String): Seq[String] = {
    val parts = Seq.newBuilder[String]
    var depth = 0
    var from = 0
    for ((c, i) <- inside.zipWithIndex) c match {
      case '(' | '[' | '{' => depth += 1
      case ')' | ']' | '}' => depth -= 1
      case ',' if depth == 0 => parts += inside.substring(from, i); from = i + 1
      case _ =>
    }
    (parts += inside.substring(from)).result()
  }

  /** The `(…)` and `{…}` groups that follow position `i` (after one
    * optional `[…]` type group), each as (opening bracket, inside). */
  private def groups(s: String, i: Int): Seq[(Char, String)] = {
    def skip(j: Int): Int = if (j < s.length && (s(j) == ' ' || s(j) == '\t')) skip(j + 1) else j
    var j = skip(i)
    if (j < s.length && s(j) == '[') j = groupEnd(s, j)
    val out = Seq.newBuilder[(Char, String)]
    var k = skip(j)
    while (k < s.length && (s(k) == '(' || s(k) == '{')) {
      val end = groupEnd(s, k)
      out += ((s(k), s.substring(k + 1, end - 1)))
      k = skip(end)
    }
    out.result()
  }

  private val declared = """\b(def|class)\s+(\w+)""".r
  private val paramName = """^\s*(?:(?:implicit|val|var|private|override)\s+)*(\w+)""".r
  private val namedArg = """^\s*(\w+)\s*=(?![=>])""".r

  /** Whether a parameter declaration has a default: an `=` at its own
    * depth that is no part of `==`, `=>`, `<=`, `>=`, `!=` or `:=`. */
  private def hasDefault(param: String): Boolean = {
    var depth = 0
    param.indices.exists { i =>
      param(i) match {
        case '(' | '[' | '{' => depth += 1; false
        case ')' | ']' | '}' => depth -= 1; false
        case '=' => depth == 0 && (i == 0 || !"=!<>:".contains(param(i - 1))) &&
          (i + 1 == param.length || !"=>".contains(param(i + 1)))
        case _ => false
      }
    }
  }

  /** The default-valued parameters declared in `library` (owner -> source
    * with comments and literals blanked) that no call in `callers` sets, as
    * `Owner.member.param`. A call `member(…)` sets a parameter when it
    * passes it by name, or passes an argument at its position in its
    * group. A `def`/`class` declaration is no call, and a call counts for
    * every member of that name. */
  private def unsetDefaults(library: Seq[(String, String)], callers: Seq[String]): Seq[String] = {
    // (owner, member, group, position, parameter)
    val params = for {
      (owner, src) <- library
      m <- declared.findAllMatchIn(src).toSeq
      ((_, inside), g) <- groups(src, m.end).filter(_._1 == '(').zipWithIndex
      if inside.trim.nonEmpty
      (p, i) <- topLevel(inside).zipWithIndex
      if hasDefault(p)
    } yield (owner, m.group(2), g, i, paramName.findFirstMatchIn(p).get.group(1))
    // member name -> the (group, position) and names its calls pass
    val names = params.map(_._2).toSet
    val setters: Map[String, Set[Either[(Int, Int), String]]] = callers.flatMap { src =>
      val declarations = declared.findAllMatchIn(src).map(_.start(2)).toSet
      """\w+""".r.findAllMatchIn(src)
        .filter(m => names(m.matched) && !declarations(m.start))
        .flatMap { m =>
          groups(src, m.end).zipWithIndex.flatMap {
            case (('{', _), g) => Seq(Left((g, 0)))
            case ((_, inside), g) if inside.trim.nonEmpty =>
              topLevel(inside).zipWithIndex.map { case (a, i) =>
                namedArg.findFirstMatchIn(a).map(n => Right(n.group(1))).getOrElse(Left((g, i)))
              }
            case _ => Nil
          }.map(m.matched -> _)
        }
    }.groupMap(_._1)(_._2).view.mapValues(_.toSet).toMap.withDefaultValue(Set.empty)
    params.collect { case (owner, member, g, i, p)
        if !setters(member).contains(Left((g, i))) && !setters(member).contains(Right(p)) =>
      s"$owner.$member.$p"
    }.distinct.sorted
  }

  // default-valued parameter -> the test that sets it to another value
  private val testedDefaults = Map(
    "GraphOps.kCore.maxRounds" ->
      "FixpointSpec \"at the round cap kCore still throws …\" caps the peel below convergence",
    "DedupOps.connectedComponents.maxIter" ->
      "FixpointSpec \"at the round cap … connectedComponents still returns its labels\"",
    "GraphOps.coOccurrenceEdges.maxBasket" ->
      "GraphQualityOpsSpec \"maxBasket drops oversized baskets …\"",
    "GraphOps.associationRules.maxBasket" ->
      "GraphQualityOpsSpec \"maxBasket drops oversized baskets …\"",
    "DedupOps.ngramJaccard.maxDf" ->
      "OpsSpec \"ngramJaccard df-cap drops stop-shingles from the join …\"",
    "StatsOps.ksTest.nBlocks" ->
      "AnalyticsOpsSpec \"ksTest: … block-count invariance …\"",
    "StatsOps.aucMannWhitney.nBlocks" ->
      "AnalyticsOpsSpec \"aucMannWhitney: … block invariance …\"",
    "SimilarityOps.pqCodes.kmeansIters" ->
      "OpsSpec \"PQ codes: … a Lloyd-fitted codebook never increases distortion\"")

  test("every default-valued parameter in operators/, functions/ and plans/ is set by a product call") {
    val texts = (scalaFiles(root) ++ scalaFiles(Paths.get("perfbench/scala")))
      .map(p => p -> code(p, literals = true))
    val library = Seq("operators", "functions", "plans").map(root.resolve)
    val unset = unsetDefaults(
      texts.collect { case (p, src) if library.exists(p.startsWith) =>
        p.getFileName.toString.stripSuffix(".scala") -> src },
      texts.map(_._2))

    val knobs = unset.filterNot(testedDefaults.contains)
    assert(knobs.isEmpty,
      s"default-valued parameters no product call sets (fold each into the " +
        s"member as a constant):\n  ${knobs.mkString("\n  ")}")
    val stale = testedDefaults.keySet.filterNot(unset.contains).toSeq.sorted
    assert(stale.isEmpty, s"allowlisted parameters that a product call now sets " +
      s"(drop them from the allowlist): ${stale.mkString(", ")}")
  }

  test("the default-parameter audit counts positional, named and multi-line setters only") {
    val library = blank(
      """object Ops {
        |  def positional(x: Int, a: Int = 1): Int = a
        |  def literal(x: Int, s: String = "a"): String = s
        |  def named(x: Int, b: Int = 2, c: Int = 3): Int = b
        |  def multiLine(x: Int,
        |                d: Int = 4)(e: Int = 5): Int = d
        |  def commented(f: Int = 6): Int = f
        |  def quoted(g: Int = 7): Int = g
        |  def declared(h: Int = 8): Int = h
        |}""".stripMargin, literals = true)
    val callers = blank(
      """object Use {
        |  Ops.positional(0, 9)
        |  Ops.literal(0, "b")
        |  Ops.named(0, c = 9)
        |  Ops.multiLine(
        |    0,
        |    9)(
        |    e = 9)
        |  // Ops.commented(9)
        |  val s = "Ops.quoted(9)"
        |  def declared(h: Int = 9): Int = h
        |}""".stripMargin, literals = true)
    assert(unsetDefaults(Seq("Ops" -> library), Seq(library, callers)) ==
      Seq("Ops.commented.f", "Ops.declared.h", "Ops.named.b", "Ops.quoted.g"))
  }

  /** Lines per window of the copy audit. */
  private val CloneWindow = 6

  /** The copied runs in `files` (name -> source with comments blanked), as
    * `name:first-last` source lines, by name and line. A source line
    * normalizes to its text with whitespace runs collapsed; lines of
    * `|`-margin text (SQL) and lines with no word character are skipped,
    * so a run spans them. A line is copied when it lies in a window of
    * [[CloneWindow]] consecutive normalized lines that occurs more than
    * once anywhere in `files`, and a run is a maximal stretch of copied
    * lines. */
  private def clonedRuns(files: Seq[(String, String)]): Seq[String] = {
    val word = """\w""".r
    val lines = files.map { case (f, src) =>
      f -> src.split("\n", -1).toIndexedSeq.zipWithIndex
        .map { case (l, i) => (i + 1, l.trim.replaceAll("\\s+", " ")) }
        .filter { case (_, l) => !l.startsWith("|") && word.findFirstIn(l).isDefined }
    }
    val windows = for {
      (f, ls) <- lines
      i <- 0 to ls.length - CloneWindow
    } yield ls.slice(i, i + CloneWindow).map(_._2) -> (f, i)
    val copied: Map[String, Seq[Int]] = windows.groupMap(_._1)(_._2).values
      .filter(_.size > 1).flatten.toSeq
      .flatMap { case (f, i) => (i until i + CloneWindow).map(f -> _) }
      .groupMap(_._1)(_._2).view.mapValues(_.distinct.sorted).toMap
    lines.sortBy(_._1).flatMap { case (f, ls) =>
      copied.getOrElse(f, Nil).foldLeft(List.empty[(Int, Int)]) {
        case ((from, to) :: done, i) if i == to + 1 => (from, i) :: done
        case (done, i) => (i, i) :: done
      }.reverse.map { case (from, to) => s"$f:${ls(from)._1}-${ls(to)._1}" }
    }
  }

  // file (relative to src/main/scala/graft) -> (copied runs, why they stay)
  private val allowedCopies = Map.empty[String, (Int, String)]

  test("no run of six code lines in src/main occurs twice") {
    val runs = clonedRuns(scalaFiles(root).map(p => root.relativize(p).toString -> code(p)))
    val byFile = runs.groupBy(_.takeWhile(_ != ':'))
    val copies = byFile.toSeq.sortBy(_._1).flatMap { case (f, rs) =>
      if (allowedCopies.get(f).exists(_._1 == rs.size)) Nil else rs
    }
    assert(copies.isEmpty,
      s"${copies.size} copied runs (give each repeated shape one definition, or " +
        s"allowlist the file with its run count and a reason):\n  ${copies.mkString("\n  ")}")
    val stale = allowedCopies.keySet.filterNot(byFile.contains).toSeq.sorted
    assert(stale.isEmpty, s"allowlisted files with no copied run (drop them from " +
      s"the allowlist): ${stale.mkString(", ")}")
  }

  test("the copy audit flags six re-indented lines, not comments, margin SQL or five lines") {
    val block = Seq("def f(x: Int): Int = {", "  val a = x + 1", "  val b = a * 2",
      "  val c = b - 3", "  val d = c / 4", "  a + b + c + d", "}")
    val five = Seq("val p = 1", "val q = 2", "val r = 3", "val s = 4", "val t = 5")
    def file(lines: Seq[String]): String = blank(lines.mkString("\n"), literals = false)
    val files = Seq(
      "Orig.scala" -> file(Seq("object Orig {") ++ block.map("  " + _) ++ Seq("}")),
      // re-indented, and a trailing comment on one line
      "Moved.scala" -> file(Seq("object Moved {", "  object Inner {") ++
        block.map("      " + _).updated(2, "        val b = a * 2 // doubled") ++ Seq("  }", "}")),
      "Commented.scala" -> file(Seq("object Commented {", "  /*") ++ block ++ Seq("  */", "}")),
      "Sql.scala" -> file(Seq("object Sql {", "  val q = \"\"\"") ++
        block.map("    |" + _) ++ Seq("    |\"\"\".stripMargin", "}")),
      "Five.scala" -> file(Seq("object Five {") ++ five ++ Seq("def g = 0") ++ five ++ Seq("}")))
    assert(clonedRuns(files) == Seq("Moved.scala:3-8", "Orig.scala:2-7"))
  }
}
