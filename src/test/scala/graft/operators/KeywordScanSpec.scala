package graft.operators

import graft.SparkSpec
import graft.plans.AhoCorasick
import org.apache.spark.sql.functions._

/** Pins the native Aho–Corasick keyword scan: classic dictionary-matching
  * cases, fail-link emission, UTF-8 byte-boundary safety, randomized parity
  * with the naive per-phrase `contains` formulation, and the codegen path
  * through a DataFrame. */
class KeywordScanSpec extends SparkSpec {

  /** [[AhoCorasick.matchArray]] over JVM strings. */
  private implicit class Matched(ac: AhoCorasick) {
    def matched(s: String): Seq[String] = {
      val arr = ac.matchArray(org.apache.spark.unsafe.types.UTF8String.fromString(s))
      Seq.tabulate(arr.numElements())(i => arr.getUTF8String(i).toString)
    }
  }

  test("classic Aho–Corasick dictionary: ushers") {
    val ac = AhoCorasick.build(Seq("he", "she", "his", "hers"))
    // 'she' ends at position 4, whose fail chain emits 'he'; 'hers' ends at 6
    assert(ac.matched("ushers") === Seq("he", "hers", "she"))
    assert(ac.matched("his her") === Seq("he", "his"))
    assert(ac.matched("xyz") === Seq.empty)
  }

  test("fail-link transition across pattern boundaries") {
    val ac = AhoCorasick.build(Seq("ab", "bc"))
    // after matching 'ab' the automaton must slide to the 'b' prefix state
    // and still catch 'bc' starting inside the previous match
    assert(ac.matched("abc") === Seq("ab", "bc"))
  }

  test("nested substrings all emit") {
    val ac = AhoCorasick.build(Seq("able", "table", "fast table"))
    assert(ac.matched("a fast table scan") === Seq("able", "fast table", "table"))
    assert(ac.matched("enable") === Seq("able"))
  }

  test("repeated matches dedup; duplicate patterns collapse") {
    val ac = AhoCorasick.build(Seq("aa", "aa", "a"))
    assert(ac.patterns.toSeq === Seq("a", "aa"))
    // overlapping occurrences of 'aa' at every position — one hit each
    assert(ac.matched("aaaa") === Seq("a", "aa"))
  }

  test("UTF-8 byte matching is code-point-boundary safe") {
    val ac = AhoCorasick.build(Seq("é", "café", "©"))
    // é = C3 A9, © = C2 A9: the shared continuation byte A9 must not let ©
    // match inside é
    assert(ac.matched("café au lait") === Seq("café", "é"))
    assert(ac.matched("plain ascii") === Seq.empty)
  }

  test("empty or blank dictionaries are rejected") {
    intercept[IllegalArgumentException](AhoCorasick.build(Seq.empty))
    intercept[IllegalArgumentException](AhoCorasick.build(Seq("ok", "")))
  }

  test("randomized parity with the naive per-phrase contains formulation") {
    val rnd = new scala.util.Random(42)
    val alphabet = "abc "
    def randStr(n: Int) = Seq.fill(n)(alphabet(rnd.nextInt(alphabet.length))).mkString
    for (round <- 0 until 60) {
      val patterns = Seq.fill(1 + rnd.nextInt(8))(randStr(1 + rnd.nextInt(4))).distinct
      val ac = AhoCorasick.build(patterns)
      for (_ <- 0 until 20) {
        val text = randStr(rnd.nextInt(30))
        val naive = patterns.filter(text.contains).sorted
        assert(ac.matched(text) === naive, s"round=$round text='$text' pats=$patterns")
      }
    }
  }

  test("codegen path through a DataFrame matches the automaton; null text -> null") {
    val s = spark
    import s.implicits._
    val pats = Array("he", "she", "hers", "café")
    val df = Seq(Some("ushers"), Some("a café"), Some("zzz"), None)
      .toDF("t")
      .select(col("t"),
        call_function("keyword_matches", col("t"), lit(pats)).as("m"))
    val got = df.collect().map(r => (r.getAs[String]("t"), Option(r.getSeq[String](1))))
    assert(got.toSeq === Seq(
      ("ushers", Some(Seq("he", "hers", "she"))),
      ("a café", Some(Seq("café"))),
      ("zzz", Some(Seq.empty[String])),
      (null, None)))
  }

  test("non-foldable pattern argument is rejected at analysis time") {
    val s = spark
    import s.implicits._
    val df = Seq(("abc", Seq("a"))).toDF("t", "p")
    val e = intercept[Exception] {
      df.select(call_function("keyword_matches", col("t"), col("p"))).collect()
    }
    assert(e.getMessage.toLowerCase.contains("foldable"))
  }

  test("malformed literal dictionaries fail at ANALYSIS time, not execution") {
    val s = spark
    import s.implicits._
    val df = Seq("abc").toDF("t")
    // empty array, null array, null element, empty-string element: all are
    // knowable from the foldable literal, so all must be analysis errors
    val empty = intercept[Exception] {
      df.select(call_function("keyword_any", col("t"),
        lit(Array.empty[String]))).collect()
    }
    assert(empty.getMessage.contains("non-empty"))
    val nullElem = intercept[Exception] {
      df.select(call_function("keyword_matches", col("t"),
        lit(Array("ok", null)))).collect()
    }
    assert(nullElem.getMessage.contains("null"))
    val emptyElem = intercept[Exception] {
      df.select(call_function("keyword_redact", col("t"),
        lit(Array("ok", "")))).collect()
    }
    assert(emptyElem.getMessage.contains("empty string"))
  }

  test("rewrite also fires for the >= 1 existence shape") {
    // parquet-backed input: a local relation would be folded away entirely
    // by ConvertToLocalRelation, leaving no filter to inspect
    val docs = graft.Tables(spark, "/root/testdata/sf0.001").documents
    val df = docs.where(size(call_function("keyword_matches", col("text"),
      lit(Array("hash value")))) >= 1)
    assert(df.count() > 0)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("keyword_any") && !plan.contains("keyword_matches"),
      s">= 1 shape not rewritten:\n$plan")
  }

  test("matchesAny agrees with matched.nonEmpty, including early-exit cases") {
    val rnd = new scala.util.Random(7)
    val alphabet = "abc "
    def randStr(n: Int) = Seq.fill(n)(alphabet(rnd.nextInt(alphabet.length))).mkString
    for (_ <- 0 until 40) {
      val patterns = Seq.fill(1 + rnd.nextInt(6))(randStr(1 + rnd.nextInt(3))).distinct
      val ac = AhoCorasick.build(patterns)
      for (_ <- 0 until 20) {
        val text = randStr(rnd.nextInt(25))
        assert(ac.matchesAny(org.apache.spark.unsafe.types.UTF8String.fromString(text))
          === ac.matched(text).nonEmpty, s"text='$text' pats=$patterns")
      }
    }
  }

  test("keywordFilter keeps exactly the docs with zero deny hits (rewrite parity)") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      (1L, "clean text with nothing bad"),
      (2L, "mentions a hash value midway"),
      (3L, "customer query arrives"),
      (4L, "also clean")).toDF("doc_id", "text")
    val kept = TextOps.keywordFilter(docs, Seq("hash value", "customer query"))
      .select("doc_id").as[Long].collect().sorted
    assert(kept.toSeq === Seq(1L, 4L))
    // null text: size(null)=null -> keyword_any null -> filter drops, both paths
    val withNull = docs.union(Seq((5L, null.asInstanceOf[String])).toDF("doc_id", "text"))
    val kept2 = TextOps.keywordFilter(withNull, Seq("hash value", "customer query"))
      .select("doc_id").as[Long].collect().sorted
    assert(kept2.toSeq === Seq(1L, 4L)) // null-text row dropped by both paths
  }

  test("spans: every occurrence emits, overlaps and nestings included, sorted by (pos, phrase)") {
    def spans(pats: Seq[String], text: String): Seq[(Int, String)] = {
      val arr = AhoCorasick.build(pats)
        .spanArray(org.apache.spark.unsafe.types.UTF8String.fromString(text))
      Seq.tabulate(arr.numElements()) { i =>
        val r = arr.getStruct(i, 2)
        (r.getInt(0), r.getUTF8String(1).toString)
      }
    }
    // self-overlap: 'aa' occurs at 1,2,3 in 'aaaa'
    assert(spans(Seq("aa"), "aaaa") === Seq((1, "aa"), (2, "aa"), (3, "aa")))
    // nesting: 'table' sits inside 'fast table'; 'he' inside 'the'
    assert(spans(Seq("table", "fast table", "he"), "the fast table") ===
      Seq((2, "he"), (5, "fast table"), (10, "table")))
    assert(spans(Seq("zz"), "abc") === Seq.empty)
  }

  test("spans: offsets are 1-based BYTE offsets (pinned on multibyte text)") {
    def spans(pats: Seq[String], text: String): Seq[(Int, String)] = {
      val arr = AhoCorasick.build(pats)
        .spanArray(org.apache.spark.unsafe.types.UTF8String.fromString(text))
      Seq.tabulate(arr.numElements()) { i =>
        val r = arr.getStruct(i, 2)
        (r.getInt(0), r.getUTF8String(1).toString)
      }
    }
    // é is 2 UTF-8 bytes, so 'x' starts at byte 4, not character 3
    assert(spans(Seq("x", "é"), "é x") === Seq((1, "é"), (4, "x")))
  }

  test("redact: union-of-spans masking, length-preserving, order-free") {
    def red(pats: Seq[String], text: String): String =
      AhoCorasick.build(pats)
        .redact(org.apache.spark.unsafe.types.UTF8String.fromString(text)).toString
    assert(red(Seq("fast table"), "the fast table scan") === "the ********** scan")
    // overlapping occurrences union: 'ab' + 'bc' cover all of 'abc'
    assert(red(Seq("ab", "bc"), "xabcx") === "x***x")
    // nested: masking 'table' and 'fast table' covers the same union
    assert(red(Seq("table", "fast table"), "a fast table") === "a **********")
    assert(red(Seq("zz"), "untouched") === "untouched")
    // multibyte: a covered 2-byte code point becomes two mask bytes
    assert(red(Seq("é"), "café x") === "caf** x")
  }

  test("spans and redact DataFrame paths match the automaton") {
    val s = spark
    import s.implicits._
    val docs = Seq((1L, "the fast table"), (2L, "plain")).toDF("doc_id", "text")
    val sp = TextOps.keywordSpans(docs, Seq("he", "fast table", "table"))
      .orderBy("doc_id", "pos", "phrase")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(sp.toSeq === Seq((1L, 2L, "he"), (1L, 5L, "fast table"), (1L, 10L, "table")))
    val rd = TextOps.keywordRedact(docs, Seq("fast table"))
      .orderBy("doc_id").collect().map(_.getString(1))
    assert(rd.toSeq === Seq("the **********", "plain"))
  }

  test("keywordSpot emits sorted joined hits and counts, one row per doc") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      (1L, "the fast table scan"),
      (2L, "nothing relevant here at all"), // 'he' hits inside 'here'
      (3L, "zzz qqq")).toDF("doc_id", "text")
    val out = TextOps.keywordSpot(docs, Seq("fast table", "table", "able", "he"))
      .orderBy("doc_id").collect()
    assert(out.length === 3)
    val r1 = out(0)
    assert(r1.getAs[String]("hits") === "able,fast table,he,table")
    assert(r1.getAs[Long]("n_hits") === 4L)
    assert(out(1).getAs[String]("hits") === "he")
    assert(out(2).getAs[String]("hits") === "")
    assert(out(2).getAs[Long]("n_hits") === 0L)
  }

  test("keyword_counts: per-pattern totals in sorted order; overlaps all count") {
    import graft.plans.AhoCorasick
    // patterns sort to [aa, he, the]; "aaa" contains TWO (overlapping)
    // occurrences of "aa" — the documented every-occurrence semantics
    val ac = AhoCorasick.build(Seq("the", "he", "aa"))
    assert(ac.patterns.toSeq == Seq("aa", "he", "the"))
    val got = ac.countArray(
      org.apache.spark.unsafe.types.UTF8String.fromString("the aaa the"))
      .toLongArray().toSeq
    assert(got == Seq(2L, 2L, 2L), s"counts: $got") // aa×2, he×2 (inside the×2), the×2
    // DataFrame path: counts land as array<long>, null text -> null
    import spark.implicits._
    val out = Seq((1L, "the aaa the"), (2L, null.asInstanceOf[String]))
      .toDF("id", "t")
      .selectExpr("id", "keyword_counts(t, array('the', 'he', 'aa')) AS c")
      .orderBy("id").collect()
    assert(out(0).getSeq[Long](1) == Seq(2L, 2L, 2L) && out(1).isNullAt(1))
    // borderless patterns: automaton totals equal the non-overlapping
    // regexp count (the lang-id parity contract)
    val txt = "the thing in the thicket heats the heather"
    val viaRegex = Seq("the", "he").sorted.map(p =>
      p.r.findAllMatchIn(txt).size.toLong)
    val viaAc = AhoCorasick.build(Seq("the", "he")).countArray(
      org.apache.spark.unsafe.types.UTF8String.fromString(txt)).toLongArray().toSeq
    assert(viaAc == viaRegex, s"$viaAc vs $viaRegex")
  }
}
