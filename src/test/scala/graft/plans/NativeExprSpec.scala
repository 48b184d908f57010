package graft.plans

import graft.SparkSpec
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Equivalence pins for native expressions that REPLACED built-in chains on
  * hot paths: the native form must be bit-identical to the composite form
  * it displaced, or the oracle-checked consumers silently change results. */
class NativeExprSpec extends SparkSpec {

  test("md5_u32 equals conv(substring(md5, 1, 8), 16, 10) on varied inputs") {
    import spark.implicits._
    val inputs = Seq(
      "", "a", "0", "42:17", "doc_123:63",
      "the quick brown fox", "ü¢…unicode→Ω", "\u0000nul", " lead trail ",
      "very-long-" + ("x" * 500)) ++
      (0 until 1000).map(i => s"$i:${i % 64}")
    val df = inputs.toDF("s")
    val both = df.select(
      call_function("md5_u32", col("s")).as("fast"),
      conv(substring(md5(col("s")), 1, 8), 16, 10).cast("long").as("ref"))
    val rows = both.collect()
    assert(rows.length == inputs.length)
    rows.foreach(r => assert(r.getLong(0) == r.getLong(1), s"mismatch: $r"))
    // range sanity: unsigned 32-bit
    rows.foreach(r => assert(r.getLong(0) >= 0L && r.getLong(0) <= 0xffffffffL))
  }

  test("poisson_w equals the 9-branch when-cascade over md5_u32") {
    import spark.implicits._
    val inputs = (0 until 4000).map(i => s"$i:${i % 64}") ++ Seq("", "x")
    val cascade = graft.operators.StatsOps.PoissonThresholds.zipWithIndex
      .foldRight(lit(9): org.apache.spark.sql.Column) {
        case ((t, k), rest) => when(call_function("md5_u32", col("s")) < t, lit(k)).otherwise(rest)
      }.cast("long")
    val rows = inputs.toDF("s")
      .select(call_function("poisson_w", col("s")).as("fast"), cascade.as("ref"))
      .collect()
    rows.foreach(r => assert(r.getLong(0) == r.getLong(1), s"mismatch: $r"))
    // the draw space is covered: weights 0..2 all occur in 4k draws
    assert(rows.map(_.getLong(0)).distinct.length >= 3)
  }

  // name -> literal arguments. Each function has one kernel that
  // nullSafeEval and the generated code both call; this pins that the two
  // paths agree for every registered function.
  private val calls: Seq[(String, Seq[Column])] = Seq(
    "vec_dot" -> Seq(lit(Array(1.5, -2.0, 3.0)), lit(Array(0.5, 4.0, -1.0))),
    "vec_lsh_bits" -> Seq(lit(Array(0.3, -1.2, 2.5, 0.7)), lit(16)),
    "simhash64" -> Seq(lit(Array(17L, -4L, 123456789L, Long.MinValue))),
    "poisson_w" -> Seq(lit("doc_1:3")),
    "md5_u32" -> Seq(lit("the quick brown fox")),
    "sorted_intersect_count" -> Seq(lit(Array(1L, 3L, 5L, 9L)), lit(Array(3L, 4L, 9L))),
    "ngram_hashes" -> Seq(lit(Array("a", "b", "c", "a", "b", "d")), lit(2)),
    "bloom_might_contain" -> Seq(lit(Array(-1L, 5L, 0x1234L)), lit(42L)),
    "nfc_normalize" -> Seq(lit("cafe\u0301 A\u030a")),
    "char_entropy" -> Seq(lit("aab\ud834\udd1e")),
    "jaro_winkler" -> Seq(lit("martha"), lit("marhta")),
    "keyword_matches" -> Seq(lit("she sells sea shells"), lit(Array("he", "sea", "shell"))),
    "keyword_any" -> Seq(lit("she sells sea shells"), lit(Array("shell", "zzz"))),
    "keyword_counts" -> Seq(lit("she sells sea shells"), lit(Array("he", "s"))),
    "bpe_apply" -> Seq(lit("low lower"), lit(Array("_", "l", "o", "lo", "w"))),
    "keyword_spans" -> Seq(lit("she sells sea shells"), lit(Array("he", "sea"))),
    "keyword_redact" -> Seq(lit("she sells sea shells"), lit(Array("sea", "ells"))))

  test("every native function: constant-folded eval equals generated code on columns") {
    assert(calls.map(_._1).distinct.length == 17)
    def names(exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression], name: String) =
      exprs.exists(_.find(_.prettyName == name).isDefined)
    // a generated-code compile error must fail here, not fall back to eval
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try calls.foreach { case (name, args) =>
      // all-literal arguments: ConstantFolding evaluates the call through
      // nullSafeEval and leaves only its value in the plan
      val folded = spark.range(1).select(call_function(name, args: _*).as("r"))
      assert(!names(folded.queryExecution.optimizedPlan.flatMap(_.expressions), name),
        s"$name was not folded")
      // the first argument as a column: the call runs in generated code
      val input = spark.range(1).select(args.head.as("c")).localCheckpoint()
      val compiled = input.select(call_function(name, col("c") +: args.tail: _*).as("r"))
      val expected = folded.head()
      assert(compiled.head() == expected, s"$name: eval and codegen disagree")
      val stages = compiled.queryExecution.executedPlan.collect {
        case w: org.apache.spark.sql.execution.WholeStageCodegenExec => w.child
      }
      assert(stages.exists(s => names(s.flatMap(_.expressions), name)),
        s"$name fell out of whole-stage codegen")
    } finally spark.conf.unset("spark.sql.codegen.fallback")
  }

  test("md5_u32 null propagates") {
    import spark.implicits._
    val df = Seq(Some("a"), None).toDF("s")
    val out = df.select(call_function("md5_u32", col("s"))).collect()
    assert(out.count(_.isNullAt(0)) == 1)
  }
}
