package graft.plans

import org.scalacheck.{Gen, Properties}
import org.scalacheck.Prop.forAll

/** Randomized parity of the native [[BpeMerger]] against the original
  * replace-CHAIN formulation (plain-Scala `String.replace`, which scans
  * exactly like Spark's and DuckDB's literal replace: left-to-right,
  * non-overlapping, over the ORIGINAL string). Adversarial alphabet
  * {a, b, space} with self-overlap-prone merges like (a, a) — this
  * property CAUGHT the naive every-adjacent-pair sweep, which diverges on
  * "a a a" (the chain's second match shares a separator with the first
  * and is skipped). */
object BpeMergerProperties extends Properties("BpeMerger") {

  private val Sep = "·"

  /** The chain formulation the DuckDB oracle runs, in plain Scala (Java
    * String.replace == SQL replace semantics). */
  private def chainRef(text: String, merges: Seq[(String, String)]): String = {
    val wrapped = text.replaceAll("(\\S)", "$1" + Sep).replaceAll("(^| )", "$1" + Sep)
    val merged = merges.foldLeft(wrapped) { case (acc, (a, b)) =>
      acc.replace(Sep + a + Sep + b + Sep, Sep + a + b + Sep)
    }
    merged.replaceAll(Sep + "( |$)", "$1").replaceAll("(^| )" + Sep, "$1")
  }

  private val textGen: Gen[String] =
    Gen.listOf(Gen.oneOf('a', 'b', 'c', ' ')).map(_.mkString)

  private val symGen: Gen[String] = Gen.oneOf(
    Gen.oneOf("a", "b", "c"),
    Gen.oneOf("aa", "ab", "ba", "bc", "cc", "abc"))

  private val mergesGen: Gen[List[(String, String)]] =
    Gen.listOfN(6, Gen.zip(symGen, symGen)).map(_.take(6))

  // noShrink: ScalaCheck's string shrinker escapes the generator domain
  // (it produced "\f\u0000", where the chain's (\S) wrap treats \f as
  // whitespace while word-splitting only recognizes ' ' — outside the
  // operator's space-separated-token contract)
  property("native sweep == replace chain on random text and merge tables") =
    org.scalacheck.Prop.forAllNoShrink(textGen, mergesGen) { (text, merges) =>
      val native = new BpeMerger(Sep, merges.toArray).mergeStr(text)
      native == chainRef(text, merges)
    }

  property("the boundary rule itself: consecutive pairs skip one site per pass") =
    org.scalacheck.Prop {
      val m = new BpeMerger(Sep, Array(("a", "a")))
      // 4 a's: chain merges symbols (0,1), skips the pair sharing its
      // trailing separator, merges nothing else → [aa, a, a]
      m.mergeStr("a a a a".replace(" ", "")) == "aa·a·a" &&
        m.mergeStr("aaaa") == chainRef("aaaa", Seq(("a", "a")))
    }
}
