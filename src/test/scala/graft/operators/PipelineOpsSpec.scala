package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

private object PipelineOpsSpecHelper {
  def quantiles(df: org.apache.spark.sql.DataFrame): Seq[org.apache.spark.sql.Row] =
    QuantileOps.exactQuantiles(df, "g", "v",
      ps = Seq("q25" -> 0.25, "q50" -> 0.5, "q75" -> 0.75))
      .orderBy("g").collect().toSeq
}

/** Unit semantics of the dataset-curation operators (PipelineOps); the
  * cross-engine values are pinned by the q_* oracles in PipelineQueries. */
class PipelineOpsSpec extends SparkSpec {
  import spark.implicits._

  private def docs(rows: (Long, String)*) =
    rows.toDF("doc_id", "text")

  test("hashSplit is deterministic and content-keyed") {
    val d = docs(1L -> "a b c", 2L -> "a b c", 3L -> "x y z")
    val out = PipelineOps.hashSplit(d).collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // identical text → identical split, regardless of id
    assert(out(1L) == out(2L))
    val again = PipelineOps.hashSplit(d).collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out == again)
    assert(out.values.forall(Set("train", "valid", "test")))
  }

  test("selection quantiles are bit-identical to the window formulation") {
    val rnd = new scala.util.Random(7)
    // groups of very different sizes, duplicated values, decimals included
    val rows = (0 until 5000).map { i =>
      val g = if (i % 10 < 6) "big" else if (i % 10 < 9) "mid" else "small"
      (g, BigDecimal(rnd.nextInt(1000)) / 4)
    }
    val df = rows.toDF("g", "v")
    val ps = Seq("q10" -> 0.1, "q50" -> 0.5, "q90" -> 0.9, "q100" -> 1.0)
    val w = QuantileOps.windowQuantiles(df, "g", "v", ps, scale = 6)
      .orderBy("g").collect().map(_.toSeq)
    val s = QuantileOps.selectionQuantiles(df, "g", "v", ps, scale = 6)
      .orderBy("g").collect().map(_.toSeq)
    assert(w.toSeq == s.toSeq)
  }

  test("stripBoilerplate removes only cross-doc shared n-gram spans") {
    val shared = "s1 s2 s3 s4 s5 s6 s7 s8" // one 8-gram, shared by docs 1+2
    val d = docs(
      1L -> s"a b c $shared d e",
      2L -> s"x y $shared z",
      3L -> "u1 u2 u3 u4 u5 u6 u7 u8 u9 u10") // unique: untouched
    val out = PipelineOps.stripBoilerplate(d, n = 8, minDf = 2)
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(out(0) == ((1L, "a b c d e", 8L, 13L)))
    assert(out(1) == ((2L, "x y z", 8L, 11L)))
    assert(out(2) == ((3L, "u1 u2 u3 u4 u5 u6 u7 u8 u9 u10", 0L, 10L)))
    // shorter than n passes through (no window exists)
    val short = PipelineOps.stripBoilerplate(docs(9L -> "a b c", 10L -> "a b c"), n = 8)
      .orderBy("doc_id").collect()
    assert(short.map(_.getString(1)).toSeq == Seq("a b c", "a b c"))
    assert(short.map(_.getLong(2)).toSeq == Seq(0L, 0L))
  }

  test("Bloom filter: no false negatives, real pruning, semi-join equality") {
    import graft.functions.{BloomFilterAggregator, BloomHash}
    val k = graft.plans.BloomMightContain.NumHashes
    val agg = new BloomFilterAggregator(1 << 13, k)
    val members = (0L until 500L).map(_ * 7 + 3)
    val words = members.foldLeft(agg.zero)(agg.reduce)
    // no false negatives — every inserted key probes true
    assert(members.forall(BloomHash.mightContain(words, _, k)))
    // merge = OR: split build agrees with sequential build
    val (l, r) = members.splitAt(123)
    val merged = agg.merge(l.foldLeft(agg.zero)(agg.reduce), r.foldLeft(agg.zero)(agg.reduce))
    assert(merged.toSeq == words.toSeq)
    // pruning: on a disjoint probe set, most keys are rejected
    // (8192 bits / 500 keys ≈ 16 bits/key with k=7 → FP well under 1%)
    val disjoint = (100000L until 102000L)
    val fp = disjoint.count(BloomHash.mightContain(words, _, k))
    assert(fp < disjoint.size / 20, s"false-positive count $fp of ${disjoint.size}")
    // operator equality with the plain semi join on real tables
    val big = (0L until 2000L).map(i => (i, s"v$i")).toDF("id", "payload")
    val small = (0L until 2000L by 13).map(Tuple1(_)).toDF("k")
    val viaBloom = ScaleOps.bloomSemiJoin(big, "id", small, "k")
      .orderBy("id").collect().map(_.getLong(0)).toSeq
    val plain = big.join(small, col("id") === col("k"), "left_semi")
      .orderBy("id").collect().map(_.getLong(0)).toSeq
    assert(viaBloom == plain)
  }

  test("Misra-Gries sketch: bounded state and the N/(k+1) membership guarantee") {
    val k = 5
    val agg = new graft.functions.MisraGriesAggregator(k)
    // adversarial order: heavy item arrives FIRST, then distinct noise tries
    // to evict it; 30 occurrences of "hot" in N=130 > N/(k+1) ≈ 21.7
    val stream: Seq[Seq[String]] =
      Seq.fill(30)(Seq("hot")) ++ (0 until 100).map(i => Seq(s"noise$i"))
    val direct = stream.foldLeft(agg.zero)(agg.reduce)
    assert(direct.size <= k)
    assert(direct.contains("hot"))
    // arbitrary merge tree preserves the guarantee
    val (l, r) = stream.splitAt(37)
    val merged = agg.merge(l.foldLeft(agg.zero)(agg.reduce), r.foldLeft(agg.zero)(agg.reduce))
    assert(merged.size <= k)
    assert(merged.contains("hot"))
    // estimated count never exceeds the true count
    assert(direct("hot") <= 30L && merged("hot") <= 30L)
  }

  test("Count-Min sketch: never undercounts, merge-order invariant, bounded error") {
    val depth = 4; val width = 64
    val agg = new graft.functions.CountMinAggregator(depth, width)
    // 40 occurrences of "hot" in a stream of 240 tokens with 200 distinct
    // noise tokens hammering the 64-wide rows
    val stream: Seq[Seq[String]] =
      Seq.fill(40)(Seq("hot")) ++ (0 until 200).map(i => Seq(s"noise$i"))
    val direct = stream.foldLeft(agg.zero)(agg.reduce)
    def est(sk: Array[Long], t: String) =
      graft.functions.CountMinAggregator.estimate(sk, t, depth, width)
    assert(est(direct, "hot") >= 40L)                       // one-sided error
    assert(est(direct, "hot") <= 40L + 3 * 240 / width)     // collision bound
    // elementwise-sum merge is exactly order-invariant (long addition):
    // any split point yields the identical counter array
    val (l, r) = stream.splitAt(97)
    val merged = agg.merge(l.foldLeft(agg.zero)(agg.reduce), r.foldLeft(agg.zero)(agg.reduce))
    assert(java.util.Arrays.equals(merged, direct))
    // an unseen token estimates only collision mass, never negative
    assert(est(direct, "absent-token") >= 0L)
  }

  test("lengthBuckets packs pow-2 buckets into bounded batches with exact waste") {
    // lengths 1,2,3,4,5,8,9,16,17 → buckets 0,1,2,2,3,3,4,4,5
    val lens = Seq(1, 2, 3, 4, 5, 8, 9, 16, 17)
    val d = lens.zipWithIndex.map { case (n, i) =>
      (i.toLong, (0 until n).map(j => s"t$j").mkString(" "))
    }.toDF("doc_id", "text")
    val out = PipelineOps.lengthBuckets(d, batchSize = 2)
      .orderBy("bucket", "batch_id").collect()
    // bucket = ⌈log2(n)⌉, integer-exact
    def bucketOf(n: Int) = if (n <= 1) 0 else 64 - java.lang.Long.numberOfLeadingZeros((n - 1).toLong)
    val expectBuckets = lens.map(bucketOf).groupBy(identity).view.mapValues(_.size).toMap
    val gotBuckets = out.groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(2)).sum).toMap
    assert(gotBuckets.map { case (b, n) => b.toInt -> n.toInt } == expectBuckets)
    out.foreach { r =>
      val (nDocs, maxLen, sumLen, waste) =
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))
      assert(nDocs <= 2, "batch exceeds batchSize")
      assert(waste == nDocs * maxLen - sumLen && waste >= 0)
      // within a pow-2 bucket the worst pad is less than half the max length
      assert(waste <= nDocs * (maxLen - (maxLen + 1) / 2))
    }
    // total docs conserved
    assert(out.map(_.getLong(2)).sum == lens.size)
  }

  test("snapshotDiff classifies added/removed/changed and excludes unchanged keys") {
    val oldSnap = Seq(
      (1L, Some("a"), 1.0), (2L, Some("b"), 2.0), (3L, Some("c"), 3.0),
      (4L, None: Option[String], 4.0))
      .toDF("k", "s", "v")
    val newSnap = Seq(
      (1L, Some("a"), 1.0),                 // unchanged → absent
      (2L, Some("B"), 2.0),                 // changed (string)
      (4L, None: Option[String], 4.0),      // unchanged with a NULL column
      (5L, Some("e"), 5.0))                 // added; key 3 removed
      .toDF("k", "s", "v")
    val out = PipelineOps.snapshotDiff(oldSnap, newSnap, "k", Seq("s", "v"))
      .orderBy("k").as[(Long, String)].collect().toSeq
    assert(out == Seq((2L, "changed"), (3L, "removed"), (5L, "added")))
    // null vs empty string is a CHANGE, not equality (null/value tag)
    val o2 = Seq((9L, None: Option[String])).toDF("k", "s")
    val n2 = Seq((9L, Some(""))).toDF("k", "s")
    val d2 = PipelineOps.snapshotDiff(o2, n2, "k", Seq("s"))
      .as[(Long, String)].collect().toSeq
    assert(d2 == Seq((9L, "changed")))
    // separator injection: ('a|b','c') vs ('a','b|c') are DIFFERENT rows and
    // must classify as changed — per-column fixed-width digests make the
    // encoding boundary-proof (a concat_ws("|") scheme hashes them equal)
    val o3 = Seq((1L, "a|b", "c"), (2L, "x", "y|"), (3L, "p\u0000", "q"))
      .toDF("k", "s", "v")
    val n3 = Seq((1L, "a", "b|c"), (2L, "x|", "y"), (3L, "p", "\u0000q"))
      .toDF("k", "s", "v")
    val d3 = PipelineOps.snapshotDiff(o3, n3, "k", Seq("s", "v"))
      .orderBy("k").as[(Long, String)].collect().toSeq
    assert(d3 == Seq((1L, "changed"), (2L, "changed"), (3L, "changed")),
      "boundary-shifting values must not hash equal")
  }

  test("dedupSpansKeepFirst keeps the first instance, removes later ones — cross- and within-doc") {
    val d = Seq(
      (1L, "a b c x"),           // owns "a b c" (first at (1,1)) — untouched
      (2L, "z a b c"),           // copies it at pos 2 → positions 2-4 removed
      (3L, "p q r p q r"))       // self-repeat: pos-4 instance removed
      .toDF("doc_id", "text")
    val out = PipelineOps.dedupSpansKeepFirst(d, n = 3).orderBy("doc_id")
      .as[(Long, String, Long, Long)].collect().toSeq
    assert(out == Seq(
      (1L, "a b c x", 0L, 4L),
      (2L, "z", 3L, 4L),
      (3L, "p q r", 3L, 6L)))
    // contrast with stripBoilerplate (minDf policy): the FIRST instance of
    // the shared span is removed too
    val strip = PipelineOps.stripBoilerplate(d, n = 3, minDf = 2)
      .where(col("doc_id") === 1L).select("clean_text").as[String].head()
    assert(strip == "x", "minDf policy must remove the first instance as well")
  }

  test("lengthBuckets: sharded two-phase rank is bit-identical to the single window") {
    // 300 docs, varied lengths, ids NOT block-aligned; blockSize 16 forces
    // many (bucket, block) partitions and non-trivial cumulative offsets
    val rnd = new scala.util.Random(11)
    val d = (0 until 300).map { i =>
      (i.toLong * 3 + 1, (0 to rnd.nextInt(40)).map(j => s"t$j").mkString(" "))
    }.toDF("doc_id", "text")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("bucket", "batch_id").collect().toSeq
    val direct = rows(PipelineOps.windowLengthBuckets(d, batchSize = 7))
    val sharded = rows(PipelineOps.shardedLengthBuckets(d, batchSize = 7, blockSize = 16L))
    assert(sharded == direct,
      "block-offset ranking must reproduce the global window's batches exactly")
    // adaptive entry agrees with both (small input → window form)
    assert(rows(PipelineOps.lengthBuckets(d, batchSize = 7)) == direct)
  }

  test("block-sharded ops reject non-integral ids loudly (blocks derive arithmetically)") {
    val s = Seq(("a1", "x y z"), ("a2", "p q")).toDF("doc_id", "text")
    val e1 = intercept[IllegalArgumentException] {
      PipelineOps.shardedLengthBuckets(s, batchSize = 4, blockSize = 4096L)
    }
    assert(e1.getMessage.contains("integral id"))
    val e2 = intercept[IllegalArgumentException] {
      PipelineOps.packSequences(s, ctxLen = 8)
    }
    assert(e2.getMessage.contains("integral id"))
  }

  test("chunk produces overlapping windows and a short tail") {
    // 7 tokens, size 3, stride 2 → starts 0,2,4,6: tails shorten
    val out = PipelineOps.chunk(docs(1L -> "t0 t1 t2 t3 t4 t5 t6"), size = 3, stride = 2)
      .orderBy("chunk_id")
      .select("chunk_id", "chunk", "n_tokens")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(out.toSeq == Seq(
      (0L, "t0 t1 t2", 3L), (1L, "t2 t3 t4", 3L), (2L, "t4 t5 t6", 3L), (3L, "t6", 1L)))
  }

  test("chunk handles a doc shorter than one window") {
    val out = PipelineOps.chunk(docs(1L -> "only two"), size = 32, stride = 24)
      .select("chunk_id", "chunk", "n_tokens")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(out.toSeq == Seq((0L, "only two", 2L)))
  }

  test("redact chains patterns in order") {
    val out = PipelineOps.redact(Seq(("a", "Customer#000123")).toDF("id", "v"), "v", "r",
        Seq("Customer#" -> "id:", "[0-9]{3,}" -> "<NUM>"))
      .select("r").as[String].collect()
    assert(out.toSeq == Seq("id:<NUM>"))
  }

  test("repetitionStats flags repeated tokens") {
    val out = PipelineOps.repetitionStats(docs(1L -> "a a a b", 2L -> "w x y z"))
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4)))
    assert(out(0) == (1L, 4L, 2L, 0.75, 0.5))
    assert(out(1) == (2L, 4L, 4L, 0.25, 0.0))
  }

  test("topNgrams counts bigrams with deterministic tie-break") {
    val out = PipelineOps.topNgrams(docs(1L -> "a b a b c", 2L -> "a b"), n = 2, k = 3)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    // "a b" ×3, then ties ("b a","b c") broken alphabetically
    assert(out.toSeq == Seq(("a b", 3L), ("b a", 1L), ("b c", 1L)))
  }

  test("balanceClasses equalizes class sizes deterministically") {
    val d = Seq(
      (1L, "t1", "en"), (2L, "t2", "en"), (3L, "t3", "en"), (4L, "t4", "en"),
      (5L, "t5", "de"), (6L, "t6", "de")).toDF("doc_id", "text", "lang")
    val out = PipelineOps.balanceClasses(d, "lang")
    val counts = out.groupBy("lang").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts == Map("en" -> 2L, "de" -> 2L))
    assert(out.collect().toSeq == PipelineOps.balanceClasses(d, "lang").collect().toSeq)
  }

  test("upsert replaces changed keys whole-row, inserts new keys, keeps the rest") {
    val base = Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0)).toDF("k", "name", "bal")
    val changes = Seq((2L, null.asInstanceOf[String], 99.0), (4L, "d", 40.0)).toDF("k", "name", "bal")
    val out = PipelineOps.upsert(base, changes, "k")
      .orderBy("k")
      .collect().map(r => (r.getLong(0), Option(r.getString(1)), r.getDouble(2)))
    // row-level replacement: key 2's NULL name wins (not patched from base)
    assert(out.toSeq == Seq(
      (1L, Some("a"), 10.0), (2L, None, 99.0), (3L, Some("c"), 30.0), (4L, Some("d"), 40.0)))
  }

  test("packSequences two-phase prefix sum equals the sequential packing reference") {
    val docs = Seq((0L, "a b c"), (1L, "d e"), (2L, "f g h i"), (3L, "j"),
      (10L, "k l m"), (11L, "n o p q r")).toDF("doc_id", "text")
    // sequential reference: cumulative starts in id order, ctx=4
    val expected = Map(0L -> (0L, 0L), 1L -> (0L, 3L), 2L -> (1L, 1L),
      3L -> (2L, 1L), 10L -> (2L, 2L), 11L -> (3L, 1L))
    // bucketSize=2 forces multiple buckets through the two-phase path
    val got = PipelineOps.packSequences(docs, ctxLen = 4, bucketSize = 2)
      .collect().map(r => r.getLong(0) -> (r.getLong(2), r.getLong(3))).toMap
    assert(got == expected, s"got $got")
  }

  test("packSequences equals the sequential reference on random corpora (property)") {
    (1 to 5).foreach { seed =>
      val rnd = new scala.util.Random(seed)
      // sparse, shuffled-magnitude ids exercise bucket boundaries
      val docs = (0 until 40).map { i =>
        (i.toLong * rnd.nextInt(5).max(1),
          (0 to rnd.nextInt(9)).map(_ => "w").mkString(" "))
      }.distinctBy(_._1)
      val ctx = 1 + rnd.nextInt(16)
      var cum = 0L
      val expected = docs.sortBy(_._1).map { case (id, text) =>
        val n = text.split(" ").length.toLong
        val r = id -> (cum / ctx, cum % ctx)
        cum += n
        r
      }.toMap
      val got = PipelineOps.packSequences(docs.toDF("doc_id", "text"),
          ctxLen = ctx, bucketSize = 1 + rnd.nextInt(7))
        .collect().map(r => r.getLong(0) -> (r.getLong(2), r.getLong(3))).toMap
      assert(got == expected, s"seed=$seed ctx=$ctx")
    }
  }

  test("maskTokens is deterministic, counts its masks, and respects rate 0/1") {
    val docs = Seq((1L, "a b c d e f g h i j")).toDF("doc_id", "text")
    val none = PipelineOps.maskTokens(docs, rate = 0.0).collect().head
    assert(none.getAs[Long]("n_masked") == 0L && !none.getAs[String]("masked_text").contains("<mask>"))
    val all = PipelineOps.maskTokens(docs, rate = 1.0).collect().head
    assert(all.getAs[Long]("n_masked") == 10L)
    val once = PipelineOps.maskTokens(docs, rate = 0.5).collect().head
    val again = PipelineOps.maskTokens(docs, rate = 0.5).collect().head
    assert(once.getAs[String]("masked_text") == again.getAs[String]("masked_text"))
    assert(once.getAs[Long]("n_masked") ==
      once.getAs[String]("masked_text").split(" ").count(_ == "<mask>"))
  }

  test("pseudonymize is stable and collision-free across distinct keys") {
    val d = Seq((1L, "a"), (2L, "b"), (1L, "c")).toDF("user_id", "x")
    val out = PipelineOps.pseudonymize(d, "user_id", "p")
      .select("user_id", "p").distinct().collect().map(r => r.getLong(0) -> r.getString(1))
    assert(out.toMap.size == 2)           // same key → same pseudonym
    assert(out.map(_._2).distinct.size == 2)
    assert(out.forall(_._2.length == 64)) // sha-256 hex
  }

  test("mixSources keeps floor(weight × count) docs per source, deterministically") {
    val d = (1L to 8L).map(i => (i, s"t$i", if (i <= 4) "web" else "books"))
      .toDF("doc_id", "text", "source")
    val out = PipelineOps.mixSources(d, Map("web" -> 0.75, "books" -> 0.5))
    val counts = out.groupBy("source").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts == Map("web" -> 3L, "books" -> 2L)) // floor(.75×4)=3, floor(.5×4)=2
    assert(out.collect().toSet ==
      PipelineOps.mixSources(d, Map("web" -> 0.75, "books" -> 0.5)).collect().toSet)
    // a source without a weight contributes nothing
    val partial = PipelineOps.mixSources(d, Map("web" -> 0.75))
    assert(partial.select("source").distinct().collect().map(_.getString(0)).toSeq == Seq("web"))
  }

  test("contamination flags only docs sharing a full n-gram with the benchmark") {
    val bench = docs(100L -> "b1 b2 b3 b4 unique tail here x")
    val corpus = docs(
      1L -> "prefix b1 b2 b3 b4 unique tail here x suffix", // contains the 8-gram
      2L -> "b1 b2 b3 b4 other words entirely different here",
      3L -> "no overlap at all in this document text x")
    val out = DedupOps.contamination(corpus, bench, n = 8)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out.keySet == Set(1L))
    // the 8-token benchmark doc has exactly one 8-gram; doc 1 contains it at
    // exactly one position
    assert(out(1L) == 1L)
  }

  test("resampleFill fills gaps with n=0 and forward-fills the aggregate") {
    val B = 3600L * 1000 * 1000 * 1000
    val df = Seq(
      (1L, 0L, 10.0), (1L, 10L, 30.0),    // bucket 0 (avg 20)
      (1L, 3 * B + 1, 40.0),              // bucket 3; buckets 1-2 are gaps
      (2L, 5 * B, 7.0)).toDF("k", "ts", "v")
    val out = TimeSeriesOps.resampleFill(df, "k", "ts", "v", B)
      .orderBy("k", "bucket")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(out.toSeq == Seq(
      (1L, 0L, 2L, 20.0), (1L, 1L, 0L, 20.0), (1L, 2L, 0L, 20.0), (1L, 3L, 1L, 40.0),
      (2L, 5L, 1L, 7.0)))
  }

  test("exactQuantiles matches Spark's built-in percentile on random data") {
    val rnd = new scala.util.Random(7)
    val df = (1 to 997).map(i => (s"g${i % 3}", rnd.nextDouble() * 1000))
      .toDF("g", "v")
    val ours = PipelineOpsSpecHelper.quantiles(df)
    val builtin = df.groupBy("g")
      .agg(expr("percentile(v, array(0.25D, 0.5D, 0.75D))").as("q"))
      .select(col("g"), round(element_at(col("q"), 1), 4).as("q25"),
        round(element_at(col("q"), 2), 4).as("q50"),
        round(element_at(col("q"), 3), 4).as("q75"))
      .orderBy("g").collect().toSeq
    assert(ours == builtin)
    // group sizes 333/332/332: exercises both integral and fractional
    // interpolation positions
  }

  test("upsert tolerates duplicate keys in the changeset without fanning out") {
    val base = Seq((1L, "a", 10.0), (2L, "b", 20.0)).toDF("k", "name", "bal")
    val dup = Seq((2L, "b1", 21.0), (2L, "b2", 22.0), (2L, "b1", 21.0))
      .toDF("k", "name", "bal")
    val out = PipelineOps.upsert(base, dup, "k")
    assert(out.count() == 2) // no join fan-out from the 3 duplicate rows
    val again = PipelineOps.upsert(base, dup, "k")
      .orderBy("k").collect().toSeq
    assert(out.orderBy("k").collect().toSeq == again) // deterministic winner
  }

  test("exactQuantiles ignores NULL values like percentile/quantile_cont") {
    val withNulls = (Seq.tabulate(99)(i => ("g0", Option(i + 1.0))) ++
      Seq.fill(50)(("g0", None: Option[Double]))).toDF("g", "v")
    val ours = PipelineOpsSpecHelper.quantiles(withNulls)
    // built-in percentile also skips NULLs → quantiles of 1..99
    assert(ours.map(r => (r.getDouble(1), r.getDouble(2), r.getDouble(3))) ==
      Seq((25.5, 50.0, 74.5)))
  }

  test("resampleFill floors negative timestamps into earlier buckets") {
    val out = TimeSeriesOps.resampleFill(
      Seq((1L, -1L, 5.0), (1L, 25L, 7.0)).toDF("k", "ts", "v"), "k", "ts", "v", 10L)
      .orderBy("bucket")
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getDouble(3)))
    // -1 belongs to bucket -1 (floor), not bucket 0 (truncation); the gap
    // rows -1..2 forward-fill and sequence() stays ascending
    assert(out.toSeq == Seq(
      (-1L, 1L, 5.0), (0L, 0L, 5.0), (1L, 0L, 5.0), (2L, 1L, 7.0)))
  }

  test("keySkew: uniform keys give entropy log2(k)") {
    val d = (0 until 64).map(i => (i % 8, "x")).toDF("k", "v")
    val r = PipelineOps.keySkew(d, "k").collect().head
    assert(r.getAs[Long]("n_keys") == 8L)
    assert(r.getAs[Long]("n_rows") == 64L)
    assert(r.getAs[Long]("max_cnt") == 8L)
    assert(r.getAs[Double]("entropy_bits") == 3.0)
  }

  test("FeatureOps: impute fills group mean, standardize z-scores, oneHot is exclusive") {
    val df = Seq(("a", Some(1.0)), ("a", Some(3.0)), ("a", None), ("b", Some(5.0)))
      .toDF("g", "v")
    val imp = FeatureOps.imputeMean(df, "g", "v")
      .collect().map(r => (r.getString(0), Option(r.get(1)), r.getDouble(2)))
    // the NULL in group a imputes to mean(1,3)=2; observed values unchanged
    assert(imp.collect { case ("a", None, vi) => vi }.toSeq == Seq(2.0))
    val z = FeatureOps.standardize(df, "g", "v")
      .collect().map(r => (r.getString(0), Option(r.get(1)), Option(r.get(2)))).toSet
    // group a: mean 2, sd sqrt(2) → ±0.707107; singleton/NULL rows → NULL z
    assert(z.contains(("a", Some(1.0), Some(-0.707107))))
    assert(z.contains(("a", Some(3.0), Some(0.707107))))
    assert(z.contains(("b", Some(5.0), None)))
    val oh = FeatureOps.oneHot(df.select("g"), "g", Seq("a", "b", "c"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(oh.forall { case (g, a, b, c) => a + b + c == 1 && c == 0 })
  }

  test("applyCdc: latest change wins across update, delete, resurrect, insert") {
    val base = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v")
    val changes = Seq(
      (1L, "a1", 1, "U"), // plain update
      (2L, "b", 1, "D"), // delete
      (3L, "c", 2, "D"), (3L, "c3", 5, "U"), // delete then re-insert → survives
      (1L, "a9", 0, "U"), // stale change, must lose to seq 1
      (9L, "new", 4, "I")) // brand-new key
      .toDF("k", "v", "seq", "op")
    val out = PipelineOps.applyCdc(base, changes, "k", "seq", "op")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out == Map(1L -> "a1", 3L -> "c3", 9L -> "new"))
  }

  test("selectByTokenBudget equals the naive global greedy cumsum on random corpora") {
    import org.apache.spark.sql.expressions.Window
    val rnd = new scala.util.Random(17)
    // a 2-dp quality grid forces many equal-quality ties, and a 4-dp grid
    // puts distinct qualities into one of the 1000 buckets — exactly the
    // boundary cases where the two-level plan could diverge from the
    // global order
    val rows = (0 until 400).map { i =>
      val grid = if (i % 2 == 0) 100.0 else 10000.0
      (i.toLong, math.round(rnd.nextDouble() * grid) / grid, 10L + rnd.nextInt(90))
    }
    val df = rows.toDF("doc_id", "quality", "n_tokens")
    for (budget <- Seq(0L, 500L, 7000L, 1000000L)) {
      val w = Window.orderBy(col("quality").desc, col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val naive = df.withColumn("__cum", sum(col("n_tokens")).over(w))
        .where(col("__cum") <= budget)
        .select("doc_id").as[Long].collect().toSet
      val got = PipelineOps.selectByTokenBudget(df, budget)
        .select("doc_id").as[Long].collect().toSet
      assert(got == naive,
        s"budget=$budget:\n spurious ${got diff naive}\n missing ${naive diff got}")
    }
  }

  test("mergeAggregates equals full recompute on overlapping and disjoint keys") {
    val rows = Seq(("a", 1L, 10.0), ("a", 2L, 20.0), ("b", 3L, 30.0), ("c", 4L, 40.0))
      .toDF("k", "n", "v")
    def agg(df: org.apache.spark.sql.DataFrame) =
      df.groupBy("k").agg(count(lit(1)).as("cnt"), sum("v").as("sv"))
    // split straddles key "a" (overlap) and isolates "c" (delta-only)
    val merged = PipelineOps.mergeAggregates(
      agg(rows.where(col("n") <= 1)), agg(rows.where(col("n") > 1)),
      keyCols = Seq("k"), sumCols = Seq("cnt", "sv"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val full = agg(rows)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(merged == full)
  }

  test("dsirResample ranks target-like documents above off-target ones") {
    // target docs (is_tgt) speak "alpha beta"; off-target docs speak
    // "gamma delta". The raw doc made of target vocabulary must carry a
    // higher importance weight than the raw doc of off-target vocabulary.
    val d = Seq(
      (1L, "alpha beta alpha beta", true),
      (2L, "alpha beta beta alpha", true),
      (3L, "gamma delta gamma delta", false),
      (4L, "gamma delta delta gamma", false),
      (10L, "alpha beta alpha beta", false), // target-like raw doc
      (11L, "gamma delta gamma delta", false) // off-target raw doc
    ).toDF("doc_id", "text", "is_tgt")
    val out = PipelineOps.dsirResample(d, isTarget = col("is_tgt"), k = 6)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(out(10L) > out(11L), s"target-like doc not upweighted: $out")
    // identical text → identical logw (scoring is content-pure)
    assert(out(10L) == out(1L) && out(11L) == out(3L))
    // deterministic across runs (hash-derived Gumbel, no RNG state)
    val again = PipelineOps.dsirResample(d, isTarget = col("is_tgt"), k = 6)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(out == again)
  }

  test("luhnValid: textbook numbers, single-digit flips, non-digit input") {
    val rows = Seq(
      (1L, "79927398713"),  // the canonical valid Luhn example
      (2L, "79927398714"),  // last digit off by one -> invalid
      (3L, "79927398813"),  // interior digit flipped -> invalid (Luhn catches all single flips)
      (4L, "0"),            // single zero: total 0 -> valid
      (5L, "4242424242424242"), // classic valid test card
      (6L, "4242-4242"),    // non-digit chars -> NULL, not a crash
      (7L, "")              // empty -> NULL
    ).toDF("id", "cand")
    val out = rows.select(col("id"), PipelineOps.luhnValid(col("cand")).as("v"))
      .orderBy("id").collect()
    assert(out(0).getBoolean(1) && !out(1).getBoolean(1) && !out(2).getBoolean(1))
    assert(out(3).getBoolean(1) && out(4).getBoolean(1))
    assert(out(5).isNullAt(1) && out(6).isNullAt(1))
  }
}
