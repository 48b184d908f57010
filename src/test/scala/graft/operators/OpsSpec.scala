package graft.operators

import graft.SparkSpec
import graft.functions.TextFunctions
import org.apache.spark.sql.functions._

/** Batch operator semantics not covered by the DuckDB oracle gate:
  * hash-based dedup recall, LSH vs brute-force ANN, rolling hash,
  * multimodal feature extraction.
  */
class OpsSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = {
    // 20 random docs + 3 planted near-duplicate pairs
    val rnd = new scala.util.Random(7)
    val vocab = Seq("data", "spark", "row", "table", "hash", "join", "scan", "sort",
      "key", "value", "batch", "stream", "query", "filter", "agg", "window")
    val base = (0 until 20).map(i =>
      (i.toLong, (0 until 60).map(_ => vocab(rnd.nextInt(vocab.size))).mkString(" ")))
    val dups = (0 until 3).map { i =>
      val (id, text) = base(i)
      val toks = text.split(" ").toVector.updated(5, "MUTATED")
      (100L + id, toks.mkString(" "))
    }
    (base ++ dups).toDF("doc_id", "text")
  }

  test("oovRate: vocab is the top-V by (count desc, token asc); OOV counted per doc") {
    // counts: alpha=4, beta=2, gamma=1, zeta=1 → V=2 vocab {alpha, beta};
    // gamma/zeta are OOV; the gamma-vs-zeta tie at cnt=1 is BELOW the cut
    val d = Seq((1L, "alpha beta gamma"), (2L, "alpha alpha alpha beta"), (3L, "zeta"))
      .toDF("doc_id", "text")
    val out = TextOps.oovRate(d, vocabSize = 2).orderBy("doc_id")
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(out == Seq((1L, 3L, 1L, 0.333333), (2L, 4L, 0L, 0.0), (3L, 1L, 1L, 1.0)))
    // vocabSize beyond the distinct-token count → nothing is OOV
    val all = TextOps.oovRate(d, vocabSize = 10)
      .agg(sum("n_oov")).as[Long].head()
    assert(all == 0L)
  }

  test("ngramNovelty: first doc introduces all grams; an exact copy introduces none") {
    val d = Seq(
      (1L, "a b c d"),          // grams: "a b c", "b c d" — both first here
      (2L, "a b c d"),          // exact copy → novelty 0
      (3L, "a b c x y z"))      // "a b c" seen; "b c x","c x y","x y z" new
      .toDF("doc_id", "text")
    val out = TextOps.ngramNovelty(d, n = 3).orderBy("doc_id")
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(out == Seq((1L, 2L, 2L, 1.0), (2L, 2L, 0L, 0.0), (3L, 4L, 3L, 0.75)))
    // docs shorter than n emit no row (no grams to score)
    val short = TextOps.ngramNovelty(Seq((9L, "a b")).toDF("doc_id", "text"), n = 3)
    assert(short.count() == 0L)
  }

  test("zipfSlope matches a least-squares fit computed directly on the counts") {
    // engineered counts: x3 appears 8×, x2 4×, x1 2×, x0 1× (exact powers)
    val text = Seq.fill(8)("x3") ++ Seq.fill(4)("x2") ++ Seq.fill(2)("x1") ++ Seq("x0")
    val d = Seq((1L, text.mkString(" "))).toDF("doc_id", "text")
    val out = TextOps.zipfSlope(d, k = 4).as[(Long, Double, Double)].head()
    val xs = (1 to 4).map(r => math.log(r.toDouble))
    val ys = Seq(8.0, 4.0, 2.0, 1.0).map(math.log)
    val mx = xs.sum / 4; val my = ys.sum / 4
    val slope = xs.zip(ys).map { case (x, y) => (x - mx) * (y - my) }.sum /
      xs.map(x => (x - mx) * (x - mx)).sum
    val icpt = my - slope * mx
    def r6(v: Double) = BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out == ((4L, r6(slope), r6(icpt))))
    assert(out._2 < 0, "Zipf slope must be negative on a decaying spectrum")
  }

  test("readability computes the Flesch scores from clamped heuristic counts") {
    // "see the dog. it ran!?" → words 5, sentence runs {"." , "!?"} = 2,
    // syllables: see 1 + the 1 + dog. 1 + it 1 + ran!? 1 = 5
    // (every word here is one vowel group); "xz qt" → 2 words, 0 vowel
    // groups but the per-word clamp makes 2 syllables, sentences clamp to 1
    val d = Seq((1L, "see the dog. it ran!?"), (2L, "xz qt"))
      .toDF("doc_id", "text")
    val out = TextOps.readability(d).orderBy("doc_id").collect()
    def r6(v: Double) = BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val r1 = out(0)
    assert((r1.getLong(1), r1.getLong(2), r1.getLong(3)) == ((5L, 2L, 5L)))
    assert(r1.getDouble(4) == 2.5 && r1.getDouble(5) == 1.0)
    assert(r1.getDouble(6) == r6(206.835 - 1.015 * 2.5 - 84.6 * 1.0))
    assert(r1.getDouble(7) == r6(0.39 * 2.5 + 11.8 * 1.0 - 15.59))
    val r2 = out(1)
    assert((r2.getLong(1), r2.getLong(2), r2.getLong(3)) == ((2L, 1L, 2L)))
  }

  test("sourceConcentration: closed-form Gini/HHI on a skewed split") {
    // counts 1,1,2,4 ascending → Gini = (2·(1·1+2·1+3·2+4·4) − 5·8)/(4·8)
    // = (2·25 − 40)/32 = 10/32 = 0.3125; HHI = (1+1+4+16)/64 = 0.34375
    val d = (Seq.fill(4)("a") ++ Seq.fill(2)("b") ++ Seq("c") ++ Seq("d"))
      .zipWithIndex.map { case (s, i) => (i.toLong, s) }.toDF("doc_id", "source")
    val r = TextOps.sourceConcentration(d).collect().head
    assert(r.getLong(0) == 4L && r.getLong(1) == 8L)
    assert(r.getDouble(2) == 0.3125)
    assert(r.getDouble(3) == 0.34375)
    assert(r.getDouble(4) == 0.5)
  }

  test("sourceConcentration is 0 Gini on a perfectly balanced corpus") {
    val d = (0 until 9).map(i => (i.toLong, s"s${i % 3}")).toDF("doc_id", "source")
    val r = TextOps.sourceConcentration(d).collect().head
    assert(r.getDouble(2) == 0.0 && r.getDouble(4) == BigDecimal(1.0 / 3)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
  }

  test("bpeTrain learns frequency-ranked merges with single-pass semantics") {
    // vocab: aaab×2, ab×1. Round 1: pair "a a" weighs 2·2=4 (overlapping
    // positions both count) vs "a b" 3 → merge "a a"; the SINGLE-PASS
    // leftmost replace turns "a a a b" into "aa a b" (one merge per pass,
    // not two). Round 2: "a b" (3) beats "aa a" (2). Round 3: "aa ab" (2).
    val d = Seq((1L, "aaab aaab ab")).toDF("doc_id", "text")
    val out = TextOps.bpeTrain(d, rounds = 3)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(out.toSeq == Seq((1L, "a a", 4L), (2L, "a b", 3L), (3L, "aa ab", 2L)),
      s"merge trajectory wrong: ${out.mkString(",")}")
  }

  test("bpeTrain emits no rows for rounds past vocabulary exhaustion") {
    // "ab" fully merges in round 1; rounds 2-3 have an empty pair table
    // and must emit NOTHING (the SQL LIMIT-1-over-empty convention), not
    // (round, null, null) artifact rows
    val d = Seq((1L, "ab")).toDF("doc_id", "text")
    val out = TextOps.bpeTrain(d, rounds = 3)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(out.toSeq == Seq((1L, "a b", 1L)), s"got: ${out.mkString(",")}")
  }

  test("bpeApply anchors merges on symbol boundaries, never inside a symbol") {
    // after (t,h),(th,e) the word is the single symbol 'the'+'s'; the
    // (e,s) merge must NOT fire against the 'e' that is merely the SUFFIX
    // of symbol 'the' — a raw unanchored replace would produce 'thes'
    val merges = Seq("t" -> "h", "th" -> "e", "e" -> "s")
    val out = TextOps.bpeApply(Seq((1L, "thes es")).toDF("doc_id", "text"), merges)
      .collect().head
    assert(out.getString(1) == "the·s es",
      s"suffix-boundary false merge: ${out.getString(1)}")
    // ...while a genuine whole-symbol (e, s) pair ('es') does merge
    assert(out.getLong(2) == 3L)
  }

  test("jaro_winkler matches the published closed forms and pinned DuckDB semantics") {
    import graft.plans.JaroWinklerSim.similarity
    assert(similarity("martha", "marhta") == 0.9611111111111111) // textbook
    assert(similarity("dwayne", "duane") == 0.8400000000000001) // == DuckDB bitwise
    assert(similarity("jones", "johnson") == 0.8323809523809523)
    assert(similarity("abc", "abc") == 1.0)
    // DuckDB-pinned edges: either side empty → 0 (including both-empty);
    // window 0 for 2-char swaps; boost ONLY above jaro 0.7
    assert(similarity("", "") == 0.0 && similarity("a", "") == 0.0)
    assert(similarity("ab", "ba") == 0.0)
    assert(similarity("abcdefghij", "abxxxxxxxx") == 0.4666666666666666)
    // expression evaluates inside the plan (registered + codegen path)
    val out = Seq(("martha", "marhta")).toDF("a", "b")
      .selectExpr("jaro_winkler(a, b) AS s").collect().head.getDouble(0)
    assert(out == 0.9611111111111111)
  }

  test("jaro_winkler multibyte contract: UTF-16 code units, mechanically pinned") {
    import graft.plans.JaroWinklerSim.similarity
    // The comparison unit is the UTF-16 code unit (documented in the
    // expression's Scaladoc). An astral pair makes the divergence concrete:
    // U+1F600 vs U+1F601 share their HIGH surrogate, so as 2-unit strings
    // they match 1 of 2 units → jaro (1/2 + 1/2 + 1)/3 = 2/3. A
    // codepoint-based engine sees two length-1 strings with different
    // characters → 0.0. This value IS the contract, not a bug: parity with
    // DuckDB is pinned on the ASCII name/identifier domain (previous test);
    // multibyte inputs follow Java string semantics.
    assert(similarity("😀", "😁") == 2.0 / 3.0)
    // ASCII stays bit-for-bit DuckDB regardless (domain contract)
    assert(similarity("martha", "marhta") == 0.9611111111111111)
  }

  test("jaroWinklerPairs compares the per-block name vocabulary, not rows") {
    val d = Seq(
      (1L, "B1", "martha stone"), (2L, "B1", "marhta stone"),
      (3L, "B1", "martha stone"),                    // dup row: same vocab entry
      (4L, "B2", "martha stone"),                    // other block: never paired
      (5L, "B1", "zzz totally different")).toDF("k", "brand", "name")
    val out = FuzzyOps.jaroWinklerPairs(d, "name", "brand", threshold = 0.9)
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2)))
    assert(out.toSeq == Seq(("B1", "marhta stone", "martha stone")),
      s"expected exactly the within-block near-name pair once: ${out.mkString(",")}")
  }

  test("clusterAwareSplit never lets near-dup cluster members straddle splits") {
    // clusters {1,2,3} and {10,11}; 20 and 21 are singletons
    val clusters = Seq((1L, 1L), (2L, 1L), (3L, 1L), (10L, 10L), (11L, 10L))
      .toDF("id", "cluster")
    val d = Seq(1L, 2L, 3L, 10L, 11L, 20L, 21L).toDF("doc_id")
    val out = DedupOps.clusterAwareSplit(d, clusters)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
    // whole cluster shares its representative's split
    assert(Set(out(1L), out(2L), out(3L)).size == 1)
    assert(out(1L)._1 == 1L)
    assert(out(10L) == out(11L) && out(10L)._1 == 10L)
    // singletons represent themselves and use their own hash
    assert(out(20L)._1 == 20L && out(21L)._1 == 21L)
    // the nibble rule matches hashSplit's md5 mapping on the rep string
    val nib = java.security.MessageDigest.getInstance("MD5")
      .digest("20".getBytes("UTF-8")).map("%02x".format(_)).mkString.charAt(0)
    val expected = if (nib == 'c' || nib == 'd') "valid"
      else if (nib == 'e' || nib == 'f') "test" else "train"
    assert(out(20L)._2 == expected)
  }

  test("exact dedup groups identical content") {
    val withCopy = docs.union(docs.limit(1))
    val out = DedupOps.exact(withCopy).where(col("n_dupes") > 1).collect()
    assert(out.length == 1 && out.head.getAs[Long]("n_dupes") == 2L)
  }

  test("minhash-LSH finds every planted near-duplicate the exact query finds") {
    val exact = DedupOps.ngramJaccard(docs, threshold = 0.7)
      .select("ida", "idb").as[(Long, Long)].collect().toSet
    val lsh = DedupOps.minhashLsh(docs, threshold = 0.7)
      .select("ida", "idb").as[(Long, Long)].collect().toSet
    assert(exact.nonEmpty, "planted duplicates must be found by the exact query")
    assert(exact == lsh)
  }

  test("simhash chunk-blocked near-dup equals the exact Jaccard pair set (full chunk recall)") {
    val exact = DedupOps.ngramJaccard(docs, n = 3, threshold = 0.5)
      .select("ida", "idb").as[(Long, Long)].collect().toSet
    val sh = DedupOps.simhashNearDup(docs, n = 3, threshold = 0.5, chunks = 8)
      .select("ida", "idb").as[(Long, Long)].collect().toSet
    assert(exact.nonEmpty, "planted duplicates must be found by the exact query")
    assert(sh == exact, s"chunk candidates missed true pairs: ${exact diff sh}")
  }

  test("containment flags a partial copy that symmetric Jaccard misses") {
    // short doc = a 12-token span lifted verbatim from the long doc: its
    // shingle set is fully contained (containment 1.0) but tiny relative to
    // the union (Jaccard << 0.5)
    val long = (0 until 80).map(i => s"w$i").mkString(" ")
    val short = (30 until 42).map(i => s"w$i").mkString(" ")
    val pc = Seq((1L, long), (2L, short), (3L, "completely different text entirely")).toDF("doc_id", "text")
    val cont = DedupOps.containment(pc, n = 4, threshold = 0.8)
      .select("ida", "idb").as[(Long, Long)].collect().toSet
    assert(cont == Set((1L, 2L)))
    val jac = DedupOps.ngramJaccard(pc, n = 4, threshold = 0.5)
      .select("ida", "idb").as[(Long, Long)].collect().toSet
    assert(jac.isEmpty, "the partial copy must be invisible to symmetric Jaccard at 0.5")
  }

  test("winnow keeps a subset of gram hashes and guarantees shared-run detection") {
    val k = 4; val w = 5
    val shared = (100 until 120).map(i => s"s$i").mkString(" ") // 20-token run ≥ w+k-1
    val a = ((0 until 40).map(i => s"a$i") :+ shared).mkString(" ")
    val b = (shared +: (0 until 40).map(i => s"b$i")).mkString(" ")
    val df = Seq((1L, a), (2L, b)).toDF("doc_id", "text")
    val fps = TextOps.winnow(df, k, w).as[(Long, String)].collect()
    // every fingerprint is the md5 of one of the doc's k-grams
    val gramHashes = df.as[(Long, String)].collect().map { case (id, t) =>
      val toks = t.split(" ")
      id -> toks.sliding(k).map { g =>
        java.security.MessageDigest.getInstance("MD5")
          .digest(g.mkString(" ").getBytes("UTF-8"))
          .map("%02x".format(_)).mkString
      }.toSet
    }.toMap
    fps.foreach { case (id, fp) => assert(gramHashes(id).contains(fp)) }
    // winnowing samples: strictly fewer fingerprints than grams
    val byDoc = fps.groupBy(_._1).view.mapValues(_.length)
    byDoc.foreach { case (id, n) => assert(n < gramHashes(id).size) }
    // the ≥ w+k-1-token shared run must yield at least one shared fingerprint
    val fpsA = fps.collect { case (1L, fp) => fp }.toSet
    val fpsB = fps.collect { case (2L, fp) => fp }.toSet
    assert((fpsA intersect fpsB).nonEmpty, "shared 20-token run lost by winnowing")
  }

  test("incrementalContainment flags a batch doc embedding a corpus doc") {
    val corpusDoc = (0 until 15).map(i => s"c$i").mkString(" ")
    val existing = Seq((10L, corpusDoc), (11L, "some old unrelated corpus content here")).toDF("doc_id", "text")
    val incoming = Seq(
      // new doc wholesale-includes corpus doc 10: containment ≈ 1, Jaccard low
      (20L, ((0 until 40).map(i => s"n$i") :+ corpusDoc).mkString(" ")),
      (21L, (0 until 30).map(i => s"m$i").mkString(" "))).toDF("doc_id", "text")
    val cont = DedupOps.incrementalContainment(existing, incoming, n = 4, threshold = 0.8)
      .select("new_id", "old_id").as[(Long, Long)].collect().toSet
    assert(cont == Set((20L, 10L)))
    val jac = DedupOps.incrementalNearDup(existing, incoming, n = 4, threshold = 0.5)
      .select("new_id", "old_id").as[(Long, Long)].collect().toSet
    assert(jac.isEmpty, "the embedded copy must be invisible to incremental Jaccard at 0.5")
  }

  test("winnowPairs pairs span-sharing docs and skips unrelated ones") {
    val shared = (200 until 220).map(i => s"t$i").mkString(" ")
    val df = Seq(
      (1L, ((0 until 30).map(i => s"x$i") :+ shared).mkString(" ")),
      (2L, (shared +: (0 until 30).map(i => s"y$i")).mkString(" ")),
      (3L, (0 until 60).map(i => s"z$i").mkString(" "))).toDF("doc_id", "text")
    val pairs = DedupOps.winnowPairs(df, k = 4, w = 5, minShared = 1)
      .select("ida", "idb").as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L)))
  }

  test("simhashNearDup rejects explosive probe configurations") {
    // width 32 with 2-bit probes = 529 index rows per (doc, chunk) — the
    // guard must reject it before any plan is built
    intercept[IllegalArgumentException] {
      DedupOps.simhashNearDup(docs, chunks = 2, probeBits = 2)
    }
    // width 64 with 2-bit probes = 2081 rows per doc — worse still
    intercept[IllegalArgumentException] {
      DedupOps.simhashNearDup(docs, chunks = 1, probeBits = 2)
    }
  }

  test("graded ngram-Jaccard corpora stay below the df-cap (oracles compute uncapped Jaccard)") {
    // q_text_dedup_near / q_dedup_clusters / q_dedup_drop / q_dedup_keep_best
    // / q_containment_dedup run on the n=4 shingle index with the default
    // maxDf = 100, but their DuckDB oracles compute the UNCAPPED measure —
    // the two agree only while no shingle's document frequency reaches the
    // cap. Pin that precondition at the graded scale factors so a corpus
    // change fails here, not in the correctness gate. (q_winnow_pairs is
    // covered by the same bound: a winnow fingerprint's posting list is a
    // subset of its gram's posting list, so fingerprint df ≤ shingle df.)
    for (sf <- Seq("sf0.001", "sf0.01")) {
      val d = graft.Tables(spark, s"/root/testdata/$sf").documents
      val maxDf = d
        .select(col("doc_id").as("id"), TextFunctions.tokens(col("text")).as("toks"))
        .where(size(col("toks")) >= 4)
        .select(col("id"), col("toks"),
          explode(sequence(lit(0), size(col("toks")) - 4)).as("i"))
        .select(col("id"),
          xxhash64(concat_ws(" ", slice(col("toks"), col("i") + 1, lit(4)))).as("s"))
        .distinct()
        .groupBy("s").count()
        .agg(max("count")).as[Long].head()
      assert(maxDf <= 100,
        s"$sf: hottest 4-gram shingle df $maxDf reaches the maxDf=100 cap — " +
          "the capped score would diverge from the uncapped oracle")
      // q_winnow_pairs' own bound, pinned DIRECTLY rather than via the
      // fp-df ≤ shingle-df subset argument: that argument couples winnow's
      // k to the 4-gram bound above and would silently lapse if the query's
      // k ever diverged from 4 — measuring the winnow index itself keeps
      // the pin valid under any parameter change.
      val maxFpDf = TextOps.winnow(d, k = 4, w = 5)
        .groupBy("fp").count().agg(max("count")).as[Long].head()
      assert(maxFpDf <= 100,
        s"$sf: hottest winnow fingerprint df $maxFpDf reaches the maxDf=100 " +
          "cap — q_winnow_pairs' capped postings would diverge from its uncapped oracle")
    }
  }

  test("ngramJaccard df-cap drops stop-shingles from the join (score becomes a lower bound)") {
    // every doc shares one boilerplate 3-gram; two docs are otherwise identical
    val boiler = "end of document"
    val d = (0 until 10).map(i => (i.toLong, s"unique$i token$i word$i $boiler")) :+
      (100L, s"unique0 token0 word0 $boiler")
    val df = d.toDF("doc_id", "text")
    // uncapped: the boilerplate shingle alone links every doc pair
    val loose = DedupOps.ngramJaccard(df, n = 3, threshold = 0.01, maxDf = 1000)
    assert(loose.count() > 1)
    // capped at 5: only the true duplicate pair (sharing non-boilerplate
    // shingles too) survives; the universal shingle never enters the join
    val capped = DedupOps.ngramJaccard(df, n = 3, threshold = 0.01, maxDf = 5)
      .select("ida", "idb").as[(Long, Long)].collect().toSet
    assert(capped == Set((0L, 100L)), s"got $capped")
  }

  test("blocked exact embedding near-dup equals the plain all-pairs reference") {
    val rnd = new scala.util.Random(3)
    val vecs = (0 until 60).map(i => (i.toLong, Array.fill(8)(rnd.nextFloat() * 2 - 1)))
    val emb = vecs.toDF("vec_id", "embedding")
    def cos(a: Array[Float], b: Array[Float]): Double = {
      val ad = a.map(_.toDouble); val bd = b.map(_.toDouble)
      val d = ad.zip(bd).map { case (x, y) => x * y }.sum
      d / (math.sqrt(ad.map(x => x * x).sum) * math.sqrt(bd.map(x => x * x).sum))
    }
    val expected = (for {
      (ia, va) <- vecs; (ib, vb) <- vecs if ia < ib
      s = cos(va, vb) if s >= 0.5
    } yield (ia, ib)).toSet
    val got = SimilarityOps.nearDupPairs(emb, threshold = 0.5, nBlocks = 7)
      .select("ida", "idb").as[(Long, Long)].collect().toSet
    assert(got == expected, s"diff: ${(got diff expected) ++ (expected diff got)}")
  }

  test("LSH near-dup at a genuine near-dup threshold has full recall on planted duplicates") {
    val rnd = new scala.util.Random(13)
    val base = (0 until 80).map(i => (i.toLong, Array.fill(16)(rnd.nextFloat() * 2 - 1)))
    // planted near-dups: tiny perturbations of the first 10 vectors (cos ≈ 0.999)
    val dups = (0 until 10).map { i =>
      val (id, v) = base(i)
      (1000L + id, v.map(x => x + rnd.nextFloat() * 0.02f))
    }
    val emb = (base ++ dups).toDF("vec_id", "embedding")
    val exact = SimilarityOps.nearDupPairs(emb, threshold = 0.95)
      .select("ida", "idb").as[(Long, Long)].collect().toSet
    assert(exact.size >= 10, s"planted pairs missing from exact: $exact")
    val lsh = SimilarityOps.nearDupPairsLsh(emb, threshold = 0.95)
      .select("ida", "idb").as[(Long, Long)].collect().toSet
    assert(lsh == exact, s"LSH missed: ${exact diff lsh}")
  }

  test("semantic dedup finds planted same-cluster duplicates and never emits cross-cell pairs") {
    val rnd = new scala.util.Random(29)
    // 4 well-separated cluster centers; 15 members each + 5 planted near-dups
    val centers = Array.fill(4)(Array.fill(16)(rnd.nextFloat() * 10 - 5))
    val base = (0 until 60).map { i =>
      val c = centers(i % 4)
      (i.toLong, c.map(x => x + rnd.nextFloat() * 0.3f))
    }
    val dups = (0 until 5).map { i =>
      val (id, v) = base(i)
      (1000L + id, v.map(x => x + rnd.nextFloat() * 0.01f))
    }
    val emb = (base ++ dups).toDF("vec_id", "embedding")
    val out = SimilarityOps.semanticDedup(emb, nCentroids = 4, threshold = 0.999).collect()
    // every planted pair survives: duplicates are near-identical, so they
    // share a cell under any sane quantizer and sit far above the threshold
    val pairs = out.map(r => (r.getLong(1), r.getLong(2))).toSet
    (0 until 5).foreach { i =>
      assert(pairs.contains((i.toLong, 1000L + i)), s"planted pair $i missing: $pairs")
    }
    // the pair set is exactly the within-cell restriction of the exact
    // all-pairs answer (cells from the same fitted quantizer)
    val exact = SimilarityOps.nearDupPairs(emb, threshold = 0.999)
      .select("ida", "idb").as[(Long, Long)].collect().toSet
    assert(pairs.subsetOf(exact), s"semanticDedup invented pairs: ${pairs diff exact}")
  }

  test("protoPrune keeps per-cell outliers ahead of cluster cores and honors the keep fraction") {
    val rnd = new scala.util.Random(37)
    // 2 tight clusters of 10 around well-separated centers, plus one
    // planted outlier per cluster (same cell, large angular offset)
    val centers = Array(Array.fill(16)(5.0f), Array.fill(16)(-5.0f))
    val tight = (0 until 20).map { i =>
      val c = centers(i % 2)
      (i.toLong, c.map(x => x + rnd.nextFloat() * 0.1f))
    }
    val outliers = Seq(
      (100L, centers(0).zipWithIndex.map { case (x, j) => if (j < 8) x else 0.2f }),
      (101L, centers(1).zipWithIndex.map { case (x, j) => if (j < 8) x else 0.2f }))
    val emb = (tight ++ outliers).toDF("vec_id", "embedding")
    val kept = SimilarityOps.protoPrune(emb, keepFrac = 0.3, nCentroids = 2).collect()
    val byCell = kept.groupBy(_.getInt(0))
    // ceil(11 * 0.3) = 4 kept per 11-member cell
    byCell.foreach { case (cell, rows) =>
      assert(rows.length == 4, s"cell $cell kept ${rows.length}, expected 4")
    }
    // the planted outliers are the least prototypical → rank 1 in their cells
    val rank1 = kept.filter(_.getLong(3) == 1L).map(_.getLong(1)).toSet
    assert(rank1 == Set(100L, 101L), s"outliers not ranked hardest: $rank1")
  }

  test("incremental semantic dedup finds planted batch-vs-corpus duplicates through the cell index") {
    val rnd = new scala.util.Random(31)
    val centers = Array.fill(4)(Array.fill(16)(rnd.nextFloat() * 10 - 5))
    val existing = (0 until 60).map { i =>
      val c = centers(i % 4)
      (i.toLong, c.map(x => x + rnd.nextFloat() * 0.3f))
    }
    // incoming batch: near-copies of corpus members + genuinely new vectors
    val incoming = (0 until 5).map { i =>
      val (id, v) = existing(i)
      (2000L + id, v.map(x => x + rnd.nextFloat() * 0.01f))
    } ++ (0 until 5).map(i => (3000L + i, Array.fill(16)(rnd.nextFloat() * 10 - 5)))
    val out = SimilarityOps.incrementalSemanticDedup(
        existing.toDF("vec_id", "embedding"), incoming.toDF("vec_id", "embedding"),
        nCentroids = 4, threshold = 0.999)
      .select("new_id", "old_id").as[(Long, Long)].collect().toSet
    (0 until 5).foreach { i =>
      assert(out.contains((2000L + i, i.toLong)), s"planted copy $i not matched: $out")
    }
    // the corpus side never pairs with itself — only batch×corpus rows
    assert(out.forall(_._1 >= 2000L), s"corpus-internal pair leaked: $out")
  }

  test("banded lshTopK with enough cheap bands equals brute force exactly") {
    val rnd = new scala.util.Random(17)
    val emb = (0 until 120).map(i => (i.toLong, Array.fill(16)(rnd.nextFloat() * 2 - 1)))
      .toDF("vec_id", "embedding")
    val queries = emb.where(col("vec_id") < 5)
    val bf = SimilarityOps.bruteForceTopK(emb, queries, k = 5)
      .select("query_id", "neighbor_id", "rank").as[(Long, Long, Long)].collect().toSet
    val lsh = SimilarityOps.lshTopK(emb, queries, k = 5, nPlanes = 2, bands = 40)
      .select("query_id", "neighbor_id", "rank").as[(Long, Long, Long)].collect().toSet
    assert(lsh == bf, s"banded LSH diverged from brute force: ${(bf diff lsh) ++ (lsh diff bf)}")
  }

  test("adcRerankTopK with a full-corpus shortlist equals brute force bitwise") {
    val rnd = new scala.util.Random(23)
    val emb = (0 until 64).map(i => (i.toLong, Array.fill(64)(rnd.nextFloat() * 2 - 1)))
      .toDF("vec_id", "embedding")
    val queries = emb.where(col("vec_id") < 4)
    val books = SimilarityOps.pqFitBooks(emb, nSub = 4, nCentroids = 8)
    val bf = SimilarityOps.bruteForceTopK(emb, queries, k = 5).collect().toSet
    // shortlist = whole corpus → the ADC stage prunes nothing and the exact
    // re-rank must reproduce brute force bit-for-bit (same cosine exprs)
    val rr = SimilarityOps.adcRerankTopK(emb, queries, books, shortlist = 63, k = 5)
      .collect().toSet
    assert(rr == bf, s"full-shortlist re-rank diverged: ${(bf diff rr) ++ (rr diff bf)}")
    // a genuinely partial shortlist still returns k exact-scored rows per query
    val part = SimilarityOps.adcRerankTopK(emb, queries, books, shortlist = 10, k = 5)
      .collect()
    assert(part.length == 4 * 5)
    intercept[IllegalArgumentException] {
      SimilarityOps.adcRerankTopK(emb, queries, books, shortlist = 3, k = 5)
    }
  }

  test("recallAtK counts exact-top-k survivors, including zero-overlap queries") {
    val exact = Seq((1L, 10L), (1L, 11L), (2L, 20L), (2L, 21L))
      .toDF("query_id", "neighbor_id")
    val approx = Seq((1L, 10L), (1L, 99L), (2L, 98L), (2L, 97L))
      .toDF("query_id", "neighbor_id")
    val out = SimilarityOps.recallAtK(approx, exact, k = 2)
      .orderBy("query_id").as[(Long, Long, Double)].collect().toSeq
    assert(out == Seq((1L, 1L, 0.5), (2L, 0L, 0.0)))
    // an index identical to the exact ranking scores recall 1.0 everywhere
    val perfect = SimilarityOps.recallAtK(exact, exact, k = 2)
      .as[(Long, Long, Double)].collect().toSet
    assert(perfect == Set((1L, 2L, 1.0), (2L, 2L, 1.0)))
  }

  test("recallAtK is robust to malformed inputs: duplicate rows cannot inflate recall") {
    val exact = Seq((1L, 10L), (1L, 11L)).toDF("query_id", "neighbor_id")
    // duplicated hit rows + a query absent from exact: without the internal
    // distinct the dup would double-count (recall 1.5 > 1) and query 9
    // would silently vanish from neither side (it has no exact row, so it
    // is correctly absent — the contract is recall OF the exact set)
    val approx = Seq((1L, 10L), (1L, 10L), (1L, 10L), (9L, 90L))
      .toDF("query_id", "neighbor_id")
    val out = SimilarityOps.recallAtK(approx, exact, k = 2)
      .as[(Long, Long, Double)].collect().toSeq
    assert(out == Seq((1L, 1L, 0.5)))
    // duplicate EXACT rows must not double the denominator's numerator either
    val dupExact = Seq((1L, 10L), (1L, 10L), (1L, 11L)).toDF("query_id", "neighbor_id")
    val out2 = SimilarityOps.recallAtK(approx, dupExact, k = 2)
      .as[(Long, Long, Double)].collect().toSeq
    assert(out2 == Seq((1L, 1L, 0.5)))
  }

  test("fitIvfPq equals the separate fits bitwise; ivfPqTopKWith equals ivfPqTopK") {
    val rnd = new scala.util.Random(37)
    val emb = (0 until 64).map(i => (i.toLong, Array.fill(64)(rnd.nextFloat() * 2 - 1)))
      .toDF("vec_id", "embedding")
    // asymmetric sizes exercise the shared-sample prefix contract
    val (cFit, bFit) = SimilarityOps.fitIvfPq(emb, nCentroids = 8, nSub = 4,
      nPqCentroids = 4, kmeansIters = 2)
    val cSep = SimilarityOps.fitCoarseQuantizer(
      SimilarityOps.prepared(emb), nCentroids = 8, kmeansIters = 2)
    val bSep = SimilarityOps.pqFitBooks(emb, nSub = 4, nCentroids = 4, kmeansIters = 2)
    assert(cFit.toSeq == cSep.toSeq, "coarse quantizer diverged from standalone fit")
    assert(bFit.map(_.toSeq).toSeq == bSep.map(_.toSeq).toSeq,
      "PQ books diverged from standalone fit")
    // ivfPqTopK fits with its fixed Lloyd step count, the fit's default
    val queries = emb.where(col("vec_id") < 4)
    val (c0, b0) = SimilarityOps.fitIvfPq(emb, nCentroids = 8, nSub = 4, nPqCentroids = 4)
    val viaWith = SimilarityOps.ivfPqTopKWith(emb, queries, k = 3, c0, b0, nProbe = 3)
      .collect().toSet
    val direct = SimilarityOps.ivfPqTopK(emb, queries, k = 3, nCentroids = 8,
      nProbe = 3, nSub = 4, nPqCentroids = 4).collect().toSet
    assert(viaWith == direct, "fit-once search diverged from fit-per-call search")
  }

  test("rrfFuse sums 1/(k+rank) across rankers; absent docs get single-ranker scores") {
    val a = Seq((1L, 1L), (2L, 2L), (3L, 3L)).toDF("doc_id", "rank")
    val b = Seq((2L, 1L), (1L, 2L), (9L, 3L)).toDF("doc_id", "rank")
    val out = TextOps.rrfFuse(Seq(a, b), kRrf = 60, topN = 10)
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getLong(2))).toMap
    def rrf(rs: Seq[Long]): Double =
      math.rint(rs.map(r => 1.0 / (60 + r)).sum * 1e6) / 1e6
    assert(out(1L) == (rrf(Seq(1L, 2L)), 2L))
    assert(out(2L) == (rrf(Seq(2L, 1L)), 2L))
    assert(out(3L) == (rrf(Seq(3L)), 1L))   // only ranker a
    assert(out(9L) == (rrf(Seq(3L)), 1L))   // only ranker b
    // doc 1 and 2 tie by construction (1/61+1/62 both ways)
    assert(out(1L)._1 == out(2L)._1)
  }

  test("unigramLogProb matches a hand-computed corpus distribution") {
    // corpus: "a a b" + "b c" → counts a:2 b:2 c:1, total 5
    val d = Seq((1L, "a a b"), (2L, "b c")).toDF("doc_id", "text")
    val out = TextOps.unigramLogProb(d)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    def lp(counts: Seq[Long]): Double =
      math.rint(counts.map(c => math.log(c / 5.0)).sum / counts.size * 1e6) / 1e6
    assert(out(1L) == (3L, lp(Seq(2L, 2L, 2L))))   // a, a, b
    assert(out(2L) == (2L, lp(Seq(2L, 1L))))       // b, c
  }

  test("bigramLogProb matches a hand-computed add-one-smoothed model") {
    // corpus: "a b a b" + "a b c" → bigrams (a,b)×3, (b,a)×1, (b,c)×1
    // prefix counts a:3 b:2; vocabulary V = 3
    val d = Seq((1L, "a b a b"), (2L, "a b c")).toDF("doc_id", "text")
    val out = TextOps.bigramLogProb(d)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    def r6(x: Double): Double = math.rint(x * 1e6) / 1e6
    val ab = math.log((3 + 1) / (3.0 + 3)) // P(b|a) = 4/6
    val ba = math.log((1 + 1) / (2.0 + 3)) // P(a|b) = 2/5
    val bc = math.log((1 + 1) / (2.0 + 3)) // P(c|b) = 2/5
    assert(out(1L) == (3L, r6((ab + ba + ab) / 3)))
    assert(out(2L) == (2L, r6((ab + bc) / 2)))
  }

  test("linear quality classifier matches a hand-computed hashed-bag score") {
    val nF = 64
    val w = TextOps.classifierWeights(nF)
    // reference scorer: same md5-bucket hash, plain Scala
    def feat(tok: String): Int = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(tok.getBytes("UTF-8")).take(4).map("%02x".format(_)).mkString
      (java.lang.Long.parseLong(hex, 16) % nF).toInt
    }
    val docs = Seq((1L, "alpha beta gamma"), (2L, "alpha alpha"), (3L, "zeta"))
    val expected = docs.map { case (id, text) =>
      val toks = text.split(" ")
      id -> BigDecimal(toks.map(t => w(feat(t))).sum / toks.length)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }.toMap
    val got = TextOps.linearQualityScore(docs.toDF("doc_id", "text"), nFeatures = nF)
      .select("doc_id", "score").as[(Long, Double)].collect().toMap
    docs.foreach { case (id, _) =>
      assert(math.abs(got(id) - expected(id)) < 1e-9, s"doc $id: ${got(id)} vs ${expected(id)}")
    }
  }

  test("rolling hash is order-sensitive; md5 fingerprint is whitespace-robust") {
    val d = Seq((1L, "a b c"), (2L, "c b a"), (3L, "a  b   c")).toDF("doc_id", "text")
    val fp = TextOps.fingerprints(d).collect().map(r =>
      r.getAs[Long]("doc_id") -> (r.getAs[String]("fp_md5"), r.getAs[Long]("fp_rolling"))).toMap
    assert(fp(1L)._2 != fp(2L)._2, "token order must change the rolling hash")
    assert(fp(1L)._1 == fp(3L)._1, "whitespace must not change the md5 fingerprint")
    assert(fp(1L)._2 == fp(3L)._2, "whitespace must not change the rolling hash")
  }

  test("shingles handle short texts without erroring (ANSI-safe)") {
    val d = Seq((1L, "only two")).toDF("doc_id", "text")
    val out = d.select(TextFunctions.shingles(TextFunctions.tokens(col("text")), 3).as("sh"))
      .collect().head.getSeq[String](0)
    assert(out.isEmpty)
  }

  test("LSH ANN returns a subset of brute-force candidates with bucket-limited recall") {
    val rnd = new scala.util.Random(11)
    val emb = (0 until 100).map(i =>
      (i.toLong, Array.fill(16)(rnd.nextFloat() * 2 - 1))).toDF("vec_id", "embedding")
    val queries = emb.where(col("vec_id") < 3)
    val bf = SimilarityOps.bruteForceTopK(emb, queries, k = 5).collect()
    assert(bf.length == 15) // 3 queries × k
    val lsh = SimilarityOps.lshTopK(emb, queries, k = 5, nPlanes = 4).collect()
    assert(lsh.nonEmpty && lsh.length <= 15)
    // every LSH result must carry the same sim the brute-force path computed
    val bfSims = bf.map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(3)).toMap
    lsh.foreach { r =>
      bfSims.get((r.getLong(0), r.getLong(1))).foreach(s => assert(s == r.getDouble(3)))
    }
  }

  test("ngramJaccard matches a plain-Scala reference on random corpora") {
    (1 to 5).foreach { seed =>
      val rnd = new scala.util.Random(seed)
      val vocab = Seq("a", "b", "c", "d", "e", "f")
      val corpus = (0 until 15).map(i =>
        (i.toLong, (0 until 8 + rnd.nextInt(12)).map(_ => vocab(rnd.nextInt(vocab.size))).mkString(" ")))
      // plain-Scala reference: distinct 3-gram sets, all-pairs jaccard
      def sh(s: String) = s.split(" ").sliding(3).filter(_.length == 3).map(_.mkString(" ")).toSet
      val expected = (for {
        (ia, ta) <- corpus; (ib, tb) <- corpus if ia < ib
        sa = sh(ta); sb = sh(tb) if sa.nonEmpty && sb.nonEmpty
        j = (sa intersect sb).size.toDouble / (sa union sb).size if j >= 0.3
      } yield (ia, ib, math.rint(j * 1e6) / 1e6)).toSet
      val got = DedupOps.ngramJaccard(corpus.toDF("doc_id", "text"), n = 3, threshold = 0.3)
        .withColumn("jaccard", round(col("jaccard"), 6))
        .as[(Long, Long, Double)].collect().toSet
      assert(got == expected, s"seed=$seed")
    }
  }

  test("TopKAggregator: bounded buffer, insert order invariance, tie-breaks") {
    val agg = new graft.functions.TopKAggregator(3)
    val xs = Seq((5.0, 9L), (1.0, 1L), (5.0, 2L), (7.0, 4L), (3.0, 3L), (7.0, 8L))
    // fold in two different split orders; merge must agree with a full fold
    val whole = xs.foldLeft(agg.zero)(agg.reduce)
    val merged = agg.merge(
      xs.take(2).foldLeft(agg.zero)(agg.reduce),
      xs.drop(2).foldLeft(agg.zero)(agg.reduce))
    val expected = Array((7.0, 4L), (7.0, 8L), (5.0, 2L)) // value desc, key asc ties
    assert(whole.toSeq == expected.toSeq)
    assert(merged.toSeq == expected.toSeq)
    assert(whole.length == 3) // never exceeds k
  }

  test("native vec_dot is bit-identical to the built-in fold") {
    import graft.functions.VectorFunctions
    val rnd = new scala.util.Random(3)
    val df = (0 until 50).map(i => (i.toLong, Array.fill(64)(rnd.nextFloat() * 2 - 1)))
      .toDF("vec_id", "embedding")
      .select(col("vec_id"), VectorFunctions.toDouble(col("embedding")).as("v"))
    val both = df.select(
      VectorFunctions.dot(col("v"), col("v")).as("native"),
      VectorFunctions.dotBuiltin(col("v"), col("v")).as("builtin"))
      .collect()
    both.foreach(r => assert(r.getDouble(0) == r.getDouble(1)))
  }

  test("native vec_lsh_bits is bit-identical to the built-in hyperplane formulation") {
    import graft.functions.VectorFunctions
    val rnd = new scala.util.Random(9)
    val df = (0 until 40).map(i => (i.toLong, Array.fill(17)(rnd.nextFloat() * 2 - 1)))
      .toDF("vec_id", "embedding")
      .select(col("vec_id"), VectorFunctions.toDouble(col("embedding")).as("v"))
    Seq(1, 8, 80).foreach { nPlanes =>
      val both = df.select(
        VectorFunctions.hyperplaneBits(col("v"), nPlanes).as("native"),
        VectorFunctions.hyperplaneBitsBuiltin(col("v"), nPlanes).as("builtin"))
        .collect()
      both.foreach(r =>
        assert(r.getSeq[Int](0) == r.getSeq[Int](1), s"nPlanes=$nPlanes"))
    }
  }

  test("native expressions reject wrong-typed SQL inputs at analysis time") {
    // without ExpectsInputTypes a call with array<int>/array<float> makes
    // UnsafeArrayData.getDouble/getLong silently misread memory — these
    // must be analysis errors, not wrong results
    val df = Seq((Array(1, 2, 3), Array(1.0f, 2.0f, 3.0f), Array(1.0, 2.0, 3.0)))
      .toDF("ai", "af", "ad")
    def rejects(c: org.apache.spark.sql.Column): Unit =
      intercept[org.apache.spark.sql.AnalysisException] { df.select(c).collect() }
    rejects(call_function("vec_dot", col("af"), col("af")))
    rejects(call_function("vec_dot", col("ai"), col("ad")))
    rejects(call_function("vec_lsh_bits", col("af"), lit(8)))
    rejects(call_function("vec_lsh_bits", col("ad"), lit(8L)))
    rejects(call_function("simhash64", col("ad")))
    rejects(call_function("sorted_intersect_count", col("ai"), col("ai")))
    rejects(call_function("nfc_normalize", col("ai")))
    // too few arguments: the registered builder must raise WRONG_NUM_ARGS,
    // not index past the argument list; too many must not be dropped silently
    val unary = Seq("simhash64", "poisson_w", "md5_u32", "nfc_normalize", "char_entropy")
    val binary = Seq("vec_dot", "vec_lsh_bits", "sorted_intersect_count", "ngram_hashes",
      "bloom_might_contain", "jaro_winkler", "keyword_matches", "keyword_any",
      "keyword_counts", "bpe_apply", "keyword_spans", "keyword_redact")
    val tooMany = Seq(call_function("vec_dot", col("ad"), col("ad"), col("ad")),
      call_function("simhash64", col("ad"), col("ad")))
    (unary.map(call_function(_)) ++ binary.map(call_function(_, col("ad"))) ++ tooMany).foreach { c =>
      val e = intercept[org.apache.spark.sql.AnalysisException] { df.select(c).collect() }
      assert(e.getCondition.startsWith("WRONG_NUM_ARGS"), s"$c: ${e.getMessage}")
    }
    // correctly-typed calls still resolve
    assert(df.select(call_function("vec_dot", col("ad"), col("ad"))).head().getDouble(0) == 14.0)
  }

  test("native char_entropy: hand values, code-point (not UTF-16) counting, empty/null") {
    val df = Seq(
      (1L, Some("aabb")),   // two symbols, equal mass → 1 bit
      (2L, Some("abcd")),   // four equal symbols → 2 bits
      (3L, Some("aaaa")),   // constant → 0
      (4L, Some("")),       // empty → 0 by convention
      (5L, Some("𝄞𝄞a")), // U+1D11E twice + 'a': 3 code points
      (6L, None: Option[String]))
      .toDF("id", "s")
    val out = df.select(col("id"), call_function("char_entropy", col("s")).as("h"))
      .orderBy("id").collect()
    assert(out(0).getDouble(1) == 1.0)
    assert(out(1).getDouble(1) == 2.0)
    assert(out(2).getDouble(1) == 0.0)
    assert(out(3).getDouble(1) == 0.0)
    // surrogate pairs count as ONE symbol: {2/3, 1/3} mix, not a 4-symbol mess
    val exp = -(2.0 / 3 * math.log(2.0 / 3) / math.log(2.0) +
      1.0 / 3 * math.log(1.0 / 3) / math.log(2.0))
    assert(math.abs(out(4).getDouble(1) - exp) < 1e-12)
    assert(out(5).isNullAt(1))
  }

  test("native nfc_normalize: UAX #15 composition, ASCII fast-path identity, null passthrough") {
    val df = Seq(
      (1L, Some("e\u0301cole")),        // combining acute -> precomposed e-acute
      (2L, Some("already ascii")),       // NFC fast path: byte-identical out
      (3L, Some("cafe\u0301 A\u030a")), // multiple sequences
      (4L, None: Option[String]))
      .toDF("id", "s")
    val out = df.select(col("id"), call_function("nfc_normalize", col("s")).as("n"))
      .orderBy("id").collect()
    assert(out(0).getString(1) == "\u00e9cole")
    assert(out(1).getString(1) == "already ascii")
    assert(out(2).getString(1) == "caf\u00e9 \u00c5")
    assert(out(3).isNullAt(1))
    // the normalized form is what makes exact dedup see through encodings:
    // both spellings of "ecole" hash identically post-normalization
    val both = Seq((1L, "\u00e9cole"), (2L, "e\u0301cole")).toDF("doc_id", "text")
      .withColumn("text", call_function("nfc_normalize", col("text")))
    val dedup = DedupOps.exact(both).collect()
    assert(dedup.length == 1 && dedup.head.getAs[Long]("n_dupes") == 2L,
      "NFC-normalized spellings must collapse to one exact-dedup group")
  }

  test("hard negatives exclude the query's own label and rank by similarity") {
    val rnd = new scala.util.Random(13)
    val emb = (0 until 100).map { i =>
      (i.toLong, Array.fill(16)(rnd.nextFloat() * 2 - 1), i % 3)
    }.toDF("vec_id", "embedding", "label")
    val queries = emb.where(col("vec_id") < 3)
    val out = SimilarityOps.hardNegatives(emb, queries, k = 5)
      .select("query_id", "neighbor_id", "neg_label", "rank")
      .as[(Long, Long, Int, Long)].collect()
    assert(out.length == 15)
    out.foreach { case (q, n, lbl, _) =>
      assert(lbl == (n % 3).toInt, s"label column wrong for ($q,$n)")
      assert((q % 3) != (n % 3), s"same-label pair ($q,$n) leaked through")
    }
    // the mined negatives are exactly brute-force top-k restricted to
    // different-label corpus vectors
    val bf = SimilarityOps.bruteForceTopK(emb, queries, k = 99)
      .select("query_id", "neighbor_id", "rank").as[(Long, Long, Long)].collect()
    val expected = bf.groupBy(_._1).toSeq.flatMap { case (q, rows) =>
      rows.sortBy(_._3).map(_._2).filter(n => n % 3 != q % 3).take(5).toSeq.map(n => (q, n))
    }.toSet
    assert(out.map(r => (r._1, r._2)).toSet == expected)
  }

  test("IVF top-k recall against brute force on clustered vectors") {
    val rnd = new scala.util.Random(5)
    // 4 well-separated clusters so the coarse quantizer is meaningful
    val centers = Array.fill(4)(Array.fill(16)(rnd.nextFloat() * 10 - 5))
    val emb = (0 until 200).map { i =>
      val c = centers(i % 4)
      (i.toLong, c.map(x => x + rnd.nextFloat() * 0.5f))
    }.toDF("vec_id", "embedding")
    val queries = emb.where(col("vec_id") < 4)
    val bf = SimilarityOps.bruteForceTopK(emb, queries, k = 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val ivf = SimilarityOps.ivfTopK(emb, queries, k = 5, nCentroids = 8, nProbe = 3)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (bf intersect ivf).size.toDouble / bf.size
    assert(recall >= 0.8, s"IVF recall too low: $recall (bf=$bf ivf=$ivf)")
  }

  test("native simhash64 is bit-identical to the explode+aggregate formulation") {
    import graft.functions.TextFunctions.tokens
    // the original 65-column aggregate shape, kept here as the reference
    val ex = docs
      .select(col("doc_id").as("id"), explode(tokens(col("text"))).as("t"))
      .withColumn("h", xxhash64(col("t")))
    val bitSums = (0 until 64).map(b =>
      sum(shiftright(col("h"), b).bitwiseAND(1)).as(s"b$b")) :+ count(lit(1)).as("n")
    val packed = (0 until 64).foldLeft(lit(0L)) { (acc, b) =>
      shiftleft(acc, 1).bitwiseOR(when(col(s"b$b") * 2 >= col("n"), 1L).otherwise(0L))
    }
    val ref = ex.groupBy("id").agg(bitSums.head, bitSums.tail: _*)
      .select(col("id"), packed.as("ref"))
    val mismatches = docs
      .select(col("doc_id").as("id"),
        call_function("simhash64", transform(tokens(col("text")), t => xxhash64(t))).as("simhash"))
      .join(ref, Seq("id"))
      .where(col("simhash") =!= col("ref")).count()
    assert(mismatches == 0)
  }

  test("native ngram_hashes: sorted distinct window hashes, faithful to string n-grams") {
    import graft.functions.TextFunctions.{shingles, tokens}
    val df = docs.select(col("doc_id").as("id"), tokens(col("text")).as("toks"))
      .withColumn("sh", call_function("ngram_hashes", col("toks"), lit(3)))
    // size == distinct string 3-gram count (hash is injective on this corpus)
    val sizeMismatch = df
      .where(size(col("sh")) =!= size(shingles(col("toks"), 3))).count()
    assert(sizeMismatch == 0)
    // strictly ascending (sorted AND deduplicated)
    val unsorted = df.where(exists(
      zip_with(col("sh"), slice(col("sh"), lit(2), size(col("sh"))), (a, b) => b <= a),
      x => x)).count()
    assert(unsorted == 0)
    // pairwise intersect counts equal string-shingle intersect counts, so
    // Jaccard over hashed sets == Jaccard over string sets (the verify
    // step's correctness contract)
    val pairs = df.as("a").join(df.as("b"), col("a.id") < col("b.id")).limit(2000)
      .where(call_function("sorted_intersect_count", col("a.sh"), col("b.sh")) =!=
        size(array_intersect(shingles(col("a.toks"), 3), shingles(col("b.toks"), 3))).cast("long"))
    assert(pairs.count() == 0)
    // shorter than n -> empty, not null
    val short = Seq((1L, "a b")).toDF("id", "text")
      .select(call_function("ngram_hashes", tokens(col("text")), lit(3)).as("sh"))
    assert(short.head().getSeq[Long](0).isEmpty)
  }

  test("native sorted_intersect_count equals size(array_intersect) on sorted sets") {
    val rnd = new scala.util.Random(3)
    val rows = (0 until 200).map { i =>
      (i.toLong,
        rnd.shuffle((0 until 40).map(_ => rnd.nextInt(60).toLong)).distinct.sorted.toArray,
        rnd.shuffle((0 until 40).map(_ => rnd.nextInt(60).toLong)).distinct.sorted.toArray)
    }.toDF("id", "a", "b")
    val bad = rows.where(
      call_function("sorted_intersect_count", col("a"), col("b")) =!=
        size(array_intersect(col("a"), col("b"))).cast("long")).count()
    assert(bad == 0)
  }

  test("PQ codes: valid code words, and a Lloyd-fitted codebook never increases distortion") {
    val rnd = new scala.util.Random(11)
    val emb = (0 until 200).map { i =>
      (i.toLong, Array.fill(32)(rnd.nextFloat() * 2 - 1))
    }.toDF("vec_id", "embedding")
    val init = SimilarityOps.pqCodes(emb, nSub = 4, nCentroids = 8, kmeansIters = 0)
    val fit = SimilarityOps.pqCodes(emb, nSub = 4, nCentroids = 8, kmeansIters = 2)
    val codes = init.select("codes").as[String].collect()
    assert(codes.forall(_.split(",").map(_.toInt).forall(c => c >= 0 && c < 8)))
    assert(codes.forall(_.split(",").length == 4))
    val d0 = init.agg(avg("recon_err")).as[Double].head()
    val d2 = fit.agg(avg("recon_err")).as[Double].head()
    assert(d2 <= d0 + 1e-9, s"k-means fit increased distortion: $d0 -> $d2")
    // the fit should actually bite on random data, not just not-regress
    assert(d2 < d0 * 0.95, s"k-means fit did not reduce distortion: $d0 -> $d2")
  }

  test("ADC search over PQ codes equals reconstruction-space exact search") {
    val rnd = new scala.util.Random(5)
    val centers = Array.fill(4)(Array.fill(16)(rnd.nextFloat() * 10 - 5))
    val emb = (0 until 200).map { i =>
      val c = centers(i % 4)
      (i.toLong, c.map(x => x + rnd.nextFloat() * 0.5f))
    }.toDF("vec_id", "embedding")
    val queries = emb.where(col("vec_id") < 4)
    val books = SimilarityOps.pqFitBooks(emb, nSub = 4, nCentroids = 8, kmeansIters = 2)
    val codes = SimilarityOps.pqCodesWith(emb, books)
    val adc = SimilarityOps.adcTopK(codes, queries, books, k = 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet

    // What ADC promises is RECONSTRUCTION-space exactness (4×3-bit codes
    // blur within-cluster ordering in the ORIGINAL space, so original-space
    // recall@k is not a property of the algorithm — a real IVF-PQ pipeline
    // re-ranks survivors with full vectors). Replicate the scoring on the
    // driver with the same arithmetic — per-subspace index-order dots,
    // left-to-right subspace sum, (sim desc, id) tie-break — and demand
    // set equality. The fit is deterministic (exact decimal Lloyd means),
    // so this holds in any environment at any core count.
    val nSub = 4
    val sd = 4
    val codeMap = codes.select("vec_id", "codes").as[(Long, String)].collect()
      .map { case (id, cs) => id -> cs.split(",").map(_.toInt) }.toMap
    val vecs = emb.as[(Long, Array[Float])].collect()
      .map { case (id, v) => id -> v.map(_.toDouble).toSeq }.toMap
    def dot(a: Seq[Double], b: Seq[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }
      s
    }
    val expected = (0L until 4L).flatMap { q =>
      val qv = vecs(q)
      val qnrm = math.sqrt(dot(qv, qv))
      codeMap.keys.filter(_ != q).map { id =>
        val cs = codeMap(id)
        val num = (0 until nSub).map(s =>
          dot(qv.slice(s * sd, s * sd + sd), books(s)(cs(s)))).reduce(_ + _)
        val reconNorm = math.sqrt((0 until nSub).map(s =>
          dot(books(s)(cs(s)), books(s)(cs(s)))).reduce(_ + _))
        (num / (qnrm * reconNorm), id)
      }.toSeq.sortBy { case (sim, id) => (-sim, id) }.take(5).map { case (_, id) => (q, id) }
    }.toSet
    assert(adc == expected,
      s"ADC diverged from reconstruction-space exact search:\n spurious: ${adc diff expected}\n missing: ${expected diff adc}")
    // every ADC hit must come from the query's own cluster (i % 4 partition)
    adc.foreach { case (q, n) => assert(q % 4 == n % 4, s"cross-cluster hit ($q,$n)") }
  }

  test("IVF-PQ: full probe degenerates to ADC, partial probe stays in-cluster with high recall") {
    val rnd = new scala.util.Random(5)
    val centers = Array.fill(4)(Array.fill(16)(rnd.nextFloat() * 10 - 5))
    val emb = (0 until 200).map { i =>
      val c = centers(i % 4)
      (i.toLong, c.map(x => x + rnd.nextFloat() * 0.5f))
    }.toDF("vec_id", "embedding")
    val queries = emb.where(col("vec_id") < 4)
    val books = SimilarityOps.pqFitBooks(emb, nSub = 4, nCentroids = 8)
    val adc = SimilarityOps.adcTopK(
        SimilarityOps.pqCodesWith(emb, books), queries, books, k = 5)
      .select("query_id", "neighbor_id", "rank", "sim")
      .as[(Long, Long, Long, Double)].collect().toSet
    // probing every cell makes the candidate set the whole corpus, so the
    // composed search must equal the flat ADC scan bit-for-bit
    val full = SimilarityOps.ivfPqTopK(emb, queries, k = 5,
        nCentroids = 8, nProbe = 8, nSub = 4, nPqCentroids = 8)
      .select("query_id", "neighbor_id", "rank", "sim")
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(full == adc,
      s"full-probe IVF-PQ != ADC:\n spurious: ${full diff adc}\n missing: ${adc diff full}")
    // partial probe: the approximation the production path actually runs —
    // on well-separated clusters the probe keeps the query's own cell, so
    // recall vs the flat ADC scan stays high and hits stay in-cluster
    val part = SimilarityOps.ivfPqTopK(emb, queries, k = 5,
        nCentroids = 8, nProbe = 3, nSub = 4, nPqCentroids = 8)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val adcPairs = adc.map(r => (r._1, r._2))
    val recall = (adcPairs intersect part).size.toDouble / adcPairs.size
    assert(recall >= 0.8, s"IVF-PQ partial-probe recall too low: $recall")
    part.foreach { case (q, n) => assert(q % 4 == n % 4, s"cross-cluster hit ($q,$n)") }
  }

  test("triangle counts: K4 plus a pendant edge, each triangle counted once per member") {
    import graft.operators.GraphOps
    // K4 on {1,2,3,4}: every member sits in C(3,2) = 3 triangles; the
    // pendant 5—1 closes nothing
    val edges = Seq((1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4), (5, 1))
      .flatMap { case (a, b) => Seq((a.toLong, b.toLong), (b.toLong, a.toLong)) }
      .toDF("src", "dst")
    val out = GraphOps.triangleCounts(edges).as[(Long, Long)].collect().toMap
    assert(out == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L), out.toString)
  }

  test("IVF-PQ guards: probe budget bounded, codebook geometry must cover the quantizer dim") {
    val emb = (0 until 40).map(i => (i.toLong, Array.fill(16)(i.toFloat)))
      .toDF("vec_id", "embedding")
    intercept[IllegalArgumentException] {
      SimilarityOps.ivfPqTopK(emb, emb.limit(2), k = 3, nCentroids = 8, nProbe = 9)
    }
    val centroids = SimilarityOps.fitIvfPq(emb, nCentroids = 4)._1
    val wrongBooks = SimilarityOps.pqFitBooks(
      (0 until 40).map(i => (i.toLong, Array.fill(32)(i.toFloat))).toDF("vec_id", "embedding"),
      nSub = 4, nCentroids = 4)
    intercept[IllegalArgumentException] {
      SimilarityOps.ivfPqCode(emb, centroids, wrongBooks)
    }
  }

  test("PSI: identical samples score ~0, a shifted sample scores above the 0.2 alarm") {
    import graft.operators.QualityOps
    val rnd = new scala.util.Random(23)
    val base = (0 until 4000).map(_ => rnd.nextDouble() * 100).toDF("value")
    val same = QualityOps.psi(base, base, "value", lo = 0.0, width = 10.0, nBins = 10)
      .agg(sum(col("psi_term"))).as[Double].head()
    assert(math.abs(same) < 1e-9, s"identical samples scored $same")
    // shift the distribution up by 30: mass moves across bins → large PSI
    val shifted = base.select((col("value") + 30.0).as("value"))
    val drift = QualityOps.psi(base, shifted, "value", lo = 0.0, width = 10.0, nBins = 10)
      .agg(sum(col("psi_term"))).as[Double].head()
    assert(drift > 0.2, s"shifted sample scored only $drift")
    // PSI is non-negative per construction of the sum (Σ (q−p)ln(q/p) ≥ 0)
    assert(drift >= 0 && same >= -1e-12)
  }

  test("triangle counts on a triangle-free graph are empty") {
    import graft.operators.GraphOps
    // a path and a 4-cycle: no triangles anywhere
    val edges = Seq((1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (12, 13), (13, 10))
      .flatMap { case (a, b) => Seq((a.toLong, b.toLong), (b.toLong, a.toLong)) }
      .toDF("src", "dst")
    assert(GraphOps.triangleCounts(edges).count() == 0)
  }

  test("triangle counts equal brute-force enumeration on random graphs") {
    import graft.operators.GraphOps
    val rnd = new scala.util.Random(13)
    for (_ <- 1 to 4) {
      val n = 10 + rnd.nextInt(6)
      val pairs = for {
        a <- 0 until n; b <- a + 1 until n if rnd.nextDouble() < 0.35
      } yield (a.toLong, b.toLong)
      val edgeSet = pairs.toSet
      val expected = collection.mutable.Map[Long, Long]().withDefaultValue(0L)
      for {
        a <- 0 until n; b <- a + 1 until n; c <- b + 1 until n
        if edgeSet((a.toLong, b.toLong)) && edgeSet((a.toLong, c.toLong)) &&
          edgeSet((b.toLong, c.toLong))
      } Seq(a, b, c).foreach(v => expected(v.toLong) += 1L)
      val edges = pairs.flatMap { case (a, b) => Seq((a, b), (b, a)) }.toDF("src", "dst")
      val got = GraphOps.triangleCounts(edges).as[(Long, Long)].collect().toMap
      assert(got == expected.toMap, s"graph $pairs:\n got $got\n want $expected")
    }
  }

  test("zorderValue interleaves bits (matches a plain-Scala Morton reference)") {
    def morton(x: Long, y: Long): Long =
      (0 until 16).map(i => (((x >> i) & 1L) << (2 * i)) | (((y >> i) & 1L) << (2 * i + 1))).sum
    val pts = Seq((0L, 0L), (1L, 0L), (0L, 1L), (3L, 5L), (65535L, 65535L), (12345L, 54321L))
    val got = pts.toDF("x", "y")
      .select(col("x"), col("y"), ScaleOps.zorderValue(col("x"), col("y")).as("z"))
      .as[(Long, Long, Long)].collect()
    got.foreach { case (x, y, z) => assert(z == morton(x, y), s"($x,$y)") }
    // locality: sorting by z groups the quadrants — the max z of the low
    // quadrant (x,y < 256) is below the min z of the high one (x,y >= 256)
    val lo = (0 until 100).map(_ => (rndLong(256), rndLong(256)))
    val hi = (0 until 100).map(_ => (256 + rndLong(256), 256 + rndLong(256)))
    assert(lo.map(p => morton(p._1, p._2)).max < hi.map(p => morton(p._1, p._2)).min)
  }
  private def rndLong(n: Int): Long = scala.util.Random.nextInt(n).toLong

  test("temperatureSample damps dominant groups toward √-proportional shares") {
    val docs = graft.Tables(spark, "/root/testdata/sf0.001").documents
    val before = docs.groupBy("lang").count().as[(String, Long)].collect().toMap
    val kept = PipelineOps.temperatureSample(docs, frac = 0.5)
      .groupBy("lang").count().as[(String, Long)].collect().toMap
    val total = before.values.sum
    val keptTotal = kept.values.sum
    // hash-threshold sampling hits the target in expectation
    assert(math.abs(keptTotal - total * 0.5) < total * 0.15,
      s"kept $keptTotal of $total, expected ~${total / 2}")
    // the dominant language is kept at a strictly lower RATE than the rarest
    val maxLang = before.maxBy(_._2)._1
    val minLang = before.minBy(_._2)._1
    val rate = (l: String) => kept.getOrElse(l, 0L).toDouble / before(l)
    assert(rate(maxLang) < rate(minLang),
      s"no damping: $maxLang rate ${rate(maxLang)} vs $minLang rate ${rate(minLang)}")
  }

  test("batch NDJSON file replay drops truncated lines like the live stream") {
    import graft.streaming.NomadPipeline
    val dir = java.nio.file.Files.createTempDirectory("ndjson-replay")
    val f = dir.resolve("stream_capture.txt")
    java.nio.file.Files.writeString(f,
      "\"FailedSibling\":\"\",\"Time\":123}\n" +           // truncated head, dropped
      "{}\n" +                                             // heartbeat
      "{\"Index\":7,\"Events\":[]}\n" +                    // data frame
      "{\"Index\":8,\"Events\":[]}{\"Index\":9}\n" +       // two values, dropped
      "{\"Index\":10,\"Events\":[]} x\n")                  // trailing text, dropped
    val frames = NomadPipeline.readNdjsonFiles(spark, f.toString)
    assert(frames.count() == 2)
    assert(NomadPipeline.heartbeats(frames).count() == 1)
  }

  test("container sniffing parses real magic bytes and PNG IHDR dimensions — no stub") {
    def bytes(xs: Int*): Array[Byte] = xs.map(_.toByte).toArray
    val png = bytes(0x89, 0x50, 0x4E, 0x47, 0x0D, 0x0A, 0x1A, 0x0A, // signature
      0x00, 0x00, 0x00, 0x0D) ++ "IHDR".getBytes ++
      bytes(0x00, 0x00, 0x01, 0x00) ++ // width 256
      bytes(0x00, 0x00, 0x00, 0xC0) ++ // height 192
      bytes(0x08, 0x06, 0x00, 0x00, 0x00)
    val jpeg = bytes(0xFF, 0xD8, 0xFF, 0xE0) ++ "....JFIF".getBytes
    val gif = "GIF89a".getBytes ++ bytes(0x10, 0x00, 0x10, 0x00)
    val wav = "RIFF".getBytes ++ bytes(0x24, 0x08, 0x00, 0x00) ++ "WAVEfmt ".getBytes
    val mp4 = bytes(0x00, 0x00, 0x00, 0x20) ++ "ftypisom".getBytes ++ bytes(0, 0, 0, 0)
    val txt = "just some text".getBytes
    val df = Seq((1L, png), (2L, jpeg), (3L, gif), (4L, wav), (5L, mp4), (6L, txt))
      .toDF("id", "blob")
    val out = MultimodalOps.sniffContainer(df, "blob", "id")
      .collect().map(r => r.getLong(0) ->
        (r.getString(1), Option(r.get(2)).map(_.asInstanceOf[Long]),
          Option(r.get(3)).map(_.asInstanceOf[Long]))).toMap
    assert(out(1L) == ("png", Some(256L), Some(192L)))
    assert(out(2L) == ("jpeg", None, None))
    assert(out(3L) == ("gif", None, None))
    assert(out(4L) == ("riff", None, None))
    assert(out(5L) == ("mp4", None, None))
    assert(out(6L) == ("unknown", None, None))
  }
}
