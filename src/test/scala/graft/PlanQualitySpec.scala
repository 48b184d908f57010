package graft

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.functions._

/** Physical-plan quality gates — the properties that matter at 100 TB,
  * asserted so a refactor can't silently regress them:
  * predicate pushdown and column pruning reaching the parquet scan,
  * dimension joins broadcasting, top-k avoiding a global sort, and the
  * operator chain staying inside whole-stage codegen.
  */
class PlanQualitySpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"
  private def t = Tables(spark, dir)

  private def executedPlan(name: String): SparkPlan = {
    val df = SparkEntry.queries(name)(spark, dir)
    df.queryExecution.executedPlan
  }

  private def planString(name: String): String = {
    val df = SparkEntry.queries(name)(spark, dir)
    df.queryExecution.explainString(org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
  }

  test("filter queries push predicates into the parquet scan") {
    val plan = planString("q_topic_filter")
    assert(plan.contains("PushedFilters: [IsNotNull(event_type), EqualTo(event_type,purchase)]"),
      s"predicate not pushed:\n$plan")
  }

  test("projections prune the scan schema to referenced columns") {
    val plan = planString("q_topic_filter")
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("props") && !readSchema.contains("ts"),
      s"scan reads unreferenced columns: $readSchema")
  }

  test("star join broadcasts the dimension side") {
    val plan = planString("q_join_orders_customer")
    assert(plan.contains("BroadcastHashJoin"), s"no broadcast join:\n$plan")
  }

  test("top-k compiles to TakeOrderedAndProject, not a global sort") {
    val plan = planString("q_topk_revenue")
    assert(plan.contains("TakeOrderedAndProject"), s"top-k plan:\n$plan")
  }

  test("scalar operator chain stays in one whole-stage codegen span") {
    // classification+formatting over events: no UDFs → fully codegen'd.
    // AQE reveals the final physical plan only after execution.
    val df = SparkEntry.queries("q_state_classify")(spark, dir)
    df.collect()
    // '*(n)' node prefixes mark whole-stage-codegen stages in toString
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("*("), s"not codegen'd:\n$plan")
  }

  test("aggregations use partial (map-side) aggregation") {
    val plan = executedPlan("q_pricing_summary").toString
    assert(plan.contains("HashAggregate"), s"no hash aggregate:\n$plan")
    // partial + final pair
    assert("HashAggregate".r.findAllIn(plan).size >= 2, s"no partial agg:\n$plan")
  }

  test("per-document curation ops are narrow: no shuffle in the plan") {
    // hashSplit and chunk are pure maps over the scan — an Exchange here
    // would mean an accidental repartition that costs a full shuffle at
    // 100 TB. (The q_* bindings add an oracle-mandated ORDER BY, so assert
    // on the operators themselves.)
    import graft.operators.PipelineOps
    Seq(
      "hashSplit" -> PipelineOps.hashSplit(t.documents),
      "chunk" -> PipelineOps.chunk(t.documents, size = 32, stride = 24)
    ).foreach { case (name, df) =>
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"$name shuffles:\n$plan")
    }
  }

  test("curation scans prune to the referenced columns") {
    val plan = planString("q_hash_split")
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("lang") && !readSchema.contains("source"),
      s"hashSplit reads unreferenced columns: $readSchema")
  }

  test("repetition stats partial-aggregate before both shuffles") {
    val plan = executedPlan("q_repetition_stats").toString
    assert("HashAggregate".r.findAllIn(plan).size >= 4,
      s"missing partial aggregation stage:\n$plan")
  }

  test("decontamination broadcasts the benchmark shingles (corpus never shuffles for the join)") {
    val plan = executedPlan("q_decontaminate").toString
    assert(plan.contains("BroadcastHashJoin"), s"benchmark not broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"corpus shuffled for the join:\n$plan")
  }

  test("class balancing broadcasts the scalar min-count, not a shuffle join") {
    val plan = executedPlan("q_balance_classes").toString
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastExchange"),
      s"min-count not broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"scalar joined via sort-merge:\n$plan")
  }

  test("resample+fill runs in 2 exchanges (agg + lag window), not grid-join-window") {
    import graft.operators.TimeSeriesOps
    val e = t.events.withColumn("ts_us", col("ts") - col("ts") % 1000)
    val df = TimeSeriesOps.resampleFill(e, "user_id", "ts_us", "value",
      bucketNs = 3600L * 1000L * 1000L * 1000L)
    val plan = df.queryExecution.executedPlan.toString
    val exchanges = "Exchange".r.findAllIn(plan).size
    assert(exchanges <= 2, s"resampleFill grew to $exchanges exchanges:\n$plan")
  }

  test("scd2 history builds off a single key exchange") {
    import graft.operators.PipelineOps
    val df = PipelineOps.scd2History(t.events, "user_id", "ts", "event_id", "event_type")
    val plan = df.queryExecution.executedPlan.toString
    val exchanges = "Exchange".r.findAllIn(plan).size
    // lag+running-sum islands, the island aggregation, and the valid_to
    // window all cluster on user_id — one hash exchange total
    assert(exchanges <= 1, s"scd2History grew to $exchanges exchanges:\n$plan")
  }

  test("rolling distinct actives partial-aggregates both shuffles, no window operator") {
    import graft.operators.TimeSeriesOps
    val df = TimeSeriesOps.rollingDistinctActives(t.events, "user_id", "ts")
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"sliding count-distinct via window:\n$plan")
    assert("HashAggregate".r.findAllIn(plan).size >= 4,
      s"missing partial aggregation stage:\n$plan")
  }

  test("tf-idf broadcasts the vocabulary df table (tf never reshuffles for it)") {
    val plan = executedPlan("q_tfidf").toString
    assert(plan.contains("BroadcastHashJoin"), s"df table not broadcast:\n$plan")
  }

  test("bm25 pushes the query-term filter into the parquet scan era and takes top-k without a global sort") {
    val plan = planString("q_bm25")
    assert(plan.contains("TakeOrderedAndProject"), s"bm25 global-sorts:\n$plan")
  }

  test("zscore's three frame aggregates share one Window operator and one exchange") {
    import graft.operators.TimeSeriesOps
    val df = TimeSeriesOps.zscoreAnomalies(t.events, "event_type", "ts", "event_id", "value")
    val plan = df.queryExecution.executedPlan.toString
    assert("Window".r.findAllIn(plan).size <= 1, s"window split:\n$plan")
    assert("Exchange".r.findAllIn(plan).size <= 1, s"extra exchange:\n$plan")
  }

  test("frame sampling is a narrow generator: no shuffle, binary column pruned to referenced") {
    import graft.operators.MultimodalOps
    val df = MultimodalOps.frameSlices(
      t.documents.withColumn("blob", col("text").cast("binary")),
      binCol = "blob", idCol = "doc_id", frameLen = 16, stride = 2)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"frameSlices shuffles:\n$plan")
  }

  test("semantic dedup compares within cells only: cell-keyed equi-join, never a cartesian") {
    import graft.operators.SimilarityOps
    val df = SimilarityOps.semanticDedup(t.embeddings, nCentroids = 16, threshold = 0.4)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin") ||
      plan.contains("BroadcastHashJoin"), s"no equi-join on cell:\n$plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"semanticDedup degenerated to all-pairs:\n$plan")
  }

  test("incremental semantic dedup joins batch to corpus on cell only — never a cartesian") {
    import graft.operators.SimilarityOps
    val df = SimilarityOps.incrementalSemanticDedup(
      t.embeddings.where(col("vec_id") % 10 =!= 7),
      t.embeddings.where(col("vec_id") % 10 === 7),
      nCentroids = 16, threshold = 0.4)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin") ||
      plan.contains("BroadcastHashJoin"), s"no equi-join on cell:\n$plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"incremental semanticDedup degenerated to all-pairs:\n$plan")
  }

  test("linear quality classifier is one narrow corpus pass: no shuffle, no explode") {
    import graft.operators.TextOps
    val df = TextOps.linearQualityScore(t.documents, nFeatures = 1024)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"classifier shuffles:\n$plan")
    assert(!plan.contains("Generate"), s"classifier explodes tokens:\n$plan")
  }

  test("container sniffing is a narrow per-row map: no shuffle, whole-stage codegen") {
    import graft.operators.MultimodalOps
    val df = MultimodalOps.sniffContainer(
      t.documents.withColumn("blob", col("text").cast("binary")),
      binCol = "blob", idCol = "doc_id")
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"sniffContainer shuffles:\n$plan")
    assert(plan.contains("*("), s"sniff projection fell out of codegen:\n$plan")
  }

  test("keyword spotting is one narrow codegen pass: no shuffle, no per-phrase scan") {
    val df = graft.operators.TextOps.keywordSpot(
      t.documents, Seq("fast table", "table", "hash value", "stream"))
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    // dictionary size must never show up as plan structure: one scan, no
    // joins against the phrase list, no exchange
    assert(!plan.contains("Exchange"), s"keywordSpot shuffles:\n$plan")
    assert(!plan.contains("Join"), s"keywordSpot joins the dictionary:\n$plan")
    val line = plan.linesIterator.find(_.contains("keyword_matches")).getOrElse("")
    assert(line.contains("*("), s"keyword_matches fell out of codegen:\n$plan")
    // the whole family shares the mechanism — spans and redact stay narrow
    // and codegen'd too
    val spans = graft.operators.TextOps.keywordSpans(t.documents, Seq("fast table"))
    val spansPlan = spans.queryExecution.executedPlan.toString
    assert(!spansPlan.contains("Exchange"), s"keywordSpans shuffles:\n$spansPlan")
    assert(spansPlan.linesIterator.exists(l =>
      l.contains("keyword_spans") && l.contains("*(")),
      s"keyword_spans fell out of codegen:\n$spansPlan")
    val red = graft.operators.TextOps.keywordRedact(t.documents, Seq("fast table"))
    val redPlan = red.queryExecution.executedPlan.toString
    assert(!redPlan.contains("Exchange"), s"keywordRedact shuffles:\n$redPlan")
    assert(redPlan.linesIterator.exists(l =>
      l.contains("keyword_redact") && l.contains("*(")),
      s"keyword_redact fell out of codegen:\n$redPlan")
  }

  test("blocklist filter rewrites to the early-exit keyword_any probe") {
    val df = graft.operators.TextOps.keywordFilter(
      t.documents, Seq("hash value", "customer query"))
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    // SimplifyKeywordPredicates must have replaced size(keyword_matches)=0:
    // existence-only predicates never materialize the hit array
    assert(plan.contains("keyword_any"), s"rewrite did not fire:\n$plan")
    assert(!plan.contains("keyword_matches"), s"full hit-collection survived:\n$plan")
    val line = plan.linesIterator.find(_.contains("keyword_any")).getOrElse("")
    assert(line.contains("*("), s"keyword_any fell out of codegen:\n$plan")
  }

  test("native vec_dot expression participates in codegen (no fallback)") {
    val df = t.embeddings
      .select(graft.functions.VectorFunctions.toDouble(col("embedding")).as("v"))
      .select(graft.functions.VectorFunctions.dot(col("v"), col("v")).as("d"))
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    // the Project carrying vec_dot must carry the '*(n)' codegen marker
    val dotLine = plan.linesIterator.find(_.contains("vec_dot")).getOrElse("")
    assert(dotLine.contains("*("), s"vec_dot fell out of codegen:\n$plan")
  }

  test("native vec_lsh_bits expression participates in codegen (no fallback)") {
    // norm(v) references v twice, which blocks project-collapse — so the
    // bits Project sees a plain attribute input, exactly like the real
    // prepared() → banded() pipeline (an interpreted transform() lambda
    // collapsed into the same Project would drag it out of codegen)
    val df = t.embeddings
      .select(graft.functions.VectorFunctions.toDouble(col("embedding")).as("v"))
      .withColumn("nrm", graft.functions.VectorFunctions.norm(col("v")))
      .select(graft.functions.VectorFunctions.hyperplaneBits(col("v"), 16).as("bits"),
        col("nrm"))
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    val line = plan.linesIterator.find(_.contains("vec_lsh_bits")).getOrElse("")
    assert(line.contains("*("), s"vec_lsh_bits fell out of codegen:\n$plan")
  }

  test("pagerank iterations broadcast the rank vector (edges never reshuffle per iteration)") {
    import graft.operators.GraphOps
    val full = GraphOps.pageRank(
      GraphOps.coOccurrenceEdges(t.lineitem, "l_orderkey", "l_partkey"), iterations = 3)
    // every per-iteration join must be a broadcast; a SortMergeJoin here
    // means the |E|-row edge table shuffles once per iteration
    assert(!full.queryExecution.executedPlan.toString.contains("SortMergeJoin"))

    // one iteration step over the materialized dst-partitioned cache must
    // plan ZERO shuffles: the broadcast join preserves the cached
    // partitioning and the dst-aggregation reuses it
    val edges = GraphOps.coOccurrenceEdges(t.lineitem, "l_orderkey", "l_partkey")
    val e = edges
      .withColumn("frac", col("w").cast("double"))
      .persist()
    e.count() // materialize so the step below reads the cache leaf
    val ranks = e.select(col("src").as("node")).distinct()
      .withColumn("rank", lit(1.0))
    val step = e.join(broadcast(ranks), col("src") === col("node"))
      .groupBy(col("dst")).agg(sum(col("frac") * col("rank")).as("c"))
    // toString reprints the cached build plan inside InMemoryRelation
    // (which legitimately contains the one-time setup exchanges) — the
    // iteration step itself is everything ABOVE the cache leaf
    val plan = step.queryExecution.executedPlan.toString
    val stepOnly = plan.substring(0, plan.indexOf("InMemoryTableScan"))
    assert(!stepOnly.contains("Exchange"), s"iteration step shuffles:\n$stepOnly")
    e.unpersist()
  }

  test("pagerank partitioned iteration: shuffle-hash joins, edges never re-exchange") {
    import graft.operators.GraphOps
    // one iteration step over a src-partitioned persisted edge table — the
    // shape of pageRank's partitioned layout when the rank vector outgrows
    // broadcast. The edges side must be read from cache with NO further
    // Exchange; only the rank vector (1 exchange) and the dst aggregation
    // (1 exchange) may shuffle, through ShuffledHashJoin (an SMJ would
    // re-sort the persisted edges every iteration).
    val e = GraphOps.coOccurrenceEdges(t.lineitem, "l_orderkey", "l_partkey")
      .withColumn("frac", col("w").cast("double"))
      .repartition(col("src"))
      .persist()
    e.count()
    val ranks = e.select(col("src").as("node")).distinct().withColumn("rank", lit(1.0))
    val step = e
      .join(ranks.select(col("node").as("src"), col("rank")).hint("shuffle_hash"), Seq("src"))
      .groupBy(col("dst")).agg(sum(col("frac") * col("rank")).as("c"))
    val plan = step.queryExecution.executedPlan.toString
    val stepOnly = plan.substring(0, plan.indexOf("InMemoryTableScan"))
    assert(stepOnly.contains("ShuffledHashJoin"),
      s"iteration join must be shuffle-hash:\n$stepOnly")
    assert(!stepOnly.contains("SortMergeJoin"),
      s"SMJ would re-sort the persisted edges per iteration:\n$stepOnly")
    val exchanges = stepOnly.linesIterator.count(_.contains("Exchange"))
    assert(exchanges <= 2,
      s"expected at most 2 exchanges (rank vector + dst agg), got $exchanges:\n$stepOnly")
    e.unpersist()
  }

  test("sharded lengthBuckets ranks within (bucket, block) — no full-relation single-key window") {
    import graft.operators.PipelineOps
    val plan = PipelineOps.shardedLengthBuckets(t.documents, batchSize = 8, blockSize = 64L)
      .queryExecution.executedPlan.toString
    // the row_number ranking over the big relation must be partitioned by
    // BOTH bucket and block; a bucket-only window funnels each bucket
    // through one task (the bounded offsets window over the per-block
    // partials is sum(blk_n) and legitimately bucket-keyed)
    val rankWindows = plan.linesIterator.filter(l =>
      l.contains("row_number") && l.contains("Window")).toSeq
    assert(rankWindows.nonEmpty, s"expected a ranking window:\n$plan")
    rankWindows.foreach { l =>
      assert(l.contains("blk"),
        s"ranking window not sharded by block:\n$l")
    }
  }

  test("fuzzy matching is a blocked equi-join, never a cartesian product") {
    import graft.operators.FuzzyOps
    val df = FuzzyOps.fuzzyMatchSummary(t.part, "p_partkey", "p_name",
      "concat(p_brand, '|', split_part(p_name, ' ', 1))", maxDist = 3)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"fuzzy match degenerated to a cross product:\n$plan")
  }

  test("exact embedding near-dup distributes as a blocked equi-join, never a nested-loop broadcast") {
    val plan = executedPlan("q_embedding_neardup").toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"near-dup degenerated to a nested loop:\n$plan")
  }

  test("LSH near-dup pair generation is a banded equi-join, never all-pairs") {
    val plan = executedPlan("q_embedding_neardup_lsh").toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"LSH near-dup degenerated to an all-pairs join:\n$plan")
  }

  test("ADC search scans codes only — corpus vectors never enter the scoring join") {
    val plan = executedPlan("q_adc_topk").toString
    // the scoring join is codes × broadcast(model-sized query set); the
    // only embeddings reads are the one-time codebook fit + assignment and
    // the 10-row query side — never a corpus-sized vector join
    assert(!plan.contains("CartesianProduct"), s"ADC cross-joined:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"ADC shuffled the corpus for the scoring join:\n$plan")
  }

  test("IVF-PQ probe join broadcasts the query side; the corpus never shuffles or cross-joins") {
    val plan = executedPlan("q_ivf_pq").toString
    // the probe join is codes × broadcast(query probes) hash-joined on
    // cell — corpus-side rows carry (id, cell, codes), never a shuffled or
    // nested-loop vector join
    assert(plan.contains("BroadcastHashJoin"), s"probe join not broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"IVF-PQ shuffled or cross-joined the corpus for the probe join:\n$plan")
  }

  test("media dedup broadcasts the canonical side and equi-joins — digests, not payloads, group") {
    val plan = executedPlan("q_media_dedup").toString
    assert(plan.contains("BroadcastHashJoin"), s"canonical join not broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"media dedup shuffled or cross-joined payloads:\n$plan")
  }

  test("EWMA and CUSUM are single per-key aggregations — no joins anywhere in the plan") {
    for (q <- Seq("q_ewma", "q_cusum")) {
      val plan = executedPlan(q).toString
      assert(!plan.contains("Join"), s"$q plans a join:\n$plan")
    }
  }

  test("triangle counting is equi-joins only — no cartesian or nested-loop stages") {
    val plan = executedPlan("q_triangle_count").toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"triangle counting degenerated to a cross product:\n$plan")
  }

  test("animation near-dup: frame-aligned equi-join candidates, payloads never shuffle") {
    val plan = executedPlan("q_gif_neardup").toString
    // banded candidates are an equi-join on (frame_idx, chunk, chunk_val) —
    // never a nested-loop or cartesian pairing of hash rows
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"hamming candidates degenerated to all-pairs:\n$plan")
    // the gif payload stays in the decode stage: no exchange carries it
    val exchanges = plan.linesIterator.filter(_.contains("Exchange")).toSeq
    assert(exchanges.nonEmpty && exchanges.forall(!_.contains("gif")),
      s"payload bytes crossed a shuffle:\n${exchanges.mkString("\n")}")
  }

  test("audio near-dup: banded equi-join candidates, wav payloads never shuffle") {
    val plan = executedPlan("q_audio_neardup").toString
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"hamming candidates degenerated to all-pairs:\n$plan")
    val exchanges = plan.linesIterator.filter(_.contains("Exchange")).toSeq
    assert(exchanges.nonEmpty && exchanges.forall(!_.contains("wav")),
      s"payload bytes crossed a shuffle:\n${exchanges.mkString("\n")}")
  }

  test("shift-robust audio near-dup: shingle equi-join, wav payloads never shuffle") {
    val plan = executedPlan("q_audio_neardup_shift").toString
    // candidates are the shingle-VALUE equi-join (posting-join shape); the
    // containment rollup and count joins are id-keyed — nothing all-pairs
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"shingle candidates degenerated to all-pairs:\n$plan")
    // samples stay in the decode stage: every exchange carries (long, long)
    // shingle/id rows, never the wav payload
    val exchanges = plan.linesIterator.filter(_.contains("Exchange")).toSeq
    assert(exchanges.nonEmpty && exchanges.forall(!_.contains("wav")),
      s"payload bytes crossed a shuffle:\n${exchanges.mkString("\n")}")
  }

  test("rate-robust animation near-dup: slot rides the band key, payloads never shuffle") {
    val plan = executedPlan("q_gif_neardup_rate").toString
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"hamming candidates degenerated to all-pairs:\n$plan")
    val exchanges = plan.linesIterator.filter(_.contains("Exchange")).toSeq
    assert(exchanges.nonEmpty && exchanges.forall(!_.contains("gif")),
      s"payload bytes crossed a shuffle:\n${exchanges.mkString("\n")}")
  }

  test("bitext mining broadcasts the seed side and rank-prunes top-k map-side") {
    // the scoring scan is eagerly checkpointed inside marginMine, so the
    // registry query's final plan can't show it — pin the pre-checkpoint
    // survivor plan the operator exposes for exactly this purpose
    val emb = t.embeddings
    val plan = graft.operators.SimilarityOps.marginSurvivors(
        emb.where(col("vec_id") % 29 === 0), emb.where(col("vec_id") % 29 =!= 0),
        k = 4, strategy = "broadcast", lshPlanes = 8, lshBands = 8)
      .queryExecution.executedPlan.toString
    // scoring = ONE corpus scan x broadcast seed (pre-r13 ran it twice);
    // a partial WindowGroupLimit prunes to k rows per (side, key) BEFORE
    // the exchange, so only exploded survivors shuffle — never pair volume
    assert(plan.contains("BroadcastNestedLoopJoin"), s"seed side not broadcast:\n$plan")
    assert(plan.contains("WindowGroupLimit"), s"top-k not pruned map-side:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"scoring degenerated to a cartesian:\n$plan")
    // exactly one scoring join: the explode-into-both-directions form pays
    // the |X|x|Y| cosine scan once, not once per direction
    assert("BroadcastNestedLoopJoin".r.findAllIn(plan).size == 1,
      s"scoring scan duplicated:\n$plan")
    // vectors never reach an exchange: every hash exchange carries ids/sums
    val exchanges = plan.linesIterator.filter(_.contains("Exchange hashpartitioning")).toSeq
    assert(exchanges.forall(l => !l.contains("xv") && !l.contains("yv")),
      s"an embedding column crossed a shuffle:\n${exchanges.mkString("\n")}")
  }

  test("bitext mining past the broadcast budget joins banded candidates, never all-pairs") {
    val emb = t.embeddings
    val plan = graft.operators.SimilarityOps.marginSurvivors(
        emb.where(col("vec_id") % 29 === 0), emb.where(col("vec_id") % 29 =!= 0),
        k = 4, strategy = "lsh", lshPlanes = 2, lshBands = 40)
      .queryExecution.executedPlan.toString
    // candidate generation is an equi-join on (band, bucket) signature rows;
    // nothing in the plan may fall back to a nested-loop / cartesian pairing
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"LSH candidates degenerated to all-pairs:\n$plan")
    assert(plan.contains("WindowGroupLimit"), s"top-k not pruned map-side:\n$plan")
  }

  test("bitext crossover flips to LSH exactly when the seed outgrows the broadcast budget") {
    val emb = t.embeddings
    val seed = emb.where(col("vec_id") % 29 === 0)
    assert(!graft.operators.SimilarityOps.seedPastBroadcastBudget(seed),
      "the sf0.001 seed panel must fit the 64 MB session budget")
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(key)
    try {
      spark.conf.set(key, "1024") // 1 KB: any real seed table exceeds it
      assert(graft.operators.SimilarityOps.seedPastBroadcastBudget(seed),
        "a seed past the budget must select the banded-LSH path")
    } finally spark.conf.set(key, prev)
  }

  test("rank-sum test never windows the value relation unpartitioned") {
    // the ksTest block pattern: the only unpartitioned window runs over the
    // <= nBlocks offsets table (SinglePartition AFTER a blk aggregation),
    // never over per-distinct-value rows
    val plan = executedPlan("q_rank_sum").toString
    assert(plan.contains("WindowGroupLimit") || plan.contains("Window"),
      s"expected the block-offset window:\n$plan")
    assert(plan.contains("PushedFilters: [In(event_type"),
      s"event-type filter not pushed to the scan:\n$plan")
  }

  test("capped backbone keeps the exact variant's plan discipline on the induced subgraph") {
    // same invariants as the exact triangle/coefficient plans: the
    // quadratic upstream runs ONCE into the checkpointed backbone (the
    // final plan never re-derives collect_set), the cap itself is two
    // semi-joins — and nothing degenerates to a cross product
    for (q <- Seq("q_triangle_capped", "q_clustering_capped")) {
      val plan = executedPlan(q).toString
      assert(!plan.contains("collect_set"),
        s"$q re-derives the backbone inside the final plan:\n$plan")
      assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
        s"$q degenerated to a cross product:\n$plan")
    }
  }

  test("k-center assignment is one corpus scan: no join, no window, centers as literals") {
    // kCenterAssignWith is the serving path for batch AND streaming: the k
    // centers ride as array literals into a codegen'd argmin projection —
    // a join/window/key-shuffle here means vectors started moving. The one
    // permitted exchange is `prepared`'s ROUND-ROBIN fan-out (the
    // small-file-trap mitigation, a no-op at production scale): key-based
    // repartitionings stay forbidden.
    val emb = t.embeddings
    val panel = graft.operators.SimilarityOps.kCenterFit(emb, k = 4)
    val plan = graft.operators.SimilarityOps.kCenterAssignWith(emb, panel)
      .queryExecution.executedPlan.toString
    for (bad <- Seq("Join", "Window", "hashpartitioning", "rangepartitioning"))
      assert(!plan.contains(bad), s"kCenterAssignWith plan contains $bad:\n$plan")
    assert(panel.forall(_._2.nonEmpty) && plan.contains("vec_dot"),
      s"centers must ride as literals into the codegen'd distance:\n${plan.take(400)}")
  }

  test("graph reachability runs in at most 12 jobs: one edge checkpoint, three join hops") {
    // A fixed-depth walk needs no recursion: the edge checkpoint's jobs plus
    // one plan of three hop joins, each exchange one AQE stage job.
    val jobs =
      try jobsDuring(SparkEntry.queries("q_graph_reach")(spark, dir)
        .write.format("noop").mode("overwrite").save())
      finally GraftSession.releaseMaterialized(spark)
    assert(jobs <= 12, s"q_graph_reach build + noop write ran $jobs jobs")
  }

  test("clustering coefficient builds the co-occurrence backbone exactly once") {
    // The quadratic collect_set + pair-explode upstream must run ONCE into
    // the shared checkpointed backbone; the final plan then derives BOTH
    // the degree table and the triangle side from that RDD. Pre-r12 the
    // degree branch re-derived the whole upstream (a second collect_set
    // aggregation in this very plan) — the suite's slowest query doing its
    // most expensive work twice.
    val plan = executedPlan("q_clustering_coeff").toString
    assert(!plan.contains("collect_set"),
      s"co-occurrence backbone re-derived inside the final plan:\n$plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"clustering coefficient degenerated to a cross product:\n$plan")
  }

  test("hard-negative mining broadcasts the query side (corpus never shuffles for the join)") {
    val plan = executedPlan("q_hard_negatives").toString
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"),
      s"query side not broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("CartesianProduct"),
      s"corpus shuffled or cross-joined for the scoring join:\n$plan")
  }

  test("random projection is a narrow codegen'd map (no shuffle beyond the output order)") {
    import graft.operators.SimilarityOps
    val op = SimilarityOps.randomProject(t.embeddings, inDim = 64, outDim = 16)
    val plan = op.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"projection shuffles:\n$plan")
  }

  test("LSH ann candidate join carries only (id, band, bucket) — vectors rejoin after candidates") {
    val plan = executedPlan("q_ann_lsh").toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"LSH candidate generation degenerated to a cross product:\n$plan")
  }

  test("sequence packing windows the big relation per-bucket; only the tiny offset table goes global") {
    val df = SparkEntry.queries("q_pack_sequences")(spark, dir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    val windows = plan.linesIterator.filter(_.contains("windowspecdefinition")).toSeq
    // the per-document prefix window (over n_tok) must be bucket-partitioned
    val docWindows = windows.filter(_.contains("sum(n_tok"))
    assert(docWindows.nonEmpty, s"doc-level prefix window missing:\n$plan")
    docWindows.foreach(l => assert(l.contains("windowspecdefinition(bkt#"),
      s"doc-level window not bucket-partitioned (global sort of the corpus):\n$l"))
    // global (unpartitioned) windows may only run over the per-bucket
    // subtotals — a model-sized table
    windows.filterNot(_.contains("windowspecdefinition(bkt#")).foreach(l =>
      assert(l.contains("bkt_tok"), s"global window over a data-sized relation:\n$l"))
  }

  test("token-budget selection windows the corpus per-bucket; only bucket totals go global") {
    val df = SparkEntry.queries("q_token_budget")(spark, dir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    val windows = plan.linesIterator.filter(_.contains("windowspecdefinition")).toSeq
    assert(windows.nonEmpty, s"expected window operators:\n$plan")
    // per-document prefix sums must be bucket-partitioned (never a global
    // sort of the corpus); unpartitioned windows may only run over the
    // bucket-totals table (model-sized)
    val docWindows = windows.filter(_.contains("sum(n_tokens"))
    assert(docWindows.nonEmpty, s"doc-level prefix window missing:\n$plan")
    docWindows.foreach(l => assert(l.contains("windowspecdefinition(__bkt#"),
      s"doc-level window not bucket-partitioned (global corpus sort):\n$l"))
    windows.filterNot(_.contains("windowspecdefinition(__bkt#")).foreach(l =>
      assert(l.contains("__btok"), s"global window over a data-sized relation:\n$l"))
  }

  test("minhash banding never degenerates to a cross product") {
    // the full query checkpoints candidates before the verify step, so
    // gate the candidate-generation subplan directly
    import graft.operators.DedupOps
    val sigs = DedupOps.minhashSignatures(t.documents, n = 4, numHashes = 64)
    val cands = DedupOps.minhashCandidates(sigs, bands = 32, rowsPerBand = 2)
    val plan = cands.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"banded candidate join degenerated:\n$plan")
    // and the verify stage of the assembled query stays equi-join-only
    val full = executedPlan("q_minhash_lsh").toString
    assert(!full.contains("CartesianProduct") && !full.contains("BroadcastNestedLoopJoin"),
      s"verify join degenerated:\n$full")
  }

  test("simhash signature build has no keyed exchange and the chunk join is an equi-join") {
    import graft.operators.DedupOps
    import org.apache.spark.sql.catalyst.plans.physical.RoundRobinPartitioning
    import org.apache.spark.sql.execution.{GenerateExec, ProjectExec, QueryExecution}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.execution.joins.{HashJoin, SortMergeJoinExec}
    import org.apache.spark.sql.util.QueryExecutionListener
    // simhashNearDup checkpoints its candidate pairs before the verify join,
    // so the gate reads the plan of that checkpoint's own execution
    val executions = new java.util.concurrent.LinkedBlockingQueue[QueryExecution]
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        executions.put(qe)
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    val aqe = new AdaptiveSparkPlanHelper {}
    def isSignature(p: SparkPlan) = p match {
      case p: ProjectExec => p.projectList.exists(_.exists(_.isInstanceOf[graft.plans.SimHash64]))
      case _ => false
    }
    spark.listenerManager.register(listener)
    val cands = try {
      DedupOps.simhashNearDup(t.documents, n = 4, threshold = 0.5, chunks = 4, probeBits = 2)
      Iterator.continually(executions.poll(60, java.util.concurrent.TimeUnit.SECONDS))
        .map(qe => Option(qe).getOrElse(fail("the candidate checkpoint was never reported")))
        .map(_.executedPlan).find(aqe.find(_)(isSignature).isDefined).get
    } finally spark.listenerManager.unregister(listener)
    // signature: one narrow codegen'd map — no generator, no aggregate. The
    // one permitted exchange is the ROUND-ROBIN fan-out ahead of the kernel
    // (ScaleOps.fanOut, the small-file-trap mitigation, a no-op at
    // production scale); key-based repartitionings stay forbidden.
    val sigs = aqe.collect(cands) { case p if isSignature(p) => p }
    sigs.foreach { sig =>
      val nodes = aqe.collect(sig) { case n => n }
      assert(!nodes.exists(n => n.isInstanceOf[GenerateExec] || n.isInstanceOf[BaseAggregateExec]),
        s"simhash signature build has a generator or an aggregate:\n$sig")
      assert(nodes.forall {
        case e: ShuffleExchangeLike => e.outputPartitioning.isInstanceOf[RoundRobinPartitioning]
        case _ => true
      }, s"simhash signature build shuffles by more than the round-robin fan-out:\n$sig")
    }
    // candidate pairs: chunk-keyed equi-join, never a cross product
    val plan = cands.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"simhash chunk join degenerated:\n$plan")
    assert(aqe.find(cands)(p => p.isInstanceOf[HashJoin] || p.isInstanceOf[SortMergeJoinExec])
      .isDefined, s"simhash chunk join is not an equi-join:\n$plan")
  }

  test("token masking is a narrow per-row map: no shuffle") {
    val df = SparkEntry.queries("q_mask_tokens")(spark, dir)
    // drop the binding's presentation orderBy — the operator itself is narrow
    val op = graft.operators.PipelineOps.maskTokens(
      spark.read.parquet(s"$dir/documents.parquet"), rate = 0.15)
    val plan = op.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"masking shuffles:\n$plan")
    assert(df.columns.sameElements(Seq("doc_id", "masked_text", "n_masked", "n_tokens")))
  }

  test("hybrid retrieval fuses model-sized rankings and takes top-N without a global sort") {
    val plan = executedPlan("q_hybrid_retrieval").toString
    assert(plan.contains("TakeOrderedAndProject") || plan.contains("BroadcastHashJoin"),
      s"fusion plan lost its bounded shape:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"fusion cross-joined:\n$plan")
  }

  test("unigram logprob broadcasts the vocabulary counts (tf never reshuffles for the join)") {
    val df = SparkEntry.queries("q_unigram_logprob")(spark, dir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"vocabulary join not broadcast:\n$plan")
  }

  test("duplicated-span stats stay pairwise-free: no self-join of positions") {
    val df = SparkEntry.queries("q_dup_spans")(spark, dir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"dup-span stats degenerated:\n$plan")
    // exactly one join (positions ⋈ global n-gram counts) — a second join
    // would mean a pairwise formulation snuck in
    val joins = "Join".r.findAllIn(plan).size
    assert(joins <= 2, s"unexpected extra joins ($joins):\n$plan")
  }

  test("per-source cap plans a WindowGroupLimit (map-side per-key pruning before the exchange)") {
    val plan = executedPlan("q_source_cap").toString
    assert(plan.contains("WindowGroupLimit"),
      s"rank<=k window not group-limited:\n$plan")
  }

  test("temperature sampling is a narrow corpus pass: broadcast rate join, no window") {
    val plan = executedPlan("q_temperature_sample").toString
    assert(!plan.contains("Window"), s"corpus-side window crept in:\n$plan")
    assert(plan.contains("BroadcastHashJoin"), s"rate table not broadcast:\n$plan")
  }

  test("PQ code assignment is shuffle-free (codebooks ride as literals)") {
    // the binding's output orderBy contributes the only (range) exchange;
    // the assignment itself must not hash-shuffle or window
    val plan = executedPlan("q_pq_codes").toString
    assert(!plan.contains("Exchange hashpartitioning") && !plan.contains("Window"),
      s"PQ assignment shuffles:\n$plan")
  }

  test("zorder layout sorts in one range exchange with the morton value codegen'd") {
    val df = SparkEntry.queries("q_zorder")(spark, dir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    // AQE's toString repeats the plan (Initial + Final), so pin kinds, not
    // counts: the only exchange is the range sort — no hash shuffle at all
    assert(plan.contains("Exchange rangepartitioning"), s"no range sort:\n$plan")
    assert(!plan.contains("Exchange hashpartitioning"), s"unexpected hash shuffle:\n$plan")
    assert(plan.contains("*("), s"morton value not codegen'd:\n$plan")
  }

  // One pass over the catalog feeds the two catalog-wide audits below: each
  // query is built once (a rebuild re-runs its eager checkpoints and fixpoint
  // probes), and the pass keeps which audited shapes its plans hold.
  private case class CatalogPlan(name: String, globalWindow: Boolean,
                                 cartesian: Boolean, nestedLoopJoin: Boolean)
  private lazy val catalogPlans: Seq[CatalogPlan] = {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LogicalWindow}
    SparkEntry.queries.toSeq.map { case (name, fn) =>
      val qe = fn(spark, dir).queryExecution
      val globalWindow = qe.optimizedPlan.exists {
        case w: LogicalWindow => w.partitionSpec.isEmpty
        case _ => false
      }
      val executed = qe.executedPlan.toString
      // building a query eagerly materializes its localCheckpoint sites;
      // release them so the catalog sweep doesn't accumulate 160 queries'
      // blocks in the shared session (ARCHITECTURE.md §13)
      GraftSession.releaseMaterialized(spark)
      CatalogPlan(name, globalWindow, executed.contains("CartesianProduct"),
        executed.contains("BroadcastNestedLoopJoin"))
    }
  }

  test("global-window audit: unpartitioned windows only ever run over bounded tables") {
    // An unpartitioned Window funnels its ENTIRE input through one task —
    // the canonical 100-TB cliff (WindowExec's "No Partition Defined"
    // warning). Legitimate uses window a provably model-sized relation:
    // a top-k table, a calendar-span rollup, or per-bucket subtotals.
    // Every query that plans one must be allowlisted here WITH its
    // boundedness argument; anything else fails the build.
    val bounded = Map(
      "q_hybrid_retrieval" -> "ranks the BM25 top-50 table (k rows)",
      "q_autocorr"         -> "lag windows over the daily rollup (calendar-sized)",
      "q_skyline"          -> "cross-bucket prefix max over bucket maxima (≈x-range/bucketWidth rows)",
      "q_pack_sequences"   -> "offset prefix over per-bucket subtotals (bucket count rows)",
      "q_token_budget"     -> "budget prefix over per-bucket subtotals (bucket count rows)",
      "q_filter_cascade"   -> "cumulative survivors over per-stage counts (|filters| rows)",
      "q_lang_gate"        -> "cumulative survivors over per-stage counts (|filters| rows)",
      "q_zipf_slope"       -> "ranks the top-k token-frequency table (k=100 rows by construction)",
      "q_source_gini"      -> "ranks the per-source rollup (|sources| rows by construction)",
      "q_quantile_bins"    -> "exactQuantiles window path: the constant group key folds away; only planned below the executor-comfort crossover (selection path above plans NO window)",
      "q_pareto_users"     -> "exactQuantiles window path (crossover-guarded, as q_quantile_bins) + cumulative share over the ≤10-row decile rollup",
      "q_session_stats"    -> "exactQuantiles window path over the session rollup (crossover-guarded, as q_quantile_bins)",
      "q_ks_test"          -> "cumulative offsets over per-block subtotals (block count rows)",
      "q_score_auc"        -> "cumulative offsets over per-block subtotals (block count rows, q_ks_test's shape)",
      "q_rank_sum"         -> "cumulative offsets over per-block subtotals (block count rows, q_ks_test's shape)"
    )
    val withGlobals = catalogPlans.filter(_.globalWindow).map(_.name).toSet
    val offenders = withGlobals.diff(bounded.keySet)
    assert(offenders.isEmpty,
      s"unallowlisted global windows (one-task bottleneck at scale) in: " +
        s"${offenders.mkString(", ")} — partition them or justify boundedness here")
    // two-sided: an allowlist row whose query no longer plans a global
    // window is stale documentation — prune it
    val stale = bounded.keySet.diff(withGlobals)
    assert(stale.isEmpty, s"stale allowlist entries (no global window planned): " +
      s"${stale.mkString(", ")}")
  }

  test("catalog-wide join audit: no cartesian products; nested-loop joins only against model-sized broadcasts") {
    // A CartesianProduct pairs two data-sized relations — quadratic at any
    // scale, never acceptable. A BroadcastNestedLoopJoin is linear in the
    // stream side and fine IFF the broadcast side is model-sized (a 1-row
    // scalar aggregate, a k-row query panel); each such query is
    // allowlisted with its broadcast-side bound. Runs over the whole
    // catalog so a new query can't quietly ship an all-pairs join.
    val bnljBounded = Map(
      "q_filter_cascade"     -> "crossJoin(broadcast(total)) — 1-row corpus count",
      "q_lang_gate"          -> "filterCascade's crossJoin(broadcast(total)) — 1-row corpus count",
      "q_balance_classes"    -> "broadcast scalar min class count (1 row)",
      "q_hard_negatives"     -> "broadcast query panel (k query vectors)",
      "q_stale_index_filter" -> "broadcast max-id/2 threshold (1 row)",
      "q_key_skew"           -> "broadcast scalar row total (1 row)",
      "q_tfidf"              -> "broadcast corpus doc count N (1 row)",
      "q_unigram_logprob"    -> "broadcast vocabulary token total (1 row)",
      "q_bigram_logprob"     -> "broadcast vocabulary token total (1 row)",
      "q_bm25"               -> "broadcast corpus N + avgdl scalars (1 row)",
      "q_collocations"       -> "broadcast total bigram count (1 row)",
      "q_psi"                -> "broadcast per-snapshot row totals (1 row each)",
      "q_temperature_sample" -> "broadcast total corpus count (1 row)",
      "q_similarity_topk"    -> "broadcast query vector (k query rows)",
      "q_semantic_decontaminate" -> "broadcast benchmark/eval panel (model-sized, ≠ predicate)",
      "q_dataset_card"       -> "broadcast 1-row top-lang summary onto the 1-row corpus aggregate",
      "q_similarity_topk_agg"-> "broadcast query vector (k query rows)",
      "q_hybrid_retrieval"   -> "broadcast query vector (1 row) via bruteForceTopK",
      "q_adc_topk"           -> "broadcast PQ lookup tables (k × nsub × 256 model rows)",
      "q_adc_rerank"         -> "ADC stage's broadcast query set (10 rows, ≠ predicate); re-rank joins are equi BHJ",
      "q_ann_recall"         -> "brute-force side's broadcast query set (10 rows, ≠ predicate); recall join is |q|×k vs |q|×k",
      "q_heavy_hitters"      -> "broadcast Misra–Gries sketch (1 row, ≤k-entry map)",
      "q_cms_counts"         -> "broadcast Count-Min sketch (1 row, depth×width array)",
      "q_chi_square"         -> "broadcast grand total + table dims (1 row)",
      "q_bloom_prefilter"    -> "broadcast Bloom blob (1 row, m-bit array)",
      "q_dsir_sample"        -> "broadcast raw/target token totals (1 row)",
      "q_market_basket"      -> "1-row basket count folded into the src-stats broadcast build",
      "q_mutual_info"        -> "broadcast grand total (1 row, q_chi_square's shape)",
      "q_ks_test"            -> "broadcast sample totals + value range (1 row)",
      "q_score_auc"          -> "broadcast class totals + value range (1 row, q_ks_test's shape)",
      "q_calibration"        -> "broadcast row-total + ECE numerator (1 row over the ≤nBins table)",
      "q_benford"            -> "broadcast digit-row total (1 row over the 9-digit table)",
      "q_quantile_bins"      -> "broadcast decile-boundary set (1 row from exactQuantiles)",
      "q_pareto_users"       -> "broadcast decile boundaries + revenue total (1 row each)",
      "q_session_stats"      -> "broadcast duration quantiles (1 row from exactQuantiles)",
      "q_crosscorr"          -> "broadcast lag fan-out table (2·maxLag+1 rows)",
      "q_rank_sum"           -> "broadcast sample totals + tie term + value range (1 row, q_ks_test's shape)"
      // q_bitext_mine's broadcast-seed BNLJ no longer appears here: the
      // scoring scan materializes eagerly inside marginMine, so its plan
      // is pinned directly via marginSurvivors in the dedicated bitext
      // tests above (one BNLJ, WindowGroupLimit, no cartesian).
    )
    val issues = catalogPlans.flatMap { p =>
      val cart = if (p.cartesian) Seq(s"${p.name}: CartesianProduct") else Nil
      val bnlj = if (p.nestedLoopJoin && !bnljBounded.contains(p.name))
        Seq(s"${p.name}: unallowlisted BroadcastNestedLoopJoin") else Nil
      cart ++ bnlj
    }
    assert(issues.isEmpty, s"all-pairs join shapes in the catalog:\n  ${issues.mkString("\n  ")}")
    val bnljSeen = catalogPlans.filter(_.nestedLoopJoin).map(_.name).toSet
    val stale = bnljBounded.keySet.diff(bnljSeen)
    assert(stale.isEmpty,
      s"stale BNLJ allowlist entries (no nested-loop join planned): ${stale.mkString(", ")}")
  }

  test("dq checks compute the whole suite in one scan per table") {
    val plan = executedPlan("q_dq_checks").toString
    // one scan of orders (plus the broadcast customer key probe), one of
    // lineitem — per-check scans would multiply IO by the suite size
    val ordersScans = "Scan parquet".r.findAllIn(plan).size
    assert(ordersScans <= 3, s"dq suite rescans inputs ($ordersScans scans):\n$plan")
  }
}
