package graft

/** Physical-plan assertions for the scale-critical properties promised in
  * the Scaladoc (SURVEY.md §4): predicate pushdown reaches the parquet
  * scan, column pruning trims ReadSchema, dimension joins broadcast, the
  * semi-join stays a semi-join, and aggregations are partial (map-side)
  * before the shuffle. Runs against sf0.001 (plan shape, not data size —
  * broadcast thresholds comfortably exceed these tables). */
class PlanSpec extends SparkSpec {

  val dir = "/root/testdata/sf0.001"

  def plan(name: String): String =
    SparkEntry.queries(name)(spark, dir).queryExecution.executedPlan.toString

  test("q02: filter and projection pushed to the parquet scan") {
    val p = plan("q02_filter_project")
    assert(p.contains("PushedFilters: ["), p.take(800))
    assert(p.contains("IsNotNull(l_shipdate)") || p.contains("LessThan"),
      "expected shipdate/quantity filters pushed down")
    // column pruning: the scan must not read all 16 lineitem columns
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("l_comment"), readSchema)
  }

  test("q03: dimension join broadcasts") {
    assert(plan("q03_join_agg").contains("BroadcastHashJoin"))
  }

  test("q04: multiway join broadcasts the dims") {
    val p = plan("q04_multiway_join")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2, "nation+region should broadcast")
  }

  test("q05: left-semi join planned as semi, not inner+distinct") {
    assert(plan("q05_semi_join").contains("LeftSemi"))
  }

  test("q01: aggregation is partial before the shuffle") {
    val p = plan("q01_pricing_summary")
    assert(p.contains("partial_sum") || p.contains("HashAggregate(keys"),
      "expected two-phase hash aggregate")
    assert("HashAggregate".r.findAllIn(p).size >= 2)
  }

  test("q20: whole-stage codegen covers the tf-idf pipeline") {
    // AQE shows codegen spans only in the final (post-execution) plan
    val df = SparkEntry.queries("q20_tfidf_search")(spark, dir)
    df.collect()
    // "*(n) Op" is the simple-mode rendering of a WholeStageCodegen span
    assert(df.queryExecution.executedPlan.toString.contains("*("))
  }

  test("q35: query vector broadcast to the scan side") {
    assert(plan("q35_cosine_topk").contains("BroadcastNestedLoopJoin") ||
      plan("q35_cosine_topk").contains("BroadcastExchange"))
  }

  test("q48: sampling is a map-only filter — no shuffle before the sort") {
    // another suite may have cached this parquet — cache substitution
    // would splice in the cached relation's unpruned FileScan
    spark.catalog.clearCache()
    val p = plan("q48_stratified_sample")
    // the md5-bucket predicate is not parquet-pushable (function of a
    // column), so it runs as a codegen'd Filter directly over the scan;
    // the only exchange in the plan is the final presentation sort
    val beforeSort = p.split("Sort ").last
    assert(beforeSort.contains("Filter"), p.take(800))
    assert("Exchange".r.findAllIn(p).size <= 1, "sampling itself must not shuffle")
    // column pruning still applies
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("text"), readSchema)
  }

  test("q68: EXISTS / NOT EXISTS decorrelate to semi + anti hash joins") {
    val p = plan("q68_exists_subquery")
    assert(p.contains("LeftSemi"), "EXISTS must plan as a left-semi join")
    assert(p.contains("LeftAnti"), "NOT EXISTS must plan as a left-anti join")
    // decorrelation means no per-row subquery execution survives
    assert(!p.contains("InSubquery") && !p.contains("ScalarSubquery"),
      "correlated subqueries must be rewritten to joins")
  }

  test("q69: rolling aggregate is a value-RANGE window frame, one shuffle") {
    val p = plan("q69_rolling_range")
    // physical Window prints specifiedwindowframe(RangeFrame, -600000000, ...)
    assert(p.contains("RangeFrame"), "frame must be value-range, not rows")
    // one shuffle for the user_id partitioning, one for the final sort
    assert("Exchange".r.findAllIn(p).size <= 2, p.take(800))
  }

  test("q74: the probe batch broadcasts; the corpus side never shuffles for the join") {
    val p = plan("q74_knn_join")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      "query-vector batch must broadcast")
  }

  test("q76: corpus shingles are semi-join pre-filtered before verification") {
    val p = plan("q76_dedup_incremental")
    assert(p.contains("LeftSemi"),
      "candidate pre-filter must plan as a left-semi join on the corpus side")
    assert(p.contains("BroadcastExchange"), "candidate id set must broadcast")
  }

  test("q80: probe-term tf side broadcasts into the doc-length probe") {
    val p = plan("q80_bm25")
    assert(p.contains("BroadcastExchange"), "tf x df side must broadcast")
  }

  test("q85: read-back filter is pushed into the ORC scan") {
    val p = plan("q85_orc_roundtrip")
    assert(p.contains("PushedFilters: [IsNotNull(o_totalprice), GreaterThan(o_totalprice,150000.0)]")
      || (p.contains("GreaterThan(o_totalprice") && p.contains("PushedFilters")),
      "price filter must reach the ORC scan:\n" + p.take(1200))
  }

  test("q86: upsert's anti join broadcasts the batch key set (no target shuffle)") {
    val p = plan("q86_cdc_upsert")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"),
      "CDC key set must broadcast into a LeftAnti join:\n" + p.take(1200))
  }

  test("q90: bloom pre-filter stays in the scan stage before the semi join") {
    val p = plan("q90_bloom_semi_join")
    // the sketch bit tests compile to shiftright/AND over a literal array
    val filterIdx = p.indexOf("shiftright")
    assert(filterIdx >= 0, "bloom bit-test filter missing:\n" + p.take(1200))
    assert(p.contains("LeftSemi"), "exact semi join must follow the sketch")
    // map-side property: the tree prints parent-above-child, so between
    // the bit-test Filter and the lineitem scan it guards there must be
    // NO Exchange — the sketch runs in the scan stage, pre-shuffle
    val below = p.substring(filterIdx)
    val scanOff = below.indexOf("Scan")
    assert(scanOff >= 0, "no scan below the bloom filter:\n" + p.take(1200))
    assert(!below.take(scanOff).contains("Exchange"),
      "bloom filter must run map-side, directly over the scan:\n" + p.take(1200))
  }

  test("q108: the 1024-counter count-min sketch broadcasts to the probe") {
    assert(plan("q108_cm_heavy_hitters").contains("BroadcastHashJoin"))
  }

  test("q108: the depth-4 fan-out reads the pre-aggregated term table, not the corpus") {
    // the r18 shape: ONE tokenize pass into a checkpointed (tok, cnt)
    // table; the sketch build explodes THAT (vocab-sized) and the probe
    // ranks from it — a corpus parquet scan inside this plan means the
    // per-token ×4 fan-out regressed (sf1: 2.8 s vs 10.7 s shapes)
    val p = plan("q108_cm_heavy_hitters")
    assert(!p.contains("Scan parquet"),
      "corpus re-scan inside the q108 plan:\n" + p.take(1200))
    assert("ExistingRDD".r.findAllIn(p).size >= 2,
      "both consumers must read the checkpointed term table:\n" + p.take(1200))
  }

  test("q126: widened simhash pairing keeps q34's fused-hamming bucket join") {
    val p = plan("q126_simhash_pairs_w64")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "64-bit pairing must pigeonhole on (blk, bval), not compare all pairs:\n" + p.take(1600))
    // the consumer's hamming<=3 filter must fuse INTO the bucket join
    // (probe-side kill, nothing non-near-dup reaches the distinct) —
    // the same shape the 32-bit q34 plan pins via PLANS.md
    val joinIdx = p.indexOf("Join")
    assert(joinIdx >= 0, "expected the block equi-join")
    assert(p.contains("bit_count"),
      "hamming predicate missing from the plan:\n" + p.take(1600))
    val joinLineEnd = p.indexOf('\n', joinIdx)
    val joinLine = p.substring(joinIdx, if (joinLineEnd < 0) p.length else joinLineEnd)
    assert(joinLine.contains("bit_count"),
      "hamming<=3 must be fused into the join condition, not a post-filter:\n" + joinLine)
  }

  test("q127: the boilerplate drop-set broadcasts; the strip is a map-side anti-join") {
    val p = plan("q127_boilerplate_strip")
    // the drop side is bounded by |segments|/thr, so the corpus must NOT
    // shuffle a second time for the strip: broadcast left-anti only
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"),
      "expected a broadcast left-anti strip join:\n" + p.take(1600))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "strip must stay an equi-join:\n" + p.take(1600))
  }

  test("q111/q112/q121: pairing joins stay equi-joins, never cartesian") {
    Seq("q111_cdc_chunk_dedup", "q112_semantic_dedup", "q121_bitext_margin").foreach { q =>
      val p = plan(q)
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
        s"$q must pair via its blocking key (chunk hash / cluster / SRP cell):\n" + p.take(1600))
    }
  }

  test("q77: corpus grams never shuffle — per-doc array_distinct, then broadcast probe") {
    val p = plan("q77_contamination")
    assert(p.contains("BroadcastHashJoin"),
      "benchmark gram set must broadcast into the corpus stream:\n" + p.take(1200))
    // the r6 finding: a post-explode distinct() shuffled every corpus
    // (doc_id, gram) pair before the probe. Dedup now happens inside the
    // row, so NO exchange may partition on the gram column — the only
    // hash exchanges left key on bench_id/doc_id over the (rare) hits
    val gramExchange = p.linesIterator
      .filter(_.contains("Exchange hashpartitioning")).filter(_.contains("gram"))
    assert(gramExchange.isEmpty,
      "corpus gram stream must stay map-side:\n" + gramExchange.mkString("\n"))
  }

  test("computed-array explodes carry no inferred-filter tax (scan DataFilters stay cheap)") {
    // InferFiltersFromGenerate duplicates a plain explode's computed array
    // input into the scan's DataFilters (2-3x the expression per row, r7
    // finding). explodeLean keeps the scan clean — pin that for the
    // token-stream, and chunk-pipeline explodes.
    Seq("q21_inverted_index" -> "regexp_extract_all",
        "q20_tfidf_search" -> "regexp_extract_all",
        "q111_cdc_chunk_dedup" -> "zip_with").foreach { case (q, marker) =>
      val p = plan(q)
      val scans = p.linesIterator.filter(_.contains("FileScan")).mkString("\n")
      assert(!scans.contains(marker),
        s"$q: generator input duplicated into the scan:\n" + scans.take(800))
    }
  }

  test("q252: pre-checkpoint shingle explode is lean — one Generate, no gram chain in the scan") {
    // The committed q252 captures sit ABOVE the localCheckpoint, where the
    // Generate is invisible (VERDICT r21 #6/#7) — pin the shape on the
    // pre-checkpoint seam instead: exactly one Generate (explode_outer),
    // and the regexp+gram_hash60+array_distinct chain NOT duplicated into
    // the scan's DataFilters by InferFiltersFromGenerate.
    val p = graft.queries.DedupSim.q252SourceShingles(spark, dir)
      .queryExecution.executedPlan.toString
    assert("Generate".r.findAllIn(p).size === 1,
      "expected exactly one Generate below the checkpoint:\n" + p.take(1600))
    // the scan's DataFilters legitimately carry the query's own
    // size(regexp_extract_all(...)) >= 5 pre-filter; the InferFilters
    // hazard is the GENERATOR input — the gram_hash60+array_distinct
    // chain — being duplicated in as an inferred size/isnotnull guard
    val scans = p.linesIterator.filter(_.contains("FileScan")).mkString("\n")
    assert(!scans.contains("gram_hash60") && !scans.contains("array_distinct"),
      "generator input duplicated into the scan:\n" + scans.take(800))
  }

  test("no corpus-wide unpartitioned windows in the departitioned family (q84/q113/q115/q118/q121)") {
    import org.apache.spark.sql.execution.window.{WindowExec, WindowGroupLimitExec}
    // sparkPlan (pre-AQE) exposes the physical Window nodes to collect;
    // an empty partitionSpec is exactly the "WindowExec: No Partition
    // Defined ... moving all data to a single partition" plan the r7
    // verdict flagged as the corpus-scale defect
    def unpartitioned(name: String): Seq[String] =
      SparkEntry.queries(name)(spark, dir).queryExecution.sparkPlan.collect {
        case w: WindowExec if w.partitionSpec.isEmpty => w.nodeName
        case w: WindowGroupLimitExec if w.partitionSpec.isEmpty => w.nodeName
      }
    Seq("q84_sequence_packing", "q113_hybrid_rrf", "q115_curriculum_order",
      "q118_ann_ndcg", "q121_bitext_margin", "q173_hybrid_rrf_batch",
      "q174_calibration_report", "q175_bootstrap_ci",
      "q176_score_quantile_align").foreach { q =>
      assert(unpartitioned(q).isEmpty,
        s"$q plans a single-partition window — the 100 TB scale-killer")
    }
  }

  test("q175: the 64x replicate explode collapses map-side before any shuffle") {
    // the Poisson-bootstrap contract: explode(0..63) inflation feeds a
    // PARTIAL aggregate keyed on the replicate id, so at most 64 rows per
    // partition ever reach the exchange — without it the op shuffles 64x
    // the corpus and the one-scan claim is false
    val p = plan("q175_bootstrap_ci")
    assert(p.contains("partial_sum"),
      "replicate sums must partial-aggregate before the shuffle:\n" + p.take(1600))
    assert(!p.contains("SortMergeJoin"),
      "the CI assembly must stay broadcast — nothing here is big enough to sort-merge:\n"
        + p.take(1600))
  }

  test("q173: every per-query top-K plans a query_id-partitioned WindowGroupLimit") {
    import org.apache.spark.sql.execution.window.WindowGroupLimitExec
    // The batch-retrieval contract (VERDICT r14 #1): the three rank<=K
    // sites (lex top-K, vec top-K, fused top-20) must each rewrite to
    // WindowGroupLimit — the distributed per-group top-K that prunes
    // partitions BEFORE the rank window's exchange — and every node must
    // carry the query_id partitionSpec (an empty spec would be the r7
    // single-partition defect in new clothes). Spark plans each site as
    // a Partial+Final pair, so >= 3 nodes means all three sites rewrote.
    val gls = SparkEntry.queries("q173_hybrid_rrf_batch")(spark, dir)
      .queryExecution.sparkPlan.collect { case w: WindowGroupLimitExec => w }
    assert(gls.size >= 3,
      s"expected >= 3 WindowGroupLimit nodes (3 rank<=K sites), got ${gls.size}")
    assert(gls.forall(_.partitionSpec.nonEmpty),
      "a WindowGroupLimit lost its query_id partitionSpec")
  }

  test("q179: the hard-negative top-3 plans an anchor-partitioned WindowGroupLimit") {
    import org.apache.spark.sql.execution.window.WindowGroupLimitExec
    // The mining contract: rank <= 3 must rewrite to a Partial+Final
    // WindowGroupLimit pair partitioned by anchor_id, so per-anchor wire
    // cost is partitions × 3 rows — not the full blocked pair space
    val gls = SparkEntry.queries("q179_hard_negatives")(spark, dir)
      .queryExecution.sparkPlan.collect { case w: WindowGroupLimitExec => w }
    assert(gls.size >= 2,
      s"expected a Partial+Final WindowGroupLimit pair, got ${gls.size}")
    assert(gls.forall(_.partitionSpec.nonEmpty),
      "the top-3 WindowGroupLimit lost its anchor_id partitionSpec")
  }

  test("sanctioned unpartitioned-window whitelist: exactly the one bounded site") {
    import org.apache.spark.sql.execution.window.WindowExec
    // The bench gate (Bench.scala) asserts <= 32 `No Partition Defined`
    // warnings per pass; this is its code-level anchor (VERDICT r8 #6).
    // Exactly ONE site is sanctioned, with an in-code comment naming the
    // bound that makes a single partition safe:
    //   - q70 day-level cumsum (queries/Events.scala): input is the
    //     per-DAY aggregate, bounded by calendar days.
    // It must plan exactly ONE unpartitioned window — a second node
    // appearing in q70, or a new site in any other query, is a
    // regression (caught there by the departitioned-family test above
    // and the bench-log gate).
    val n = SparkEntry.queries("q70_cumulative_users")(spark, dir)
      .queryExecution.sparkPlan.collect {
        case w: WindowExec if w.partitionSpec.isEmpty => w
      }.size
    assert(n === 1, "q70 must have exactly its one sanctioned day-level window")
  }

  test("q113/q121: top-k candidate lists plan as distributed TakeOrdered, not global sort+rank") {
    assert(plan("q113_hybrid_rrf").contains("TakeOrderedAndProject"),
      "per-retriever top-K must be a TakeOrdered")
    assert(plan("q121_bitext_margin").contains("TakeOrderedAndProject"),
      "margin top-20 must be a TakeOrdered")
  }

  test("q124: sweep configs share their expensive intermediates (computed once)") {
    // The six-config sketch sweep promises its quadratic/corpus-pass
    // intermediates are computed ONCE and every config derives map-only
    // (VERDICT r8 #5). In the plan that sharing is visible two ways:
    // (1) every document-derived side is a CHECKPOINT leaf (LogicalRDD),
    //     so the analyzed tree contains ZERO `documents` parquet scans —
    //     a future edit that recomputes shingles/exact/simhash per row
    //     would reintroduce one scan per recomputation;
    // (2) the checkpoint leaves collapse to at most 5 DISTINCT rdds
    //     (exact ground truth, minhash table, simhash candidates, exact
    //     top-10, SRP index) while appearing many times across the six
    //     union branches — same id referenced, not recomputed.
    import org.apache.spark.sql.execution.LogicalRDD
    val df = SparkEntry.queries("q124_sketch_eval")(spark, dir)
    val analyzed = df.queryExecution.analyzed
    val docScans = analyzed.collectLeaves().count(_.toString.contains("documents"))
    assert(docScans === 0,
      s"q124 re-reads documents $docScans time(s) — an intermediate is being recomputed")
    val rddLeaves = analyzed.collectLeaves().collect { case l: LogicalRDD => l.rdd.id }
    val distinct = rddLeaves.distinct.size
    assert(distinct <= 5,
      s"expected <= 5 shared checkpoint intermediates, got $distinct")
    assert(rddLeaves.size > distinct,
      "checkpoint leaves are not shared across branches — each appears once")
  }

  test("q128: the fixed-size log-ratio model broadcasts into the scoring join") {
    val p = plan("q128_dsir_select")
    // the model is <= 1024 rows by construction — scoring must be a
    // map-side broadcast probe of the (doc, bucket) table, and the only
    // nested-loop joins are the sanctioned 1-row total scalars
    assert(p.contains("BroadcastHashJoin"),
      "expected the lr model broadcast:\n" + p.take(1600))
    assert(!p.contains("CartesianProduct"), p.take(1600))
  }

  test("q129: duplicated-gram pairing stays a fingerprint equi-join") {
    val p = plan("q129_substring_spans")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "gram dup-set join must be an equi-join:\n" + p.take(1600))
  }

  test("q130/q131: PQ encode and ADC are join-free map passes") {
    // codebooks and ADC tables enter as literals — like q103's
    // assignment, neither query may join
    val p130 = plan("q130_pq_encode")
    assert(!p130.contains("Join"), "PQ encode must not join:\n" + p130.take(1200))
    val p131 = plan("q131_pq_adc")
    assert(!p131.contains("Join"), "ADC must not join:\n" + p131.take(1200))
    assert(p131.contains("TakeOrdered"),
      "ADC top-k must plan as distributed TakeOrdered:\n" + p131.take(1200))
  }

  test("q134: composed IVF-PQ search stays a join-free probed scan") {
    val p = plan("q134_ivfpq_search")
    assert(!p.contains("Join"),
      "probe filter + ADC must be one map pass:\n" + p.take(1200))
    assert(p.contains("TakeOrdered"), p.take(1200))
  }

  test("q103: k-means assignment is join-free with one aggregate shuffle") {
    val p = plan("q103_kmeans")
    // centroids enter as literal arrays — nearest-centroid must be a
    // map-only expression pass, never a join against a centroid table
    assert(!p.contains("Join"), "assignment must not join:\n" + p.take(1200))
    // exactly one keyed data movement: the (cluster)-keyed final
    // aggregate (the orderBy's range exchange over k output rows is the
    // gate's presentation sort, not a scale cost)
    val exchanges = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(exchanges === 1, s"expected 1 hash exchange, got $exchanges:\n" + p.take(1600))
  }

  test("q141: recipe cumsum is two-phase — no single-partition window anywhere") {
    val p = plan("q141_token_recipe")
    // every window must carry a real partition spec — the doc-level
    // cumsum on (lang, shard), the 32-row offset window on (lang); an
    // empty windowspecdefinition would be the per-language global sort
    // the two-phase design exists to avoid. (The 1-row grand-total agg
    // legitimately exchanges to a single partition — windows are the
    // hazard, not aggregates.)
    val specs = "windowspecdefinition\\(([^,]*)".r
      .findAllMatchIn(p).map(_.group(1).trim).toList
    assert(specs.nonEmpty, "expected the per-shard cumsum window")
    specs.foreach(s => assert(s.startsWith("lang"),
      s"window not partitioned by lang(, shard): spec head '$s'\n" + p.take(1200)))
  }

  test("q142: coverage curve plans with no window and no corpus-sized sort") {
    val p = plan("q142_vocab_coverage")
    assert(!p.contains("Window"), "the curve must not use a window:\n" + p.take(1200))
    // the only sort is the 3-row presentation orderBy
    assert(!p.contains("CartesianProduct"),
      "class suffix join must be a real join, not a cartesian")
  }

  test("q145: attribution probes with a broadcast — the corpus never shuffles for the join") {
    val p = plan("q145_ngram_attribution")
    assert(p.contains("BroadcastHashJoin"),
      "probe gram set must broadcast:\n" + p.take(1600))
    assert(!p.contains("SortMergeJoin"),
      "corpus grams must not shuffle-join the tiny probe:\n" + p.take(1600))
  }

  test("md5-bound profile family: hash keys are built-ins, sketch state partial-aggregates, no row-at-a-time UDF (VERDICT r21 #5)") {
    // The family is CPU-bound on the oracle-contract md5 (sf1 8c/32c
    // core-ratios 1.8–2.1 — it parallelizes; SCALING.md r22). This pin
    // guards the two properties that keep it irreducible-but-tight:
    // (a) every hash key is a Catalyst built-in chain (md5/conv/substring
    //     — no ScalaUDF, no Python eval in the hot loop);
    // (b) the KMV sketch partial-aggregates map-side (bounded ≤64-long
    //     buffers into ONE exchange), and q139's exact profile stays on
    //     codegen'd HashAggregates (no object buffers mixed into the
    //     count-distinct Expand — the r13 3× trap).
    val p140 = plan("q140_profile_sketched")
    assert(p140.contains("partial_kmvsketchnullsafe"),
      "kmv sketch lost its map-side partial aggregation:\n" + p140.take(1200))
    assert(p140.contains("md5("), "oracle-contract hash key missing")
    assert(!p140.contains("ScalaUDF") && !p140.contains("BatchEval"),
      "row-at-a-time UDF crept into the sketch hot loop:\n" + p140.take(1200))
    val p139 = plan("q139_table_profile")
    assert(!p139.contains("ObjectHashAggregate"),
      "q139 must stay on codegen'd HashAggregates:\n" + p139.take(1200))
    assert(!p139.contains("ScalaUDF") && !p139.contains("BatchEval"),
      "row-at-a-time UDF crept into the profile hot loop:\n" + p139.take(1200))
  }

  test("q148: exact quartiles run on the value-domain histogram — no ObjectHashAggregate, windows over histogram rows only") {
    // r22 rewrite (guide §2/§5): percentile()'s ObjectHashAggregate held
    // every distinct cent value in one buffer and merged in one task; the
    // histogram fold keeps every aggregate a partial/final HashAggregate
    // and the only window runs per column over HISTOGRAM rows.
    val p = plan("q148_robust_outliers")
    assert(!p.contains("ObjectHashAggregate") && !p.contains("percentile"),
      "q148 regressed to the single-buffer exact percentile:\n" + p.take(1600))
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      "histogram must partial-aggregate map-side:\n" + p.take(1600))
  }

  test("q147: overlap estimate runs on bounded sketch state — no key-distinct shuffle on the estimator path") {
    val p = plan("q147_join_key_overlap")
    // the ObjectHashAggregate carrying the KMV buffers must be partial
    // before the single-row final (map-side combine of bounded buffers)
    assert(p.contains("partial_kmvsketchvalues") ||
      p.contains("partial_kmv"), "sketch must partial-aggregate:\n" + p.take(1600))
  }
}
