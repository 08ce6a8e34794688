package graft

import org.apache.spark.sql.DataFrame
import graft.queries.{JoinsAggs, LakehousePack, RelationalCore, TextPack}

/** Physical-plan shape assertions for the properties that decide 100 TB
  * behavior: dimension joins must broadcast, top-k must plan
  * TakeOrderedAndProject (never a global sort), scans must prune columns
  * and push predicates, per-row pipelines must stay inside whole-stage
  * codegen, and the SCD2 double-window must reuse one exchange. A query
  * can be value-correct with the wrong plan — these pin the plan.
  */
class PlanShapeSpec extends SparkSpecBase {

  private val sf = "/root/testdata/sf0.001"

  private def planOf(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  private def q(name: String): DataFrame =
    SparkEntry.queries(name)(spark, sf)

  test("revenue top-k: dimension broadcast + TakeOrderedAndProject") {
    val p = planOf(q("q21_revenue_topk_brand"))
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    assert(p.contains("TakeOrderedAndProject"), p.take(2000))
    assert(!p.contains("SortMergeJoin"), "dim join must not shuffle-sort")
  }

  test("filtered scan pushes the predicate into the parquet source") {
    val p = planOf(q("q02_filter_eq"))
    assert(p.contains("PushedFilters: [") &&
      !p.contains("PushedFilters: []"), p.take(2000))
  }

  test("narrow projection prunes the scan schema to selected columns") {
    val p = planOf(q("q01_project_cast"))
    val scanSchema = p.linesIterator
      .find(_.contains("ReadSchema")).getOrElse("")
    // q01 touches a 6-column subset of orders — pruned scan must not
    // carry the full table width
    assert(!scanSchema.contains("o_orderpriority"), scanSchema)
  }

  test("CDC upsert anti-join broadcasts the update batch") {
    val p = planOf(q("q76_upsert_merge"))
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"),
      p.take(3000))
  }

  test("SCD2 double-window reuses a single hash exchange on the key") {
    val p = planOf(q("q77_scd2_history"))
    val exchanges = p.linesIterator
      .filter(_.contains("Exchange hashpartitioning")).toList
    assert(exchanges.size == 1, s"expected 1 exchange, got:\n$p")
  }

  test("column profile reads lineitem in ONE scan (unpivot, not per-column)") {
    val p = planOf(q("q127_column_profile"))
    val scans = p.linesIterator.count(_.contains("FileScan parquet"))
    assert(scans == 1, s"expected a single lineitem scan, got $scans:\n$p")
  }

  test("correlated per-part average broadcasts back onto the fact table") {
    val p = planOf(q("q124_small_qty_revenue"))
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
    assert(!p.contains("SortMergeJoin"),
      "the reduced avg side must broadcast, not shuffle-sort the fact")
  }

  test("large-order query aggregates lineitem BEFORE joining dimensions") {
    val df = q("q121_large_orders")
    val p = planOf(df)
    // the lineitem HashAggregate must sit below the first join: find the
    // aggregate that carries the quantity sum and assert no join appears
    // between it and its scan (plan prints leaves-last, so the agg line
    // must come BELOW every join line in the indented tree)
    val lines = p.linesIterator.toList
    val aggIdx = lines.indexWhere(l =>
      l.contains("HashAggregate") && l.contains("l_quantity"))
    val joinIdx = lines.indexWhere(_.contains("Join"))
    assert(aggIdx > joinIdx && joinIdx >= 0,
      s"quantity agg must be under the joins (agg@$aggIdx join@$joinIdx):\n$p")
  }

  test("basket pairs read lineitem ONCE (basket expansion, not self-join)") {
    val p = planOf(q("q141_basket_pairs"))
    val scans = p.linesIterator.count(_.contains("FileScan parquet"))
    assert(scans == 1, s"expected one lineitem scan, got $scans:\n$p")
  }

  test("scalar-threshold branches read a cached key-grain intermediate") {
    // q102/q135/q136/q139/q146: the filter branch and the scalar branch
    // both consume the persisted reduced aggregate — the fact table must
    // not be re-scanned for the scalar (tools.Explain audit)
    for (name <- Seq("q102_heavy_hitters", "q136_top_supplier",
        "q146_anomaly_days")) {
      val p = planOf(q(name))
      assert(p.contains("InMemoryTableScan"),
        s"$name must read the cached intermediate:\n${p.take(3000)}")
    }
  }

  test("rollup reports expand AFTER the fact-grain aggregate") {
    // q147/q150: ROLLUP plans an Expand (×3 copies of its input). The
    // two-phase form reduces the fact to the report grain first, so the
    // Expand must sit ABOVE a HashAggregate (leaves-last print: the
    // fact-side agg line appears BELOW the Expand line), and the geo
    // dims must broadcast onto a single fact scan.
    for (name <- Seq("q147_geo_rollup_report", "q150_hierarchy_topk")) {
      val p = planOf(q(name))
      assert(p.contains("BroadcastHashJoin") && !p.contains("SortMergeJoin"),
        s"$name geo dims must broadcast:\n${p.take(3000)}")
      val lines = p.linesIterator.toList
      val expandIdx = lines.indexWhere(_.contains("Expand"))
      val factAggIdx = lines.lastIndexWhere(_.contains("HashAggregate"))
      assert(expandIdx >= 0 && factAggIdx > expandIdx,
        s"$name must aggregate before Expand (expand@$expandIdx " +
          s"agg@$factAggIdx):\n$p")
    }
  }

  test("band census is ONE scan and ZERO joins") {
    val p = planOf(q("q149_time_band_census"))
    assert(p.linesIterator.count(_.contains("FileScan parquet")) == 1, p)
    assert(!p.contains("Join"), s"census must not join:\n$p")
  }

  test("YoY movement runs its lag window over the aggregated grain") {
    val lines = planOf(q("q148_yoy_brand_movement")).linesIterator.toList
    val winIdx = lines.indexWhere(_.contains("Window"))
    val aggIdx = lines.lastIndexWhere(_.contains("HashAggregate"))
    // leaves print last: the brand-year aggregate must be BELOW the window
    assert(winIdx >= 0 && aggIdx > winIdx,
      s"window must consume the aggregate (win@$winIdx agg@$aggIdx)")
  }

  test("per-row text pipeline stays inside whole-stage codegen") {
    val df = q("q50_token_count")
    df.collect() // finalize the adaptive plan — codegen spans only show there
    val p = planOf(df)
    // codegen stages render as "*(n)" prefixes in the plan string
    assert("""\*\(\d+\)""".r.findFirstIn(p).isDefined, p.take(2000))
  }

  test("quantization audit is a pure map: no join, no hash exchange") {
    val p = planOf(q("q152_quant_error"))
    assert(!p.contains("Join"), p.take(3000))
    // the only exchange allowed is the final ORDER BY's range partitioning
    assert(!p.contains("Exchange hashpartitioning"), p.take(3000))
  }

  test("quantized ANN broadcasts the query batch; corpus never shuffles") {
    val p = planOf(q("q153_quantized_ann"))
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastHashJoin"), p.take(3000))
    assert(!p.contains("SortMergeJoin"),
      "the 20-query side must broadcast, not shuffle-sort the corpus")
  }

  test("PageRank iterations read the cached edge list, not lineitem") {
    val df = q("q155_pagerank")
    df.collect() // populate the cache + finalize adaptive subtrees
    val p = planOf(df)
    assert(p.contains("InMemoryTableScan"),
      s"edges+degree must persist across iterations:\n${p.take(3000)}")
  }

  test("corpus dedup ledgers: two-level agg + hash window, ONE join") {
    // q156/q157 mark cross-doc duplicates with a window over the
    // (hash, doc) pre-aggregate — the dup-set self-join formulation
    // would re-shuffle the exploded grain; only the doc-grain LEFT
    // join back to documents may appear
    for (name <- Seq("q156_segment_dedup", "q157_substring_dup")) {
      val p = planOf(q(name))
      val joins = p.linesIterator.count(_.contains("Join"))
      assert(joins == 1, s"$name: expected only the doc-grain join, got $joins:\n${p.take(3000)}")
      assert(p.contains("Window"), s"$name must use the hash window")
    }
  }

  test("quality-rule cascade is a pure map: zero hash exchanges") {
    val df = q("q158_filter_rules")
    df.collect() // finalize the adaptive plan so codegen spans print
    val p = planOf(df)
    assert(!p.contains("Exchange hashpartitioning"),
      s"q158 must not shuffle:\n${p.take(3000)}")
    assert(p.contains("WholeStageCodegen") || p.contains("*("),
      "per-row rule evaluation must stay inside codegen")
  }

  test("stratified sample decides membership during the scan") {
    val p = planOf(q("q160_stratified_sample"))
    assert(!p.contains("Exchange hashpartitioning"),
      s"q160 is filter-only — no shuffle:\n${p.take(3000)}")
  }

  test("triangle counting broadcasts adjacency; edge grain never sorts") {
    val df = q("q161_triangles")
    df.collect() // finalize adaptive plan + populate the edge cache
    val p = planOf(df)
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
    assert(!p.contains("SortMergeJoin"),
      "edge-grain joins must broadcast the adjacency table")
    assert(p.contains("InMemoryTableScan"),
      "the oriented edge list must persist across its consumers")
  }

  test("PQ / IVF+PQ search broadcasts models; corpus never broadcasts") {
    // executed AdaptiveSparkPlan prints Final AND Initial sections —
    // assert only on the final one (AQE may convert initial SMJs)
    def finalPlan(name: String): String = {
      val df = q(name)
      df.collect()
      planOf(df).split("== Initial Plan ==").head
    }
    // q168: every join side is a model table (codebooks, LUT) → all
    // broadcast, zero sort-merge
    val p168 = finalPlan("q168_pq_adc")
    assert(p168.contains("BroadcastHashJoin"), p168.take(3000))
    assert(!p168.contains("SortMergeJoin"),
      "q168: codebooks/LUT must broadcast")
    // q169 adds ONE corpus-grain join (candidates ⋈ codes on vec_id —
    // bucketable to zero-exchange at scale); routing + LUT broadcast
    val p169 = finalPlan("q169_ivf_pq")
    val smjs = p169.linesIterator.count(_.contains("SortMergeJoin"))
    val bhjs = p169.linesIterator.count(_.contains("BroadcastHashJoin"))
    assert(smjs <= 1, s"q169: only the vec_id probe may sort-merge:\n$p169")
    assert(bhjs >= 2, s"q169: routing and LUT must broadcast:\n$p169")
  }

  test("composed corpus pipeline is ONE scan, zero joins") {
    // static plan properties — no collect, so the single printed tree is
    // the whole plan (no Initial-section double count)
    val p = planOf(q("q170_corpus_pipeline"))
    val scans = p.linesIterator.count(_.contains("FileScan parquet"))
    assert(scans == 1, s"expected one documents scan, got $scans:\n$p")
    assert(!p.contains("Join"),
      s"stage flags must cascade in-plan, not via joins:\n${p.take(3000)}")
    assert(p.contains("Window"), "dedup rank + packing cumsum windows")
  }

  test("SemDeDup pair scan reads the cached assignment, not the corpus") {
    // pin on the OPTIMIZED LOGICAL plan: the executed-plan string nests
    // whole AdaptiveSparkPlans (with their own Initial sections) inside
    // InMemoryRelation blocks, so section-splitting truncates the tree
    // (the final-plan trap, compounded); the logical tree shows each cache
    // read as one InMemoryRelation node with no nesting
    import org.apache.spark.sql.execution.columnar.InMemoryRelation
    val lp = q("q172_semdedup").queryExecution.optimizedPlan
    val leaves = lp.collectLeaves()
    // both sides of the within-cluster self-join and the final ledger
    // must come from the persisted assignment — the Lloyd chain and the
    // embeddings scan run once, not three times
    val mem = leaves.count(_.isInstanceOf[InMemoryRelation])
    assert(mem >= 3, s"expected >=3 reads of the cached assignment:\n$lp")
    assert(leaves.size === mem, s"non-cache corpus leaf in the plan:\n$lp")
  }

  test("hashed classifier is scan → partial agg → one exchange") {
    val p = planOf(q("q174_hash_classifier"))
    // hash + weight + sum must partial-aggregate before the doc_id
    // shuffle: a partial HashAggregate below the exchange
    val i = p.indexOf("Exchange hashpartitioning(doc_id")
    assert(i > 0, s"doc-grain exchange missing:\n${p.take(3000)}")
    assert(p.indexOf("HashAggregate", i) > 0 &&
      p.drop(i).contains("HashAggregate"),
      "final agg above; partial agg below")
    assert(!p.contains("SortMergeJoin"), "empty-doc join must broadcast")
  }

  test("report card is one corpus scan; leak matrix caches its grain") {
    import org.apache.spark.sql.execution.columnar.InMemoryRelation
    // q179: every signal is in-row — one documents scan, no joins, one
    // th window + one source aggregate
    val p179 = planOf(q("q179_source_report_card"))
    val scans = p179.linesIterator.count(_.contains("FileScan parquet"))
    assert(scans == 1, s"q179 expected one documents scan, got $scans")
    assert(!p179.contains("Join"), "q179 signals must not join")
    // q182: both self-join aliases must read the cached (h, source)
    // counts — the segment explode pipeline runs once
    val lp = q("q182_source_leak_matrix").queryExecution.optimizedPlan
    val leaves = lp.collectLeaves()
    assert(leaves.count(_.isInstanceOf[InMemoryRelation]) == 2 &&
      leaves.size == 2,
      s"q182 both aliases must read the cache:\n$lp")
  }

  test("padding audit and tempered mixture read their cached projections") {
    import org.apache.spark.sql.execution.columnar.InMemoryRelation
    // q183: both strategy deals come from the cached (id, length)
    // projection — through DistRank each deal reads its range-shuffled
    // cache twice (offsets pass + rank join), so every leaf must still
    // be a cache, never a re-scan of documents; q184: the normalizer row
    // and the final projection both read the cached source-grain agg
    for (name <- Seq("q183_padding_audit", "q184_temperature_mixture")) {
      val leaves = q(name).queryExecution.optimizedPlan.collectLeaves()
      assert(leaves.nonEmpty &&
        leaves.forall(_.isInstanceOf[InMemoryRelation]),
        s"$name must read only caches, got ${leaves.map(_.nodeName)}")
    }
  }

  test("BM25 reuses ONE persisted tf: df/weights/query terms share it") {
    // programmatic leaf walk, not string counting: InMemoryRelation
    // PRINTS its cached physical plan (including that plan's FileScan
    // lines), so substring counts see phantom corpus scans
    import org.apache.spark.sql.execution.columnar.InMemoryRelation
    val lp = q("q173_bm25_retrieval").queryExecution.optimizedPlan
    val leaves = lp.collectLeaves()
    val mem = leaves.count(_.isInstanceOf[InMemoryRelation])
    assert(mem >= 3, s"tf must feed df, weights AND query terms:\n$lp")
    // the only non-cache leaf is the one-row stats scan (N, avgdl) —
    // every tokenized corpus read comes from the persisted tf
    assert(leaves.size - mem <= 1,
      s"corpus re-scan outside the cached tf:\n$lp")
  }

  test("AUC reduces to score grain in ONE corpus scan, no joins") {
    val p = planOf(q("q200_classifier_auc"))
    assert(p.linesIterator.count(_.contains("FileScan parquet")) == 1,
      s"q200 must scan documents once:\n${p.take(3000)}")
    assert(!p.contains("Join"), "rank-sum AUC needs no join")
    // tokenize+hash partial-aggregates below the score exchange
    assert(p.contains("Exchange hashpartitioning(score"),
      s"score-grain exchange missing:\n${p.take(3000)}")
  }

  test("gains/chi2/encoding/Spearman read their cached grains") {
    import org.apache.spark.sql.execution.columnar.InMemoryRelation
    // q204: checkpoint rows + totals both from the cached gain grain;
    // q206: window pass + scalar total from the cached cell grid;
    // q207: per-source rows + prior from the cached source grain
    for (name <- Seq("q204_cumulative_gains", "q206_chi2_source",
        "q207_target_encoding")) {
      val leaves = q(name).queryExecution.optimizedPlan.collectLeaves()
      assert(leaves.count(_.isInstanceOf[InMemoryRelation]) == 2 &&
        leaves.size == 2, s"$name must read only its cache, twice")
    }
    // q205: doc pairs + the two rank tables — three cache reads, and the
    // tokenize+hash projection never re-runs
    val leaves = q("q205_spearman_len").queryExecution
      .optimizedPlan.collectLeaves()
    val mem = leaves.count(_.isInstanceOf[InMemoryRelation])
    assert(mem == 3 && leaves.size == 3,
      "q205 must read only the cached (score, n_chars) pairs, thrice")
  }

  test("Spearman rank joins broadcast the tiny rank tables") {
    val p = planOf(q("q205_spearman_len"))
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
    assert(!p.contains("SortMergeJoin"),
      "value-grain rank tables must broadcast")
  }

  test("windowed funnel: one events scan, fold in-row, no join") {
    val p = planOf(q("q199_window_funnel"))
    assert(p.linesIterator.count(_.contains("FileScan parquet")) == 1,
      s"q199 must scan events once:\n${p.take(3000)}")
    assert(!p.contains("Join"), "the DP is an in-row fold, not a join")
    val exchanges = p.linesIterator
      .count(_.contains("Exchange hashpartitioning"))
    assert(exchanges <= 2, s"user grain + level histogram only:\n$p")
  }

  test("A/B readout broadcasts the order-grain aggregate") {
    val p = planOf(q("q195_ab_readout"))
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
    assert(!p.contains("SortMergeJoin"),
      "customer-grain join must broadcast at test scale")
  }

  test("seasonality/repeat-purchase read their cached day/band grains") {
    import org.apache.spark.sql.execution.columnar.InMemoryRelation
    for (name <- Seq("q197_dow_seasonality", "q198_time_to_repeat")) {
      val leaves = q(name).queryExecution.optimizedPlan.collectLeaves()
      assert(leaves.count(_.isInstanceOf[InMemoryRelation]) == 2 &&
        leaves.size == 2, s"$name must read only its cache, twice")
    }
  }

  test("simhash candidates join on pigeonhole segments, not lang alone") {
    val p = planOf(q("q63_simhash"))
    // the candidate self-join must carry the segment value in its equi-key
    // set (hamming ≤ 2 ⇒ one of 3 disjoint segments matches exactly) —
    // a lang-only equi-join is the O(n²/|langs|) shape this pin forbids
    val joinLines = p.linesIterator.filter(l =>
      l.contains("SortMergeJoin") || l.contains("ShuffledHashJoin") ||
        l.contains("BroadcastHashJoin")).toList
    assert(joinLines.exists(_.contains("seg_val")),
      s"candidate join must key on (lang, seg_idx, seg_val):\n${p.take(4000)}")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      "no nested-loop pair generation")
  }

  test("cosine near-dup blocks on label and prunes the sampled scan") {
    val p = planOf(q("q64_cosine_dup"))
    // the pair join must be a hash-partitioned equi-join on the block key,
    // never a nested-loop cross; the 1-in-2 systematic sample must reach
    // the parquet scan as a pushed/partial filter, not a post-scan drop
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"),
      s"pair generation must stay an equi-join on label:\n${p.take(4000)}")
    val joinLines = p.linesIterator.filter(l =>
      l.contains("SortMergeJoin") || l.contains("ShuffledHashJoin") ||
        l.contains("BroadcastHashJoin")).toList
    assert(joinLines.exists(_.contains("label")),
      s"join must key on label:\n${p.take(4000)}")
  }

  test("ER candidates are an equi-join on the rare gram, never all-pairs") {
    val p = planOf(q("q251_entity_resolution"))
    // the only permissible nested-loop joins are the 1-row scalar Cross
    // broadcasts (the registry-count that sizes the auto-ℓ blocking key);
    // record-pair generation must never nested-loop
    val nlj = p.linesIterator
      .filter(_.contains("BroadcastNestedLoopJoin")).toList
    assert(!p.contains("CartesianProduct") &&
      nlj.forall(_.contains("Cross")),
      s"rare-gram blocking must stay an equi-join:\n${p.take(4000)}")
    val joinLines = p.linesIterator.filter(l =>
      l.contains("SortMergeJoin") || l.contains("ShuffledHashJoin") ||
        l.contains("BroadcastHashJoin")).toList
    assert(joinLines.exists(_.contains("g#")),
      s"candidate join must key on the gram:\n${p.take(4000)}")
  }

  test("caliper matching is sort-merge: no candidate join, LOCF fills") {
    // r11 spelling: no score-cell candidate join at all — controls
    // collapse to score grain and two LOCF window passes carry the
    // nearest control per side
    val p = planOf(q("q252_propensity_match"))
    assert(p.contains("BroadcastHashJoin"),
      s"stratum score table must broadcast:\n${p.take(4000)}")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      "matching must never go nested-loop")
    // at corpus scale the fill passes re-plan distributed: force the
    // size gate and pin the multi-key LOCF rewrite
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val old = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try {
      val pf = planOf(q("q252_propensity_match"))
      assert(pf.contains("graft_rank_pid"),
        s"fill passes must ride the multi-key LOCF arm:\n${pf.take(4000)}")
      val windows = pf.linesIterator.filter(_.contains("Window ")).toList
      assert(windows.forall(_.contains("graft_rank_pid")),
        s"no single-partition window may remain:\n${pf.take(4000)}")
    } finally spark.conf.set(key, old)
  }

  test("interval overlap joins on (customer, tile), never nested-loop") {
    val p = planOf(q("q256_interval_overlap"))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"tiling must make the interval join an equi-join:\n${p.take(4000)}")
    val joinLines = p.linesIterator.filter(l =>
      l.contains("SortMergeJoin") || l.contains("ShuffledHashJoin") ||
        l.contains("BroadcastHashJoin")).toList
    assert(joinLines.exists(_.contains("tile")),
      s"pair join must key on the tile:\n${p.take(4000)}")
  }

  test("weighted quartiles: ONE lineitem scan, ONE exchange on the group") {
    val p = planOf(q("q257_weighted_quartiles"))
    val scans = p.linesIterator.count(_.contains("FileScan parquet"))
    assert(scans == 1, s"expected 1 scan, got $scans:\n${p.take(3000)}")
    val exchanges = p.linesIterator
      .filter(_.contains("Exchange hashpartitioning")).toList
    assert(exchanges.size == 1,
      s"cumw and total must share one exchange:\n${p.take(3000)}")
  }

  test("watermark audit: events-grain running max is a PARTITIONED window") {
    val p = planOf(q("q255_watermark_audit"))
    val windowLines = p.linesIterator.filter(_.contains("Window ")).toList
    // the per-row running max must carry the bucket partition spec; the
    // only permissible unpartitioned window is the n/256-row bucket table
    assert(windowLines.exists(_.contains("[bkt")),
      s"running max must partition by bucket:\n${p.take(4000)}")
    assert(p.contains("BroadcastHashJoin"),
      "the tiny bucket-prefix table must broadcast back")
  }

  test("SRP-LSH: segment-keyed candidate join, broadcast verify join-back") {
    val p = planOf(q("q260_srp_lsh_dup"))
    // same contract as the q63 pin: pair generation must key on the
    // pigeonhole segment value, never a nested-loop over all vectors
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"),
      s"pair generation must stay a segment equi-join:\n${p.take(4000)}")
    val joinLines = p.linesIterator.filter(l =>
      l.contains("SortMergeJoin") || l.contains("ShuffledHashJoin") ||
        l.contains("BroadcastHashJoin")).toList
    assert(joinLines.exists(_.contains("seg_val")),
      s"candidate join must key on (seg_idx, seg_val):\n${p.take(4000)}")
    // the exact-cosine verify must re-join the heavy double arrays via the
    // small candidate set (broadcast), not shuffle the corpus arrays
    assert(p.contains("BroadcastHashJoin"),
      s"candidate join-back must broadcast:\n${p.take(4000)}")
  }

  test("hamming rule: the naively-written q276 join plans via graft_seg") {
    val p = planOf(q("q276_hamming_join_rule"))
    assert(p.contains("graft_seg"),
      s"HammingJoinBlocking must rewrite the theta join:\n${p.take(4000)}")
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"),
      s"no nested-loop pair generation:\n${p.take(4000)}")
  }

  test("hamming rule: q277's 60-bit long join also plans via graft_seg") {
    val p = planOf(q("q277_simhash64_rule"))
    assert(p.contains("graft_seg") &&
      !p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"), p.take(4000))
  }

  test("hamming rule: q292's two-word 120-bit sum also plans via graft_seg") {
    val p = planOf(q("q292_simhash128_rule"))
    assert(p.contains("graft_seg") &&
      !p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"), p.take(4000))
  }

  test("edit-distance rule: the naively-written q334 fuzzy join plans via graft_edp") {
    val p = planOf(q("q334_fuzzy_join_rule"))
    assert(p.contains("graft_edp"),
      s"EditDistanceJoinBlocking must rewrite the theta join:\n${p.take(4000)}")
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"),
      s"no nested-loop pair generation:\n${p.take(4000)}")
  }

  test("edit-distance rule: q335's fuzzy anti-join plans at combo grain") {
    val p = planOf(q("q335_fuzzy_anti_rule"))
    assert(p.contains("graft_edp") &&
      !p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"), p.take(4000))
  }

  test("set-similarity rule: the naively-written q338 Jaccard join plans via graft_sst") {
    val p = planOf(q("q338_jaccard_join_rule"))
    assert(p.contains("graft_sst"),
      s"SetSimilarityJoinBlocking must rewrite the theta join:\n${p.take(4000)}")
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"),
      s"no nested-loop pair generation:\n${p.take(4000)}")
  }

  test("set-similarity rule: q339's Jaccard anti-join plans at prefix grain") {
    val p = planOf(q("q339_jaccard_anti_rule"))
    assert(p.contains("graft_sst") &&
      !p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"), p.take(4000))
  }

  test("q349 pipeline: both anti stages run blocked, no nested loops") {
    val p = planOf(q("q349_pipeline_e2e"))
    assert(p.contains("graft_sst"),
      s"near-dup pruning must use the set-similarity anti arm:\n${p.take(4000)}")
    assert(p.contains("graft_edp"),
      s"decontamination must use the edit-distance anti arm:\n${p.take(4000)}")
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"),
      s"no nested-loop stage in the pipeline:\n${p.take(4000)}")
  }

  test("q350 containment: min-element probe, distinct explode, empty branch") {
    val p = planOf(q("q350_containment_join_rule"))
    assert(p.contains("graft_sst") && p.contains("Union"),
      s"containment arm must fire with the empty branch:\n${p.take(4000)}")
    // the TOKEN branch must be a hash join on the probe key; the ∅
    // branch is LEGITIMATELY a nested loop (over a provably empty
    // input here — groupBy sets are never empty), so only the probe
    // join's shape is pinned
    assert(p.linesIterator.exists(l =>
      (l.contains("BroadcastHashJoin") || l.contains("SortMergeJoin")) &&
        l.contains("graft_sst")),
      s"probe join must hash on the min-element key:\n${p.take(4000)}")
  }

  test("q351/q352 mirrored containment: existence/anti chains at token grain") {
    // q351 (mirrored SEMI): branch-1 evidence must be a HASH
    // ExistenceJoin on the min-element key; the ∅-sub existence probe
    // is legitimately a nested loop over a provably empty input
    // (groupBy part sets are never empty), and the rid collapse
    // restores left grain
    val p1 = planOf(q("q351_containment_semi_rule"))
    assert(p1.contains("graft_sst") && p1.contains("graft_sse1") &&
      p1.contains("graft_rid"),
      s"mirrored semi must plan the existence chain:\n${p1.take(4000)}")
    assert(p1.linesIterator.exists(l =>
      (l.contains("BroadcastHashJoin") || l.contains("ShuffledHashJoin")
        || l.contains("SortMergeJoin")) && l.contains("ExistenceJoin")),
      s"branch-1 evidence must hash-join:\n${p1.take(4000)}")
    // q352 (mirrored ANTI): the double-anti chain with the
    // per-row fan-out count collapse
    val p2 = planOf(q("q352_containment_anti_rule"))
    assert(p2.contains("graft_sst") && p2.contains("graft_ssn") &&
      p2.contains("graft_rid"),
      s"mirrored anti must plan the pigeonhole chain:\n${p2.take(4000)}")
    assert(p2.linesIterator.exists(l =>
      (l.contains("BroadcastHashJoin") || l.contains("ShuffledHashJoin")
        || l.contains("SortMergeJoin")) && l.contains("LeftAnti") &&
        l.contains("graft_sst")),
      s"token-grain anti must hash-join:\n${p2.take(4000)}")
  }

  test("q353/q354 containment LEFT OUTER: hash token branches, left grain restored") {
    // q353 (subset on the left): a two-branch Union of LEFT OUTER
    // joins at left grain — NO rid machinery (the ∅-sub split is a
    // deterministic left-row function); the token branch must
    // hash-join on the min-element probe key. The ∅ branch is
    // legitimately a nested loop over a provably empty input
    // (groupBy part sets are never empty).
    val p1 = planOf(q("q353_containment_outer_rule"))
    assert(p1.contains("graft_sst") && p1.contains("Union") &&
      !p1.contains("graft_rid"),
      s"subset-left outer is rid-free branch union:\n${p1.take(4000)}")
    assert(p1.linesIterator.exists(l =>
      (l.contains("BroadcastHashJoin") || l.contains("ShuffledHashJoin")
        || l.contains("SortMergeJoin")) && l.contains("LeftOuter") &&
        l.contains("graft_sst")),
      s"token branch must hash LeftOuter on the probe key:\n${p1.take(4000)}")
    // q354 (mirrored): Inner ∪ (anti × nulls) — the matched branch
    // hash-joins at token grain, the null-extension branch carries
    // the double-anti pigeonhole (rid + fan-out count)
    val p2 = planOf(q("q354_containment_outer_mirror"))
    assert(p2.contains("graft_sst") && p2.contains("Union") &&
      p2.contains("graft_rid") && p2.contains("graft_ssn"),
      s"mirrored outer must union inner + anti branches:\n${p2.take(4000)}")
    assert(p2.linesIterator.exists(l =>
      (l.contains("BroadcastHashJoin") || l.contains("ShuffledHashJoin")
        || l.contains("SortMergeJoin")) && l.contains("graft_sst") &&
        !l.contains("LeftAnti")),
      s"matched branch must hash-join the token key:\n${p2.take(4000)}")
    assert(p2.linesIterator.exists(l =>
      (l.contains("BroadcastHashJoin") || l.contains("ShuffledHashJoin")
        || l.contains("SortMergeJoin")) && l.contains("LeftAnti") &&
        l.contains("graft_sst")),
      s"null-extension branch must hash the token anti:\n${p2.take(4000)}")
  }

  test("SRP cosine rule: the q342 shape plans signature segments under the opt-in") {
    // the registered q342 eagerly localCheckpoints (conf isolation),
    // which truncates its visible plan — pin the same construction
    // inline: naive cosine quotient over the embeddings table, opt-in
    // on, no blocking anywhere in the query text
    import graft.functions.Vectors
    import org.apache.spark.sql.functions._
    spark.conf.set("spark.graft.srpjoin.segments", "3")
    spark.conf.set("spark.graft.srpjoin.bits", "24")
    try {
      val rel = graft.catalog.Tables.load(spark, sf, "embeddings")
        .select(col("vec_id"),
          col("embedding").cast("array<double>").as("v"))
      val y = rel.select(col("vec_id").as("vec_id2"), col("v").as("v2"))
      val cos = Vectors.dot(col("v"), col("v2")) /
        (sqrt(Vectors.dot(col("v"), col("v"))) *
          sqrt(Vectors.dot(col("v2"), col("v2"))))
      val p = planOf(rel.join(y,
        cos >= lit(0.95) && col("vec_id") < col("vec_id2")))
      assert(p.contains("graft_csig"),
        s"CosineJoinBlocking must inject the signature gate:\n${p.take(4000)}")
      assert(p.contains("graft_seg"),
        s"HammingJoinBlocking must plan the segments:\n${p.take(4000)}")
      assert(!p.contains("BroadcastNestedLoopJoin") &&
        !p.contains("CartesianProduct"),
        s"no nested-loop pair generation:\n${p.take(4000)}")
    } finally {
      spark.conf.unset("spark.graft.srpjoin.segments")
      spark.conf.unset("spark.graft.srpjoin.bits")
    }
  }

  test("composed blocking: q341's hamming+band join plans via graft_seg") {
    // at gate SFs the hamming rule's segment keys + broadcastable
    // sides let the band arm stand down into a residual (doctrine);
    // RuleCompositionSpec pins the forced two-rule plan
    val p = planOf(q("q341_composed_blocking"))
    assert(p.contains("graft_seg") &&
      !p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"), p.take(4000))
  }

  test("membership rule: q340's array_contains join plans as a hash join") {
    val p = planOf(q("q340_membership_join_rule"))
    assert(p.contains("graft_sst") &&
      !p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"), p.take(4000))
  }

  test("as-of join: bucketed equi-join candidates, never a theta nested loop") {
    val p = planOf(q("q261_asof_join"))
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"),
      s"candidate generation must stay (user_id, bkt) equi-keyed:\n${p.take(4000)}")
    val joinLines = p.linesIterator.filter(l =>
      l.contains("SortMergeJoin") || l.contains("ShuffledHashJoin") ||
        l.contains("BroadcastHashJoin")).toList
    assert(joinLines.exists(l => l.contains("bkt") && l.contains("user_id")),
      s"candidate join must key on (user_id, bkt):\n${p.take(4000)}")
  }

  test("global ranks run distributed: every window carries graft_rank_pid") {
    // the r5-flagged corpus-grain family — after the DistRank swap, NO
    // window in these plans may order an unaggregated corpus-grain input
    // in a single partition: the rank windows partition by the range-
    // slice id, and the only unpartitioned windows are the P-row offsets
    // prefix sums (which ORDER BY the same id — so every Window line
    // must mention it)
    for (name <- Seq("q114_curriculum_stages", "q115_shuffle_shards",
        "q142_rfm_segments", "q171_ppl_buckets", "q177_shard_manifest",
        "q183_padding_audit", "q46_ntile_percentile", "q185_zipf_audit")) {
      val p = planOf(q(name))
      val windowLines = p.linesIterator.filter(_.contains("Window ")).toList
      assert(windowLines.nonEmpty, s"$name: expected DistRank windows:\n$p")
      assert(windowLines.forall(_.contains("graft_rank_pid")),
        s"$name: corpus-grain unpartitioned window leaked:\n${p.take(5000)}")
    }
  }

  test("priority sample: top-(k+1) is TakeOrdered, rank window is k+1-row") {
    val p = planOf(q("q229_priority_sample"))
    assert(p.contains("TakeOrderedAndProject"),
      s"top-(k+1) must plan per-partition heads + driver merge:\n${p.take(4000)}")
    // no global range-sort of the orders scan feeds the window — the only
    // sort above the scan belongs to TakeOrderedAndProject itself
    assert(!p.contains("Exchange rangepartitioning"),
      s"corpus-grain global sort leaked:\n${p.take(4000)}")
  }

  test("join-card estimate: the top-10 head is TakeOrdered, no rank window") {
    val p = planOf(q("q240_join_card_estimate"))
    assert(p.contains("TakeOrderedAndProject"), p.take(4000))
    assert(!p.contains("Window"), s"no window belongs in this plan:\n$p")
  }

  test("q290 registers-only profile: two hash exchanges, no join, no " +
    "value-grain distinct") {
    val p = planOf(q("q290_profile_hll_only"))
    // registers-only = row-grain hashes → (column, idx) max-ρ →
    // (column) estimate: exactly the two aggregate exchanges, nothing
    // at (column, value) grain, and no audit join anywhere. The final
    // range exchange sorts ≤ n_profiled_columns rows — bounded grain.
    val hashEx = p.linesIterator
      .count(_.contains("Exchange hashpartitioning"))
    assert(hashEx == 2, s"expected 2 hash exchanges, got $hashEx:\n$p")
    assert(!p.contains("Join"), s"audit join leaked into q290:\n$p")
    val distinctAgg = p.linesIterator.exists(l =>
      l.contains("HashAggregate(keys=[column#") && l.contains(", v#"))
    assert(!distinctAgg, s"(column, value)-grain aggregate leaked:\n$p")
  }

  test("item-item CF reads lineitem ONCE: basket + pair exchanges reuse") {
    // q191 derives per-part support from the SAME basket aggregate the
    // pair side shuffles — AQE must serve the union's second branch and
    // the support branch from ReusedExchange instead of re-scanning
    // lineitem (the r11 claim, pinned here). Reuse decisions only exist
    // in the FINAL adaptive plan, so execute and split off the Initial
    // section before counting. Clear the shared session's SQL cache
    // first: sibling tests persist the same basket aggregate (q350-354),
    // and a substituted InMemoryRelation would replace the exchange this
    // pin asserts on — Bench clears the cache between queries, so the
    // isolated plan is the one that matters.
    spark.sqlContext.clearCache()
    val df = q("q191_item_item_cf")
    df.collect()
    val p = planOf(df).split("== Initial Plan ==").head
    val scans = p.linesIterator.count(_.contains("FileScan parquet"))
    assert(scans == 1, s"expected ONE lineitem scan, got $scans:\n${p.take(5000)}")
    assert(p.contains("ReusedExchange"),
      s"basket/pair exchanges must reuse:\n${p.take(5000)}")
  }

  test("q236 audit: exact arm ranks distributed, sketch arm ≤64 groups") {
    val p = planOf(q("q236_histogram_quantiles"))
    val windowLines = p.linesIterator.filter(_.contains("Window ")).toList
    assert(windowLines.nonEmpty, p)
    // the exact-rank windows carry the range-slice id; the only other
    // window is the ≤64-row bin cumsum (which mentions `bin`)
    assert(windowLines.forall(l =>
      l.contains("graft_rank_pid") || l.contains("bin")),
      s"corpus-grain unpartitioned window leaked:\n${p.take(5000)}")
  }
}
