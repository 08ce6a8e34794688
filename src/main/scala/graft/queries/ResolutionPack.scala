package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.catalog.Tables

/** Record-linkage and pipeline-health operators: entity resolution with
  * rare-gram (prefix-filter) blocking and golden-record survivorship,
  * propensity-score caliper matching, a shuffle-skew audit, a KMV
  * corpus-overlap sketch, and an event-time out-of-orderness audit that
  * sizes streaming watermarks. Each rounds out a family the packs already
  * cover from a different angle: q251 is ER over *records* (vs q62's
  * document near-dup), q252 is matched-control selection (vs q237's IPS
  * reweighting), q253 measures the skew q79 salts, q254 sketches corpus
  * *similarity* (vs q209/q213's distinct counts), and q255 measures the
  * disorder the streaming twins' watermarks must absorb.
  *
  * Exactness doctrine unchanged (see [[QueryPack]]): md5 for all
  * pseudo-randomness, integer units until a final division, identical
  * IEEE op sequences on both engines, total ORDER BY everywhere.
  */
object ResolutionPack extends QueryPack {

  import TrainingPipelinePack.{md5Hash32, duckBucket}

  // --- q251: entity resolution ---------------------------------------------

  private val ErDupMod = 4
  private val ErOffset = 5000000L
  private val ErTau = 0.9

  /** Character 3-gram set of a (short) string column. */
  private def charGrams(nm: Column): Column =
    when(length(nm) < 3, array(nm))
      .otherwise(array_distinct(transform(
        sequence(lit(1), length(nm) - 2), i => nm.substr(i, lit(3)))))

  /** [[charGrams]] with a COLUMN gram length — the blocking key must be
    * sizable from data (see q251's auto-ℓ). */
  private def charGramsL(nm: Column, l: Column): Column =
    when(length(nm) < l, array(nm))
      .otherwise(array_distinct(transform(
        sequence(lit(1), length(nm) - (l - lit(1))), i => nm.substr(i, l))))

  /** Blocking gram length from registry size: |Σ|^ℓ ≫ n, the
    * ErScale law (~10-char effective alphabet on id-bearing names:
    * 10³ keys carry ≲30 k records at tiny blocks, 10⁴ ≲100 k, then 5).
    * Shared by q251 (which sizes n from the stats-only base count ×
    * the fixed 5/4 dup expansion — a size class, not an exact census)
    * and the probe's auto-ℓ arm (which uses the actual registry count —
    * same law, same thresholds). */
  private[graft] def blockLenOf(n: Long): Int =
    if (n > 100000L) 5 else if (n > 30000L) 4 else 3

  private def blockLenCol(n: Column): Column =
    lit(3) + (n > 30000L).cast("int") + (n > 100000L).cast("int")

  /** q251 — entity resolution with rare-gram blocking and golden-record
    * survivorship. A dirty registry is synthesized by re-inserting a
    * deterministic quarter of customers as case-mangled, suffix-typo'd
    * near-copies (md5-selected; `+0.01` balance drift), then resolved:
    *
    *  1. normalize (lowercase) → char-3-gram sets;
    *  2. BLOCK on each record's 2 RAREST grams (corpus document frequency,
    *     ties by gram) — the prefix-filtering principle from similarity
    *     joins: a pair can match only if it shares a rare gram. Recall here
    *     is provably 100%: a variant's gram set is its source's plus at
    *     most one novel gram, so the source's rarest common gram sits in
    *     both records' rare-2 lists (both rank the shared grams by the same
    *     corpus df). Common grams (shared prefixes) are almost never
    *     anyone's rarest, so blocks stay tiny — no lang-block/all-pairs
    *     blowup (the q63 lesson). The BLOCKING gram length is AUTO-SIZED
    *     from the registry (r6): [[blockLenOf]] picks ℓ ∈ {3,4,5} so the
    *     key space outgrows the corpus (|Σ|^ℓ ≫ n, the ER analogue of
    *     SimHash width ~2·log₂ n) — `ScaleLaw ErScale` measures
    *     fixed 3-grams going ×4 per corpus doubling (digit-gram space
    *     saturates) where 5-grams hold ×~2 with identical 100% planted
    *     recall, and its auto-ℓ arm tracks the good curve at every k. The
    *     registry count that sizes ℓ rides the plan as a 1-row broadcast
    *     (no driver action); VERIFICATION grams stay fixed at the 3-gram
    *     τ-contract, so the match predicate — and with it the resolved
    *     output — is ℓ-invariant (the ≤1-novel-gram recall proof is
    *     length-independent);
    *  3. verify candidates by exact gram-set Jaccard ≥ 0.9 AND exact
    *     agreement on nation and segment. Since r10 the agreement
    *     fields are part of the BLOCKING KEY (g, nation, segment) —
    *     a qualifying pair agrees on them by this very predicate, so
    *     recall is untouched while hot-gram blocks split and the
    *     payload join-back happens once at rare grain (2 rows/record)
    *     instead of candidate grain. Multi-field agreement is
    *     what makes this ER rather than string similarity: near-sequential
    *     ids ("…12345" vs "…123450") share ≥ 0.9 of their grams, so a
    *     name-only rule mega-merges the registry — measured at sf0.1, a
    *     name-only τ=0.8 collapsed 17k records into 185 entities;
    *  4. cluster by TWO fixed rounds of min-label propagation over the
    *     verified pair graph (+self-loops) — bounded, engine-identical;
    *  5. survivorship per cluster: min rec_id entity, max balance (exact
    *     cents), min segment — then a per-nation rollup of the golden
    *     registry.
    */
  private def q251(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.load(s, dir, "customer")
      .select(col("c_custkey").as("rec_id"), col("c_name").as("raw_name"),
        col("c_nationkey").as("nation"), col("c_acctbal").as("bal"),
        col("c_mktsegment").as("segment"))
    val dirty = base.unionByName(
      base.filter(md5Hash32(col("rec_id"), "erdup") % ErDupMod === 0)
        .select((col("rec_id") + ErOffset).as("rec_id"),
          upper(concat(col("raw_name"), lit("x"))).as("raw_name"),
          col("nation"), (col("bal") + lit(0.01)).as("bal"), col("segment")))
    // NOT persisted — measured at sf0.1: caching the gram-array rows
    // costs MORE than recomputing the substring transform inside each
    // branch's codegen pipeline (6.6 s cached vs 5.0 s uncached on the
    // same host); columnar scans + WSCG beat a row-cache round-trip for
    // cheap per-row derivations. (The q110/q183 caches survive because
    // their cached grain is REDUCED, not row-grain-with-arrays.)
    val recs = dirty
      .withColumn("nm", lower(col("raw_name")))
      .withColumn("grams", charGrams(col("nm")))
    // sizing signal only (threshold at 30 k/100 k): the base-table count
    // is a stats-only parquet read, and the md5-quarter expansion is a
    // fixed 5/4 — both engines derive the same n_reg without a second
    // pass over the gram-computed registry
    val nReg = Tables.load(s, dir, "customer")
      .agg(call_function("div", count(lit(1)) * 5, lit(4L)).as("n_reg"))
    // blocking grams: at ℓ=3 share the verification grams expression;
    // the variable-ℓ branch only evaluates when the registry outgrows
    // the 3-gram key space (CaseWhen is lazy per row)
    val blockGrams = when(blockLenCol(col("n_reg")) === 3, col("grams"))
      .otherwise(charGramsL(col("nm"), blockLenCol(col("n_reg"))))
    val gr = recs.crossJoin(broadcast(nReg))
      .select(col("rec_id"), explode(blockGrams).as("g"))
    // rare-2 selection: corpus df as a gram-grain AGGREGATE broadcast
    // back (r11 — the r10 window spelling shuffled the FULL 2M-row
    // gram explode and sorted it per g; the aggregate map-side-combines
    // to the ~10k-distinct-gram grain before any exchange and the
    // explode re-derivation is a columnar no-shuffle pass, cutting the
    // cold single-shot's dominant stage), then top-2 via a 15-element
    // array_sort inside the per-record aggregate (no row_number
    // window) — same (df, g) values and tie order, bit-identical rare
    // set (ColdProbe A/B + oracle both pinned).
    val gdf = gr.groupBy("g").agg(count(lit(1)).as("df"))
    val rare = gr.join(broadcast(gdf), Seq("g"))
      .groupBy("rec_id")
      .agg(slice(array_sort(collect_list(struct(col("df"), col("g")))),
        1, 2).as("t2"))
      .select(col("rec_id"), explode(col("t2").getField("g")).as("g"))
    val g1 = recs.select(col("rec_id"), col("grams"), col("nation"),
      col("segment"))
    // verify payloads join back ONCE at rare grain (2 rows/record),
    // not at candidate grain (measured 685 k candidate pairs at sf0.1
    // — 36/record: rare DIGIT grams of id-bearing names collide), and
    // nation/segment join the BLOCKING KEY: a true match agrees on
    // both by the verify predicate itself, so recall is untouched
    // while hot-gram blocks split ~(nations × segments)-fold and the
    // Jaccard evaluates in-stage on the survivors — the candidate-
    // grain exchange never materializes. Verified pairs can meet via
    // both shared rare grams, so the dedup moves AFTER the filter
    // (≤ 2 copies of each verified pair vs 685 k candidate rows).
    // both persists are REDUCED grains (the q110/q183 doctrine — the
    // row-grain recs cache measured SLOWER, see above): rareG is 2
    // rows/record feeding both sides of the self-join, and verified
    // (≈0.2 pairs/record) feeds both union directions of the edge
    // list — unpersisted, the whole blocking+verify chain re-ran per
    // consumer (measured 6.3 s → 1.3 s steady-state at sf0.1)
    val rareG = rare.join(g1, Seq("rec_id")).persist()
    val verified = rareG
      .join(rareG.select(col("rec_id").as("rec_id2"),
        col("grams").as("grams2"), col("g"), col("nation"),
        col("segment")), Seq("g", "nation", "segment"))
      .filter(col("rec_id") < col("rec_id2") &&
        size(array_intersect(col("grams"), col("grams2")))
          .cast("double") /
          size(array_union(col("grams"), col("grams2"))) >= ErTau)
      .select("rec_id", "rec_id2").distinct().persist()
    val edges = verified
      .select(col("rec_id").as("src"), col("rec_id2").as("dst"))
      .unionByName(verified
        .select(col("rec_id2").as("src"), col("rec_id").as("dst")))
      .unionByName(recs
        .select(col("rec_id").as("src"), col("rec_id").as("dst")))
    val l1 = edges.groupBy("dst").agg(min("src").as("lbl"))
    val l2 = edges
      .join(l1.select(col("dst").as("src"), col("lbl")), Seq("src"))
      .groupBy("dst").agg(min("lbl").as("cluster"))
    val golden = recs
      .withColumn("cents", round(col("bal") * 100).cast("long"))
      .join(l2.select(col("dst").as("rec_id"), col("cluster")), Seq("rec_id"))
      .groupBy("cluster")
      .agg(min("rec_id").as("entity_id"), min("nation").as("nation"),
        max("cents").as("max_cents"), min("segment").as("segment"),
        count(lit(1)).as("n_members"))
    golden.groupBy("nation")
      .agg(count(lit(1)).as("n_entities"),
        sum("n_members").as("n_records"),
        sum(col("n_members") - 1).as("n_merged"),
        (sum("max_cents") / lit(100.0)).as("golden_bal"))
      .orderBy("nation")
  }

  // --- q252: propensity-score caliper matching -----------------------------

  private val Caliper = 0.05

  /** q252 — propensity-score nearest-neighbor matching within a caliper
    * (matched-control selection for observational readouts; q237's IPS is
    * the reweighting alternative). Treatment = BUILDING segment; the
    * propensity is the Laplace-smoothed treated share of each
    * (nation, acctbal-band) stratum; the outcome is the customer's order
    * (nation, acctbal-band) stratum blended with a softsign of the unit's
    * balance deviation from its stratum mean (a rational stand-in for a
    * fitted model's continuous score — softsign, not sigmoid, because exp
    * is libm-dependent and would break bit-parity with the oracle; any
    * real model slots in here, the operator under test is the MATCHING).
    * The outcome is the customer's order count. Matching is
    * with-replacement nearest-score within ±0.05, deterministic ties by
    * control id. Scale shape: scores come from a broadcast stratum table
    * (map-side), and candidate generation is a GRID-BUCKETED join — each
    * treated unit explodes into its score cell ±1 and meets only
    * same-cell controls, so the pair space is O(n · cell occupancy),
    * never all treated × all controls; the per-treated argmin is a window
    * partitioned by treated id (parallel).
    */
  private def q252(s: SparkSession, dir: String): DataFrame = {
    val cust = Tables.load(s, dir, "customer").select(
      col("c_custkey").as("id"),
      (col("c_mktsegment") === "BUILDING").cast("int").as("treated"),
      col("c_nationkey").as("nation"),
      floor(col("c_acctbal") / 1000).cast("long").as("band"),
      col("c_acctbal").as("bal"),
      round(col("c_acctbal") * 100).cast("long").as("cents"))
    val strata = cust.groupBy("nation", "band")
      .agg(((sum("treated") + 1).cast("double") / (count(lit(1)) + 2))
        .as("p_stratum"),
        (sum("cents").cast("double") / count(lit(1)) / lit(100.0))
          .as("avg_bal"))
    val outc = Tables.load(s, dir, "orders")
      .groupBy("o_custkey").agg(count(lit(1)).as("n_orders"))
    val z = (col("bal") - col("avg_bal")) / lit(2000.0)
    val scored = cust.join(broadcast(strata), Seq("nation", "band"))
      .join(outc, col("id") === col("o_custkey"), "left")
      .select(col("id"), col("treated"),
        (lit(0.7) * col("p_stratum") +
          lit(0.3) * (lit(0.5) + lit(0.5) * z / (lit(1.0) + abs(z))))
          .as("score"),
        coalesce(col("n_orders"), lit(0L)).as("y"))
    val tr = scored.filter(col("treated") === 1)
      .select(col("id").as("t_id"), col("score").as("t_score"),
        col("y").as("t_y"))
    // SORT-MERGE nearest-neighbor (r11 — the r10 score-CELL join was
    // bucket-quadratic: the score range holds only ~1/Caliper ≈ 20
    // cells, so candidates were |T|·|C|/20 regardless of corpus size;
    // the sf1 oracle gate's DuckDB replay of it spilled past 60 GB).
    // The argmin-by-(gap, c_id) winner is always the nearest control
    // BELOW or ABOVE in score order, so: controls collapse to exact-
    // score grain (min c_id per score is the only tie candidate — ids
    // are unique, scores are positive so no ±0.0 grouping hazard),
    // one union with the treated rows, and two score-ordered LOCF
    // passes (controls sort BEFORE treated at equal score in BOTH
    // directions, so gap-0 matches are visible to each pass) carry
    // the nearest control per side. Winner = least() of the two
    // (gap, c_id, c_y) structs — least orders structs
    // lexicographically and SKIPS nulls, which is exactly the
    // cross-side tie rule. O(n log n) with no candidate blow-up, and
    // DISTRIBUTED: both passes ride GlobalRankRewrite's multi-key LOCF
    // arm (cinfo appended as the final tiebreak key proves the input
    // key-functional; each pass keeps ONE direction throughout —
    // is_t DESC in the backward pass is value-identical because the
    // forward pass owns every gap-0 match: at equal score the collapsed
    // grain holds at most one control, so prevC's gap-0 struct always
    // wins least() regardless of what nextC carries there).
    val ctlBest = scored.filter(col("treated") === 0)
      .groupBy(col("score"))
      .agg(min(struct(col("id"), col("y"))).as("cb"))
      .select(col("score"),
        struct(col("score").as("c_score"), col("cb.id").as("c_id"),
          col("cb.y").as("c_y")).as("cinfo"))
    val cinfoType = "struct<c_score:double,c_id:bigint,c_y:bigint>"
    val merged = tr.select(col("t_id"), col("t_score").as("score"),
        col("t_y"), lit(1).as("is_t"),
        lit(null).cast(cinfoType).as("cinfo"))
      .unionByName(ctlBest.select(lit(null).cast("long").as("t_id"),
        col("score"), lit(null).cast("long").as("t_y"),
        lit(0).as("is_t"), col("cinfo")))
    val w1 = Window.orderBy(col("score").asc, col("is_t").asc,
        col("cinfo").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val w2 = Window.orderBy(col("score").desc, col("is_t").desc,
        col("cinfo").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    def side(c: Column): Column =
      when(c.isNotNull && abs(col("score") - c.getField("c_score"))
          <= Caliper,
        struct(abs(col("score") - c.getField("c_score")).as("gap"),
          c.getField("c_id").as("c_id"), c.getField("c_y").as("c_y")))
    val cand = merged
      .withColumn("prevC", last(col("cinfo"), ignoreNulls = true).over(w1))
      .withColumn("nextC", last(col("cinfo"), ignoreNulls = true).over(w2))
      .filter(col("is_t") === 1)
      .withColumn("w", least(side(col("prevC")), side(col("nextC"))))
    cand.agg(count(lit(1)).as("n_treated"),
      count(col("w")).as("n_matched"),
      (count(col("w")).cast("double") / count(lit(1))).as("match_rate"),
      (sum(when(col("w").isNotNull, col("t_y") - col("w.c_y")))
        .cast("double") / count(col("w"))).as("att"),
      round(sum(col("w.gap")) / count(col("w")), 6).as("avg_gap"))
  }

  // --- q253: key-skew audit ------------------------------------------------

  /** q253 — shuffle-key skew audit over `events.user_id`: the measurement
    * that decides whether a key needs q79's salting or AQE's skew split
    * BEFORE the 100 TB job runs. Per-key counts roll into one contract row:
    * max/top-10 load share, exact Gini (rank formula over integer sums),
    * coefficient of variation, and the recommended salt factor
    * ⌈max·ndv⁄Σ⌉ (how many ways the hottest key must split to reach the
    * mean). All moments are exact integers until the final divisions; the
    * rank window runs over the ndv-sized count table, not the events
    * (at extreme ndv the q226 rank-grid substitutes — same note as q236).
    */
  private def q253(s: SparkSession, dir: String): DataFrame = {
    val cnts = Tables.load(s, dir, "events")
      .groupBy("user_id").agg(count(lit(1)).as("c"))
    val ranked = cnts
      .withColumn("rk", row_number().over(
        Window.orderBy(col("c"), col("user_id"))))
      .withColumn("rkd", row_number().over(
        Window.orderBy(col("c").desc, col("user_id").desc)))
    ranked.agg(
      sum("c").as("n_events"), count(lit(1)).as("ndv"), max("c").as("max_c"),
      sum(col("rk") * col("c")).as("src"),
      sum(col("c") * col("c")).as("scc"),
      sum(when(col("rkd") <= 10, col("c")).otherwise(0L)).as("top10"))
      .select(col("n_events"), col("ndv"), col("max_c"),
        (col("max_c").cast("double") / col("n_events")).as("max_share"),
        (col("top10").cast("double") / col("n_events")).as("top10_share"),
        ((lit(2) * col("src") - (col("ndv") + 1) * col("n_events"))
          .cast("double") / (col("ndv") * col("n_events"))).as("gini"),
        (sqrt((col("ndv") * col("scc") - col("n_events") * col("n_events"))
          .cast("double")) / col("n_events")).as("cv"),
        call_function("div",
          col("max_c") * col("ndv") + col("n_events") - 1, col("n_events"))
          .as("salt_factor"))
  }

  // --- q254: KMV corpus-overlap sketch -------------------------------------

  private val KmvK = 256

  /** q254 — corpus-overlap estimation by K-minimum-values sketch, next to
    * its exact truth. The corpus splits into two md5-halves; elements are
    * word-3-gram shingles (the q62 unit). Exact side: distinct-shingle
    * membership flags per side → |A|, |B|, |A∩B|, Jaccard. Sketch side:
    * the K=256 smallest md5 values over A∪B — the KMV estimator
    * Ĵ = |{KMV ∩ both}|/K (and the (K−1)·2³²⁄h_K union-size estimate,
    * q209's form). At 100 TB only the sketch path runs: one shuffle to
    * distinct-shingle grain, then a TakeOrdered of 256 rows — corpus
    * similarity for the cost of a top-k; the exact branch here is the
    * audit that certifies it. Deterministic: both engines hash the same
    * shingles to the same 32-bit values and break h-ties by shingle.
    */
  private def q254(s: SparkSession, dir: String): DataFrame = {
    val elems = Tables.loadParallel(s, dir, "documents")
      .withColumn("side", md5Hash32(col("doc_id"), "half") % 2)
      .select(col("side"),
        explode(graft.functions.MinHashLsh.shingles(col("text"))).as("g"))
      .groupBy("g")
      .agg(max(when(col("side") === 0, 1).otherwise(0)).as("in_a"),
        max(when(col("side") === 1, 1).otherwise(0)).as("in_b"))
      .withColumn("h", md5Hash32(col("g"), "kmv"))
      .persist()
    val exact = elems.agg(
      sum("in_a").as("n_a"), sum("in_b").as("n_b"),
      sum(col("in_a") * col("in_b")).as("n_both"),
      count(lit(1)).as("n_union"))
    val kmv = elems.orderBy(col("h"), col("g")).limit(KmvK)
      .agg(sum(col("in_a") * col("in_b")).as("k_both"),
        max("h").as("h_k"), count(lit(1)).as("k_n"))
    exact.crossJoin(broadcast(kmv))
      .select(col("n_a"), col("n_b"), col("n_both"), col("n_union"),
        (col("n_both").cast("double") / col("n_union")).as("jaccard"),
        (col("k_both").cast("double") / col("k_n")).as("kmv_jaccard"),
        ((col("k_n") - 1).cast("double") * lit(4294967296.0) / col("h_k"))
          .as("kmv_union_est"),
        abs(col("n_both").cast("double") / col("n_union") -
          col("k_both").cast("double") / col("k_n")).as("abs_err"))
  }

  // --- q255: event-time disorder / watermark audit -------------------------

  private val ArrBlock = 256L

  /** q255 — out-of-orderness audit: the measurement that sizes every
    * streaming twin's watermark. Arrival order is a deterministic jitter
    * of event order (±20 positions, md5); lateness is each event's gap to
    * the running event-time maximum at its arrival. The running max is
    * computed SCALE-SAFELY by the two-pass prefix trick: arrival keys
    * bucket into contiguous ranges, buckets aggregate in parallel, the
    * tiny bucket table takes a cumulative max (n⁄256 rows — the only
    * single-partition step, constant-size per task input), and each row
    * combines its in-bucket running max with its predecessor buckets'
    * max — no global-order window over the full table (the q236 caveat,
    * solved rather than noted). Reports drop counts at candidate
    * watermarks (1/5/15 min) plus max and mean lag; the oracle is the
    * naive global window.
    */
  private def q255(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(s, dir, "events")
      .select(col("event_id"),
        call_function("div", col("ts"), lit(1000L)).as("us"))
      .withColumn("akey",
        col("event_id") + md5Hash32(col("event_id"), "jit") % 41 + 6)
      .withColumn("bkt", call_function("div", col("akey"), lit(ArrBlock)))
    val wBkt = Window.partitionBy("bkt").orderBy(col("akey"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val inner = ev.withColumn("run_in", max("us").over(wBkt))
    val prev = ev.groupBy("bkt").agg(max("us").as("bmax"))
      .withColumn("prev_max", max("bmax").over(
        Window.orderBy("bkt").rowsBetween(Window.unboundedPreceding, -1)))
      .select(col("bkt"), col("prev_max"))
    inner.join(broadcast(prev), Seq("bkt"))
      .withColumn("lag_us",
        greatest(col("run_in"), coalesce(col("prev_max"), col("run_in")))
          - col("us"))
      .agg(count(lit(1)).as("n_events"),
        sum(when(col("lag_us") > 0, 1L).otherwise(0L)).as("n_out_of_order"),
        sum(when(col("lag_us") > 60L * 1000000L, 1L).otherwise(0L))
          .as("late_1m"),
        sum(when(col("lag_us") > 300L * 1000000L, 1L).otherwise(0L))
          .as("late_5m"),
        sum(when(col("lag_us") > 900L * 1000000L, 1L).otherwise(0L))
          .as("late_15m"),
        max("lag_us").as("max_lag_us"),
        (sum("lag_us").cast("double") / count(lit(1)) / lit(1000000.0))
          .as("mean_lag_s"))
  }

  override val queries: Seq[(String, (SparkSession, String) => DataFrame)] =
    Seq(
      "q251_entity_resolution" -> q251 _,
      "q252_propensity_match" -> q252 _,
      "q253_skew_audit" -> q253 _,
      "q254_corpus_overlap" -> q254 _,
      "q255_watermark_audit" -> q255 _)

  private val duckShingleList =
    """CASE WHEN len(tk) < 3 THEN [array_to_string(tk, ' ')]
      |     ELSE list_distinct(list_transform(
      |       generate_series(1, len(tk) - 2),
      |       i -> tk[i] || ' ' || tk[i + 1] || ' ' || tk[i + 2])) END"""
      .stripMargin

  override val oracle: Seq[(String, String)] = Seq(
    "q251_entity_resolution" ->
      s"""WITH base AS (
         | SELECT c_custkey AS rec_id, c_name AS raw_name,
         |  c_nationkey AS nation, c_acctbal AS bal, c_mktsegment AS segment
         | FROM customer),
         |dirty AS (
         | SELECT * FROM base
         | UNION ALL
         | SELECT rec_id + $ErOffset, upper(raw_name || 'x'), nation,
         |  bal + 0.01, segment
         | FROM base WHERE ${duckBucket("rec_id", "erdup", ErDupMod)} = 0),
         |recs AS (
         | SELECT rec_id, nation, bal, segment, nm,
         |  CASE WHEN len(nm) < 3 THEN [nm]
         |   ELSE list_distinct(list_transform(
         |     generate_series(1, len(nm) - 2),
         |     i -> substring(nm, i, 3))) END AS grams
         | FROM (SELECT *, lower(raw_name) AS nm FROM dirty)),
         |bl AS (
         | SELECT CASE WHEN n_reg > 100000 THEN 5
         |  WHEN n_reg > 30000 THEN 4 ELSE 3 END AS l
         | FROM (SELECT count(*) * 5 // 4 AS n_reg FROM customer)),
         |gr AS (
         | SELECT rec_id, unnest(
         |   CASE WHEN len(nm) < l THEN [nm]
         |    ELSE list_distinct(list_transform(
         |      generate_series(1, len(nm) - l + 1),
         |      i -> substring(nm, i, l))) END) AS g
         | FROM recs, bl),
         |gdf AS (SELECT g, count(*) AS df FROM gr GROUP BY g),
         |rare AS (
         | SELECT rec_id, g FROM (
         |  SELECT r.rec_id, r.g,
         |   row_number() OVER (PARTITION BY r.rec_id
         |     ORDER BY d.df, r.g) AS rk
         |  FROM gr r JOIN gdf d ON r.g = d.g)
         | WHERE rk <= 2),
         |cand AS (
         | SELECT DISTINCT a.rec_id, b.rec_id AS rec_id2
         | FROM rare a JOIN rare b ON a.g = b.g AND a.rec_id < b.rec_id),
         |verified AS (
         | SELECT c.rec_id, c.rec_id2
         | FROM cand c JOIN recs r1 ON c.rec_id = r1.rec_id
         |  JOIN recs r2 ON c.rec_id2 = r2.rec_id
         | WHERE r1.nation = r2.nation AND r1.segment = r2.segment
         |  AND CAST(len(list_intersect(r1.grams, r2.grams)) AS DOUBLE)
         |   / len(list_distinct(list_concat(r1.grams, r2.grams)))
         |   >= $ErTau),
         |edges AS (
         | SELECT rec_id AS src, rec_id2 AS dst FROM verified
         | UNION ALL SELECT rec_id2, rec_id FROM verified
         | UNION ALL SELECT rec_id, rec_id FROM recs),
         |l1 AS (SELECT dst AS node, min(src) AS lbl FROM edges GROUP BY dst),
         |l2 AS (
         | SELECT e.dst AS node, min(l.lbl) AS cluster
         | FROM edges e JOIN l1 l ON e.src = l.node GROUP BY e.dst),
         |golden AS (
         | SELECT l.cluster, min(d.rec_id) AS entity_id,
         |  min(d.nation) AS nation,
         |  max(CAST(round(d.bal * 100) AS BIGINT)) AS max_cents,
         |  min(d.segment) AS segment, count(*) AS n_members
         | FROM dirty d JOIN l2 l ON d.rec_id = l.node
         | GROUP BY l.cluster)
         |SELECT nation, CAST(count(*) AS BIGINT) AS n_entities,
         | CAST(sum(n_members) AS BIGINT) AS n_records,
         | CAST(sum(n_members - 1) AS BIGINT) AS n_merged,
         | CAST(sum(max_cents) AS BIGINT) / 100.0 AS golden_bal
         |FROM golden GROUP BY nation ORDER BY nation""".stripMargin,
    "q252_propensity_match" ->
      s"""WITH cust AS (
         | SELECT c_custkey AS id,
         |  CASE WHEN c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END AS treated,
         |  c_nationkey AS nation,
         |  CAST(floor(c_acctbal / 1000) AS BIGINT) AS band,
         |  c_acctbal AS bal,
         |  CAST(round(c_acctbal * 100) AS BIGINT) AS cents
         | FROM customer),
         |strata AS (
         | SELECT nation, band,
         |  CAST(sum(treated) + 1 AS DOUBLE) / (count(*) + 2) AS p_stratum,
         |  CAST(sum(cents) AS DOUBLE) / count(*) / 100.0 AS avg_bal
         | FROM cust GROUP BY nation, band),
         |outc AS (
         | SELECT o_custkey, count(*) AS n_orders FROM orders
         | GROUP BY o_custkey),
         |scored AS (
         | SELECT c.id, c.treated,
         |  0.7 * s.p_stratum + 0.3 * (0.5
         |    + 0.5 * ((c.bal - s.avg_bal) / 2000.0)
         |      / (1.0 + abs((c.bal - s.avg_bal) / 2000.0))) AS score,
         |  coalesce(o.n_orders, 0) AS y
         | FROM cust c JOIN strata s USING (nation, band)
         | LEFT JOIN outc o ON c.id = o.o_custkey),
         |tr AS (SELECT id AS t_id, score AS t_score, y AS t_y
         | FROM scored WHERE treated = 1),
         |ctlb AS (
         | SELECT score AS c_score, min(id) AS c_id, arg_min(y, id) AS c_y
         | FROM scored WHERE treated = 0 GROUP BY score),
         |merged AS (
         | SELECT t_id, t_score AS score, t_y, 1 AS is_t,
         |  CAST(NULL AS DOUBLE) AS c_score, CAST(NULL AS BIGINT) AS c_id,
         |  CAST(NULL AS BIGINT) AS c_y
         | FROM tr
         | UNION ALL
         | SELECT NULL, c_score, NULL, 0, c_score, c_id, c_y FROM ctlb),
         |m2 AS (
         | SELECT t_id, score, t_y, is_t,
         |  last_value(c_score IGNORE NULLS) OVER w1 AS p_score,
         |  last_value(c_id IGNORE NULLS) OVER w1 AS p_id,
         |  last_value(c_y IGNORE NULLS) OVER w1 AS p_y,
         |  last_value(c_score IGNORE NULLS) OVER w2 AS n_score,
         |  last_value(c_id IGNORE NULLS) OVER w2 AS n_id,
         |  last_value(c_y IGNORE NULLS) OVER w2 AS n_y
         | FROM merged
         | WINDOW w1 AS (ORDER BY score ASC, is_t ASC
         |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         |  w2 AS (ORDER BY score DESC, is_t ASC
         |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
         |cand AS (
         | SELECT t_id, t_y,
         |  CASE WHEN abs(score - p_score) <= $Caliper
         |   THEN abs(score - p_score) END AS gp, p_id, p_y,
         |  CASE WHEN abs(score - n_score) <= $Caliper
         |   THEN abs(score - n_score) END AS gn, n_id, n_y
         | FROM m2 WHERE is_t = 1),
         |best AS (
         | SELECT t_id, t_y,
         |  CASE WHEN gp IS NOT NULL AND (gn IS NULL OR gp < gn
         |    OR (gp = gn AND p_id <= n_id)) THEN gp ELSE gn END AS gap,
         |  CASE WHEN gp IS NOT NULL AND (gn IS NULL OR gp < gn
         |    OR (gp = gn AND p_id <= n_id)) THEN p_y
         |   WHEN gn IS NOT NULL THEN n_y END AS c_y
         | FROM cand)
         |SELECT CAST(count(*) AS BIGINT) AS n_treated,
         | CAST(count(c_y) AS BIGINT) AS n_matched,
         | CAST(count(c_y) AS DOUBLE) / count(*) AS match_rate,
         | CAST(sum(CASE WHEN c_y IS NOT NULL THEN t_y - c_y END)
         |   AS DOUBLE) / count(c_y) AS att,
         | round(sum(gap) / count(c_y), 6) AS avg_gap
         |FROM best""".stripMargin,
    "q253_skew_audit" ->
      """WITH cnts AS (
        | SELECT user_id, count(*) AS c FROM events GROUP BY user_id),
        |r AS (SELECT c, user_id,
        |  row_number() OVER (ORDER BY c, user_id) AS rk,
        |  row_number() OVER (ORDER BY c DESC, user_id DESC) AS rkd
        | FROM cnts),
        |a AS (SELECT CAST(sum(c) AS BIGINT) AS n_events,
        |  CAST(count(*) AS BIGINT) AS ndv,
        |  CAST(max(c) AS BIGINT) AS max_c,
        |  CAST(sum(rk * c) AS BIGINT) AS src,
        |  CAST(sum(c * c) AS BIGINT) AS scc,
        |  CAST(sum(CASE WHEN rkd <= 10 THEN c ELSE 0 END) AS BIGINT)
        |    AS top10
        | FROM r)
        |SELECT n_events, ndv, max_c,
        | CAST(max_c AS DOUBLE) / n_events AS max_share,
        | CAST(top10 AS DOUBLE) / n_events AS top10_share,
        | CAST(2 * src - (ndv + 1) * n_events AS DOUBLE)
        |   / (ndv * n_events) AS gini,
        | sqrt(CAST(ndv * scc - n_events * n_events AS DOUBLE))
        |   / n_events AS cv,
        | (max_c * ndv + n_events - 1) // n_events AS salt_factor
        |FROM a""".stripMargin,
    "q254_corpus_overlap" ->
      s"""WITH t0 AS (
         | SELECT ${duckBucket("doc_id", "half", 2)} AS side,
         |  list_filter(string_split(text, ' '), x -> x <> '') AS tk
         | FROM documents),
         |sh AS (
         | SELECT side, unnest($duckShingleList) AS g FROM t0),
         |elems AS (
         | SELECT g,
         |  max(CASE WHEN side = 0 THEN 1 ELSE 0 END) AS in_a,
         |  max(CASE WHEN side = 1 THEN 1 ELSE 0 END) AS in_b,
         |  CAST('0x' || substring(md5('kmv|' || g), 1, 8) AS BIGINT) AS h
         | FROM sh GROUP BY g),
         |ex AS (SELECT CAST(sum(in_a) AS BIGINT) AS n_a,
         |  CAST(sum(in_b) AS BIGINT) AS n_b,
         |  CAST(sum(in_a * in_b) AS BIGINT) AS n_both,
         |  CAST(count(*) AS BIGINT) AS n_union FROM elems),
         |km AS (SELECT CAST(sum(in_a * in_b) AS BIGINT) AS k_both,
         |  max(h) AS h_k, CAST(count(*) AS BIGINT) AS k_n
         | FROM (SELECT * FROM elems ORDER BY h, g LIMIT $KmvK))
         |SELECT n_a, n_b, n_both, n_union,
         | CAST(n_both AS DOUBLE) / n_union AS jaccard,
         | CAST(k_both AS DOUBLE) / k_n AS kmv_jaccard,
         | CAST(k_n - 1 AS DOUBLE) * 4294967296.0 / h_k AS kmv_union_est,
         | abs(CAST(n_both AS DOUBLE) / n_union
         |   - CAST(k_both AS DOUBLE) / k_n) AS abs_err
         |FROM ex, km""".stripMargin,
    "q255_watermark_audit" ->
      s"""WITH ev AS (
         | SELECT event_id, epoch_us(ts) AS us,
         |  event_id + ${duckBucket("event_id", "jit", 41)} + 6 AS akey
         | FROM events),
         |r AS (SELECT us, max(us) OVER (ORDER BY akey, event_id
         |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS runmax
         | FROM ev)
         |SELECT CAST(count(*) AS BIGINT) AS n_events,
         | CAST(sum(CASE WHEN runmax - us > 0 THEN 1 ELSE 0 END) AS BIGINT)
         |   AS n_out_of_order,
         | CAST(sum(CASE WHEN runmax - us > 60000000 THEN 1 ELSE 0 END)
         |   AS BIGINT) AS late_1m,
         | CAST(sum(CASE WHEN runmax - us > 300000000 THEN 1 ELSE 0 END)
         |   AS BIGINT) AS late_5m,
         | CAST(sum(CASE WHEN runmax - us > 900000000 THEN 1 ELSE 0 END)
         |   AS BIGINT) AS late_15m,
         | CAST(max(runmax - us) AS BIGINT) AS max_lag_us,
         | CAST(sum(runmax - us) AS DOUBLE) / count(*) / 1000000.0
         |   AS mean_lag_s
         |FROM r""".stripMargin)
}
