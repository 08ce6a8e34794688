package graft.tools

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.catalog.Tables
import graft.functions.{ConnectedComponents, DistRank, MinHashLsh, Salting,
  Srp, Vectors}
import graft.queries.{DedupPack, ResolutionPack, TextOps,
  TrainingPipelinePack}
import RuleToggle._
import ScaleLaw.{Arm, Law, Outputs, sameBag, sameBags, subBag}

/** The scale laws run by [[ScaleLaw]], one named entry each. A law
  * supplies only its corpus, its arms, its plan markers and its check;
  * the harness owns the session, the k-loop, the timing, the conf
  * toggles and the output. Recorded results live in BASELINE.md (under
  * the names of the single-use probes these entries replaced).
  *
  * Corpora come from three shared families, so the pair structure a
  * law scales is the same wherever it is cited:
  *   - [[documents]]: the `documents` token bijection (`c{i}_` prefixes);
  *   - [[timeExtended]]: copies shifted past each other in time (the
  *     `events` as-of corpus and the `orders` interval corpora);
  *   - [[range]]: range-born synthetic keys ([[lcg]] scrambles).
  * A law persists its corpus unless the rewrite under test must see the
  * key functions behind it: a cached input hides them from the LOCF /
  * lead-lag / moving arms, so those corpora regenerate per arm (exact,
  * since range-born data is deterministic).
  */
object Laws {
  private val Fixtures = "/root/testdata" // the repo's TESTDATA.md tables
  private val Sf01 = Some(s"$Fixtures/sf0.1")
  private val Sf001 = Some(s"$Fixtures/sf0.01")
  private val Mem = StorageLevel.MEMORY_AND_DISK

  private val Hamming = "graft.plans.HammingJoinBlocking"
  private val Rank = "graft.plans.GlobalRankRewrite"
  private val Band = "graft.plans.BandJoinBlocking"
  private val Pct = "graft.plans.PercentileRewrite"
  private val Mode = "graft.plans.ModeRewrite"
  private val EditDist = "graft.plans.EditDistanceJoinBlocking"
  private val SetSim = "graft.plans.SetSimilarityJoinBlocking"

  // ---- corpus families ---------------------------------------------------

  private def copies(k: Int)(copy: Int => DataFrame): DataFrame =
    (0 until k).map(copy).reduce(_ union _)

  private def words(text: Column): Column = array_distinct(TextOps.toks(text))

  /** (doc_id, ts, lang): `documents` scaled k× by a token bijection.
    * Copy i shifts doc_id by i·10⁷ and prefixes every token of
    * `tokens(text)` with `c{i}_` (copy 0 is the base), so each copy
    * keeps the base corpus's near-dup structure over a disjoint
    * vocabulary: true pairs grow exactly k× and cross-copy signatures
    * decorrelate. */
  private def documents(spark: SparkSession, dir: String, k: Int,
      tokens: Column => Column = words): DataFrame = {
    val base = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), tokens(col("text")).as("ts"), col("lang"))
    copies(k) { i =>
      if (i == 0) base
      else base.select((col("doc_id") + lit(i * 10000000L)).as("doc_id"),
        transform(col("ts"), t => concat(lit(s"c${i}_"), t)).as("ts"),
        col("lang"))
    }
  }

  /** `base` scaled k× by time extension: copy i shifts `id` by i·`idStep`
    * and `from`/`to` by i·span, span = the corpus's time span + `pad`, so
    * copies never meet within any window shorter than `pad` and the true
    * match set grows exactly k×. */
  private def timeExtended(base: DataFrame, k: Int, id: String, idStep: Long,
      from: String, to: String, pad: Long): DataFrame = {
    val r = base.agg(min(from), max(to)).collect().head
    val span = r.getLong(1) - r.getLong(0) + pad
    copies(k) { i =>
      Seq(from, to).distinct.foldLeft(
        base.withColumn(id, col(id) + lit(i * idStep))) { (df, t) =>
        df.withColumn(t, col(t) + lit(i * span))
      }
    }
  }

  /** (event_id, user_id, event_type, us): the `events` views and
    * purchases, time-extended k× past the 7-day as-of tolerance. */
  private def events(spark: SparkSession, dir: String, k: Int): DataFrame =
    timeExtended(Tables.load(spark, dir, "events")
      .select(col("event_id"), col("user_id"), col("event_type"),
        expr("ts div 1000").as("us"))
      .filter(col("event_type").isin("view", "purchase")),
      k, "event_id", 100000000L, "us", "us", 2 * TolUs)

  /** `n` range-born rows: `id` plus the given synthetic columns. */
  private def range(spark: SparkSession, n: Long)(
      cols: (String, Column)*): DataFrame =
    spark.range(n).select(col("id") +: cols.map { case (c, e) => e.as(c) }: _*)

  /** A hash-scrambled key in [0, m): never aligned with generation order. */
  private def lcg(m: Long): Column = col("id") * 1103515245L % m

  /** Dense event-time-like key with mild jitter (value-band laws). */
  private def jitterT: Column = col("id") * 37L + col("id") * 2654435761L % 29L

  // ---- arm shapes --------------------------------------------------------

  /** `rule` on (forced with the broadcast threshold at −1 unless
    * `force` is false) against `rule` (and `alsoExcluded`) excluded. */
  private def ruleVsNaive[C](rule: String, marker: String,
      force: Boolean = true, alsoExcluded: Seq[String] = Nil,
      ruleMustNot: Seq[String] = Nil)(q: C => DataFrame): Seq[Arm[C]] = Seq(
    Arm[C]("rule", Include(rule) +: (if (force) Seq(NoBroadcast) else Nil),
      must = Seq(marker), mustNot = ruleMustNot)(q),
    Arm[C]("naive", (rule +: alsoExcluded).map(Exclude),
      mustNot = Seq(marker), naive = true)(q))

  private def prefixed[C](p: String, arms: Seq[Arm[C]]): Seq[Arm[C]] =
    arms.map(a => a.renamed(s"${p}_${a.name}"))

  private def one(o: Outputs, arm: String) = o(arm).collect().head

  // ---- HammingJoinBlocking -----------------------------------------------

  /** The q277-shape naive hamming self-join (60-bit SimHash, hamming ≤ 3,
    * no blocking in the text) on the k× token-bijection corpus. Rule-on
    * time tracks the output (~k× candidates); rule-off tracks the n²/2
    * comparisons. */
  val RuleScale: Law[DataFrame] = Law[DataFrame]("RuleScale", Sf01,
    Seq(1, 2, 4, 8), 4)(
    corpus = (s, dir, k) =>
      DedupPack.sim64Sigs(documents(s, dir, k)).persist(Mem),
    stats = c => Seq("docs" -> c.count()),
    arms = ruleVsNaive[DataFrame](Hamming, "graft_seg", force = false) { c =>
      val y = c.select(col("doc_id").as("doc_id2"), col("sig").as("sig2"))
      c.join(y, bit_count(col("sig").bitwiseXOR(col("sig2"))) <= 3 &&
        col("doc_id") < col("doc_id2")).select("doc_id", "doc_id2")
    })

  /** [[RuleScale]] past one machine word: the q292-shape 120-bit
    * hamming self-join, two 60-bit words summed,
    * `bit_count(s0⊕t0) + bit_count(s1⊕t1) ≤ 3`. */
  val WideRuleScale: Law[DataFrame] = Law[DataFrame]("WideRuleScale", Sf01,
    Seq(1, 2, 4, 8), 4)(
    corpus = (s, dir, k) =>
      DedupPack.simWideSigs(documents(s, dir, k)).persist(Mem),
    stats = c => Seq("docs" -> c.count()),
    arms = ruleVsNaive[DataFrame](Hamming, "graft_seg", force = false) { c =>
      val y = c.select(col("doc_id").as("doc_id2"), col("sig0").as("t0"),
        col("sig1").as("t1"))
      c.join(y, (bit_count(col("sig0").bitwiseXOR(col("t0"))) +
        bit_count(col("sig1").bitwiseXOR(col("t1")))) <= 3 &&
        col("doc_id") < col("doc_id2")).select("doc_id", "doc_id2")
    })

  /** The LEFT-ANTI hamming rewrite (decontamination: corpus docs near NO
    * eval doc). k scales n = 65,536·k uniform 64-bit signatures; eval is
    * every 64th, so the naive BroadcastNestedLoopJoin does n²/64
    * comparisons (×4 per doubling) while the segment join is
    * O(n + collisions) (×2). */
  val AntiRuleScale: Law[DataFrame] = Law[DataFrame]("AntiRuleScale", None,
    Seq(1, 2, 4, 8), 4)(
    corpus = (s, _, k) =>
      range(s, 65536L * k)("sig" -> xxhash64(col("id"))).persist(Mem),
    stats = c => Seq("n" -> c.count()),
    arms = ruleVsNaive[DataFrame](Hamming, "graft_seg", force = false) { c =>
      val eval = c.filter(col("id") % 64 === 0)
        .select(col("id").as("eid"), col("sig").as("esig"))
      c.join(eval, bit_count(col("sig").bitwiseXOR(col("esig"))) <= 2,
        "left_anti")
    })

  // ---- BandJoinBlocking --------------------------------------------------

  private val TolUs = 604800000000L // 7 days

  /** The latest view within 7 days before each purchase, over `pv`
    * (purchases joined to views on user, or on (user, bucket)). */
  private def asofMatch(pv: DataFrame): DataFrame = pv
    .filter(col("ts_v") <= col("ts_p") && col("ts_v") >= col("ts_p") - TolUs)
    .groupBy("p_event")
    .agg(max(struct(col("ts_v"), col("v_event"))).as("m"))
    .select(col("p_event"), col("m.v_event").as("v_event"))

  /** (purchases, views) of a time-extended events corpus. */
  private def sides(e: DataFrame): (DataFrame, DataFrame) = (
    e.filter(col("event_type") === "purchase").select(
      col("event_id").as("p_event"), col("user_id"), col("us").as("ts_p")),
    e.filter(col("event_type") === "view").select(
      col("event_id").as("v_event"), col("user_id"), col("us").as("ts_v")))

  /** (purchases × their two candidate 7-day buckets, views × bucket). */
  private def bucketed(e: DataFrame): (DataFrame, DataFrame) = {
    val (p, v) = sides(e)
    (p.withColumn("bkt", explode(array(expr(s"ts_p div ${TolUs}L"),
        expr(s"ts_p div ${TolUs}L - 1")))),
      v.withColumn("bkt", expr(s"ts_v div ${TolUs}L")))
  }

  /** Σ over `keys` groups of |purchases|·|views|: the candidate rows a
    * join on `keys` materializes before the residual time filter. */
  private def candidateRows(p: DataFrame, v: DataFrame, keys: String*): Long =
    p.groupBy(keys.map(col): _*).agg(count(lit(1)).as("np"))
      .join(v.groupBy(keys.map(col): _*).agg(count(lit(1)).as("nv")), keys)
      .agg(sum(col("np") * col("nv"))).collect().head.getLong(0)

  /** The q261/q264 as-of join on time-extended events. The naive
    * per-user equi-join materializes k² candidate pairs per user before
    * the time filter; the (user, bucket) equi-join's fan-in is the
    * 2-bucket window density, k¹. Three arms: the hand-bucketed q261
    * spelling, the naive text planned by BandJoinBlocking, and the naive
    * text with the rule excluded. */
  val AsofScale: Law[DataFrame] = Law[DataFrame]("AsofScale", Sf01,
    Seq(1, 2, 4, 8), 4)(
    corpus = (s, dir, k) => events(s, dir, k).persist(Mem),
    stats = { e =>
      val (p, v) = sides(e)
      val (pb, vb) = bucketed(e)
      Seq("events" -> e.count(),
        "naive_pairs" -> candidateRows(p, v, "user_id"),
        "bucket_pairs" -> candidateRows(pb, vb, "user_id", "bkt"))
    },
    arms = Arm[DataFrame]("bucketed") { e =>
      val (pb, vb) = bucketed(e)
      asofMatch(pb.join(vb, Seq("user_id", "bkt")))
    } +: ruleVsNaive[DataFrame](Band, "graft_band") { e =>
      val (p, v) = sides(e)
      asofMatch(p.join(v, Seq("user_id")))
    })

  /** The q331 interval-overlap join on time-extended `orders` intervals
    * [sd, sd + 30..89] (epoch days). The naive per-customer equi-join
    * materializes (k·n_c)² candidates per customer; the tiled join's
    * fan-in is the per-(customer, tile) density. No id < id2 tiebreak: in
    * an all-integral condition it would be a second endpoint quadruple
    * and the arm correctly stands down, so the law counts ordered pairs. */
  val IvScale: Law[DataFrame] = Law[DataFrame]("IvScale", Sf01,
    Seq(1, 2, 4, 8), 4)(
    corpus = (s, dir, k) => timeExtended(orderDays(s, dir)
      .withColumn("ed", col("sd") + pmod(col("id"), lit(60L)) + lit(30L)),
      k, "id", 100000000L, "sd", "ed", 200L).persist(Mem),
    stats = { iv =>
      val tiles = iv.select(col("ck"),
          explode(sequence(expr("sd div 64"), expr("ed div 64"))).as("tile"))
        .groupBy("ck", "tile").agg(count(lit(1)).as("n"))
      def sq(df: DataFrame) =
        df.agg(sum(col("n") * col("n"))).collect().head.getLong(0)
      Seq("intervals" -> iv.count(),
        "naive_pairs" -> sq(iv.groupBy("ck").agg(count(lit(1)).as("n"))),
        "tile_pairs" -> sq(tiles))
    },
    arms = Seq(
      Arm[DataFrame]("rule", Seq(Include(Band), NoBroadcast),
        must = Seq("graft_band"))(overlaps(keyed = true)),
      Arm[DataFrame]("naive", Seq(Exclude(Band), NoBroadcast),
        mustNot = Seq("graft_band"), naive = true)(overlaps(keyed = true))))

  /** (ck, id, sd): `orders` with start dates as epoch-day longs. */
  private def orderDays(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "orders").select(col("o_custkey").as("ck"),
      col("o_orderkey").as("id"),
      datediff(col("o_orderdate"), lit("1970-01-01")).cast("long").as("sd"))

  /** (id, id2) of overlapping intervals [sd, ed], per customer if `keyed`. */
  private def overlaps(keyed: Boolean)(iv: DataFrame): DataFrame = {
    val b = iv.select(iv.columns.toSeq.map(c => col(c).as(c + "2")): _*)
    val ov = col("sd") <= col("ed2") && col("sd2") <= col("ed")
    iv.join(b, if (keyed) col("ck") === col("ck2") && ov else ov)
      .select(col("id"), col("id2"))
  }

  /** Adaptive vs static tile width for the interval-overlap arm on a
    * HEAVY-TAILED length corpus: 99.5% of intervals are 1–3 days wide,
    * 0.5% are 200–550 days. A static 64-day bin piles every short
    * interval of a 64-day window into one bucket (bucket-quadratic
    * verify); the data-derived width (the conf unset) lands near the
    * geometric mean. Both scale k¹; the gap is a constant factor. */
  val IvAdaptive: Law[DataFrame] = Law[DataFrame]("IvAdaptive", Sf001,
    Seq(1, 2, 4, 8), 1)(
    corpus = (s, dir, k) => timeExtended(orderDays(s, dir).drop("ck")
      .withColumn("ed", col("sd") +
        when(col("id") % 200 === 0, lit(200L) + pmod(col("id"), lit(350L)))
          .otherwise(lit(1L) + pmod(col("id"), lit(3L)))),
      k, "id", 100000000L, "sd", "ed", 200L).persist(Mem),
    stats = iv => Seq("intervals" -> iv.count()),
    arms = {
      val bin = "spark.graft.band.intervalBin"
      Seq(
        Arm[DataFrame]("adaptive", Seq(Include(Band), NoBroadcast,
          UnsetConf(bin)), must = Seq("graft_band"))(overlaps(keyed = false)),
        Arm[DataFrame]("static64", Seq(Include(Band), NoBroadcast,
          SetConf(bin, "64")), must = Seq("graft_band"))(overlaps(keyed = false)),
        Arm[DataFrame]("naive", Seq(Exclude(Band), NoBroadcast),
          mustNot = Seq("graft_band"), naive = true)(overlaps(keyed = false)))
    })

  // ---- GlobalRankRewrite -------------------------------------------------

  /** The BOUNDED-PARTITION arm: `row_number()/ntile() OVER (PARTITION BY
    * id % 3 ORDER BY …)` is capped at 3 tasks at any size; the rewrite
    * runs per-(group, slice) windows with per-group offsets. */
  val BoundedPart: Law[DataFrame] = Law[DataFrame]("BoundedPart", None,
    Seq(1, 2, 4, 8, 16), 16)(
    corpus = (s, _, k) => range(s, 400000L * k)("t" -> lcg(100003L)).persist(Mem),
    stats = c => Seq("n" -> c.count()),
    arms = ruleVsNaive[DataFrame](Rank, "graft_rank_pid") { c =>
      val w = Window.partitionBy(col("id") % 3).orderBy(col("t"), col("id"))
      c.select(col("id"), col("t"), row_number().over(w).as("rn"),
        ntile(100).over(w).as("nt"))
    })

  /** The FULL-FRAME arm: order-less `sum/count/min/max OVER (PARTITION BY
    * pmod(id, 8))` (q318's share-of-total) is one WindowExec task per
    * partition value; the rewrite is a partial-combining hash aggregate
    * (8 rows) broadcast-joined back, corpus-parallel. */
  val FfScale: Law[DataFrame] = Law[DataFrame]("FfScale", None,
    Seq(1, 2, 4, 8, 16), 16)(
    corpus = (s, _, k) => range(s, 500000L * k)("w" -> lcg(99991L)).persist(Mem),
    stats = c => Seq("n" -> c.count()),
    arms = ruleVsNaive[DataFrame](Rank, "graft_rank_fg") { c =>
      val wp = Window.partitionBy(pmod(col("id"), lit(8)))
      c.select(col("id"), sum(col("w")).over(wp).as("gs"),
        count(col("w")).over(wp).as("gc"), min(col("w")).over(wp).as("gmn"),
        max(col("w")).over(wp).as("gmx"))
    })

  /** The GHOST-BLOCK arm: global `min/max/avg OVER (ORDER BY … ROWS 999
    * PRECEDING..CR)` (q314's trailing band, which a prefix difference
    * cannot express). The rule re-blocks by global row number into
    * exactly-B-row blocks with ghost tails and runs the same frames per
    * block; the double average compares exactly. */
  val GhostFrame: Law[DataFrame] = Law[DataFrame]("GhostFrame", None,
    Seq(1, 2, 4, 8, 16), 16)(
    corpus = (s, _, k) => range(s, 200000L * k)("t" -> lcg(100003L)).persist(Mem),
    stats = c => Seq("n" -> c.count()),
    arms = ruleVsNaive[DataFrame](Rank, "graft_rank_gblk") { c =>
      val w = Window.orderBy(col("t"), col("id")).rowsBetween(-999, 0)
      c.select(col("id"), col("t"),
        min(col("t") * 31L % 9973L).over(w).as("mn"),
        max(col("t") * 17L % 7919L).over(w).as("mx"),
        avg(col("t")).over(w).as("av"))
    })

  /** The HALF-OPEN arm: global `sum/count/avg OVER (ORDER BY t RANGE
    * UNBOUNDED PRECEDING..500 FOLLOWING)` plus a suffix `min OVER (500
    * PRECEDING..UNBOUNDED FOLLOWING)` (q325). Spark's UnboundedFollowing
    * frame re-aggregates the remaining suffix per row, so the naive form
    * is O(n²) on one task: a 20 k base and naiveMaxK 4 keep it finite. */
  val HovScale: Law[DataFrame] = Law[DataFrame]("HovScale", None,
    Seq(1, 2, 4, 8, 16), 4)(
    corpus = (s, _, k) =>
      range(s, 20000L * k)("t" -> jitterT, "w" -> lcg(9973L)).persist(Mem),
    stats = c => Seq("n" -> c.count()),
    arms = ruleVsNaive[DataFrame](Rank, "graft_rank_ho") { c =>
      val byT = Window.orderBy(col("t"))
      val pre = byT.rangeBetween(Window.unboundedPreceding, 500L)
      val suf = byT.rangeBetween(-500L, Window.unboundedFollowing)
      c.select(col("id"), sum(col("w")).over(pre).as("ps"),
        count(col("w")).over(pre).as("pc"), avg(col("w")).over(pre).as("pa"),
        min(col("w")).over(suf).as("sm"))
    })

  /** The VALUE-BAND arm: global `sum/count/min/max OVER (ORDER BY t RANGE
    * BETWEEN 10000 PRECEDING AND CURRENT ROW)` (q320's burst monitor).
    * The rule buckets by floor(t / band), ghost-copies each row into the
    * ≤ 2 buckets that read it and re-runs the frame per bucket. */
  val VbScale: Law[DataFrame] = Law[DataFrame]("VbScale", None,
    Seq(1, 2, 4, 8, 16), 16)(
    corpus = (s, _, k) =>
      range(s, 200000L * k)("t" -> jitterT, "w" -> lcg(9973L)).persist(Mem),
    stats = c => Seq("n" -> c.count()),
    arms = ruleVsNaive[DataFrame](Rank, "graft_rank_vb") { c =>
      val band = Window.orderBy(col("t")).rangeBetween(-10000L, 0L)
      c.select(col("id"), sum(col("w")).over(band).as("bs"),
        count(lit(1)).over(band).as("bc"), min(col("w")).over(band).as("bmn"),
        max(col("w")).over(band).as("bmx"))
    })

  /** The MOVING-FRAME arm: global `sum/count OVER (ORDER BY … ROWS 999
    * PRECEDING..CR)` (q305's trailing monitor). Naive is one task
    * sliding the frame over the corpus; the rule pays per-slice windows
    * plus the cum-fetch self-join. */
  val MovingFrame: Law[DataFrame] = Law[DataFrame]("MovingFrame", None,
    Seq(1, 2, 4, 8, 16), 16)(
    corpus = (s, _, k) => range(s, 200000L * k)("t" -> lcg(100003L)).persist(Mem),
    stats = c => Seq("n" -> c.count()),
    arms = ruleVsNaive[DataFrame](Rank, "graft_rank_jrn") { c =>
      val w = Window.orderBy(col("t"), col("id")).rowsBetween(-999, 0)
      c.select(col("id"), col("t"), sum(col("t")).over(w).as("ms"),
        count(lit(1)).over(w).as("mn"))
    })

  /** The RANK-FAMILY arm: global `rank()/dense_rank()/percent_rank()`
    * over a tie-heavy key (every value repeats ~2·k times). */
  val RankFamily: Law[DataFrame] = Law[DataFrame]("RankFamily", None,
    Seq(1, 2, 4, 8, 16), 16)(
    corpus = (s, _, k) => range(s, 200000L * k)("t" -> lcg(100003L)).persist(Mem),
    stats = c => Seq("n" -> c.count()),
    arms = ruleVsNaive[DataFrame](Rank, "graft_rank_pid") { c =>
      val w = Window.orderBy(col("t"))
      c.select(col("id"), col("t"), rank().over(w).as("rk"),
        dense_rank().over(w).as("dr"), percent_rank().over(w).as("pr"))
    })

  /** The MULTI-KEY LOCF arm: `last_value(w, true) OVER (ORDER BY k, id
    * UP..CR)` forward and backward (q252's two fill passes) in one plan,
    * over a nullable duplicated head key. NOT persisted: a cache hides
    * w's definition from the arm's key-function proof. */
  val MkLocf: Law[DataFrame] = Law[DataFrame]("MkLocf", None,
    Seq(1, 2, 4, 8), 8)(
    corpus = (s, _, k) => range(s, 1000000L * k)(
      "k" -> when(col("id") % 97 === 0, lit(null).cast("long"))
        .otherwise(lcg(9973L)))
      .withColumn("w", when(col("k") % 7 < 2 || col("k").isNull,
        lit(null).cast("long")).otherwise((col("k") * 11) % 131071L)),
    stats = c => Seq("n" -> c.count()),
    arms = ruleVsNaive[DataFrame](Rank, "graft_rank_pid") { c =>
      def fill(o: Column*) = last(col("w"), ignoreNulls = true).over(
        Window.orderBy(o: _*).rowsBetween(Window.unboundedPreceding, 0))
      c.withColumn("ff", fill(col("k").asc, col("id").asc))
        .withColumn("bf", fill(col("k").desc, col("id").desc))
    })

  /** [[graft.functions.DistRank]]'s exact distributed ntile against the
    * naive unpartitioned `ntile(8) OVER (ORDER BY v, id)`, itself planned
    * by GlobalRankRewrite or, excluded, funnelled through one task. The
    * skew corpus (v = 10⁶ div (id % 997 + 1)) quantifies the rule's
    * equal-width slice caveat against DistRank's balanced range
    * shuffle. */
  val RankScale: Law[(DataFrame, DataFrame)] = Law[(DataFrame, DataFrame)](
    "RankScale", None, Seq(1, 2, 4, 8, 16), 16)(
    corpus = (s, _, k) => (
      range(s, 200000L * k)("v" -> lcg(999983L)).persist(Mem),
      range(s, 200000L * k)("v" -> call_function("div", lit(1000000L),
        col("id") % 997L + 1L)).persist(Mem)),
    stats = c => Seq("n" -> c._1.count()),
    arms = {
      def dist(df: DataFrame) =
        DistRank.withNtile(df, "t", 8, col("v"), col("id")).select("id", "t")
      def text(df: DataFrame) = df.select(col("id"),
        ntile(8).over(Window.orderBy(col("v"), col("id"))).as("t"))
      prefixed[(DataFrame, DataFrame)]("uniform",
        Arm[(DataFrame, DataFrame)]("dist")(c => dist(c._1)) +:
          ruleVsNaive[(DataFrame, DataFrame)](Rank, "graft_rank_pid")(c =>
            text(c._1))) ++
        prefixed[(DataFrame, DataFrame)]("skew", Seq(
          Arm[(DataFrame, DataFrame)]("dist")(c => dist(c._2)),
          Arm[(DataFrame, DataFrame)]("rule", Seq(Include(Rank), NoBroadcast),
            must = Seq("graft_rank_pid"))(c => text(c._2))))
    },
    check = { (_, o) =>
      sameBags(o, "uniform_dist", "uniform_rule", "uniform_naive")
      sameBags(o, "skew_dist", "skew_rule")
      Nil
    })

  // ---- PercentileRewrite / ModeRewrite -----------------------------------

  private def ladder(weight: String*)(df: DataFrame): DataFrame = {
    val f = weight.map(", " + _).mkString
    df.agg(expr(s"percentile(v, 0.5d$f)").as("p50"),
      expr(s"percentile(v, 0.9d$f)").as("p90"),
      expr(s"percentile(v, 0.99d$f)").as("p99"))
  }

  /** A global exact percentile ladder (p50/p90/p99) over near-unique
    * doubles: native `percentile` holds one map entry per distinct
    * value and merges and sorts on ONE reducer; the rewrite (count +
    * distributed rank + positional filter) keeps per-task work at n/P.
    * Outputs compare exactly, including the sign of zero. */
  val PctScale: Law[DataFrame] = Law[DataFrame]("PctScale", None,
    Seq(1, 2, 4, 8, 16), 16)(
    corpus = (s, _, k) => range(s, 500000L * k)(
      "v" -> ((col("id") * 2654435761L % 1000003907L).cast("double") +
        col("id").cast("double") / 1e9)).persist(Mem),
    stats = c => Seq("n" -> c.count()),
    arms = ruleVsNaive[DataFrame](Pct, "graft_pct_rn", alsoExcluded = Seq(Rank),
      ruleMustNot = Seq("percentile"))(ladder()))

  /** The WEIGHTED percentile path `percentile(v, p, f)` over near-unique
    * longs: (distinct value, total weight) pairs aggregate
    * corpus-parallel and the cumulative-weight window rides
    * GlobalRankRewrite. */
  val WpctScale: Law[DataFrame] = Law[DataFrame]("WpctScale", None,
    Seq(1, 2, 4, 8, 16), 16)(
    corpus = (s, _, k) => range(s, 500000L * k)(
      "v" -> col("id") * 2654435761L % 1000003907L, "f" -> lcg(17L)).persist(Mem),
    stats = c => Seq("n" -> c.count()),
    arms = ruleVsNaive[DataFrame](Pct, "graft_pct_cw", alsoExcluded = Seq(Rank),
      ruleMustNot = Seq("percentile"))(ladder("f")))

  /** A global `mode() WITHIN GROUP (ORDER BY v)` over high-NDV longs
    * (~2 occurrences each, one planted winner −1). The native
    * OpenHashMap holds every distinct value and folds every map into one
    * task; the rewrite is two hash aggregates. */
  val ModeScale: Law[DataFrame] = Law[DataFrame]("ModeScale", None,
    Seq(1, 2, 4, 8, 16), 16)(
    corpus = (s, _, k) => range(s, 500000L * k)(
      "v" -> when(col("id") % 1000 === 0, lit(-1L))
        .otherwise(col("id") * 2654435761L % (500000L * k / 2))).persist(Mem),
    stats = c => Seq("n" -> c.count()),
    arms = ruleVsNaive[DataFrame](Mode, "graft_mode_v",
      ruleMustNot = Seq("mode(")) {
      _.agg(expr("mode() WITHIN GROUP (ORDER BY v)").as("m"))
    },
    check = { (_, o) =>
      sameBags(o)
      Seq("mode" -> one(o, "rule").getLong(0))
    })

  // ---- EditDistance / SetSimilarity --------------------------------------

  /** q334's fuzzy join `levenshtein(pre, pre2) ≤ 2` on 16-char title
    * prefixes, each copy tagged with a 3-letter prefix that differs from
    * every other copy's in all 3 positions (cross-copy distance ≥ 3, so
    * true pairs grow exactly k×; 26 letters cap k at 26). PassJoin
    * candidates come from (segment, length, content) buckets, k¹, against
    * the naive k² dynamic programs. */
  val EdScale: Law[DataFrame] = Law[DataFrame]("EdScale", Sf001,
    Seq(1, 2, 4, 8), 4)(
    corpus = { (s, dir, k) =>
      require(k <= 26, "k > 26 exceeds the tag alphabet")
      val base = Tables.load(s, dir, "documents")
        .select(col("doc_id").as("id"), substring(col("text"), 1, 16).as("pre"))
      copies(k) { i =>
        base.select((col("id") + lit(i * 100000000L)).as("id"),
          concat(lit(s"${('a' + i).toChar}" * 3), col("pre")).as("pre"))
      }.persist(Mem)
    },
    stats = c => Seq("rows" -> c.count()),
    arms = ruleVsNaive[DataFrame](EditDist, "graft_edp", force = false) { d =>
      d.join(d.select(col("id").as("id2"), col("pre").as("pre2")),
        levenshtein(col("pre"), col("pre2")) <= 2 && col("id") < col("id2"))
        .select(col("id"), col("id2"))
    })

  private val StopTokens = "spark.graft.setsim.stopTokens"

  /** q338's Jaccard join `|a ∩ b| ≥ 0.8·|a ∪ b|` on the token-bijection
    * documents: prefix-filtered candidates through token buckets (k¹)
    * against |n|² set operations (k²). The `stop` arm demotes the
    * corpus's top 48·k tokens (what TokenStats computes) to the end of
    * the prefix order; its bag must not change. */
  val SsScale: Law[(DataFrame, Int)] = Law[(DataFrame, Int)]("SsScale",
    Sf001, Seq(1, 2, 4, 8), 4)(
    corpus = (s, dir, k) => (documents(s, dir, k)
      .select(col("doc_id").as("id"), col("ts").as("tk")).persist(Mem), k),
    stats = c => Seq("rows" -> c._1.count()),
    arms = {
      def pairs(c: (DataFrame, Int)) =
        c._1.join(c._1.select(col("id").as("id2"), col("tk").as("tk2")),
          size(array_intersect(col("tk"), col("tk2"))) >=
            lit(0.8) * size(array_union(col("tk"), col("tk2"))) &&
            col("id") < col("id2"))
          .select(col("id"), col("id2"))
      def stops(c: (DataFrame, Int)) = Seq(SetConf(StopTokens,
        c._1.select(explode(col("tk")).as("t")).groupBy("t").count()
          .orderBy(col("count").desc, col("t")).limit(48 * c._2)
          .collect().map(_.getString(0)).filterNot(_.contains(","))
          .mkString(",")))
      Seq(Arm[(DataFrame, Int)]("rule", Seq(Include(SetSim),
          UnsetConf(StopTokens)), must = Seq("graft_sst"))(pairs),
        Arm[(DataFrame, Int)]("stop", Seq(Include(SetSim)),
          must = Seq("graft_sst"))(pairs, stops),
        Arm[(DataFrame, Int)]("naive", Seq(Exclude(SetSim)),
          mustNot = Seq("graft_sst"), naive = true)(pairs))
    })

  /** SetSimilarityJoinBlocking's CONTAINMENT arm
    * (`size(array_except(sub, sup)) = 0`, q350–q352) on `lineitem`
    * part-sets, each copy namespace-tagged by a per-copy element offset
    * so cross-copy intersections are empty and min-element buckets stay
    * flat. Three shapes: inner (probes → corpus), mirrored left semi and
    * mirrored left anti. */
  val ContainScale: Law[DataFrame] = Law[DataFrame]("ContainScale", Sf001,
    Seq(1, 2, 4, 8), 4)(
    corpus = { (s, dir, k) =>
      val base = Tables.load(s, dir, "lineitem")
        .groupBy(col("l_orderkey").as("id"))
        .agg(sort_array(collect_set(col("l_partkey"))).as("parts"))
      copies(k) { i =>
        base.select((col("id") + lit(i * 100000000L)).as("id"),
          transform(col("parts"), x => x + lit(i * 1000000000L)).as("parts"))
      }.persist(Mem)
    },
    stats = c => Seq("rows" -> c.count()),
    arms = {
      // the q350 probe slice: 10⁸ % 20 == 0, so it replicates per copy
      def contained(how: String)(o: DataFrame) = {
        val a = o.filter(col("id") % 20 === 0 && size(col("parts")) <= 3)
          .select(col("id").as("aid"), col("parts").as("aparts"))
        val cond = size(array_except(col("aparts"), col("parts"))) === 0 &&
          col("id") =!= col("aid")
        if (how == "inner") a.join(o, cond).select("aid", "id")
        else o.join(a, cond, how).select("id")
      }
      Seq("inner" -> "inner", "semi" -> "left_semi", "anti" -> "left_anti")
        .flatMap { case (n, how) => prefixed(n,
          ruleVsNaive[DataFrame](SetSim, "graft_sst", force = false)(
            contained(how))) }
    },
    check = { (_, o) =>
      Seq("inner", "semi", "anti").foreach(n =>
        sameBag(o, s"${n}_rule", s"${n}_naive"))
      Nil
    })

  /** The HOT-MIN-TOKEN regime the namespace tagging of [[ContainScale]]
    * dodges: one ubiquitous, value-order-minimal token ("aa") is every
    * set's minimal element, so every probe lands in one bucket and the
    * rewrite's hash join degenerates to the naive cross product (k²). The
    * mitigation `spark.graft.setsim.stopTokens=aa` demotes it, the probe
    * key becomes the rarest element, and buckets return to k¹. Per copy:
    * 10,000 supersets {aa, r₁, r₂, r₃} and 1,000 probes {aa, r} over a
    * 5,000-token per-copy vocabulary. Arrays are split()-born: the arm's
    * containsNull=false gate. */
  val ContainSkew: Law[(DataFrame, DataFrame)] = Law[(DataFrame, DataFrame)](
    "ContainSkew", None, Seq(1, 2, 4), 2)(
    corpus = { (s, _, k) =>
      def rare(cp: Int, seed: Column) = concat(lit(s"c${cp}_t"),
        lpad(pmod(hash(seed), lit(5000)).cast("string"), 6, "0"))
      def set(toks: Column*) = split(concat_ws(" ", lit("aa") +: toks: _*), " ")
      val sups = copies(k) { cp => s.range(10000L).select(
        (col("id") + cp * 100000000L).as("id"),
        array_distinct(set((1 to 3).map(j => rare(cp, col("id") * 3 + j)): _*))
          .as("parts")) }
      val probes = copies(k) { cp => s.range(1000L).select(
        (col("id") + cp * 100000000L).as("aid"),
        set(rare(cp, col("id") * 7 + 5)).as("aparts")) }
      (sups.persist(Mem), probes.persist(Mem))
    },
    stats = c => Seq("sup_rows" -> c._1.count()),
    arms = {
      def inner(c: (DataFrame, DataFrame)) = c._2.join(c._1,
        size(array_except(col("aparts"), col("parts"))) === 0 &&
          col("aid") =!= col("id")).select(col("aid"), col("id"))
      Seq(
        Arm[(DataFrame, DataFrame)]("demoted", Seq(Include(SetSim),
          SetConf(StopTokens, "aa")),
          must = Seq("graft_sst", "graft_ssc"))(inner),
        Arm[(DataFrame, DataFrame)]("hot", Seq(Include(SetSim),
          UnsetConf(StopTokens)), must = Seq("graft_sst"),
          mustNot = Seq("graft_ssc"), naive = true)(inner),
        Arm[(DataFrame, DataFrame)]("naive", Seq(Exclude(SetSim)),
          mustNot = Seq("graft_sst"), naive = true)(inner))
    })

  // ---- CosineJoinBlocking (SRP) ------------------------------------------

  private val Dims = 64
  private val SegConf = "spark.graft.srpjoin.segments"
  private val BitConf = "spark.graft.srpjoin.bits"
  private val NormConf = "spark.graft.srpjoin.maxNorm"

  private def embeddings(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))

  /** `raw` plus a planted cos≈0.999 twin (+0.1 on the first component,
    * id + 10⁶) of every row passing `planted`. */
  private def withTwins(raw: DataFrame, planted: Column): DataFrame =
    raw.unionAll(raw.filter(planted).select(
      (col("vec_id") + 1000000L).as("vec_id"),
      concat(array(col("v")(0) + lit(0.1)), slice(col("v"), 2, Dims - 1))
        .as("v")))

  /** k copies under per-(copy, dim) ±1 masks: norms and within-copy
    * angles are preserved exactly, cross-copy angles scatter. */
  private def masked(base: DataFrame, k: Int): DataFrame = copies(k) { i =>
    base.select((col("vec_id") + lit(i * 10000000L)).as("id"),
      zip_with(col("v"), transform(sequence(lit(0), lit(Dims - 1)),
        d => pmod(hash(lit(i), d), lit(2)) * 2 - 1),
        (x, sgn) => x * sgn.cast("double")).as("v"))
  }

  private def recall(o: Outputs, arm: String): Option[Double] =
    o.get("naive").map(_.count()).filter(_ > 0)
      .map(n => o(arm).count().toDouble / n)

  /** The opt-in CosineJoinBlocking on the masked embeddings ∪ twins: the
    * SAME naive text `cosine ≥ 0.95 ∧ id < id2` with the SRP contract on
    * (3 segments, 24 bits) and off (the exact nested loop). The rule is
    * approximate by contract, so the check is rule ⊆ naive (exact
    * precision), with recall reported. */
  val SrpJoin: Law[DataFrame] = Law[DataFrame]("SrpJoin", Sf001,
    Seq(1, 2, 4), 4)(
    corpus = (s, dir, k) => masked(withTwins(embeddings(s, dir),
      col("vec_id") % 25 === 0), k).persist(Mem),
    stats = c => Seq("rows" -> c.count()),
    arms = {
      def pairs(d: DataFrame) = {
        val b = d.select(col("id").as("id2"), col("v").as("v2"))
        val cos = Vectors.dot(col("v"), col("v2")) /
          (sqrt(Vectors.dot(col("v"), col("v"))) *
            sqrt(Vectors.dot(col("v2"), col("v2"))))
        d.join(b, cos >= lit(0.95) && col("id") < col("id2")).select("id", "id2")
      }
      Seq(Arm[DataFrame]("rule", Seq(SetConf(SegConf, "3"),
          SetConf(BitConf, "24")), must = Seq("graft_csigl"))(pairs),
        Arm[DataFrame]("naive", Seq(UnsetConf(SegConf), UnsetConf(BitConf)),
          mustNot = Seq("graft_csigl"), naive = true)(pairs))
    },
    check = { (_, o) =>
      subBag(o, "rule", "naive")
      Seq("recall" -> recall(o, "rule"))
    })

  /** CosineJoinBlocking's RAW-DOT path on UNNORMALIZED vectors (per-id
    * scale in [0.5, 1.5), twins at the large-norm ids), `graft_dot(v, v2)
    * ≥ 0.9`. SRP blocks by angle only, so high-dot pairs reached through
    * large norms are the ones the hamming ball misses. With maxNorm = M
    * (the corpus's, as a stats job would compute) the rule ANDs the
    * implied |‖a‖−‖b‖| ≤ M − τ/M band: each banded arm must equal its
    * unbanded arm, m = 3 ⊆ m = 4 ⊆ naive. */
  val SrpNormBand: Law[DataFrame] = Law[DataFrame]("SrpNormBand", Sf001,
    Seq(1, 2, 4), 4)(
    corpus = (s, dir, k) => masked(withTwins(embeddings(s, dir),
      col("vec_id") % 100 === 95).select(col("vec_id"), transform(col("v"), x =>
        x * (lit(0.5) + pmod(col("vec_id"), lit(100)) / lit(100.0))).as("v")),
      k).persist(Mem),
    stats = c => Seq("rows" -> c.count(), "tau" -> 0.9),
    arms = {
      def pairs(d: DataFrame) =
        d.join(d.select(col("id").as("id2"), col("v").as("v2")),
          Vectors.dot(col("v"), col("v2")) >= lit(0.9) && col("id") < col("id2"))
          .select("id", "id2")
      def maxNorm(d: DataFrame) = Seq(SetConf(NormConf,
        (d.agg(max(sqrt(Vectors.dot(col("v"), col("v"))))).collect().head
          .getDouble(0) + 1e-9).toString))
      Seq(3, 4).flatMap { m =>
        val conf = Seq(SetConf(SegConf, m.toString), SetConf(BitConf, "24"))
        Seq(Arm[DataFrame](s"m$m", conf :+ UnsetConf(NormConf),
            must = Seq("graft_csigl"))(pairs),
          Arm[DataFrame](s"m${m}_band", conf,
            must = Seq("graft_csigl", "graft_cnrml"))(pairs, maxNorm))
      } :+ Arm[DataFrame]("naive", Seq(UnsetConf(SegConf), UnsetConf(BitConf)),
        mustNot = Seq("graft_csigl"), naive = true)(pairs)
    },
    check = { (_, o) =>
      sameBag(o, "m3", "m3_band")
      sameBag(o, "m4", "m4_band")
      subBag(o, "m3", "m4")
      subBag(o, "m4", "naive")
      Seq("recall_m3" -> recall(o, "m3"), "recall_m4" -> recall(o, "m4"))
    })

  private def srpWeights(planes: Int): Seq[Seq[Int]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    Seq.tabulate(planes, Dims) { (p, d) =>
      val hex = md.digest(s"srp|$p|$d".getBytes("UTF-8"))
        .map(b => f"$b%02x").mkString.take(8)
      if (java.lang.Long.parseLong(hex, 16) % 2 == 0) 1 else -1
    }
  }

  /** (vec_id, sig): q260's quantized SRP signature at `bits` width (the
    * [[Srp]] construction, widened past its 16 planes). */
  private def srpSigs(corpus: DataFrame, bits: Int): DataFrame = {
    val q = corpus.withColumn("qv",
      Srp.quantize(col("v"), Srp.scaleOf(col("v"))))
    val sig = srpWeights(bits).zipWithIndex.map { case (w, p) =>
      val dot = aggregate(zip_with(col("qv"), array(w.map(lit(_)): _*),
        (x, y) => x * y), lit(0L), (acc, x) => acc + x)
      when(dot >= 0, lit(1L << p)).otherwise(lit(0L))
    }.reduce(_ + _)
    q.select(col("vec_id"), sig.as("sig"))
  }

  /** (a, b) id pairs at hamming ≤ 2 of `sig`, a < b, agreeing on `block`
    * when given: from a segment pigeonhole join over the disjoint
    * `cover` (3 segments ⇒ hamming ≤ 2), or the all-pairs scan when
    * `cover` is empty. */
  private def hamming2(sigs: DataFrame, id: String, sig: String,
      cover: Seq[(Int, Int)], block: Option[String] = None): DataFrame = {
    def side(n: String) = {
      val df = sigs.select(Seq(col(id).as(n), col(sig).as(s"s$n")) ++
        block.map(b => col(b).as(s"k$n")): _*)
      if (cover.isEmpty) df
      else df.withColumn(s"seg$n", explode(array(cover.zipWithIndex.map {
        case ((off, w), i) => struct(lit(i).as("i"),
          shiftright(col(s"s$n"), off).bitwiseAND(lit((1L << w) - 1)).as("v"))
      }: _*)))
    }
    val cond = Seq(col("a") < col("b")) ++
      block.map(_ => col("ka") === col("kb")) ++
      cover.headOption.map(_ => col("sega") === col("segb"))
    val out = side("a").join(side("b"), cond.reduce(_ && _))
      .filter(bit_count(col("sa").bitwiseXOR(col("sb"))) <= 2)
      .select("a", "b")
    if (cover.isEmpty) out else out.distinct()
  }

  private def thirds(bits: Int): Seq[(Int, Int)] = {
    val w = bits / 3
    Seq((0, w), (w, w), (2 * w, bits - 2 * w))
  }

  /** The q260 SRP-LSH near-dup path: 3-segment pigeonhole candidates
    * against the all-pairs hamming scan (HammingJoinBlocking excluded
    * for the whole law, or it would plan the scan as the segment join
    * under test), at the 16-bit toy width and the 32-bit production
    * width (SRP width must grow ~2·log₂ n). Copy i rotates the
    * embedding's dimension axis by i: an orthogonal map that keeps
    * within-copy cosines and decorrelates signatures. */
  val SrpScale: Law[(DataFrame, DataFrame)] = Law[(DataFrame, DataFrame)](
    "SrpScale", Sf01, Seq(1, 2, 4, 8), 4, conf = Seq(Exclude(Hamming)))(
    corpus = { (s, dir, k) =>
      val base = embeddings(s, dir)
      val rotated = withTwins(copies(k) { i =>
        if (i == 0) base
        else base.select((col("vec_id") + lit(i * 10000000L)).as("vec_id"),
          concat(slice(col("v"), i + 1, Dims - i), slice(col("v"), 1, i)).as("v"))
      }, col("vec_id") % 25 === 0)
      (srpSigs(rotated, 16).persist(Mem), srpSigs(rotated, 32).persist(Mem))
    },
    stats = c => Seq("n" -> c._1.count()),
    arms = Seq(16, 32).flatMap { bits =>
      def sigs(c: (DataFrame, DataFrame)) = if (bits == 16) c._1 else c._2
      Seq(Arm[(DataFrame, DataFrame)](s"seg$bits")(c =>
          hamming2(sigs(c), "vec_id", "sig", thirds(bits))),
        Arm[(DataFrame, DataFrame)](s"allpairs$bits", naive = true)(c =>
          hamming2(sigs(c), "vec_id", "sig", Nil)))
    },
    check = { (c, o) =>
      sameBag(o, "seg16", "allpairs16")
      sameBag(o, "seg32", "allpairs32")
      val planted = c._1.filter(col("vec_id") % 10000000L >= 1000000L).count()
      ("planted" -> planted) +: Seq(16, 32).map { b => s"recall$b" ->
        o(s"seg$b").filter(col("b") === col("a") + 1000000L &&
          col("a") % 25 === 0).count().toDouble / math.max(1L, planted) }
    })

  // ---- Blocking pipelines ------------------------------------------------

  /** The dedup path at constant duplicate density (token-bijection
    * corpus, q62's union-doubling inside each copy): the q62/q66 LSH
    * pipeline — `candidates`, `verified` (Jaccard ≥ 0.9, including the
    * candidate stage) and connected components (`cc`, including both) —
    * plus the q63 SimHash pairing, pigeonhole segments against the
    * lang-blocked all-pairs join, at 16 bits (where this corpus
    * saturates the space) and 32 bits (sparse buckets). */
  val DedupScale: Law[Seq[DataFrame]] = Law[Seq[DataFrame]]("DedupScale",
    Sf01, Seq(1, 2, 4, 8), 2)(
    corpus = { (s, dir, k) =>
      val corpus = documents(s, dir, k, split(_, " "))
        .select(col("doc_id"), concat_ws(" ", col("ts")).as("text"),
          col("lang")).persist(Mem)
      val d = corpus.select("doc_id", "text")
      val sig = MinHashLsh.signatures(d.union(d.select(
        (col("doc_id") + 1000000000L).as("doc_id"), col("text")))).persist(Mem)
      Seq(corpus, sig) ++ Seq(16, 32).map(simhash(corpus, _).persist(Mem))
    },
    stats = c => Seq("n_docs" -> c.head.count()),
    arms = {
      def candidates(c: Seq[DataFrame]) = {
        val banded = c(1).select(col("doc_id"), explode(col("bands")).as("band"))
        banded.alias("x").join(banded.alias("y"), col("x.band") === col("y.band")
          && col("x.doc_id") < col("y.doc_id"))
          .select(col("x.doc_id").as("doc_id"), col("y.doc_id").as("doc_id2"))
          .distinct()
      }
      def verified(c: Seq[DataFrame]) = {
        val sets = c(1).select(col("doc_id"), col("sh"))
        candidates(c).join(sets, "doc_id").join(sets.select(
            col("doc_id").as("doc_id2"), col("sh").as("sh2")), "doc_id2")
          .filter(MinHashLsh.jaccard(col("sh"), col("sh2")) >= 0.9)
          .select("doc_id", "doc_id2")
      }
      def sims(c: Seq[DataFrame], bits: Int) = c(if (bits == 16) 2 else 3)
      Seq(Arm[Seq[DataFrame]]("candidates")(candidates),
        Arm[Seq[DataFrame]]("verified")(verified),
        Arm[Seq[DataFrame]]("cc")(c => ConnectedComponents.run(verified(c)))) ++
        Seq(16 -> Seq((0, 6), (6, 5), (11, 5)),
          32 -> Seq((0, 11), (11, 11), (22, 10))).flatMap { case (bits, cover) =>
          // disjoint 3-segment covers: hamming ≤ 2 pigeonholes
          Seq(Arm[Seq[DataFrame]](s"seg$bits")(c =>
              hamming2(sims(c, bits), "doc_id", "simhash", cover, Some("lang"))),
            Arm[Seq[DataFrame]](s"allpairs$bits", naive = true)(c =>
              hamming2(sims(c, bits), "doc_id", "simhash", Nil, Some("lang"))))
        }
    },
    check = { (_, o) =>
      sameBag(o, "seg16", "allpairs16")
      sameBag(o, "seg32", "allpairs32")
      Nil
    })

  /** (doc_id, lang, simhash): q63's md5-vote SimHash at `bits` width. */
  private def simhash(corpus: DataFrame, bits: Int): DataFrame = {
    val oddHex = Seq("1", "3", "5", "7", "9", "b", "d", "f")
    val m = transform(array_distinct(TextOps.toks(col("text"))), t => md5(t))
    corpus.select(col("doc_id"), col("lang"), (0 until bits).map { j =>
      val vote = aggregate(m, lit(0L), (acc, h) =>
        acc + when(substring(h, j + 1, 1).isin(oddHex: _*), 1L).otherwise(-1L))
      when(vote > 0, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _).as("simhash"))
  }

  private val ErOffset = 5000000L

  private def charGrams(nm: Column, len: Int): Column =
    when(length(nm) < len, array(nm)).otherwise(array_distinct(transform(
      sequence(lit(1), length(nm) - (len - 1)), i => nm.substr(i, lit(len)))))

  /** q251 entity resolution at constant duplicate density: copy i of
    * `customer` shifts keys by i·10⁷ and rotates every name digit by i
    * (a bijection on the digit alphabet); a md5-selected quarter gets a
    * typo'd variant (key + 5·10⁶). The law: the BLOCKING-KEY SPACE must
    * outgrow the corpus (|Σ|^ℓ ≫ n). Rare-3-gram candidates trend to n²
    * as the digit space saturates, 5-grams stay near-linear, and the
    * `auto` arm uses q251's own ℓ = ResolutionPack.blockLenOf(n). Arms
    * emit candidates; the check verifies them at the fixed q251
    * contract (3-gram Jaccard ≥ 0.9 plus field agreement) and requires
    * 100% recall of the planted variants in every arm. */
  val ErScale: Law[(DataFrame, DataFrame, Long)] =
    Law[(DataFrame, DataFrame, Long)]("ErScale", Sf01, Seq(1, 2, 4, 8), 0)(
    corpus = { (s, dir, k) =>
      val base = Tables.load(s, dir, "customer").select(
        col("c_custkey").as("rec_id"), col("c_name").as("raw_name"),
        col("c_nationkey").as("nation"), col("c_mktsegment").as("segment"))
      val reg = copies(k) { i =>
        val rot = "0123456789".map(c => ('0' + (c - '0' + i) % 10).toChar)
        base.withColumn("rec_id", col("rec_id") + lit(i * 10000000L))
          .withColumn("raw_name", translate(col("raw_name"), "0123456789", rot))
      }
      val dirty = reg.unionByName(reg.filter(
          TrainingPipelinePack.md5Hash32(col("rec_id"), "erdup") % 4 === 0)
        .withColumn("rec_id", col("rec_id") + ErOffset)
        .withColumn("raw_name", upper(concat(col("raw_name"), lit("x")))))
        .withColumn("nm", lower(col("raw_name"))).persist(Mem)
      (dirty, dirty.select(col("rec_id"), col("nation"), col("segment"),
        charGrams(col("nm"), 3).as("vgrams")).persist(Mem), k * base.count())
    },
    stats = { case (dirty, _, n) =>
      val recs = dirty.count()
      Seq("n_records" -> recs, "n_variants" -> (recs - n),
        "l_auto" -> ResolutionPack.blockLenOf(recs))
    },
    arms = {
      def candidates(dirty: DataFrame, len: Int) = {
        val gr = dirty.select(col("rec_id"),
          explode(charGrams(col("nm"), len)).as("g"))
        val rare = gr.join(gr.groupBy("g").agg(count(lit(1)).as("df")), Seq("g"))
          .withColumn("rk", row_number().over(
            Window.partitionBy("rec_id").orderBy(col("df"), col("g"))))
          .filter(col("rk") <= 2).select(col("rec_id"), col("g"))
        rare.join(rare.select(col("rec_id").as("rec_id2"), col("g")), Seq("g"))
          .filter(col("rec_id") < col("rec_id2"))
          .select("rec_id", "rec_id2").distinct()
      }
      Seq("3gram" -> ((_: Long) => 3), "5gram" -> ((_: Long) => 5),
        "auto" -> ResolutionPack.blockLenOf _).map { case (n, len) =>
        Arm[(DataFrame, DataFrame, Long)](n)(c =>
          candidates(c._1, len(c._1.count())))
      }
    },
    check = { case ((dirty, recs, n), o) =>
      val variants = dirty.count() - n
      o.toSeq.map { case (arm, cand) =>
        val verified = cand.join(recs, Seq("rec_id"))
          .join(recs.select(col("rec_id").as("rec_id2"),
            col("vgrams").as("vgrams2"), col("nation").as("nation2"),
            col("segment").as("segment2")), Seq("rec_id2"))
          .filter(col("nation") === col("nation2") &&
            col("segment") === col("segment2") &&
            size(array_intersect(col("vgrams"), col("vgrams2"))).cast("double") /
              size(array_union(col("vgrams"), col("vgrams2"))) >= 0.9)
        val found = verified.filter(col("rec_id2") === col("rec_id") + ErOffset)
          .count()
        require(found == variants,
          s"arm $arm recall break: planted=$variants found=$found")
        s"verified_$arm" -> verified.count()
      }
    })

  // ---- Sketches and skew -------------------------------------------------

  /** The q284/q212 deterministic HLL sketch at CONSTANT 64-register state
    * as the true cardinality grows (n = 1,000·k salted string keys): its
    * relative error stays inside 1.04/√64 ≈ 13% at every n while the
    * exact distinct count's shuffled state grows with n. The estimator is
    * q284's: exact integer Σ2^(27−reg) plus the linear-counting fallback. */
  val NdvSketch: Law[DataFrame] = Law[DataFrame]("NdvSketch", None,
    Seq(1, 10, 100, 1000), 0)(
    corpus = (s, _, k) => s.range(1000L * k)
      .select(concat(lit("key|"), col("id")).as("v")).persist(Mem),
    stats = c => Seq("n" -> c.count()),
    arms = Seq(
      Arm[DataFrame]("exact")(_.agg(countDistinct("v"))),
      Arm[DataFrame]("sketch") { keys =>
        val m = 64L
        val h = TrainingPipelinePack.md5Hash32(col("v"), "hllp")
        val w = call_function("div", col("h"), lit(m))
        keys.select(h.as("h")).distinct()
          .select((col("h") % m).as("idx"), w.as("w"))
          .select(col("idx"), when(col("w") === 0, lit(27L))
            .otherwise(call_function("bit_count",
              col("w").bitwiseAND(lit(0L) - col("w")) - 1).cast("long") + 1)
            .as("rho"))
          .groupBy("idx").agg(max("rho").as("reg"))
          .agg((sum(expr("shiftleft(1L, cast(27 - reg as int))")) +
              (lit(m) - count(lit(1))) * lit(134217728L)).as("s"),
            (lit(m) - count(lit(1))).as("v0"))
      }),
    check = { (_, o) =>
      val exact = one(o, "exact").getLong(0)
      val r = one(o, "sketch")
      val raw = 0.709 * 4096.0 * 134217728.0 / r.getLong(0).toDouble
      val est = if (raw <= 160.0 && r.getLong(1) > 0)
        64.0 * math.log(64.0 / r.getLong(1)) else raw
      Seq("exact" -> exact, "est" -> est, "rel_err" -> (est - exact) / exact)
    })

  /** The three answers to a skewed shuffle join, behind the Salting
    * doctrine ("prefer AQE first; salt only on measured residual
    * skew"): 1,000,000·k fact rows, 60% on ONE key, joined to a
    * 5,001-row dimension with broadcast off. `plain` has AQE skew-split
    * off (the straggler baseline), `aqe` on, `salted` uses
    * [[Salting.saltedEquiJoin]] 16 ways with skew-split off. */
  val SkewBench: Law[(DataFrame, DataFrame)] = Law[(DataFrame, DataFrame)](
    "SkewBench", None, Seq(20), 20, conf = NoBroadcast +: Seq(
      // make the skew visible to AQE at this scale
      "skewJoin.skewedPartitionFactor" -> "2.0",
      "skewJoin.skewedPartitionThresholdInBytes" -> "8MB",
      "advisoryPartitionSizeInBytes" -> "4MB").map { case (k, v) =>
        SetConf(s"spark.sql.adaptive.$k", v) })(
    corpus = (s, _, k) => (
      s.range(1000000L * k).select(when(col("id") % 5 < 3, lit(0L))
        .otherwise(pmod(col("id"), lit(5000L)) + 1).as("k"),
        col("id").as("payload")),
      s.range(5001L).select(col("id").as("k"), (col("id") * 7).as("v"))),
    arms = {
      val skew = "spark.sql.adaptive.skewJoin.enabled"
      def plain(c: (DataFrame, DataFrame)) =
        c._1.join(c._2, "k").select("payload", "v")
      Seq(Arm[(DataFrame, DataFrame)]("plain", Seq(SetConf(skew, "false")),
          naive = true)(plain),
        Arm[(DataFrame, DataFrame)]("aqe", Seq(SetConf(skew, "true")))(plain),
        Arm[(DataFrame, DataFrame)]("salted", Seq(SetConf(skew, "false")))(c =>
          Salting.saltedEquiJoin(c._1, c._2, "k", 16).select("payload", "v")))
    })

  val all: Seq[Law[_]] = Seq(AntiRuleScale, AsofScale, BoundedPart,
    ContainScale, ContainSkew, DedupScale, EdScale, ErScale, FfScale,
    GhostFrame, HovScale, IvAdaptive, IvScale, MkLocf, ModeScale,
    MovingFrame, NdvSketch, PctScale, RankFamily, RankScale, RuleScale,
    SrpJoin, SrpNormBand, SrpScale, SsScale, VbScale, WideRuleScale,
    WpctScale, SkewBench)
}
