package graft

import org.apache.spark.sql.SparkSession

/** Single place that encodes the session-level invariants every graft
  * entrypoint (Verify, Bench, Explain, ScaleLaw, tests) relies on.
  *
  * Invariants:
  *   - `spark.sql.session.timeZone = UTC`: oracle parity — DuckDB treats the
  *     testdata parquet timestamps as wall-clock UTC.
  *   - `spark.sql.legacy.parquet.nanosAsLong = true`: `events.ts` is parquet
  *     INT64 TIMESTAMP(NANOS), which Spark's reader otherwise rejects
  *     ([PARQUET_TYPE_ILLEGAL]). With the conf, the column surfaces as BIGINT
  *     nanoseconds — exact, no per-row conversion on scan. Set once here (a
  *     session-level invariant, per ADVICE r01) so read semantics are never
  *     order-dependent. Queries convert at the edge via
  *     [[graft.catalog.Tables.tsMicros]]; testdata nanos are µs-aligned so
  *     the conversion is lossless.
  *   - shuffle partitions = cores: local[N] has no reason for 200 reducers;
  *     on a real cluster this would be set to ~2-3× total cores or left to
  *     AQE coalescing, which stays enabled.
  *   - AQE on (default in Spark 4, pinned here deliberately): runtime
  *     re-planning (skew-join split, shuffle coalesce, SMJ→BHJ demotion) is
  *     load-bearing for the 100 TB design — we declare plans and let runtime
  *     stats pick physical shapes.
  */
object Sessions {
  def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")

  def local(appName: String, cores: String = cpus): SparkSession = {
    val spark = SparkSession
      .builder()
      .master(s"local[$cores]")
      .appName(appName)
      .withExtensions { e =>
        graft.functions.DotProduct.inject(e)
        graft.functions.MinHashSig.inject(e)
        // naive bit_count(xor) <= k theta joins plan as pigeonhole-
        // segment equi-joins (graft.plans.HammingJoinBlocking scaladoc)
        e.injectOptimizerRule(_ => graft.plans.HammingJoinBlocking)
        // naive GLOBAL row_number()/ntile() windows over above-broadcast-
        // threshold inputs plan as the distributed-rank shape
        // (graft.plans.GlobalRankRewrite scaladoc)
        e.injectOptimizerRule(_ => graft.plans.GlobalRankRewrite)
        // naive band/as-of theta joins plan as bucketed equi-joins
        // (graft.plans.BandJoinBlocking scaladoc)
        e.injectOptimizerRule(_ => graft.plans.BandJoinBlocking)
        // naive GLOBAL exact percentile/median aggregates plan as
        // distributed order-statistic selection, composing with
        // GlobalRankRewrite (graft.plans.PercentileRewrite scaladoc)
        e.injectOptimizerRule(_ => graft.plans.PercentileRewrite)
        // naive deterministic mode() aggregates plan as two-level
        // hash aggregation (graft.plans.ModeRewrite scaladoc)
        e.injectOptimizerRule(_ => graft.plans.ModeRewrite)
        // naive levenshtein(l, r) <= k theta joins plan as PassJoin
        // segment equi-joins (graft.plans.EditDistanceJoinBlocking
        // scaladoc)
        e.injectOptimizerRule(_ => graft.plans.EditDistanceJoinBlocking)
        // naive Jaccard/overlap set-similarity theta joins plan as
        // prefix-filtered token equi-joins
        // (graft.plans.SetSimilarityJoinBlocking scaladoc)
        e.injectOptimizerRule(_ => graft.plans.SetSimilarityJoinBlocking)
        // OPT-IN (spark.graft.srpjoin.segments, default off): naive
        // cosine/inner-product theta joins on embeddings gain an SRP
        // signature hamming bound — a deterministic, documented
        // recall<1 contract — which HammingJoinBlocking then plans
        // (graft.plans.CosineJoinBlocking scaladoc)
        e.injectOptimizerRule(_ => graft.plans.CosineJoinBlocking)
      }
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
