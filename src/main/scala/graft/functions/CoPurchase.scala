package graft.functions

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Within-order co-purchase pair expansion over `lineitem` — the shared
  * kernel of market-basket mining (q141), the part co-purchase graph
  * (q155 PageRank), and triangle counting (q161). One tokenizer doctrine
  * (see [[graft.queries.TextOps]]) applied to graphs: every consumer
  * derives its edges here so the pair semantics cannot drift apart.
  *
  * ONE scan of lineitem: per-order `collect_set` (dedupes in-agg), then
  * map-side pair enumeration over the sorted basket array. The self-join
  * formulation would scan + shuffle lineitem twice — Spark's exchange
  * reuse does not fire across differently-aliased branches (verified with
  * tools.Explain). Expansion is bounded by basket size (≤ 7 lines per
  * order in the TPC-H shape ⇒ ≤ 21 pairs), so the blowup is a small
  * constant and the op stays linear at 100 TB.
  */
object CoPurchase {

  /** One sorted distinct-part basket array per order — THE shared shuffle
    * of every co-purchase consumer. Exposed so siblings that need a
    * second view of the same grain (e.g. q191's per-part order support =
    * one explode of these arrays) build the byte-identical subplan and
    * AQE's ReusedExchange serves both from ONE shuffle of lineitem
    * instead of a second scan + distinct (optimization guide §2.4:
    * "two operations keyed the same way share one exchange").
    */
  def baskets(lineitem: DataFrame): DataFrame =
    lineitem
      .groupBy("l_orderkey")
      .agg(sort_array(collect_set(col("l_partkey"))).as("ps"))

  /** One row per (order, unordered part pair), oriented `src < dst`.
    * Index-variant transform + slice enumeration: `slice` past the array
    * end is empty, so 1-part orders contribute nothing — unlike
    * `sequence(1, 0)`, which Spark generates DESCENDING as [1, 0].
    */
  def orderPairs(lineitem: DataFrame): DataFrame =
    baskets(lineitem)
      .select(explode(flatten(transform(col("ps"), (x, i) =>
        transform(slice(col("ps"), i + lit(2), size(col("ps"))),
          y => struct(x.as("src"), y.as("dst")))))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))

  /** The distinct oriented edge set (src < dst) of the co-purchase graph. */
  def distinctPairs(lineitem: DataFrame): DataFrame =
    orderPairs(lineitem).distinct()
}
