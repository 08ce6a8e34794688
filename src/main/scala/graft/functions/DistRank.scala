package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Exact distributed rank: global `row_number`/`ntile` over a total order
  * WITHOUT a single-partition `WindowExec`.
  *
  * `Window.orderBy(...)` with no `partitionBy` moves the ENTIRE relation
  * into one partition — the one plan shape that cannot survive a 100×
  * scale-up (Spark itself logs "No Partition Defined for Window operation"
  * at WARN). The exact, scale-safe equivalent implemented here:
  *
  *   1. `repartitionByRange(order)` — range shuffle; partition i holds the
  *      i-th slice of the total order (RangePartitioner boundaries come
  *      from a deterministic per-partition-seeded sample of the keys).
  *   2. Per-partition `row_number` via `Window.partitionBy(partition-id)`
  *      — every window group is one range slice, ~n/P rows, never n.
  *   3. A P-row offsets table (`groupBy(pid).count` + prefix-sum window)
  *      broadcast-joined back: global rn = local rn + rows in all earlier
  *      ranges. The prefix-sum window IS unpartitioned, but over ≤ P
  *      (= `spark.sql.shuffle.partitions`) rows — the bounded-grain case
  *      the corpus-grain rule exists to protect.
  *
  * The order columns MUST total-order the relation (callers append a
  * unique-key tiebreak) — then (range slice, local order) reproduces the
  * exact global order and every rank value, so results are bit-identical
  * to the single-partition form (DistRankSpec pins this against Spark's
  * own `row_number`/`ntile`; `ScaleLaw RankScale` measures the flat
  * per-partition cost as the corpus scales).
  *
  * The range-shuffled projection is persisted: the offsets pass and the
  * rank pass must observe the SAME partitioning, and `spark_partition_id`
  * must be stamped once (same doctrine as the k-row model literals in
  * SimilarityPack — here the driver never sees the data at all, only a
  * P-row broadcast flows).
  *
  * CACHE CONTRACT: the persist must outlive the caller's ACTION — both
  * passes re-read it lazily, and unpersisting early would re-execute the
  * range shuffle with fresh RangePartitioner boundaries (the offsets
  * would then describe a partitioning the rank pass never saw — a silent
  * wrong answer, the exact trap [[graft.plans.GlobalRankRewrite]]'s
  * deterministic slicing exists to dodge). DistRank therefore cannot
  * unpersist on the caller's behalf; callers running many rank queries
  * in one session must `spark.catalog.clearCache()` between logical
  * queries (the Verify/Bench harnesses do) or cached blocks accumulate —
  * e.g. q142's three nested [[withNtile]] calls coexist as three caches
  * until the harness clears them.
  */
object DistRank {

  private val pidCol = "graft_rank_pid"
  private val cntCol = "graft_rank_cnt"
  private val offCol = "graft_rank_off"
  private val totCol = "graft_rank_tot"

  /** `df` + `rnCol` = exact global 1-based row number under `order`, and
    * + `totCol` = total row count (needed by [[withNtile]]; dropped by
    * [[withRowNumber]]). Output partitioning: hash on the range slice id.
    */
  private def withRnAndTotal(df: DataFrame, rnCol: String,
      order: Seq[Column]): DataFrame = {
    val ranged = df.repartitionByRange(order: _*)
      .withColumn(pidCol, spark_partition_id())
      .persist(StorageLevel.MEMORY_AND_DISK)
    val wPrev = Window.orderBy(pidCol)
      .rowsBetween(Window.unboundedPreceding, -1)
    val wAll = Window.orderBy(pidCol)
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val offsets = ranged.groupBy(pidCol).agg(count(lit(1)).as(cntCol))
      .withColumn(offCol, coalesce(sum(cntCol).over(wPrev), lit(0L)))
      .withColumn(totCol, sum(cntCol).over(wAll))
      .select(col(pidCol), col(offCol), col(totCol))
    ranged.join(broadcast(offsets), Seq(pidCol))
      .withColumn(rnCol,
        row_number().over(Window.partitionBy(pidCol).orderBy(order: _*))
          .cast("long") + col(offCol))
      .drop(pidCol, offCol)
  }

  /** `df` + `rnCol`: exact global 1-based `row_number() OVER (ORDER BY
    * order)` as a LongType column, distributed per the object doctrine.
    */
  def withRowNumber(df: DataFrame, rnCol: String, order: Column*): DataFrame =
    withRnAndTotal(df, rnCol, order).drop(totCol)

  /** [[withRowNumber]] plus the total row count as `nCol` — for callers
    * deriving ntile/percent_rank/decile arithmetic from one rank pass.
    */
  def withRowNumberAndCount(df: DataFrame, rnCol: String, nCol: String,
      order: Column*): DataFrame =
    withRnAndTotal(df, rnCol, order).withColumnRenamed(totCol, nCol)

  /** SQL `NTILE(k)` reconstructed from a global row number `rn` and the
    * total row count `n`: the first `n % k` tiles take `n/k + 1` rows,
    * the rest `n/k` — exactly Spark's and DuckDB's NTILE. Integer-exact
    * (`div`); the zero-size-tile branch (n < k) can't divide by zero
    * because CaseWhen evaluates only the matching branch.
    */
  private[graft] def ntileFromRn(rn: Column, n: Column, k: Int): Column = {
    val q = call_function("div", n, lit(k.toLong))
    val r = n % lit(k.toLong)
    val bigRows = r * (q + 1) // rows covered by the (q+1)-sized tiles
    when(rn <= bigRows, call_function("div", rn - 1, q + 1) + 1)
      .otherwise(r + call_function("div", rn - bigRows - 1, q) + 1)
  }

  /** `df` + `tileCol`: exact global `NTILE(k) OVER (ORDER BY order)` as
    * an IntegerType column, distributed per the object doctrine.
    */
  def withNtile(df: DataFrame, tileCol: String, k: Int,
      order: Column*): DataFrame = {
    val rn = "graft_rank_rn"
    withRnAndTotal(df, rn, order)
      .withColumn(tileCol,
        ntileFromRn(col(rn), col(totCol), k).cast("int"))
      .drop(rn, totCol)
  }
}
