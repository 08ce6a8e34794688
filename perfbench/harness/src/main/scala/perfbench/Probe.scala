package perfbench

import scala.collection.mutable

import org.apache.spark.Success
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec, CartesianProductExec, SortMergeJoinExec}
import org.apache.spark.sql.execution.ExpandExec
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.util.QueryExecutionListener

/** The one task-metrics accumulator, always on: running totals of the
  * bytes and rows tasks moved. The end-to-end `write_amp` and `rows_per_s`
  * take differences of its snapshots around the pass, and the traced run's
  * `exec.*` byte counters take them around each operation.
  */
final class Volume extends SparkListener {
  private val sums = mutable.LinkedHashMap.empty[String, Long]

  /** Totals so far; read after draining the listener bus. */
  def snapshot(): Map[String, Long] = synchronized(sums.toMap).withDefaultValue(0L)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) Seq(
      "exec.input_bytes" -> m.inputMetrics.bytesRead,
      "input_records" -> m.inputMetrics.recordsRead,
      "exec.shuffle_write_bytes" -> m.shuffleWriteMetrics.bytesWritten,
      "exec.shuffle_read_bytes" -> m.shuffleReadMetrics.totalBytesRead,
      "exec.spill_bytes" -> m.diskBytesSpilled,
      "exec.result_bytes" -> m.resultSize
    ).foreach { case (k, v) => sums(k) = sums.getOrElse(k, 0L) + v }
  }
}

/** One timed span. `op` is the operation id, also the Spark job group of
  * every job the operation launches.
  */
final case class Span(id: String, parent: String, op: String, name: String,
    startMs: Long, endMs: Long)

/** The traced run's recorder. It reads Spark's own instruments from
  * outside the program: job/stage/task events, the planning tracker and
  * final plan of every query execution, and the codegen histogram. The
  * harness runs one operation at a time and drains the listener bus before
  * and after it, so every event belongs to the operation in `current`;
  * events outside operations (input staging, checks) are ignored. Byte
  * counters come from the run's [[Volume]], taken around each operation.
  */
final class Trace(cores: Int, volume: Volume) extends SparkListener with QueryExecutionListener
    with AdaptiveSparkPlanHelper {
  @volatile var current = ""
  @volatile var buildEndMs = 0L

  val counters = mutable.LinkedHashMap.empty[String, Double].withDefaultValue(0.0)
  val spans = mutable.ArrayBuffer.empty[Span]

  private def add(k: String, v: Double): Unit = counters(k) = counters(k) + v

  private val stageSubmit = mutable.Map.empty[Int, Long]
  private val stageTasks = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val jobStart = mutable.Map.empty[Int, Long]
  private val opStages = mutable.ArrayBuffer.empty[(Long, Long)]
  private val cachedRdds = mutable.Set.empty[Int]
  private val cacheBuilders = mutable.Map.empty[Int, org.apache.spark.util.LongAccumulator]
  private val codegen = CodegenMetrics.METRIC_COMPILATION_TIME
  private var compilesAtOpStart = 0L
  private var volumeAtOpStart = Map.empty[String, Long]
  private var countersAtOpStart = Map.empty[String, Double]

  /** Each operation's own share of every counter, by operation id. */
  val perOp = mutable.LinkedHashMap.empty[String, Seq[(String, Double)]]

  /** Rule classes injected by `graft.Sessions`. */
  val rules: Seq[String] = Seq("HammingJoinBlocking", "GlobalRankRewrite",
    "BandJoinBlocking", "PercentileRewrite", "ModeRewrite",
    "EditDistanceJoinBlocking", "SetSimilarityJoinBlocking",
    "CosineJoinBlocking")

  override def onJobStart(e: SparkListenerJobStart): Unit =
    if (current.nonEmpty) synchronized {
      add("exec.jobs", 1)
      if (e.time < buildEndMs || buildEndMs == 0L) add("queries.build_jobs", 1)
      jobStart(e.jobId) = e.time
      e.stageIds.foreach(s => stageJob(s) = e.jobId)
    }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    if (current.nonEmpty) synchronized {
      val start = jobStart.remove(e.jobId).getOrElse(e.time)
      val phase = if (buildEndMs == 0L || start < buildEndMs) "build" else "execute"
      spans += Span(s"$current/job${e.jobId}", s"$current/$phase", current,
        "job", start, e.time)
    }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    if (current.nonEmpty) synchronized {
      val info = e.stageInfo
      info.submissionTime.foreach(t => stageSubmit(info.stageId) = t)
      info.rddInfos.filter(_.storageLevel.isValid).foreach(r =>
        cachedRdds += r.id)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (current.nonEmpty) synchronized {
      val t = e.taskInfo
      add("exec.tasks", 1)
      add("exec.task_ms", t.duration.toDouble)
      if (e.reason != Success) add("exec.failed_tasks", 1)
      stageSubmit.get(e.stageId).foreach(s =>
        add("exec.sched_wait_ms", math.max(0L, t.launchTime - s).toDouble))
      stageTasks.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) +=
        t.duration
      val m = e.taskMetrics
      if (m != null) {
        add("exec.cpu_ms", m.executorCpuTime / 1e6)
        add("exec.gc_ms", m.jvmGCTime.toDouble)
        add("exec.fetch_wait_ms", m.shuffleReadMetrics.fetchWaitTime.toDouble)
      }
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    if (current.nonEmpty) synchronized {
      val info = e.stageInfo
      add("exec.stages", 1)
      val start = info.submissionTime.getOrElse(0L)
      val end = info.completionTime.getOrElse(start)
      opStages += ((start, end))
      val job = stageJob.get(info.stageId).map(j => s"$current/job$j")
        .getOrElse(current)
      spans += Span(s"$current/stage${info.stageId}.${info.attemptNumber()}",
        job, current, "stage", start, end)
      stageTasks.remove(info.stageId).filter(_.nonEmpty).foreach { ds =>
        val sorted = ds.sorted
        add("exec.straggler_ms", (sorted.last - sorted(sorted.size / 2)).toDouble)
      }
      stageSubmit.remove(info.stageId)
    }

  private def phases(qe: QueryExecution, which: Seq[(String, String)]): Unit =
    which.foreach { case (phase, layer) =>
      qe.tracker.phases.get(phase).foreach { p =>
        add(s"plan.${layer}_ms", p.durationMs.toDouble)
        spans += Span(s"$current/qe${qe.id}/$layer", current, current, layer,
          p.startTimeMs, p.endTimeMs)
      }
    }

  /** The built query's own analysis, which ran while the pack function
    * built it; its execution reaches [[onSuccess]] as a separate write. */
  def planned(qe: QueryExecution): Unit = synchronized {
    phases(qe, Seq("analysis" -> "analyze"))
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit =
    if (current.nonEmpty) synchronized {
      phases(qe, Seq("analysis" -> "analyze", "optimization" -> "optimize",
        "planning" -> "physical"))
      qe.tracker.rules.foreach { case (name, r) =>
        add("plan.rules_ms", r.totalTimeNs / 1e6)
        val short = name.stripPrefix("graft.plans.")
        if (short != name && rules.contains(short)) {
          add(s"rule.$short.ms", r.totalTimeNs / 1e6)
          add(s"rule.$short.runs", r.numInvocations.toDouble)
          add(s"rule.$short.effective", r.numEffectiveInvocations.toDouble)
        }
      }
      countOperators(qe.executedPlan)
    }

  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = ()

  private def countOperators(plan: SparkPlan): Unit =
    collectWithSubqueries(plan) { case p => p }.foreach {
      case _: ShuffleExchangeExec => add("op.shuffle_exchanges", 1)
      case _: BroadcastExchangeExec => add("op.broadcast_exchanges", 1)
      case _: ReusedExchangeExec => add("op.reused_exchanges", 1)
      case _: SortMergeJoinExec => add("op.smj", 1)
      case _: BroadcastHashJoinExec => add("op.bhj", 1)
      case _: BroadcastNestedLoopJoinExec | _: CartesianProductExec =>
        add("op.nlj", 1)
      case _: ExpandExec => add("op.expands", 1)
      case w: DataWritingCommandExec =>
        w.cmd.metrics.get("numFiles").foreach(m =>
          add("etl.files_written", m.value.toDouble))
      case s: InMemoryTableScanExec =>
        s.metrics.get("numOutputRows").foreach(m =>
          add("cache.scan_rows", m.value.toDouble))
        val b = s.relation.cacheBuilder
        cacheBuilders(System.identityHashCode(b)) = b.rowCountStats
      case _ =>
    }

  /** Closes operation bookkeeping after the bus has drained: driver gap
    * (operation wall time that no stage covers), cache and codegen counts.
    */
  def endOp(startMs: Long, endMs: Long, leaked: Int): Unit = synchronized {
    val merged = opStages.sortBy(_._1).foldLeft(List.empty[(Long, Long)]) {
      case ((s0, e0) :: rest, (s, e)) if s <= e0 => (s0, math.max(e0, e)) :: rest
      case (acc, iv) => iv :: acc
    }
    val covered = merged.map { case (s, e) =>
      math.max(0L, math.min(e, endMs) - math.max(s, startMs)) }.sum
    add("exec.driver_gap_ms", math.max(0L, endMs - startMs - covered).toDouble)
    add("cache.persists", cachedRdds.size.toDouble)
    add("cache.rows_cached", cacheBuilders.values.map(_.value.toLong).sum.toDouble)
    add("cache.leaked", leaked.toDouble)
    val compiles = codegen.getCount - compilesAtOpStart
    add("codegen.compiles", compiles.toDouble)
    // the histogram keeps a sample, not a sum: time = count × sample mean
    add("codegen.compile_ms", compiles * codegen.getSnapshot.getMean)
    volume.snapshot().foreach { case (k, v) =>
      if (k.startsWith("exec.")) add(k, (v - volumeAtOpStart.getOrElse(k, 0L)).toDouble) }
    perOp(current) = counters.toSeq.map { case (k, v) =>
      k -> (v - countersAtOpStart.getOrElse(k, 0.0)) }.filter(_._2 != 0.0)
    opStages.clear(); cachedRdds.clear(); cacheBuilders.clear()
    stageJob.clear()
    current = ""
  }

  /** Opens operation `id` after the bus has drained; jobs submitted before
    * `buildEndMs` (0: not yet known) belong to its build phase. */
  def beginOp(id: String, buildEnd: Long): Unit = synchronized {
    current = id
    buildEndMs = buildEnd
    compilesAtOpStart = codegen.getCount
    volumeAtOpStart = volume.snapshot()
    countersAtOpStart = counters.toMap
  }

  /** Run-level figures derived from the counters. */
  def finish(wallS: Double): Unit = {
    counters("exec.core_busy") =
      if (wallS > 0) counters("exec.task_ms") / (wallS * 1000 * cores) else 0.0
    counters("cache.reads_per_encode") =
      if (counters("cache.rows_cached") > 0)
        counters("cache.scan_rows") / counters("cache.rows_cached")
      else 0.0
  }
}
