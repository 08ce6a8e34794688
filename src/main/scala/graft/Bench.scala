package graft

import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}
import scala.collection.concurrent.TrieMap

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Benchmark main — driver contract: print ONE JSON line
  * `{"metric":"total","value":N,"unit":"sec","queries":{...},"sf":...}`.
  *
  * Times every `SparkEntry.queries` entry end-to-end (build + plan +
  * execute) on `SPARK_GRAFT_SF_DIR`, or only the queries whose names start
  * with one of the optional argument prefixes (the targeted A/B form).
  * Each result goes, every row and column, to Spark's `noop` sink:
  * `count()` would let Catalyst prune the output projection and drop the
  * final sort. Uses [[Sessions.local]] so the session invariants match
  * Verify — a query that only works under Verify's session would
  * otherwise silently time as a failure here. Per query, one
  * `[profile] {json}` line goes to stderr (see [[rep]]).
  *
  * Usage: sbt "runMain graft.Bench [prefix ...]"
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val spark = Sessions.local("graft-bench")
    println(run(spark, QueryLoop.sfDir, QueryLoop.select(args.toSeq)))
    spark.stop()
  }

  /** Times `queries` and returns the contract line. */
  def run(spark: SparkSession, sfDir: String, queries: Seq[(String, QueryLoop.Query)]): String = {
    // Warm the JVM + parquet footers once so per-query numbers measure the
    // query, not first-touch class loading; a table that cannot load fails here.
    graft.catalog.Tables.all.foreach { n =>
      try graft.catalog.Tables.load(spark, sfDir, n).count()
      catch { case e: Exception => throw new IllegalStateException(s"table $n failed to load", e) }
    }
    val prof = new Profiler
    spark.sparkContext.addSparkListener(prof)
    spark.listenerManager.register(prof)
    // min of two timed executions per query: the host's wall-clock swings
    // 2-4x under noisy neighbors (BASELINE.md bench log); the min of two
    // runs discards stalls the code didn't cause while still including
    // plan+execute end-to-end. The loop releases every cache after EVERY
    // rep, so both reps are cold for the query's own work. A query that
    // throws adds no time: it is left out of `queries` and the total.
    val results = try queries.flatMap { case (name, fn) =>
      val reps = (1 to 2).map(r =>
        QueryLoop.once(spark, "bench", name)(rep(spark, prof, sfDir, name, fn, s"$name#$r")))
      val failed = reps.collectFirst { case Left(msg) => msg }
      val best = reps.collect { case Right(r) => r }.minByOption(_._1)
      val fields = failed.fold(best.get._2)(msg => Seq("failed" -> msg))
      Console.err.println("[profile] " + QueryLoop.json(("query" -> name) +: fields))
      best.filter(_ => failed.isEmpty).map(name -> _._1)
    } finally {
      spark.sparkContext.clearJobGroup()
      spark.sparkContext.removeSparkListener(prof)
      spark.listenerManager.unregister(prof)
    }
    // seconds rounded to ms in the PRINTED json only: round 10's full-precision
    // line outgrew the contract reader's tail capture and never parsed.
    def ms(v: Double): String = "%.3f".format(v)
    val qs = results.map { case (k, v) => QueryLoop.json(k) + ":" + ms(v) }.mkString("{", ",", "}")
    s"""{"metric":"total","value":${ms(results.map(_._2).sum)},"unit":"sec","queries":$qs,"sf":"$sfDir"}"""
  }

  /** One timed rep under job groups `g/build` and `g`: its seconds and
    * profile, read after the timed region. `build_ms` includes the eager
    * analysis of each DataFrame the pack builds; the planning phases are the
    * tracker's of the QueryExecution that ran the write, `exec_ms` the rest
    * of the write, and `leaked` what this rep's own release found. */
  private def rep(spark: SparkSession, prof: Profiler, sfDir: String, name: String,
      fn: QueryLoop.Query, g: String): (Double, Seq[(String, Any)]) = {
    spark.sparkContext.setJobGroup(s"$g/build", name)
    val t0 = System.nanoTime()
    val df = fn(spark, sfDir)
    val t1 = System.nanoTime()
    spark.sparkContext.setJobGroup(g, name)
    df.write.format("noop").mode("overwrite").save()
    val t2 = System.nanoTime()
    val leaked = QueryLoop.release(spark)
    val phases = prof.written().tracker.phases
    val plan = Seq("analyze_ms" -> "analysis", "optimize_ms" -> "optimization",
      "physical_ms" -> "planning").map { case (k, p) => k -> phases.get(p).fold(0L)(_.durationMs) }
    def count(k: String, groups: String*) = groups.map(x => prof.counts((x, k))).sum
    ((t2 - t0) / 1e9, Seq("sec" -> (t2 - t0) / 1e9, "build_ms" -> (t1 - t0) / 1e6) ++ plan ++
      Seq("exec_ms" -> math.max(0.0, (t2 - t1) / 1e6 - plan.map(_._2).sum),
        "build_jobs" -> count("jobs", s"$g/build"), "leaked" -> leaked) ++
      Seq("jobs", "tasks", "task_ms", "shuffle_write_bytes", "spill_bytes")
        .map(k => k -> count(k, s"$g/build", g)))
  }

  /** Job and task counters by job group, and the QueryExecution of each
    * successful noop write (the only `overwrite` command run here). Both
    * halves listen on the bus's shared queue, so once a write's
    * QueryExecution arrives, every job and task event of its rep is counted. */
  private final class Profiler extends SparkListener with QueryExecutionListener {
    val counts = TrieMap.empty[(String, String), Long].withDefaultValue(0L)
    private val stageGroup = TrieMap.empty[Int, String]
    private val writes = new LinkedBlockingQueue[QueryExecution]

    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties.getProperty("spark.jobGroup.id")).foreach { g =>
        counts((g, "jobs")) += 1
        e.stageIds.foreach(stageGroup(_) = g)
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      stageGroup.get(e.stageId).foreach { g =>
        val m = Option(e.taskMetrics)
        Seq("tasks" -> 1L, "task_ms" -> e.taskInfo.duration,
          "shuffle_write_bytes" -> m.fold(0L)(_.shuffleWriteMetrics.bytesWritten),
          "spill_bytes" -> m.fold(0L)(_.diskBytesSpilled))
          .foreach { case (k, v) => counts((g, k)) += v }
      }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      if (f == "overwrite") writes.put(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()

    /** The next write's QueryExecution; listener delivery is asynchronous. */
    def written(): QueryExecution = Option(writes.poll(10, TimeUnit.SECONDS))
      .getOrElse(throw new IllegalStateException("no execution event for the noop write"))
  }
}
