package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.FileSystem
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.perfbench.Internals

import graft.{Sessions, SparkEntry}
import graft.catalog.Tables
import graft.etl.Observe

/** One benchmark run in a fresh JVM: set up, one timed closed-loop pass
  * over the workload's operations, checks, and a JSON record.
  *
  *   run     --workload W --seed N --trace 0|1 --data DIR --work DIR
  *           --expected FILE --out FILE --budget SECONDS --spans FILE
  *           [--queries all]   (every query of the packs, not the sample)
  *   dump    --workload W --data DIR --dumps DIR   (`graft.Verify` dump of
  *           the workload's queries, for the oracle compare)
  *   capture --dumps DIR --only a,b,... --out FILE   (expected digests
  *           of the oracle-matched dumps)
  *   list    --workload W   (the workload's sample, one query a line)
  *
  * Every operation starts cold: the SQL cache and every persisted RDD are
  * dropped before it, untimed, so no operation reads another's persist().
  * A failed operation adds no time; it is named on stderr and in the
  * record.
  */
object Harness {
  final case class OpResult(name: String, kind: String, ok: Boolean,
      secs: Double, buildMs: Double, digest: String, expected: String,
      leaked: Int, error: String, layers: Seq[(String, Double)] = Nil)

  def main(argv: Array[String]): Unit = {
    val mainAtMs = System.currentTimeMillis()
    val mode = argv.head
    val a = argv.tail.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    mode match {
      case "dump" =>
        graft.Verify.main(Array(a("data"), a("dumps"), queries(a("workload")).mkString(",")))
      case "list" => queries(a("workload")).foreach(println)
      case "capture" => capture(a("dumps"), a.getOrElse("only", "").split(',').toSet, a("out"))
      case "run" => run(a, (mainAtMs -
        ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3)
    }
  }

  /** Workload → query packs, by the pack objects' own query lists. */
  val packs: Map[String, Seq[graft.queries.QueryPack]] = {
    import graft.queries._
    Map(
      "surface" -> Seq(RelationalCore, JoinsAggs, WindowsPack, ApproxPack,
        MedallionPack, OlistSurfacePack, ReportingPack, JsonPack),
      "llm_ops" -> Seq(DedupPack, SimilarityPack, MiningPack))
  }

  /** Every query of a workload's packs, in pack order. */
  def allQueries(workload: String): Seq[String] =
    packs(workload).flatMap(_.queries.map(_._1))

  /** The queries a run takes from each workload's packs: a stratified
    * sample, because one cold pass over all of them takes minutes and a
    * run must end in about half a minute. `sample.py` chose it from a
    * traced pass over every query: one query from each of k latency
    * strata, with every injected rule that fires at sf0.1, persist() and a
    * build that launches jobs each occurring at least once. BASELINE.md
    * compares the sample with its packs.
    */
  val sample: Map[String, Seq[String]] = Map(
    "surface" -> Seq("q07_distinct", "q29_intersect", "q30_except",
      "q33_cte_join", "q43_sessionize", "q45_moving_sum", "q83_json_map_explode",
      "q88_arg_extrema", "q90_silver_events", "q102_heavy_hitters",
      "q145_transition_matrix", "q150_hierarchy_topk", "q248_payment_mix",
      "q275_gini_concentration", "q312_tier_percentile_ladder",
      "q314_moving_band_monitor", "q315_centered_smoothing", "q316_disc_ladder",
      "q322_tier_weighted_percentile", "q355_tiebreak_fill"),
    "llm_ops" -> Seq("q74_ivf_search", "q82_hof_vector_features",
      "q110_quality_dedup", "q168_pq_adc", "q181_hard_negatives",
      "q302_hamming_semi_rule", "q345_cosine_band_composed",
      "q347_overlap_join_rule", "q349_pipeline_e2e",
      "q352_containment_anti_rule"))

  /** A workload's sample, in pack order. */
  def queries(workload: String): Seq[String] = {
    val chosen = sample(workload).toSet
    val all = allQueries(workload)
    require(chosen.subsetOf(all.toSet), s"not in the packs: ${chosen -- all}")
    all.filter(chosen)
  }

  private def secsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private def copyDir(src: File, dst: File): Unit = {
    dst.mkdirs()
    src.listFiles.filter(_.isFile).foreach(f => Files.copy(f.toPath,
      new File(dst, f.getName).toPath, StandardCopyOption.REPLACE_EXISTING))
  }

  def du(f: File): Long =
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.map(du).sum
    else if (f.isFile) f.length else 0L

  /** Bytes written/read through Hadoop's local file system since start. */
  private def fsBytes(): (Long, Long) = {
    @annotation.nowarn("cat=deprecation")
    val stats = FileSystem.getAllStatistics.asScala.filter(_.getScheme == "file")
    (stats.map(_.getBytesWritten).sum, stats.map(_.getBytesRead).sum)
  }

  /** Scan, broadcast join, shuffle aggregate, window, sort and the digest,
    * written to the noop sink: the shapes nearly every operation uses. */
  private def firstQuery(spark: SparkSession, dir: String): Unit = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val q = Tables.load(spark, dir, "orders")
      .join(Tables.load(spark, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .groupBy("c_nationkey", "o_orderstatus")
      .agg(count(lit(1)).as("n"), sum("o_totalprice").as("v"))
      .withColumn("r", rank().over(Window.partitionBy("o_orderstatus").orderBy(col("v").desc)))
      .orderBy("o_orderstatus", "r")
    Digest.observe(q, "perfbench_setup").write.format("noop").mode("overwrite").save()
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def run(a: Map[String, String], jvmStartS: Double): Unit = {
    val workload = a("workload")
    val seed = a("seed").toLong
    val traced = a("trace") == "1"
    val work = new File(a("work"))
    val budgetS = a("budget").toDouble
    val cores = Sessions.cpus.toInt
    require(workload == "lake_ingest" || packs.contains(workload),
      s"unknown workload $workload")

    // Set-up, once and cold, as each application of the reference starts:
    // session, catalog over the run's own copy of the tables, and a first
    // query. The first query pays the engine's one-time costs (first job,
    // first code generation) here, so they do not fall on whichever
    // measured operation the seed puts first. The catalog reload (a
    // schema-cache hit) is timed but not part of the set-up.
    val dir = new File(work, "catalog").getPath
    copyDir(new File(a("data")), new File(dir))
    val t0 = System.nanoTime()
    val spark = Sessions.local("perfbench")
    val tl = System.nanoTime()
    Tables.all.foreach(n => Tables.load(spark, dir, n))
    val t1 = System.nanoTime()
    Tables.all.foreach(n => Tables.load(spark, dir, n))
    val t2 = System.nanoTime()
    firstQuery(spark, dir)
    val setupS = jvmStartS + (System.nanoTime() - t0 - (t2 - t1)) / 1e9
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    def since(): Double = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val setupEnd = since()
    val sc = spark.sparkContext
    val sink = Observe.attach(spark)
    val volume = new Volume
    sc.addSparkListener(volume)
    val trace = if (traced) Some(new Trace(cores, volume)) else None
    trace.foreach { t =>
      sc.addSparkListener(t); spark.listenerManager.register(t)
      t.counters("catalog.load_ms") = (t1 - tl) / 1e6
      t.counters("catalog.reload_ms") = (t2 - t1) / 1e6
    }

    val expected: Map[String, String] = a.get("expected").filter(new File(_).isFile)
      .map(p => parseFlatJson(Files.readString(Paths.get(p)))).getOrElse(Map.empty)

    val lake = if (workload == "lake_ingest")
      Some(new LakeIngest(spark, dir, work, seed)) else None
    val ops: Seq[(String, String, () => Option[DataFrame])] = lake match {
      case Some(l) => l.ops
      case None =>
        val fns = SparkEntry.queries
        val names = if (a.get("queries").contains("all")) allQueries(workload)
          else queries(workload)
        new scala.util.Random(seed).shuffle(names).map { n =>
          (n, "query", () => Some(fns(n)(spark, dir)))
        }
    }

    // what the pass moves: totals taken around it, after the bus drains,
    // so neither input staging before it nor checks after it count
    Internals.drain(sc)
    val passStart = since()
    val (written0, read0) = fsBytes()
    val volume0 = volume.snapshot()
    val results = mutable.ArrayBuffer.empty[OpResult]
    val runStartMs = System.currentTimeMillis()
    val runStart = System.nanoTime()
    var cachePeak = 0L
    ops.zipWithIndex.foreach { case ((name, kind, body), i) =>
      val opId = f"op$i%04d"
      if (secsSince(runStart) > budgetS) {
        System.err.println(s"[perfbench] $name skipped: run budget of $budgetS s spent")
        results += OpResult(name, kind, false, 0, 0, "", "", 0, "budget spent")
      } else {
        spark.catalog.clearCache()
        sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
        val lastBroadcast = Internals.newestBroadcast()
        val startMs = System.currentTimeMillis()
        // a lake call has no build phase: all of it is execution
        trace.foreach { t => Internals.drain(sc)
          t.beginOp(opId, if (kind == "query") 0L else startMs) }
        sc.setJobGroup(opId, name, interruptOnCancel = false)
        val t0 = System.nanoTime()
        val obs = s"perfbench_$opId"
        val out = try {
          val df = body()
          val tb = System.nanoTime()
          df.foreach { d =>
            trace.foreach { t =>
              t.buildEndMs = System.currentTimeMillis()
              t.planned(d.queryExecution)
            }
            Digest.observe(d, obs).write.format("noop").mode("overwrite").save()
          }
          Right((if (df.isDefined) (tb - t0) / 1e6 else 0.0, System.nanoTime() - t0))
        } catch { case e: Throwable => Left(e) }
        val endMs = System.currentTimeMillis()
        sc.clearJobGroup()
        val leaked = sc.getPersistentRDDs.size
        cachePeak = math.max(cachePeak, Internals.storageSince(lastBroadcast))
        val r = out match {
          case Right((buildMs, ns)) =>
            val digest = if (kind != "query") ""
              else scala.util.Try(Digest.render(Observe.awaitMetric(sink, obs)))
                .getOrElse("no digest arrived")
            val exp = if (kind == "query") expected.getOrElse(name, "missing") else ""
            trace.foreach { t =>
              t.spans += Span(opId, "run", opId, s"op:$name", startMs, endMs)
              if (kind == "query")
                t.spans += Span(s"$opId/build", opId, opId, "build", startMs,
                  startMs + buildMs.toLong)
              t.spans += Span(s"$opId/execute", opId, opId, "execute",
                startMs + buildMs.toLong, endMs)
              t.counters("queries.build_ms") += buildMs
            }
            OpResult(name, kind, true, ns / 1e9, buildMs, digest, exp, leaked, "")
          case Left(e) =>
            val msg = String.valueOf(e.getMessage).linesIterator.nextOption()
              .getOrElse("").take(300)
            System.err.println(s"[perfbench] $name failed: ${e.getClass.getName}: $msg")
            OpResult(name, kind, false, 0, 0, "", "", leaked, s"${e.getClass.getName}: $msg")
        }
        results += trace.fold(r) { t =>
          Internals.drain(sc); t.endOp(startMs, endMs, leaked)
          r.copy(layers = t.perOp(opId))
        }
      }
    }
    val runEndMs = System.currentTimeMillis()
    val passEnd = since()
    val (written1, read1) = fsBytes()
    Internals.drain(sc)
    val moved = volume.snapshot().map { case (k, v) => k -> (v - volume0(k)) }
      .withDefaultValue(0L)

    val okOps = results.filter(_.ok)
    val lats = okOps.map(_.secs).sorted
    val wallS = lats.sum
    // A run has 10 to 20 operations whose latencies differ by up to 20x.
    // Their median jumps between neighbouring operations as the seed
    // reorders them, so the typical latency is the geometric mean, and the
    // tail is the mean of the slowest quarter (at least two): no
    // percentile has ten samples beyond it.
    val gmean = if (lats.isEmpty) 0.0
      else math.exp(lats.map(x => math.log(math.max(x, 1e-6))).sum / lats.size)
    val tail = lats.takeRight(math.max(2, math.ceil(lats.size / 4.0).toInt))
    val wrong = results.filter(r => r.kind == "query" && r.ok && r.digest != r.expected)
    wrong.foreach(r => System.err.println(
      s"[perfbench] ${r.name} wrong result: digest ${r.digest}, expected ${r.expected}"))
    spark.catalog.clearCache()
    sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))

    val lakeOut = lake.map(_.finish(okOps.toSeq.map(r => r.name -> r.secs)))
    lakeOut.foreach(_.problems.foreach(p =>
      System.err.println(s"[perfbench] lake check failed: $p")))
    val written = (written1 - written0) + moved("exec.shuffle_write_bytes") +
      moved("exec.spill_bytes")
    val (rowsIn, bytesIn, spaceAmp) = lakeOut match {
      case Some(l) => (l.rows.toDouble, l.bytes.toDouble, l.spaceAmp)
      case None =>
        val data = du(new File(dir)).toDouble
        (moved("input_records").toDouble, moved("exec.input_bytes").toDouble,
          (data + du(new File(work, "cwd"))) / data)
    }
    val e2e = Seq(
      "setup_s" -> setupS,
      "wall_s" -> wallS,
      "op_gmean_s" -> gmean,
      "op_p50_s" -> median(lats.toSeq),
      "op_tail_s" -> (if (tail.isEmpty) 0.0 else tail.sum / tail.size),
      "cache_peak_mb" -> cachePeak / 1048576.0,
      "peak_rss_mb" -> peakRssMb(),
      "rows_per_s" -> (if (wallS > 0) rowsIn / wallS else 0.0),
      "write_amp" -> (if (bytesIn > 0) written / bytesIn else 0.0),
      "space_amp" -> spaceAmp)

    val layers = trace.map { t =>
      t.finish(wallS)
      val c = t.counters
      lakeOut.foreach { l =>
        l.layers.foreach { case (k, v) => c(k) = v }
        c("etl.bytes_written") = (written1 - written0).toDouble
        c("etl.bytes_read") = (read1 - read0).toDouble
      }
      c("trace.wall_s") = wallS
      t.spans += Span("run", "", "", s"run:$workload", runStartMs, runEndMs)
      writeSpans(new File(a("spans")), t.spans.toSeq)
      c.toSeq
    }.getOrElse(Seq.empty)

    val record = Json.obj(
      "timeline_s" -> Json.obj("setup_end" -> setupEnd, "pass_start" -> passStart,
        "pass_end" -> passEnd, "checked" -> since()),
      "workload" -> workload, "seed" -> seed, "traced" -> traced,
      "cores" -> cores,
      "attempted" -> results.size,
      "failed" -> results.count(!_.ok),
      "wrong_results" -> wrong.size,
      "failed_frac" -> results.count(!_.ok).toDouble / math.max(1, results.size),
      "op_samples" -> lats.size,
      "op_tail_samples" -> tail.size,
      "lake_problems" -> lakeOut.map(_.problems).getOrElse(Seq.empty),
      "end_to_end" -> Json.obj(e2e: _*),
      "per_layer" -> Json.obj(layers: _*),
      "ops" -> results.toSeq.map(r => Json.obj("name" -> r.name,
        "kind" -> r.kind, "ok" -> r.ok, "secs" -> r.secs,
        "build_ms" -> r.buildMs, "digest" -> r.digest,
        "expected" -> r.expected, "leaked" -> r.leaked, "error" -> r.error,
        "layers" -> Json.obj(r.layers: _*))))
    Files.writeString(Paths.get(a("out")), record.text)
    spark.stop()
  }

  private def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024)
      .getOrElse(0.0)

  private def writeSpans(f: File, spans: Seq[Span]): Unit = {
    f.getParentFile.mkdirs()
    Files.writeString(f.toPath, spans.map(s => Json.obj("id" -> s.id,
      "parent" -> s.parent, "op" -> s.op, "name" -> s.name,
      "start_ms" -> s.startMs, "end_ms" -> s.endMs)).mkString("", "\n", "\n"))
  }

  /** Expected digests of the named result dumps, one directory each. */
  def capture(dumps: String, only: Set[String], out: String): Unit = {
    val spark = Sessions.local("perfbench-capture")
    val digests = new File(dumps).listFiles
      .filter(d => d.isDirectory && only(d.getName)).sortBy(_.getName)
      .map(d => d.getName -> Digest.of(spark.read.parquet(d.getPath)))
    Files.writeString(Paths.get(out), Json.obj(digests.toSeq: _*).text + "\n")
    spark.stop()
  }

  private def parseFlatJson(s: String): Map[String, String] =
    "\"([^\"]+)\"\\s*:\\s*\"([^\"]*)\"".r.findAllMatchIn(s)
      .map(m => m.group(1) -> m.group(2)).toMap
}

/** Minimal JSON writer for the run record. */
object Json {
  final case class Raw(text: String) { override def toString: String = text }

  def obj(kv: (String, Any)*): Raw =
    Raw(kv.map { case (k, v) => s"${str(k)}:${value(v)}" }.mkString("{", ",", "}"))

  private def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  private def value(v: Any): String = v match {
    case Raw(t) => t
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case xs: Seq[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(String.valueOf(other))
  }
}
