package graft

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

/** The shared query loop on sf0.01: selection, cold isolation after every
  * run, loud failures, and Bench's per-query profile line.
  */
class QueryLoopSpec extends SparkSpecBase {
  private val sf = "/root/testdata/sf0.01"
  private val q62 = "q62_minhash_lsh"
  private val q342 = "q342_srp_join_rule"

  private def held(): (Boolean, Int) =
    (spark.sharedState.cacheManager.isEmpty, spark.sparkContext.getPersistentRDDs.size)

  // State seen at the start of every rep of q62 (a persist()) and q342 (a
  // localCheckpoint): what the previous rep or query left behind.
  private val seen = scala.collection.mutable.ArrayBuffer.empty[(Boolean, Int)]
  private lazy val (line, err) = {
    val queries = Seq(q62, q342).map { n =>
      val fn = SparkEntry.queries(n)
      n -> ((s: org.apache.spark.sql.SparkSession, d: String) => { seen += held(); fn(s, d) })
    } :+ ("zz_boom" -> ((_: org.apache.spark.sql.SparkSession, _: String) =>
      throw new IllegalArgumentException("boom")))
    val buf = new java.io.ByteArrayOutputStream
    val out = Console.withErr(buf)(Bench.run(spark, sf, queries))
    (out, buf.toString("UTF-8"))
  }
  private val mapper = new ObjectMapper
  private def profile(q: String): JsonNode = err.linesIterator
    .filter(_.startsWith("[profile] ")).map(l => mapper.readTree(l.stripPrefix("[profile] ")))
    .find(_.get("query").asText == q).getOrElse(fail(s"no profile line for $q:\n$err"))

  test("a query that throws is left out of the total and named") {
    val contract = mapper.readTree(line)
    val qs = contract.get("queries")
    assert(!qs.has("zz_boom") && qs.has(q62) && qs.has(q342), line)
    assert(math.abs(contract.get("value").asDouble -
      (qs.get(q62).asDouble + qs.get(q342).asDouble)) < 0.0015, line)
    assert(err.contains("[bench] zz_boom failed: boom"), err)
    assert(profile("zz_boom").get("failed").asText == "boom")
  }

  test("every rep starts cold: no cached relation or persisted RDD survives a query") {
    line
    assert(seen.size == 4 && seen.forall(_ == (true, 0)), seen)
    assert(held() == (true, 0))
    // non-vacuous: each query did leave something for the release to drop
    Seq(q62, q342).foreach(q => assert(profile(q).get("leaked").asInt > 0, q))
  }

  test("the profile line has every field and its phases fit in the rep") {
    for (q <- Seq(q62, q342)) {
      val p = profile(q)
      val keys = Seq("sec", "build_ms", "analyze_ms", "optimize_ms", "physical_ms",
        "exec_ms", "jobs", "build_jobs", "tasks", "task_ms", "shuffle_write_bytes",
        "spill_bytes", "leaked")
      keys.foreach(k => assert(p.has(k), s"$q lacks $k: $p"))
      val planned = Seq("build_ms", "analyze_ms", "optimize_ms", "physical_ms")
        .map(p.get(_).asDouble).sum
      assert(planned <= p.get("sec").asDouble * 1000 + 0.1, p)
      assert(p.get("tasks").asLong > 0 && p.get("jobs").asLong >= p.get("build_jobs").asLong, p)
    }
  }

  test("Bench fails before any timing when a table cannot load") {
    val e = intercept[IllegalStateException](Bench.run(spark, "/nonexistent/sf", Seq.empty))
    assert(e.getMessage.contains("table region"), e.getMessage)
  }

  test("once releases after the Explain/Verify actions and reports throws") {
    val inside = QueryLoop.once(spark, "explain", q342) {
      SparkEntry.queries(q342)(spark, sf).collect()
      held()
    }
    assert(inside.exists(_._2 > 0), inside) // the checkpoint was resident
    assert(held() == (true, 0))
    val buf = new java.io.ByteArrayOutputStream
    val bad = Console.withErr(buf)(QueryLoop.once(spark, "verify", "x")(
      throw new IllegalStateException("no\nsecond line")))
    assert(bad == Left("no") && buf.toString("UTF-8").contains("[verify] x failed: no"))
  }

  test("select sorts by name and keeps prefix matches") {
    val names = QueryLoop.select(Seq("q62", "q34")).map(_._1)
    assert(names.nonEmpty && names == names.sorted)
    assert(names.forall(n => n.startsWith("q62") || n.startsWith("q34")))
    assert(QueryLoop.select(Nil).size == SparkEntry.queries.size)
  }
}
