package graft

import com.fasterxml.jackson.core.io.JsonStringEncoder
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The query loop [[Bench]], [[Verify]] and [[graft.tools.Explain]]
  * share: selection by name prefix, cold isolation ([[release]] after every
  * run) and loud failure ([[once]]). Each caller keeps only its action.
  */
object QueryLoop {
  type Query = (SparkSession, String) => DataFrame

  def sfDir: String = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

  /** Queries sorted by name: those starting with one of `prefixes`, or all. */
  def select(prefixes: Seq[String]): Seq[(String, Query)] =
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => prefixes.isEmpty || prefixes.exists(n.startsWith) }

  /** Unpersists every cached relation and persisted RDD, as perfbench does
    * before each operation, and returns how many there were (a materialized
    * `persist()` counts twice). Without it the CacheManager substitutes any
    * earlier `persist()` whose canonical plan matches, so a query could read
    * another query's or its own earlier rep's cache, and storage would grow
    * across a run as `localCheckpoint` RDDs stay resident until GC. */
  def release(spark: SparkSession): Int = {
    val sc = spark.sparkContext
    // numCachedEntries is private[sql] to Scala but public in bytecode
    val cm = spark.sharedState.cacheManager
    val held = cm.getClass.getMethod("numCachedEntries").invoke(cm).asInstanceOf[Int] +
      sc.getPersistentRDDs.size
    spark.catalog.clearCache()
    sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    held
  }

  /** Runs `body` for query `name`, then [[release]]s what it left behind.
    * A throw is named on stderr as `[tag] name failed: message` and
    * returned as `Left(message)`. */
  def once[A](spark: SparkSession, tag: String, name: String)(body: => A): Either[String, A] =
    try Right(body) catch { case e: Throwable =>
      val msg = String.valueOf(e.getMessage).linesIterator.nextOption().getOrElse("").take(300)
      Console.err.println(s"[$tag] $name failed: $msg")
      Left(msg)
    } finally release(spark)

  /** JSON for strings, numbers, options and `Seq[(String, Any)]` objects.
    * Strings are escaped in full: a tab or CR in an oracle SQL string would
    * otherwise break the oracle compare's json.load and zero its result. */
  def json(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => json(x)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else f"$d%.4f"
    case s: String => "\"" + new String(JsonStringEncoder.getInstance.quoteAsString(s)) + "\""
    case m: Seq[_] => m.map { case (k, x) => json(k) + ":" + json(x) }.mkString("{", ",", "}")
    case x => x.toString
  }
}
