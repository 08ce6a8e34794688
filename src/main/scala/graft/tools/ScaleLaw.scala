package graft.tools

import scala.collection.immutable.ListMap
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{DoubleType, FloatType}
import graft.Sessions
import RuleToggle.Toggle

/** One scale-law harness. Each injected Catalyst rule (and each
  * blocking pipeline) carries a law of the form "rule-on ≡ rule-off, and
  * time follows the output, not n²". [[Laws]] states every such law as a
  * named entry — its corpus, its arms, its plan marker and its check —
  * and this object runs one:
  *
  *   - for each corpus scale k, build the law's corpus once (the law
  *     decides whether it is persisted);
  *   - run every arm under its own conf toggles ([[RuleToggle.within]],
  *     which restores the session's prior values). An arm marked
  *     `naive` runs only while k ≤ naiveMaxK;
  *   - before an arm executes, require its plan markers (the rule
  *     fired) and the absence of its forbidden markers (the rule really
  *     was excluded). Markers match the lower-cased plan text;
  *   - time ONE action per arm: a local checkpoint of the arm's full
  *     output, so every row and column is materialized under the arm's
  *     own conf, and the check compares those outputs, not re-planned
  *     queries (conf is read at optimization time);
  *   - run the law's check. The default is exact bag equality of every
  *     arm that ran ([[sameBags]]);
  *   - drop every cache and persisted RDD, and print one JSON line:
  *     `{"law","cpus","sf","k", <corpus stats>, "arms":{name:{"rows",
  *     "sec"}}, <check fields>}`. `cpus` is the session's parallelism
  *     and `sf` the corpus directory (null for range-born laws), so a
  *     record states its own run shape.
  *
  * Usage: sbt "runMain graft.tools.ScaleLaw <law> [sfDir|-] [ks] [naiveMaxK]"
  * (`-` keeps the law's default directory; no arguments lists the laws).
  * Set SPARK_GRAFT_CPUS to the core count a recorded law was measured on
  * (BASELINE.md's records are local[16]); it defaults to 4.
  */
object ScaleLaw {
  type Fields = Seq[(String, Any)]
  type Outputs = ListMap[String, DataFrame]

  /** One spelling of a law's query under its conf toggles. `derived`
    * adds toggles whose values come from the corpus (a stats job). */
  final case class Arm[C](name: String, toggles: Seq[Toggle] = Nil,
      must: Seq[String] = Nil, mustNot: Seq[String] = Nil,
      naive: Boolean = false)(val query: C => DataFrame,
      val derived: C => Seq[Toggle] = (_: C) => Nil) {
    def renamed(n: String): Arm[C] =
      copy(name = n)(query, derived)
  }

  /** A named law. `dir` is the default corpus directory (None: the
    * corpus is range-born); `conf` applies to every arm of every k. */
  final case class Law[C](name: String, dir: Option[String], ks: Seq[Int],
      naiveMaxK: Int, conf: Seq[Toggle] = Nil)(
      val corpus: (SparkSession, String, Int) => C,
      val arms: Seq[Arm[C]],
      val stats: C => Fields = (_: C) => Nil,
      val check: (C, Outputs) => Fields =
        (_: C, o: Outputs) => { sameBags(o); Nil })

  /** Doubles compare by their exact decimal spelling, which keeps the
    * sign of zero — value equality alone would merge -0.0 and 0.0. */
  private def exact(df: DataFrame): DataFrame =
    df.select(df.schema.fields.toSeq.map { f =>
      val c: Column = col(s"`${f.name}`")
      f.dataType match {
        case DoubleType | FloatType => c.cast("string").as(f.name)
        case _ => c
      }
    }: _*)

  private def missing(a: DataFrame, b: DataFrame): Boolean =
    !exact(a).exceptAll(exact(b)).isEmpty

  /** Arms `a` and `b` (where both ran) hold the same bag of rows. */
  def sameBag(o: Outputs, a: String, b: String): Unit =
    for (x <- o.get(a); y <- o.get(b))
      require(!missing(x, y) && !missing(y, x), s"arm $a != arm $b")

  /** Every listed arm that ran (all arms by default) holds the same bag
    * as the first. */
  def sameBags(o: Outputs, names: String*): Unit = {
    val ns = if (names.isEmpty) o.keys.toSeq else names.filter(o.contains)
    ns.drop(1).foreach(sameBag(o, ns.head, _))
  }

  /** Arm `a`'s bag is contained in arm `b`'s (where both ran). */
  def subBag(o: Outputs, a: String, b: String): Unit =
    for (x <- o.get(a); y <- o.get(b))
      require(!missing(x, y), s"arm $a has rows arm $b lacks")

  private def json(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => json(x)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else f"$d%.4f"
    case s: String => "\"" + s + "\""
    case m: Seq[_] => m.map { case (k, x) => "\"" + k + "\":" + json(x) }
      .mkString("{", ",", "}")
    case x => x.toString
  }

  private def runArm[C](spark: SparkSession, law: Law[C], k: Int,
      arm: Arm[C], c: C): (DataFrame, Long, Double) =
    RuleToggle.within(spark, arm.toggles ++ arm.derived(c)) {
      val df = arm.query(c)
      val plan = df.queryExecution.executedPlan.toString.toLowerCase
      val at = s"${law.name} k=$k arm ${arm.name}"
      arm.must.foreach(m =>
        require(plan.contains(m), s"$at: plan marker $m missing"))
      arm.mustNot.foreach(m =>
        require(!plan.contains(m), s"$at: plan marker $m present"))
      val t0 = System.nanoTime()
      val out = df.localCheckpoint(eager = true)
      val sec = (System.nanoTime() - t0) / 1e9
      (out, out.count(), sec)
    }

  /** Run `law` at every k in `ks`; prints and returns one JSON line per k. */
  def run[C](spark: SparkSession, law: Law[C], dir: String, ks: Seq[Int],
      naiveMaxK: Int): Seq[String] = ks.map { k =>
    try RuleToggle.within(spark, law.conf) {
      val c = law.corpus(spark, dir, k)
      val stats = law.stats(c)
      val ran = law.arms.filter(a => !a.naive || k <= naiveMaxK)
        .map(a => a.name -> runArm(spark, law, k, a, c))
      val outs = ListMap(ran.map { case (n, (df, _, _)) => n -> df }: _*)
      val checked =
        try law.check(c, outs)
        catch { case e: IllegalArgumentException =>
          throw new IllegalArgumentException(
            s"${law.name} k=$k: ${e.getMessage}", e) }
      val arms = ran.map { case (n, (_, rows, sec)) =>
        n -> Seq("rows" -> rows, "sec" -> sec) }
      val line = json(Seq("law" -> law.name,
        "cpus" -> spark.sparkContext.defaultParallelism,
        "sf" -> law.dir.map(_ => dir), "k" -> k) ++ stats ++
        Seq("arms" -> arms) ++ checked)
      println(line)
      line
    } finally {
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = true))
    }
  }

  def main(args: Array[String]): Unit = {
    val law = args.headOption.flatMap(n => Laws.all.find(_.name == n))
      .getOrElse {
        System.err.println("usage: ScaleLaw <law> [sfDir|-] [ks] [naiveMaxK]" +
          "\nlaws: " + Laws.all.map(_.name).mkString(" "))
        sys.exit(2)
      }
    val dir = args.lift(1).filter(_ != "-").orElse(law.dir).getOrElse("")
    val ks = args.lift(2).map(_.split(",").map(_.trim.toInt).toSeq)
      .getOrElse(law.ks)
    val naiveMaxK = args.lift(3).map(_.toInt).getOrElse(law.naiveMaxK)
    val spark = Sessions.local(s"graft-scalelaw-${law.name}")
    try run(spark, law, dir, ks, naiveMaxK)
    finally spark.stop()
  }
}
