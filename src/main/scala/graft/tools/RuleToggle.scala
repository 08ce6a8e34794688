package graft.tools

import org.apache.spark.sql.SparkSession

/** Save-and-restore conf changes for the scale laws and the specs.
  *
  * Every change goes through [[within]]: it records the prior value of
  * each key it touches (or that the key was unset), applies the toggles
  * in order, runs the body and restores the exact prior state. Rule
  * toggles edit `spark.sql.optimizer.excludedRules` as a list, so a
  * session that already excludes other rules keeps those exclusions in
  * every arm; hand-written set/unset pairs would clobber them and
  * overwrite the session's own values with hard-coded defaults.
  */
object RuleToggle {
  private val excludedKey = "spark.sql.optimizer.excludedRules"

  /** One conf change; [[within]] applies a sequence of them in order. */
  sealed trait Toggle { def key: String }
  /** Add `rule` to the excluded optimizer rules (prior exclusions kept). */
  final case class Exclude(rule: String) extends Toggle {
    def key: String = excludedKey
  }
  /** Drop `rule` from the excluded optimizer rules (others kept). */
  final case class Include(rule: String) extends Toggle {
    def key: String = excludedKey
  }
  final case class SetConf(key: String, value: String) extends Toggle
  final case class UnsetConf(key: String) extends Toggle

  /** Broadcast threshold −1: the threshold-gated rules fire at any scale. */
  val NoBroadcast: Toggle =
    SetConf("spark.sql.autoBroadcastJoinThreshold", "-1")

  private def excluded(spark: SparkSession): Seq[String] =
    spark.conf.getOption(excludedKey).toSeq
      .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)

  private def put(spark: SparkSession, key: String, v: Option[String]): Unit =
    v match {
      case Some(x) => spark.conf.set(key, x)
      case None => spark.conf.unset(key)
    }

  private def applyOne(spark: SparkSession, t: Toggle): Unit = {
    def rules(xs: Seq[String]) =
      put(spark, excludedKey, Some(xs.mkString(",")).filter(_.nonEmpty))
    t match {
      case Exclude(r) => rules((excluded(spark) :+ r).distinct)
      case Include(r) => rules(excluded(spark).filterNot(_ == r))
      case SetConf(k, v) => put(spark, k, Some(v))
      case UnsetConf(k) => put(spark, k, None)
    }
  }

  /** Run `body` under `toggles`, then restore every touched key to its
    * prior value — the explicitly set one, or unset if it had none. */
  def within[T](spark: SparkSession, toggles: Seq[Toggle])(body: => T): T = {
    val set = spark.conf.getAll
    val prior = toggles.map(_.key).distinct.map(k => k -> set.get(k))
    try {
      toggles.foreach(applyOne(spark, _))
      body
    } finally prior.foreach { case (k, v) => put(spark, k, v) }
  }

  /** Run `body` with `rule` guaranteed EXCLUDED (prior exclusions
    * kept), then restore the prior conf. */
  def withExcluded[T](spark: SparkSession, rule: String)(body: => T): T =
    within(spark, Seq(Exclude(rule)))(body)

  /** Run `body` with `rule` guaranteed INCLUDED (other prior
    * exclusions kept), then restore the prior conf. */
  def withIncluded[T](spark: SparkSession, rule: String)(body: => T): T =
    within(spark, Seq(Include(rule)))(body)
}
