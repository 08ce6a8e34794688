package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.tools.{Laws, ScaleLaw}
import graft.tools.RuleToggle._
import graft.tools.ScaleLaw.{Arm, Law}

/** The scale-law harness: its checks fail loudly, it leaves the
  * session's conf as it found it, and every law in [[Laws]] runs at
  * k = 1 on the sf0.01 fixture. */
class ScaleLawSpec extends SparkSpecBase {
  private val dir = "/root/testdata/sf0.01"
  private val excludedKey = "spark.sql.optimizer.excludedRules"
  private val thresholdKey = "spark.sql.autoBroadcastJoinThreshold"

  /** Laws whose naive arms cost more than a few seconds at k = 1 on the
    * 2-core test session (measured 3.8–34 s each): they run their rule
    * (non-naive) arms only. */
  private val ruleArmsOnly = Set("ContainSkew", "GhostFrame", "HovScale",
    "IvAdaptive", "MovingFrame", "PctScale", "VbScale", "WpctScale")

  private def tiny(arms: Arm[DataFrame]*): Law[DataFrame] =
    Law[DataFrame]("Tiny", None, Seq(1), 1)(
      corpus = (s, _, _) => s.range(100L).toDF(), arms = arms)

  private def hammingSelfJoin(df: DataFrame): DataFrame = {
    val x = df.select(col("id"), xxhash64(col("id")).as("sig"))
    val y = x.select(col("id").as("id2"), col("sig").as("sig2"))
    x.join(y, bit_count(col("sig").bitwiseXOR(col("sig2"))) <= 2 &&
      col("id") < col("id2")).select("id", "id2")
  }

  test("arms that really differ fail the default bag check") {
    val e = intercept[IllegalArgumentException](ScaleLaw.run(spark,
      tiny(Arm[DataFrame]("a")(identity),
        Arm[DataFrame]("b")(_.filter(col("id") =!= 7))), dir, Seq(1), 1))
    assert(e.getMessage.contains("arm a != arm b"), e.getMessage)
  }

  test("the bag check is exact on doubles: -0.0 differs from 0.0") {
    intercept[IllegalArgumentException](ScaleLaw.run(spark,
      tiny(Arm[DataFrame]("a")(_.select(lit(0.0).as("x"))),
        Arm[DataFrame]("b")(_.select(lit(-0.0).as("x")))), dir, Seq(1), 1))
  }

  test("a rule arm whose plan marker is missing fails") {
    val e = intercept[IllegalArgumentException](ScaleLaw.run(spark,
      tiny(Arm[DataFrame]("rule",
        Seq(Exclude("graft.plans.HammingJoinBlocking")),
        must = Seq("graft_seg"))(hammingSelfJoin)), dir, Seq(1), 1))
    assert(e.getMessage.contains("graft_seg missing"), e.getMessage)
    // the same arm with the rule included passes its marker check
    ScaleLaw.run(spark, tiny(Arm[DataFrame]("rule",
      Seq(Include("graft.plans.HammingJoinBlocking")),
      must = Seq("graft_seg"))(hammingSelfJoin)), dir, Seq(1), 1)
  }

  test("a law leaves prior excludedRules and broadcast threshold unchanged") {
    val prior = "graft.plans.ModeRewrite,graft.plans.BandJoinBlocking"
    spark.conf.set(excludedKey, prior)
    spark.conf.set(thresholdKey, "12345")
    try {
      // IvScale's rule arm must include BandJoinBlocking (its marker
      // check proves it fired) and force it; its naive arm excludes it
      ScaleLaw.run(spark, Laws.IvScale, dir, Seq(1), 1)
      assert(spark.conf.get(excludedKey) == prior)
      assert(spark.conf.get(thresholdKey) == "12345")
      assert(spark.conf.getOption("spark.graft.setsim.stopTokens").isEmpty)
    } finally {
      spark.conf.unset(excludedKey)
      spark.conf.unset(thresholdKey)
    }
  }

  test("the rule-arm-only list names real laws") {
    assert(ruleArmsOnly.subsetOf(Laws.all.map(_.name).toSet))
    assert(Laws.all.map(_.name).distinct.size == 29)
  }

  Laws.all.foreach { law =>
    test(s"law ${law.name} holds at k=1 on sf0.01") {
      val naiveMaxK = if (ruleArmsOnly(law.name)) 0 else 1
      val Seq(line) = ScaleLaw.run(spark, law, dir, Seq(1), naiveMaxK)
      assert(line.startsWith(s"""{"law":"${law.name}","cpus":2,"""), line)
      assert(spark.sparkContext.getPersistentRDDs.isEmpty)
    }
  }
}
