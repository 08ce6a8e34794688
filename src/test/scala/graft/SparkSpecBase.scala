package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for specs — same invariants as production
  * sessions ([[Sessions]]), small core count for test latency.
  */
trait SparkSpecBase extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = Sessions.local("graft-test", "2")

  override def afterAll(): Unit = {
    // Shared across suites in one JVM (sbt test forks once) — do not stop,
    // but release every cache and persisted RDD so no suite sees another
    // suite's persist() through the CacheManager.
    try QueryLoop.release(spark) finally super.afterAll()
  }
}
