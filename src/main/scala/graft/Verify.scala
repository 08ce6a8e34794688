package graft

import java.nio.file.{Files, Paths}

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    val spark = Sessions.local("graft-verify")
    new java.io.File(outDir).mkdirs()
    // optional 3rd arg (local iteration only; the oracle gate passes two):
    // comma-separated name prefixes to restrict the dump to
    QueryLoop.select(args.lift(2).toSeq.flatMap(_.split(','))).foreach { case (name, fn) =>
      QueryLoop.once(spark, "verify", name) {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      }
    }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      QueryLoop.json(SparkEntry.oracleSql.toSeq.sortBy(_._1)))
    spark.stop()
  }
}
