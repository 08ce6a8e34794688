package graft.tools

import graft.{Sessions, SparkEntry}

/** Debugging utility: execute selected queries (all when no names
  * given) and dump `explain("formatted")` of each one's FINAL adaptive
  * plan (`isFinalPlan=true`) — used to audit pushdown / broadcast / WSCG
  * shapes against the scale notes each pack's scaladoc claims. AQE
  * applies exchange/stage reuse only at materialization, so a
  * pre-execution plan can't show whether a double-referenced subplan
  * actually re-scans its input or reuses the shuffle stage.
  *
  * Usage: sbt "runMain graft.tools.Explain [sfDir] [q21 q34 ...]"
  * (names are prefixes)
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = args.drop(1).toSet
    val spark = Sessions.local("graft-explain", "4")
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      if (names.isEmpty || names.exists(name.startsWith)) {
        println(s"\n=================== $name ===================")
        try {
          val df = fn(spark, sfDir)
          // collect(), NOT count(): count() builds a SEPARATE
          // QueryExecution (groupBy().count()), leaving df's own adaptive
          // plan un-executed — the printed tree would be
          // isFinalPlan=false with runtime reuse decisions invisible
          df.collect()
          df.explain("formatted")
        } catch { case e: Throwable =>
          println(s"FAILED: ${String.valueOf(e.getMessage).take(300)}")
        }
      }
    }
    spark.stop()
  }
}
