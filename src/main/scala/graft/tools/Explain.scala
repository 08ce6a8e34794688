package graft.tools

import graft.{QueryLoop, Sessions}

/** Debugging utility: execute selected queries (all when no prefixes are
  * given) on `SPARK_GRAFT_SF_DIR` and dump `explain("formatted")` of each
  * one's FINAL adaptive plan (`isFinalPlan=true`) — used to audit pushdown
  * / broadcast / WSCG shapes against the scale notes each pack's scaladoc
  * claims. AQE applies exchange/stage reuse only at materialization, so a
  * pre-execution plan can't show whether a double-referenced subplan
  * actually re-scans its input or reuses the shuffle stage.
  *
  * Usage: sbt "runMain graft.tools.Explain [prefix ...]"
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val spark = Sessions.local("graft-explain")
    QueryLoop.select(args.toSeq).foreach { case (name, fn) =>
      println(s"\n=================== $name ===================")
      QueryLoop.once(spark, "explain", name) {
        val df = fn(spark, QueryLoop.sfDir)
        // collect(), NOT count(): count() builds a SEPARATE
        // QueryExecution (groupBy().count()), leaving df's own adaptive
        // plan un-executed — the printed tree would be
        // isFinalPlan=false with runtime reuse decisions invisible
        df.collect()
        df.explain("formatted")
      }
    }
    spark.stop()
  }
}
