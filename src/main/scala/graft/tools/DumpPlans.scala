package graft.tools

import java.nio.file.{Files, Paths}
import graft.SparkEntry

/** Dev tool: dump every catalog query's formatted physical plan to
  * PLANS.md — the pushdown / broadcast / partial-agg evidence backing
  * SURVEY §5 — on the shipped session ([[graft.GraftSession.create]]),
  * so the plans are the optimizer-routed plans graft serves.
  */
object DumpPlans {
  def main(args: Array[String]): Unit = {
    val dir = if (args.length > 0) args(0) else "/root/testdata/sf0.01"
    val spark = graft.GraftSession.create("local[8]", 8)
    spark.sparkContext.setLogLevel("ERROR")
    val sb = new StringBuilder
    sb.append("# Physical plans (generated by graft.tools.DumpPlans at ")
      .append(dir).append(")\n\n")
    sb.append("Evidence for SURVEY §5: look for `PushedFilters` / pruned ")
    sb.append("`ReadSchema` on scans, `BroadcastHashJoin` on dims, ")
    sb.append("`partial_` aggregates, `TakeOrderedAndProject` for top-k.\n")
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      sb.append(s"\n## $name\n\n```\n")
      try {
        val plan = fn(spark, dir).queryExecution.executedPlan.toString()
        sb.append(plan.linesIterator.take(60).mkString("\n"))
      } catch { case e: Throwable => sb.append(s"ERROR: ${e.getMessage}") }
      sb.append("\n```\n")
    }
    Files.writeString(Paths.get(graft.Roots.repo, "PLANS.md"), sb.toString)
    println("wrote PLANS.md")
    spark.stop()
  }
}
