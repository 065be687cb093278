package graft

import java.nio.file.{Files, Paths}

/** Dump `explain("formatted")` for every registered query into a markdown
  * file — committed as PLANS.md so the physical plans (pushed filters,
  * partial/final aggregates, broadcast vs shuffle joins, codegen spans) are
  * reviewable without running anything.
  *
  * Usage: runMain graft.ExplainDump <sfDir> <outFile>
  */
object ExplainDump {
  def main(args: Array[String]): Unit = {
    if (args.length != 2 && args.length != 3) {
      System.err.println(
        "usage: ExplainDump <sfDir> <outFile> [<outDir>:<suffix>:q1,q2,...]\n" +
          "  3-arg form writes one <outDir>/<query><suffix>.txt per named query\n" +
          "  instead of the markdown digest (plans/r21 before/after evidence)."
      )
      sys.exit(2)
    }
    if (args.length == 3) {
      val sfDir = args(0)
      val parts = args(2).split(":", 3)
      if (parts.length != 3) {
        System.err.println(
          s"ExplainDump: third argument must be <outDir>:<suffix>:q1,q2,... (got '${args(2)}')"
        )
        sys.exit(2)
      }
      val Array(outDir, suffix, qlist) = parts
      val names                        = qlist.split(",").map(_.trim).filter(_.nonEmpty).toSet
      if (SparkEntry.unknownQueries(names.toSeq.sorted).nonEmpty) sys.exit(2)
      val spark                        = GraftSession.getOrCreate()
      Files.createDirectories(Paths.get(outDir))
      SparkEntry.queries.toSeq.sortBy(_._1).filter(q => names(q._1)).foreach { case (name, fn) =>
        val df = fn(spark, sfDir)
        df.collect() // final AQE plan, same reasoning as the digest path
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
        )
        Files.writeString(Paths.get(outDir, s"$name$suffix.txt"), plan)
        println(s"wrote $outDir/$name$suffix.txt")
      }
      spark.stop()
      return
    }
    val Array(sfDir, outFile) = args
    val spark = GraftSession.getOrCreate()
    val sb    = new StringBuilder
    sb.append("# PLANS — executed physical plans per query\n\n")
    sb.append(s"Generated by `graft.ExplainDump` on `$sfDir` (Spark 4.1.2, AQE on).\n")
    sb.append("`PushedFilters`/`PartitionFilters` show scan-level pruning; `*(n)` marks\n")
    sb.append("whole-stage-codegen spans; `HashAggregate` pairs are the partial/final\n")
    sb.append("split the reference hand-rolls client-side.\n")
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        // Execute first: under AQE the pre-execution plan is provisional —
        // runtime stage reuse (e.g. n8's hoisted exchanges) and final join
        // strategies only appear in the isFinalPlan=true tree, and a plan
        // document that hides them would misstate what actually runs.
        df.collect()
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
        )
        sb.append(s"\n## $name\n\n```\n$plan```\n")
      } catch {
        // an OOM must stop the dump, not be recorded as a failed plan
        case scala.util.control.NonFatal(e) => sb.append(s"\n## $name\n\nEXPLAIN FAILED: ${e.getMessage}\n")
      }
    }
    Files.writeString(Paths.get(outFile), sb.toString)
    println(s"wrote $outFile")
    spark.stop()
  }
}
