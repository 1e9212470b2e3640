package graft

import java.nio.file.{Files, Paths}

/** Dumps `explain("formatted")` for the headline queries to a markdown
  * file — the plan-review artifact (pushdown, broadcast, partial
  * aggregation, top-k) the scale claims rest on.
  * Usage: `sbt 'runMain graft.Plans [sfDir] [outFile]'`. */
object Plans {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val out = args.lift(1).getOrElse("PLANS_r1.md")
    val spark = Graft.session("local[4]", 4)
    spark.sparkContext.setLogLevel("ERROR")
    val sb = new StringBuilder
    sb.append("# Physical plans (headline queries, `explain formatted`)\n\n")
    sb.append(s"Generated against `$sfDir`. What to look for: `PushedFilters`/`ReadSchema`\n")
    sb.append("on scans, `BroadcastHashJoin` for dimensions, paired partial/final\n")
    sb.append("`HashAggregate`, `TakeOrderedAndProject` for top-k.\n")
    // streaming-driver queries RUN a streaming job eagerly and return
    // a local verdict row: no batch plan to audit, and the plan dump
    // should not spin up streams (their stage plans are spec'd in
    // graft.streaming instead). The flag lives on QueryDef so new
    // stream-driving queries opt out at the definition site.
    val streamingDrivers = SparkEntry.registry.filter(_.streamingDriver).map(_.name).toSet
    SparkEntry.headlines.sorted.filterNot(streamingDrivers).foreach { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      sb.append(s"\n## $name\n\n```\n")
      sb.append(df.queryExecution.explainString(org.apache.spark.sql.execution.ExplainMode.fromString("formatted")))
      sb.append("```\n")
    }
    Files.writeString(Paths.get(out), sb.toString)
    println(s"PLANS_WRITTEN=$out")
    spark.stop()
  }
}
