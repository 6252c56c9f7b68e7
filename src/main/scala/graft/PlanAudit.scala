package graft

/** Plan-shape audit over the gated queries: for each query (optionally
  * filtered by a substring arg), print one line with the physical
  * plan's exchange/sort counts and all-pairs-join flags — the numbers a
  * scale review reads first (a gated query that grows an extra shuffle
  * or regresses to a nested-loop join shows up here before it shows up
  * in a 100-TB bill).
  *
  * Usage: sbt "runMain graft.PlanAudit [substring] [sfDir]"
  */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val filter = args.headOption.getOrElse("")
    val sfDir =
      if (args.length > 1) args(1) else "/root/testdata/sf0.001"
    val spark = Sessions.local(logLevel = "ERROR")
    val names = SparkEntry.queries.keys.toSeq.sorted.filter(_.contains(filter))
    names.foreach { name =>
      try {
        val df = SparkEntry.queries(name)(spark, sfDir)
        // structural counts from the pre-AQE plan (the settled adaptive
        // plan repeats exchanges inside the shuffle-stage wrappers)
        val plan = df.queryExecution.executedPlan.toString
        val ex = "Exchange".r.findAllIn(plan).length
        val so = "\\bSort\\b".r.findAllIn(plan).length
        val bnlj = plan.contains("BroadcastNestedLoopJoin") ||
          plan.contains("CartesianProduct")
        // codegen markers only appear once AQE settles — run THIS df's
        // own queryExecution (count() would build a separate plan)
        df.collect()
        val wsc = "\\*\\((\\d+)\\)".r
          .findAllMatchIn(df.queryExecution.executedPlan.toString)
          .map(_.group(1)).toSet.size
        println(s"""{"q":"$name","exchanges":$ex,"sorts":$so,"wholestage":$wsc,"all_pairs":$bnlj}""")
      } catch {
        case e: Exception =>
          val msg = e.getMessage.takeWhile(_ != '\n')
            .replace("\\", "\\\\").replace("\"", "\\\"")
          println(s"""{"q":"$name","err":"$msg"}""")
      }
    }
    spark.stop()
  }
}
