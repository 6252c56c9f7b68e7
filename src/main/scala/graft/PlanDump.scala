package graft

import java.nio.file.{Files, Paths}

/** Plan-evidence dumper for optimization rounds: writes
  * `.explain("formatted")` for each named query — plus the SETTLED
  * adaptive plan after one execution (AQE join rewrites /
  * AQEShuffleRead coalescing only appear post-run) — to
  * `<outDir>/<name>_<suffix>.txt`.
  *
  * Usage: graft.PlanDump <outDir> <suffix> [names,csv] [sfDir]
  * Runs under [[Sessions.local]], so the dumped plans are the benched plans.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val suffix = args(1)
    val only = if (args.length > 2 && args(2).nonEmpty)
      args(2).split(",").map(_.trim).toSeq else Nil
    val sfDir = if (args.length > 3) args(3) else "/root/testdata/sf0.1"
    val spark = Sessions.local(logLevel = "ERROR")
    Files.createDirectories(Paths.get(outDir))
    val qs = SparkEntry.queries
    val names = if (only.nonEmpty) only else qs.keys.toSeq.sorted
    names.foreach { name =>
      try {
        val df = qs(name)(spark, sfDir)
        val formatted = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        // settle AQE on THIS df's queryExecution (a noop write would
        // execute a separate plan copy) — WITHOUT collecting the result
        // to the driver (ADVICE r20 #3: collect() OOMs on large-result
        // queries at big SFs); iterating the executed RDD computes every
        // partition and discards rows executor-side
        df.queryExecution.toRdd.foreach(_ => ())
        val settled = df.queryExecution.executedPlan.toString
        Files.write(Paths.get(outDir, s"${name}_$suffix.txt"),
          (s"== $name @ $sfDir (shuffle.partitions=" +
            spark.sessionState.conf.numShufflePartitions + ")\n\n" +
            formatted +
            "\n\n== settled adaptive plan (after execution) ==\n\n" +
            settled + "\n").getBytes("UTF-8"))
        println(s"[plandump] wrote ${name}_$suffix.txt")
      } catch {
        case e: Throwable =>
          println(s"[plandump] $name FAILED: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
