package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerJobEnd, SparkListenerStageCompleted}

/** Per-stage profiler for one declared query (guide §1: measure first).
  * Runs the query through the noop sink `reps` times and prints, for the
  * LAST rep, every stage's wall, task count, input bytes and shuffle
  * read/write bytes — the numbers that say whether a slow query is
  * scan-, shuffle- or overhead-bound without the Spark UI.
  *
  * Usage: graft.Profile <queryName> [sfDir] [reps]
  * Runs under [[Sessions.local]], the bench's session.
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val reps = if (args.length > 2) args(2).toInt else 2
    val spark = Sessions.local(logLevel = "ERROR")

    @volatile var record = false
    val lines = new java.util.concurrent.ConcurrentLinkedQueue[(Long, String)]()
    val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        if (record) {
          val si = e.stageInfo
          val ms = (for {
            s <- si.submissionTime; c <- si.completionTime
          } yield c - s).getOrElse(-1L)
          val tm = si.taskMetrics
          lines.add((si.submissionTime.getOrElse(0L),
            f"  stage ${si.stageId}%4d ${ms}%6d ms tasks=${si.numTasks}%-4d " +
              f"in=${tm.inputMetrics.bytesRead / 1024}%8d KB " +
              f"sr=${tm.shuffleReadMetrics.totalBytesRead / 1024}%8d KB " +
              f"sw=${tm.shuffleWriteMetrics.bytesWritten / 1024}%8d KB  " +
              si.name.takeWhile(_ != '\n').take(80)))
        }
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (record) jobStart.put(e.jobId, e.time)
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (record) {
          val ms = e.time - jobStart.getOrDefault(e.jobId, e.time)
          lines.add((jobStart.getOrDefault(e.jobId, 0L),
            f"job ${e.jobId}%4d $ms%6d ms"))
        }
    })

    val fn = SparkEntry.queries(name)
    (1 to reps).foreach { rep =>
      record = rep == reps
      lines.clear(); jobStart.clear()
      val t0 = System.nanoTime()
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      val dt = (System.nanoTime() - t0) / 1e9
      println(f"[profile] $name rep $rep: $dt%.3f s")
    }
    Thread.sleep(500) // let listener drain
    lines.toArray(Array.empty[(Long, String)]).sortBy(_._1)
      .foreach(l => println(l._2))
    spark.stop()
  }
}
