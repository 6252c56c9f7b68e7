package perfbench

import org.apache.spark.sql.SparkSession

/** The one Spark session configuration every workload runs under. It is
  * graft.Bench's session (shuffle and scan parallelism floors at the core
  * count, AQE coalesce floor, shuffled-hash-join threshold) with every
  * scratch directory kept inside the run's work directory. A traced run
  * adds only the static query-execution listener. */
object Session {
  def build(cpus: Int, work: String, trace: Boolean): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.files.minPartitionNum", cpus.toString)
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
      .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold", "64m")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
    if (trace) b.config("spark.sql.queryExecutionListeners", classOf[PlanListener].getName)
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    if (trace) spark.sparkContext.addSparkListener(new JobListener)
    spark
  }
}
