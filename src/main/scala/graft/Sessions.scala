package graft

import org.apache.spark.sql.SparkSession

/** The one local Spark session every main runs under, so the plans the
  * correctness gate checks are the plans the bench times.
  *
  * - `local[n]`, one task slot per core; `n` is `SPARK_GRAFT_CPUS`, else
  *   the JVM's available processors.
  * - Shuffle partitions = `n`: one reduce task per core; AQE coalesces
  *   the ones that come out small.
  * - `files.minPartitionNum` = `n` floors scan parallelism at the core
  *   count. It is inert once a scan has more splits than cores.
  * - [[AqeMinPartitionSize]] and [[ShjLocalMapThreshold]]: see each.
  * - UTC session time zone, no UI.
  */
object Sessions {

  /** AQE's coalesce floor (Spark's default is 1 MB). A CPU-heavy stage
    * over few shuffle bytes still spreads over every core. It only bites
    * when a stage's total shuffle bytes are under about cores x 1 MB;
    * above that the 64 MB advisory size governs. */
  val AqeMinPartitionSize = "64k"

  /** AQE turns a sort-merge join into a shuffled hash join when every
    * post-shuffle partition's build side is under this size, skipping
    * both sorts. It is inert wherever partitions exceed 64 MB. */
  val ShjLocalMapThreshold = "64m"

  /** Task slots: `SPARK_GRAFT_CPUS` in `env`, else available processors. */
  def cpus(env: Map[String, String]): Int =
    env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)

  def local(n: Int = cpus(sys.env), logLevel: String = "WARN"): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$n]")
      .config("spark.sql.shuffle.partitions", n.toLong)
      .config("spark.sql.files.minPartitionNum", n.toLong)
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", AqeMinPartitionSize)
      .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold", ShjLocalMapThreshold)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }
}
