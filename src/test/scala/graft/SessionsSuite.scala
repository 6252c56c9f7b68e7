package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Every main builds its session through [[Sessions.local]]: the gate
  * checks the plans the bench times. */
class SessionsSuite extends AnyFunSuite {

  test("the factory session: parallelism at the core count, AQE constants, UTC, no UI") {
    assert(Sessions.cpus(Map("SPARK_GRAFT_CPUS" -> "3")) == 3)
    assert(Sessions.cpus(Map.empty) == Runtime.getRuntime.availableProcessors)
    val spark = Sessions.local(2, logLevel = "ERROR")
    try {
      val conf = spark.conf
      assert(spark.sparkContext.master == "local[2]")
      assert(conf.get("spark.sql.shuffle.partitions") == "2")
      assert(conf.get("spark.sql.files.minPartitionNum") == "2")
      assert(conf.get("spark.sql.adaptive.coalescePartitions.minPartitionSize") == "64k")
      assert(conf.get("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold") == "64m")
      assert(conf.get("spark.sql.session.timeZone") == "UTC")
      assert(spark.sparkContext.getConf.get("spark.ui.enabled") == "false")
    } finally spark.stop()
  }

  test("SparkSession.builder appears only in Sessions.scala") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"no $root under ${Paths.get("").toAbsolutePath}")
    val files = Files.walk(root).iterator.asScala
      .filter(_.toString.endsWith(".scala")).toList
    val chains = files.filter(p => Files.readString(p).contains("SparkSession.builder"))
      .map((p: Path) => p.getFileName.toString)
    assert(chains == List("Sessions.scala"))
  }
}
