package graft.compute

import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import org.apache.spark.ListenerBusDrain
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.app.Application
import graft.dimension.{DimSpec, DimType}
import graft.signal.DatasetAttrs

/** The fixed cost of one execution: each execution's session reuses the
  * classes earlier executions compiled, and a parquet input without a
  * declared schema costs no Spark job of its own. */
class ExecutionOverheadSuite extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private var work: String = _
  private val days = Seq("2026-08-10", "2026-08-11", "2026-08-12")
  private val daySpec = DimSpec.pretty(
    "day" -> (DimType.DATETIME, Map[String, Any]("format" -> "%Y-%m-%d")))
  /** `spark.jobGroup.id` of every job started, one entry per job. */
  private val jobGroups = new ConcurrentLinkedQueue[String]()
  private val sql =
    "SELECT cat, CAST(SUM(amount) AS DOUBLE) AS total, COUNT(*) AS n " +
      "FROM input0 GROUP BY cat"

  override def beforeAll(): Unit = {
    work = Files.createTempDirectory("graft_exec_overhead").toString
    spark = SparkSession.builder().master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sp = spark
    import sp.implicits._
    days.zipWithIndex.foreach { case (d, i) =>
      (1 to 30).map(k => (k.toLong, s"c${k % 3}", k * 1.5 + i))
        .toDF("id", "cat", "amount")
        .coalesce(1).write.parquet(s"$work/src/$d")
    }
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .foreach(jobGroups.add)
    })
  }
  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def jobsOf(route: String): Int = {
    ListenerBusDrain(spark.sparkContext)
    jobGroups.asScala.count(_.startsWith(s"graft-$route-"))
  }

  test("executions after the first compile no new classes") {
    val app = new Application("codegen", spark, s"$work/app_codegen")
    val src = app.marshalExternalData("src", s"$work/src", daySpec)
    val agg = app.createData("agg", Seq(src), Seq(SqlSlot(sql)))
    app.activate()
    def compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    app.execute(agg(days(0)))
    val afterFirst = compiled
    app.execute(agg(days(1)))
    app.execute(agg(days(2)))
    assert(compiled == afterFirst,
      s"${compiled - afterFirst} classes compiled by the 2nd and 3rd executions")
    assert(days.map(d => app.load(agg(d)).count()) == Seq(3, 3, 3))
  }

  test("a parquet input without a declared schema runs no extra Spark job") {
    val declared = spark.read.parquet(s"$work/src/${days(0)}").schema.json
    val app = new Application("jobs", spark, s"$work/app_jobs")
    val bare = app.marshalExternalData("bare", s"$work/src", daySpec)
    val typed = app.marshalExternalData("typed", s"$work/src", daySpec,
      attrs = DatasetAttrs(schemaJson = Some(declared)))
    val fromBare = app.createData("from_bare", Seq(bare), Seq(SqlSlot(sql)))
    val fromTyped = app.createData("from_typed", Seq(typed), Seq(SqlSlot(sql)))
    app.activate()
    app.execute(fromBare(days(0)))
    app.execute(fromTyped(days(0)))
    assert(jobsOf("from_bare") > 0)
    assert(jobsOf("from_bare") == jobsOf("from_typed"))
    def rows(n: graft.app.NodeRef) =
      app.load(n(days(0))).orderBy("cat").collect().toSeq
    assert(rows(fromBare) == rows(fromTyped))
  }
}
