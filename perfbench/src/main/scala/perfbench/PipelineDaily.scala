package perfbench

import java.nio.file.{Files, Paths}
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.app._
import graft.compute._
import graft.dimension._
import graft.routing.{ExecutionContext, Route, RouteHooks}
import graft.signal.IntegrityProtocol

/** `pipeline_daily`: the event-to-output path of a 3-node DAG.
  *
  * Day-partitioned `orders` and `lineitem` are staged in set-up (one Spark
  * job per table) and then land one (table, day) partition at a time in
  * the generator's order. Each landing is a rename plus a `_SUCCESS`
  * marker, then one `processPath` call and one `sweep` call:
  *  - `order_lines`: coincidence join of `orders(day)` and `lineitem(day)`
  *    in a SQL slot;
  *  - `revenue_7d`: `order_lines.latest(7).rangeCheck()`, fed back;
  *  - `status_summary`: `revenue_7d` plus `orders` as a non-triggering
  *    reference, in a Scala slot.
  * One op is one `status_summary` partition, timed from the start of the
  * `processPath` call that delivered its last contributing event to the
  * return of the call that committed it. */
object PipelineDaily {
  private val daySpec = DimSpec.pretty(
    "day" -> (DimType.DATETIME, Map[String, Any]("format" -> "%Y-%m-%d")))
  /** Landings per block of the generator's landing order (two tables ×
    * eight days); the warm-up is the first block, and the timed phase runs
    * whole blocks, so every run sees the same mix of late and out-of-order
    * days. */
  private val BlockLandings = 16
  /** Nominal duration of one block, which turns `--seconds` into a fixed
    * block count: a count read off the clock would change the op mix. */
  private val BlockSeconds = 12.0

  /** Exec intervals of the current call, from the route hooks. */
  private val execs = ArrayBuffer.empty[(String, Double, Double)]
  private var execBegin = 0.0
  private val hooks = new RouteHooks {
    override def onExecBegin(r: Route, c: ExecutionContext): Unit =
      if (Trace.on) execBegin = Trace.nowMs
    override def onExecSuccess(r: Route, c: ExecutionContext): Unit =
      if (Trace.on) execs += ((r.id, execBegin, Trace.nowMs))
    override def onExecFailure(r: Route, c: ExecutionContext, e: Throwable): Unit =
      if (Trace.on) execs += ((r.id, execBegin, Trace.nowMs))
  }

  def declare(spark: SparkSession, root: String): Application = {
    val app = new Application("pipeline_daily", spark, s"$root/app")
    val marker = IntegrityProtocol.FileCheck("_SUCCESS")
    val orders = app.marshalExternalData("orders", s"$root/src/orders", daySpec, protocol = marker)
    val lineitem = app.marshalExternalData("lineitem", s"$root/src/lineitem", daySpec,
      protocol = marker)
    val orderLines = app.createData("order_lines", Seq(orders, lineitem), Seq(SqlSlot(
      """SELECT o_orderkey, o_orderstatus, COUNT(*) AS lines,
                CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE)
                  AS revenue
         FROM orders JOIN lineitem ON o_orderkey = l_orderkey
         GROUP BY o_orderkey, o_orderstatus""")), hooks = hooks)
    val revenue7d = app.createData("revenue_7d", Seq(orderLines.latest(7).rangeCheck()),
      Seq(SqlSlot(
        """SELECT o_orderstatus, COUNT(*) AS orders, SUM(lines) AS lines,
                  CAST(SUM(CAST(revenue AS DECIMAL(18,4))) AS DOUBLE) AS revenue
           FROM order_lines GROUP BY o_orderstatus""")), hooks = hooks)
    app.createData("status_summary", Seq(revenue7d, orders.ref), Seq(ScalaSlot { ctx =>
      val today = ctx.input("orders").groupBy("o_orderstatus").agg(
        count(lit(1)).as("today_orders"),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("today_total"))
      ctx.input("revenue_7d").join(today, Seq("o_orderstatus"), "left")
        .select(col("o_orderstatus"), col("orders").as("orders_7d"),
          col("revenue").as("revenue_7d"),
          coalesce(col("today_orders"), lit(0L)).as("today_orders"),
          coalesce(col("today_total"), lit(0.0)).as("today_total"))
    }), hooks = hooks)
    app.activate()
    app
  }

  /** Stage the landing window: one partitioned write per table, to
    * `stage/<table>/day=<day>/`. */
  private def stage(spark: SparkSession, input: String, root: String, days: Seq[String]): Unit = {
    val orders = spark.read.parquet(s"$input/orders.parquet")
      .withColumn("day", date_format(col("o_orderdate"), "yyyy-MM-dd"))
      .where(col("day").isin(days: _*))
    orders.write.partitionBy("day").parquet(s"$root/stage/orders")
    spark.read.parquet(s"$input/lineitem.parquet")
      .join(orders.select(col("o_orderkey").as("l_orderkey"), col("day")), "l_orderkey")
      .write.partitionBy("day").parquet(s"$root/stage/lineitem")
  }

  /** The external system's side of a landing: the partition appears
    * complete under the source root. */
  private def land(root: String, table: String, day: String): String = {
    val dst = Paths.get(s"$root/src/$table/$day")
    Files.createDirectories(dst.getParent)
    Files.move(Paths.get(s"$root/stage/$table/day=$day"), dst)
    Files.createFile(dst.resolve("_SUCCESS"))
    dst.toString
  }

  private def walBytes(root: String): Long =
    Option(new java.io.File(s"$root/app/routing_state.json.d").listFiles())
      .map(_.map(_.length).sum).getOrElse(0L)

  def run(cfg: Config, res: Result): Unit = {
    val landings = scala.io.Source.fromFile(s"${cfg.input}/landing.txt").getLines()
      .map(_.split(' ')).map(f => (f(0), f(1))).toIndexedSeq
    val blocks = math.max(1, math.ceil(cfg.seconds / BlockSeconds).toInt)
    val used = landings.take((1 + blocks) * BlockLandings)
    val days = used.map(_._2).distinct
    // set-up: session, staging, the DAG declaration and the untimed
    // warm-up block
    val spark = Session.build(cfg.cpus, cfg.work, cfg.trace)
    val root = s"${cfg.work}/pipeline"
    stage(spark, cfg.input, root, days)
    val app = declare(spark, root)
    used.take(BlockLandings).foreach { case (t, d) =>
      app.processPath(land(root, t, d)); app.sweep()
    }
    res.setupS = (Trace.nowMs - Main.jvmStartMs) / 1000

    val gc0 = Main.gcMs(); val alloc0 = Main.allocatedBytes()
    val opDays = ArrayBuffer.empty[String]
    val opWindows = ArrayBuffer.empty[Seq[Double]]
    var outputs = 0L; var walDelta = 0L; var events = 0L; var timedMs = 0.0
    for (step <- 0 until used.length - BlockLandings) {
      val (table, day) = used(BlockLandings + step)
      val path = land(root, table, day)
      Trace.on = cfg.trace
      val w0 = if (Trace.on) walBytes(root) else 0L
      execs.clear()
      val t0 = Trace.nowMs
      val done = app.processPath(path)
      val t1 = Trace.nowMs
      val callExecs = execs.toList
      execs.clear()
      val swept = app.sweep()
      val t2 = Trace.nowMs
      timedMs += t2 - t0
      // untimed, traced or not: the next landing starts on an empty
      // listener bus in both configurations
      org.apache.spark.BusDrain.drain(spark.sparkContext)
      if (Trace.on) {
        val sweepExecs = execs.toList
        callSpans("call.processPath", t0, t1, callExecs, step)
        callSpans("call.sweep", t1, t2, sweepExecs, step)
        outputs += callExecs.length + sweepExecs.length
        walDelta += walBytes(root) - w0
        events += 1
      }
      Trace.on = false
      def ops(paths: List[String], end: Double): Unit =
        paths.filter(_.contains("/internal_data/status_summary/")).foreach { p =>
          res.opMs += end - t0
          opDays += p.substring(p.lastIndexOf('/') + 1)
          opWindows += Seq(t0, end, step)
        }
      ops(done, t1)
      ops(swept, t2)
    }
    res.timedS = timedMs / 1000
    res.gcMs = Main.gcMs() - gc0
    res.allocMb = (Main.allocatedBytes() - alloc0) / 1048576.0
    res.liveHeapMb = Main.liveHeapMb()
    if (cfg.trace) {
      Trace.add("pipeline.outputs", outputs.toDouble)
      Trace.add("pipeline.events", events.toDouble)
      Trace.add("routing.wal_bytes", walDelta.toDouble)
      Trace.add("fs.meta_ops", CountingLocalFileSystem.meta.get.toDouble)
      Trace.add("fs.creates", CountingLocalFileSystem.creates.get.toDouble)
    }
    // failover: a fresh driver declares the same DAG over the same root
    // and recovers routing state from the WAL. Recovery compacts the WAL,
    // so each repetition starts from a copy of the log the run left. A
    // recovery takes about 70 ms at first and settles near 40 ms only after
    // some 30 repetitions, so the first 40 of 64 warm up.
    app.terminate()
    val wal = Paths.get(s"$root/app/routing_state.json.d")
    val saved = Paths.get(s"$root/wal-saved")
    copyTree(wal, saved)
    val rerun = (0 until 64).flatMap { k =>
      deleteTree(wal); copyTree(saved, wal)
      val app2 = declare(spark, root)
      val t = Trace.nowMs
      val r = app2.recover()
      if (k >= 40) res.recovers += (Trace.nowMs - t) / 1000
      app2.terminate()
      r
    }.distinct
    res.extra("root") = root
    res.extra("landed") = used.map { case (t, d) => Seq(t, d) }
    res.extra("warmup_landings") = BlockLandings
    res.extra("op_days") = opDays.toSeq
    res.extra("op_windows") = opWindows.toSeq
    res.extra("recover_reran") = rerun
    spark.stop()
  }

  private def copyTree(from: java.nio.file.Path, to: java.nio.file.Path): Unit =
    Files.walk(from).forEach(p => Files.copy(p, to.resolve(from.relativize(p))))

  private def deleteTree(p: java.nio.file.Path): Unit =
    Files.walk(p).sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))

  /** Spans of one driver call: the call, its executions, and the gaps
    * between them — route decision before the first execution, feed-back
    * between executions, driver self time after the last. */
  private def callSpans(name: String, start: Double, end: Double,
                        ex: List[(String, Double, Double)], op: Int): Unit = {
    val call = Trace.span(name, start, end, -1, op)
    var cursor = start
    ex.zipWithIndex.foreach { case ((node, b, e), k) =>
      Trace.span(if (k == 0) "routing.decide" else "app.feedback", cursor, b, call, op)
      Trace.span(s"compute.exec.$node", b, e, call, op)
      cursor = e
    }
    Trace.span("app.self", cursor, end, call, op)
  }
}
