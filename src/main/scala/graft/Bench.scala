package graft

/** Benchmark main: the headline queries over SPARK_GRAFT_SF_DIR, one JSON
  * line on stdout and in BENCH_LAST.json.
  *
  * - Each query runs through the noop sink: full computation, no result
  *   collection. Queries that stage scratch inputs run once, untimed, first.
  * - A query that throws is named in `"errors"` and the process exits
  *   nonzero.
  * - Reps are interleaved (rep 1 of every query, then rep 2, ...), so a
  *   loaded window hits one rep of many queries, not every rep of one.
  *   `"queries"` holds each query's min over reps (SPARK_GRAFT_BENCH_REPS,
  *   default 3); `"reps_detail"` holds every rep.
  * - Per sweep the artifact records `"loadavg"`, `"loadavg_other"` (load
  *   minus this process's own CPU), `"jvm"` (gc_ms, heap_mb, own_cores,
  *   other_cores, iowait_pct, steal_pct) and `"host_canary_mops_per_sec"`.
  * - `"window"` is [[runLabel]]'s verdict on those series: "calm",
  *   "loaded" or "disturbed".
  * - The first sweep waits for a 1-min load under 2 (up to
  *   SPARK_GRAFT_BENCH_CALM_WAIT_SECS, default 360); a later sweep waits
  *   out co-tenant load from a shared budget
  *   (SPARK_GRAFT_BENCH_BURST_BUDGET_SECS, default 180).
  *
  * The incidents behind these rules are in BASELINE.md.
  */
object Bench {

  /** Representative operators: full-scan agg, joins (broadcast star,
    * shuffle join+topk), window, distinct-agg, orchestrated ranged union,
    * dedup (exact + MinHash LSH + incremental + cluster resolution),
    * similarity top-k + stored-index ANN. */
  private val headline = List(
    "q01_agg_pricing", "q02_join_agg_topk", "q03_star_join",
    "q07_window_rank", "q21_count_distinct",
    "fw01_range_union", "p01_exact_dedup", "p05_cosine_topk",
    "p07_minhash_lsh", "p12_ann_lsh", "p14_dup_clusters",
    "p18_incremental_dedup")

  /** The sf1 (10x) set, SPARK_GRAFT_BENCH_SET=sf1, for a ScaleUp'd dir:
    * one representative per scale-sensitive family — full-scan agg, the
    * distributed RANGE frame, LSH banding, connected components,
    * incremental dedup, the PQ encode+probe path, and the shuffle join the
    * q02 bloom pre-filter targets. */
  private val sf1Headline = List(
    "q01_agg_pricing", "q35_range_frame", "p07_minhash_lsh",
    "p14_dup_clusters", "p18_incremental_dedup", "p38_pq_ann",
    "q02_join_agg_topk")

  private def loadavg1m(): Double =
    try scala.io.Source.fromFile("/proc/loadavg").mkString
      .split("\\s+").head.toDouble
    catch { case _: Throwable => -1.0 }

  // Co-tenant ("other") load = 1-min loadavg minus this process's average
  // cores over the same trailing minute, so the bench's own just-finished
  // sweep never reads as someone else's load.
  private val osBean =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
      case b: com.sun.management.OperatingSystemMXBean => Some(b)
      case _ => None
    }
  private val cpuSamples =
    scala.collection.mutable.ArrayBuffer[(Long, Long)]()
  private def selfLoad1m(): Double = osBean match {
    case Some(b) if b.getProcessCpuTime >= 0 =>
      val now = System.nanoTime(); val cpu = b.getProcessCpuTime
      cpuSamples += ((now, cpu))
      val cutoff = now - 60L * 1000000000L
      while (cpuSamples.size > 1 && cpuSamples(1)._1 <= cutoff)
        cpuSamples.remove(0)
      val (t0, c0) = cpuSamples.head
      if (now - t0 < 1000000000L) 0.0
      else (cpu - c0).toDouble / (now - t0)
    case _ => 0.0
  }
  private def otherLoad1m(): Double = {
    val raw = loadavg1m()
    if (raw < 0) raw else math.max(0.0, raw - selfLoad1m())
  }

  /** /proc/stat aggregate snapshot: (busy, total, iowait, steal,
    * hostCpus), in jiffies. Busy sums user..steal minus idle and iowait;
    * guest time is already inside user/nice. hostCpus counts the per-cpu
    * lines: /proc/stat spans the host, not the container, so
    * availableProcessors would under-scale the busy fraction. */
  private def procStatFull(): Option[(Long, Long, Long, Long, Int)] =
    try {
      val lines = scala.io.Source.fromFile("/proc/stat").getLines().toList
      val f = lines.head.trim.split("\\s+").drop(1).map(_.toLong)
      val iowait = if (f.length > 4) f(4) else 0L
      val steal = if (f.length > 7) f(7) else 0L
      val busy = f.take(8).sum - f(3) - iowait
      val total = f.take(8).sum // user nice system idle iowait irq softirq steal
      val nCpus = lines.count(l => l.startsWith("cpu") && !l.startsWith("cpu "))
      if (nCpus < 1 || total <= 0)
        None else Some((busy, total, iowait, steal, nCpus))
    } catch { case _: Throwable => None }

  /** Percentage of a sweep's jiffy capacity spent in `pick`ed state
    * (iowait or steal) between two [[procStatFull]] snapshots; -1.0
    * when either snapshot is unavailable. */
  private[graft] def statPctOver(
      s0: Option[(Long, Long, Long, Long, Int)],
      s1: Option[(Long, Long, Long, Long, Int)],
      pick: ((Long, Long, Long, Long, Int)) => Long): Double =
    (s0, s1) match {
      case (Some(a), Some(b)) if b._2 > a._2 =>
        math.max(0.0, (pick(b) - pick(a)).toDouble / (b._2 - a._2) * 100.0)
      case _ => -1.0
    }

  /** Co-tenant cores over a sweep: busy-jiffy delta scaled to host cores
    * minus this process's own CPU over the same wall; -1.0 when /proc/stat
    * is unavailable. */
  private[graft] def otherCoresOver(stat0: Option[(Long, Long, Int)],
                                    stat1: Option[(Long, Long, Int)],
                                    ownCpuNanos: Long,
                                    wallNanos: Long): Double =
    (stat0, stat1) match {
      case (Some((b0, t0, n)), Some((b1, t1, _))) if t1 > t0 && wallNanos > 0 =>
        val busyCores = (b1 - b0).toDouble / (t1 - t0) * n
        val ownCores =
          if (ownCpuNanos < 0) 0.0 else ownCpuNanos.toDouble / wallNanos
        math.max(0.0, busyCores - ownCores)
      case _ => -1.0
    }

  /** "calm" when every sweep started with other-load under 2 cores and
    * ran with co-tenant CPU under 2 cores; any unavailable reading (-1)
    * makes it "loaded". */
  def windowLabel(preSweepOtherLoad: Seq[Double],
                  sweepOtherCores: Seq[Double]): String =
    if (preSweepOtherLoad.nonEmpty && sweepOtherCores.nonEmpty &&
        preSweepOtherLoad.forall(l => l >= 0 && l < 2.0) &&
        sweepOtherCores.forall(c => c >= 0 && c < 2.0)) "calm" else "loaded"

  /** Queries whose reps spread more than `maxRatio` (max/min), sorted.
    * With 3+ reps the first is left out: it carries codegen, JIT and
    * first-scan warmup, which grows with data scale. Later reps run the
    * same plan over warm code, so a wide spread among them means the
    * machine was taken mid-rep. With 2 reps both are judged. */
  def disturbedQueries(repsByQuery: Map[String, Seq[Double]],
                       maxRatio: Double = 4.0): List[String] =
    repsByQuery.toList.collect {
      case (q, ts0) if ts0.size >= 2 && {
        val ts = if (ts0.size >= 3) ts0.drop(1) else ts0
        ts.min > 0 && ts.max / ts.min > maxRatio
      } => q
    }.sorted

  /** Queries (3+ reps) whose first rep exceeds `maxRatio` x the median
    * of the later reps, sorted. [[runLabel]] decides from the first
    * sweep's steal whether that is warmup or a stall; the names always
    * ship in `"first_rep_outliers"`. */
  def firstRepOutliers(repsByQuery: Map[String, Seq[Double]],
                       maxRatio: Double = 4.0): List[String] =
    repsByQuery.toList.collect {
      case (q, ts) if ts.size >= 3 && {
        val rest = ts.drop(1).sorted
        val med = rest(rest.size / 2)
        med > 0 && ts.head / med > maxRatio
      } => q
    }.sorted

  /** The run's label. "disturbed" when any query's later reps spread
    * more than 4x, or when a first-rep outlier met >= 1% steal in the
    * first sweep (warmup spends CPU and iowait, never steal). Otherwise
    * [[windowLabel]]. A first-rep outlier under iowait alone counts as
    * warmup: a cold first scan at large scale runs at high iowait. */
  def runLabel(preSweepOtherLoad: Seq[Double], sweepOtherCores: Seq[Double],
               repsByQuery: Map[String, Seq[Double]],
               firstSweepStealPct: Double = -1.0): String =
    if (disturbedQueries(repsByQuery).nonEmpty) "disturbed"
    else if (firstSweepStealPct >= 1.0 &&
      firstRepOutliers(repsByQuery).nonEmpty) "disturbed"
    else windowLabel(preSweepOtherLoad, sweepOtherCores)

  // Host-speed canary, one reading per sweep: a fixed single-thread
  // xorshift64* loop (registers only, no allocation or memory traffic),
  // so its ops/sec tracks clock speed. Cross-artifact comparisons divide
  // by its ratio (tools/compare_bench.py).
  @volatile private var canarySink: Long = 0
  private[graft] def hostCanaryOpsPerSec(
      iters: Long = 400000000L): Double = {
    var x = 0x9E3779B97F4A7C15L
    var i = 0L
    val t0 = System.nanoTime()
    while (i < iters) {
      x ^= x >>> 12; x ^= x << 25; x ^= x >>> 27
      x *= 0x2545F4914F6CDD1DL
      i += 1
    }
    val dt = math.max(1L, System.nanoTime() - t0) / 1e9
    canarySink = x // consume the result so the loop cannot be DCE'd
    iters / dt
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt.max(1)
    // wait, up to calmWait (0 disables), for a 1-min load under 2; a host
    // that never calms still runs and labels itself loaded
    val calmWait =
      sys.env.getOrElse("SPARK_GRAFT_BENCH_CALM_WAIT_SECS", "360").toInt
    var waited = 0
    while (waited < calmWait && loadavg1m() >= 2.0) {
      System.err.println(
        f"[bench] load ${loadavg1m()}%.2f >= 2.0 — waiting for calm " +
          s"($waited/${calmWait}s)")
      Thread.sleep(15000)
      waited += 15
    }
    // comma-separated subset filter for local A/B iterating (driver unset)
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val spark = Sessions.local()

    val queries = SparkEntry.queries
    val set = sys.env.get("SPARK_GRAFT_BENCH_SET") match {
      case Some("sf1") => sf1Headline
      case _ => headline
    }
    val names = set.filter(n => only.forall(_.contains(n)))
      .filter(queries.contains)
    // untimed warmup for queries that stage scratch inputs on first run
    List("fw01_range_union").foreach { q =>
      try queries(q)(spark, sfDir).write.format("noop").mode("overwrite").save()
      catch { case _: Throwable => }
    }

    var errors = List.empty[(String, String)]
    val times = scala.collection.mutable.Map[String, Vector[Double]]()
      .withDefaultValue(Vector.empty)
    val loads = scala.collection.mutable.ArrayBuffer[Double]()
    val otherLoads = scala.collection.mutable.ArrayBuffer[Double]()
    // every sweep must start calm: a later sweep waits out co-tenant
    // load from this shared budget, then runs and lets the label degrade
    var burstBudgetSecs =
      sys.env.getOrElse("SPARK_GRAFT_BENCH_BURST_BUDGET_SECS", "180").toInt
    // per-sweep JVM telemetry: gc_ms and own_cores are deltas over the
    // sweep, heap_mb is used heap at its end
    val gcBeans = java.lang.management.ManagementFactory
      .getGarbageCollectorMXBeans
    def gcMillis(): Long = {
      var s = 0L
      gcBeans.forEach(b => s += math.max(0L, b.getCollectionTime))
      s
    }
    def cpuNanos(): Long = osBean match {
      case Some(os) => os.getProcessCpuTime
      case None => -1L
    }
    val gcMs = scala.collection.mutable.ArrayBuffer[Long]()
    val heapMb = scala.collection.mutable.ArrayBuffer[Long]()
    val ownCores = scala.collection.mutable.ArrayBuffer[Double]()
    val otherCores = scala.collection.mutable.ArrayBuffer[Double]()
    val iowaitPct = scala.collection.mutable.ArrayBuffer[Double]()
    val stealPct = scala.collection.mutable.ArrayBuffer[Double]()
    val canary = scala.collection.mutable.ArrayBuffer[Double]()
    // JIT-compile the canary loop before the first measured reading —
    // an interpreted first sample would fake a 10x "slow host"
    hostCanaryOpsPerSec(iters = 50000000L)
    (1 to reps).foreach { _ =>
      while (otherLoad1m() >= 2.0 && burstBudgetSecs > 0) {
        System.err.println(
          f"[bench] mid-run burst: other-load ${otherLoad1m()}%.2f >= 2.0 " +
            f"(raw ${loadavg1m()}%.2f) — waiting (budget ${burstBudgetSecs}s)")
        Thread.sleep(15000)
        burstBudgetSecs -= 15
      }
      loads += loadavg1m()
      otherLoads += otherLoad1m()
      canary += hostCanaryOpsPerSec()
      val statFull0 = procStatFull()
      val stat0 = statFull0.map { case (b, t, _, _, n) => (b, t, n) }
      val (gc0, cpu0, wall0) = (gcMillis(), cpuNanos(), System.nanoTime())
      names.foreach { name =>
        val fn = queries(name)
        val t0 = System.nanoTime()
        try {
          fn(spark, sfDir).write.format("noop").mode("overwrite").save()
          times(name) = times(name) :+ (System.nanoTime() - t0) / 1e9
        } catch {
          case e: Throwable =>
            val msg = Option(e.getMessage).getOrElse(e.getClass.getName)
              .replaceAll("[\"\\\\\n\r\t]", " ").take(200)
            if (!errors.exists(_._1 == name)) errors ::= (name -> msg)
            System.err.println(s"[bench] $name failed: $msg")
        }
      }
      gcMs += gcMillis() - gc0
      heapMb += java.lang.management.ManagementFactory.getMemoryMXBean
        .getHeapMemoryUsage.getUsed >> 20
      val wall = math.max(1L, System.nanoTime() - wall0)
      val ownCpu = if (cpu0 < 0) -1L else cpuNanos() - cpu0
      ownCores += (if (ownCpu < 0) -1.0 else ownCpu.toDouble / wall)
      val statFull1 = procStatFull()
      otherCores += otherCoresOver(stat0,
        statFull1.map { case (b, t, _, _, n) => (b, t, n) }, ownCpu, wall)
      iowaitPct += statPctOver(statFull0, statFull1, _._3)
      stealPct += statPctOver(statFull0, statFull1, _._4)
    }
    loads += loadavg1m()

    val results = names.map(n =>
      n -> (if (times(n).nonEmpty) times(n).min else -1.0))
    val qs = results.map { case (k, v) => "\"" + k + f"\":$v%.3f" }
      .mkString("{", ",", "}")
    val detail = names.map { n =>
      "\"" + n + "\":" + times(n).map(t => f"$t%.3f").mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    val loadJson = loads.map(l => f"$l%.2f").mkString("[", ",", "]")
    val otherJson = otherLoads.map(l => f"$l%.2f").mkString("[", ",", "]")
    val errJson =
      if (errors.isEmpty) ""
      else errors.reverse.map { case (k, v) => "\"" + k + "\":\"" + v + "\"" }
        .mkString(""","errors":{""", ",", "}")
    val total = results.map(_._2).filter(_ >= 0).sum
    val timesMap = times.toMap
    val firstSteal = stealPct.headOption.getOrElse(-1.0)
    val window =
      runLabel(otherLoads.toSeq, otherCores.toSeq, timesMap, firstSteal)
    val firstOutliers = firstRepOutliers(timesMap)
    val disturbed = (disturbedQueries(timesMap) ++
      (if (firstSteal >= 1.0) firstOutliers else Nil)).distinct.sorted
    val disturbedJson =
      if (disturbed.isEmpty) ""
      else disturbed.map("\"" + _ + "\"")
        .mkString(""","disturbed":[""", ",", "]")
    // first-rep outliers always ship with the first sweep's telemetry
    val firstOutJson =
      if (firstOutliers.isEmpty) ""
      else firstOutliers.map { q =>
        val ts = timesMap(q)
        val rest = ts.drop(1).sorted
        val med = rest(rest.size / 2)
        "\"" + q + f"""":{"ratio":${ts.head / med}%.1f,""" +
          f""""iowait_pct":${iowaitPct.headOption.getOrElse(-1.0)}%.1f,""" +
          f""""steal_pct":$firstSteal%.1f}"""
      }.mkString(""","first_rep_outliers":{""", ",", "}")
    val jvmJson =
      s"""{"gc_ms":${gcMs.mkString("[", ",", "]")},""" +
        s""""heap_mb":${heapMb.mkString("[", ",", "]")},""" +
        s""""own_cores":${ownCores.map(c => f"$c%.1f").mkString("[", ",", "]")},""" +
        s""""other_cores":${otherCores.map(c => f"$c%.1f").mkString("[", ",", "]")},""" +
        s""""iowait_pct":${iowaitPct.map(c => f"$c%.1f").mkString("[", ",", "]")},""" +
        s""""steal_pct":${stealPct.map(c => f"$c%.1f").mkString("[", ",", "]")}}"""
    val setName = sys.env.getOrElse("SPARK_GRAFT_BENCH_SET", "headline")
    val canaryJson = canary.map(c => f"${c / 1e6}%.1f")
      .mkString("[", ",", "]")
    val jsonLine = f"""{"metric":"total","value":$total%.3f,"unit":"sec","reps":$reps,"set":"$setName","queries":$qs,"reps_detail":$detail,"loadavg":$loadJson,"loadavg_other":$otherJson,"jvm":$jvmJson,"host_canary_mops_per_sec":$canaryJson,"window":"$window"$disturbedJson$firstOutJson$errJson,"sf":"$sfDir"}"""
    println(jsonLine)
    // the same line as a file (SPARK_GRAFT_BENCH_JSON, default
    // BENCH_LAST.json), so the artifact survives any stdout framing;
    // a failed write is not fatal
    try {
      val out = java.nio.file.Paths.get(
        sys.env.getOrElse("SPARK_GRAFT_BENCH_JSON", "BENCH_LAST.json"))
      java.nio.file.Files.write(out, (jsonLine + "\n").getBytes("UTF-8"))
    } catch { case scala.util.control.NonFatal(e) =>
      System.err.println(s"[bench] could not write BENCH_LAST.json: $e") }
    spark.stop()
    if (errors.nonEmpty) sys.exit(1)
  }
}
