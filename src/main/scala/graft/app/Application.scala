package graft.app

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.compute._
import graft.dimension._
import graft.routing._
import graft.signal._

/** Fluent dev-time handle over a declared node's Signal (the reference's
  * MarshalerNode / FilteredView, marshaling/nodes.py:20-243,
  * filtered_views.py:33-270). Python slicing (`node['NA'][:-2]`) becomes
  * positional `apply`: `node("NA", "_:-2")` — raw values resolve through the
  * dimension-variant factory, so wildcards and relative ranges just work.
  */
final case class NodeRef private[app] (
    private val app: Application,
    signal: Signal) {

  /** Filter the node's dimensions positionally (one value per level). */
  def apply(values: Any*): NodeRef = {
    val raw = DimFilter.RawFilter.chainOf(values: _*)
    val value = DimFilter.loadRaw(signal.spec, raw)
    val chained = signal.filter.chain(value).getOrElse(
      throw new IllegalArgumentException(
        s"filter ${values.mkString("/")} incompatible with '${signal.alias}'"))
    copy(signal = signal.copy(filter = chained))
  }

  /** Last `n` partitions ending at the tip (explicit DSL for Python `[:-n]`). */
  def latest(n: Int): NodeRef = apply(s"_:-$n")

  /** Mark as reference: never awaited, values derived from other inputs. */
  def ref: NodeRef = copy(signal = signal.copy(isReference = true))

  /** Demand completion of every partition in range before trigger. */
  def rangeCheck(enabled: Boolean = true): NodeRef =
    copy(signal = signal.copy(rangeCheckRequired = enabled))

  /** Use the first existing partition in range. */
  def nearest: NodeRef =
    copy(signal = signal.copy(nearestTheTip = true, isReference = true))

  def as(alias: String): NodeRef = copy(signal = signal.copy(alias = alias))

  /** Physical paths this (possibly materialized) view resolves to. */
  def materializedPaths: Seq[String] = signal.materializedPaths
}

/** The Spark-native application: declare external data + derived nodes
  * (DAG), `activate` into an in-memory routing table, then drive with
  * events (`process`) or manual/backfill execution (`execute`).
  * Reference: Application (application.py:1197-1543 create_data,
  * 1877-1981 process, 2981-3664 execute, 2051-2267 poll).
  */
final class Application(val name: String, val spark: SparkSession,
                        val rootDir: String,
                        args: Map[String, Any] = Map.empty) {

  /** This app's owner identity — the unit cross-app grants are checked
    * against (the local analog of the reference's AWS account in
    * `authorize_external_entity`). Defaults to the OS user; override
    * with `args("owner")` where one user runs apps on several
    * principals' behalf. */
  val owner: String = args.get("owner").map(_.toString)
    .getOrElse(System.getProperty("user.name", "unknown"))

  /** Clock-skew margin for the duplicate-redelivery skip
    * ([[duplicateOutputOf]]): a context is treated as a provable
    * duplicate only when every output completion stamp is newer than
    * every input stamp by MORE than this margin. The guard compares
    * filesystem mtimes, which are coherent only per FS server clock —
    * coarse-mtime stores (1 s granularity object stores) can stamp an
    * input and its derived output into the same tick, and cross-writer
    * skew can back- or forward-date a re-published input. Within the
    * margin the guard is undecidable and the context RUNS (the safe
    * direction: a spurious re-run is idempotent, a spurious skip loses
    * a recompute). Same coherence assumption as ShardLease's clock
    * docs; override with `args("duplicateSkipSkewMs")` for stores with
    * known-tighter (or looser) mtime granularity. */
  val duplicateSkipSkewMs: Long = args.get("duplicateSkipSkewMs")
    .map(_.toString.toLong).getOrElse(2000L)

  private case class NodeDef(id: String, linkNode: SignalLinkNode,
                             output: Signal, outputLinks: List[DimensionLink],
                             slots: Seq[Slot], ttlMillis: Long, hooks: RouteHooks,
                             retry: RetryPolicy = RetryPolicy())

  /** Application lifecycle (reference ApplicationState; pause stops the
    * event processor only — manual execute still works, matching
    * application.py:1919-1926 which allows local process in PAUSED). */
  sealed trait AppState
  object AppState {
    case object INACTIVE extends AppState
    case object ACTIVE extends AppState
    case object PAUSED extends AppState
    case object DELETED extends AppState
  }
  @volatile private var appState: AppState = AppState.INACTIVE
  def state: AppState = appState

  // volatile: read by the daemon pollers (sweeper/scheduler/monitor
  // threads) — activation and patchData on the main thread must be
  // visible to sweep-triggered executions without extra locking
  @volatile private var defs: List[NodeDef] = Nil
  @volatile private var routingTable: Option[RoutingTable] = None
  private lazy val probe = new FsProbe(spark)
  private lazy val compute = new LocalSparkCompute(spark, probe, args)
  /** Active executions: output partition path → Spark job group ids
    * (a set — concurrent executions of one target each keep their own
    * group, so neither finishing wipes the other's registration). */
  private val activeGroups =
    new java.util.concurrent.ConcurrentHashMap[String, Set[String]]()

  /** One finished execution (reference ComputeRecord,
    * constructs.py:3949-4360 — the poll/debug surface). `logs` carries the
    * execution's captured diagnostics: rendered SQL statements, slot
    * `ctx.log(...)` lines, per-attempt failures with stack top, and Spark
    * job-group failure reasons (reference get_compute_record_logs,
    * application.py:2268-2308 — the first thing a user wants when an
    * execution fails). */
  final case class ComputeRecord(routeId: String, outputPath: String,
                                 startedAtMillis: Long, finishedAtMillis: Long,
                                 succeeded: Boolean, error: Option[String],
                                 logs: List[String] = Nil,
                                 slotKinds: List[String] = Nil)
  private val records =
    java.util.Collections.synchronizedList(new java.util.ArrayList[ComputeRecord]())
  /** In-memory compute-record retention: a long-lived driver (sweeper +
    * timers for months) must not grow the record list — and its captured
    * log lines — without bound. Oldest records evict first; the durable
    * history is the managed outputs themselves. Override via
    * -Dgraft.maxComputeRecords. */
  private val MaxComputeRecords =
    java.lang.Integer.getInteger("graft.maxComputeRecords", 10000).intValue()
  private def recordCompute(r: ComputeRecord): Unit = {
    records.add(r)
    records.synchronized {
      while (records.size > MaxComputeRecords) records.remove(0)
    }
  }

  /** Live per-execution log buffers, keyed by Spark job group — slots and
    * the job-failure listener append concurrently. Bounded: a slot looping
    * on ctx.log cannot grow a record without limit. */
  private val groupLogBuffers =
    new java.util.concurrent.ConcurrentHashMap[String, java.util.concurrent.ConcurrentLinkedQueue[String]]()
  private val MaxLogLines = 500

  /** Routes Spark job failures into the owning execution's log buffer
    * (the job-group id is thread-local at submit time, so jobId→group is
    * tracked from onJobStart properties). Registered once, lazily. */
  private lazy val jobFailureListener: Unit = {
    val l = new org.apache.spark.scheduler.SparkListener {
      private val jobGroup =
        new java.util.concurrent.ConcurrentHashMap[Int, String]()
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        val g = Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        g.filter(_.startsWith("graft-")).foreach(jobGroup.put(js.jobId, _))
      }
      override def onJobEnd(
          je: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
        val g = jobGroup.remove(je.jobId)
        if (g != null) je.jobResult match {
          case org.apache.spark.scheduler.JobFailed(e) =>
            Option(groupLogBuffers.get(g)).foreach(buf =>
              if (buf.size < MaxLogLines) buf.add(
                s"spark job ${je.jobId} failed: " +
                  Option(e.getMessage).getOrElse(e.getClass.getName).take(500)))
          case _ => ()
        }
      }
    }
    spark.sparkContext.addSparkListener(l)
  }

  /** Execution history, oldest first (reference
    * get_inactive_compute_records, application.py:4083-4098). */
  def computeRecords: List[ComputeRecord] =
    records.synchronized { scala.jdk.CollectionConverters
      .ListHasAsScala(records).asScala.toList }

  /** Log query over a node's execution records (reference
    * get_compute_record_logs, application.py:2268-2308 — the remote
    * log-repository query becomes an in-process filter over the captured
    * record logs). A materialized view narrows to its partition's
    * executions; an unfiltered node returns every execution of the route.
    * `errorOnly=true` (the reference default) keeps failed executions
    * only; `filterPattern` is a regex matched per line. */
  def getComputeRecordLogs(target: NodeRef, errorOnly: Boolean = true,
                           filterPattern: Option[String] = None)
      : List[ComputeRecord] = {
    val re = filterPattern.map(_.r)
    val base =
      if (target.signal.isMaterialized) {
        val paths = target.signal.materializedPaths.toSet
        computeRecords.filter(r => paths.contains(r.outputPath))
      } else computeRecords.filter(_.routeId == target.signal.alias)
    base.filter(r => !errorOnly || !r.succeeded)
      .map(r => r.copy(logs = r.logs.filter(l =>
        re.forall(_.findFirstIn(l).isDefined))))
  }

  /** Full orchestration + execution metrics for one route (reference
    * get_route_metrics, application.py:429-531): routing counters
    * (events/pending/expiry/zombie/trigger) from the route itself plus
    * execution success/failure tallies from the compute records. */
  final case class RouteMetricsReport(
      routeId: String, counters: graft.routing.RouteCounters,
      execSucceeded: Long, execFailed: Long, pendingNow: Int)

  def getRouteMetrics(id: String): Option[RouteMetricsReport] =
    findRoute(id).map { r =>
      val recs = computeRecords.filter(_.routeId == id)
      RouteMetricsReport(id, r.counters,
        recs.count(_.succeeded), recs.count(!_.succeeded),
        r.pendingNodes.length)
    }

  /** Metrics for every active route (reference get_platform_metrics'
    * routing section, application.py:532-599). ONE records snapshot and
    * one groupBy serve every route — per-route getRouteMetrics calls
    * re-copied the full bounded record list (10k entries) per route
    * under its lock, O(routes × records) per poll on the alarm-monitor
    * thread. */
  def getAllRouteMetrics: Map[String, RouteMetricsReport] = {
    val byRoute = computeRecords.groupBy(_.routeId)
    runtimeTables.flatMap(_.all).map { r =>
      val recs = byRoute.getOrElse(r.id, Nil)
      r.id -> RouteMetricsReport(r.id, r.counters,
        recs.count(_.succeeded), recs.count(!_.succeeded),
        r.pendingNodes.length)
    }.toMap
  }

  /** The platform/orchestration counters as a METRIC SERIES
    * (name, period_start, value) — the reference's get_platform_metrics
    * face (application.py:532-599), shaped so orchestration health feeds
    * [[createMetricAlarm]]/[[graft.diagnostics.Alarms]] like any emitted
    * metric: e.g. alarm on `route.myNode.execFailed`. Names:
    * `route.<id>.<eventsReceived|pendingCreated|pendingExpired|
    * zombiesEliminated|triggers|probeFailures|execSucceeded|execFailed|
    * pendingNow>`
    * plus app-level `app.<computeRecords|activeExecutions|routes>` and
    * (r16) the per-JVM maintenance counters `maintenance.compaction.*` /
    * `maintenance.heal.*` / `maintenance.claim.*`
    * ([[graft.compute.MaintenanceMetrics]]) — alarm on
    * `maintenance.claim.staleCleared` to catch CRASHING compactions,
    * on `maintenance.claim.contention` to catch overlapping windows. */
  def platformMetricsDf(
      at: java.sql.Timestamp = new java.sql.Timestamp(System.currentTimeMillis()))
      : DataFrame = {
    val sp = spark
    import sp.implicits._
    val routeRows = getAllRouteMetrics.toList.flatMap { case (id, m) =>
      List(
        s"route.$id.eventsReceived" -> m.counters.eventsReceived.toDouble,
        s"route.$id.pendingCreated" -> m.counters.pendingCreated.toDouble,
        s"route.$id.pendingExpired" -> m.counters.pendingExpired.toDouble,
        s"route.$id.zombiesEliminated" -> m.counters.zombiesEliminated.toDouble,
        s"route.$id.triggers" -> m.counters.triggers.toDouble,
        s"route.$id.probeFailures" -> m.counters.probeFailures.toDouble,
        s"route.$id.execSucceeded" -> m.execSucceeded.toDouble,
        s"route.$id.execFailed" -> m.execFailed.toDouble,
        s"route.$id.pendingNow" -> m.pendingNow.toDouble)
    }
    val appRows = List(
      "app.computeRecords" -> computeRecords.length.toDouble,
      "app.activeExecutions" -> activeComputePaths.size.toDouble,
      "app.routes" -> runtimeTables.flatMap(_.all).length.toDouble)
    // maintenance counters (r16): compaction swaps/heals and claim
    // contention surface in the SAME alarmable series as route health —
    // per-JVM registry (the scope the maintenance jobs run in), names
    // `maintenance.compaction.*` / `maintenance.heal.*` /
    // `maintenance.claim.*` (graft.compute.MaintenanceMetrics)
    val maintRows = graft.compute.MaintenanceMetrics.snapshot.toList
    (routeRows ++ appRows ++ maintRows).map { case (n, v) => (n, at, v) }
      .toDF("name", "period_start", "value")
  }

  /** Output paths with an execution in flight right now (reference
    * get_active_compute_records). */
  def activeComputePaths: Set[String] =
    scala.jdk.CollectionConverters.SetHasAsScala(activeGroups.keySet()).asScala.toSet

  /** Run a context inside a cancellable Spark job group (the kill switch;
    * setJobGroup is thread-local, so concurrent executeAsync calls get
    * independent groups). */
  private def runCancellable(ctx: ExecutionContext, slots: Seq[Slot],
                             retry: RetryPolicy): Option[String] = {
    val outPath = ctx.output.materializedPaths.head
    val group = s"graft-${ctx.routeId}-${java.util.UUID.randomUUID()}"
    spark.sparkContext.setJobGroup(group,
      s"graft ${ctx.routeId} -> $outPath", interruptOnCancel = true)
    activeGroups.merge(outPath, Set(group), _ ++ _)
    jobFailureListener // ensure the failure-diagnostics listener is attached
    val buf = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    groupLogBuffers.put(group, buf)
    val sink: String => Unit = m => if (buf.size < MaxLogLines) buf.add(m)
    def snapshot: List[String] = {
      val l = scala.jdk.CollectionConverters.IterableHasAsScala(buf).asScala.toList
      if (l.length >= MaxLogLines) l :+ s"... truncated at $MaxLogLines lines" else l
    }
    val started = System.currentTimeMillis()
    try {
      val w = compute.run(ctx, slots, retry, sink)
      w.foreach(applyStorageSecurity)
      if (securityConfs.get(ConstructKind.BatchCompute)
          .flatMap(_.processing).exists(_.zeroSensitiveDataAfterUse))
        spark.sharedState.cacheManager.clearCache()
      recordCompute(ComputeRecord(ctx.routeId, outPath, started,
        System.currentTimeMillis(), succeeded = true, None, snapshot,
        slots.map(_.getClass.getSimpleName).toList))
      w
    } catch {
      case e: Throwable =>
        sink(s"execution failed: ${e.getClass.getName}: " +
          Option(e.getMessage).getOrElse(""))
        e.getStackTrace.take(5).foreach(f => sink(s"  at $f"))
        recordCompute(ComputeRecord(ctx.routeId, outPath, started,
          System.currentTimeMillis(), succeeded = false,
          Some(Option(e.getMessage).getOrElse(e.getClass.getName)), snapshot,
          slots.map(_.getClass.getSimpleName).toList))
        throw e
    } finally {
      groupLogBuffers.remove(group)
      activeGroups.computeIfPresent(outPath, (_, gs) =>
        if ((gs - group).isEmpty) null else gs - group)
      spark.sparkContext.clearJobGroup()
    }
  }

  /** Execute one target over a batch of partition value tuples (reference
    * execute_batch, application.py:2888-2980). Returns output paths in
    * input order; fails fast on the first failing partition. */
  def executeBatch(target: NodeRef, valueTuples: Seq[Seq[Any]],
                   recursive: Boolean = false): Seq[String] =
    valueTuples.map(vs => execute(target.apply(vs: _*), recursive))

  // ---- dev-time declaration --------------------------------------------

  /** Import an external dataset as a signal node. */
  def marshalExternalData(id: String, rootPath: String, spec: DimSpec,
                          attrs: DatasetAttrs = DatasetAttrs(),
                          protocol: IntegrityProtocol = IntegrityProtocol.None_,
                          partitionPrefixes: Seq[String] = Nil): NodeRef =
    NodeRef(this, Signal(id,
      SignalSource.external(rootPath, attrs, protocol, partitionPrefixes),
      spec, DimFilter.allPassFor(spec)))

  /** Model-artifact signal (reference `marshal_external_model`,
    * api_ext.py:1127-1166; `marshal_external_sagemaker_model` :1091 is
    * the same surface with pre-filled metadata): a NON-DATASET artifact
    * tree — trained model directories, version/date partitioned per
    * `spec`, each partition completed by `_SUCCESS` (or a manifest name
    * via `protocol`). The node is referenceable like any dataset
    * (`.ref`, `.nearest`, range semantics all apply — "the model
    * version live when this example was logged" is `.latest(n).nearest`
    * beside a data trigger, the q40 state-attach shape), but compute
    * NEVER receives it as a DataFrame: the artifact is opaque bytes, so
    * slots take the materialized artifact path from
    * `ctx.inputSignals(alias).materializedPaths` and the declared
    * `modelMetadata`/`modelFormat` from the signal's source attrs. */
  def marshalExternalModel(id: String, rootPath: String, spec: DimSpec,
                           modelMetadata: Map[String, String] = Map.empty,
                           modelFormat: String = "generic",
                           protocol: IntegrityProtocol =
                             IntegrityProtocol.FileCheck("_SUCCESS"),
                           partitionPrefixes: Seq[String] = Nil): NodeRef =
    NodeRef(this, Signal(id,
      SignalSource.external(rootPath,
        DatasetAttrs(rawContent = true, modelMetadata = modelMetadata,
          modelFormat = Some(modelFormat)),
        protocol, partitionPrefixes),
      spec, DimFilter.allPassFor(spec)))

  /** Timer node: single DATETIME dimension (reference application.py:1023-1052).
    * `scheduleExpression` (`cron(...)`/`rate(...)`, see [[Schedule.parse]])
    * registers the timer for automatic firing through [[scheduler]]; a
    * schedule-less timer fires only via [[fireTimer]]/execute. */
  /** `rateAnchor` pins rate() schedules to an instant (the reference
    * anchors rates at rule-creation time — pass `Some(Instant.now())`
    * at declaration for that behavior); None keeps the epoch-aligned
    * default, which is stable across restarts without persisted state. */
  def createTimer(id: String, format: String = "%Y-%m-%d",
                  dimName: String = "time",
                  scheduleExpression: String = null,
                  rateAnchor: Option[java.time.Instant] = None): NodeRef = {
    val spec = DimSpec.pretty(
      dimName -> (DimType.DATETIME, Map[String, Any]("format" -> format)))
    val ref = NodeRef(this, Signal(id, SignalSource.timer(id), spec,
      DimFilter.allPassFor(spec)))
    require(!timerDefs.exists(_.signal.alias == id), s"timer '$id' already declared")
    val schedule = Option(scheduleExpression).map(
      Schedule.parse(_, rateAnchor.getOrElse(java.time.Instant.EPOCH)))
    timerDefs :+= PersistedTimer(ref.signal, schedule)
    schedule.foreach(sc => timerSchedules :+= ((ref, sc)))
    ref
  }

  private var timerSchedules: List[(NodeRef, Schedule)] = Nil
  private var timerDefs: List[PersistedTimer] = Nil

  /** Timer lookup (reference get_timer, application.py:1054-1070). */
  def getTimer(id: String): Option[NodeRef] =
    timerDefs.find(_.signal.alias == id).map(t => NodeRef(this, t.signal))

  /** Driver scheduler over every schedule-carrying timer: the in-proc
    * analog of the reference's scheduled-event rules firing into the
    * processor (application.py:1023-1052). `startAt` anchors next-fire
    * computation (and rate() anchors, which the reference pins to rule
    * creation) — pass a test clock or the current instant. */
  def scheduler(startAt: java.time.Instant): TimerScheduler = {
    require(timerSchedules.nonEmpty, "no timers carry a schedule expression")
    new TimerScheduler(this, timerSchedules, startAt)
  }

  /** Alarm node: (state_transition, time) dimensions so alarm state
    * transitions can TRIGGER data nodes like any other signal (reference
    * AlarmDimension, metric_alarm_defs.py:195-205; alarm ingestion in
    * processor/aws.py). Filter to react to specific states:
    * `alarm("ALARM", "*")`. */
  def marshalAlarm(id: String, timeFormat: String = "%Y-%m-%d %H"): NodeRef = {
    val spec = DimSpec.pretty(
      "state_transition" -> (DimType.STRING, Map.empty[String, Any]),
      "time" -> (DimType.DATETIME, Map[String, Any]("format" -> timeFormat)))
    NodeRef(this, Signal(id, SignalSource.alarm(id), spec, DimFilter.allPassFor(spec)))
  }

  /** Raise an alarm state transition into the routing table (the analog of
    * a CloudWatch alarm event arriving at the processor). Throws while
    * PAUSED instead of silently returning: process() drops events during
    * a pause by contract, but the AlarmMonitor treats a non-throwing
    * raise as delivered and advances its cursor — a silent drop here
    * would consume the edge forever. The throw makes the monitor hold
    * the transition and retry after resume(). */
  def raiseAlarm(alarm: NodeRef, state: String, time: Any): List[String] =
    // the throw happens INSIDE process's own paused branch — a separate
    // pre-check here raced pause(): passing the check, then having
    // process drop the event silently, consumed the edge forever
    processInternal(alarm.signal.copy(
      filter = DimFilter.branchOf(alarm.signal.spec, Seq(state, time))),
      throwIfPaused = true)

  /** Metric-backed alarm (reference create_alarm over a target metric,
    * application.py:826-1005): declares the alarm signal node AND
    * registers its evaluation wiring so [[alarmMonitor]] can watch the
    * metric series and raise state transitions automatically — no manual
    * [[raiseAlarm]] needed. `series` re-evaluates on every monitor poll;
    * shape (name, period_start, value) — a [[graft.diagnostics.Metrics]]
    * statistic or [[graft.diagnostics.MetricMath]] output. */
  def createMetricAlarm(id: String,
                        series: () => org.apache.spark.sql.DataFrame,
                        params: graft.diagnostics.AlarmParams,
                        periodSecs: Long,
                        timeFormat: String = "%Y-%m-%d %H"): NodeRef = {
    require(!metricAlarms.exists(_._2.alarmId == id) &&
      !compositeAlarms.exists(_._2.alarmId == id),
      s"alarm '$id' already declared")
    val alarm = marshalAlarm(id, timeFormat)
    metricAlarms :+= ((alarm,
      graft.diagnostics.MetricAlarmDef(id, series, params, periodSecs)))
    alarm
  }

  private var metricAlarms: List[(NodeRef, graft.diagnostics.MetricAlarmDef)] = Nil
  private var compositeAlarms: List[(NodeRef, graft.diagnostics.CompositeAlarmDef)] = Nil

  /** Composite alarm (reference create_composite_alarm,
    * application.py:937-1005): [[graft.diagnostics.AlarmRule]] boolean
    * algebra over alarms already declared via [[createMetricAlarm]] (or
    * its internal/external sugar), referenced by alarm id — e.g.
    * `Ref("err_daily") & ~Ref("deploy_freeze")`. The composite is itself
    * an alarm node: each monitor poll evaluates the members, joins their
    * per-period states, applies the rule, and raises the composite's OWN
    * transitions into routing, so downstream nodes trigger on it like
    * any alarm. Members must share one evaluation period (state rows
    * join on period_start). */
  def createCompositeAlarm(id: String, rule: graft.diagnostics.AlarmRule,
                           timeFormat: String = "%Y-%m-%d %H"): NodeRef = {
    require(!metricAlarms.exists(_._2.alarmId == id) &&
      !compositeAlarms.exists(_._2.alarmId == id),
      s"alarm '$id' already declared")
    val memberIds = graft.diagnostics.AlarmRule.refs(rule)
    require(memberIds.nonEmpty, s"composite '$id' references no alarms")
    // transitive evaluation periods of a member: its own for a metric
    // alarm, its members' for an (earlier-declared) composite
    def periodsOf(mid: String): Set[Long] =
      metricAlarms.find(_._2.alarmId == mid).map(m => Set(m._2.periodSecs))
        .orElse(compositeAlarms.find(_._2.alarmId == mid)
          .map(_._2.memberIds.flatMap(periodsOf).toSet))
        .getOrElse(throw new IllegalArgumentException(
          s"composite '$id' references undeclared alarm '$mid'"))
    val periods = memberIds.toList.sorted.flatMap(periodsOf).distinct
    require(periods.length == 1,
      s"composite '$id' members must share one evaluation period, " +
        s"got ${periods.mkString(", ")}")
    val alarm = marshalAlarm(id, timeFormat)
    compositeAlarms :+= ((alarm,
      graft.diagnostics.CompositeAlarmDef(id, memberIds.toList.sorted, rule)))
    alarm
  }

  /** Declared metric-backed or composite alarm lookup (reference
    * get_alarm, application.py — query over alarm nodes; plain
    * [[marshalAlarm]] refs are unregistered pass-throughs and not
    * returned here). */
  def getAlarm(id: String): Option[NodeRef] =
    metricAlarms.find(_._2.alarmId == id).map(_._1)
      .orElse(compositeAlarms.find(_._2.alarmId == id).map(_._1))

  /** The four fixed metric dimensions every metric node carries
    * (reference MetricDimension, metric_alarm_defs.py). */
  private def metricNodeRef(id: String, rootPath: String,
                            timeFormat: String): NodeRef = {
    val spec = DimSpec.pretty(
      "name" -> (DimType.STRING, Map.empty[String, Any]),
      "statistic" -> (DimType.STRING, Map.empty[String, Any]),
      "period" -> (DimType.LONG, Map.empty[String, Any]),
      "time" -> (DimType.DATETIME, Map[String, Any]("format" -> timeFormat)))
    NodeRef(this, Signal(id, SignalSource.external(rootPath),
      spec, DimFilter.allPassFor(spec)))
  }

  /** Declared metric lookup, internal or external (reference get_metric):
    * a fresh all-pass ref carrying the four fixed metric dimensions (same
    * construction as the original create/marshal return). */
  def getMetric(id: String): Option[NodeRef] =
    internalMetrics.get(id)
      .map(d => metricNodeRef(d.id, s"graft-metric://$name/${d.id}", d.timeFormat))
      .orElse(externalMetrics.get(id)
        .map(d => metricNodeRef(d.id, d.rootPath, d.timeFormat)))

  /** App-owned runtime metric store — the reference's
    * `runtime_platform.diagnostics` (application.py:697-707): compute
    * code emits into groups declared by [[createMetric]], e.g.
    * `app.diagnostics("metric_group1")("Error").emit(1.0, ts)`. */
  lazy val diagnostics: graft.diagnostics.Diagnostics =
    new graft.diagnostics.Diagnostics(spark)

  private final case class InternalMetricDef(id: String,
      subDimensions: Map[String, String], timeFormat: String)
  private var internalMetrics: Map[String, InternalMetricDef] = Map.empty

  /** Internal metric-group declaration (reference create_metric,
    * application.py:671-750). The group id is the metric-instance
    * discriminator — the reference adds it as an implicit sub-dimension,
    * so the same Name emitted under two different groups never
    * contributes to the same metric instance; here every emission record
    * carries its group and [[internalMetricSeries]] filters on it. Emit
    * at runtime through [[diagnostics]]; alarm via
    * [[createInternalMetricAlarm]]. Like hooks, dashboards, and alarm
    * series (whose evaluation closures cannot round-trip), metric
    * declarations are runtime-only — excluded from [[saveDevState]];
    * re-declare them in code after [[loadDevState]]. */
  def createMetric(id: String,
                   subDimensions: Map[String, String] = Map.empty,
                   timeFormat: String = "%Y-%m-%d %H"): NodeRef = {
    require(!internalMetrics.contains(id) && !externalMetrics.contains(id),
      s"metric '$id' already declared")
    internalMetrics += id -> InternalMetricDef(id, subDimensions, timeFormat)
    metricNodeRef(id, s"graft-metric://$name/$id", timeFormat)
  }

  /** Statistic series over one Name of an internal metric group — shape
    * (name, period_start, value), the [[createMetricAlarm]] input
    * contract (the reference's metric["Name"][stat][period] selection,
    * application.py:714-721). `name = None` evaluates every Name in the
    * group. Lazy: each call re-reads the store, so a monitor poll sees
    * everything emitted since the last poll. */
  def internalMetricSeries(metric: NodeRef,
                           statistic: graft.diagnostics.MetricStatistic,
                           periodSecs: Long,
                           name: Option[String] = None): () => DataFrame = {
    val id = metric.signal.alias
    require(internalMetrics.contains(id),
      s"'$id' is not an internal metric (declare via createMetric)")
    () => {
      import org.apache.spark.sql.functions.col
      val raw = diagnostics.df.where(col("group") === id)
      val narrowed = name.fold(raw)(n => raw.where(col("name") === n))
      // count-weighted: value-count pair emissions carry count > 1
      graft.diagnostics.Metrics.evaluate(narrowed,
        "name", "value", "time", periodSecs, statistic,
        countCol = Some("count"))
    }
  }

  /** Alarm on one Name of an internal metric group (the reference's
    * create_alarm over a create_metric node, application.py:826-1005):
    * [[createMetric]] + emission + this = declare → emit → alarm →
    * trigger, all in-app. */
  def createInternalMetricAlarm(alarmId: String, metric: NodeRef,
                                metricName: String,
                                statistic: graft.diagnostics.MetricStatistic,
                                params: graft.diagnostics.AlarmParams,
                                periodSecs: Long,
                                timeFormat: String = "%Y-%m-%d %H"): NodeRef =
    createMetricAlarm(alarmId,
      internalMetricSeries(metric, statistic, periodSecs, Some(metricName)),
      params, periodSecs, timeFormat)

  /** An EXTERNALLY-produced metric store declaration: raw metric rows
    * (nameCol, timeCol, valueCol) under `rootPath` in `format`,
    * optionally narrowed to constant sub-dimension column values —
    * the file-backed analog of a CloudWatch metric's sub-dimension map. */
  final case class ExternalMetricDef(
      id: String, rootPath: String, format: String,
      nameCol: String, timeCol: String, valueCol: String,
      options: Map[String, String], subDimensions: Map[String, String],
      partitionCol: Option[String] = None,
      partitionFormat: String = "%Y-%m-%d",
      timeFormat: String = "%Y-%m-%d %H")

  private var externalMetrics: Map[String, ExternalMetricDef] = Map.empty

  /** Import an EXTERNALLY-produced metric series — a parquet/csv/json
    * directory of raw metric rows some other system emits — as a
    * marshaled input signal (reference marshal_external_metric,
    * application.py:600-670: the CloudWatch-metric import). The signal
    * carries the reference's four fixed metric dimensions
    * (name, statistic, period, time — MetricDimension,
    * metric_alarm_defs.py); the declaration records how to READ the
    * store, and [[externalMetricSeries]] evaluates any statistic over it
    * so [[createMetricAlarm]] / [[alarmMonitor]] can drive alarms and
    * downstream nodes from metrics the app itself never emitted. */
  def marshalExternalMetric(id: String, rootPath: String,
                            format: String = "parquet",
                            nameCol: String = "name",
                            timeCol: String = "ts",
                            valueCol: String = "value",
                            options: Map[String, String] = Map.empty,
                            subDimensions: Map[String, String] = Map.empty,
                            timeFormat: String = "%Y-%m-%d %H",
                            partitionCol: Option[String] = None,
                            partitionFormat: String = "%Y-%m-%d"): NodeRef = {
    require(!externalMetrics.contains(id) && !internalMetrics.contains(id),
      s"metric '$id' already declared")
    externalMetrics += id -> ExternalMetricDef(id, rootPath.stripSuffix("/"),
      format, nameCol, timeCol, valueCol, options, subDimensions,
      partitionCol, partitionFormat, timeFormat)
    metricNodeRef(id, rootPath, timeFormat)
  }

  /** Statistic series over a marshaled external metric — shape
    * (name, period_start, value), the [[createMetricAlarm]] input
    * contract. Evaluation is lazy and re-reads the store on every call,
    * so a monitor poll always sees rows the external producer appended
    * since the last poll.
    *
    * For a metric declared WITHOUT `partitionCol`, every call re-reads
    * the whole store — fine for metric-sized data but unbounded for a
    * long-lived deployment polling a growing history. Declaring
    * `partitionCol` (a `<col>=<value>` time-partitioned store, values in
    * `partitionFormat`) switches the closure to a CURSOR: each call
    * lists the partition directories (one cheap metadata listing),
    * reads only those at or after the cursor frontier minus
    * `lookbackPeriods` × period (the N-of-M alarm window still needs its
    * trailing datapoints), and advances the frontier to the newest
    * partition seen. The newest partition is always re-read — producers
    * append into the open partition — but closed history is never
    * scanned again. Contract: producers only append to partitions at or
    * after the newest one (the standard time-partitioned metric store
    * shape); a backfill into old partitions needs a fresh series.
    *
    * `consumedCursor` (when supplied — [[createExternalMetricAlarm]]
    * wires it to the monitor's per-alarm cursor) replaces the
    * advance-on-read frontier with the CONSUMER's position: the window
    * anchors at the last period the monitor actually consumed, so a
    * dashboard render or a raise-failure streak can never advance the
    * window past unconsumed rows. Until the first consumption it reads
    * everything. WITHOUT it, the frontier advances on every invocation
    * and the retry window is bounded: a pending transition survives
    * only while its period stays within `lookbackPeriods` of the newest
    * partition read — share such a closure with exactly one consumer. */
  def externalMetricSeries(metric: NodeRef,
                           statistic: graft.diagnostics.MetricStatistic,
                           periodSecs: Long,
                           lookbackPeriods: Int = 0,
                           consumedCursor: Option[() => Option[Long]] = None)
      : () => DataFrame = {
    val d = externalMetrics.getOrElse(metric.signal.alias,
      throw new IllegalArgumentException(
        s"'${metric.signal.alias}' is not a marshaled external metric"))
    def evaluate(raw: DataFrame): DataFrame = {
      val narrowed = d.subDimensions.foldLeft(raw) { case (df, (c, v)) =>
        df.where(org.apache.spark.sql.functions.col(c) === v) }
      graft.diagnostics.Metrics.evaluate(narrowed,
        d.nameCol, d.valueCol, d.timeCol, periodSecs, statistic)
    }
    d.partitionCol match {
      case None =>
        () => evaluate(
          spark.read.format(d.format).options(d.options).load(d.rootPath))
      case Some(pc) =>
        // epoch-second frontier of the newest partition value read so far
        var frontier: Option[Long] = None
        () => {
          val root = new org.apache.hadoop.fs.Path(d.rootPath)
          val fs = root.getFileSystem(
            spark.sparkContext.hadoopConfiguration)
          val parts = fs.listStatus(root).filter(_.isDirectory)
            .map(_.getPath).flatMap { p =>
              val n = p.getName
              if (!n.startsWith(s"$pc=")) None
              else graft.dimension.DimValue.parseDateTime(
                  n.stripPrefix(s"$pc="), Some(d.partitionFormat))
                .map(v => (v.toEpochSecond(java.time.ZoneOffset.UTC), p))
            }.sortBy(_._1)
          if (parts.isEmpty)
            // not (or not yet) a partitioned layout — fall through to a
            // plain load so the error/empty behavior matches the
            // unpartitioned path
            evaluate(spark.read.format(d.format).options(d.options)
              .load(d.rootPath))
          else {
            // window anchor: the consumer's consumed cursor when wired
            // (never outruns consumption), else this closure's own
            // advance-on-read frontier (documented bounded-retry window)
            val anchor = consumedCursor.fold(frontier)(f => f())
            val selected = anchor match {
              case None => parts
              case Some(f) =>
                // keep partitions at/after the anchor's lookback target;
                // the last partition STARTING at or before the target can
                // still contain in-window periods, so include it too
                val target = f - lookbackPeriods * periodSecs
                val cutoff = parts.map(_._1).filter(_ <= target)
                  .maxOption.getOrElse(Long.MinValue)
                parts.filter(_._1 >= cutoff)
            }
            frontier = Some(parts.last._1)
            evaluate(spark.read.format(d.format).options(d.options)
              .option("basePath", d.rootPath)
              .load(selected.map(_._2.toString).toIndexedSeq: _*))
          }
        }
    }
  }

  /** Alarm directly on an external metric (marshal + statistic + alarm in
    * one declaration — the reference's create_alarm over an imported
    * metric signal). `transform` optionally reshapes the statistic
    * series (e.g. normalization) before alarm evaluation. */
  def createExternalMetricAlarm(alarmId: String, metric: NodeRef,
                                statistic: graft.diagnostics.MetricStatistic,
                                params: graft.diagnostics.AlarmParams,
                                periodSecs: Long,
                                timeFormat: String = "%Y-%m-%d %H",
                                transform: DataFrame => DataFrame = identity)
      : NodeRef = {
    // cursor lookback = the alarm's N-of-M window: a new period's state
    // needs exactly its trailing evaluationPeriods of datapoints; the
    // window anchors at the MONITOR's consumed cursor so dashboard
    // renders and raise-failure retries never starve the alarm's scan
    val series = externalMetricSeries(metric, statistic, periodSecs,
      lookbackPeriods = params.evaluationPeriods,
      consumedCursor = Some(() => alarmCursors.get(alarmId)))
    createMetricAlarm(alarmId, () => transform(series()), params,
      periodSecs, timeFormat)
  }

  /** Monitor over every metric-backed alarm; poll() (or start() for a
    * wall-clock daemon) evaluates the series and raises transitions into
    * routing. */
  def alarmMonitor(): graft.diagnostics.AlarmMonitor = {
    require(metricAlarms.nonEmpty, "no metric-backed alarms declared")
    val byId = metricAlarms.map { case (r, d) => d.alarmId -> r }.toMap ++
      compositeAlarms.map { case (r, d) => d.alarmId -> r }.toMap
    new graft.diagnostics.AlarmMonitor(metricAlarms.map(_._2),
      (id, state, time) => raiseAlarm(byId(id), state, time),
      composites = compositeAlarms.map(_._2),
      onCursor = (id, t) => alarmCursors.put(
        id, t.toEpochSecond(java.time.ZoneOffset.UTC)))
  }

  /** Per-alarm consumed-period cursor (epoch seconds, UTC), advanced by
    * the monitor only after it has consumed a row (raise succeeded or
    * state unchanged). Cursor-backed series anchor their partition
    * window here, so a raise-failure streak can never push the pending
    * period out of the lookback window — see [[externalMetricSeries]]. */
  private val alarmCursors =
    scala.collection.concurrent.TrieMap.empty[String, Long]

  // ---- dashboards (reference create_dashboard + widget APIs,
  // application.py:4461-4525 — CloudWatch JSON there; here a declared
  // widget list rendered into ONE DataFrame) --------------------------

  private sealed trait DashWidget
  private final case class TextW(markdown: String) extends DashWidget
  private final case class MetricW(title: String,
      series: () => DataFrame) extends DashWidget
  private final case class AlarmW(title: String,
      alarmIds: Seq[String]) extends DashWidget
  private var dashboards: Map[String, Vector[DashWidget]] = Map.empty

  /** Declare an empty dashboard. Like hooks and metric-alarm series,
    * dashboards hold closures and are runtime-only — excluded from
    * [[saveDevState]]. */
  def createDashboard(id: String): Unit = {
    require(!dashboards.contains(id), s"dashboard '$id' already exists")
    dashboards += id -> Vector.empty
  }

  private def addWidget(dashboardId: String, w: DashWidget): Unit = {
    val ws = dashboards.getOrElse(dashboardId, throw new IllegalArgumentException(
      s"dashboard '$dashboardId' does not exist — createDashboard first"))
    dashboards += dashboardId -> (ws :+ w)
  }

  def createTextWidget(dashboardId: String, markdown: String): Unit =
    addWidget(dashboardId, TextW(markdown))

  /** Metric widget over any (name, period_start, value) series — a
    * [[graft.diagnostics.Metrics]] statistic, [[graft.diagnostics
    * .MetricMath]] output, or [[platformMetricsDf]]. Re-evaluated on
    * every [[renderDashboard]]. */
  def createMetricWidget(dashboardId: String, title: String,
                         series: () => DataFrame): Unit =
    addWidget(dashboardId, MetricW(title, series))

  /** (period, state) rows of any DECLARED alarm: a metric alarm's N-of-M
    * evaluation, or a composite derived from its members' rows. */
  private def alarmStateRows(id: String): Seq[(java.time.LocalDateTime, String)] =
    metricAlarms.find(_._2.alarmId == id).map { case (_, d) =>
      graft.diagnostics.Alarms.evaluate(d.series(), d.params, d.periodSecs)
        .select("period_start", "state").orderBy("period_start").collect()
        .map(r => (r.getTimestamp(0).toLocalDateTime, r.getString(1))).toSeq
    }.orElse(compositeAlarms.find(_._2.alarmId == id).map { case (_, c) =>
      graft.diagnostics.CompositeAlarmDef.deriveRows(c,
        c.memberIds.map(m => m -> alarmStateRows(m)).toMap)
    }).getOrElse(throw new IllegalArgumentException(s"unknown alarm '$id'"))

  /** Alarm-status widget: current state per DECLARED alarm — metric-backed
    * or composite (reference create_alarm_status_widget validates the
    * signals are alarms; series+params re-evaluate at render time). */
  def createAlarmStatusWidget(dashboardId: String, title: String,
                              alarms: Seq[NodeRef]): Unit = {
    require(alarms.nonEmpty, "provide at least one alarm")
    val known = (metricAlarms.map(_._2.alarmId) ++
      compositeAlarms.map(_._2.alarmId)).toSet
    val ids = alarms.map(_.signal.alias)
    val unknown = ids.filterNot(known)
    require(unknown.isEmpty,
      s"not declared alarms: ${unknown.mkString(", ")} — declare via " +
        "createMetricAlarm or createCompositeAlarm")
    addWidget(dashboardId, AlarmW(title, ids))
  }

  /** Convenience single-alarm wrapper (reference create_alarm_widget). */
  def createAlarmWidget(dashboardId: String, alarm: NodeRef,
                        title: String = null): Unit =
    createAlarmStatusWidget(dashboardId,
      Option(title).getOrElse(alarm.signal.alias), Seq(alarm))

  def listDashboards: List[String] = dashboards.keys.toList.sorted

  /** Materialize a dashboard: every widget rendered into one DataFrame
    * (widget index, kind, title, name, time, value, text) — text rows
    * carry `text`, metric rows carry (name, time, value), alarm rows the
    * latest evaluated state per alarm in `text`. */
  def renderDashboard(id: String): DataFrame = {
    val ws = dashboards.getOrElse(id,
      throw new IllegalArgumentException(s"dashboard '$id' does not exist"))
    val sp = spark
    import sp.implicits._
    val empty = Seq.empty[(Int, String, String, String,
      Option[java.sql.Timestamp], Option[Double], Option[String])]
    val frames: Seq[DataFrame] = ws.zipWithIndex.map {
      case (TextW(md), i) =>
        Seq((i, "text", "", "", None: Option[java.sql.Timestamp],
          None: Option[Double], Some(md): Option[String]))
          .toDF("widget", "kind", "title", "name", "time", "value", "text")
      case (MetricW(title, series), i) =>
        series().select(
          org.apache.spark.sql.functions.lit(i).as("widget"),
          org.apache.spark.sql.functions.lit("metric").as("kind"),
          org.apache.spark.sql.functions.lit(title).as("title"),
          org.apache.spark.sql.functions.col("name"),
          org.apache.spark.sql.functions.col("period_start").as("time"),
          org.apache.spark.sql.functions.col("value").cast("double"),
          org.apache.spark.sql.functions.lit(null).cast("string").as("text"))
      case (AlarmW(title, ids), i) =>
        val states = ids.map { aid =>
          val (t, s) = alarmStateRows(aid).lastOption
            .map { case (p, st) =>
              (Option(java.sql.Timestamp.valueOf(p)), st) }
            .getOrElse((None, "INSUFFICIENT_DATA"))
          (i, "alarm", title, aid, t, None: Option[Double],
            Some(s): Option[String])
        }
        (if (states.isEmpty) empty else states)
          .toDF("widget", "kind", "title", "name", "time", "value", "text")
    }
    frames.reduceOption(_ unionByName _).getOrElse(
      empty.toDF("widget", "kind", "title", "name", "time", "value", "text"))
  }

  /** Declare a derived data node (reference create_data,
    * application.py:1197-1323). Output spec defaults to the first
    * independent input's spec; same-named dims auto-link. */
  def createData(id: String,
                 inputs: Seq[NodeRef],
                 computeTargets: Seq[Slot],
                 outputSpec: DimSpec = null,
                 inputLinks: List[DimensionLink] = Nil,
                 outputLinks: List[DimensionLink] = Nil,
                 autoInputDimLinking: Boolean = true,
                 attrs: DatasetAttrs = DatasetAttrs(),
                 pendingNodeTtlMillis: Long = Long.MaxValue,
                 hooks: RouteHooks = RouteHooks.none,
                 retry: RetryPolicy = RetryPolicy(),
                 outputFilterOverride: DimFilter = null): NodeRef = {
    require(!defs.exists(_.id == id), s"node '$id' already declared")
    // probe ClassSlot resolution NOW: a missing/mistyped compute class
    // must fail the declaration, not the first execution (reference
    // external-module descriptors resolve at bind time too)
    computeTargets.foreach {
      case graft.compute.ClassSlot(cn) => graft.compute.ClassSlot.resolve(cn)
      case _ => ()
    }
    val signals = inputs.map(_.signal).toList
    val linkNode0 = SignalLinkNode(signals, inputLinks)
    val linkNode = if (autoInputDimLinking) linkNode0.withAutoLinks else linkNode0
    val spec = Option(outputSpec).getOrElse(
      signals.find(s => !s.isReference && !s.nearestTheTip)
        .getOrElse(signals.head).spec)
    // fail fast on dangling link declarations (reference
    // output_linking_pitfalls: bad links must error HERE, not surface as
    // cryptic never-applied links at runtime)
    val outputDims = spec.flatten.flatMap(_.name)
    def checkRef(r: DimRef, where: String, allowOutput: Boolean): Unit =
      if (r.alias == "output") {
        require(allowOutput, s"$where of '$id': 'output' refs belong in outputLinks")
        require(outputDims.contains(r.dim),
          s"$where of '$id': output has no dimension '${r.dim}'")
      } else {
        val s = signals.find(_.alias == r.alias).getOrElse(throw new
          IllegalArgumentException(s"$where of '$id': no input named '${r.alias}'"))
        require(s.dimNames.contains(r.dim),
          s"$where of '$id': input '${r.alias}' has no dimension '${r.dim}'")
      }
    def refsOf(l: DimensionLink): Seq[DimRef] = l.target +: (l.source match {
      case LinkSource.FromDim(r) => Seq(r)
      case LinkSource.FromDims(rs, _) => rs
      case _ => Nil
    })
    inputLinks.foreach(l => refsOf(l).foreach(
      checkRef(_, "inputLinks", allowOutput = false)))
    outputLinks.foreach(l => refsOf(l).foreach(
      checkRef(_, "outputLinks", allowOutput = true)))
    val outSource = SignalSource(SignalSourceKind.INTERNAL,
      s"$rootDir/internal_data/$id", attrs,
      IntegrityProtocol.FileCheck("_SUCCESS"))
    val output = Signal(id, outSource, spec,
      Option(outputFilterOverride).getOrElse(
        linkNode.deriveOutputFilter(spec, outputLinks)))
    defs :+= NodeDef(id, linkNode, output, outputLinks, computeTargets,
      pendingNodeTtlMillis, hooks, retry)
    NodeRef(this, output)
  }

  /** Input fan-out (reference `project`, application.py:4544-4640): a
    * single event on `input` is projected onto EVERY branch of
    * `outputFilter` over `outputSpec` — the original input dimensions are
    * declared `"*"` in the filter and take the trigger's value at runtime;
    * the new dimensions keep their declared material values. Each branch
    * becomes a completed pseudo-partition (a `_SUCCESS` marker, no data —
    * the reference's RAW_CONTENT contract) and is fed back into routing,
    * so a downstream node consuming the projected node triggers once per
    * branch (regionalization: one timer tick → N region/marketplace
    * executions). */
  def project(id: String, input: NodeRef, outputSpec: DimSpec,
              outputFilter: DimFilter.RawFilter): NodeRef = {
    val declared = DimFilter.loadRaw(outputSpec, outputFilter)
    require(declared.tuples.nonEmpty, s"projection '$id' has no branches")
    createData(id, Seq(input), Seq(InlinedSlot { ctx =>
      val conf = spark.sparkContext.hadoopConfiguration
      // mark every materialized branch complete (original dims filled from
      // the trigger, projected dims enumerated from the declared filter) —
      // the do_project loop, application.py:4650-4671; runContexts feeds
      // the marked branches back into routing afterwards
      ctx.outputSignal.materializedPaths.foreach { p =>
        val dir = new org.apache.hadoop.fs.Path(p)
        val fs = dir.getFileSystem(conf)
        fs.mkdirs(dir)
        fs.create(new org.apache.hadoop.fs.Path(dir, "_SUCCESS"), true).close()
      }
    }), outputSpec = outputSpec, outputFilterOverride = declared,
      attrs = DatasetAttrs(rawContent = true))
  }

  // ---- activation -------------------------------------------------------

  /** Compile the dev context into the runtime routing table (reference
    * activate(), application.py:201-263 — no AWS provisioning here, a
    * single in-memory table). Routing state checkpoints to
    * `<rootDir>/routing_state.json` on every mutation; call [[recover]]
    * after activate to reload a previous driver's pending state. */
  // ---- per-construct security (reference set_security_conf,
  // application.py:4043) -------------------------------------------------

  private var securityConfs: Map[ConstructKind, SecurityConf] = Map.empty

  /** Declare a construct's security configuration; refused HERE when
    * the local platform cannot honor it (validation also re-runs at
    * activation, matching the reference's driver-side processing — the
    * setter check covers execute()-without-activate and post-activation
    * declarations, so enforcement never runs an unvalidated conf after
    * an output was already written). Storage `persisting` is ENFORCED:
    * every managed partition this app writes afterwards is chmod'ed to
    * the declared POSIX mode. */
  def setSecurityConf(construct: ConstructKind, conf: SecurityConf): Unit = {
    SecurityConf.validate(construct, conf)
    securityConfs += construct -> conf
  }

  def getSecurityConf(construct: ConstructKind): Option[SecurityConf] =
    securityConfs.get(construct)

  private def validateSecurityConfs(): Unit =
    securityConfs.foreach { case (k, c) => SecurityConf.validate(k, c) }

  /** Storage-persisting enforcement: restrict a freshly written managed
    * partition to the declared mode (dirs as declared; files minus
    * execute bits). */
  private def applyStorageSecurity(written: String): Unit =
    securityConfs.get(ConstructKind.Storage).flatMap(_.persisting)
      .foreach { p =>
        val root = new org.apache.hadoop.fs.Path(written)
        val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
        if (fs.exists(root)) {
          val dirMode = new org.apache.hadoop.fs.permission.FsPermission(
            Integer.parseInt(p.posixMode, 8).toShort)
          val fileMode = new org.apache.hadoop.fs.permission.FsPermission(
            (Integer.parseInt(p.posixMode, 8) & Integer.parseInt("666", 8))
              .toShort)
          def walk(d: org.apache.hadoop.fs.Path): Unit = {
            fs.setPermission(d, dirMode)
            fs.listStatus(d).foreach { st =>
              if (st.isDirectory) walk(st.getPath)
              else fs.setPermission(st.getPath, fileMode)
            }
          }
          walk(root)
        }
      }

  def activate(): Unit = {
    require(appState != AppState.DELETED, "application is deleted")
    validateSecurityConfs()
    val cp = new RoutingCheckpoint(s"$rootDir/routing_state.json",
      spark.sparkContext.hadoopConfiguration)
    val table = new RoutingTable(probe, Some(cp))
    defs.foreach(d => table.add(
      new Route(d.id, d.linkNode, d.output, d.outputLinks, d.ttlMillis, d.hooks)))
    routingTable = Some(table)
    sharded.foreach(_.releaseAll()) // switching back to single-driver mode
    sharded = None
    shardedTargets = None
    appState = AppState.ACTIVE
  }

  // ---- multi-driver (sharded) activation --------------------------------

  // volatile: written by control threads (retargetShards, re-activation)
  // and read by the driver loop / heartbeat poller — same reasoning as
  // defs/routingTable
  @volatile private var sharded: Option[graft.routing.ShardedDriver] = None
  @volatile private var shardedTargets: Option[Set[Int]] = None
  // last activateSharded parameters, so refresh() can REBUILD the sharded
  // runtime instead of silently demoting this driver to an unleased
  // single-driver table over every route
  @volatile private var shardedParams:
    Option[(String, Int, Long, () => Long,
      Option[Int => graft.routing.LeaseStore],
      Option[graft.routing.ConditionalKv], Int)] = None

  /** Compile the dev context into a SHARDED runtime: this instance
    * becomes ONE driver of the app's multi-driver deployment over
    * `<rootDir>/sharding/` (reference analog: the Lambda processor +
    * DynamoDB routing + Glue compute composition,
    * constructs.py:3293-3433 + processor/aws.py:2746-2803 — many
    * drivers, one routing store). Route runtime state is split across
    * `numShards` lease-owned shards ([[graft.routing.ShardedDriver]]);
    * every driver declares the SAME dev context (route definitions are
    * factories), and each executes only the routes whose shard lease it
    * holds. Cross-shard feed-back travels through the at-least-once
    * inbox, carried by completed output paths with real `_SUCCESS`
    * markers — exactly the single-driver completion protocol, so a DAG
    * split across drivers computes the same answer.
    *
    * `shards` pins this driver to a subset (deployment policy); None
    * lets it grab every free shard that has routes. Call
    * [[shardedCycle]] on the driver's poll cadence for lease renewal,
    * failover takeover, and inbox folding. Returns completions from any
    * WAL-recovered mid-flight executions that re-ran during takeover. */
  def activateSharded(driverId: String, numShards: Int,
                      shards: Option[Set[Int]] = None,
                      leaseTimeoutMillis: Long = 10000L,
                      clock: () => Long = () => System.currentTimeMillis(),
                      leaseStoreFor: Option[Int => graft.routing.LeaseStore] = None,
                      /** false = re-init the driver WITHOUT the initial
                        * cycle (no takeover, no recovered/inbox
                        * executions) — the [[refresh]]-while-PAUSED
                        * path, where running work would violate the
                        * pause contract. */
                      runCycle: Boolean = true,
                      /** All shared state (leases AND WAL AND inbox)
                        * through one [[graft.routing.ConditionalKv]] —
                        * the object-store deployment ([[graft.routing.
                        * ShardedDriver]]'s kvStore, surfaced at app
                        * level). `kvGroupCommit` batches WAL records
                        * per conditional PUT (KvEpochWal group commit —
                        * the object-store-latency throughput knob). */
                      kvStore: Option[graft.routing.ConditionalKv] = None,
                      kvGroupCommit: Int = 1)
      : List[String] = {
    require(appState != AppState.DELETED, "application is deleted")
    validateSecurityConfs()
    // re-activation: surrender the previous incarnation's leases (so
    // successors claim released shards immediately, not after timeout)
    // and close its open WAL streams before replacing it
    sharded.foreach(_.releaseAll())
    val d = new graft.routing.ShardedDriver(s"$rootDir/sharding", driverId,
      numShards, probe, spark.sparkContext.hadoopConfiguration,
      leaseTimeoutMillis, clock, leaseStoreFor, kvStore, kvGroupCommit,
      staleOutput = staleOutputOf)
    defs.foreach(df => d.add(() =>
      new Route(df.id, df.linkNode, df.output, df.outputLinks,
        df.ttlMillis, df.hooks)))
    sharded = Some(d)
    shardedTargets = shards
    shardedParams = Some((driverId, numShards, leaseTimeoutMillis, clock,
      leaseStoreFor, kvStore, kvGroupCommit))
    routingTable = None
    appState = AppState.ACTIVE
    if (runCycle) shardedCycle() else Nil
  }

  /** One sharded-driver poll cycle: heartbeat held leases, drop shards a
    * successor fenced away, try to take over free/expired target shards
    * (failover — the shard WAL replay rebuilds pending nodes and
    * re-surfaces mid-flight executions, which re-run here), then fold
    * cross-shard inbox feed-back. Returns completed output paths. */
  def shardedCycle(): List[String] = {
    val d = sharded.getOrElse(
      throw new IllegalStateException("activateSharded() first"))
    // a PAUSED driver keeps heartbeating (it still holds its shards) but
    // does not take new ones or fold feed-back until resumed
    d.renewLeases()
    d.fencedShards().foreach(d.dropShard)
    if (appState == AppState.PAUSED) return Nil
    val targets = shardedTargets.getOrElse(
      (0 until d.numShards).filter(s =>
        defs.exists(df => d.shardOf(df.id) == s)).toSet)
    val recovered = targets.toList.sorted
      .filterNot(d.ownedShards.contains)
      .flatMap(s => d.tryAcquireShard(s).getOrElse(Nil))
    runContextsIsolated(recovered) ++ runContextsIsolated(d.pollInboxes())
  }

  /** Run each context in failure isolation: one route's execution error
    * must not abort the driver's poll loop (a fenced-out peer re-running
    * an upstream can yank this driver's input files mid-scan — observed
    * in the two-process soak). The failure hook has already fired inside
    * [[runContext]]; the at-least-once inbox/WAL re-offers the event, so
    * the failed hop re-triggers when its input settles. Manual
    * [[execute]] keeps throw-on-failure semantics. */
  private def runContextsIsolated(ctxs: List[ExecutionContext]): List[String] =
    ctxs.flatMap { ctx =>
      try {
        // EVENT-REDELIVERY idempotency guard (r17, found by the 8-driver
        // HTTP soak): every context on this surface came from an
        // at-least-once channel (WAL takeover replay or inbox refold), so
        // a DUPLICATE here re-RUNS a hop whose output already committed —
        // and the duplicate's overwrite CLEARS the partition while a
        // downstream consumer's scan may be mid-read (observed: the final
        // hop read its input empty and committed an empty output under a
        // valid _SUCCESS). Skip the rewrite when the output is complete
        // AND strictly newer than every input partition — a RE-PUBLISHED
        // input (backfill/correction) carries a newer stamp, so real
        // recomputes still run; anything unstampable (timers, synthetic
        // object-store dirs) runs normally. The completion FEEDBACK still
        // fires on a skip: the redelivery may exist precisely because the
        // original completion's feedback was lost mid-crash, and
        // re-feeding a completed path is a finite, Spark-job-free walk of
        // the downstream DAG (each hop skips the same way).
        duplicateOutputOf(ctx) match {
          case Some(completed) =>
            MaintenanceMetrics.add("routing.execution.duplicateSkipped")
            completed.flatMap { path =>
              sharded match {
                case Some(d) => path :: (runContextsIsolated(d.complete(path)) ++
                  propagateToDownstreams(path))
                case None => List(path)
              }
            }
          case None => runContexts(List(ctx))
        }
      } catch {
        case scala.util.control.NonFatal(e) =>
          System.err.println(s"[${name}] sharded execution of route " +
            s"'${ctx.routeId}' failed (driver continues): ${e.getMessage}")
          Nil
      }
    }

  /** `Some(outputPaths)` when `ctx` is provably a DUPLICATE redelivery:
    * every output partition complete, every input and output completion
    * stampable on the filesystem, and the oldest output strictly newer
    * than the newest input. `None` = run it. */
  private def duplicateOutputOf(ctx: ExecutionContext): Option[List[String]] =
    if (outputFreshness(ctx).contains(true))
      Some(ctx.output.materializedPaths.toList)
    else None

  /** Provably-STALE output: complete, but some input carries a NEWER
    * completion stamp (a re-published/appended input) — the one case a
    * recovery replay must RE-OFFER even though the output exists (the
    * blanket outputs-complete drop silently lost the recompute). */
  private[app] def staleOutputOf(ctx: ExecutionContext): Boolean =
    outputFreshness(ctx).contains(false)

  /** Three-way freshness: Some(true) = output complete and strictly
    * newer than every input (provable duplicate); Some(false) = output
    * complete but an input is at least as new (provably needs the
    * recompute); None = unstampable/incomplete — undecidable, callers
    * keep their surface's default. */
  private def outputFreshness(ctx: ExecutionContext): Option[Boolean] = {
    def markerStamp(fs: org.apache.hadoop.fs.FileSystem,
                    p: org.apache.hadoop.fs.Path,
                    protocol: graft.signal.IntegrityProtocol): Option[Long] =
      protocol match {
        case graft.signal.IntegrityProtocol.FileCheck(names) =>
          names.iterator
            .map(n => new org.apache.hadoop.fs.Path(p, n))
            .find(fs.exists)
            .map(m => fs.getFileStatus(m).getModificationTime)
        case graft.signal.IntegrityProtocol.None_ => None
      }
    def dirStamp(fs: org.apache.hadoop.fs.FileSystem,
                 p: org.apache.hadoop.fs.Path): Option[Long] = {
      // dir mtime bumps on file add/remove (local/HDFS); synthetic
      // object-store dirs throw or report 0 -> unstampable
      val st = fs.getFileStatus(p)
      if (st.getModificationTime > 0L) Some(st.getModificationTime) else None
    }
    // INPUT-side dir stamp, one level deep: a hive-style partitioned
    // input (key=value subdirs under the signal partition) appends INTO
    // a subdir without touching the partition root's mtime — take the
    // newest of root and direct children so such appends still read as
    // new data. Deeper nesting remains root+1 visible only through the
    // level-1 dir it lands under (mtime bumps on create, not content);
    // OUTPUT stamps never use this (they must underestimate).
    def dirStampDeep(fs: org.apache.hadoop.fs.FileSystem,
                     p: org.apache.hadoop.fs.Path): Option[Long] = {
      val own = dirStamp(fs, p)
      val kids =
        try fs.listStatus(p).iterator
          .filter(_.isDirectory).map(_.getModificationTime)
          .foldLeft(0L)(math.max)
        catch { case scala.util.control.NonFatal(_) => 0L }
      (own.toList ++ (if (kids > 0) List(kids) else Nil)).maxOption
    }
    def fsOf(p: org.apache.hadoop.fs.Path) =
      p.getFileSystem(spark.sparkContext.hadoopConfiguration)

    // SIDE-APPROPRIATE stamps: the skip fires only when
    // min(outputs) > max(inputs), so outputs must UNDERESTIMATE (the
    // completion marker alone — written last) and inputs must
    // OVERESTIMATE (the NEWER of marker and dir mtime): an APPEND input
    // adds part files without touching its existing `_SUCCESS`, and
    // only the dir mtime sees that new data — stamping the marker alone
    // would skip a recompute the appended batch genuinely needs.
    val outPaths = ctx.output.materializedPaths.toList
    if (outPaths.isEmpty) return None
    val outStamps = outPaths.map { s =>
      try {
        val p = new org.apache.hadoop.fs.Path(s)
        markerStamp(fsOf(p), p, ctx.output.source.protocol)
          .orElse(dirStamp(fsOf(p), p))
      } catch { case scala.util.control.NonFatal(_) => None }
    }
    if (outStamps.exists(_.isEmpty)) return None // incomplete or unstampable
    // rawContent (trigger/artifact) inputs are stamped too: they carry
    // completion markers even though compute never loads them as
    // DataFrames, and a RE-PUBLISHED trigger partition is exactly how a
    // forced recompute is expressed — excluding them would classify the
    // forced re-run as a provable duplicate and silently skip it
    // (r17 ADVICE, medium). Unstampable rawContent -> None -> runs.
    val inPaths = ctx.inputs
      .flatMap(in => in.materializedPaths.map(p => (p, in.source.protocol)))
    if (inPaths.isEmpty) return None // timer-only triggers: cannot assess
    val inStamps = inPaths.map { case (s, proto) =>
      try {
        val p = new org.apache.hadoop.fs.Path(s)
        val fs = fsOf(p)
        (markerStamp(fs, p, proto).toList ++ dirStampDeep(fs, p).toList)
          .maxOption
      } catch { case scala.util.control.NonFatal(_) => None }
    }
    if (inStamps.exists(_.isEmpty)) return None
    // BOTH verdicts are strict, with a skew margin on the skip side:
    //  - duplicate (skip) only when min(out) > max(in) + margin —
    //    coarse-mtime stores can tie an input and its derived output
    //    into the same tick, and a skip there would lose a recompute;
    //  - stale (re-offer) only when max(in) is STRICTLY newer — a tie
    //    is plausible for a genuinely-fresh output on a 1 s-granularity
    //    store, and re-offering it re-runs a REPLACE rewrite that can
    //    race concurrent readers (the very race the guard closes).
    // The band between them is None: undecidable, callers keep their
    // surface's conservative default (redelivery runs, recovery drops).
    val outMin = outStamps.flatten.min
    val inMax = inStamps.flatten.max
    if (outMin > inMax + duplicateSkipSkewMs) Some(true)
    else if (inMax > outMin) Some(false)
    else None
  }

  /** Re-pin this sharded driver's target shard set at runtime — a
    * deployment-policy change, e.g. widening a driver that was pinned to
    * its home shards into full-ring failover duty once the fleet is up.
    * Shards already owned are kept (they drop only when fenced); the new
    * targets take effect on the next [[shardedCycle]]. `None` targets
    * every shard that has routes. */
  def retargetShards(shards: Option[Set[Int]]): Unit = {
    require(sharded.isDefined, "activateSharded() first")
    shardedTargets = shards
  }

  /** Heartbeat every held shard lease WITHOUT executing anything — safe
    * from a background poller ([[DaemonPoller]]), so a long Spark job
    * inside [[shardedCycle]] cannot starve renewals past the lease
    * timeout and let a live peer steal the shard mid-execution. (The
    * reference's processor heartbeats on its own cadence while Glue jobs
    * run remotely, processor/aws.py; local compute executes in-process,
    * so the renewal cadence must be decoupled explicitly.) */
  def heartbeatShardLeases(): Unit = sharded.foreach(_.renewLeases())

  /** Shards this driver currently owns (empty when not sharded). */
  def ownedShards: Set[Int] = sharded.map(_.ownedShards).getOrElse(Set.empty)

  /** The shard a route id lives on under this app's sharded deployment. */
  def shardOf(routeId: String, numShards: Int): Int =
    graft.routing.Sharding.shardOf(routeId, numShards)

  /** Stop reacting to events; manual execute stays available (reference
    * pause(), application.py:383-391). */
  def pause(): Unit = {
    require(appState == AppState.ACTIVE, s"cannot pause from $appState")
    appState = AppState.PAUSED
  }

  /** Resume event processing (reference resume(), application.py:392-401). */
  def resume(): Unit = {
    require(appState == AppState.PAUSED, s"cannot resume from $appState")
    appState = AppState.ACTIVE
  }

  /** Tear down the runtime routing state, keeping the dev context declared
    * so a later activate() rebuilds it (reference terminate(),
    * application.py:295-356 — infra removal there, table drop here). */
  def terminate(): Unit = {
    routingTable.foreach(_.disposeWal()) // stream + its private FileSystem
    routingTable = None
    sharded.foreach(_.releaseAll()) // successors claim immediately
    sharded = None
    shardedTargets = None
    appState = AppState.INACTIVE
  }

  /** Delete the remaining MANAGED DATA of an INACTIVE (terminated or
    * never-activated) app (reference delete(), application.py:357-382):
    * removes everything under `rootDir` — internal datasets
    * (`internal_data/`), the routing WAL, persisted dev state, export
    * manifests. Deliberately separate from [[terminate]]: termination
    * deallocates runtime state but leaves data that may outlive the app
    * or be re-attached by a reincarnation with the same id/root — this is
    * the safeguard against dropping petabytes as a side effect of
    * tearing down orchestration. After delete this object refuses
    * further use; construct a new Application on the same root to start
    * fresh. */
  def delete(): Unit = {
    require(appState == AppState.INACTIVE,
      s"only an INACTIVE (terminated) application can be deleted, state=$appState")
    val root = new org.apache.hadoop.fs.Path(rootDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(root)) fs.delete(root, true)
    defs = Nil
    appState = AppState.DELETED
  }

  /** Re-sync this session's dev context from the state persisted under
    * `rootDir` (reference refresh(), application.py:402-428 — the
    * collaborative-editing path: another driver's [[saveDevState]]
    * becomes visible here without re-declaring). Default refresh updates
    * the declared context only; `fullStack = true` additionally
    * recompiles the routing table from the refreshed defs when the app
    * is ACTIVE/PAUSED (the reference's full_stack driver re-init —
    * without it, execute/process would keep running the OLD slots), with
    * pending runtime state rebuildable via [[recover]]. Returns false
    * when no persisted state exists (nothing changes). */
  def refresh(fullStack: Boolean = false): Boolean = {
    require(appState != AppState.DELETED, "application is deleted")
    val prior = appState
    val loaded = loadDevState()
    if (loaded && fullStack &&
        (prior == AppState.ACTIVE || prior == AppState.PAUSED)) {
      // a SHARDED driver must refresh back into its sharded incarnation
      // — plain activate() would release its leases and run EVERY route
      // lease-free alongside peers that still own their shards
      (sharded, shardedParams) match {
        case (Some(d), Some((drv, n, lt, clk, mk, kv, gc))) =>
          val targets = shardedTargets
          // a PAUSED app must not execute during its refresh: skip the
          // initial cycle (takeover + recovered/inbox executions run
          // work) — the next shardedCycle after resume() picks it up
          activateSharded(drv, n, targets, lt, clk, mk,
            runCycle = prior != AppState.PAUSED,
            kvStore = kv, kvGroupCommit = gc); ()
        case _ => activate()
      }
      if (prior == AppState.PAUSED) appState = AppState.PAUSED
    }
    loaded
  }

  // ---- dev-context introspection (reference list/get/query/search_data,
  // application.py:1745-1843) ------------------------------------------

  /** Declared node ids, declaration order. */
  def listData: List[String] = defs.map(_.id)

  /** Re-resolve a declared node as a fresh all-pass view. */
  def getData(id: String): Option[NodeRef] =
    defs.find(_.id == id).map(d => NodeRef(this,
      d.output.copy(filter = DimFilter.allPassFor(d.output.spec))))

  /** Nodes whose id OR source path contains `term` (case-insensitive) —
    * reference search_data (application.py:1831-1843) matches the access
    * spec repr too, so a physical location fragment finds its node. */
  def searchData(term: String): List[NodeRef] = {
    val t = term.toLowerCase
    defs.filter(d => d.id.toLowerCase.contains(t) ||
        d.output.source.rootPath.toLowerCase.contains(t))
      .flatMap(d => getData(d.id))
  }

  /** Topology query by id pattern (reference query_data,
    * application.py:1818-1829 + DataNode.QueryVisitor's
    * exact/substring modes), keyed by node id. */
  def queryData(pattern: String, exact: Boolean = false): Map[String, NodeRef] =
    defs.filter(d => if (exact) d.id == pattern else d.id.contains(pattern))
      .flatMap(d => getData(d.id).map(d.id -> _)).toMap

  /** Topology query by DIMENSION-FILTER COMPATIBILITY: every declared
    * node whose output spec accepts the given values — "which nodes can
    * materialize region=NA on 2026-08-12?" on an app with hundreds of
    * nodes. Values load through each node's own spec (type coercion,
    * datetime formats, declared-filter intersection via the same
    * chain/apply path events use), so a DATETIME node matches
    * "2026-08-12" where a LONG-keyed node does not; a prefix of a
    * node's dimensions is accepted (partial materialization). */
  def queryDataByDimensions(values: Any*): Map[String, NodeRef] =
    defs.flatMap { d =>
      scala.util.Try(getData(d.id).get.apply(values: _*)).toOption
        .map(d.id -> _)
    }.toMap

  /** Pending (partially satisfied) runtime nodes per route id — the
    * reference's get_pending_nodes/has_active_routes introspection. */
  def pendingNodeCounts: Map[String, Int] =
    runtimeTables.flatMap(_.all).map(r => r.id -> r.pendingNodes.length)
      .filter(_._2 > 0).toMap

  /** The pending nodes themselves, keyed by route (reference
    * get_pending_nodes, application.py:4107-4115); `routeId = null`
    * returns every route's. Each node exposes `id` (for
    * [[deletePendingNode]]), its partially materialized `output`, the
    * signals already `ready`, and `createdAtMillis`. */
  def getPendingNodes(routeId: String = null)
      : Map[String, List[graft.routing.RuntimeLinkNode]] =
    runtimeTables.flatMap(_.all).filter(r => routeId == null || r.id == routeId)
      .map(r => r.id -> r.pendingNodes).filter(_._2.nonEmpty).toMap

  /** Manually remove one pending node (reference delete_pending_node,
    * application.py:4117-4120): the unblock for a coincidence join whose
    * missing input will never arrive. Returns false when no such node. */
  def deletePendingNode(routeId: String, pendingNodeId: String): Boolean =
    findRoute(routeId).exists(_.removePending(pendingNodeId))

  /** Route ids with an execution in flight right now (reference
    * get_active_routes — records with active compute; job-group names
    * AND reservation tokens carry the route id). */
  def getActiveRoutes: List[String] =
    scala.jdk.CollectionConverters.CollectionHasAsScala(activeGroups.values())
      .asScala.flatten
      .map(routeOfGroup)
      .toList.distinct

  // "graft-<routeId>-<uuid>" job groups / "resv-<routeId>-<uuid>" tokens.
  // Strip exactly ONE marker prefix — chaining stripPrefix would also eat
  // a route id that itself begins with "resv-".
  private def routeOfGroup(g: String): String = {
    val base =
      if (g.startsWith("graft-")) g.drop(6)
      else if (g.startsWith("resv-")) g.drop(5)
      else g
    base.dropRight(37) // "-" + UUID(36)
  }

  def hasActiveRoutes: Boolean = !activeGroups.isEmpty

  /** One in-flight execution: its route and the output partition it is
    * producing (the ACTIVE face of the compute-record split). */
  final case class ActiveExecution(routeId: String, outputPath: String)

  /** Executions in flight right now, optionally filtered to one route
    * (reference get_active_compute_records, application.py:4099-4110 —
    * the RoutingTable active-record scan becomes a read of the live
    * reservation map). */
  def getActiveComputeRecords(routeId: Option[String] = None): List[ActiveExecution] =
    scala.jdk.CollectionConverters.SetHasAsScala(activeGroups.entrySet())
      .asScala.toList
      .flatMap(e => e.getValue.map(g => ActiveExecution(routeOfGroup(g), e.getKey)))
      .distinct
      .filter(a => routeId.forall(_ == a.routeId))

  /** FINISHED execution history, oldest first (`ascending=false` for
    * newest first), with the reference's full filter surface
    * (get_inactive_compute_records, application.py:4083-4098):
    * `triggerRange`/`deactivatedRange` are inclusive [from, to] millis
    * windows on the trigger (start) and deactivation (finish) times;
    * `slotType` keeps records whose execution ran a slot of that kind
    * (simple class name — "SqlSlot", "ScalaSlot", "InlinedSlot");
    * `succeeded` is the session-state filter (the reference's
    * COMPLETED/FAILED ComputeSessionStateType); `limit` truncates AFTER
    * ordering, so `ascending=false, limit=N` is "the N most recent". */
  def getInactiveComputeRecords(routeId: Option[String] = None,
                                ascending: Boolean = true,
                                triggerRange: Option[(Long, Long)] = None,
                                deactivatedRange: Option[(Long, Long)] = None,
                                slotType: Option[String] = None,
                                succeeded: Option[Boolean] = None,
                                limit: Option[Int] = None): List[ComputeRecord] = {
    val base = computeRecords.filter { r =>
      routeId.forall(_ == r.routeId) &&
      triggerRange.forall { case (from, to) =>
        r.startedAtMillis >= from && r.startedAtMillis <= to } &&
      deactivatedRange.forall { case (from, to) =>
        r.finishedAtMillis >= from && r.finishedAtMillis <= to } &&
      slotType.forall(r.slotKinds.contains) &&
      succeeded.forall(_ == r.succeeded)
    }
    val ordered = if (ascending) base else base.reverse
    limit.fold(ordered)(ordered.take)
  }

  /** Does this view (or any partition of the node) have an execution in
    * flight (reference has_active_record, application.py:2309-2322)? */
  def hasActiveRecord(target: NodeRef): Boolean = {
    val active = activeComputePaths
    if (target.signal.isMaterialized)
      target.signal.materializedPaths.exists(active.contains)
    else // boundary-aware: node id "ab" must not match "abc"'s paths
      active.exists(p => p == target.signal.source.rootPath ||
        p.startsWith(target.signal.source.rootPath + "/"))
  }

  /** Dump up to `limit` records of a materialized node to the console and
    * return them (reference preview_data, application.py:4121-4160 —
    * pandas there, the Spark DataFrame directly here). */
  def previewData(target: NodeRef, limit: Int = 20): DataFrame = {
    val df = load(target).limit(limit)
    df.show(limit, truncate = false)
    df
  }

  /** Replace a declared node's definition before re-activation (reference
    * update_data, application.py:1544-1667): same construction surface as
    * createData, applied to an existing id. */
  def updateData(id: String,
                 inputs: Seq[NodeRef],
                 computeTargets: Seq[Slot],
                 outputSpec: DimSpec = null,
                 inputLinks: List[DimensionLink] = Nil,
                 outputLinks: List[DimensionLink] = Nil,
                 autoInputDimLinking: Boolean = true,
                 attrs: DatasetAttrs = DatasetAttrs(),
                 pendingNodeTtlMillis: Long = Long.MaxValue,
                 hooks: RouteHooks = RouteHooks.none,
                 retry: RetryPolicy = RetryPolicy()): NodeRef = {
    require(defs.exists(_.id == id), s"unknown node '$id' — use createData")
    val before = defs
    defs = defs.filterNot(_.id == id)
    try createData(id, inputs, computeTargets, outputSpec, inputLinks,
      outputLinks, autoInputDimLinking, attrs, pendingNodeTtlMillis,
      hooks, retry)
    catch { case e: Throwable =>
      defs = before // a failed update must not delete the existing node
      throw e
    }
  }

  /** Patch attributes of an existing node surgically; everything not
    * passed stays intact (reference patch_data, application.py:1668-1750 —
    * the compute-localization convenience over update_data, e.g. swapping
    * a node's slots for a no-op during testing without re-declaring
    * inputs/links/spec). Slot and retry patches take effect immediately
    * (compute is resolved per execution); TTL and hook patches apply on
    * the next [[activate]] (they live on the compiled routes). */
  def patchData(id: String,
                computeTargets: Seq[Slot] = null,
                pendingNodeTtlMillis: java.lang.Long = null,
                hooks: RouteHooks = null,
                retry: RetryPolicy = null): NodeRef = {
    val d = defs.find(_.id == id).getOrElse(
      throw new IllegalArgumentException(s"cannot patch non-existent node '$id'"))
    val patched = d.copy(
      slots = Option(computeTargets).getOrElse(d.slots),
      ttlMillis = Option(pendingNodeTtlMillis).map(_.longValue).getOrElse(d.ttlMillis),
      hooks = Option(hooks).getOrElse(d.hooks),
      retry = Option(retry).getOrElse(d.retry))
    defs = defs.map(x => if (x.id == id) patched else x)
    NodeRef(this, patched.output)
  }

  /** Reload routing state persisted by a previous driver (reference
    * RouteRecord reload, constructs.py:3293-3433): restores the routing
    * table's snapshot, replays the log after it (see
    * [[graft.routing.RoutingTable.recover]]) and RE-RUNS executions that were mid-flight
    * (ready but never completed) when the driver died. Returns their
    * completed output paths. */
  def recover(): List[String] = sharded match {
    // sharded recovery happens per shard at lease takeover (the WAL
    // replay inside tryAcquireShard) — a cycle drives it
    case Some(_) => shardedCycle()
    case None => runContexts(table.recover(staleOutputOf))
  }

  // ---- dev-context persistence ------------------------------------------

  /** Persist the declared DAG (nodes + timers) to `<rootDir>/dev_state.bin`
    * so a NEW process can [[Application.attach]] without re-declaring
    * (reference save_dev_state, application.py:164-180). Hooks and
    * metric-alarm series closures are runtime-only and excluded — see
    * [[DevState]]. Returns the written path. */
  def saveDevState(): String =
    DevState.save(DevState(name,
      defs.map(d => PersistedNode(d.id, d.linkNode, d.output, d.outputLinks,
        d.slots, d.ttlMillis, d.retry)),
      timerDefs), rootDir, spark.sparkContext.hadoopConfiguration)

  /** Load a persisted dev context into this (fresh) application; returns
    * false when none exists. Replaces any currently declared defs. */
  def loadDevState(): Boolean =
    DevState.load(rootDir, spark.sparkContext.hadoopConfiguration) match {
      case None => false
      case Some(st) =>
        defs = st.nodes.map(n => NodeDef(n.id, n.linkNode, n.output,
          n.outputLinks, n.slots, n.ttlMillis, RouteHooks.none, n.retry))
        timerDefs = st.timers
        timerSchedules = st.timers.collect {
          case PersistedTimer(sig, Some(sched)) => (NodeRef(this, sig), sched)
        }
        true
    }

  private def table: RoutingTable =
    routingTable.getOrElse(throw new IllegalStateException("activate() first"))

  /** Every runtime table this driver holds: the single-driver table, or
    * the LIVE-owned shards' tables in sharded mode — a shard whose lease
    * the heartbeat discovered fenced is excluded, or process()/sweep()/
    * fireTimer would fold events into a zombie table whose old-epoch WAL
    * the successor's snapshot fence discards (dual execution on two
    * drivers until the next shardedCycle dropped it). */
  private def runtimeTables: List[RoutingTable] = sharded match {
    case Some(d) => d.liveTables
    case None => List(table)
  }

  /** Runtime route lookup across the owned tables. */
  private def findRoute(id: String): Option[graft.routing.Route] =
    runtimeTables.flatMap(_.find(id)).headOption

  // ---- runtime ----------------------------------------------------------

  /** Inject one concrete event signal; runs every ready node synchronously
    * and feeds completed output partitions back for downstream routes
    * (reference process(), application.py:1877-1981 + feed-back loop,
    * processor/aws.py:2746-2803). Returns completed output paths in
    * topological completion order. */
  def process(event: Signal): List[String] =
    processInternal(event, throwIfPaused = false)

  /** `throwIfPaused` makes the paused-drop decision itself throw —
    * [[raiseAlarm]] needs the check INSIDE the drop branch (a
    * check-then-call from the caller races pause(): the silent Nil
    * would read as delivered and the monitor would consume the alarm
    * edge forever). */
  private def processInternal(event: Signal,
                              throwIfPaused: Boolean): List[String] = {
    require(appState != AppState.DELETED, "application is deleted")
    if (appState == AppState.PAUSED) {
      if (throwIfPaused) throw new IllegalStateException(
        "application is paused — alarm edge held for retry after resume()")
      Nil
    }
    // sharded mode: a SIGNAL event folds into the shards this driver
    // owns, AND (when materialized — the process/fireTimer/raiseAlarm
    // shape) forwards as its physical path(s) to every unowned
    // accepting shard's inbox, so any driver can ingest any event —
    // same at-least-once transport as processPath. Un-materialized
    // signals have no path form and stay local to the owned shards.
    else if (sharded.isDefined) {
      val d = sharded.get
      if (event.isMaterialized) event.materializedPaths.foreach(d.forwardPath)
      runContexts(runtimeTables.flatMap(_.receive(event)))
    }
    else runContexts(table.receive(event))
  }

  /** Inject a raw physical partition path as an event. In sharded mode
    * the path folds into owned shards AND forwards to the inbox of every
    * other shard with an accepting route — any driver can ingest any
    * event. */
  def processPath(path: String): List[String] =
    tryProcessPath(path).getOrElse(Nil)

  /** [[processPath]] that DISTINGUISHES "dropped because paused" (None)
    * from "delivered, these completions" (Some) — a durable event
    * source (e.g. [[graft.streaming.MarkerStream]]) must keep an event
    * pending when the app is paused rather than consume it against a
    * silent drop. */
  def tryProcessPath(path: String): Option[List[String]] =
    if (appState == AppState.PAUSED) None
    else Some(sharded match {
      case Some(d) => runContexts(d.receivePath(path))
      case None => runContexts(table.receivePath(path))
    })

  /** Re-check every pending node's completion probes without a new event
    * and run whatever became ready (the reference processor's periodic
    * `next_cycle` over pending routes): partitions that appeared on
    * storage WITHOUT an event — written by external systems the marker
    * stream doesn't watch — complete their waiting joins here. Call
    * periodically from a driver loop alongside the timer scheduler and
    * marker stream. */
  def sweep(): List[String] =
    if (appState == AppState.PAUSED) Nil
    else runIsolated(runtimeTables.flatMap(_.sweepPending()))

  /** [[sweep]] narrowed to ONE route (reference
    * update_active_route_status, application.py:2016-2018; [[sweep]] is
    * the update_active_routes_status form): re-check only this route's
    * pending completion probes and run whatever became ready. */
  def sweepRoute(routeId: String): List[String] =
    if (appState == AppState.PAUSED) Nil
    else runIsolated(runtimeTables.flatMap(_.sweepPendingRoute(routeId)))

  /** Per-context isolation for sweeps: no caller could retry a thrown
    * execution (unlike process/execute), and the ready node already left
    * the pending list — one failure must not also abort the other ready
    * nodes. The failed partition is redeemable via recover() (its events
    * are WAL-logged) or manual backfill. */
  private def runIsolated(ctxs: List[ExecutionContext]): List[String] =
    ctxs.flatMap { ctx =>
      try runContexts(List(ctx))
      catch {
        // NonFatal only (the runContextsIsolated contract): an OOM or a
        // delivered interrupt must terminate the tick, not be printed
        // and ignored while the loop runs the next context on a
        // corrupted heap
        case scala.util.control.NonFatal(e) =>
          System.err.println(s"[graft-sweeper] ${ctx.routeId} -> " +
            s"${ctx.output.materializedPaths.headOption.getOrElse("?")} " +
            s"failed: ${e.getMessage} (redeem via recover()/backfill)")
          Nil
      }
    }

  /** Background wall-clock sweeper (daemon; see [[DaemonPoller]] for the
    * failure/termination contract) — the long-lived driver's
    * orchestration cycle. */
  def startSweeper(pollMillis: Long = 1000): Unit = sweeper.start(pollMillis)

  def stopSweeper(): Unit = sweeper.stop()

  private val sweeper = new DaemonPoller("graft-sweeper", () => { sweep(); () })

  /** Fire a timer tick. */
  def fireTimer(timer: NodeRef, value: Any): List[String] =
    process(timer.signal.copy(filter = DimFilter.branchOf(timer.signal.spec, Seq(value))))

  private def runContexts(ctxs: List[ExecutionContext]): List[String] = {
    ctxs.flatMap { ctx =>
      // ONE def resolution per execution (hooks/retry/slots all read it)
      val nodeDef = defs.find(_.id == ctx.routeId)
      val hooks = nodeDef.map(_.hooks).getOrElse(RouteHooks.none)
      val routeOpt = findRoute(ctx.routeId)
      if (routeOpt.isEmpty) {
        // the route's shard was fenced/dropped between context creation
        // (pollInboxes/sweep) and execution — the successor replays and
        // re-runs it; crashing on .get here replaced a clean skip with
        // an opaque NoSuchElementException
        System.err.println(s"[graft] route ${ctx.routeId} no longer " +
          "owned (shard fenced mid-cycle) — skipping context; the " +
          "successor re-runs it")
        Nil
      } else {
      val route = routeOpt.get
      // an execution already in flight for the same materialized output
      // (concurrent executeAsync / overlapping event) — skip, don't stack
      // (reference on_exec_skipped, constructs.py:3475-3486). The check
      // and the claim are ONE atomic putIfAbsent, and the reservation
      // value is a per-invocation UNIQUE token: a shared sentinel
      // (Set.empty) made the conditional remove below value-equality
      // match ANOTHER thread's fresh reservation after runCancellable's
      // cleanup emptied ours — letting a third event stack. With the
      // token, this thread's cleanup can only ever drop its own claim.
      // runCancellable merges its real job group alongside the token
      // (cancelJobGroup on the token is a harmless no-op for kill()).
      //
      // EVERY materialized path reserves (a multi-branch projection
      // output guarded only by its head path let an overlapping route
      // write branch 2 concurrently); claims go in sorted order and a
      // partial hit rolls back its own claims, so overlapping sets
      // skip cleanly instead of deadlocking or leaking reservations.
      val outPaths = ctx.output.materializedPaths.toList.distinct.sorted
      // token carries the route id in the same <prefix>-<id>-<uuid> shape
      // as real job groups, so the active-route/record parsers read both
      val token = s"resv-${ctx.routeId}-${java.util.UUID.randomUUID()}"
      val claimed = scala.collection.mutable.ListBuffer.empty[String]
      val allClaimed = outPaths.forall { p =>
        val ok = activeGroups.putIfAbsent(p, Set(token)) == null
        if (ok) claimed += p
        ok
      }
      def unclaim(): Unit = claimed.foreach(p =>
        activeGroups.computeIfPresent(p, (_, gs) =>
          if ((gs - token).isEmpty) null else gs - token))
      if (!allClaimed) {
        unclaim()
        hooks.onExecSkipped(route, ctx)
        Nil
      } else {
        try runContext(ctx, nodeDef, hooks, route)
        finally unclaim()
      }
      }
    }
  }

  /** One event-driven execution: begin/success/failure hooks around the
    * cancellable run, then completion feed-back. */
  private def runContext(ctx: ExecutionContext, nodeDef: Option[NodeDef],
                         hooks: RouteHooks,
                         route: graft.routing.Route): List[String] = {
      hooks.onExecBegin(route, ctx)
      val retry = nodeDef.map(_.retry).getOrElse(RetryPolicy())
      val written =
        try {
          val w = runCancellable(ctx, nodeDef.map(_.slots).getOrElse(Nil), retry)
          hooks.onExecSuccess(route, ctx)
          w
        } catch {
          case e: Throwable => hooks.onExecFailure(route, ctx, e); throw e
        }
      // a RAW_CONTENT (projection) node writes per-branch markers instead
      // of one data partition: every branch is a completion to propagate
      val completed = written.toList match {
        case Nil if ctx.output.source.attrs.rawContent =>
          ctx.output.materializedPaths.toList
        case w => w
      }
      completed.flatMap { path =>
        sharded match {
          case Some(d) =>
            // mark + re-offer on owned shards; consuming shards owned by
            // OTHER drivers get ("c","e") inbox messages and fold the
            // completion on their next shardedCycle
            path :: (runContexts(d.complete(path)) ++
              propagateToDownstreams(path))
          case None =>
            table.markComplete(Seq(path))
            // feed-back: local downstream routes, then exported-node push
            // to connected downstream applications
            path :: (processPath(path) ++ propagateToDownstreams(path))
        }
      }
  }

  /** Manual/backfill execution of a materialized target view (reference
    * execute(), application.py:2981-3664): reverse-derive the inputs from
    * the output partition values; `recursive` walks internal-input
    * ancestors and backfills missing partitions first. */
  def execute(target: NodeRef, recursive: Boolean = false): String = {
    require(appState != AppState.DELETED, "application is deleted")
    val d = defs.find(_.id == target.signal.alias).getOrElse(
      throw new IllegalArgumentException(s"unknown node '${target.signal.alias}'"))
    require(target.signal.isMaterialized,
      s"execute target must be materialized, got ${target.signal.filter.pretty}")
    val out = target.signal
    val inputs0 = d.linkNode.materializedInputsForOutput(out, d.outputLinks).getOrElse(
      throw new IllegalStateException(s"cannot materialize inputs for '${d.id}'"))

    if (recursive) inputs0.foreach { in =>
      defs.find(nd => in.source.rootPath == nd.output.source.rootPath).foreach { parent =>
        in.filter.tuples.foreach { tuple =>
          val partPath = in.source.materializePath(tuple)
          if (!probe.isComplete(partPath, in.source.protocol)) {
            val parentOut = parent.output.materializeWith(
              parent.output.dimNames.zip(tuple.map(_.rawValue)).toMap)
            execute(NodeRef(this, parentOut), recursive = true)
          }
        }
      }
    }

    // narrow nearest inputs to their first EXISTING partition — the
    // SAME helper the event path uses (RuntimeLinkNode.narrowNearest),
    // so the signal handed to slots never depends on how the execution
    // was triggered (a rawContent artifact consumer reads the signal's
    // path directly; before this, manual execute gave it the unprobed
    // range tip)
    val inputs = inputs0.map(
      graft.routing.RuntimeLinkNode.narrowNearest(_, probe))
    val ctx = ExecutionContext(d.id, inputs, out)
    runCancellable(ctx, d.slots, d.retry).getOrElse(out.materializedPaths.head)
  }

  /** B1 `update_dependency_tree`: execute the target, then re-run its
    * descendants by feeding the completed output partition back through
    * the routing table (reference application.py:2650-2977). Returns the
    * target path plus every downstream completion. */
  def executeWithDependents(target: NodeRef, recursive: Boolean = false): List[String] = {
    val path = execute(target, recursive)
    // connected downstream APPLICATIONS get the completion too — the
    // event-driven path propagates through runContext's feed-back, and a
    // manual "update the dependency tree" execution must not diverge
    val downstream = propagateToDownstreams(path)
    (sharded match {
      case Some(d) => path :: runContexts(d.complete(path))
      case None =>
        table.markComplete(Seq(path))
        path :: processPath(path)
    }) ++ downstream
  }

  /** E4 async execution: the ComputeSessionState analog — a Future handle;
    * combine with `poll` for completion probing (reference
    * constructs.py:3949-4360, synchronous engine → trivial sessions). */
  def executeAsync(target: NodeRef, recursive: Boolean = false)(
      implicit ec: scala.concurrent.ExecutionContext)
      : scala.concurrent.Future[String] =
    scala.concurrent.Future(execute(target, recursive))

  /** R1: retention sweep — delete all but the newest `keepLatest`
    * partitions of a node's managed output (reference retention hooks,
    * routing_runtime_constructs.py:784-855). Partition recency = descending
    * TYPED dimension-value order: dir names are parsed through the node's
    * first declared dimension, so unpadded LONG partitions ("9" vs "10")
    * and format-declared dates order numerically/chronologically, not
    * lexicographically. Unparseable names fall back to name order and sort
    * oldest (never ahead of a typed value). */
  def applyRetention(target: NodeRef, keepLatest: Int): Seq[String] = {
    val src = target.signal.source
    require(src.kind == SignalSourceKind.INTERNAL, "retention is for managed outputs")
    val root = new org.apache.hadoop.fs.Path(src.rootPath)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return Nil
    val dim = target.signal.spec.flatten.headOption.getOrElse(Dim(None, None))
    def typed(name: String): Option[DimValue] =
      scala.util.Try(DimValue.resolve(name, dim)).toOption
    val newestFirst: Ordering[org.apache.hadoop.fs.Path] =
      Ordering.fromLessThan { (a, b) =>
        (typed(a.getName), typed(b.getName)) match {
          case (Some(x: LongValue), Some(y: LongValue)) => x.v > y.v
          case (Some(x: DateValue), Some(y: DateValue)) => x.date.isAfter(y.date)
          case (Some(_), None) => true  // typed outlives unparseable
          case (None, Some(_)) => false
          case _ => a.getName > b.getName
        }
      }
    val parts = fs.listStatus(root).filter(_.isDirectory)
      .map(_.getPath).sorted(newestFirst)
    val evict = parts.drop(keepLatest)
    evict.foreach(p => fs.delete(p, true))
    evict.map(_.toString).toSeq
  }

  /** Compact one materialized partition of a managed (typically APPEND)
    * output — `compactPartition(node("2026-08-10"), 128L << 20)` rewrites
    * that partition's accumulated part files to ~128 MB each under the
    * crash-healable `_SUCCESS` swap protocol
    * ([[graft.compute.Compaction]]); pass `kv` to use the RENAME-FREE
    * object-store swap ([[graft.compute.Compaction.compactPartitionKv]])
    * instead.
    *
    * Mutual exclusion with executions (r15): the partition's output
    * path is RESERVED through the same `activeGroups` table the
    * trigger path claims before writing — compaction REFUSES loudly
    * while an execution (or another compaction) holds the path, and a
    * route trigger arriving mid-compaction skips cleanly and retries on
    * a later cycle (the inbox/sweep redelivery net). Manual `execute()`
    * calls on the same partition are the remaining caller
    * responsibility (they join rather than reserve). Run compaction
    * from the driver that owns the route so the reservation actually
    * covers the writers. */
  def compactPartition(target: NodeRef, targetFileBytes: Long,
                       kv: Option[graft.routing.ConditionalKv] = None)
      : graft.compute.Compaction.CompactStats = {
    val s = target.signal
    require(s.source.kind == SignalSourceKind.INTERNAL,
      "compaction is for managed outputs")
    require(s.filter.isMaterialized,
      s"select a concrete partition first, e.g. node(\"2026-08-10\") — " +
        s"'${s.alias}' still has unmaterialized dimensions")
    val outPath = s.materializedPaths.head
    // same <prefix>-<routeId>-<uuid> token shape as execution
    // reservations, carrying the REAL node id so getActiveRoutes /
    // getActiveComputeRecords resolve to an actual route (a made-up id
    // here would surface a phantom route in dashboards/tooling)
    val token = s"resv-${s.alias}-${java.util.UUID.randomUUID()}"
    if (activeGroups.putIfAbsent(outPath, Set(token)) != null)
      throw new IllegalStateException(
        s"compactPartition: an execution (or another compaction) is " +
          s"active on $outPath — retry when it finishes")
    try kv match {
      case Some(store) => graft.compute.Compaction
        .compactPartitionKv(spark, s, targetFileBytes, store)
      case None => graft.compute.Compaction
        .compactPartition(spark, s, targetFileBytes)
    } finally activeGroups.computeIfPresent(outPath, (_, gs) =>
      if ((gs - token).isEmpty) null else gs - token)
  }

  /** Import another application's managed output as an input node
    * (reference upstream-app collaboration, application.py
    * import_upstream_application + _check_upstream_signal): reads the
    * upstream app's internal layout read-only, honoring its _SUCCESS
    * completion protocol — so cross-app dependencies trigger/complete with
    * the same semantics as local ones. */
  def importUpstream(id: String, upstreamRoot: String, nodeId: String,
                     spec: DimSpec,
                     attrs: DatasetAttrs = DatasetAttrs()): NodeRef =
    NodeRef(this, Signal(id,
      SignalSource(SignalSourceKind.EXTERNAL,
        s"$upstreamRoot/internal_data/$nodeId", attrs,
        IntegrityProtocol.FileCheck("_SUCCESS")),
      spec, DimFilter.allPassFor(spec)))

  // ---- downstream export (inverse of importUpstream) ---------------------

  /** Grant a downstream application access to a set of this app's nodes
    * (reference export_to_downstream_application, application.py:3961-3963):
    * writes a manifest under `<rootDir>/exports/<downstreamId>.bin` carrying
    * each exported node's id, dimension spec, and dataset attrs — the
    * downstream side imports via [[importExported]] WITHOUT re-declaring
    * the spec, and the import is validated against the grant. Returns the
    * manifest path.
    *
    * The grant is STAMPED with this app's [[owner]]; a downstream whose
    * owner differs is refused at import/connect time unless listed in
    * `authorizedOwners` — the local analog of the reference's
    * `authorize_external_entity` (an external account gains access only
    * when the owner grants it by name). */
  def exportToDownstream(downstreamId: String, nodes: Seq[NodeRef],
                         authorizedOwners: Set[String] = Set.empty): String = {
    val exported = nodes.toList.map { n =>
      val id = n.signal.alias
      require(defs.exists(_.id == id),
        s"cannot export undeclared node '$id'")
      ExportedNode(id, n.signal.spec, n.signal.source.attrs)
    }
    val path = ExportManifest.save(
      ExportManifest(name, downstreamId, exported, owner, authorizedOwners),
      rootDir, spark.sparkContext.hadoopConfiguration)
    synchronized { manifestCache -= downstreamId } // re-read the new grant
    path
  }

  private def requireGrantAuthorized(m: ExportManifest, ctx: String): Unit =
    require(m.authorizes(owner),
      s"$ctx: grant from '${m.upstreamName}' (owner '${m.owner}') does " +
        s"not authorize owner '$owner' — the upstream must re-export " +
        s"with authorizedOwners including '$owner' " +
        "(the authorize_external_entity analog)")

  /** Downstream side of [[exportToDownstream]]: import an upstream node
    * THROUGH its export manifest — the dimension spec and dataset attrs
    * come from the grant, and importing a node the upstream never exported
    * to this app fails fast. */
  def importExported(id: String, upstreamRoot: String, nodeId: String): NodeRef = {
    val manifest = ExportManifest
      .load(upstreamRoot, name, spark.sparkContext.hadoopConfiguration)
      .getOrElse(throw new IllegalArgumentException(
        s"upstream at $upstreamRoot exports nothing to application '$name'"))
    requireGrantAuthorized(manifest, "importExported")
    val node = manifest.nodes.find(_.nodeId == nodeId).getOrElse(
      throw new IllegalArgumentException(
        s"upstream '${manifest.upstreamName}' does not export '$nodeId' to '$name' " +
          s"(exported: ${manifest.nodes.map(_.nodeId).mkString(", ")})"))
    importUpstream(id, upstreamRoot, nodeId, node.spec, node.attrs)
  }

  // ---- upstream-context topology queries (reference
  // import_upstream_application + get_upstream_data/list over the
  // EXTERNAL_APPS_ONLY scope, application.py:1767,4090) ------------------

  // attached upstream contexts: (upstreamRoot, grant manifest)
  private var upstreamApps: List[(String, ExportManifest)] = Nil

  /** Attach an upstream application's whole export grant as a queryable
    * context (reference import_upstream_application): after this,
    * [[listUpstreamData]] / [[getUpstreamData]] answer topology queries
    * over everything the upstream exports to this app, without importing
    * nodes one at a time. Idempotent per root (re-attaching re-reads the
    * manifest — a re-grant becomes visible). */
  def importUpstreamApplication(upstreamRoot: String): ExportManifest = {
    val root = upstreamRoot.stripSuffix("/")
    val manifest = ExportManifest
      .load(root, name, spark.sparkContext.hadoopConfiguration)
      .getOrElse(throw new IllegalArgumentException(
        s"upstream at $root exports nothing to application '$name'"))
    requireGrantAuthorized(manifest, "importUpstreamApplication")
    synchronized {
      upstreamApps = upstreamApps.filterNot(_._1 == root) :+ (root -> manifest)
    }
    manifest
  }

  /** Exported node ids per attached upstream app, attach order —
    * reference list_data over the EXTERNAL_APPS_ONLY scope. */
  def listUpstreamData: List[(String, List[String])] =
    upstreamApps.map { case (_, m) => m.upstreamName -> m.nodes.map(_.nodeId) }

  /** (upstream app name, root) of every attached upstream context —
    * reference get_upstream_applications. */
  def getUpstreamApplications: List[(String, String)] =
    upstreamApps.map { case (root, m) => (m.upstreamName, root) }

  /** Query a node inside the attached upstream contexts by exact id
    * (reference get_upstream_data, application.py:1767 — get_data scoped
    * to EXTERNAL_APPS_ONLY): every match becomes an input NodeRef built
    * from the grant's spec/attrs (same construction as
    * [[importExported]]), ready to use as a dependency or [[load]]
    * target. Empty when no attached upstream exports the id. */
  def getUpstreamData(nodeId: String): List[NodeRef] =
    upstreamApps.flatMap { case (root, m) =>
      m.nodes.find(_.nodeId == nodeId)
        .map(n => importUpstream(nodeId, root, nodeId, n.spec, n.attrs))
    }

  /** Wire a LIVE downstream application for push-based event propagation:
    * completions of exported nodes feed straight into the downstream's
    * routing table (the in-proc analog of the reference's cross-account
    * S3→processor notification path). Only paths under nodes exported to
    * that app are forwarded. */
  def connectDownstream(app: Application): Unit = synchronized {
    require(app ne this, "cannot connect an application to itself")
    // (re-)connecting re-reads the grant: a manifest written by ANOTHER
    // process since the last propagate becomes visible here
    manifestCache -= app.name
    // ownership gate BEFORE wiring: pushing completions to a downstream
    // whose owner the grant never authorized is the same leak an
    // unauthorized import is (checked only when a grant exists — with
    // no manifest nothing would propagate anyway)
    manifestFor(app.name).foreach { m =>
      require(m.authorizes(app.owner),
        s"connectDownstream: grant to '${app.name}' (owner '${m.owner}') " +
          s"does not authorize downstream owner '${app.owner}' — " +
          s"re-export with authorizedOwners including '${app.owner}'")
    }
    if (!downstreamApps.exists(_ eq app)) downstreamApps :+= app
  }

  // volatile: connectDownstream writes under synchronized, but sweeper/
  // completion threads read without it
  @volatile private var downstreamApps: List[Application] = Nil
  // grants are immutable once written; cache per downstream id so the
  // per-completion propagation path does not re-open + re-deserialize the
  // manifest file (exportToDownstream invalidates on re-grant; a grant
  // changed by ANOTHER process requires re-connecting the downstream)
  private var manifestCache = Map.empty[String, Option[ExportManifest]]

  private def manifestFor(downstreamId: String): Option[ExportManifest] =
    synchronized {
      manifestCache.getOrElse(downstreamId, {
        val m = ExportManifest.load(rootDir, downstreamId,
          spark.sparkContext.hadoopConfiguration)
        manifestCache += downstreamId -> m
        m
      })
    }

  private def propagateToDownstreams(path: String): List[String] =
    downstreamApps.flatMap { down =>
      // ownership re-checked per propagation (manifest is cached, so
      // this is a map lookup): a grant re-written to REVOKE an external
      // owner after connectDownstream stops leaking immediately
      val granted = manifestFor(down.name).exists(m =>
        m.authorizes(down.owner) && m.nodes.exists(n =>
          path.startsWith(s"$rootDir/internal_data/${n.nodeId}/") ||
            path == s"$rootDir/internal_data/${n.nodeId}"))
      // a paused/terminated downstream consumes nothing by contract —
      // letting "activate() first" escape from THIS app's completion
      // feed-back would fail an execution that succeeded and drop the
      // remaining downstreams' propagation. (processPath stays loud for
      // DIRECT calls on an inactive app; the tolerance belongs here.)
      val active = down.state != down.AppState.INACTIVE &&
        down.state != down.AppState.DELETED
      if (granted && active) down.tryProcessPath(path).getOrElse(Nil) else Nil
    }

  /** Marshal a catalog table (S2) as an input node; dims = partition keys. */
  def marshalCatalogTable(id: String, database: String, table: String,
                          spec: DimSpec): NodeRef =
    NodeRef(this, Signal(id, SignalSource.catalog(database, table),
      spec, DimFilter.allPassFor(spec)))

  /** Kill any active execution for the target output partition (reference
    * kill(), application.py:2342-2408). The kill is Spark-native: each
    * execution runs in its own job group with interruptOnCancel, so cancel
    * aborts the running stages; the caller tracks the outcome with `poll`.
    * Returns true when an active execution was found and cancelled. */
  def kill(target: NodeRef): Boolean = {
    require(target.signal.isMaterialized, "kill needs a materialized output view")
    // every materialized path: a multi-branch (projection) output's
    // execution may be registered under any of its branches
    val groups = target.signal.materializedPaths
      .flatMap(p => Option(activeGroups.get(p)).toList.flatMap(_.toList))
      .distinct
    if (groups.nonEmpty) {
      groups.foreach(spark.sparkContext.cancelJobGroup)
      true
    } else false
  }

  /** Feed the GROUND signal of a dangling input: satisfies the input
    * condition of nodes that consume `input` — without a physical data
    * event — and possibly causes execution on them (reference ground(),
    * application.py:1844-1876: "equivalent to process(GROUND of input)"). */
  def ground(input: NodeRef): List[String] = {
    require(input.signal.isMaterialized,
      s"ground requires a materialized input view, got ${input.signal.filter.pretty}")
    process(input.signal)
  }

  /** Emulate the target's runtime behavior for the given materialized view
    * WITHOUT executing: reverse-materialize its inputs, surface zombie
    * configurations (an input's declared filter rejects the linked values)
    * and trigger-impossibility (reference validate(),
    * application.py:3665-3763). Throws IllegalStateException with the
    * diagnosis; returns silently when executions are possible. */
  def validate(target: NodeRef): Unit = {
    val d = defs.find(_.id == target.signal.alias).getOrElse(
      throw new IllegalArgumentException(s"unknown node '${target.signal.alias}'"))
    require(target.signal.isMaterialized,
      s"validate needs a materialized view, got ${target.signal.filter.pretty}")
    val out = target.signal
    val inputs = d.linkNode.materializedInputsForOutput(out, d.outputLinks).getOrElse(
      throw new IllegalStateException(
        s"'${d.id}': inputs cannot be materialized from output ${out.filter.pretty} — " +
          "check dimension links"))
    inputs.find(i => i.dimNames.nonEmpty && i.filter.isEmpty).foreach { i =>
      throw new IllegalStateException(
        s"'${d.id}': input '${i.alias}' declared filter rejects the values derived " +
          s"from output ${out.filter.pretty} — executions would be zombies")
    }
    // emulate the runtime coincidence join: feed every independent input
    val rln = new RuntimeLinkNode(d.linkNode, out, d.outputLinks)
    inputs.filterNot(i => i.isReference || i.nearestTheTip).foreach(rln.receive(_))
    if (rln.isZombie) throw new IllegalStateException(
      s"'${d.id}': runtime node for ${out.filter.pretty} predicts zombie")
    if (!rln.allSignalsReady) throw new IllegalStateException(
      s"'${d.id}': would never trigger for ${out.filter.pretty} — only " +
        s"${rln.ready.map(_.alias).mkString(",")} of " +
        s"${d.linkNode.signals.map(_.alias).mkString(",")} become ready")
  }

  /** Completed output partition path for a materialized view, if present
    * (reference poll(), application.py:2051-2267 — synchronous engine, so
    * no wait loop needed). */
  def poll(target: NodeRef): Option[String] = {
    val path = target.signal.materializedPaths.head
    if (probe.isComplete(path, target.signal.source.protocol)) Some(path) else None
  }

  /** Render physical paths for a view (reference materialize(),
    * application.py:3810-3913). */
  def materialize(target: NodeRef): Seq[String] = target.materializedPaths

  /** Read a materialized node output back as a DataFrame. */
  def load(target: NodeRef): DataFrame =
    InputLoader.load(spark, target.signal, probe)
}

object Application {
  /** Reference `attach` (application.py:164-180): reload the dev context
    * persisted by [[Application!.saveDevState]] in a NEW process/session
    * and activate it — node/timer declarations survive the JVM. Combine
    * with [[Application!.recover]] to also replay runtime routing state. */
  def attach(name: String, spark: SparkSession, rootDir: String,
             args: Map[String, Any] = Map.empty): Application = {
    val app = new Application(name, spark, rootDir, args)
    require(app.loadDevState(),
      s"no persisted dev state under $rootDir — call saveDevState() first")
    app.activate()
    app
  }
}
