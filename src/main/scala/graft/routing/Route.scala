package graft.routing

import graft.signal._

/** Orchestrator events surfaced to user hooks (H1).
  * Reference: routing_runtime_constructs.py:856-1160. */
trait RouteHooks {
  def onPendingNodeCreated(route: Route, node: RuntimeLinkNode): Unit = ()
  def onPendingNodeExpired(route: Route, node: RuntimeLinkNode): Unit = ()
  /** Periodic pending-node checkpoint marks (seconds since node creation;
    * reference RoutePendingNodeHook.checkpoints =
    * [RouteCheckpoint(checkpoint_in_secs, slot)],
    * routing_runtime_constructs.py:729, 1001-1018). Each mark fires
    * [[onPendingNodeCheckpoint]] once per pending node, at the first
    * sweep whose elapsed time passes it — the "this join has been waiting
    * N minutes" alerting surface. */
  def pendingNodeCheckpointSecs: List[Long] = Nil
  def onPendingNodeCheckpoint(route: Route, node: RuntimeLinkNode,
                              checkpointSecs: Long): Unit = ()
  def onExecBegin(route: Route, ctx: ExecutionContext): Unit = ()
  /** Fired INSTEAD of onExecBegin when a ready context is dropped because
    * an execution for the same materialized output is already in flight
    * (reference on_exec_skipped, constructs.py:3475-3486). */
  def onExecSkipped(route: Route, ctx: ExecutionContext): Unit = ()
  def onExecSuccess(route: Route, ctx: ExecutionContext): Unit = ()
  def onExecFailure(route: Route, ctx: ExecutionContext, error: Throwable): Unit = ()
}
object RouteHooks { val none: RouteHooks = new RouteHooks {} }

/** A ready-to-run unit: materialized inputs + materialized output.
  * Reference: ExecutionContext, routing_runtime_constructs.py:1427-1444. */
final case class ExecutionContext(
    routeId: String,
    inputs: List[Signal],
    output: Signal)

/** Per-route runtime counters (reference get_route_metrics surface,
  * application.py:429-531 — orchestration metrics per route).
  * `probeFailures` (r15) counts sweep-probe targets of THIS route that
  * threw and were folded to incomplete — the rate-limited warn log
  * names one key per window, so a permanently-broken path must also be
  * visible in metrics (alarms/dashboards), not only in a sampled line. */
final case class RouteCounters(
    eventsReceived: Long = 0, pendingCreated: Long = 0,
    pendingExpired: Long = 0, zombiesEliminated: Long = 0,
    triggers: Long = 0, probeFailures: Long = 0)

/** A data node at runtime: link-node template + output signal + output dim
  * matrix + pending nodes + TTL. Reference: Route,
  * routing_runtime_constructs.py:1172-1484. */
final class Route(
    val id: String,
    val linkNode: SignalLinkNode,
    val output: Signal,
    val outputLinks: List[DimensionLink],
    val pendingNodeTtlMillis: Long = Long.MaxValue,
    val hooks: RouteHooks = RouteHooks.none) {

  private var pending: List[RuntimeLinkNode] = Nil
  def pendingNodes: List[RuntimeLinkNode] = pending

  /** Remove one pending node by its [[RuntimeLinkNode.id]] (reference
    * delete_pending_node, application.py:4117-4120 — the manual unblock
    * for a node that will never complete). Returns false when absent. */
  def removePending(nodeId: String): Boolean = {
    val (gone, keep) = pending.partition(_.id == nodeId)
    pending = keep
    gone.nonEmpty
  }

  private var ctrs = RouteCounters()
  /** Snapshot of this route's orchestration counters. */
  def counters: RouteCounters = ctrs

  /** Attribute `n` failed sweep-probe targets to this route (called by
    * [[RoutingTable]] under its monitor after the probe phase). */
  private[routing] def noteProbeFailures(n: Int): Unit =
    if (n > 0) ctrs = ctrs.copy(probeFailures = ctrs.probeFailures + n)

  /** Does an incoming concrete signal belong to any of this route's inputs? */
  def accepts(incoming: Signal): Boolean = accepts(Offer.of(incoming))

  private[routing] def accepts(o: Offer): Boolean =
    linkNode.signals.exists(s => !s.isReference && o.candidate(s).isDefined)

  /** Offer a signal: feed pending nodes; un-consumed non-reference signals
    * open a new pending node. Ready nodes become ExecutionContexts and leave
    * the pending list. Reference: Route.receive,
    * routing_runtime_constructs.py:1396-1444. */
  def receive(incoming: Signal, probe: PathProbe,
              nowMillis: Long = System.currentTimeMillis(),
              isBlocked: Boolean = false): List[ExecutionContext] =
    receiveOffer(Offer.of(incoming), probe, nowMillis, isBlocked)

  /** [[receive]] of an event whose candidates the caller shares. */
  private[routing] def receiveOffer(incoming: Offer, probe: PathProbe, nowMillis: Long,
                                    isBlocked: Boolean): List[ExecutionContext] = {
    expireNodes(nowMillis)
    ctrs = ctrs.copy(eventsReceived = ctrs.eventsReceived + 1)
    // only nodes TOUCHED by this event get their (probe-I/O) readiness
    // re-checked: an untouched node's event state is unchanged, and
    // storage-side completions are the SWEEP's job by contract — probing
    // every pending node on every event made one event cost
    // O(pending × range × probe latency) (16 minutes per event at 10k
    // waiting nodes on a 50 ms store; see BASELINE r13). A duplicate
    // re-publish of a node's path counts as touched, so manual re-offer
    // still re-evaluates that node immediately.
    var touched = List.empty[RuntimeLinkNode]
    pending.foreach { n => if (n.offer(incoming, isBlocked)) touched ::= n }

    if (touched.isEmpty) {
      val declared = linkNode.signals.exists(s => !s.isReference &&
        s.source.kind == incoming.kind && s.source.rootPath == incoming.rootPath)
      if (declared) {
        val n = new RuntimeLinkNode(linkNode, output, outputLinks, nowMillis)
        if (n.offer(incoming, isBlocked)) {
          pending :+= n
          touched ::= n
          ctrs = ctrs.copy(pendingCreated = ctrs.pendingCreated + 1)
          hooks.onPendingNodeCreated(this, n)
        }
      }
    }

    // zombie elimination bounds pending state (reference 547-614)
    if (pending.exists(_.isZombie)) {
      val (zombies, alive) = pending.partition(_.isZombie)
      zombies.foreach(hooks.onPendingNodeExpired(this, _))
      pending = alive
      ctrs = ctrs.copy(zombiesEliminated = ctrs.zombiesEliminated + zombies.length)
    }

    fireReady(probe, touched)
  }

  /** The firing path of an event: the nodes it touched are the only
    * candidates, and only they pay the readiness probe I/O. */
  private def fireReady(probe: PathProbe,
                        candidates: List[RuntimeLinkNode]): List[ExecutionContext] =
    if (candidates.isEmpty) Nil
    else {
      val candSet = java.util.Collections.newSetFromMap(
        new java.util.IdentityHashMap[RuntimeLinkNode, java.lang.Boolean]())
      candidates.foreach(candSet.add)
      fireWhere(probe, candSet.contains)
    }

  /** The single firing path (event receive AND sweep): candidates that are
    * ready leave pending, in pending order, bump the trigger counter, and
    * materialize their contexts. */
  private def fireWhere(probe: PathProbe,
                        candidate: RuntimeLinkNode => Boolean): List[ExecutionContext] = {
    val (ready, waiting) = pending.partition(n => candidate(n) && n.isReady(probe))
    pending = waiting
    ctrs = ctrs.copy(triggers = ctrs.triggers + ready.length)
    ready.map(fire(_, probe))
  }

  /** Called with every node that fires and its context (the table's
    * unsettled-context ledger, set by [[RoutingTable.add]]). */
  private[routing] var onFire: (RuntimeLinkNode, ExecutionContext) => Unit =
    (_, _) => ()

  private[routing] def fire(n: RuntimeLinkNode, probe: PathProbe): ExecutionContext = {
    val c = ExecutionContext(id, n.materializedInputs(probe), n.materializeOutput())
    onFire(n, c)
    c
  }

  private[routing] def newNode(createdAtMillis: Long): RuntimeLinkNode =
    new RuntimeLinkNode(linkNode, output, outputLinks, createdAtMillis)

  /** Re-admit pending nodes rebuilt from a snapshot, in their order. */
  private[routing] def restore(nodes: Seq[RuntimeLinkNode]): Unit = {
    pending = pending ++ nodes
    ctrs = ctrs.copy(pendingCreated = ctrs.pendingCreated + nodes.length)
    nodes.foreach(hooks.onPendingNodeCreated(this, _))
  }

  /** Fire the pending node created by `firstPath` (a logged sweep firing,
    * replayed at recovery). */
  private[routing] def fireLogged(firstPath: String,
                                  probe: PathProbe): Option[ExecutionContext] =
    pending.find(_.firstPath.contains(firstPath)).map { n =>
      pending = pending.filterNot(_ eq n)
      ctrs = ctrs.copy(triggers = ctrs.triggers + 1)
      fire(n, probe)
    }

  /** Re-evaluate pending nodes WITHOUT a new event (the reference
    * orchestration cycle's pending-node checker, processor `next_cycle` +
    * RoutePendingNodeChecker): a node whose events all arrived but whose
    * range/nearest completion probes failed becomes ready here once the
    * missing partitions appear on storage — data written by systems that
    * emit no events is not lost forever. */
  def sweep(probe: PathProbe,
            nowMillis: Long = System.currentTimeMillis()): List[ExecutionContext] = {
    expireNodes(nowMillis)
    fireCheckpoints(nowMillis)
    // only an armed node (every input ready, no zombie) can fire; the
    // rest wait for events, so the sweep re-checks armed nodes alone
    fireWhere(probe, _.armed)
  }

  /** Fire every not-yet-fired checkpoint mark the node's age has passed,
    * chronologically, recording the last fired mark per node (reference
    * get_next_pending_node_checkpoint + last_checkpoint_mark,
    * routing_runtime_constructs.py:1246-1258, constructs.py:4315-4334). */
  private def fireCheckpoints(nowMillis: Long): Unit = {
    val marks = hooks.pendingNodeCheckpointSecs.sorted
    if (marks.nonEmpty) pending.foreach { n =>
      val elapsedSecs = (nowMillis - n.createdAtMillis) / 1000
      marks.filter(m => m > n.lastCheckpointMark && m <= elapsedSecs)
        .foreach { m =>
          hooks.onPendingNodeCheckpoint(this, n, m)
          n.lastCheckpointMark = m
        }
    }
  }

  /** TTL expiry of stale pending nodes (J4; reference check_expired_nodes,
    * routing_runtime_constructs.py:1446-1459). */
  def expireNodes(nowMillis: Long): Unit = {
    if (pendingNodeTtlMillis == Long.MaxValue) return
    val stale = (n: RuntimeLinkNode) => nowMillis - n.createdAtMillis > pendingNodeTtlMillis
    if (!pending.exists(stale)) return
    val (expired, alive) = pending.partition(stale)
    expired.foreach(hooks.onPendingNodeExpired(this, _))
    pending = alive
    ctrs = ctrs.copy(pendingExpired = ctrs.pendingExpired + expired.length)
  }
}

/** Event → route index + dispatch: matches an incoming (kind, path) to
  * candidate routes and runs their receive cycle. Single-driver in-proc
  * equivalent of the reference's RoutingTable + RouteIndex
  * (constructs.py:2685-2741, 3293-3433); the per-route DynamoDB lock is a
  * plain object monitor here.
  *
  * With a WAL, every fold replaces the log with a snapshot of state: one
  * record per pending node and one per unsettled fired context (a context
  * is settled once [[markComplete]] names each of its output paths, or a
  * marker directly under one). [[recover]] restores the newest snapshot
  * and replays only the log after it.
  *
  * @param compactEveryEvents the floor N of the live fold trigger: the
  *   table folds once the lines appended since the last fold reach
  *   max(N, records that fold wrote), so the log stays ≤ 2 × snapshot
  *   records + N lines and appends cost amortized O(1). While the live
  *   state stays under N records, this is a fold every N lines.
  */
final class RoutingTable(probe: PathProbe,
                         checkpoint: Option[RoutingWal] = None,
                         compactEveryEvents: Int = 10000) {
  private val cachingProbe = new CachingProbe(probe)
  private var routes: List[Route] = Nil
  private var replaying = false
  private var eventsSinceCompact = 0
  /** Records the last fold wrote (see [[maybeCompact]]). */
  private var recordsKept = 0

  /** A fired context awaiting settlement: the route and receipts of the
    * node that fired it, the output paths not yet named complete, and
    * whether a recovery dropped it as done (see [[recover]]). */
  private final class Fired(val routeId: String,
                            val receipts: List[(String, Boolean)],
                            var open: Set[String]) {
    var dropped = false
  }
  /** Unsettled contexts in firing order, and by each open output path.
    * Two firings of one node state (route and receipts) are one entry:
    * one execution to re-offer. */
  private val unsettled = scala.collection.mutable.LinkedHashSet.empty[Fired]
  private val unsettledByPath =
    scala.collection.mutable.HashMap.empty[String, List[Fired]]
  /** While [[recover]] runs: every context it fired, by ledger entry. */
  private var recovering: scala.collection.mutable.LinkedHashMap[Fired, ExecutionContext] = _
  /** While [[replay]] re-fires a snapshot context: its dropped flag. */
  private var restoringDropped = false
  /** While a sweep runs with a WAL: (route, first path) of each node it
    * fired. */
  private var sweepFired: scala.collection.mutable.ListBuffer[(String, String)] = _

  private def noteFired(route: Route, n: RuntimeLinkNode, c: ExecutionContext): Unit = {
    val receipts = n.receipts
    val outputs = c.output.materializedPaths
    val f = outputs.headOption.flatMap(unsettledByPath.get).flatMap(_.find(f =>
      f.routeId == route.id && f.receipts == receipts)).getOrElse {
      val f = new Fired(route.id, receipts, outputs.toSet)
      unsettled += f
      f.open.foreach(p => unsettledByPath(p) = f :: unsettledByPath.getOrElse(p, Nil))
      f
    }
    if (recovering != null) {
      recovering.getOrElseUpdate(f, c)
      f.dropped ||= restoringDropped
    }
    if (sweepFired != null) n.firstPath.foreach(p => sweepFired += ((route.id, p)))
  }

  /** `key` (an output path) was named complete. */
  private def settle(key: String): Unit =
    unsettledByPath.remove(key).foreach(_.foreach { f =>
      f.open -= key
      if (f.open.isEmpty) unsettled -= f
    })

  /** `key`, an open output path of `f`, was named complete. */
  private def settleIn(f: Fired, key: String): Unit = {
    f.open -= key
    if (f.open.isEmpty) unsettled -= f
    unsettledByPath.get(key).foreach { fs =>
      val rest = fs.filterNot(_ eq f)
      if (rest.isEmpty) unsettledByPath.remove(key) else unsettledByPath(key) = rest
    }
  }

  private def dropUnsettled(f: Fired): Unit = {
    unsettled -= f
    f.open.foreach { p =>
      unsettledByPath.get(p).foreach { fs =>
        val rest = fs.filterNot(_ eq f)
        if (rest.isEmpty) unsettledByPath.remove(p) else unsettledByPath(p) = rest
      }
    }
  }

  /** Contexts fired and not yet settled, as (route, open output paths). */
  private[routing] def unsettledContexts: List[(String, Set[String])] = synchronized {
    unsettled.iterator.map(f => (f.routeId, f.open)).toList
  }

  /** Does an unsettled context wait on `path` being named complete? */
  def awaitsCompletion(path: String): Boolean = synchronized {
    unsettledByPath.contains(path) || parentOf(path).exists(unsettledByPath.contains)
  }

  private def parentOf(p: String): Option[String] = {
    val i = p.lastIndexOf('/')
    if (i > 0) Some(p.substring(0, i)) else None
  }

  // ---- event→route index (reference RouteIndex, constructs.py:
  // 2705-2741): both dispatch paths were linear scans over every
  // route's signals — fine at 10 routes, seconds per 10k events at a
  // 10k-route table. Dispatch cost must follow the EVENT, not the
  // table: signal dispatch indexes the exact (kind, rootPath) of each
  // non-reference input (`accepts` requires resource equality, so
  // other routes can never match); raw-path decode indexes source
  // roots and probes only the event path's ANCESTOR prefixes — O(path
  // depth) lookups per event. List order inside each bucket preserves
  // route-declaration order, so first-decode-wins semantics are
  // unchanged.
  private var routesBySource =
    Map.empty[(SignalSourceKind, String), List[Route]]
  /** Source root → the distinct decoders of the inputs declared under it,
    * in declaration order. */
  private var decodersByRoot = Map.empty[String, List[EventDecoder]]

  // Compiled decoders, one per distinct declared input: equal inputs of
  // different routes (the same alias, source and filter) share one, and
  // so share each event's candidate; inputs of one spec over one source
  // share a codec, so an event is parsed once per codec.
  private val decoderOf = new java.util.IdentityHashMap[Signal, EventDecoder]()
  private val decoderByInput = scala.collection.mutable.HashMap.empty[Signal, EventDecoder]
  private val codecs = scala.collection.mutable.HashMap.empty[EventDecoder.Codec, EventDecoder.Codec]
  // called under the table monitor, by offers of this table's events
  private val findDecoder: Signal => EventDecoder = { s =>
    val d = decoderOf.get(s)
    if (d != null) d else compile(s)
  }

  private def compile(s: Signal): EventDecoder = {
    val d = decoderByInput.getOrElseUpdate(s, {
      val c = EventDecoder.Codec(s)
      new EventDecoder(s, codecs.getOrElseUpdate(c, c))
    })
    decoderOf.put(s, d)
    d
  }

  def add(route: Route): Unit = synchronized {
    routes :+= route
    if (checkpoint.isDefined) route.onFire = noteFired(route, _, _)
    route.linkNode.signals.foreach { s =>
      if (!s.isReference) {
        val rk = (s.source.kind, s.source.rootPath)
        val cur = routesBySource.getOrElse(rk, Nil)
        if (!cur.exists(_ eq route))
          routesBySource = routesBySource.updated(rk, cur :+ route)
      }
      val d = compile(s)
      val root = s.source.rootPath.stripSuffix("/")
      val cur = decodersByRoot.getOrElse(root, Nil)
      if (!cur.exists(_ eq d)) decodersByRoot = decodersByRoot.updated(root, cur :+ d)
    }
  }
  def all: List[Route] = routes
  def find(id: String): Option[Route] = routes.find(_.id == id)

  /** End-of-life for this table's WAL (stream + its private FileSystem)
    * — [[graft.routing.RoutingWal.dispose]]. */
  def disposeWal(): Unit = synchronized { checkpoint.foreach(_.dispose()) }

  /** Every ancestor prefix of `path` (itself first, then each parent),
    * cut at '/' — the only candidate source roots an event can live
    * under. Shared with [[ShardedDriver]]'s shard-dispatch index. */
  private def ancestorPrefixes(path: String): List[String] =
    RoutingPaths.ancestorPrefixes(path)

  /** Ingest one concrete event signal; returns ready execution contexts
    * across all matching routes. */
  def receive(incoming: Signal, isBlocked: Boolean = false): List[ExecutionContext] =
    synchronized(dispatch(Offer.of(incoming), isBlocked))

  private def dispatch(incoming: Offer, isBlocked: Boolean): List[ExecutionContext] = {
    val matching = routesBySource
      .getOrElse((incoming.kind, incoming.rootPath), Nil)
      .filter(_.accepts(incoming))
    // log ONLY events some route accepts (an unmatched event rebuilds
    // nothing at replay, so logging it would just grow the WAL forever
    // on a long-lived driver), at tip granularity (reference ONLY_HEAD
    // processing mode) so a restart can rebuild pending state by
    // replaying the events logged after the last snapshot.
    // KNOWN TRADE-OFF: if a LATER driver adds a route consuming a
    // source that fired only before the route existed, replay cannot
    // seed that pending node (the event was never logged) — matching
    // the reference, which also persists per-route records only; use
    // execute/backfill to redeem pre-declaration events.
    // KNOWN GRANULARITY LIMIT: a multi-partition event signal (e.g.
    // ground() of a ranged view) replays as its tip partition only,
    // and a node's receipts record tips too — completion checks still
    // probe the real filesystem, but recovered pending nodes track the
    // tip path, not the full range.
    val logged = !replaying && matching.nonEmpty
    if (logged) incoming.paths.headOption.foreach(p =>
      checkpoint.foreach(_.appendEvent(p, isBlocked)))
    val now = System.currentTimeMillis()
    val ctxs = matching.flatMap(_.receiveOffer(incoming, cachingProbe, now, isBlocked))
    // after dispatch: a fold here snapshots this event's effect, since
    // it drops the segment the event was just appended to
    if (logged) maybeCompact(1)
    ctxs
  }

  /** Live fold, so the log stays bounded between restarts of a
    * long-lived driver. Geometric (the size-ratio merge policy of
    * log-structured stores): fold once the lines appended since the last
    * fold reach max(`compactEveryEvents`, records that fold wrote). A fold
    * writes O(records) from memory and follows at least max(N, records)
    * appends, so each append costs amortized O(1); a fixed every-N
    * trigger would make it grow with live state. */
  private def maybeCompact(appended: Int): Unit = {
    eventsSinceCompact += appended
    if (eventsSinceCompact >= math.max(compactEveryEvents, recordsKept)) fold()
  }

  /** Replace the log with a snapshot of this table's state: every pending
    * node, then every unsettled context, then the completed set. */
  private def fold(): Unit = {
    checkpoint.foreach { cp =>
      val snap = java.util.UUID.randomUUID().toString.replace("-", "").take(16)
      val size = routes.iterator.map(_.pendingNodes.length).sum + unsettled.size
      val recs = scala.collection.mutable.ListBuffer.empty[(String, Boolean)]
      routes.foreach(r => r.pendingNodes.foreach { n =>
        recs += ((WalRecord.node(snap, recs.length, size, r.id, n.createdAtMillis,
          n.receipts), false))
      })
      unsettled.foreach { f =>
        recs += ((WalRecord.fired(snap, recs.length, size, f.routeId, f.receipts,
          f.dropped), false))
      }
      recordsKept = recs.length
      if (recs.isEmpty) recs += ((WalRecord.empty(snap), false))
      cp.compact(recs.toList, cachingProbe.markedPaths)
    }
    eventsSinceCompact = 0
  }

  /** Rebuild routing state after a restart (reference RouteRecord
    * reload) and return the contexts to re-offer: the executions that were
    * mid-flight when the previous driver died.
    *
    * Restores the newest complete snapshot — each pending node rebuilt in
    * its own route from its receipts, each unsettled context re-fired from
    * the node that fired it — then replays the log after the snapshot
    * through the normal receive path, with the sweeps' logged expiries and
    * firings. A snapshot cut short by a crash (its last record missing) is
    * ignored: the log it would have replaced is still there, so recovery
    * uses the snapshot before it, or replays a log without one whole.
    * Finally folds.
    *
    * A fired context whose output is COMPLETE (every materialized path —
    * a crash after the first partition of a ranged output must re-surface
    * the execution, not strand the rest) is dropped as already done,
    * unless `staleOutput` proves it STALE: an input re-published with a
    * newer completion stamp before the crash, where dropping it would
    * silently lose the recompute (routing has only an exists-probe —
    * stamping lives at the app layer). A dropped context is settled once
    * the completed set names its outputs or, failing that, by the next
    * recovery that drops it: its output may have landed with no
    * `markComplete` (the driver died in between), so nothing else would
    * ever settle it, yet a recovery by a caller without a staleness check
    * must leave a later one the chance to re-offer it. A re-offered
    * context whose output is not complete is settled for the output
    * paths the completed set names. A STALE one keeps all its outputs
    * open: its re-execution names them, and a crash before that re-offers
    * it again. */
  def recover(staleOutput: ExecutionContext => Boolean = _ => false)
      : List[ExecutionContext] = synchronized {
    checkpoint.flatMap(_.load()).map { case (log, completed) =>
      cachingProbe.markComplete(completed)
      val fired = scala.collection.mutable.LinkedHashMap.empty[Fired, ExecutionContext]
      recovering = fired
      replaying = true
      try replay(log.toIndexedSeq)
      finally { replaying = false; recovering = null }
      lazy val named: Set[String] = completed.iterator.flatMap(p => p :: parentOf(p).toList).toSet
      val offered = fired.toList.filter { case (f, c) =>
        val outs = c.output.materializedPaths
        val complete = outs.nonEmpty &&
          outs.forall(p => cachingProbe.isComplete(p, c.output.source.protocol))
        val stale = complete && staleOutput(c)
        if (complete && !stale) {
          if (f.dropped || f.open.forall(named)) dropUnsettled(f) else f.dropped = true
        } else if (!stale) f.open.filter(named).foreach(settleIn(f, _))
        !complete || stale
      }
      fold() // bound the log across restarts
      offered.map(_._2)
    }.getOrElse(Nil)
  }

  private def replay(log: IndexedSeq[(String, Boolean)]): Unit = {
    // the newest complete snapshot: its last record, preceded by the
    // size - 1 others. Everything before it is subsumed by it; last = -1
    // when there is none: replay the whole log
    var last = log.length - 1
    var records = IndexedSeq.empty[WalRecord.Snap]
    while (records.isEmpty && last >= 0) {
      WalRecord.parse(log(last)._1) match {
        case Some(r: WalRecord.Snap) if r.serial == r.size - 1 && r.size <= last + 1 =>
          val recs = (last + 1 - r.size to last).flatMap(i =>
            WalRecord.parse(log(i)._1).collect { case s: WalRecord.Snap if s.snap == r.snap => s })
          if (recs.length == r.size) records = recs else last -= 1
        case _ => last -= 1
      }
    }
    val byId = routes.iterator.map(r => r.id -> r).toMap
    val decoded = scala.collection.mutable.HashMap.empty[String, List[Offer]]
    def rebuild(r: Route, createdAtMillis: Long,
                receipts: List[(String, Boolean)]): RuntimeLinkNode = {
      val n = r.newNode(createdAtMillis)
      receipts.foreach { case (p, b) =>
        decoded.getOrElseUpdate(p, decode(p)).foreach(o =>
          if (r.accepts(o)) n.offer(o, b))
      }
      n
    }
    val restored = scala.collection.mutable.LinkedHashMap.empty[Route, Vector[RuntimeLinkNode]]
    records.foreach {
      case WalRecord.Node(_, _, _, id, at, receipts) => byId.get(id).foreach { r =>
        val n = rebuild(r, at, receipts)
        if (!n.isZombie && n.ready.nonEmpty)
          restored(r) = restored.getOrElse(r, Vector.empty) :+ n
      }
      case WalRecord.Fired(_, _, _, id, receipts, dropped) => byId.get(id).foreach { r =>
        val n = rebuild(r, System.currentTimeMillis(), receipts)
        restoringDropped = dropped
        try if (!n.isZombie && n.allSignalsReady) r.fire(n, cachingProbe)
        finally restoringDropped = false
      }
      case WalRecord.Empty(_) => ()
    }
    restored.foreach { case (r, ns) => r.restore(ns) }
    ((last + 1) until log.length).foreach { i =>
      val (p, blocked) = log(i)
      if (!WalRecord.isRecord(p)) receivePath(p, blocked)
      else WalRecord.parse(p) match {
        case Some(WalRecord.Swept(now, only, fired)) =>
          routes.foreach(r => if (only.forall(_ == r.id)) r.expireNodes(now))
          fired.foreach { case (id, path) =>
            byId.get(id).foreach(_.fireLogged(path, cachingProbe)) }
        case _ => ()
      }
    }
  }

  /** Ingest a raw physical path event: decode against every route input
    * (reference event classification + RouteIndex.find). Data-FILE events
    * normalize to their partition dir first — a `part-*` object creation is
    * the completion indicator of its partition (reference
    * processor/aws.py:2850-2861 normalizes `part-00000`; Spark writers emit
    * `part-<n>-<uuid>` so any part file counts here). */
  def receivePath(path: String, isBlocked: Boolean = false): List[ExecutionContext] =
    synchronized {
      val p = new org.apache.hadoop.fs.Path(path)
      // getParent.toString keeps the scheme/authority — toUri.getPath
      // stripped them, so scheme-qualified part-file events could never
      // match their route's rootPath
      val normalized =
        if (p.getName.startsWith("part-")) p.getParent.toString else path
      decode(normalized).flatMap(dispatch(_, isBlocked))
    }

  /** The events of a normalized path, one per resource: the values of the
    * first decoder, in declaration order, whose filter admits the path.
    * Nested source roots are legal (boundary-aware prefix decode), so one
    * path can decode against SEVERAL resources — dispatch every DISTINCT
    * RESOURCE, not just the first. One event per resource, not per
    * decoder: dispatch already fans a resource's event out to every
    * matching route — per-alias dispatch would multiply deliveries.
    * Every codec at those roots parses the path, admitted or not, so a
    * segment one of them cannot parse throws wherever it sits. */
  private def decode(normalized: String): List[Offer] = {
    var parsedBy: EventDecoder.Codec = null
    var parsed: Option[IndexedSeq[graft.dimension.DimValue]] = None
    var out = List.empty[(EventDecoder, IndexedSeq[graft.dimension.DimValue])]
    ancestorPrefixes(normalized).foreach { r =>
      decodersByRoot.getOrElse(r, Nil).foreach { d =>
        if (!(d.codec eq parsedBy)) { parsedBy = d.codec; parsed = d.values(normalized) }
        val src = d.source
        if (!out.exists { case (o, _) =>
              o.source.kind == src.kind && o.source.rootPath == src.rootPath })
          parsed.filter(d.admits).foreach(vs => out ::= ((d, vs)))
      }
    }
    out.reverse.map { case (d, vs) => new Offer.OfPath(d.source, vs, findDecoder) }
  }

  /** Re-run every route's pending completion checks without an event
    * (the orchestration-cycle sweep; see [[Route.sweep]]).
    *
    * Three phases so event ingestion NEVER waits on probe I/O (r13 —
    * previously the probes ran under the table monitor and a slow
    * remote store starved `receive()` for the whole sweep):
    * snapshot the armed nodes' probe targets under the monitor (no
    * I/O; a node not armed can only wait for events), probe them OUTSIDE
    * it with bounded parallelism, then run the normal sweep under the
    * monitor against the pre-probed snapshot.
    * Targets that appear between the phases (a pending node created by
    * a concurrent event) miss the snapshot and fall through to a live
    * probe under the monitor — bounded by the handful of new nodes, not
    * by the waiting backlog. */
  def sweepPending(nowMillis: Long = System.currentTimeMillis()): List[ExecutionContext] =
    sweepWhere(None, nowMillis)

  /** [[sweepPending]] narrowed to ONE route (reference
    * update_active_route_status → check_active_route). */
  def sweepPendingRoute(id: String,
                        nowMillis: Long = System.currentTimeMillis())
      : List[ExecutionContext] =
    sweepWhere(Some(id), nowMillis)

  private def sweepWhere(only: Option[String],
                         nowMillis: Long): List[ExecutionContext] = {
    val sel = (r: Route) => only.forall(_ == r.id)
    val perRoute = synchronized {
      routes.filter(r => sel(r) && r.pendingNodes.nonEmpty)
        .map(r => r -> r.pendingNodes.filter(_.armed).flatMap(_.probeTargets))
    }
    val (snap, failedKeys) = probeOutsideMonitor(perRoute.iterator.flatMap(_._2))
    synchronized {
      // attribute this tick's probe failures to the routes whose pending
      // nodes own the failing targets (a shared target counts on every
      // route waiting on it — each one's completion is equally stalled)
      if (failedKeys.nonEmpty) perRoute.foreach { case (r, ts) =>
        r.noteProbeFailures(
          ts.distinct.count { case (p, proto) =>
            probeKeys(p, proto).exists(failedKeys.contains) })
      }
      val sp = new SnapshotProbe(cachingProbe, snap)
      val swept = routes.filter(r => sel(r) && r.pendingNodes.nonEmpty)
      checkpoint match {
        case None => swept.flatMap(_.sweep(sp, nowMillis))
        case Some(cp) =>
          // log what no event replays: the sweep's expiries and firings
          val expired0 = swept.map(_.counters.pendingExpired).sum
          val fired = scala.collection.mutable.ListBuffer.empty[(String, String)]
          sweepFired = fired
          val ctxs = try swept.flatMap(_.sweep(sp, nowMillis)) finally sweepFired = null
          if (fired.nonEmpty || swept.map(_.counters.pendingExpired).sum > expired0) {
            cp.appendEvent(WalRecord.swept(nowMillis, only, fired.toList), false)
            maybeCompact(1)
          }
          ctxs
      }
    }
  }

  /** The snapshot/failure map keys of a probe target — one derivation
    * shared by the probe phase and the per-route attribution above. A
    * FileCheck with alternative marker names yields one key PER name
    * (each probed independently; the snapshot view ORs them), so the
    * multi-name protocol costs exactly its extra exists() calls and
    * nothing structural. */
  private def probeKeys(p: String,
                        proto: graft.signal.IntegrityProtocol): Seq[String] =
    proto match {
      case graft.signal.IntegrityProtocol.None_         => Seq(p)
      case graft.signal.IntegrityProtocol.FileCheck(fs) =>
        fs.map(f => s"$p/$f")
    }

  /** Phase 2: the sweep's probe I/O, monitor-free. Results land in a
    * completion-keyed map ([[SnapshotProbe]]); a key the caching probe
    * already holds as complete is not probed (the snapshot falls back to
    * that answer). The rest are pulled from one shared index by at most
    * `graft.sweep.parallelism` workers, the calling thread among them,
    * so a 10k-node backlog against a high-latency store overlaps its
    * round-trips instead of serializing them, and a cheap store costs no
    * hand-off per key. */
  // shared probe pool, created lazily and reused across sweep ticks — a
  // per-tick fixed pool would churn up to `parallelism` threads every
  // sub-second poll. Daemon threads with core-timeout: the pool drains
  // itself to zero threads when sweeps go idle.
  private lazy val sweepParallelism =
    sys.props.getOrElse("graft.sweep.parallelism", "16").toInt
  private lazy val sweepProbePool: java.util.concurrent.ThreadPoolExecutor = {
    val par = sweepParallelism
    val tf = new java.util.concurrent.ThreadFactory {
      private val n = new java.util.concurrent.atomic.AtomicInteger()
      def newThread(r: Runnable): Thread = {
        val t = new Thread(r, s"graft-sweep-probe-${n.incrementAndGet()}")
        t.setDaemon(true); t
      }
    }
    val p = new java.util.concurrent.ThreadPoolExecutor(
      par, par, 30, java.util.concurrent.TimeUnit.SECONDS,
      new java.util.concurrent.LinkedBlockingQueue[Runnable](), tf)
    p.allowCoreThreadTimeOut(true)
    p
  }

  private def probeOutsideMonitor(
      targets: Iterator[(String, graft.signal.IntegrityProtocol)])
      : (java.util.concurrent.ConcurrentHashMap[String, java.lang.Boolean],
         Set[String]) = {
    val snap = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Boolean]()
    val seen = new java.util.HashSet[String]()
    val keys = targets.flatMap { case (p, proto) =>
      probeKeys(p, proto).iterator
        .filter(k => !cachingProbe.holds(k) && seen.add(k)).map(k => (p, proto, k))
    }.toArray
    if (keys.isEmpty) return (snap, Set.empty)
    // Per-target fault isolation: a probe that throws (bad mount,
    // permissions, a flaky endpoint) folds to incomplete-FOR-THIS-SWEEP
    // on ITS key only — the snapshot records `false`, so the sweep
    // neither fires that node nor falls through to a live re-probe
    // under the monitor. Without this, one persistently-failing path
    // aborted every route's sweep tick fleet-wide, forever. Transient
    // faults self-heal on a later sweep; the pending node keeps waiting.
    val failures = new java.util.concurrent.ConcurrentHashMap[String, Throwable]()
    val next = new java.util.concurrent.atomic.AtomicInteger()
    val work: Runnable = () => {
      var i = next.getAndIncrement()
      while (i < keys.length) {
        val (p, proto, key) = keys(i)
        try {
          val ok = proto match {
            case graft.signal.IntegrityProtocol.None_ =>
              cachingProbe.isComplete(p, proto)
            case graft.signal.IntegrityProtocol.FileCheck(_) =>
              // per-NAME key: one exists() per alternative marker
              cachingProbe.exists(key)
          }
          snap.put(key, ok)
        } catch {
          case scala.util.control.NonFatal(e) =>
            snap.put(key, java.lang.Boolean.FALSE)
            failures.put(key, e)
        }
        i = next.getAndIncrement()
      }
    }
    // I/O-bound round-trips: size to the store's latency×throughput
    // (-Dgraft.sweep.parallelism=64 for a 50 ms object store)
    val helpers = (1 until math.min(sweepParallelism, keys.length))
      .map(_ => sweepProbePool.submit(work))
    try work.run()
    finally helpers.foreach { f =>
      try f.get()
      catch { case e: java.util.concurrent.ExecutionException =>
        throw e.getCause } // only fatal errors escape a probe
    }
    if (!failures.isEmpty) warnProbeFailures(failures)
    (snap, scala.jdk.CollectionConverters.SetHasAsScala(
      failures.keySet()).asScala.toSet)
  }

  // Rate-limited (one line per window, default 10 s) so a permanently
  // broken path doesn't flood the log at sub-second sweep cadence.
  private val lastProbeWarnMillis = new java.util.concurrent.atomic.AtomicLong(0L)
  private def warnProbeFailures(
      failures: java.util.Map[String, Throwable]): Unit = {
    val windowMs = sys.props.getOrElse("graft.sweep.warn.interval.ms", "10000").toLong
    val now = System.currentTimeMillis()
    val last = lastProbeWarnMillis.get()
    if (now - last >= windowMs && lastProbeWarnMillis.compareAndSet(last, now)) {
      val it = failures.entrySet().iterator()
      val first = it.next()
      org.slf4j.LoggerFactory.getLogger(classOf[RoutingTable]).warn(
        s"sweep: ${failures.size} probe target(s) failed this tick and were " +
          s"treated as incomplete (first: ${first.getKey} -> " +
          s"${first.getValue.getClass.getSimpleName}: ${first.getValue.getMessage}); " +
          "other targets were unaffected")
    }
  }

  /** One-sweep snapshot view: answers completion checks from the
    * pre-probed results (NEGATIVES included — the caching probe only
    * memoizes positives, and re-probing every miss under the monitor is
    * exactly the starvation being avoided), falling back to the live
    * probe for anything outside the snapshot. */
  private final class SnapshotProbe(
      live: CachingProbe,
      snap: java.util.Map[String, java.lang.Boolean]) extends PathProbe {
    def exists(path: String): Boolean = {
      val c = snap.get(path)
      if (c != null) c.booleanValue else live.exists(path)
    }
    override def isComplete(path: String,
                            protocol: graft.signal.IntegrityProtocol): Boolean =
      protocol match {
        case graft.signal.IntegrityProtocol.None_ =>
          // keyed by the partition path; the snapshot value came through
          // the live probe's protocol-aware check (mid-write guard incl.)
          val c = snap.get(path)
          if (c != null) c.booleanValue else live.isComplete(path, protocol)
        case graft.signal.IntegrityProtocol.FileCheck(fs) =>
          fs.exists(f => exists(s"$path/$f"))
      }
  }

  /** Pre-seed known-complete paths (transfer_ranges analog). */
  def markComplete(paths: Iterable[String]): Unit = synchronized {
    cachingProbe.markComplete(paths)
    if (!replaying)
      paths.foreach(p => checkpoint.foreach(_.appendCompleted(p)))
    // settle the contexts whose output this path, or a marker under it, names
    if (unsettledByPath.nonEmpty) paths.foreach { p =>
      settle(p)
      parentOf(p).foreach(settle)
    }
  }
}

/** Path utilities shared by the table- and shard-level dispatch
  * indexes. */
private[routing] object RoutingPaths {
  /** Every ancestor prefix of `path` (deepest first), cut at '/'. */
  def ancestorPrefixes(path: String): List[String] = {
    val norm = path.stripSuffix("/")
    var acc = List(norm)
    var cur = norm
    var i = cur.lastIndexOf('/')
    while (i > 0) {
      cur = cur.substring(0, i)
      acc = cur :: acc
      i = cur.lastIndexOf('/')
    }
    acc.reverse // deepest (most specific) first
  }
}
