package graft.routing

import graft.dimension._
import graft.signal._

/** Pluggable existence probe for completion ("range/integrity") checks.
  * Single point of I/O for the orchestrator — production impl uses Hadoop
  * FileSystem; tests use an in-memory set.
  * Reference: _SignalRangeAnalyzer, routing_runtime_constructs.py:47-221. */
trait PathProbe {
  def exists(path: String): Boolean
  /** Resource is complete when its protocol resource exists. */
  def isComplete(path: String, protocol: IntegrityProtocol): Boolean = protocol match {
    case IntegrityProtocol.None_ => exists(path)
    // alternatives in order: ANY listed marker completes the partition
    case IntegrityProtocol.FileCheck(fs) => fs.exists(f => exists(s"$path/$f"))
  }
}

/** Memoizing wrapper: completed paths never get re-probed (reference
  * completed-path cache, routing_runtime_constructs.py:317-330). One
  * entry per path tells paths marked complete (the routing table's
  * persisted completed set) from positive probe answers (remembered for
  * this process only). */
final class CachingProbe(underlying: PathProbe) extends PathProbe {
  /** Known-complete paths: TRUE when marked, FALSE when probed. */
  private val known =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Boolean]()
  def exists(path: String): Boolean =
    known.containsKey(path) || {
      val ok = underlying.exists(path)
      if (ok) known.putIfAbsent(path, java.lang.Boolean.FALSE)
      ok
    }
  /** Delegate protocol-less completeness to the UNDERLYING probe (which
    * may be stricter than bare existence — see FsProbe's mid-write
    * guard), still honoring the pre-seeded completion cache; marker
    * protocols keep probing the marker through the memoized exists. */
  override def isComplete(path: String, protocol: IntegrityProtocol): Boolean =
    protocol match {
      case IntegrityProtocol.None_ =>
        known.containsKey(path) || {
          val ok = underlying.isComplete(path, protocol)
          if (ok) known.putIfAbsent(path, java.lang.Boolean.FALSE)
          ok
        }
      case IntegrityProtocol.FileCheck(fs) =>
        fs.exists(f => exists(s"$path/$f"))
    }
  /** Cross-node range transfer: pre-seed known-complete resources
    * (reference transfer_ranges, routing_runtime_constructs.py:370-395). */
  def markComplete(paths: Iterable[String]): Unit =
    paths.foreach(known.put(_, java.lang.Boolean.TRUE))
  /** Is `path` already known complete (marked, or probed positive)? */
  def holds(path: String): Boolean = known.containsKey(path)
  /** Every path [[markComplete]] was given. */
  def markedPaths: Seq[String] = {
    val b = Vector.newBuilder[String]
    known.forEach((p, marked) => if (marked) b += p)
    b.result()
  }
}

/** Runtime instantiation of a SignalLinkNode: accumulates ready signals
  * until every non-reference input's linked dimension tips align, then the
  * node is ready to trigger. This is the engine's N-way *event-coincidence
  * join*. Reference: RuntimeLinkNode, routing_runtime_constructs.py:228-722.
  */
final class RuntimeLinkNode(
    val node: SignalLinkNode,
    val output: Signal,
    val outputLinks: List[DimensionLink],
    val createdAtMillis: Long = System.currentTimeMillis()) {

  /** Stable-for-this-process handle for the introspection/delete surface
    * (reference pending node ids, persisted in DynamoDB RouteRecords;
    * here regenerated on WAL replay — a restart re-lists before deleting). */
  val id: String = java.util.UUID.randomUUID().toString.take(8)

  private var readySignals: List[Signal] = Nil
  private val processedPaths = scala.collection.mutable.Set.empty[String]
  private val blockedPaths = scala.collection.mutable.Set.empty[String]
  /** The offers that changed this node's state, newest first. */
  private var receiptsRev: List[(String, Boolean)] = Nil
  private var zombie = false
  private var armedNow = false
  /** Highest pending-node checkpoint mark (secs) already fired for this
    * node (reference last_checkpoint_mark, constructs.py:2812-2817). */
  private[routing] var lastCheckpointMark: Long = 0L

  def ready: List[Signal] = readySignals

  /** Can never fire: a declared filter rejects what its links imply, or a
    * link mapper threw. */
  def isZombie: Boolean = zombie

  /** Every input is ready and the node is no zombie: only completion
    * probes stand between it and firing, so only an armed node is worth
    * a sweep's look. Updated by each offer, the only thing that changes
    * either. */
  def armed: Boolean = armedNow

  /** (tip path, blocked) of every offer that changed this node's ready
    * signals or blocked paths, in arrival order. An offer that changed
    * neither left the node as it was, so offering these alone to a fresh
    * node, decoded as the table decodes events, rebuilds this node: its
    * snapshot record ([[WalRecord.Node]]). */
  def receipts: List[(String, Boolean)] = receiptsRev.reverse

  /** Paths this node holds blocked. */
  private[routing] def blocked: Set[String] = blockedPaths.toSet

  /** The path that created this node (its first receipt). */
  def firstPath: Option[String] = receiptsRev.lastOption.map(_._1)

  /** Tips aligned check (J1): every link between an already-ready signal and
    * the candidate must map to the candidate's tip value.
    * Reference: _check_links, routing_runtime_constructs.py:474-500. */
  private def checkLinks(candidate: Signal): Boolean = {
    val into = node.linksInto(candidate.alias)
    readySignals.forall { rs =>
      into.getOrElse(rs.alias, node.linksBetween(rs.alias, candidate.alias)).forall { link =>
        val tgtDim = link.target.dim
        val mappedOpt: Option[DimValue] = link.source match {
          case LinkSource.FromDim(r) => rs.tipValue(r.dim).map(link.func)
          case LinkSource.FromDims(refs, f) =>
            // N->1: every source dim's tip must be present to evaluate
            val vs = refs.map(r => rs.tipValue(r.dim))
            if (vs.forall(_.isDefined)) Some(f(vs.map(_.get))) else None
          // unknown/literal link sources impose no tip constraint; None
          // falls through to the pass case below — a non-local `return`
          // here would skip validating every REMAINING link and signal
          case _ => None
        }
        (mappedOpt, candidate.tipValue(tgtDim)) match {
          case (Some(mapped), Some(cv)) =>
            cv.matchesValue(mapped) || mapped.matchesValue(cv)
          case (_, None) =>
            throw new IllegalStateException(
              s"candidate ${candidate.alias} lacks linked dim $tgtDim")
          case _ => true
        }
      }
    }
  }

  /** Offer an incoming concrete signal (J7 receive). Returns true if
    * consumed. Reference: receive, routing_runtime_constructs.py:616-675. */
  def receive(incoming: Signal): Boolean = receive(incoming, isBlocked = false)

  /** `isBlocked` marks the event's resources as blocked (reference
    * _update_blocked_ranges, routing_runtime_constructs.py:397-472): the
    * signal is admitted but the node won't fire while any ready resource is
    * blocked; a later un-blocked event for the same path clears it. */
  def receive(incoming: Signal, isBlocked: Boolean): Boolean =
    offer(Offer.of(incoming), isBlocked)

  /** [[receive]] of an event whose candidates the caller shares. */
  private[routing] def offer(o: Offer, isBlocked: Boolean): Boolean = {
    val paths = o.paths
    val blockChanged = paths.foldLeft(false) { (changed, p) =>
      (if (isBlocked) blockedPaths.add(p) else blockedPaths.remove(p)) || changed
    }
    val before = readySignals
    val consumed = consume(o)
    if ((blockChanged || (readySignals ne before)) && paths.nonEmpty)
      receiptsRev ::= ((paths.head, isBlocked))
    armedNow = !zombie && allSignalsReady
    consumed
  }

  private def consume(o: Offer): Boolean = {
    if (o.paths.forall(processedPaths.contains)) return true

    var consumed = false
    // every declared input sharing the resource sees the event (multi-alias
    // inputs over one dataset are legal, reference advanced_input_modes)
    node.signals.foreach { declared =>
      o.candidate(declared) match {
        case None => // other resource, or its filter rejected this event
        case Some(candidate) =>
          // containment for the OTHER user-mapper path (reverseMaterialize
          // has its own): a throwing link mapper — or a malformed link
          // target — escaping here kills the driver's event-ingestion
          // loop AND wedges WAL recovery forever (the event is already
          // logged; replay re-throws on every restart). The node can
          // never fire consistently with its links: zombie it so the
          // sweep reaps it.
          val linksOk =
            try checkLinks(candidate)
            catch { case scala.util.control.NonFatal(_) =>
              zombie = true
              false
            }
          if (linksOk) {
            if (readySignals.exists(_.alias == candidate.alias)) {
              // duplicate for an already-ready input (e.g. reference auto-added)
              if (candidate.isReference || candidate.nearestTheTip) consumed = true
            } else {
              readySignals :+= candidate
              processedPaths ++= o.paths
              reverseMaterialize()
              consumed = true
            }
          }
      }
    }
    consumed
  }

  /** The inputs reverse-materialized from the partially-materialized
    * output, computed once per newly ready signal and read twice:
    *  - zombie prediction (J3): if any violates its declared filter, the
    *    node can never complete (reference predict_if_zombie,
    *    routing_runtime_constructs.py:547-614);
    *  - dependent resolution (J2): reference/nearest inputs never get
    *    events, so they are derived here once materializable (reference
    *    _check_dependents, routing_runtime_constructs.py:502-545).
    * Any failure (a missing linked dim, a user link mapper throwing on an
    * unexpected tip value) makes the node a zombie instead of escaping
    * into — and killing — the driver's event-ingestion loop. */
  private def reverseMaterialize(): Unit = {
    val inputs =
      try node.materializedInputsForOutput(
        materializeOutput(force = true), outputLinks,
        alreadyMaterialized = readySignals, enforceAll = false)
      catch { case scala.util.control.NonFatal(_) => zombie = true; None }
    inputs.foreach { ins =>
      // an input materialized to an empty filter = declared filter
      // rejected it. Dimension-less inputs (reference lookups) have an
      // empty filter BY CONSTRUCTION — they can never be rejected.
      if (ins.exists(i => i.dimNames.nonEmpty && i.filter.isEmpty)) zombie = true
      ins.foreach { m =>
        if ((m.isReference || m.nearestTheTip) &&
            !readySignals.exists(_.alias == m.alias) && m.isMaterialized)
          readySignals :+= m
      }
    }
  }

  /** All non-reference inputs ready (references resolved transitively)? */
  def allSignalsReady: Boolean =
    node.signals.forall(s => readySignals.exists(_.alias == s.alias))

  /** Full readiness: signals ready + completion checks pass (J5).
    * `nearestTheTip` inputs narrow to the first existing partition. */
  def isReady(probe: PathProbe): Boolean = {
    if (!armedNow) false
    else readySignals.forall { s =>
      val unblocked = blockedPaths.isEmpty ||
        s.materializedPaths.forall(p => !blockedPaths.contains(p))
      unblocked && {
        if (s.nearestTheTip) nearestExisting(s, probe).isDefined
        else if (s.rangeCheckRequired)
          s.materializedPaths.forall(p => probe.isComplete(p, s.source.protocol))
        else true
      }
    }
  }

  /** First existing partition in range (S4/nearest semantics, fail-fast
    * ordered probe; reference glueetl_default_ABI.py:283-284). */
  def nearestExisting(s: Signal, probe: PathProbe): Option[String] =
    RuntimeLinkNode.nearestExisting(s, probe)

  /** The (path, protocol) pairs [[isReady]] (and the subsequent
    * nearest-narrowing) would probe — enumerated WITHOUT any I/O, so the
    * table sweep can run the probes outside its monitor and feed the
    * results back through a snapshot probe. Must stay in lockstep with
    * [[isReady]]'s probe set (a missed target only costs a live probe
    * under the monitor, never a wrong answer). */
  def probeTargets: List[(String, IntegrityProtocol)] =
    if (!armedNow) Nil
    else readySignals.flatMap { s =>
      if (s.nearestTheTip || s.rangeCheckRequired)
        s.materializedPaths.map(p => (p, s.source.protocol))
      else Nil
    }

  /** Materialize the output's partition tuple from ready-signal tips
    * through the output link matrix (J6). Reference: materialize_output,
    * routing_runtime_constructs.py:677-722. */
  def materializeOutput(force: Boolean = false): Signal = {
    require(force || allSignalsReady, "node not ready")
    val values: Map[String, Any] = output.dimNames.flatMap { od =>
      val tgt = DimRef("output", od)
      val linked: Option[Any] = outputLinks.collectFirst {
        case DimensionLink(`tgt`, LinkSource.FromDim(DimRef(a, sd)), f) =>
          readySignals.find(_.alias == a).flatMap(_.tipValue(sd)).map(v => f(v).rawValue)
        case DimensionLink(`tgt`, LinkSource.FromDims(rs, f), _) if rs.nonEmpty =>
          // N->1 toward the output: all source tips of the one signal
          readySignals.find(_.alias == rs.head.alias).flatMap { s =>
            val vs = rs.map(r => s.tipValue(r.dim))
            if (vs.forall(_.isDefined)) Some(f(vs.map(_.get)).rawValue) else None
          }
        case DimensionLink(`tgt`, LinkSource.LiteralValue(v), _) => Some(v)
      }.flatten
      // auto-bind by dim-name equality against any ready signal
      val auto: Option[Any] = readySignals.view
        .flatMap(_.tipValue(od)).headOption.map(_.rawValue)
      linked.orElse(auto).map(od -> _)
    }.toMap
    output.materializeWith(values)
  }

  /** Final ready inputs for compute, nearest inputs narrowed to their
    * satisfied partition. */
  def materializedInputs(probe: PathProbe): List[Signal] =
    readySignals.map(RuntimeLinkNode.narrowNearest(_, probe))
}

object RuntimeLinkNode {
  /** First existing partition in range (S4/nearest) — shared by the
    * event path ([[RuntimeLinkNode.materializedInputs]]) and manual
    * execution ([[graft.app.Application!.execute]]); the two must never
    * disagree about which partition a slot receives. */
  def nearestExisting(s: Signal, probe: PathProbe): Option[String] =
    s.materializedPaths.find(p => probe.isComplete(p, s.source.protocol))

  /** Narrow a nearest input to its satisfied partition (identity for
    * non-nearest signals or when nothing exists yet). */
  def narrowNearest(s: Signal, probe: PathProbe): Signal =
    if (s.nearestTheTip)
      nearestExisting(s, probe).flatMap(new EventDecoder(s).signalAt).getOrElse(s)
    else s
}
