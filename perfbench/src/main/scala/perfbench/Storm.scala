package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.hadoop.conf.Configuration
import graft.dimension._
import graft.routing._
import graft.signal._

/** `routing_storm`: the router alone. A round declares every route on a
  * fresh `RoutingTable` whose WAL is a `RoutingCheckpoint` on local disk
  * with live compaction, then replays the seeded event stream. Each
  * triggered context "executes" synchronously — its output's `_SUCCESS`
  * lands and is marked complete, then the output path is received — so one
  * op is one event plus its feed-back cascade. A sweep runs on a synthetic
  * clock that advances one hour per sweep, so TTL expiry repeats exactly.
  * The timed phase runs one round per `RoundSeconds` of the run's time, a
  * fixed count, so that every run warms the JIT by as many rounds. After
  * each round, fresh tables recover from its WAL (the driver-failover
  * time). */
object Storm {
  private val HourMs = 3600L * 1000
  private val TtlMs = HourMs * 5 / 2
  private val CompactEvery = 200
  /** Nominal duration of one round, which turns `--seconds` into a round
    * count. */
  private val RoundSeconds = 1.2
  /** Untimed recoveries in set-up, and timed ones after each timed round. */
  private val WarmRecovers = 2
  private val RecoversPerRound = 2
  private val daySpec = DimSpec.pretty(
    "day" -> (DimType.DATETIME, Map[String, Any]("format" -> "%Y-%m-%d")))

  sealed trait Ev
  final case class Land(source: Int, day: Int) extends Ev
  case object Sweep extends Ev
  final case class RouteDef(id: String, ttl: Boolean, inputs: Seq[String])
  final case class Spec(firstDay: java.time.LocalDate, routes: Seq[RouteDef], events: Seq[Ev])

  def readSpec(path: String): Spec = {
    var first: java.time.LocalDate = null
    val routes = ArrayBuffer.empty[RouteDef]
    val events = ArrayBuffer.empty[Ev]
    scala.io.Source.fromFile(path).getLines().foreach { l =>
      val f = l.split(' ')
      f(0) match {
        case "D" => first = java.time.LocalDate.parse(f(1))
        case "R" => routes += RouteDef(f(1), f(2) == "1", f.drop(3).toSeq)
        case "E" => events += Land(f(1).toInt, f(2).toInt)
        case "S" => events += Sweep
      }
    }
    Spec(first, routes.toSeq, events.toSeq)
  }

  private def rawRoot(i: Int) = s"/storm/src/s$i"
  private val appRoot = "/storm/app"

  /** Declare the routes: signal construction, auto links, output filter
    * derivation — the per-route cost `dimension.declare_ms_per_route`
    * measures, together with `RoutingTable.add`. */
  def declare(spec: Spec): Seq[Route] = {
    val ids = spec.routes.map(_.id)
    def day(d: Int) = spec.firstDay.plusDays(d.toLong).toString
    spec.routes.map { r =>
      val signals = r.inputs.zipWithIndex.map { case (in, k) =>
        val parts = in.split(':')
        val src = parts(1) match {
          case s if s.startsWith("s") => SignalSource.external(rawRoot(s.tail.toInt))
          case s => SignalSource.internal(appRoot, ids(s.tail.toInt))
        }
        val base = Signal(s"i$k", src, daySpec, DimFilter.allPassFor(daySpec))
        def ranged(n: String) = base.filter.chain(
          DimFilter.loadRaw(daySpec, DimFilter.RawFilter.chainOf(s"_:-$n"))).get
        parts(0) match {
          case "p" => base
          case "g" => base.copy(filter = ranged(parts(2)), rangeCheckRequired = true)
          case "f" => base.copy(isReference = true, rangeCheckRequired = true)
          case "n" => base.copy(filter = ranged(parts(2)), isReference = true,
            nearestTheTip = true)
          case "z" => base.copy(filter = DimFilter.loadRaw(daySpec,
            DimFilter.RawFilter.leafValues(parts(2).split(',').map(d => day(d.toInt)).toSeq: _*)))
        }
      }
      val node = SignalLinkNode(signals.toList).withAutoLinks
      val out = Signal(r.id, SignalSource.internal(appRoot, r.id), daySpec,
        node.deriveOutputFilter(daySpec, Nil))
      new Route(r.id, node, out, Nil, if (r.ttl) TtlMs else Long.MaxValue)
    }
  }

  /** Storage as the router sees it: landed partitions and `_SUCCESS`
    * markers. Counts the probe calls that reach it. */
  final class MemProbe extends PathProbe {
    val landed = new java.util.HashSet[String]()
    var calls = 0L
    var ns = 0L
    def exists(p: String): Boolean = {
      calls += 1
      if (Trace.on) { val t = System.nanoTime(); val r = landed.contains(p); ns += System.nanoTime() - t; r }
      else landed.contains(p)
    }
  }

  /** Delegating WAL that times appends and compactions (traced rounds). */
  final class TimedWal(u: RoutingWal) extends RoutingWal {
    var appendNs, appends, bytes, compactNs, compacts = 0L
    private def timed[T](body: => T)(add: Long => Unit): T = {
      val t = System.nanoTime(); try body finally add(System.nanoTime() - t)
    }
    private def rec(kind: String, p: String): Unit = { appends += 1; bytes += kind.length + p.length + 2 }
    def appendEvent(p: String, blocked: Boolean): Unit = {
      timed(u.appendEvent(p, blocked))(appendNs += _); rec(if (blocked) "eb" else "e", p)
    }
    def appendCompleted(p: String): Unit = { timed(u.appendCompleted(p))(appendNs += _); rec("c", p) }
    def compact(events: Seq[(String, Boolean)], completed: Seq[String]): Unit =
      timed(u.compact(events, completed)) { d => compactNs += d; compacts += 1 }
    def load(): Option[(List[(String, Boolean)], List[String])] =
      timed(u.load())(compactNs += _) // only live compaction loads the log
    override def flush(): Unit = u.flush()
    def close(): Unit = u.close()
    override def dispose(): Unit = u.dispose()
  }

  final case class RoundOut(fired: Seq[(String, String)], loopMs: Double,
                            landed: java.util.Set[String])

  def run(cfg: Config, res: Result): Unit = {
    val conf = new Configuration()
    var round = 0
    var spec: Spec = null
    def walDir = s"${cfg.work}/wal/round-$round"
    def oneRound(timed: Boolean, traced: Boolean): RoundOut = {
      if (round > 0) deleteTree(new java.io.File(walDir))
      round += 1
      Trace.on = traced
      try stormRound(spec, walDir, conf, timed, res)
      finally Trace.on = false
    }
    // set-up: read the spec, one untimed warm-up round, which declares
    // every route, and untimed warm-up recoveries of its WAL
    spec = readSpec(s"${cfg.input}/storm.txt")
    val warm = oneRound(timed = false, traced = false)
    for (_ <- 0 until WarmRecovers) failover(spec, walDir, warm.landed, conf)
    res.setupS = (Trace.nowMs - Main.jvmStartMs) / 1000
    // distinct fired multisets seen, and which one each timed round produced
    val outcomes = ArrayBuffer.empty[Seq[(String, String)]]
    val roundOutcome = ArrayBuffer.empty[Int]
    // per timed round, the contexts each of its recoveries re-surfaced
    val recovered = ArrayBuffer.empty[Seq[Seq[(String, String)]]]
    var loopMs, gcMs, allocB = 0.0
    // each timed round is followed by timed recoveries of its WAL, so the
    // recoveries spread over the whole run, as the rounds do
    for (_ <- 0 until math.max(2, math.ceil(cfg.seconds / RoundSeconds).toInt)) {
      val gc0 = Main.gcMs(); val alloc0 = Main.allocatedBytes()
      val out = oneRound(timed = true, traced = cfg.trace)
      gcMs += Main.gcMs() - gc0; allocB += Main.allocatedBytes() - alloc0
      loopMs += out.loopMs
      val i = outcomes.indexOf(out.fired)
      roundOutcome += (if (i >= 0) i else { outcomes += out.fired; outcomes.length - 1 })
      recovered += (0 until RecoversPerRound).map { _ =>
        val (s, ctxs) = failover(spec, walDir, out.landed, conf)
        res.recovers += s
        ctxs
      }
    }
    res.timedS = loopMs / 1000
    res.gcMs = gcMs
    res.allocMb = allocB / 1048576.0
    res.liveHeapMb = Main.liveHeapMb()
    res.extra("recovered") = recovered.toSeq.map(_.map(_.map { case (r, d) => Seq(r, d) }))
    res.extra("events_per_round") = spec.events.count(_ != Sweep)
    res.extra("round_outcome") = roundOutcome.toSeq
    res.extra("outcomes") = outcomes.toSeq.map(_.map { case (r, d) => Seq(r, d) })
  }

  private def stormRound(spec: Spec, walDir: String, conf: Configuration, timed: Boolean,
                         res: Result): RoundOut = {
    val traced = Trace.on
    val probe = new MemProbe
    val cp = new RoutingCheckpoint(s"$walDir/routing_state.json", conf)
    val wal = if (traced) new TimedWal(cp) else cp
    val tDecl = System.nanoTime()
    val table = new RoutingTable(probe, Some(wal), CompactEvery)
    val routes = declare(spec)
    routes.foreach(table.add)
    val declNs = System.nanoTime() - tDecl
    def day(d: Int) = spec.firstDay.plusDays(d.toLong).toString
    val fired = ArrayBuffer.empty[(String, String)]
    var receiveNs = 0L; var probeInReceiveNs = 0L; var walInReceiveNs = 0L
    var triggers = 0L; var sweepNs = 0L; var sweeps = 0L; var pendingPeak = 0
    var rawEvents = 0L
    val twal = wal match { case t: TimedWal => t; case _ => null }
    def receive(path: String): List[ExecutionContext] =
      if (!traced) table.receivePath(path)
      else {
        val p0 = probe.ns; val w0 = twal.appendNs + twal.compactNs
        val t = System.nanoTime()
        val r = table.receivePath(path)
        receiveNs += System.nanoTime() - t
        probeInReceiveNs += probe.ns - p0
        walInReceiveNs += twal.appendNs + twal.compactNs - w0
        r
      }
    def execute(ctxs: List[ExecutionContext]): Unit = ctxs.foreach { c =>
      triggers += 1
      val out = c.output.materializedPaths.head
      fired += ((c.routeId, out.substring(out.lastIndexOf('/') + 1)))
      probe.landed.add(s"$out/_SUCCESS")
      table.markComplete(Seq(s"$out/_SUCCESS"))
      execute(receive(out))
    }
    val thread = java.lang.management.ManagementFactory.getThreadMXBean
      .asInstanceOf[com.sun.management.ThreadMXBean]
    val alloc0 = if (traced) thread.getCurrentThreadAllocatedBytes else 0L
    val t0Wall = System.currentTimeMillis()
    val loop0 = Trace.nowMs
    var sweepNo = 0
    spec.events.foreach {
      case Land(s, d) =>
        rawEvents += 1
        val t = Trace.nowMs
        val path = s"${rawRoot(s)}/${day(d)}"
        probe.landed.add(path)
        execute(receive(path))
        if (timed) res.opMs += Trace.nowMs - t
        if (traced) pendingPeak = pendingPeak.max(table.all.map(_.pendingNodes.length).sum)
      case Sweep =>
        sweepNo += 1
        val t = System.nanoTime()
        val ctxs = table.sweepPending(t0Wall + sweepNo * HourMs)
        sweepNs += System.nanoTime() - t; sweeps += 1
        execute(ctxs)
    }
    val loopMs = Trace.nowMs - loop0
    val allocKb = if (traced) (thread.getCurrentThreadAllocatedBytes - alloc0) / 1024.0 else 0.0
    if (traced) {
      val ev = rawEvents.toDouble
      Trace.add("events", ev)
      Trace.add("routing.receive_ms", (receiveNs - probeInReceiveNs - walInReceiveNs) / 1e6)
      Trace.add("routing.probe_calls", probe.calls.toDouble)
      Trace.add("routing.triggers", triggers.toDouble)
      Trace.add("routing.pending_nodes_peak", pendingPeak.toDouble)
      Trace.add("routing.expired_nodes", table.all.map(_.counters.pendingExpired).sum.toDouble)
      Trace.add("routing.zombies_eliminated", table.all.map(_.counters.zombiesEliminated).sum.toDouble)
      Trace.add("routing.sweep_ms", sweepNs / 1e6)
      Trace.add("routing.sweeps", sweeps.toDouble)
      Trace.add("routing.alloc_kb", allocKb)
      Trace.add("routing.wal.append_ms", twal.appendNs / 1e6)
      Trace.add("routing.wal.appends", twal.appends.toDouble)
      Trace.add("routing.wal.bytes", twal.bytes.toDouble)
      Trace.add("routing.wal.compact_ms", twal.compactNs / 1e6)
      Trace.add("routing.wal.compacts", twal.compacts.toDouble)
      Trace.add("dimension.declare_ms", declNs / 1e6)
      Trace.add("dimension.routes", routes.length.toDouble)
      Trace.add("rounds", 1)
    }
    table.disposeWal() // the driver stops; its WAL stays for recovery
    RoundOut(fired.toSeq, loopMs, probe.landed)
  }

  /** Driver failover: a fresh table over the same storage recovers from a
    * copy of the WAL a round left (recovery compacts the WAL it reads).
    * Returns the seconds `recover()` took and the contexts it re-surfaced. */
  private def failover(spec: Spec, walDir: String, landed: java.util.Set[String],
                       conf: Configuration): (Double, Seq[(String, String)]) = {
    val copy = new java.io.File(s"$walDir.recover")
    deleteTree(copy)
    org.apache.commons.io.FileUtils.copyDirectory(new java.io.File(walDir), copy)
    val probe = new MemProbe
    probe.landed.addAll(landed)
    val table = new RoutingTable(probe,
      Some(new RoutingCheckpoint(s"$copy/routing_state.json", conf)), CompactEvery)
    declare(spec).foreach(table.add)
    val t = System.nanoTime()
    val ctxs = table.recover()
    val s = (System.nanoTime() - t) / 1e9
    table.disposeWal()
    deleteTree(copy)
    (s, ctxs.map { c =>
      val out = c.output.materializedPaths.head
      (c.routeId, out.substring(out.lastIndexOf('/') + 1))
    })
  }

  private def deleteTree(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }
}
