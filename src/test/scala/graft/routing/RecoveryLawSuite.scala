package graft.routing

import org.scalatest.funsuite.AnyFunSuite
import org.apache.hadoop.conf.Configuration
import graft.dimension._
import graft.signal._

/** The recovery law: a table recovered from its WAL holds what the live
  * table held. A crash right after a fold recovers exactly the live
  * table's pending nodes (route, receipts, blocked paths, creation time)
  * and unsettled contexts. At any other crash point the log's tail
  * replays through receive, which creates nodes on the recovery's clock
  * and probes storage as it is at recovery, so there the same holds for
  * routes without TTL whose readiness probes nothing. Checked on random streams over 2-/3-way joins,
  * ranges with completion checks, references, nearest inputs, filtered
  * zombies and TTL on an explicit clock, with redelivery, blocked events
  * and feed-back, for [[RoutingCheckpoint]] and [[EpochWal]] tables. */
class RecoveryLawSuite extends AnyFunSuite {

  private val daySpec = DimSpec.pretty(
    "day" -> (DimType.DATETIME, Map[String, Any]("format" -> "%Y-%m-%d")))
  private val day0 = java.time.LocalDate.of(2024, 1, 1)
  private def day(d: Int) = day0.plusDays(d.toLong).toString
  private val HourMs = 3600L * 1000
  private val appRoot = "/law/app"
  private def src(i: Int) = s"/law/s$i"
  private def outRoot(id: String) = SignalSource.internal(appRoot, id).rootPath
  private val conf = new Configuration()

  /** `p` plain, `g:n` range of n days with completion check, `f`
    * reference, `n:n` nearest over n days, `z:d,d` accepts only those
    * days, `o:id` the output of route `id`. */
  private def route(id: String, ttl: Boolean, inputs: String*): Route = {
    val signals = inputs.zipWithIndex.map { case (in, k) =>
      val parts = in.split(':')
      val source = parts(0) match {
        case "o" => SignalSource.internal(appRoot, parts(1))
        case _ => SignalSource.external(src(parts(1).toInt))
      }
      val base = Signal(s"i$k", source, daySpec, DimFilter.allPassFor(daySpec))
      def ranged(n: String) = base.filter.chain(
        DimFilter.loadRaw(daySpec, DimFilter.RawFilter.chainOf(s"_:-$n"))).get
      parts(0) match {
        case "p" | "o" => base
        case "g" => base.copy(filter = ranged(parts(2)), rangeCheckRequired = true)
        case "f" => base.copy(isReference = true, rangeCheckRequired = true)
        case "n" => base.copy(filter = ranged(parts(2)), isReference = true,
          nearestTheTip = true)
        case "z" => base.copy(filter = DimFilter.loadRaw(daySpec,
          DimFilter.RawFilter.leafValues(parts(2).split(',').map(d => day(d.toInt)).toSeq: _*)))
      }
    }
    val node = SignalLinkNode(signals.toList).withAutoLinks
    val out = Signal(id, SignalSource.internal(appRoot, id), daySpec,
      node.deriveOutputFilter(daySpec, Nil))
    new Route(id, node, out, Nil, if (ttl) 5 * HourMs / 2 else Long.MaxValue)
  }

  private val ttlRoutes = Set("ttl2")
  /** Routes without TTL whose readiness needs no storage probe. */
  private val exactAnywhere = Set("join2", "join3", "zomb", "down")
  private val specs: List[(String, Seq[String])] = List(
    "join2" -> Seq("p:0", "p:1"),
    "join3" -> Seq("p:0", "p:1", "p:2"),
    "range" -> Seq("p:1", "g:0:3"),
    "ref" -> Seq("p:1", "f:2"),
    "near" -> Seq("p:2", "n:0:3"),
    "zomb" -> Seq("z:0:1,3,5,7", "p:1"),
    "ttl2" -> Seq("p:0", "p:2"),
    "down" -> Seq("o:join2", "p:2"))
  private def routes(): List[Route] =
    specs.map { case (id, in) => route(id, ttlRoutes(id), in: _*) }

  private final class MemProbe extends PathProbe {
    val landed = scala.collection.mutable.Set.empty[String]
    def exists(p: String): Boolean = landed.contains(p)
  }

  /** Counts folds, so a check can land right after one, and runs
    * `beforeFold` as each fold starts. */
  private final class CountingWal(u: RoutingWal) extends RoutingWal {
    var folds = 0
    var beforeFold: () => Unit = () => ()
    def appendEvent(p: String, blocked: Boolean): Unit = u.appendEvent(p, blocked)
    def appendCompleted(p: String): Unit = u.appendCompleted(p)
    def compact(events: Seq[(String, Boolean)], completed: Seq[String]): Unit = {
      beforeFold(); folds += 1; u.compact(events, completed)
    }
    def load(): Option[(List[(String, Boolean)], List[String])] = u.load()
    def close(): Unit = u.close()
    override def dispose(): Unit = u.dispose()
  }

  /** A WAL kind: a fresh WAL in `dir`, and a crash copy of it for the
    * next owner. */
  private trait WalKind {
    def open(dir: String): RoutingWal
    def takeOver(dir: String): RoutingWal
  }
  private object CheckpointKind extends WalKind {
    def open(dir: String) = new RoutingCheckpoint(s"$dir/routing_state.json", conf)
    def takeOver(dir: String) = open(dir)
  }
  private object EpochKind extends WalKind {
    def open(dir: String) = new EpochWal(s"$dir/wal", conf, epoch = 1)
    def takeOver(dir: String) = new EpochWal(s"$dir/wal", conf, epoch = 2)
  }

  private type NodeState = (List[(String, Boolean)], Set[String], Long)
  private def nodes(t: RoutingTable, withTime: Boolean): Map[String, List[NodeState]] =
    t.all.map(r => r.id -> r.pendingNodes.map(n =>
      (n.receipts, n.blocked, if (withTime) n.createdAtMillis else 0L))).toMap

  private final class World(kind: WalKind, compactEvery: Int, seed: Long) {
    val dir = java.nio.file.Files.createTempDirectory("graft_law").toString
    val probe = new MemProbe
    val wal = new CountingWal(kind.open(s"$dir/live"))
    val table = new RoutingTable(probe, Some(wal), compactEvery)
    routes().foreach(table.add)
    val rnd = new scala.util.Random(seed)
    val marked = scala.collection.mutable.Set.empty[String]
    val delivered = scala.collection.mutable.ArrayBuffer.empty[String]
    var clock = System.currentTimeMillis()

    private def run(ctxs: List[ExecutionContext]): Unit = ctxs.foreach { c =>
      if (rnd.nextInt(10) < 6) {
        val o = c.output.materializedPaths.head
        probe.landed += s"$o/_SUCCESS"
        val named = if (rnd.nextBoolean()) s"$o/_SUCCESS" else o
        marked += named
        table.markComplete(Seq(named))
        run(table.receivePath(o))
      }
    }

    def step(): Unit = rnd.nextInt(20) match {
      case k if k < 13 =>
        val p = s"${src(rnd.nextInt(3))}/${day(rnd.nextInt(12))}"
        probe.landed += p
        delivered += p
        run(table.receivePath(p, isBlocked = k == 0))
      case k if k < 17 && delivered.nonEmpty =>
        run(table.receivePath(delivered(rnd.nextInt(delivered.length))))
      case _ =>
        clock += HourMs
        run(table.sweepPending(clock))
    }

    /** A fresh table recovered from a copy of the log as it stands. */
    def crash(name: String): (RoutingTable, List[ExecutionContext]) = {
      wal.close()
      org.apache.commons.io.FileUtils.copyDirectory(
        new java.io.File(s"$dir/live"), new java.io.File(s"$dir/$name"))
      val t = new RoutingTable(probe, Some(kind.takeOver(s"$dir/$name")), compactEvery)
      routes().foreach(t.add)
      val again = t.recover()
      (t, again)
    }

    /** Live unsettled contexts that recovery must keep: those whose
      * outputs the completed set does not name. */
    def expectedUnsettled: List[(String, Set[String])] =
      table.unsettledContexts.filterNot(_._2.forall(o =>
        marked(o) || marked(s"$o/_SUCCESS")))

    def check(name: String, afterFold: Boolean): Unit = {
      val (t, again) = crash(name)
      try {
        val keep = (id: String) => afterFold || exactAnywhere(id)
        val live = nodes(table, afterFold).filter(e => keep(e._1))
        val back = nodes(t, afterFold).filter(e => keep(e._1))
        assert(back == live, s"$name: pending nodes differ: " + live.keys.filter(k =>
          live(k) != back.getOrElse(k, Nil)).map(k =>
          s"$k live ${live(k)} recovered ${back.getOrElse(k, Nil)}").mkString("; "))
        val want = expectedUnsettled.filter(e => keep(e._1))
        assert(t.unsettledContexts.filter(e => keep(e._1)).toSet == want.toSet,
          s"$name: unsettled contexts differ")
        // every re-offered context is one the live table left unsettled
        assert(again.map(c => (c.routeId, c.output.materializedPaths.toSet))
          .filter(e => keep(e._1)).toSet == want.toSet, s"$name: re-offers differ")
      } finally t.disposeWal()
    }
  }

  private def law(kind: WalKind, seed: Long): Unit = {
    val w = new World(kind, compactEvery = 24, seed)
    val crashAt = Set.fill(6)(w.rnd.nextInt(600))
    var folds = w.wal.folds
    var afterFold = 0
    (0 until 600).foreach { i =>
      w.step()
      if (w.wal.folds != folds) {
        folds = w.wal.folds
        afterFold += 1
        w.check(s"fold-$i", afterFold = true)
      }
      if (crashAt(i)) w.check(s"at-$i", afterFold = false)
    }
    assert(afterFold >= 5, s"only $afterFold folds")
    assert(w.table.all.map(_.counters.zombiesEliminated).sum > 0, "no zombie")
    assert(w.table.all.map(_.counters.pendingExpired).sum > 0, "no TTL expiry")
    w.table.disposeWal()
  }

  test("recovery law on random streams: RoutingCheckpoint") {
    Seq(1L, 2L, 3L).foreach(law(CheckpointKind, _))
  }

  test("recovery law on random streams: EpochWal") {
    Seq(4L, 5L).foreach(law(EpochKind, _))
  }

  test("recovery law across sharded-driver takeovers (EpochWal)") {
    val root = java.nio.file.Files.createTempDirectory("graft_law_md").toString
    var now = 0L
    val probe = new MemProbe
    def driver(id: String) = {
      val d = new ShardedDriver(root, id, 1, probe, conf,
        leaseTimeoutMillis = 1000, clock = () => now)
      specs.foreach { case (rid, in) => d.add(() => route(rid, ttlRoutes(rid), in: _*)) }
      d
    }
    val rnd = new scala.util.Random(9)
    val marked = scala.collection.mutable.Set.empty[String]
    var d = driver("D0")
    assert(d.tryAcquireShard(0).isDefined)
    def run(ctxs: List[ExecutionContext]): Unit = ctxs.foreach { c =>
      if (rnd.nextInt(10) < 6) {
        val o = c.output.materializedPaths.head
        probe.landed += s"$o/_SUCCESS"
        marked += o
        run(d.complete(o))
      }
    }
    (1 to 4).foreach { gen =>
      (0 until 150).foreach { _ =>
        val p = s"${src(rnd.nextInt(3))}/${day(rnd.nextInt(12))}"
        probe.landed += p
        run(d.receivePath(p, isBlocked = rnd.nextInt(15) == 0))
      }
      val live = d.tableOf(0).get
      val before = nodes(live, withTime = false).filter(e => exactAnywhere(e._1))
      // a context the completed set names is settled by recovery
      val unsettled = live.unsettledContexts.filter(e =>
        exactAnywhere(e._1) && !e._2.forall(marked)).toSet
      // the owner dies; the next driver takes the shard over after expiry
      now += 2000
      val next = driver(s"D$gen")
      val again = next.tryAcquireShard(0)
      assert(again.isDefined, s"takeover $gen")
      val t = next.tableOf(0).get
      assert(nodes(t, withTime = false).filter(e => exactAnywhere(e._1)) == before,
        s"takeover $gen: pending nodes differ")
      assert(t.unsettledContexts.filter(e => exactAnywhere(e._1)).toSet == unsettled,
        s"takeover $gen: unsettled contexts differ")
      d = next
    }
    d.releaseAll()
  }

  private def joinTable(wal: RoutingWal, probe: PathProbe, n: Int,
                        ttlMillis: Long = Long.MaxValue): RoutingTable = {
    val t = new RoutingTable(probe, Some(wal), n)
    val r = route("j", ttl = false, "p:0", "p:1")
    t.add(new Route("j", r.linkNode, r.output, Nil, ttlMillis))
    t
  }
  private def tmpDir(p: String) = java.nio.file.Files.createTempDirectory(p).toString

  test("a fold on the event that completes a join snapshots the fired context") {
    val dir = tmpDir("graft_law_join")
    val probe = new MemProbe
    val t = joinTable(CheckpointKind.open(dir), probe, n = 2)
    assert(t.receivePath(s"${src(0)}/${day(1)}").isEmpty)
    // the second event reaches the fold trigger and completes the join
    assert(t.receivePath(s"${src(1)}/${day(1)}").length == 1)
    t.disposeWal()
    val t2 = joinTable(CheckpointKind.open(dir), probe, n = 2)
    val again = t2.recover()
    assert(again.map(_.output.materializedPaths.head) ==
      List(s"${outRoot("j")}/${day(1)}"), "the fired join was lost")
    assert(t2.all.head.pendingNodes.isEmpty, "the fired join came back pending")
    t2.disposeWal()
  }

  test("a node TTL expired before the crash neither returns nor fires") {
    // n = 2: both nodes are in the snapshot and the expiry in its tail;
    // otherwise the log holds no snapshot at all
    Seq(2, Int.MaxValue).foreach { n =>
      val dir = tmpDir("graft_law_ttl")
      val probe = new MemProbe
      val t = joinTable(CheckpointKind.open(dir), probe, n, ttlMillis = 1000)
      t.receivePath(s"${src(0)}/${day(1)}")
      t.receivePath(s"${src(0)}/${day(2)}")
      assert(t.all.head.pendingNodes.length == 2)
      // a sweep on a clock past the TTL expires both nodes
      t.sweepPending(System.currentTimeMillis() + 10 * 1000)
      assert(t.all.head.pendingNodes.isEmpty)
      t.disposeWal()
      val t2 = joinTable(CheckpointKind.open(dir), probe, n, ttlMillis = 1000)
      assert(t2.recover().isEmpty)
      assert(t2.all.head.pendingNodes.isEmpty, s"n=$n: an expired node returned")
      // the other half of an expired join opens a new node, fires nothing
      assert(t2.receivePath(s"${src(1)}/${day(1)}").isEmpty)
      t2.disposeWal()
    }
  }

  test("no pending node is lost: a range complete only on storage stays pending") {
    val dir = tmpDir("graft_law_range")
    val probe = new MemProbe
    def mk() = {
      val t = new RoutingTable(probe, Some(CheckpointKind.open(dir)), 2)
      t.add(route("range", ttl = false, "p:1", "g:0:3")); t
    }
    val t = mk()
    (1 to 3).foreach { d =>
      t.receivePath(s"${src(1)}/${day(d)}")
      t.receivePath(s"${src(0)}/${day(d)}") // partitions not landed yet
    }
    val live = nodes(t, withTime = true)
    assert(live("range").nonEmpty)
    // the ranges complete on storage; no sweep ran before the crash
    (0 to 3).foreach(d => probe.landed += s"${src(0)}/${day(d)}")
    t.disposeWal()
    val t2 = mk()
    assert(t2.recover().isEmpty, "recovery fired a node the live table held")
    assert(nodes(t2, withTime = true) == live)
    // the sweep fires them, once
    assert(t2.sweepPending().nonEmpty)
    t2.disposeWal()
  }

  test("a sweep firing logged after the fold is not fired twice after recovery") {
    val dir = tmpDir("graft_law_sweep")
    val probe = new MemProbe
    def mk() = {
      val t = new RoutingTable(probe, Some(CheckpointKind.open(dir)), 2)
      t.add(route("range", ttl = false, "p:1", "g:0:3")); t
    }
    val t = mk()
    // the fold after the second event snapshots the pending node; the
    // sweep that fires it is in the log's tail
    t.receivePath(s"${src(1)}/${day(3)}")
    t.receivePath(s"${src(0)}/${day(3)}")
    (0 to 3).foreach(d => probe.landed += s"${src(0)}/${day(d)}")
    val fired = t.sweepPending()
    assert(fired.length == 1)
    probe.landed += s"${fired.head.output.materializedPaths.head}/_SUCCESS"
    t.markComplete(Seq(s"${fired.head.output.materializedPaths.head}/_SUCCESS"))
    t.disposeWal()
    val t2 = mk()
    assert(t2.recover().isEmpty)
    assert(t2.all.head.pendingNodes.isEmpty)
    assert(t2.sweepPending().isEmpty)
    t2.disposeWal()
  }

  test("a snapshot cut short by a crash is not restored: the log it would replace recovers") {
    val dir = tmpDir("graft_law_torn")
    def f(name: String) = new java.io.File(s"$dir/$name")
    val probe = new MemProbe
    val wal = new CountingWal(CheckpointKind.open(f("live").getPath))
    // keep the log as each fold finds it
    wal.beforeFold = () => {
      org.apache.commons.io.FileUtils.deleteQuietly(f("pre"))
      org.apache.commons.io.FileUtils.copyDirectory(f("live"), f("pre"))
    }
    val t = joinTable(wal, probe, n = 4)
    // fold 1 after four events (nodes d2, d3 and the day-1 firing), fold 2
    // after four more, with the day-2 firing and nodes d3..d6 in its snapshot
    val fired = Seq((0, 1), (0, 2), (1, 1), (0, 3), (0, 4), (0, 5), (1, 2), (0, 6))
      .flatMap { case (s, d) => t.receivePath(s"${src(s)}/${day(d)}") }
    assert(wal.folds == 2 && fired.length == 2)
    val segs = f("live/routing_state.json.d").listFiles().filter(_.getName.startsWith("wal-"))
    assert(segs.length == 1)
    val snap = java.nio.file.Files.readAllBytes(segs.head.toPath)
    val lines = new String(snap, "UTF-8").split('\n')
    assert(lines.length == 6) // four nodes, two contexts
    // a crash mid-write leaves the snapshot cut inside its second node
    // record under its own name (a store that tears it), or whole under
    // its `tmp-` name (a crash before the rename)
    val torn = lines(0).length + 1 + lines(1).length / 2
    Seq(segs.head.getName -> snap.take(torn), s"tmp-${segs.head.getName}" -> snap)
      .zipWithIndex.foreach { case ((name, bytes), k) =>
        val crash = f(s"crash$k")
        org.apache.commons.io.FileUtils.copyDirectory(f("pre"), crash)
        java.nio.file.Files.write(
          new java.io.File(crash, s"routing_state.json.d/$name").toPath, bytes)
        val t2 = joinTable(CheckpointKind.open(crash.getPath), probe, n = 4)
        val again = t2.recover()
        assert(nodes(t2, withTime = false) == nodes(t, withTime = false),
          s"$name: pending nodes lost")
        assert(again.map(_.output.materializedPaths).toSet ==
          fired.map(_.output.materializedPaths).toSet, s"$name: fired contexts lost")
        assert(t2.unsettledContexts.toSet == t.unsettledContexts.toSet)
        t2.disposeWal()
        // recovery's own fold replaced the log, the remnant included
        assert(new java.io.File(crash, "routing_state.json.d").list().toSeq
          .count(_.startsWith("wal-")) == 1)
        assert(!new java.io.File(crash, s"routing_state.json.d/tmp-${segs.head.getName}").exists)
      }
    t.disposeWal()
  }

  test("a context whose output landed unmarked is settled by the second recovery that drops it") {
    val dir = tmpDir("graft_law_landed")
    val probe = new MemProbe
    val t = joinTable(CheckpointKind.open(dir), probe, 1 << 20)
    t.receivePath(s"${src(0)}/${day(1)}")
    val ctxs = t.receivePath(s"${src(1)}/${day(1)}")
    assert(ctxs.length == 1)
    // the output reaches storage; the driver dies before markComplete
    probe.landed += s"${ctxs.head.output.materializedPaths.head}/_SUCCESS"
    t.disposeWal()
    // each recovery drops it as done; the first keeps it for a later
    // staleness check, the second settles it
    val unsettled = (1 to 3).map { _ =>
      val t2 = joinTable(CheckpointKind.open(dir), probe, 1 << 20)
      assert(t2.recover().isEmpty, "a done context was re-offered")
      try t2.unsettledContexts.length finally t2.disposeWal()
    }
    assert(unsettled == Seq(1, 0, 0))
  }

  test("recovery settles the output partitions of a re-offered context that were named") {
    // n = 2: the contexts are in a snapshot; otherwise the log holds events only
    Seq(2, 1 << 20).foreach { n =>
      val dir = tmpDir("graft_law_partial")
      val probe = new MemProbe
      def mk() = {
        val t = new RoutingTable(probe, Some(CheckpointKind.open(dir)), n)
        val r = route("rr", ttl = false, "p:0")
        // each execution writes a two-day output range
        val out = Signal("rr", SignalSource.internal(appRoot, "rr"), daySpec,
          DimFilter.allPassFor(daySpec).chain(
            DimFilter.loadRaw(daySpec, DimFilter.RawFilter.chainOf("_:-2"))).get)
        t.add(new Route("rr", r.linkNode, out, Nil, Long.MaxValue)); t
      }
      val t = mk()
      val first = t.receivePath(s"${src(0)}/${day(3)}")
      assert(first.length == 1 && first.head.output.materializedPaths.length == 2)
      // one partition of the first range lands and is named; then the crash
      val head = s"${outRoot("rr")}/${day(3)}"
      probe.landed += s"$head/_SUCCESS"
      t.markComplete(Seq(head))
      assert(t.receivePath(s"${src(0)}/${day(5)}").length == 1)
      val live = t.unsettledContexts.toSet
      assert(live.contains(("rr", Set(s"${outRoot("rr")}/${day(2)}"))))
      t.disposeWal()
      val t2 = mk()
      assert(t2.recover().length == 2)
      assert(t2.unsettledContexts.toSet == live, s"n=$n")
      // the re-execution names only the partition it had left to write
      t2.markComplete(Seq(s"${outRoot("rr")}/${day(2)}"))
      assert(t2.unsettledContexts.toSet == live.filterNot(_._2.contains(s"${outRoot("rr")}/${day(2)}")))
      t2.disposeWal()
    }
  }

  test("fired-then-completed contexts leave nothing unsettled") {
    val dir = tmpDir("graft_law_settle")
    val probe = new PathProbe { def exists(p: String) = true }
    val t = new RoutingTable(probe, Some(CheckpointKind.open(dir)), 1 << 20)
    t.add(route("solo", ttl = false, "p:0"))
    (0 until 10000).foreach { i =>
      val ctxs = t.receivePath(s"${src(0)}/${day0.plusDays(i.toLong)}")
      assert(ctxs.length == 1)
      val o = ctxs.head.output.materializedPaths.head
      // partition paths and `_SUCCESS` markers both settle
      t.markComplete(Seq(if (i % 2 == 0) o else s"$o/_SUCCESS"))
    }
    assert(t.unsettledContexts.isEmpty)
    assert(!t.awaitsCompletion(s"${outRoot("solo")}/${day0}"))
    t.disposeWal()
  }

  test("an events-only log recovers by replaying it whole") {
    val dir = tmpDir("graft_law_legacy")
    val probe = new MemProbe
    val cp = CheckpointKind.open(dir)
    val live = joinTable(new CountingWal(CheckpointKind.open(tmpDir("graft_law_l2"))), probe, 1 << 20)
    val events = Seq((s"${src(0)}/${day(1)}", false), (s"${src(0)}/${day(2)}", true),
      (s"${src(1)}/${day(2)}", false), (s"${src(1)}/${day(1)}", false))
    events.foreach { case (p, b) => cp.appendEvent(p, b); live.receivePath(p, b) }
    cp.close()
    val t = joinTable(CheckpointKind.open(dir), probe, 1 << 20)
    assert(t.recover().map(_.output.materializedPaths) == List(Seq(s"${outRoot("j")}/${day(1)}")))
    assert(nodes(t, withTime = false) == nodes(live, withTime = false))
    assert(t.all.head.pendingNodes.head.blocked == Set(s"${src(0)}/${day(2)}"))
    t.disposeWal(); live.disposeWal()
  }

  test("snapshot records round-trip through the codec") {
    val rs = List(("/a/%00\u0000x\tz", true), ("/b/2024-01-01", false))
    assert(WalRecord.parse(WalRecord.node("s1", 3, 5, "r%\u0000", 42L, rs)) ==
      Some(WalRecord.Node("s1", 3, 5, "r%\u0000", 42L, rs)))
    Seq(false, true).foreach(d =>
      assert(WalRecord.parse(WalRecord.fired("s1", 4, 5, "r", rs, d)) ==
        Some(WalRecord.Fired("s1", 4, 5, "r", rs, d))))
    assert(WalRecord.parse(WalRecord.empty("s2")) == Some(WalRecord.Empty("s2")))
    assert(WalRecord.parse(WalRecord.swept(7L, None, Nil)) ==
      Some(WalRecord.Swept(7L, None, Nil)))
    assert(WalRecord.parse(WalRecord.swept(7L, Some(""), Seq(("r", "/p"), ("q", "/o")))) ==
      Some(WalRecord.Swept(7L, Some(""), List(("r", "/p"), ("q", "/o")))))
    assert(WalRecord.parse("/data/a/2024-01-01").isEmpty)
    assert(WalRecord.parse("\u0000n\u0000broken").isEmpty)
  }
}
