package graft.routing

import org.scalatest.funsuite.AnyFunSuite
import graft.dimension._
import graft.signal._

/** Scenarios ported from the reference's runtime-link-node / route suites
  * (test/intelliflow/core/signal_processing/routing_runtime_constructs/):
  * coincidence trigger, tip alignment, ranges+completion, reference inputs,
  * nearest, zombie prediction, dedup, TTL.
  */
class RoutingSuite extends AnyFunSuite {

  private val daySpec = DimSpec.pretty(
    "day" -> (DimType.DATETIME, Map[String, Any]("format" -> "%Y-%m-%d")))
  private val regionDaySpec = DimSpec.pretty(
    "region" -> (DimType.STRING, Map.empty[String, Any]),
    "day" -> (DimType.DATETIME, Map[String, Any]("format" -> "%Y-%m-%d")))

  private def extSignal(alias: String, root: String, spec: DimSpec, raw: Any*): Signal =
    Signal(alias, SignalSource.external(root), spec,
      DimFilter.loadRaw(spec, DimFilter.RawFilter(
        raw.toList.map(_ -> DimFilter.RawFilter.empty))))

  private def chainedSignal(alias: String, root: String, spec: DimSpec, values: Any*): Signal =
    Signal(alias, SignalSource.external(root), spec, DimFilter.branchOf(spec, values))

  private class MemProbe(var existing: Set[String] = Set.empty) extends PathProbe {
    def exists(path: String): Boolean = existing.contains(path)
  }
  private val allExists = new PathProbe { def exists(p: String) = true }

  private def outputFor(node: SignalLinkNode, id: String, spec: DimSpec): Signal =
    Signal(id, SignalSource.internal("/app", id), spec,
      node.deriveOutputFilter(spec, Nil))

  test("single input: event triggers and output inherits partition value") {
    val a = extSignal("a", "/data/a", daySpec, "*")
    val node = SignalLinkNode(List(a)).withAutoLinks
    val out = outputFor(node, "n1", daySpec)
    val route = new Route("n1", node, out, Nil)
    val ctxs = route.receive(chainedSignal("a", "/data/a", daySpec, "2026-08-12"), allExists)
    assert(ctxs.length == 1)
    assert(ctxs.head.output.tip.map(_.value) == List("2026-08-12"))
    assert(ctxs.head.inputs.head.tip.map(_.value) == List("2026-08-12"))
  }

  test("two inputs coincidence-join on linked day; misaligned tips open a second pending node") {
    val a = extSignal("a", "/data/a", daySpec, "*")
    val b = extSignal("b", "/data/b", daySpec, "*")
    val node = SignalLinkNode(List(a, b)).withAutoLinks
    val out = outputFor(node, "join", daySpec)
    val route = new Route("join", node, out, Nil)

    assert(route.receive(chainedSignal("a", "/data/a", daySpec, "2026-08-12"), allExists).isEmpty)
    assert(route.pendingNodes.length == 1)
    // different day → cannot link into the first node; second node opens
    assert(route.receive(chainedSignal("b", "/data/b", daySpec, "2026-08-11"), allExists).isEmpty)
    assert(route.pendingNodes.length == 2)
    // aligned day completes the first node
    val ctxs = route.receive(chainedSignal("b", "/data/b", daySpec, "2026-08-12"), allExists)
    assert(ctxs.length == 1)
    assert(ctxs.head.inputs.map(_.alias).toSet == Set("a", "b"))
    assert(ctxs.head.output.tip.map(_.value) == List("2026-08-12"))
    assert(route.pendingNodes.length == 1)
  }

  test("duplicate event is deduped (processed paths)") {
    val a = extSignal("a", "/data/a", daySpec, "*")
    val b = extSignal("b", "/data/b", daySpec, "*")
    val node = SignalLinkNode(List(a, b)).withAutoLinks
    val route = new Route("r", node, outputFor(node, "r", daySpec), Nil)
    route.receive(chainedSignal("a", "/data/a", daySpec, "2026-08-12"), allExists)
    route.receive(chainedSignal("a", "/data/a", daySpec, "2026-08-12"), allExists)
    assert(route.pendingNodes.length == 1)
  }

  test("reference input is never awaited and materializes from the trigger") {
    val a = extSignal("a", "/data/a", daySpec, "*")
    val ref = extSignal("lookup", "/data/lookup", daySpec, "*").copy(isReference = true)
    val node = SignalLinkNode(List(a, ref)).withAutoLinks
    val out = outputFor(node, "withref", daySpec)
    val route = new Route("withref", node, out, Nil)
    val ctxs = route.receive(chainedSignal("a", "/data/a", daySpec, "2026-08-12"), allExists)
    assert(ctxs.length == 1)
    val lookupIn = ctxs.head.inputs.find(_.alias == "lookup").get
    assert(lookupIn.tip.map(_.value) == List("2026-08-12"))
  }

  test("ranged input with range check waits for all partitions to complete") {
    val a = Signal("a", SignalSource.external("/data/a"), daySpec,
      DimFilter.loadRaw(daySpec, DimFilter.RawFilter.leafValues("_:-2")),
      rangeCheckRequired = true)
    val node = SignalLinkNode(List(a)).withAutoLinks
    val out = outputFor(node, "ranged", daySpec)
    val route = new Route("ranged", node, out, Nil)
    val probe = new MemProbe(Set("/data/a/2026-08-12"))
    // range = {12, 11}; 11 missing → no trigger, node stays pending
    assert(route.receive(chainedSignal("a", "/data/a", daySpec, "2026-08-12"), probe).isEmpty)
    assert(route.pendingNodes.length == 1)
    // partition 11 lands → re-offering the same event is deduped, but the
    // pending node re-evaluates ranges on the next receive cycle
    probe.existing += "/data/a/2026-08-11"
    val ctxs = route.receive(chainedSignal("a", "/data/a", daySpec, "2026-08-12"), probe)
    assert(ctxs.length == 1)
    assert(ctxs.head.inputs.head.materializedPaths ==
      Seq("/data/a/2026-08-12", "/data/a/2026-08-11"))
  }

  test("FileCheck alternatives: ANY listed marker completes the " +
    "partition (reference analysis.py:27-38)") {
    val proto = IntegrityProtocol.FileCheck("_SUCCESS", "manifest.json")
    val src = SignalSource.external("/data/a", protocol = proto)
    val a = Signal("a", src, daySpec,
      DimFilter.loadRaw(daySpec, DimFilter.RawFilter.leafValues("_:-2")),
      rangeCheckRequired = true)
    val node = SignalLinkNode(List(a)).withAutoLinks
    val route = new Route("alt", node, outputFor(node, "alt", daySpec), Nil)
    // day 12 completed by the PRIMARY marker; day 11 absent -> pending
    val probe = new MemProbe(Set("/data/a/2026-08-12/_SUCCESS"))
    val ev = Signal("a", src, daySpec,
      DimFilter.branchOf(daySpec, Seq("2026-08-12")))
    assert(route.receive(ev, probe).isEmpty)
    assert(route.pendingNodes.length == 1)
    // day 11 lands with ONLY the vendor marker -> range is complete
    probe.existing += "/data/a/2026-08-11/manifest.json"
    val ctxs = route.receive(ev, probe)
    assert(ctxs.length == 1)
    assert(ctxs.head.inputs.head.materializedPaths ==
      Seq("/data/a/2026-08-12", "/data/a/2026-08-11"))
  }

  test("FileCheck alternatives complete through the sweep's snapshot " +
    "probe (per-name keys)") {
    val proto = IntegrityProtocol.FileCheck("_SUCCESS", "manifest.json")
    val src = SignalSource.external("/data/s", protocol = proto)
    val a = Signal("a", src, daySpec,
      DimFilter.loadRaw(daySpec, DimFilter.RawFilter.leafValues("_:-2")),
      rangeCheckRequired = true)
    val node = SignalLinkNode(List(a)).withAutoLinks
    val probe = new MemProbe(Set("/data/s/2026-08-12/_SUCCESS"))
    val t = new RoutingTable(probe)
    t.add(new Route("alt2", node, outputFor(node, "alt2", daySpec), Nil))
    assert(t.receive(Signal("a", src, daySpec,
      DimFilter.branchOf(daySpec, Seq("2026-08-12")))).isEmpty)
    // no event for day 11 — ONLY the sweep can observe its alternative
    // marker appearing, through the out-of-monitor probe phase
    assert(t.sweepPending().isEmpty)
    probe.existing += "/data/s/2026-08-11/manifest.json"
    val ctxs = t.sweepPending()
    assert(ctxs.length == 1)
    assert(ctxs.head.inputs.head.materializedPaths ==
      Seq("/data/s/2026-08-12", "/data/s/2026-08-11"))
  }

  test("nearest-the-tip picks first existing partition in range") {
    val trigger = extSignal("t", "/data/t", daySpec, "*")
    val near = Signal("n", SignalSource.external("/data/n"), daySpec,
      DimFilter.loadRaw(daySpec, DimFilter.RawFilter.leafValues("_:-7")),
      isReference = true, nearestTheTip = true)
    val node = SignalLinkNode(List(trigger, near)).withAutoLinks
    val out = outputFor(node, "near", daySpec)
    val route = new Route("near", node, out, Nil)
    val probe = new MemProbe(Set("/data/n/2026-08-09", "/data/n/2026-08-07"))
    val ctxs = route.receive(chainedSignal("t", "/data/t", daySpec, "2026-08-12"), probe)
    assert(ctxs.length == 1)
    val nearIn = ctxs.head.inputs.find(_.alias == "n").get
    assert(nearIn.tip.map(_.value) == List("2026-08-09"))
  }

  test("zombie prediction: conflicting aliases over the same resource") {
    val all = extSignal("alias1", "/data/x", regionDaySpec, "*")
      .copy(filter = DimFilter.allPassFor(regionDaySpec))
    val naOnly = Signal("alias2", SignalSource.external("/data/x"), regionDaySpec,
      DimFilter.loadRaw(regionDaySpec, DimFilter.RawFilter(List(
        "NA" -> DimFilter.RawFilter.leafValues("*")))))
    val node = SignalLinkNode(List(all, naOnly)).withAutoLinks
    val out = outputFor(node, "z", regionDaySpec)
    val route = new Route("z", node, out, Nil)
    // EU event: alias1 accepts, alias2's declared filter rejects → can never complete
    route.receive(chainedSignal("alias1", "/data/x", regionDaySpec, "EU", "2026-08-12"), allExists)
    assert(route.pendingNodes.isEmpty) // zombie eliminated
    // NA event: both aliases accept → triggers
    val ctxs = route.receive(chainedSignal("alias1", "/data/x", regionDaySpec, "NA", "2026-08-12"), allExists)
    assert(ctxs.length == 1)
  }

  test("dimension-less reference input is not a zombie (event-driven trigger)") {
    val a = extSignal("a", "/data/a", daySpec, "*")
    val lookup = Signal("lookup", SignalSource.external("/data/lookup"),
      DimSpec.empty, DimFilter.empty).copy(isReference = true)
    val node = SignalLinkNode(List(a, lookup)).withAutoLinks
    val out = outputFor(node, "ref0", daySpec)
    val route = new Route("ref0", node, out, Nil)
    // the lookup's filter is empty BY CONSTRUCTION (no dims) — zombie
    // prediction must not read that as "rejected by declared filter"
    val ctxs = route.receive(chainedSignal("a", "/data/a", daySpec, "2026-08-12"), allExists)
    assert(ctxs.length == 1)
    assert(ctxs.head.inputs.map(_.alias).toSet == Set("a", "lookup"))
  }

  test("mapped output link converts timezone at materialization") {
    val hourSpec = DimSpec.pretty(
      "utc_hour" -> (DimType.DATETIME, Map[String, Any]("format" -> "%Y-%m-%d %H")))
    val pstSpec = DimSpec.pretty(
      "day" -> (DimType.DATETIME, Map[String, Any](
        "format" -> "%Y-%m-%d", "timezone" -> "PST")))
    val a = extSignal("a", "/data/a", hourSpec, "*")
    val node = SignalLinkNode(List(a))
    val links = List(DimensionLink.mapped(DimRef("output", "day"),
      DimRef("a", "utc_hour"), DateValue.toTimezone("PST")))
    val out = Signal("tz", SignalSource.internal("/app", "tz"), pstSpec,
      node.deriveOutputFilter(pstSpec, links))
    val route = new Route("tz", node, out, links)
    val ctxs = route.receive(
      chainedSignal("a", "/data/a", hourSpec, "2026-08-12 03"), allExists)
    assert(ctxs.length == 1)
    // 03:00 UTC = 19:00 previous day PST
    assert(ctxs.head.output.tip.map(_.value) == List("2026-08-11"))
  }

  test("N->1 link: two dims of the trigger resolve a reference input") {
    // the reference's multiple_dimensions_to_single_input_dimension case 1
    // (test_aws_application_advanced_dimension_linking.py): ext_1(day, hour)
    // -> ext_2(timestamp) via a 2-ary mapper on a ref input
    val dhSpec = DimSpec.pretty(
      "day" -> (DimType.DATETIME, Map[String, Any]("format" -> "%Y-%m-%d")),
      "hour" -> (DimType.LONG, Map.empty[String, Any]))
    val tsSpec = DimSpec.pretty(
      "timestamp" -> (DimType.DATETIME,
        Map[String, Any]("format" -> "%Y-%m-%d-%H")))
    val a = Signal("a", SignalSource.external("/data/a"), dhSpec,
      DimFilter.allPassFor(dhSpec))
    val b = Signal("b", SignalSource.external("/data/b"), tsSpec,
      DimFilter.allPassFor(tsSpec)).copy(isReference = true)
    val links = List(DimensionLink.mappedN(DimRef("b", "timestamp"),
      Seq(DimRef("a", "day"), DimRef("a", "hour")),
      { case Seq(day: DateValue, hour) =>
        day.copy(date = day.date.plusHours(hour.rawValue.toString.toLong),
          params = day.params + ("format" -> "%Y-%m-%d-%H"))
        case vs => vs.head
      }))
    val node = SignalLinkNode(List(a, b), links)
    val out = outputFor(node, "n_to_1", dhSpec)
    val route = new Route("n_to_1", node, out, Nil)
    val ctxs = route.receive(
      chainedSignal("a", "/data/a", dhSpec, "2026-08-12", 7L), allExists)
    assert(ctxs.length == 1)
    val bIn = ctxs.head.inputs.find(_.alias == "b").get
    assert(bIn.tip.map(_.value.toString) == List("2026-08-12-07"),
      s"N->1 mapper did not resolve the reference: ${bIn.tip}")
    // an N->1 link declared over two different aliases is rejected
    intercept[IllegalArgumentException](DimensionLink.mappedN(
      DimRef("b", "timestamp"),
      Seq(DimRef("a", "day"), DimRef("b", "hour")), vs => vs.head))
  }

  test("N->1 OUTPUT link: the output partition derives from two input dims") {
    val dhSpec = DimSpec.pretty(
      "day" -> (DimType.DATETIME, Map[String, Any]("format" -> "%Y-%m-%d")),
      "hour" -> (DimType.LONG, Map.empty[String, Any]))
    val tsSpec = DimSpec.pretty(
      "stamp" -> (DimType.DATETIME,
        Map[String, Any]("format" -> "%Y-%m-%d-%H")))
    val a = Signal("a", SignalSource.external("/data/a"), dhSpec,
      DimFilter.allPassFor(dhSpec))
    val node = SignalLinkNode(List(a))
    val outLinks = List(DimensionLink.mappedN(DimRef("output", "stamp"),
      Seq(DimRef("a", "day"), DimRef("a", "hour")),
      { case Seq(day: DateValue, hour) =>
        day.copy(date = day.date.plusHours(hour.rawValue.toString.toLong),
          params = day.params + ("format" -> "%Y-%m-%d-%H"))
        case vs => vs.head
      }))
    val out = Signal("n1out", SignalSource.internal("/app", "n1out"), tsSpec,
      node.deriveOutputFilter(tsSpec, outLinks))
    val route = new Route("n1out", node, out, outLinks)
    val ctxs = route.receive(
      chainedSignal("a", "/data/a", dhSpec, "2026-08-12", 7L), allExists)
    assert(ctxs.length == 1)
    assert(ctxs.head.output.tip.map(_.value.toString) == List("2026-08-12-07"))
  }

  test("N->1 link gates a coincidence join at runtime") {
    val dhSpec = DimSpec.pretty(
      "day" -> (DimType.DATETIME, Map[String, Any]("format" -> "%Y-%m-%d")),
      "hour" -> (DimType.LONG, Map.empty[String, Any]))
    val tsSpec = DimSpec.pretty(
      "timestamp" -> (DimType.DATETIME,
        Map[String, Any]("format" -> "%Y-%m-%d-%H")))
    val a = Signal("a", SignalSource.external("/data/a"), dhSpec,
      DimFilter.allPassFor(dhSpec))
    val c = Signal("c", SignalSource.external("/data/c"), tsSpec,
      DimFilter.allPassFor(tsSpec))
    val links = List(DimensionLink.mappedN(DimRef("c", "timestamp"),
      Seq(DimRef("a", "day"), DimRef("a", "hour")),
      { case Seq(day: DateValue, hour) =>
        day.copy(date = day.date.plusHours(hour.rawValue.toString.toLong),
          params = day.params + ("format" -> "%Y-%m-%d-%H"))
        case vs => vs.head
      }))
    val node = SignalLinkNode(List(a, c), links)
    val out = outputFor(node, "n_to_1_join", dhSpec)
    val route = new Route("n_to_1_join", node, out, Nil)
    // trigger half arrives; the matching c completes the join
    assert(route.receive(
      chainedSignal("a", "/data/a", dhSpec, "2026-08-12", 7L), allExists).isEmpty)
    val joined = route.receive(
      chainedSignal("c", "/data/c", tsSpec, "2026-08-12-07"), allExists)
    assert(joined.length == 1)
    // a mismatching c (wrong hour) must NOT join the next pending node
    assert(route.receive(
      chainedSignal("a", "/data/a", dhSpec, "2026-08-13", 5L), allExists).isEmpty)
    assert(route.receive(
      chainedSignal("c", "/data/c", tsSpec, "2026-08-13-06"), allExists).isEmpty)
  }

  test("route locking (J8): concurrent half-join events never lose or double a day") {
    val a = extSignal("a", "/data/a", daySpec, "*")
    val b = extSignal("b", "/data/b", daySpec, "*")
    val node = SignalLinkNode(List(a, b)).withAutoLinks
    val out = outputFor(node, "cjoin", daySpec)
    val table = new RoutingTable(allExists)
    table.add(new Route("cjoin", node, out, Nil))
    val days = (1 to 28).map(d => f"2026-08-$d%02d")
    val ctxs = java.util.Collections.synchronizedList(
      new java.util.ArrayList[ExecutionContext]())
    // two racing threads: one fires all a-halves, one all b-halves
    val threads = Seq("/data/a", "/data/b").map { root =>
      new Thread(() => days.foreach { d =>
        table.receivePath(s"$root/$d").foreach(ctxs.add)
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    // every day joined exactly once — no lost updates, no double triggers
    val outDays = ctxs.toArray.map(
      _.asInstanceOf[ExecutionContext].output.tip.head.value.toString).sorted
    assert(outDays.toSeq == days.sorted)
  }

  test("checkpoint: restart mid-pending, the late event still completes the join") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_ckpt").toString
    val cp = new RoutingCheckpoint(s"$tmp/routing_state.json",
      new org.apache.hadoop.conf.Configuration())
    def mkTable(): RoutingTable = {
      val a = extSignal("a", "/data/a", daySpec, "*")
      val b = extSignal("b", "/data/b", daySpec, "*")
      val node = SignalLinkNode(List(a, b)).withAutoLinks
      val out = outputFor(node, "join", daySpec)
      val t = new RoutingTable(allExists, Some(cp))
      t.add(new Route("join", node, out, Nil))
      t
    }
    val t1 = mkTable()
    assert(t1.receivePath("/data/a/2026-08-12").isEmpty) // half-join pending
    // driver dies; a fresh table reloads the persisted event log
    val t2 = mkTable()
    assert(t2.recover().isEmpty) // nothing was mid-flight
    val ctxs = t2.receivePath("/data/b/2026-08-12")
    assert(ctxs.length == 1, "recovered pending state must complete the join")
    assert(ctxs.head.inputs.map(_.alias).toSet == Set("a", "b"))
  }

  test("checkpoint: recover re-offers mid-flight executions until completed") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_ckpt2").toString
    val cp = new RoutingCheckpoint(s"$tmp/routing_state.json",
      new org.apache.hadoop.conf.Configuration())
    val probe = new MemProbe()
    def mkTable(): RoutingTable = {
      val a = extSignal("a", "/data/a", daySpec, "*")
      val node = SignalLinkNode(List(a)).withAutoLinks
      val out = outputFor(node, "solo", daySpec)
      val t = new RoutingTable(probe, Some(cp))
      t.add(new Route("solo", node, out, Nil))
      t
    }
    val t1 = mkTable()
    assert(t1.receivePath("/data/a/2026-08-12").length == 1) // execution starts
    // driver dies BEFORE the output completes -> recover re-offers it
    val t2 = mkTable()
    val again = t2.recover()
    assert(again.length == 1)
    val outPath = again.head.output.materializedPaths.head
    // output completes this time; a third restart no longer re-offers
    probe.existing += s"$outPath/_SUCCESS"
    val t3 = mkTable()
    assert(t3.recover().isEmpty)
  }

  test("recover re-offers a complete output the caller proves STALE " +
    "(re-published input before the crash — r17)") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_ckpt_st").toString
    val cp = new RoutingCheckpoint(s"$tmp/routing_state.json",
      new org.apache.hadoop.conf.Configuration())
    val probe = new MemProbe()
    def mkTable(): RoutingTable = {
      val a = extSignal("a", "/data/sa", daySpec, "*")
      val node = SignalLinkNode(List(a)).withAutoLinks
      val t = new RoutingTable(probe, Some(cp))
      t.add(new Route("st", node, outputFor(node, "st", daySpec), Nil))
      t
    }
    val t1 = mkTable()
    val ctxs = t1.receivePath("/data/sa/2026-08-12")
    assert(ctxs.length == 1)
    probe.existing += s"${ctxs.head.output.materializedPaths.head}/_SUCCESS"
    // default: complete output -> dropped at recovery (already done)
    assert(mkTable().recover().isEmpty)
    // the app layer proves the output STALE (input re-published with a
    // newer completion stamp) -> the SAME replay re-offers it
    val again = mkTable().recover(staleOutput = _ => true)
    assert(again.length == 1, "stale complete output was not re-offered")
  }

  test("WAL skips unmatched events and live-compacts every N events") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_ckpt3").toString
    val cp = new RoutingCheckpoint(s"$tmp/routing_state.json",
      new org.apache.hadoop.conf.Configuration())
    val a = extSignal("a", "/data/a", daySpec, "*")
    val node = SignalLinkNode(List(a)).withAutoLinks
    val out = outputFor(node, "solo", daySpec)
    val t = new RoutingTable(allExists, Some(cp), compactEveryEvents = 8)
    t.add(new Route("solo", node, out, Nil))

    def eventLines(): Int = cp.load().map(_._1.length).getOrElse(0)

    // an event NO route accepts must not grow the log (a long-lived driver
    // sees a firehose of unrelated bus events)
    val stranger = chainedSignal("x", "/data/x", daySpec, "2026-08-12")
    assert(t.receive(stranger).isEmpty)
    assert(eventLines() == 0, "unmatched event must not be WAL-logged")

    // 20 re-publishes of the same partition: compaction (every 8) folds
    // them to last-occurrence-per-path, so the log stays bounded instead
    // of carrying all 20 records until the next restart
    (1 to 20).foreach(_ => t.receivePath("/data/a/2026-08-12"))
    assert(eventLines() <= 8, s"live compaction must bound the log, got ${eventLines()}")

    // the compacted log still recovers (replay re-offers per record, as a
    // live re-publish would; compaction bounds how many records survive)
    val t2 = new RoutingTable(new MemProbe(), Some(cp))
    t2.add(new Route("solo", node, out, Nil))
    val reoffered = t2.recover()
    assert(reoffered.nonEmpty && reoffered.length <= 8 &&
      reoffered.forall(_.inputs.head.tip.head.value.toString == "2026-08-12"))
  }

  /** Counts the folds [[RoutingTable]] asks its WAL for. */
  private final class CountingWal(u: RoutingWal) extends RoutingWal {
    var compactions = 0
    def appendEvent(p: String, blocked: Boolean): Unit = u.appendEvent(p, blocked)
    def appendCompleted(p: String): Unit = u.appendCompleted(p)
    def compact(events: Seq[(String, Boolean)], completed: Seq[String]): Unit = {
      compactions += 1; u.compact(events, completed)
    }
    def load(): Option[(List[(String, Boolean)], List[String])] = u.load()
    def close(): Unit = u.close()
    override def dispose(): Unit = u.dispose()
  }

  private def soloTable(wal: RoutingWal, n: Int): RoutingTable = {
    val node = SignalLinkNode(List(extSignal("a", "/data/a", daySpec, "*"))).withAutoLinks
    val t = new RoutingTable(allExists, Some(wal), compactEveryEvents = n)
    t.add(new Route("solo", node, outputFor(node, "solo", daySpec), Nil))
    t
  }

  private def tmpCheckpoint(prefix: String): RoutingCheckpoint =
    new RoutingCheckpoint(
      s"${java.nio.file.Files.createTempDirectory(prefix)}/routing_state.json",
      new org.apache.hadoop.conf.Configuration())

  private val day0 = java.time.LocalDate.of(2020, 1, 1)

  test("live compaction folds O(log) times over distinct paths") {
    val wal = new CountingWal(tmpCheckpoint("graft_ckpt_geo"))
    val t = soloTable(wal, 8)
    (1 to 2000).foreach(i => t.receivePath(s"/data/a/${day0.plusDays(i.toLong)}"))
    // a fold every 8 events would be 250 folds, each rewriting the
    // whole log; the trigger doubles with the paths the last fold kept
    val bound = math.ceil(math.log(2000.0 / 8) / math.log(2)).toInt + 2
    assert(wal.compactions <= bound, s"${wal.compactions} folds > $bound")
    assert(wal.load().get._1.length == 2000)
    t.disposeWal()
  }

  test("live compaction keeps the log within 2 x live paths + N") {
    val wal = new CountingWal(tmpCheckpoint("graft_ckpt_bound"))
    val t = soloTable(wal, 8)
    val rnd = new scala.util.Random(11)
    val seen = scala.collection.mutable.Set.empty[String]
    (1 to 1500).foreach { i =>
      // new paths arrive among re-publishes of the ones already live
      val live = 1 + i / 3
      val p = s"/data/a/${day0.plusDays(rnd.nextInt(live).toLong)}"
      t.receivePath(p)
      seen += p
      val lines = wal.load().get._1.length
      assert(lines <= 2 * seen.size + 8,
        s"after event $i: $lines event lines for ${seen.size} live paths")
    }
    assert(wal.compactions > 0)
    t.disposeWal()
  }

  test("recover over an unfolded log re-offers what recover after a fold does") {
    // the compaction law the live fold relies on, on a two-input join
    // with re-publishes and half the fired outputs completed
    val a = extSignal("a", "/data/a", daySpec, "*")
    val b = extSignal("b", "/data/b", daySpec, "*")
    val node = SignalLinkNode(List(a, b)).withAutoLinks
    def joinTable(cp: RoutingWal, probe: PathProbe, n: Int): RoutingTable = {
      val t = new RoutingTable(probe, Some(cp), compactEveryEvents = n)
      t.add(new Route("join", node, outputFor(node, "join", daySpec), Nil))
      t
    }
    val dir = java.nio.file.Files.createTempDirectory("graft_ckpt_law")
    val conf = new org.apache.hadoop.conf.Configuration()
    def cpAt(name: String) = new RoutingCheckpoint(s"$dir/$name/routing_state.json", conf)
    val live = joinTable(cpAt("unfolded"), allExists, Int.MaxValue)
    val rnd = new scala.util.Random(7)
    (0 until 300).foreach { _ =>
      val side = if (rnd.nextBoolean()) "a" else "b"
      live.receivePath(s"/data/$side/${day0.plusDays(rnd.nextInt(40).toLong)}")
        .filter(_ => rnd.nextBoolean())
        .foreach(c => live.markComplete(c.output.materializedPaths.map(p => s"$p/_SUCCESS")))
    }
    live.disposeWal()
    org.apache.commons.io.FileUtils.copyDirectory(
      new java.io.File(s"$dir/unfolded/routing_state.json.d"),
      new java.io.File(s"$dir/folded/routing_state.json.d"))
    val folded = cpAt("folded")
    val (events, completed) = folded.load().get
    assert(events.map(_._1).distinct.length < events.length, "no re-publish to fold")
    folded.compact(events, completed)
    assert(folded.load().get._1.length == events.map(_._1).distinct.length)

    // inputs as a set: their list order follows arrival order, which the
    // fold (last occurrence per path) may change
    def contexts(cp: RoutingCheckpoint): Set[(Set[String], Seq[String])] = {
      val t = joinTable(cp, new MemProbe(), 8)
      try t.recover().map(c =>
        (c.inputs.flatMap(_.materializedPaths).toSet, c.output.materializedPaths)).toSet
      finally t.disposeWal()
    }
    val fromFolded = contexts(folded)
    assert(fromFolded.nonEmpty)
    assert(contexts(cpAt("unfolded")) == fromFolded)
  }

  test("pending node TTL expiry fires hook and drops state") {
    val a = extSignal("a", "/data/a", daySpec, "*")
    val b = extSignal("b", "/data/b", daySpec, "*")
    val node = SignalLinkNode(List(a, b)).withAutoLinks
    var expired = 0
    val hooks = new RouteHooks {
      override def onPendingNodeExpired(r: Route, n: RuntimeLinkNode): Unit = expired += 1
    }
    val route = new Route("ttl", node, outputFor(node, "ttl", daySpec), Nil,
      pendingNodeTtlMillis = 1000, hooks = hooks)
    route.receive(chainedSignal("a", "/data/a", daySpec, "2026-08-12"), allExists, nowMillis = 0)
    assert(route.pendingNodes.length == 1)
    route.receive(chainedSignal("a", "/data/a", daySpec, "2026-08-10"), allExists, nowMillis = 5000)
    assert(expired == 1)
    assert(route.pendingNodes.length == 1) // only the fresh node remains
  }

  test("pending-node checkpoints fire once per mark as the node ages") {
    val a = extSignal("a", "/data/a", daySpec, "*")
    val b = extSignal("b", "/data/b", daySpec, "*")
    val node = SignalLinkNode(List(a, b)).withAutoLinks
    var fired = List.empty[Long]
    val hooks = new RouteHooks {
      override def pendingNodeCheckpointSecs: List[Long] = List(300, 60)
      override def onPendingNodeCheckpoint(r: Route, n: RuntimeLinkNode,
                                           mark: Long): Unit = fired :+= mark
    }
    val route = new Route("ckpt", node, outputFor(node, "ckpt", daySpec), Nil,
      hooks = hooks)
    // half a coincidence join: the node waits for b, aging in pending
    route.receive(chainedSignal("a", "/data/a", daySpec, "2026-08-12"),
      new MemProbe(), nowMillis = 0)
    assert(route.pendingNodes.length == 1)
    route.sweep(new MemProbe(), nowMillis = 30 * 1000)
    assert(fired.isEmpty) // before the first mark
    route.sweep(new MemProbe(), nowMillis = 90 * 1000)
    assert(fired == List(60L)) // 60s mark passed once
    route.sweep(new MemProbe(), nowMillis = 90 * 1000)
    assert(fired == List(60L)) // no re-fire at the same age
    route.sweep(new MemProbe(), nowMillis = 400 * 1000)
    assert(fired == List(60L, 300L)) // later mark fires (chronological)
    assert(route.pendingNodes.length == 1) // checkpoints never drop state
  }

  test("routing table: path events decode, route, and feed back downstream") {
    val a = extSignal("a", "/data/a", daySpec, "*")
    val nodeA = SignalLinkNode(List(a)).withAutoLinks
    val outA = outputFor(nodeA, "stage1", daySpec)
    // stage2 consumes stage1's internal output
    val s1 = Signal("stage1", outA.source, daySpec, DimFilter.allPassFor(daySpec))
    val nodeB = SignalLinkNode(List(s1)).withAutoLinks
    val outB = outputFor(nodeB, "stage2", daySpec)

    val table = new RoutingTable(allExists)
    table.add(new Route("stage1", nodeA, outA, Nil))
    table.add(new Route("stage2", nodeB, outB, Nil))

    val ctxs1 = table.receivePath("/data/a/2026-08-12")
    assert(ctxs1.map(_.routeId) == List("stage1"))
    // feed-back: stage1's completed output partition re-enters as an event
    val outPath = ctxs1.head.output.materializedPaths.head
    val ctxs2 = table.receivePath(outPath)
    assert(ctxs2.map(_.routeId) == List("stage2"))
    assert(ctxs2.head.output.tip.map(_.value) == List("2026-08-12"))
  }

  test("reverse materialization: inputs derived from output (execute path)") {
    val a = Signal("a", SignalSource.external("/data/a"), daySpec,
      DimFilter.loadRaw(daySpec, DimFilter.RawFilter.leafValues("_:-3")))
    val b = extSignal("b", "/data/b", daySpec, "*")
    val node = SignalLinkNode(List(a, b)).withAutoLinks
    val outSpec = daySpec
    val out = Signal("out", SignalSource.internal("/app", "out"), outSpec,
      DimFilter.branchOf(outSpec, Seq("2026-08-12")))
    val inputs = node.materializedInputsForOutput(out, Nil).get
    val aIn = inputs.find(_.alias == "a").get
    assert(aIn.materializedPaths == Seq(
      "/data/a/2026-08-12", "/data/a/2026-08-11", "/data/a/2026-08-10"))
    assert(inputs.find(_.alias == "b").get.tip.map(_.value) == List("2026-08-12"))
  }

  test("blocked ranges hold the trigger until the partition is re-published") {
    val a = extSignal("a", "/data/a", daySpec, "*")
    val b = extSignal("b", "/data/b", daySpec, "*")
    val node = SignalLinkNode(List(a, b)).withAutoLinks
    val route = new Route("blk", node, outputFor(node, "blk", daySpec), Nil)
    // A arrives BLOCKED (known-bad partition): admitted, node pending
    assert(route.receive(chainedSignal("a", "/data/a", daySpec, "2026-08-12"),
      allExists, isBlocked = true).isEmpty)
    // B aligns: would fire, but A's resource is blocked
    assert(route.receive(chainedSignal("b", "/data/b", daySpec, "2026-08-12"),
      allExists).isEmpty)
    assert(route.pendingNodes.length == 1)
    // A re-published un-blocked: trigger fires
    val ctxs = route.receive(chainedSignal("a", "/data/a", daySpec, "2026-08-12"),
      allExists)
    assert(ctxs.length == 1)
    assert(ctxs.head.inputs.map(_.alias).toSet == Set("a", "b"))
  }

  test("nested source roots: one event dispatches to EVERY decoding route") {
    // /data/n (2 dims) and /data/n/x (1 dim) are both legal sources; an
    // event at /data/n/x/2026-08-12 decodes against BOTH — a head-only
    // dispatch starved the inner route's join forever
    val outer = Signal("outer", SignalSource.external("/data/n"),
      regionDaySpec, DimFilter.allPassFor(regionDaySpec))
    val inner = extSignal("inner", "/data/n/x", daySpec, "*")
    val t = new RoutingTable(allExists)
    val no = SignalLinkNode(List(outer)).withAutoLinks
    val ni = SignalLinkNode(List(inner)).withAutoLinks
    t.add(new Route("r_outer", no, outputFor(no, "r_outer", regionDaySpec), Nil))
    t.add(new Route("r_inner", ni, outputFor(ni, "r_inner", daySpec), Nil))
    val ctxs = t.receivePath("/data/n/x/2026-08-12")
    assert(ctxs.map(_.routeId).toSet == Set("r_outer", "r_inner"),
      s"both routes must fire, got ${ctxs.map(_.routeId)}")
  }

  test("scheme-qualified part-file events normalize without losing the scheme") {
    val a = extSignal("a", "s3a://bucket/tbl", daySpec, "*")
    val node = SignalLinkNode(List(a)).withAutoLinks
    val t = new RoutingTable(allExists)
    t.add(new Route("s3r", node, outputFor(node, "s3r", daySpec), Nil))
    val ctxs = t.receivePath(
      "s3a://bucket/tbl/2026-08-12/part-00000-abc.snappy.parquet")
    assert(ctxs.length == 1,
      "part-file completion on a scheme-qualified root must reach the route")
    assert(ctxs.head.output.tip.map(_.value) == List("2026-08-12"))
  }

  test("recover re-offers an execution whose RANGED output is only partially complete") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_ckpt_rng").toString
    val probe = new MemProbe()
    def mkTable(): RoutingTable = {
      val cp = new RoutingCheckpoint(s"$tmp/routing_state.json",
        new org.apache.hadoop.conf.Configuration())
      val a = extSignal("a", "/data/a", daySpec, "*")
      val node = SignalLinkNode(List(a)).withAutoLinks
      // output spans the trigger day AND the prior day (ranged filter)
      val out = Signal("rng", SignalSource.internal("/app", "rng"), daySpec,
        DimFilter.loadRaw(daySpec, DimFilter.RawFilter(
          List(("_:-2": Any) -> DimFilter.RawFilter.empty))))
      val t = new RoutingTable(probe, Some(cp))
      t.add(new Route("rng", node, out, Nil))
      t
    }
    val t1 = mkTable()
    val started = t1.receivePath("/data/a/2026-08-12")
    assert(started.length == 1)
    val paths = started.head.output.materializedPaths
    assert(paths.length == 2, s"ranged output must span 2 partitions: $paths")
    // crash after ONLY the head partition completed
    probe.existing += s"${paths.head}/_SUCCESS"
    val again = mkTable().recover()
    assert(again.length == 1,
      "partially-complete ranged output must be re-offered, not dropped")
    // every partition complete -> no longer re-offered
    paths.foreach(p => probe.existing += s"$p/_SUCCESS")
    assert(mkTable().recover().isEmpty)
  }

  test("a link mapper that throws marks the node zombie instead of killing ingestion") {
    val a = extSignal("a", "/data/a", daySpec, "*")
    val b = extSignal("b", "/data/b", daySpec, "*")
    val node = SignalLinkNode(List(a, b), List(
      DimensionLink.mapped(DimRef("b", "day"), DimRef("a", "day"),
        _ => throw new IllegalArgumentException("bad tip"))))
    val route = new Route("boom", node, outputFor(node, "boom", daySpec), Nil)
    // must not propagate out of receive()
    val ctxs = route.receive(
      chainedSignal("a", "/data/a", daySpec, "2026-08-12"), allExists)
    assert(ctxs.isEmpty)
  }

  test("a sweep probes armed nodes only; an armed node fires once its range lands") {
    val a = Signal("a", SignalSource.external("/data/a"), daySpec,
      DimFilter.loadRaw(daySpec, DimFilter.RawFilter.leafValues("_:-2")),
      rangeCheckRequired = true)
    val b = extSignal("b", "/data/b", daySpec, "*")
    val node = SignalLinkNode(List(a, b)).withAutoLinks
    var calls = 0
    val probe = new MemProbe() {
      override def exists(path: String): Boolean = { calls += 1; super.exists(path) }
    }
    val t = new RoutingTable(probe)
    t.add(new Route("armed", node, outputFor(node, "armed", daySpec), Nil))
    val route = t.find("armed").get
    // `a` alone: its node waits for `b`, so it is not armed
    assert(t.receivePath("/data/a/2026-08-12").isEmpty)
    assert(route.pendingNodes.map(_.armed) == List(false))
    calls = 0
    assert(t.sweepPending().isEmpty)
    assert(calls == 0, "a node that is not armed must cost no probe call")
    // `b` arms it; its range {12, 11} has not landed
    assert(t.receivePath("/data/b/2026-08-12").isEmpty)
    assert(route.pendingNodes.map(_.armed) == List(true))
    probe.existing += "/data/a/2026-08-12"
    assert(t.sweepPending().isEmpty)
    probe.existing += "/data/a/2026-08-11"
    val fired = t.sweepPending()
    assert(fired.map(_.routeId) == List("armed"))
    assert(fired.head.inputs.find(_.alias == "a").get.materializedPaths ==
      Seq("/data/a/2026-08-12", "/data/a/2026-08-11"))
    assert(route.pendingNodes.isEmpty)
  }
}
