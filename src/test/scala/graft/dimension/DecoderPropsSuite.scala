package graft.dimension

import java.time.LocalDateTime

import org.scalacheck.{Gen, Prop, Properties}
import org.scalacheck.Prop.{forAll, propBoolean}

import graft.routing._
import graft.signal._

/** The compiled event decoders against the interpreted dimension algebra,
  * which is their specification. On random specs (daily and hourly
  * datetimes, strftime literals and escapes, zero-padded longs, strings),
  * declared filters (`*`, value lists, `_:-N` ranges with shifts, nested
  * per branch) and paths (well-formed, malformed, `*`/relative segments,
  * wrong depth, other roots):
  *   - decode and membership equal `fromEventPath` (below, the
  *     interpreted definition) and `filter.chain` on the path's branch;
  *   - a declared input's candidate equals `applyEvent` of that event;
  *   - a candidate's cached tip equals the first tuple of its filter;
  *   - a two-input join fed by path (compiled decoders, shared candidates)
  *     ends in the same contexts and pending nodes as one fed the
  *     interpreted event signals (`applyEvent`, link checks per node).
  * Rejections count: None against None, and a throw against a throw of
  * the same class. */
object DecoderPropsSuite extends Properties("decoder") {

  override def overrideParameters(p: org.scalacheck.Test.Parameters) =
    p.withMinSuccessfulTests(300)

  /** The interpreted path decode (the event codec direction; reference
    * Signal.create, signal.py:405-468). */
  def fromEventPath(s: Signal, path: String): Option[Signal] = {
    val depth = s.spec.flatten.length
    s.source.extractDims(path, depth).flatMap { raws =>
      if (raws.length != depth) None
      else {
        val branch = DimFilter.branchOf(s.spec, raws)
        s.filter.chain(branch).flatMap { chained =>
          if (chained.isEmpty) None else Some(s.copy(filter = branch))
        }
      }
    }
  }

  private def outcome[T](body: => T): Either[Class[_], T] =
    try Right(body) catch { case scala.util.control.NonFatal(e) => Left(e.getClass) }

  // ---- specs ------------------------------------------------------------

  private sealed trait Kind
  private final case class DateKind(format: String, hourly: Boolean) extends Kind
  private final case class LongKind(digits: Option[Int]) extends Kind
  private case object StringKind extends Kind

  private val formats = Seq(
    "%Y-%m-%d", "%Y%m%d", "[%Y] {%m} #%d", "d%Y'%m'%d", "%Y-%m-%d %H", "%Y%m%dT%H")

  private val kindGen: Gen[Kind] = Gen.frequency(
    4 -> Gen.oneOf(formats).map(f => DateKind(f, f.contains("%H"))),
    2 -> Gen.option(Gen.const(3)).map(LongKind),
    1 -> Gen.const(StringKind))

  private def dim(name: String, k: Kind, alt: Boolean): Dim = k match {
    case DateKind(f, hourly) =>
      // `alt`: the same dim declared by another input with the next format
      val fmt = if (alt) formats((formats.indexOf(f) + 1) % formats.length) else f
      Dim(Some(name), Some(DimType.DATETIME), Map("format" -> fmt) ++
        (if (hourly) Map("granularity" -> "HOUR") else Map.empty))
    case LongKind(d) =>
      Dim(Some(name), Some(DimType.LONG), d.map(n => "digits" -> (n: Any)).toMap)
    case StringKind => Dim(Some(name), Some(DimType.STRING))
  }

  private def specOf(kinds: Seq[Kind], alt: Boolean): DimSpec =
    DimSpec.of(kinds.zipWithIndex.map { case (k, i) => dim(s"d$i", k, alt) }: _*)

  private val base = LocalDateTime.of(2024, 2, 26, 0, 0)

  /** A concrete value of the kind, rendered as its path segment. */
  private def valueGen(d: Dim): Gen[String] = d.dtype match {
    case Some(DimType.DATETIME) =>
      for (days <- Gen.choose(0, 3); h <- Gen.choose(0, 23))
        yield DimValue.resolve(base.plusDays(days.toLong).plusHours(h.toLong), d)
          .value.toString
    case Some(DimType.LONG) =>
      Gen.choose(0L, 5L).map(v => DimValue.resolve(v, d).value.toString)
    case _ => Gen.oneOf("a", "b", "ab", "z9", "B0")
  }

  private def levelGen(d: Dim): Gen[List[String]] = Gen.frequency(
    3 -> Gen.const(List("*")),
    3 -> Gen.choose(1, 3).flatMap(n => Gen.listOfN(n, valueGen(d))),
    // a repeated value: its branches merge
    1 -> valueGen(d).map(v => List(v, v)),
    2 -> Gen.choose(1, 4).map(n => List(s"_:-$n")),
    1 -> (for (n <- Gen.choose(1, 3); s <- Gen.oneOf(-1, 1)) yield List(s"_:-$n:$s")))

  /** A declared filter over the spec: each value of a level carries its
    * own sub-filter, so value lists make multi-branch trees. */
  private def filterGen(dims: List[Dim]): Gen[DimFilter.RawFilter] = dims match {
    case Nil => Gen.const(DimFilter.RawFilter.empty)
    case d :: rest =>
      levelGen(d).flatMap { vs =>
        Gen.sequence[List[(Any, DimFilter.RawFilter)], (Any, DimFilter.RawFilter)](
          vs.map(v => filterGen(rest).map(sub => (v: Any) -> sub)))
          .map(DimFilter.RawFilter(_))
      }
  }

  /** A declared signal; its filter is sometimes one level shallower than
    * its spec (a spec mismatch every event must fail). */
  private def declaredGen(alias: String, root: String, spec: DimSpec): Gen[Signal] = {
    val dims = spec.flatten
    for {
      shallow <- Gen.frequency(7 -> false, 1 -> (dims.length > 1))
      fdims = if (shallow) dims.dropRight(1) else dims
      raw <- filterGen(fdims)
    } yield Signal(alias, SignalSource.external(root), spec,
      DimFilter.loadRaw(DimSpec.of(fdims: _*), raw))
  }

  private def segmentGen(d: Dim): Gen[String] = Gen.frequency(
    20 -> valueGen(d),
    1 -> Gen.const("junk-x"),
    1 -> Gen.const("*"),
    1 -> Gen.const("_:-1"))

  private def pathGen(root: String, spec: DimSpec): Gen[String] = {
    val dims = spec.flatten
    for {
      segs <- Gen.sequence[List[String], String](dims.map(segmentGen))
      shape <- Gen.frequency(12 -> 0, 1 -> 1, 1 -> 2, 1 -> 3)
    } yield shape match {
      case 0 => (root +: segs).mkString("/")
      case 1 => (root +: segs.dropRight(1)).mkString("/") // too shallow
      case 2 => (root +: segs :+ "more").mkString("/")    // deeper: prefix decode
      case _ => ("/other" +: segs).mkString("/")          // another root
    }
  }

  private final case class Case(s: Signal, d: Signal, paths: List[String])

  private val root = "/p/a"

  private val caseGen: Gen[Case] = for {
    depth <- Gen.choose(1, 3)
    kinds <- Gen.listOfN(depth, kindGen)
    alt <- Gen.frequency(4 -> false, 1 -> true)
    // the other input sometimes types one level differently
    retype <- Gen.frequency(4 -> Gen.const(None),
      1 -> Gen.zip(Gen.choose(0, depth - 1), kindGen).map(Some(_)))
    dKinds = retype.fold(kinds) { case (i, k) => kinds.updated(i, k) }
    s <- declaredGen("s", root, specOf(kinds, alt = false))
    d <- declaredGen("d", root, specOf(dKinds, alt))
    paths <- Gen.listOfN(4, pathGen(root, specOf(kinds, alt = false)))
  } yield Case(s, d, paths)

  private val valueOfGen: Gen[DimValue] = for {
    k <- kindGen
    alt <- Gen.oneOf(false, true)
    named <- Gen.oneOf(false, true)
    dm = dim("v", k, alt)
    d = if (named) dm else dm.copy(name = None)
    raw <- Gen.frequency(6 -> valueGen(d), 1 -> Gen.const("*"),
      1 -> Gen.oneOf("_:-2", "_:-1:1", "_:2"))
  } yield DimValue.resolve(raw, d)

  /** `applyTo` skips the attribute copy when nothing changes; this is the
    * definition it shortcuts. */
  private def applyToSpec(l: DimValue, r: DimValue, fin: Boolean): Option[List[DimValue]] =
    l.applyOneWay(r, fin).orElse(r.applyOneWay(l, fin)).map(_.map(x =>
      x.withAttrs(x.name.orElse(l.name), x.dtype.orElse(l.dtype),
        if (x.params.isEmpty) l.params else x.params ++ l.params)))

  property("applyTo equals its attribute-merging definition") =
    forAll(valueOfGen, valueOfGen, Gen.oneOf(false, true)) { (l, r, fin) =>
      outcome(l.applyTo(r, fin)) == outcome(applyToSpec(l, r, fin))
    }

  property("decode and membership equal fromEventPath and chain") =
    forAll(caseGen) { c =>
      val dec = new EventDecoder(c.s)
      Prop.all(c.paths.map { p =>
        val compiled = outcome(dec.signalAt(p))
        val interpreted = outcome(fromEventPath(c.s, p))
        val member = outcome(dec.values(p).map(dec.admits))
        val chained = outcome(c.s.source.extractDims(p, c.s.spec.flatten.length)
          .filter(_.length == c.s.spec.flatten.length).map(raws =>
            c.s.filter.chain(DimFilter.branchOf(c.s.spec, raws)).exists(!_.isEmpty)))
        ((compiled == interpreted) :| s"decode $p: $compiled vs $interpreted") &&
          ((member == chained) :| s"membership $p: $member vs $chained")
      }: _*)
    }

  property("candidates equal applyEvent, and their tips the filter's first tuple") =
    forAll(caseGen) { c =>
      val s = new EventDecoder(c.s)
      val d = new EventDecoder(c.d)
      Prop.all(c.paths.map { p =>
        val compiled = outcome(s.values(p).filter(s.admits).flatMap(d.candidate))
        val interpreted = outcome(fromEventPath(c.s, p).flatMap(c.d.applyEvent))
        val tips = compiled match {
          case Right(Some(cand)) =>
            cand.tip == cand.filter.tuples.head &&
              c.d.spec.flatten.zipWithIndex.forall { case (dm, i) =>
                cand.tipValue(dm.name.get) == cand.filter.tuples.head.lift(i) }
          case _ => true
        }
        ((compiled == interpreted) :| s"candidate $p: $compiled vs $interpreted") &&
          (tips :| s"cached tip of $compiled")
      }: _*)
    }

  private val allExists = new PathProbe { def exists(p: String) = true }

  /** A join of `s` (root /p/a) and `d` moved to /p/b, auto-linked on their
    * shared dims. */
  private def joinRoute(c: Case): Route = {
    val b = c.d.copy(source = SignalSource.external("/p/b"))
    val node = SignalLinkNode(List(c.s, b)).withAutoLinks
    val spec = c.s.spec
    val out = Signal("out", SignalSource.internal("/app", "out"), spec,
      node.deriveOutputFilter(spec, Nil))
    new Route("join", node, out, Nil)
  }

  private def pending(r: Route) =
    r.pendingNodes.map(n => (n.ready, n.isZombie, n.armed, n.receipts))

  property("a join fed by path equals one fed interpreted event signals") =
    forAll(caseGen, Gen.listOfN(6, Gen.oneOf(0, 1, 2, 3))) { (c, picks) =>
      val events = picks.map { i =>
        val p = c.paths(i)
        if (i % 2 == 0) p else p.replaceFirst("^/p/a", "/p/b")
      }
      val compiledRoute = joinRoute(c)
      val table = new RoutingTable(allExists)
      table.add(compiledRoute)
      val interpretedRoute = joinRoute(c)
      val declared = interpretedRoute.linkNode.signals
      Prop.all(events.map { p =>
        val compiled = outcome(table.receivePath(p))
        val interpreted = outcome {
          // every declared input decodes the path; the first, in order,
          // whose filter admits it gives the event
          declared.flatMap(fromEventPath(_, p)).headOption.toList.flatMap { ev =>
            if (interpretedRoute.accepts(ev)) interpretedRoute.receive(ev, allExists) else Nil
          }
        }
        ((compiled == interpreted) :| s"contexts of $p: $compiled vs $interpreted") &&
          ((pending(compiledRoute) == pending(interpretedRoute)) :|
            s"pending after $p")
      }: _*)
    }
}
