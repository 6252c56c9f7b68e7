package graft.signal

import graft.dimension._

/** One edge of the dimension-link matrix: `target` dimension receives
  * `func(source value)`. Equality links (identity func) are checked in both
  * directions; custom funcs only in the declared direction.
  * Reference: DimensionVariantMapper (dimension_constructs.py:704-780) +
  * SignalDimensionLink (signal.py:692-748).
  */
final case class DimRef(alias: String, dim: String)

sealed trait LinkSource
object LinkSource {
  final case class FromDim(ref: DimRef) extends LinkSource
  /** N→1 mapping: ALL of one signal's `refs` dims (in declared order)
    * feed `f` to produce the target value — the reference's
    * multi-dimension mapper lambda, whose arity follows the source dim
    * tuple (dimension_constructs.py:704-780; the N→1 cases in
    * test_aws_application_advanced_dimension_linking.py). The mapper
    * lives here, not on [[DimensionLink.func]], so the 1→1 field and
    * every existing pattern match stay untouched. */
  final case class FromDims(refs: Seq[DimRef],
                            f: Seq[DimValue] => DimValue) extends LinkSource
  final case class LiteralValue(value: Any) extends LinkSource
}

final case class DimensionLink(
    target: DimRef,
    source: LinkSource,
    // the DEFAULT must be the shared Identity instance: isIdentity is a
    // reference check, and a directly-constructed equality link with a
    // fresh `identity` lambda would never be recognized as reversible
    // (its inputs would silently fail to reverse-materialize)
    func: DimValue => DimValue = DimensionLink.Identity) {
  def isIdentity: Boolean = func eq DimensionLink.Identity
  /** The alias every source dim comes from (None for literals). */
  def sourceAlias: Option[String] = source match {
    case LinkSource.FromDim(r) => Some(r.alias)
    case LinkSource.FromDims(rs, _) => rs.headOption.map(_.alias)
    case _ => None
  }
}

object DimensionLink {
  val Identity: DimValue => DimValue = identity
  /** EQUALS link (reference api.py:66). */
  def equals(target: DimRef, source: DimRef): DimensionLink =
    DimensionLink(target, LinkSource.FromDim(source), Identity)
  def literal(target: DimRef, value: Any): DimensionLink =
    DimensionLink(target, LinkSource.LiteralValue(value))
  def mapped(target: DimRef, source: DimRef, f: DimValue => DimValue): DimensionLink =
    DimensionLink(target, LinkSource.FromDim(source), f)
  /** N→1 mapping: `sources` (dims of ONE signal, in the order `f` expects
    * them) compute the target dim. */
  def mappedN(target: DimRef, sources: Seq[DimRef],
              f: Seq[DimValue] => DimValue): DimensionLink = {
    require(sources.nonEmpty && sources.map(_.alias).distinct.length == 1,
      "N->1 link sources must be one or more dims of a single signal")
    DimensionLink(target, LinkSource.FromDims(sources, f))
  }
}

/** Dev-time group of input signals + link matrix. Validates aliases, rejects
  * all-reference inputs, auto-links same-named dimensions, derives the output
  * filter, and reverse-materializes inputs from a concrete output.
  * Reference: SignalLinkNode, signal.py:750-1457.
  */
final case class SignalLinkNode(
    signals: List[Signal],
    links: List[DimensionLink] = Nil) {

  require(signals.map(_.alias).distinct.length == signals.length,
    s"duplicate input aliases: ${signals.map(_.alias)}")
  require(signals.isEmpty || signals.exists(s => !s.isReference && !s.nearestTheTip),
    "all inputs cannot be reference/nearest (nothing would ever trigger)")

  def signal(alias: String): Option[Signal] = signals.find(_.alias == alias)

  /** Auto-link same-named dims across every signal pair that doesn't already
    * have a link (reference compensate_missing_links, signal.py:1341-1410). */
  def withAutoLinks: SignalLinkNode = {
    val extra = for {
      a <- signals; b <- signals if a.alias != b.alias
      dim <- a.dimNames if b.dimNames.contains(dim)
      tgt = DimRef(b.alias, dim)
      if !links.exists(l => l.target == tgt && l.sourceAlias.contains(a.alias))
    } yield DimensionLink.equals(tgt, DimRef(a.alias, dim))
    copy(links = links ++ extra)
  }

  /** [[linksBetween]] of every pair of input aliases, by target alias then
    * source alias, built once: the runtime join asks for them on every
    * offer. */
  private lazy val linksByTarget: Map[String, Map[String, List[DimensionLink]]] =
    signals.map(b => b.alias ->
      signals.map(a => a.alias -> collectLinks(a.alias, b.alias)).toMap).toMap

  /** Links whose value can be produced from `srcAlias` toward `dstAlias`,
    * including reversed identity links. */
  def linksBetween(srcAlias: String, dstAlias: String): List[DimensionLink] =
    linksInto(dstAlias).getOrElse(srcAlias, collectLinks(srcAlias, dstAlias))

  /** [[linksBetween]] toward `dstAlias`, by source alias (input aliases
    * only). */
  def linksInto(dstAlias: String): Map[String, List[DimensionLink]] =
    linksByTarget.getOrElse(dstAlias, Map.empty)

  private def collectLinks(srcAlias: String, dstAlias: String): List[DimensionLink] = {
    val direct = links.collect {
      case l @ DimensionLink(DimRef(`dstAlias`, _), LinkSource.FromDim(DimRef(`srcAlias`, _)), _) => l
      case l @ DimensionLink(DimRef(`dstAlias`, _), LinkSource.FromDims(rs, _), _)
        if rs.forall(_.alias == srcAlias) => l
    }
    val reversed = links.collect {
      case l @ DimensionLink(DimRef(`srcAlias`, td), LinkSource.FromDim(DimRef(`dstAlias`, sd)), _)
        if l.isIdentity =>
        DimensionLink.equals(DimRef(dstAlias, sd), DimRef(srcAlias, td))
    }
    direct ++ reversed
  }

  /** N→1 application: every source dim's tip value must be MATERIAL;
    * otherwise the link yields nothing (the dim stays open, same as an
    * unmaterialized 1→1 source). isDefined alone is not enough: a
    * force-materialized output (zombie prediction, dependent probing)
    * carries '*'/relative tips, and feeding those into a user mapper
    * that expects concrete values throws — which the zombie catch would
    * misread as "can never match", killing a valid pending node. */
  private def applyN(rs: Seq[DimRef], f: Seq[DimValue] => DimValue,
                     tip: String => Option[DimValue]): Option[Any] = {
    val vs = rs.map(r => tip(r.dim))
    if (vs.forall(_.exists(_.isMaterial))) Some(f(vs.map(_.get)).rawValue)
    else None
  }

  /** Reverse-materialize every input from a concrete output (+ already
    * materialized inputs): the core of reference resolution and manual
    * `execute`. Auto-binds unlinked dims by name equality with the output.
    * Reference: get_materialized_inputs_for_output, signal.py:1105-1339. */
  def materializedInputsForOutput(
      output: Signal,
      outputLinks: List[DimensionLink],
      alreadyMaterialized: List[Signal] = Nil,
      enforceAll: Boolean = true): Option[List[Signal]] = {

    val done = alreadyMaterialized.map(s => s.alias -> s).toMap

    val resolved = signals.map { in =>
      done.get(in.alias) match {
        case Some(m) => Some(m)
        case None =>
          // collect values for each of this input's dims
          val values: Map[String, Any] = in.dimNames.flatMap { dim =>
            val tgt = DimRef(in.alias, dim)
            // 1. explicit link output->input (or reversed identity input->output)
            val fromOutput: Option[Any] = outputLinks.collectFirst {
              // material-only: mappers see concrete values, never the
              // '*'/relative tips of a force-materialized output (same
              // contract as applyN)
              case DimensionLink(`tgt`, LinkSource.FromDim(DimRef("output", od)), f) =>
                output.tipValue(od).filter(_.isMaterial).map(v => f(v).rawValue)
              case DimensionLink(`tgt`, LinkSource.FromDims(rs, f), _)
                if rs.forall(_.alias == "output") =>
                applyN(rs, f, output.tipValue)
              case l @ DimensionLink(DimRef("output", od), LinkSource.FromDim(`tgt`), _)
                if l.isIdentity =>
                output.tipValue(od).filter(_.isMaterial).map(_.rawValue)
            }.flatten
            // 2. literal assignment
            val fromLiteral: Option[Any] = outputLinks.collectFirst {
              case DimensionLink(`tgt`, LinkSource.LiteralValue(v), _) => v
            }
            // 3. link from another (already materialized) input
            val fromOther: Option[Any] = links.collectFirst {
              case DimensionLink(`tgt`, LinkSource.FromDim(DimRef(oa, od)), f)
                if done.contains(oa) => done(oa).tipValue(od).map(v => f(v).rawValue)
              case DimensionLink(`tgt`, LinkSource.FromDims(rs, f), _)
                if rs.headOption.exists(r => done.contains(r.alias)) &&
                  rs.forall(_.alias == rs.head.alias) =>
                applyN(rs, f, done(rs.head.alias).tipValue)
            }.flatten
            // 4. auto-bind by name equality with output dims
            val autoBound: Option[Any] = output.tipValue(dim).map(_.rawValue)
            fromOutput.orElse(fromLiteral).orElse(fromOther).orElse(autoBound)
              .map(dim -> _)
          }.toMap
          val m = in.materializeWith(values)
          if (values.nonEmpty && m.filter.isEmpty) Some(m) // rejected by own
          // declared filter — kept visible so zombie prediction can see it
          else if (m.isMaterialized) Some(m)
          else None
      }
    }
    if (resolved.forall(_.isDefined)) Some(resolved.flatten)
    else if (!enforceAll) Some(resolved.flatten)
    else None
  }

  /** Derive the output's dev-time filter from inputs through output links
    * (reference get_output_filter, signal.py:1067-1104): each output dim
    * takes the linked input dim's declared variant (or literal). */
  def deriveOutputFilter(outputSpec: DimSpec, outputLinks: List[DimensionLink]): DimFilter = {
    val values: List[DimValue] = outputSpec.flatten.map { d =>
      val dimName = d.name.getOrElse("")
      val tgt = DimRef("output", dimName)
      val linked: Option[DimValue] = outputLinks.collectFirst {
        case DimensionLink(`tgt`, LinkSource.FromDim(DimRef(a, sd)), f) =>
          // materiality of the LINKED dim `sd` gates the mapper — the
          // historical root-level check could feed a relative/wildcard
          // sd value into f (throwing at createData) while a material
          // sd under a wildcard root was left open instead of pinned
          signal(a).flatMap(_.tipValue(sd)) match {
            case Some(v) if v.isMaterial => Some(f(v))
            case other => other // special variants pass through un-mapped
          }
        case DimensionLink(`tgt`, LinkSource.FromDims(rs, f), _) if rs.nonEmpty =>
          // N->1 toward the output: map only when every source tip is
          // material; otherwise leave the output dim open (tip semantics)
          signal(rs.head.alias).flatMap { s =>
            val vs = rs.map(r => s.tipValue(r.dim))
            if (vs.forall(_.exists(_.isMaterial))) Some(f(vs.map(_.get)))
            else None
          }
        case DimensionLink(`tgt`, LinkSource.LiteralValue(v), _) =>
          Some(DimValue.resolve(v, d))
      }.flatten
      // auto-bind: same-named dim on any input. A dim with MULTIPLE
      // declared material values (a projection fan-out or N-branch filter)
      // must leave the output dim open like a range does — pinning it to
      // the tip branch would make every other branch's event materialize
      // to an empty output filter at runtime.
      val auto: Option[DimValue] = signals.view.flatMap { s =>
        val idx = s.dimNames.indexOf(dimName)
        if (idx < 0) None
        else {
          val branchVals = s.filter.tuples.flatMap(_.lift(idx)).distinct
          if (branchVals.count(_.isMaterial) > 1) None
          else s.tipValue(dimName).orElse(s.filter.values.headOption)
        }
      }.headOption
      // ranged/wildcard sources leave the output dim open ('*') — the
      // concrete value is picked at materialization time (tip semantics)
      linked.orElse(auto).filter(_.isMaterial)
        .getOrElse(AnyVal_(d.name, d.dtype, d.params))
    }
    values.foldRight(DimFilter.empty)((v, sub) => DimFilter(List((v, sub))))
  }
}
