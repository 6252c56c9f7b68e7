package graft.signal

import graft.dimension._

/** A typed event/resource handle: a *logical table + partition predicate +
  * completion protocol*, plus consumption flags.
  * Reference: core/signal_processing/signal.py:204-661 (flags 151-174).
  *
  * - `isReference`: never awaited at runtime; partition values derived
  *   transitively from output/other inputs (signal.py:840-1031).
  * - `rangeCheckRequired`: every partition in the (expanded) range must
  *   exist before trigger (J5 "integrity"/completion checks).
  * - `nearestTheTip`: take the first *existing* partition in range.
  */
final case class Signal(
    alias: String,
    source: SignalSource,
    spec: DimSpec,
    filter: DimFilter,
    isReference: Boolean = false,
    rangeCheckRequired: Boolean = false,
    nearestTheTip: Boolean = false) {

  def dimNames: List[String] = spec.flatNames

  /** Apply an incoming (concrete) signal's filter to this declared signal:
    * intersection with finalize=true — relatives explode into ranges.
    * None (or empty) ⇒ the event does not belong to this signal.
    * Reference: Signal.apply, signal.py:386-391. */
  def applyEvent(event: Signal): Option[Signal] = {
    if (!sameResource(event)) None
    else filter.applyFilter(event.filter) match {
      case Some(f) if !f.isEmpty => Some(copy(filter = f))
      case _ => None
    }
  }

  def sameResource(other: Signal): Boolean =
    source.kind == other.source.kind && source.rootPath == other.source.rootPath

  /** Most-recent/head partition tuple (the "tip"): the first root→leaf
    * path of the filter, computed once per immutable instance — link
    * checks and output materialization read it on every offer. */
  lazy val tip: List[DimValue] = {
    var out = List.empty[DimValue]
    var level = filter
    while (!level.isEmpty) {
      val (v, sub) = level.nodes.head
      out ::= v
      level = sub
    }
    out.reverse
  }

  // a dim's POSITION in the value tuples: the tuple carries every dim,
  // so indexing must run over the full flattened spec — `dimNames`
  // drops unnamed dims and would misalign every lookup after one
  private def dimIndex(dimName: String): Int =
    spec.flatten.indexWhere(d => d.name.isDefined && d.name.get == dimName)

  /** Tip value of a named dimension. */
  def tipValue(dimName: String): Option[DimValue] = {
    val idx = dimIndex(dimName)
    if (idx < 0) None else tip.lift(idx)
  }

  /** Dimension-less signals (lookup datasets) are trivially materialized. */
  def isMaterialized: Boolean =
    if (spec.flatten.isEmpty) true else !filter.isEmpty && filter.isMaterialized

  /** lazy: an event signal is offered to EVERY pending node of its
    * route, each offer reading these paths — rendering them once per
    * immutable instance instead of once per offer is the difference
    * between O(1) and O(pending) path formatting per event. */
  lazy val materializedPaths: Seq[String] = source.materializePaths(filter)

  /** Materialize this (possibly range/wildcard) signal against concrete
    * per-dimension values; dims absent from `values` keep their declared
    * variants. Ranges explode when their dim receives a datum. */
  def materializeWith(values: Map[String, Any]): Signal = {
    def rebuild(f: DimFilter, dims: List[Dim]): DimFilter = dims match {
      case Nil => DimFilter.empty
      case d :: rest =>
        DimFilter(f.nodes.flatMap { case (v, sub) =>
          val newSub = rebuild(sub, rest)
          d.name.flatMap(values.get) match {
            case Some(raw) =>
              val datum = DimValue.resolve(raw, d)
              v.applyTo(datum, finalize = true) match {
                case Some(survivors) => survivors.map(s => (s, newSub))
                case None => Nil
              }
            case None => List((v, newSub))
          }
        })
    }
    copy(filter = rebuild(filter, spec.flatten))
  }
}
