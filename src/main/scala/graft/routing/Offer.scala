package graft.routing

import graft.dimension.DimValue
import graft.signal._

/** One event as the routes of its resource see it: its partition paths
  * (tip first) and, per declared input, its candidate — the declared input
  * applied to the event, None when the input rejects it. A candidate is
  * computed once per (declared input, event) and shared by `accepts`,
  * every pending node and the new-node check. */
private[routing] sealed abstract class Offer {
  def kind: SignalSourceKind
  def rootPath: String
  def paths: Seq[String]

  /** Candidates by declared input, then by shared key. */
  private var byInput: java.util.IdentityHashMap[Signal, Option[Signal]] = _
  private var byKey: java.util.IdentityHashMap[AnyRef, Option[Signal]] = _

  /** The declared input applied to this event. */
  final def candidate(declared: Signal): Option[Signal] =
    if (declared.source.kind != kind || declared.source.rootPath != rootPath) None
    else {
      if (byInput == null) {
        byInput = new java.util.IdentityHashMap(8)
        byKey = new java.util.IdentityHashMap(8)
      }
      var c = byInput.get(declared)
      if (c == null) {
        val key = memoKey(declared)
        c = byKey.get(key)
        if (c == null) { c = compute(key); byKey.put(key, c) }
        byInput.put(declared, c)
      }
      c
    }

  /** Declared inputs with one key share a candidate. */
  protected def memoKey(declared: Signal): AnyRef
  /** The candidate of the declared inputs with this key. */
  protected def compute(key: AnyRef): Option[Signal]
}

private[routing] object Offer {
  /** An event given as a signal (any filter, e.g. a grounded range):
    * candidates through the interpreted `applyEvent`. */
  def of(event: Signal): Offer = new Offer {
    def kind: SignalSourceKind = event.source.kind
    def rootPath: String = event.source.rootPath
    def paths: Seq[String] = event.materializedPaths
    protected def memoKey(declared: Signal): AnyRef = declared
    protected def compute(key: AnyRef): Option[Signal] =
      key.asInstanceOf[Signal].applyEvent(event)
  }

  /** A path event decoded to `values` by a codec of `source`: candidates
    * through each declared input's compiled decoder, which `decoderOf`
    * finds. */
  final class OfPath(source: SignalSource, values: IndexedSeq[DimValue],
                     decoderOf: Signal => EventDecoder) extends Offer {
    def kind: SignalSourceKind = source.kind
    def rootPath: String = source.rootPath
    lazy val paths: Seq[String] = Seq(source.materializePath(values))
    protected def memoKey(declared: Signal): AnyRef = decoderOf(declared)
    protected def compute(key: AnyRef): Option[Signal] =
      key.asInstanceOf[EventDecoder].candidate(values)
  }
}
