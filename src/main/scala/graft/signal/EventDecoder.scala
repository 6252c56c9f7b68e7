package graft.signal

import graft.dimension._

/** A declared signal compiled for path events (the event codec direction;
  * reference Signal.create, signal.py:405-468), once per declared input.
  *
  * [[values]] turns a physical path's segments into typed tip values
  * (`DimValue.resolve` against the declared dims, through the cached
  * formatters); [[admits]] and [[candidate]] test and apply the declared
  * filter through a [[CompiledFilter]]. An event is therefore a value
  * tuple: no `DimFilter` branch is built for it and no `chain` runs.
  *
  * With `event` the concrete signal of a path — the declared signal whose
  * filter is the path's single branch — these equal the interpreted
  * algebra: `signalAt(p)` is that event when the declared filter chains
  * with it, and `candidate(values)` is `declared.applyEvent(event)`. */
final class EventDecoder(val declared: Signal, val codec: EventDecoder.Codec) {
  def this(declared: Signal) = this(declared, EventDecoder.Codec(declared))

  private val compiled = new CompiledFilter(declared.filter)

  def source: SignalSource = declared.source

  /** The path's tip values, one per declared dim; None when the path is
    * not a partition of this source. A segment its DATETIME dim cannot
    * parse throws, as `DimValue.resolve` does. */
  def values(path: String): Option[IndexedSeq[DimValue]] = codec.values(path)

  /** Does the declared filter admit an event of these values? */
  def admits(values: IndexedSeq[DimValue]): Boolean = compiled.admits(values)

  /** The declared signal applied to an event of these values (relative
    * ranges expand); None when its filter rejects the event. The caller
    * checks that the event is of this decoder's resource. */
  def candidate(values: IndexedSeq[DimValue]): Option[Signal] =
    compiled.apply(values).map(f => declared.copy(filter = f))

  /** The concrete signal of `path`, if the declared filter admits it. */
  def signalAt(path: String): Option[Signal] =
    values(path).filter(admits).map(vs =>
      declared.copy(filter = DimFilter.branchOf(declared.spec, vs)))
}

object EventDecoder {
  /** The path → values half of a decoder. Declared inputs over one source
    * with one spec share a codec, so a table parses an event once per
    * codec, not once per declared input. */
  final case class Codec(source: SignalSource, dims: List[Dim]) {
    private val dimArr = dims.toArray

    def values(path: String): Option[IndexedSeq[DimValue]] =
      source.extractDims(path, dimArr.length).flatMap { raws =>
        if (raws.length != dimArr.length) None
        else {
          val out = new Array[DimValue](dimArr.length)
          var i = 0
          raws.foreach { r => out(i) = DimValue.resolve(r, dimArr(i)); i += 1 }
          Some(scala.collection.immutable.ArraySeq.unsafeWrapArray(out))
        }
      }
  }

  object Codec {
    /** The dim each segment resolves against, as `DimFilter.branchOf`
      * walks the spec: down its first branch, untyped past its end. */
    def apply(declared: Signal): Codec = {
      val depth = declared.spec.flatten.length
      val chain = Iterator.iterate(declared.spec)(s =>
          s.nodes.headOption.map(_._2).getOrElse(DimSpec.empty))
        .take(depth)
        .map(_.nodes.headOption.map(_._1).getOrElse(Dim(None, None)))
        .toList
      Codec(declared.source, chain)
    }
  }
}
