package graft.dimension

import scala.util.Try

/** A DimensionSpec whose nodes are instantiated values (variants): multiple
  * values may exist per level. Core operations: `chain` (intersection of two
  * filters), `apply` (finalizing chain — relative ranges explode against
  * concrete datums), `materialize`, `allPass`.
  * Reference: dimension_constructs.py:2002-2693.
  *
  * This is the engine's predicate algebra over partition dimensions; a
  * materialized filter flattens into concrete partition tuples that feed
  * path lists / `isin` pruning on the Spark side.
  */
final case class DimFilter(nodes: List[(DimValue, DimFilter)]) {
  def isEmpty: Boolean = nodes.isEmpty
  def values: List[DimValue] = nodes.map(_._1)

  /** The implied spec of this filter (types only; special variants with no
    * type are placeholders). */
  def spec: DimSpec = DimSpec(nodes.headOption.toList.map { case (v, sub) =>
    (Dim(v.name, v.dtype, v.params), sub.spec)
  })

  /** Breadth/type structural match (reference check_spec_match:
    * untyped placeholder matches any type). */
  def specMatch(other: DimFilter): Boolean = {
    if (isEmpty && other.isEmpty) true
    else if (isEmpty || other.isEmpty) false
    else {
      // depth check down the first branch; type check across levels
      val lt = values.flatMap(_.dtype).distinct
      val rt = other.values.flatMap(_.dtype).distinct
      val typesOk = lt.isEmpty || rt.isEmpty || lt.exists(rt.contains)
      typesOk && {
        (nodes.map(_._2).find(!_.isEmpty), other.nodes.map(_._2).find(!_.isEmpty)) match {
          case (Some(ls), Some(rs)) => ls.specMatch(rs)
          case (None, None) => true
          case _ => false
        }
      }
    }
  }

  /** True iff every node (recursively) is a `*` wildcard — the filter
    * accepts anything. Reference all_pass. */
  def allPass: Boolean = nodes.forall {
    case (_: AnyVal_, sub) => sub.allPass
    case _ => false
  }

  /** Intersection-chain `this ∩ other` (dev-time: finalize=false keeps
    * relative∩relative as the narrower range; runtime apply: finalize=true
    * explodes relatives against concrete datums). Returns None on spec
    * mismatch; an empty result filter means "no overlap".
    * Reference: dimension_constructs.py:2087-2228. */
  def chain(other: DimFilter, finalize: Boolean = false): Option[DimFilter] = {
    if (!specMatch(other)) None
    else if (other.isEmpty) Some(this)
    else Some(DimFilter.chainRecursive(this, other, finalize))
  }

  /** Finalizing chain: runtime application of a concrete (event) filter. */
  def applyFilter(value: DimFilter): Option[DimFilter] = chain(value, finalize = true)

  /** All root→leaf concrete value tuples (partition tuples). */
  def tuples: List[List[DimValue]] =
    if (isEmpty) List(Nil)
    else nodes.flatMap { case (v, sub) => sub.tuples.map(v :: _) }

  /** Apply range-shift / custom transforms to every material node. */
  def transform(): DimFilter =
    DimFilter(nodes.map { case (v, sub) => (v.transform(), sub.transform()) })

  /** True iff every node holds a material (concrete) value. */
  def isMaterialized: Boolean = nodes.forall { case (v, sub) =>
    v.isMaterial && sub.isMaterialized
  }

  def pretty: String = tuples.map(_.map(_.value).mkString("/")).mkString("{", ", ", "}")
}

object DimFilter {
  val empty: DimFilter = DimFilter(Nil)

  /** Load from raw nested value lists with a declared spec, resolving each
    * raw value against the spec dim at its depth:
    * `DimFilter.loadRaw(spec, List("NA" -> List("2021-01-13" -> Nil)))`. */
  def loadRaw(spec: DimSpec, raw: RawFilter): DimFilter = {
    val dim = spec.nodes.headOption.map(_._1).getOrElse(Dim(None, None))
    val sub = spec.nodes.headOption.map(_._2).getOrElse(DimSpec.empty)
    DimFilter(raw.entries.map { case (v, r) =>
      (DimValue.resolve(v, dim), loadRaw(sub, r))
    })
  }

  /** Raw nested filter input: ordered (value → children) pairs. */
  final case class RawFilter(entries: List[(Any, RawFilter)])
  object RawFilter {
    val empty: RawFilter = RawFilter(Nil)
    def leafValues(vs: Any*): RawFilter = RawFilter(vs.toList.map(_ -> empty))
    def chainOf(vs: Any*): RawFilter =
      vs.foldRight(empty)((v, sub) => RawFilter(List(v -> sub)))
  }

  /** All-pass filter for a spec: one `*` per level. */
  def allPassFor(spec: DimSpec): DimFilter =
    DimFilter(spec.nodes.map { case (d, sub) =>
      (AnyVal_(d.name, d.dtype, d.params), allPassFor(sub))
    })

  /** Materialized single-branch filter from concrete values down a spec. */
  def branchOf(spec: DimSpec, values: Seq[Any]): DimFilter = {
    if (values.isEmpty) empty
    else {
      val dim = spec.nodes.headOption.map(_._1).getOrElse(Dim(None, None))
      val sub = spec.nodes.headOption.map(_._2).getOrElse(DimSpec.empty)
      DimFilter(List((DimValue.resolve(values.head, dim), branchOf(sub, values.tail))))
    }
  }

  /** The reference's N×N per-level chaining (dimension_constructs.py:2178-2228):
    * every RHS value is applied to every type/name-compatible LHS value; a
    * survivor keeps the branch only if sub-filters also overlap. */
  private[dimension] def chainRecursive(left: DimFilter, right: DimFilter,
                                        finalize: Boolean): DimFilter = {
    val resultNodes = scala.collection.mutable.LinkedHashMap.empty[String, (DimValue, DimFilter)]
    for ((rv, rSub) <- right.nodes) {
      val block = left.nodes.filter { case (lv, _) => levelCompatible(lv, rv) }
      for ((lv, lSub) <- block) {
        applyValue(lv, rv, finalize).foreach { survivors =>
          val newSub: Option[DimFilter] =
            if (lSub.isEmpty || rSub.isEmpty) Some(DimFilter.empty) // leaf
            else {
              val s = chainRecursive(lSub, rSub, finalize)
              if (s.isEmpty) None else Some(s) // prune dead branches
            }
          newSub.foreach { sub =>
            survivors.foreach { s =>
              // identical values at this level MERGE their subtrees —
              // first-wins silently dropped the second branch's
              // distinct sub-filter (two pinned days under one region
              // value), losing partitions the intersection covers
              val key = s.value.toString
              resultNodes.get(key) match {
                case None => resultNodes(key) = (s, sub)
                case Some((s0, sub0)) =>
                  resultNodes(key) = (s0, mergeByValue(sub0, sub))
              }
            }
          }
        }
      }
    }
    DimFilter(resultNodes.values.toList)
  }

  /** May declared value `lv` meet incoming value `rv` at one level:
    * types compatible, and names equal where both are named. */
  private[dimension] def levelCompatible(lv: DimValue, rv: DimValue): Boolean =
    lv.typeCompatible(rv) &&
      (lv.name.isEmpty || rv.name.isEmpty || lv.name == rv.name)

  /** `lv.applyTo(rv)` as chaining uses it: a value incompatibility is no
    * match (None). */
  private[dimension] def applyValue(lv: DimValue, rv: DimValue,
                                    finalize: Boolean): Option[List[DimValue]] =
    try lv.applyTo(rv, finalize)
    catch {
      // deliberate misuse diagnostics (finalize of relative vs
      // relative) must SURFACE — swallowing them turned
      // programming errors into silent non-matches
      case e: IllegalStateException => throw e
      case scala.util.control.NonFatal(_) => None // value incompat
    }

  /** Recursive union of two filters' branches, deduped by canonical
    * value per level (subtrees of equal values merge the same way). */
  private[dimension] def mergeByValue(a: DimFilter, b: DimFilter): DimFilter = {
    if (b.isEmpty) return a
    if (a.isEmpty) return b
    val out = scala.collection.mutable.LinkedHashMap.empty[String, (DimValue, DimFilter)]
    (a.nodes ++ b.nodes).foreach { case (v, sub) =>
      val k = v.value.toString
      out.get(k) match {
        case None => out(k) = (v, sub)
        case Some((v0, sub0)) => out(k) = (v0, mergeByValue(sub0, sub))
      }
    }
    DimFilter(out.values.toList)
  }
}
