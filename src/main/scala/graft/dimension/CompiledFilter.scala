package graft.dimension

/** A declared filter compiled for concrete events: one partition, given
  * as its value tuple (one value per dimension, root first), is tested
  * for membership or has the filter applied to it, without building the
  * event's [[DimFilter]] branch and without [[DimFilter.chain]]'s
  * structural walk over it.
  *
  * The interpreted algebra is the specification. With `branch` the
  * single-branch filter of `values` (`DimFilter.branchOf`):
  *   - `admits(values)` == `filter.chain(branch)` is a non-empty filter;
  *   - `apply(values)` == `filter.applyFilter(branch)`, when non-empty.
  * A relative range (`_:-N`) still expands in `apply`: that expansion is
  * the candidate's partition list. */
final class CompiledFilter(filter: DimFilter) {

  /** The dtypes [[DimFilter.specMatch]] compares at each depth: the
    * declared filter's first branch down to its first leaf. An event
    * matches the spec when it has exactly this depth and, at each depth,
    * either side is untyped or they share a dtype. */
  private val spine: Array[Set[DimType]] = {
    val b = Array.newBuilder[Set[DimType]]
    var level = filter
    while (!level.isEmpty) {
      b += level.values.flatMap(_.dtype).toSet
      level = level.nodes.map(_._2).find(!_.isEmpty).getOrElse(DimFilter.empty)
    }
    b.result()
  }

  private def specMatches(values: IndexedSeq[DimValue]): Boolean =
    values.length == spine.length && values.indices.forall { i =>
      val lt = spine(i)
      lt.isEmpty || values(i).dtype.forall(lt.contains)
    }

  /** Does the declared filter admit this partition (chain, not finalize:
    * a declared range admits any value in a compatible spec)? */
  def admits(values: IndexedSeq[DimValue]): Boolean =
    values.nonEmpty && specMatches(values) && admitsAt(filter.nodes, values, 0)

  private def admitsAt(nodes: List[(DimValue, DimFilter)],
                       values: IndexedSeq[DimValue], i: Int): Boolean = {
    val rv = values(i)
    val leaf = i == values.length - 1
    nodes.exists { case (lv, lSub) =>
      DimFilter.levelCompatible(lv, rv) &&
        DimFilter.applyValue(lv, rv, finalize = false).exists(_.nonEmpty) &&
        (lSub.isEmpty || leaf || admitsAt(lSub.nodes, values, i + 1))
    }
  }

  /** The declared filter applied to this partition (finalize: relative
    * ranges expand around the event's value); None when it rejects it. */
  def apply(values: IndexedSeq[DimValue]): Option[DimFilter] =
    if (values.isEmpty || !specMatches(values)) None
    else {
      val nodes = applyAt(filter.nodes, values, 0)
      if (nodes.isEmpty) None else Some(DimFilter(nodes))
    }

  /** [[DimFilter.chainRecursive]] with a single-branch right side:
    * survivors of equal canonical value merge their subtrees. */
  private def applyAt(nodes: List[(DimValue, DimFilter)],
                      values: IndexedSeq[DimValue], i: Int): List[(DimValue, DimFilter)] = {
    val rv = values(i)
    val leaf = i == values.length - 1
    // one survivor is the common case: no keyed map until a second one
    var one: (DimValue, DimFilter) = null
    var keyed: scala.collection.mutable.LinkedHashMap[String, (DimValue, DimFilter)] = null
    def add(s: DimValue, sub: DimFilter): Unit =
      if (one == null && keyed == null) one = (s, sub)
      else {
        if (keyed == null) {
          keyed = scala.collection.mutable.LinkedHashMap(one._1.value.toString -> one)
          one = null
        }
        val key = s.value.toString
        keyed.get(key) match {
          case None => keyed(key) = (s, sub)
          case Some((s0, sub0)) => keyed(key) = (s0, DimFilter.mergeByValue(sub0, sub))
        }
      }
    nodes.foreach { case (lv, lSub) =>
      if (DimFilter.levelCompatible(lv, rv))
        DimFilter.applyValue(lv, rv, finalize = true).foreach { survivors =>
          if (lSub.isEmpty || leaf) survivors.foreach(add(_, DimFilter.empty))
          else {
            val sub = applyAt(lSub.nodes, values, i + 1)
            if (sub.nonEmpty) {
              val f = DimFilter(sub)
              survivors.foreach(add(_, f))
            }
          }
        }
    }
    if (keyed != null) keyed.values.toList
    else if (one != null) List(one)
    else Nil
  }
}
