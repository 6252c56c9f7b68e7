package graft.dimension

/** Ordered *nested tree* of declared dimensions; hierarchy = partition-path
  * order (e.g. region/day). Reference: dimension_constructs.py:173-504.
  *
  * In the Spark engine a flattened spec is exactly the `partitionBy` column
  * list of a dataset.
  */
final case class DimSpec(nodes: List[(Dim, DimSpec)]) {
  def isEmpty: Boolean = nodes.isEmpty

  /** Depth-first flatten → ordered dimension list (reference
    * get_flattened_dimension_map, dimension_constructs.py:242-265). Specs
    * are single-branch in practice (each level has one *declared* dim). */
  lazy val flatten: List[Dim] = nodes.flatMap { case (d, sub) => d :: sub.flatten }

  /** Names of the flattened dims (unnamed dims skipped). */
  lazy val flatNames: List[String] = flatten.flatMap(_.name)

  def find(name: String): Option[Dim] = flatten.find(_.name.contains(name))

  /** Structural compatibility: same depth/breadth and per-level type
    * compatibility (names are NOT compared across specs). */
  def compatibleWith(other: DimSpec): Boolean = {
    if (nodes.length != other.nodes.length) false
    else nodes.zip(other.nodes).forall { case ((d1, s1), (d2, s2)) =>
      d1.typeCompatible(d2) && s1.compatibleWith(s2)
    }
  }
}

object DimSpec {
  val empty: DimSpec = DimSpec(Nil)

  /** Build from the "pretty" nested map form the reference APIs use
    * (dimension_constructs.py:421-470):
    * {{{
    * DimSpec.pretty(
    *   "region" -> (DimType.STRING, Map.empty),
    *   "day"    -> (DimType.DATETIME, Map("format" -> "%Y-%m-%d")))
    * }}}
    * Each entry nests under the previous one (single-branch chain).
    */
  def pretty(dims: (String, (DimType, Map[String, Any]))*): DimSpec =
    dims.foldRight(empty) { case ((name, (t, params)), sub) =>
      DimSpec(List((Dim(Some(name), Some(t), params), sub)))
    }

  def of(dims: Dim*): DimSpec =
    dims.foldRight(empty)((d, sub) => DimSpec(List((d, sub))))
}
