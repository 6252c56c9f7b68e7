package graft.operators

import org.apache.spark.sql.Encoder
import org.apache.spark.sql.expressions.Aggregator

/** `collect_list` with a hard cap on the AGGREGATION BUFFER: keeps at
  * most `cap + 1` elements, so a group that overflows surfaces with
  * size `cap + 1` and the standard `size <= cap` guard drops it —
  * WITHOUT ever materializing the full list. Plain collect_list builds
  * the whole group in one buffer before any size filter runs: a
  * near-universal LSH bucket (10^8 boilerplate copies at corpus scale)
  * is a multi-GB single-task ArrayBuffer → executor OOM, in exactly the
  * skew case the bucket guard exists for. Element order is not
  * preserved (callers array_sort anyway). */
final class BoundedCollectLong(cap: Int)
    extends Aggregator[Long, (Long, List[Long]), Array[Long]] {
  // buffer = (count, prepend-list): the count makes the cap check O(1)
  // and the list makes append O(1) — a plain Array buffer costs an O(n)
  // copy per element (O(cap^2) to fill the near-universal bucket this
  // guard exists for) and a bare List costs an O(n) length walk per call
  private val lim = cap + 1
  override def zero: (Long, List[Long]) = (0L, Nil)
  override def reduce(b: (Long, List[Long]), v: Long): (Long, List[Long]) =
    if (b._1 >= lim) b else (b._1 + 1, v :: b._2)
  override def merge(b1: (Long, List[Long]),
                     b2: (Long, List[Long])): (Long, List[Long]) =
    if (b1._1 >= lim) b1
    else if (b2._1 >= lim) b2
    else {
      val total = b1._1 + b2._1
      val c = b2._2 ::: b1._2
      if (total > lim) (lim, c.take(lim)) else (total, c)
    }
  override def finish(b: (Long, List[Long])): Array[Long] = b._2.toArray
  override def bufferEncoder: Encoder[(Long, List[Long])] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[(Long, List[Long])]()
  override def outputEncoder: Encoder[Array[Long]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
}

/** String-id variant of [[BoundedCollectLong]] (same O(1)-cap buffer). */
final class BoundedCollectString(cap: Int)
    extends Aggregator[String, (Long, List[String]), Seq[String]] {
  private val lim = cap + 1
  override def zero: (Long, List[String]) = (0L, Nil)
  override def reduce(b: (Long, List[String]),
                      v: String): (Long, List[String]) =
    if (b._1 >= lim) b else (b._1 + 1, v :: b._2)
  override def merge(b1: (Long, List[String]),
                     b2: (Long, List[String])): (Long, List[String]) =
    if (b1._1 >= lim) b1
    else if (b2._1 >= lim) b2
    else {
      val total = b1._1 + b2._1
      val c = b2._2 ::: b1._2
      if (total > lim) (lim, c.take(lim)) else (total, c)
    }
  override def finish(b: (Long, List[String])): Seq[String] = b._2
  override def bufferEncoder: Encoder[(Long, List[String])] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[(Long, List[String])]()
  override def outputEncoder: Encoder[Seq[String]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[String]]()
}

/** (string id, hash) pair variant for the SimHash bucket aggregation
  * over non-long id columns (same O(1)-cap buffer). */
final class BoundedCollectStringPair(cap: Int)
    extends Aggregator[(String, Long), (Long, List[(String, Long)]), Seq[(String, Long)]] {
  private val lim = cap + 1
  override def zero: (Long, List[(String, Long)]) = (0L, Nil)
  override def reduce(b: (Long, List[(String, Long)]),
                      v: (String, Long)): (Long, List[(String, Long)]) =
    if (b._1 >= lim) b else (b._1 + 1, v :: b._2)
  override def merge(b1: (Long, List[(String, Long)]),
                     b2: (Long, List[(String, Long)])): (Long, List[(String, Long)]) =
    if (b1._1 >= lim) b1
    else if (b2._1 >= lim) b2
    else {
      val total = b1._1 + b2._1
      val c = b2._2 ::: b1._2
      if (total > lim) (lim, c.take(lim)) else (total, c)
    }
  override def finish(b: (Long, List[(String, Long)])): Seq[(String, Long)] = b._2
  override def bufferEncoder: Encoder[(Long, List[(String, Long)])] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[(Long, List[(String, Long)])]()
  override def outputEncoder: Encoder[Seq[(String, Long)]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[(String, Long)]]()
}

/** (id, hash) pair variant for the SimHash bucket aggregation (same
  * O(1)-cap buffer). */
final class BoundedCollectPair(cap: Int)
    extends Aggregator[(Long, Long), (Long, List[(Long, Long)]), Array[(Long, Long)]] {
  private val lim = cap + 1
  override def zero: (Long, List[(Long, Long)]) = (0L, Nil)
  override def reduce(b: (Long, List[(Long, Long)]),
                      v: (Long, Long)): (Long, List[(Long, Long)]) =
    if (b._1 >= lim) b else (b._1 + 1, v :: b._2)
  override def merge(b1: (Long, List[(Long, Long)]),
                     b2: (Long, List[(Long, Long)])): (Long, List[(Long, Long)]) =
    if (b1._1 >= lim) b1
    else if (b2._1 >= lim) b2
    else {
      val total = b1._1 + b2._1
      val c = b2._2 ::: b1._2
      if (total > lim) (lim, c.take(lim)) else (total, c)
    }
  override def finish(b: (Long, List[(Long, Long)])): Array[(Long, Long)] =
    b._2.toArray
  override def bufferEncoder: Encoder[(Long, List[(Long, Long)])] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[(Long, List[(Long, Long)])]()
  override def outputEncoder: Encoder[Array[(Long, Long)]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[(Long, Long)]]()
}

/** Element-wise vector sum + member count in ONE buffer
  * (`[sums(0..dim-1), count]`, sized lazily on first input) — the Lloyd
  * centroid step's aggregation: one packed row per cell instead of
  * k×dim individual (cell, pos, sum, count) rows. */
final class VecSumCount
    extends Aggregator[Seq[Double], Array[Double], Seq[Double]] {
  override def zero: Array[Double] = Array.emptyDoubleArray
  override def reduce(b: Array[Double], v: Seq[Double]): Array[Double] = {
    val bb = if (b.isEmpty) new Array[Double](v.length + 1) else b
    var i = 0
    while (i < v.length) { bb(i) += v(i); i += 1 }
    bb(bb.length - 1) += 1
    bb
  }
  override def merge(b1: Array[Double], b2: Array[Double]): Array[Double] =
    if (b1.isEmpty) b2
    else if (b2.isEmpty) b1
    else {
      var i = 0
      while (i < b1.length) { b1(i) += b2(i); i += 1 }
      b1
    }
  override def finish(b: Array[Double]): Seq[Double] = b.toSeq
  override def bufferEncoder: Encoder[Array[Double]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Double]]()
  override def outputEncoder: Encoder[Seq[Double]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Double]]()
}
