package graft.functions

import org.apache.spark.sql.{Column, Encoder}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions.udaf

/** Custom typed aggregate (SURVEY.md §2.11: AggregateUDFImpl ↔ Spark
  * `Aggregator`): elementwise-min over fixed-width long arrays. Combining
  * per-document MinHash signatures with elementwise min yields the
  * signature of the UNION of the documents' shingle sets — i.e. a
  * GROUP-level MinHash, enabling source/cluster-level near-dup detection
  * without reshuffling shingles. State is one k-long array per group,
  * merge is associative+commutative → safe partial aggregation at any
  * scale.
  */
class ElementwiseMin(k: Int)
    extends Aggregator[Seq[Long], Array[Long], Seq[Long]] {
  override def zero: Array[Long] = Array.fill(k)(Long.MaxValue)

  override def reduce(buf: Array[Long], row: Seq[Long]): Array[Long] = {
    var i = 0
    val it = row.iterator
    while (i < k && it.hasNext) {
      val v = it.next()
      if (v < buf(i)) buf(i) = v
      i += 1
    }
    buf
  }

  override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
    var i = 0
    while (i < k) { if (b(i) < a(i)) a(i) = b(i); i += 1 }
    a
  }

  override def finish(buf: Array[Long]): Seq[Long] = buf.toSeq

  override def bufferEncoder: Encoder[Array[Long]] =
    ExpressionEncoder[Array[Long]]()
  override def outputEncoder: Encoder[Seq[Long]] =
    ExpressionEncoder[Seq[Long]]()
}

object GroupMinHash {
  /** Column API: group-level MinHash from per-row signature arrays. */
  def groupSignature(sig: Column, k: Int): Column = {
    udaf(new ElementwiseMin(k)).apply(sig)
  }
}
