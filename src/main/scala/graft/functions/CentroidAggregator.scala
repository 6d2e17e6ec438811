package graft.functions

import org.apache.spark.sql.{Encoder, TypedColumn}
import org.apache.spark.sql.expressions.Aggregator

/** Typed aggregator: element-wise mean of `array<float>` vectors — the
  * centroid computation behind IVF training, label prototypes, and
  * cluster summaries. Partial-aggregates per partition (sum + count
  * buffer), merges associatively — the map-side-combine shape that makes
  * a 100 TB groupBy centroid feasible.
  */
object CentroidAggregator
    extends Aggregator[Array[Float], (Array[Double], Long), Array[Double]] {

  override def zero: (Array[Double], Long) = (Array.emptyDoubleArray, 0L)

  override def reduce(b: (Array[Double], Long), v: Array[Float])
      : (Array[Double], Long) = {
    val sums = if (b._1.isEmpty) new Array[Double](v.length) else b._1
    var i = 0
    while (i < v.length && i < sums.length) { sums(i) += v(i); i += 1 }
    (sums, b._2 + 1)
  }

  override def merge(a: (Array[Double], Long), b: (Array[Double], Long))
      : (Array[Double], Long) = {
    if (a._1.isEmpty) b
    else if (b._1.isEmpty) a
    else {
      var i = 0
      while (i < a._1.length) { a._1(i) += b._1(i); i += 1 }
      (a._1, a._2 + b._2)
    }
  }

  override def finish(r: (Array[Double], Long)): Array[Double] =
    if (r._2 == 0) Array.emptyDoubleArray else r._1.map(_ / r._2)

  override def bufferEncoder: Encoder[(Array[Double], Long)] =
    org.apache.spark.sql.catalyst.encoders
      .ExpressionEncoder[(Array[Double], Long)]()
  override def outputEncoder: Encoder[Array[Double]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Double]]()

  /** As a typed column for `KeyValueGroupedDataset.agg`. */
  def centroid: TypedColumn[Array[Float], Array[Double]] = toColumn
}
