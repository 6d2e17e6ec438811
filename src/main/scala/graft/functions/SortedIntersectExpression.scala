package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.call_function

/** `graft_sorted_intersect_above(a, b, threshold)` — the ascending-sorted
  * intersection of two ASCENDING-sorted `array<bigint>`s, keeping only
  * elements strictly greater than `threshold`.
  *
  * This is the triangle-closing kernel of the adjacency-intersection
  * formulation (Latapy 2008 "edge-iterator"): for an oriented edge
  * (u, v) with packed sorted neighbor lists N(u), N(v), the common
  * neighbors above v's packed key are exactly the third corners of the
  * triangles this edge closes — each triangle found once, at its
  * smallest corner pair. The HOF spelling
  * `filter(array_intersect(nu, nv), w -> w > pkv)` runs the lambda
  * interpreted and hash-builds a set per row (measured ~5 s over the
  * 1.2 M-edge co-purchase graph at sf0.1); this function instead
  * binary-searches both arrays to the threshold suffix and merge-scans,
  * O(|suffix(a)| + |suffix(b)|) per row with no per-element dispatch.
  *
  * Caller contract: both arrays ascending (`sort_array` default) with
  * non-null elements — the graph code builds them from
  * `sort_array(collect_set(<non-null long>))`. Null ARRAYS or a null
  * threshold yield null.
  */
object SortedIntersectAbove {
  /** Merge-scan the suffixes of two ascending long arrays above `t`.
    * The kernel ([[Registry]]). The hot loop touches primitive
    * longs only — no boxing, no per-element virtual dispatch.
    */
  def intersectAbove(a: ArrayData, b: ArrayData, t: Long): ArrayData = {
    var i = lowerBound(a, t); var j = lowerBound(b, t)
    val na = a.numElements(); val nb = b.numElements()
    // result is at most the shorter suffix
    val buf = new Array[Long](math.min(na - i, nb - j).max(0))
    var k = 0
    while (i < na && j < nb) {
      val x = a.getLong(i); val y = b.getLong(j)
      if (x == y) { buf(k) = x; k += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    // fromPrimitiveArray keeps the result unboxed (GenericArrayData
    // would box every long on the way out)
    UnsafeArrayData.fromPrimitiveArray(
      if (k == buf.length) buf else java.util.Arrays.copyOf(buf, k))
  }

  /** Index of the first element strictly greater than `t`. */
  private def lowerBound(arr: ArrayData, t: Long): Int = {
    var lo = 0; var hi = arr.numElements()
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (arr.getLong(mid) <= t) lo = mid + 1 else hi = mid
    }
    lo
  }

  def intersectAbove(a: Column, b: Column,
      threshold: Column): Column =
    call_function("graft_sorted_intersect_above", a, b, threshold)
}
