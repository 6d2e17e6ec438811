package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.{call_function, lit}
import org.apache.spark.unsafe.types.UTF8String

/** `graft_pair_merge(syms, left, right)` — the BPE merge step (the
  * `(left, right) → leftmost non-overlapping fuse` of Sennrich et al.
  * 2016): rewrite a symbol array by replacing every leftmost,
  * non-overlapping adjacent occurrence of the pair with the fused
  * symbol, as one O(L) codegen'd pass per row.
  *
  * The built-in-function formulation needs a sequential fold
  * (`aggregate` HOF) whose accumulator append is O(L) — O(L²) copies
  * per row, interpreted. This stays inside whole-stage codegen and
  * allocates one output array.
  */
object PairMergeExpression {

  /** The kernel ([[Registry]]); `fused` = left ++ right, a plan
    * constant the registry row adds.
    */
  def merge(arr: ArrayData, left: UTF8String, right: UTF8String,
      fused: UTF8String): ArrayData = {
    val n = arr.numElements()
    val out = new Array[AnyRef](n)
    var m = 0
    var i = 0
    while (i < n) {
      val cur = arr.getUTF8String(i)
      if (i + 1 < n && left.equals(cur)
          && right.equals(arr.getUTF8String(i + 1))) {
        out(m) = fused; m += 1; i += 2
      } else { out(m) = cur; m += 1; i += 1 }
    }
    new GenericArrayData(
      if (m == n) out else java.util.Arrays.copyOf(out, m))
  }

  def pairMerge(syms: Column, left: String,
      right: String): Column =
    call_function("graft_pair_merge", syms, lit(left), lit(right))
}
