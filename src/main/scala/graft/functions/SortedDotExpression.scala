package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.call_function

/** `graft_sorted_pair_dot(a, b)` — the exact weighted dot product of two
  * ASCENDING-sorted sparse vectors, each an
  * `array<struct<tok: string, w2: bigint>>`: Σ w2 over tokens present
  * in BOTH arrays, one O(|a| + |b|) merge scan per row.
  *
  * The kernel of the q170 all-pairs verification stage (where the idf
  * weight is a per-token constant, so the shared token's w² is the
  * same from either side): the relational spelling — explode candidate
  * pairs against one side's postings and inner-join the other's —
  * shuffles |cand| × avg-tokens skinny rows plus a (id_a, id_b)
  * re-aggregate; this function instead rides the candidate join
  * (one array payload per doc) and stays inside whole-stage codegen,
  * replacing the two heaviest shuffles of the verify stage with a
  * per-row native loop (the q74/CountInSorted playbook).
  *
  * Caller contract: arrays ascending by `tok` in Spark's binary string
  * order (`sort_array` on the struct — it compares field 1 first) with
  * unique, non-null toks. Null arrays yield null. Exact long
  * arithmetic — admission stays engine-exact.
  */
object SortedPairDot {
  /** Merge-scan two ascending (tok, w2) arrays, summing w2 on matches.
    * The kernel ([[Registry]]). UTF8String.compareTo is the same
    * binary order sort_array used to build the arrays.
    */
  def dot(a: ArrayData, b: ArrayData): Long = {
    val na = a.numElements(); val nb = b.numElements()
    var i = 0; var j = 0
    var s = 0L
    while (i < na && j < nb) {
      val ra = a.getStruct(i, 2); val rb = b.getStruct(j, 2)
      val c = ra.getUTF8String(0).compareTo(rb.getUTF8String(0))
      if (c == 0) { s += ra.getLong(1); i += 1; j += 1 }
      else if (c < 0) i += 1
      else j += 1
    }
    s
  }

  def dot(a: Column, b: Column): Column =
    call_function("graft_sorted_pair_dot", a, b)
}
