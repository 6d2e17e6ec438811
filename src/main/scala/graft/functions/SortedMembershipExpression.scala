package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.call_function
import org.apache.spark.unsafe.types.UTF8String

/** `graft_count_in_sorted(arr, sorted_set)` — how many elements of `arr`
  * (duplicates counted) appear in the ASCENDING-sorted string array
  * `sorted_set`, by per-element binary search.
  *
  * This is the codegen'd replacement for the
  * `size(filter(arr, x -> array_contains(set, x)))` formulation: the
  * higher-order-function lambda runs interpreted at O(|arr|·|set|)
  * string comparisons per row, which at a 1000-entry set is the
  * per-row hot loop that dominated q74 (see CLAUDE.md's HOF pitfall).
  * Binary search in generated code is O(|arr|·log|set|) with no
  * lambda dispatch — the caller guarantees `sorted_set` ascending
  * (`sort_array` default), same binary UTF8 ordering used here.
  *
  * Null contract: null input arrays → null; null ELEMENTS of `arr`
  * never match (array_contains semantics).
  */
object CountInSorted {
  /** The kernel ([[Registry]]). */
  def count(arr: ArrayData, set: ArrayData): Long = {
    var cnt = 0L; var i = 0
    while (i < arr.numElements()) {
      if (!arr.isNullAt(i) && found(set, arr.getUTF8String(i))) cnt += 1
      i += 1
    }
    cnt
  }

  /** Binary search `needle` in the ascending string array `set`
    * (binary UTF8 order — `sort_array`'s order). Null elements in
    * `set` sort FIRST under sort_array's default; they never equal a
    * non-null needle, and a run of leading nulls keeps lo at a null
    * slot only while the needle compares greater, so correctness holds
    * if callers pass a set with nulls — they just never match.
    */
  private def found(set: ArrayData, needle: UTF8String): Boolean = {
    var lo = 0; var hi = set.numElements() - 1
    while (lo <= hi) {
      val mid = (lo + hi) >>> 1
      val c = if (set.isNullAt(mid)) -1
        else set.getUTF8String(mid).compareTo(needle)
      if (c == 0) return true
      else if (c < 0) lo = mid + 1
      else hi = mid - 1
    }
    false
  }

  def countIn(arr: Column, sortedSet: Column): Column =
    call_function("graft_count_in_sorted", arr, sortedSet)
}
