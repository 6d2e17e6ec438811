package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.call_function
import org.apache.spark.unsafe.types.UTF8String

/** `graft_seq_patterns(arr)` — every event-type subsequence pattern of
  * length ≤ 3 contained in the session array `arr`, by the GREEDY
  * EARLIEST-MATCH rule (first a at i, first b after i at j, any c
  * after j), as `array<string>` of `a`, `a>b`, `a>b>c` over the
  * session's distinct types in first-occurrence order.
  *
  * Replaces q232's nested `transform`/`slice`/`array_position` HOF
  * tower: HOF lambdas run INTERPRETED per element and every
  * `after(...)` slice copies the array tail — measured as the dominant
  * cost of the whole query. This function is the identical greedy
  * logic in one pass of primitive scans; SeqPatternsSpec pins
  * native ≡ HOF on the real sessions and an edge grid. The DuckDB
  * oracle (DISTINCT inequality self-joins) is untouched.
  */
object SeqPatterns {
  private val Gt = UTF8String.fromString(">")

  /** The kernel ([[Registry]]). */
  def patterns(arr: ArrayData): ArrayData = {
    val n = arr.numElements()
    val a = new Array[UTF8String](n)
    var i = 0
    while (i < n) { a(i) = arr.getUTF8String(i); i += 1 }
    // distinct types, first-occurrence order (array_distinct semantics)
    val d = new java.util.ArrayList[UTF8String]()
    val seen = new java.util.HashSet[UTF8String]()
    i = 0
    while (i < n) {
      if (seen.add(a(i))) d.add(a(i))
      i += 1
    }
    val nd = d.size
    // first occurrence strictly after index `from` (exclusive), -1 if none
    def firstAfter(t: UTF8String, from: Int): Int = {
      var j = from + 1
      while (j < n) {
        if (a(j).equals(t)) return j
        j += 1
      }
      -1
    }
    val out = new java.util.ArrayList[UTF8String]()
    var ai = 0
    while (ai < nd) {
      val ta = d.get(ai)
      out.add(ta) // k = 1
      // first occurrence of ta (it is in d, so it exists)
      var ia = 0
      while (!a(ia).equals(ta)) ia += 1
      var bi = 0
      while (bi < nd) {
        val tb = d.get(bi)
        val jb = firstAfter(tb, ia)
        if (jb >= 0) {
          out.add(UTF8String.concat(ta, Gt, tb)) // k = 2
          var ci = 0
          while (ci < nd) {
            val tc = d.get(ci)
            if (firstAfter(tc, jb) >= 0)
              out.add(UTF8String.concat(ta, Gt, tb, Gt, tc)) // k = 3
            ci += 1
          }
        }
        bi += 1
      }
      ai += 1
    }
    new GenericArrayData(out.toArray)
  }

  def patterns(arr: Column): Column =
    call_function("graft_seq_patterns", arr)
}
