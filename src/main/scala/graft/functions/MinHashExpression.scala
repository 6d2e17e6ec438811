package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{UnsafeArrayData, XXH64}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.{call_function, lit}

/** MinHash over base (shingle) hashes, engine-private (xxhash64; the
  * oracle-checkable family is [[Md5MinHashExpression]]).
  *
  * `graft_minhash(hashes, k)`: element j of the result is min over the
  * array of XXH64(h, seed = j) — one k×L primitive loop per row in
  * whole-stage codegen. The equivalent built-in formulation (k separate
  * `array_min(transform(...))` columns) evaluates interpreted per
  * element per hash function and allocates k intermediate arrays per
  * row — it was the benchmark's slowest operator.
  *
  * `graft_sig_agree(a, b)`: the number of positions where two
  * signatures agree — the MinHash Jaccard estimator numerator.
  */
object MinHashExpression {

  /** The `graft_minhash` kernel ([[Registry]]). */
  def signature(arr: ArrayData, k: Int): ArrayData = {
    val mins = Array.fill(k)(Long.MaxValue)
    var i = 0
    while (i < arr.numElements()) {
      val h = arr.getLong(i)
      var j = 0
      while (j < k) {
        val v = XXH64.hashLong(h, j.toLong)
        if (v < mins(j)) mins(j) = v
        j += 1
      }
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(mins)
  }

  /** The `graft_sig_agree` kernel ([[Registry]]). */
  def agreement(a: ArrayData, b: ArrayData): Int = {
    val n = math.min(a.numElements(), b.numElements())
    var c = 0; var i = 0
    while (i < n) { if (a.getLong(i) == b.getLong(i)) c += 1; i += 1 }
    c
  }

  def minhashSig(baseHashes: Column, k: Int): Column =
    call_function("graft_minhash", baseHashes, lit(k))

  def sigAgreement(a: Column, b: Column): Column =
    call_function("graft_sig_agree", a, b)
}
