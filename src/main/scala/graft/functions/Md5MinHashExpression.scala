package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.{call_function, lit}
import org.apache.spark.unsafe.types.UTF8String

/** `graft_md5_minhash(shingles, k)`: k MinHash minima over an array of
  * shingle strings using md5 — the CROSS-ENGINE family: hash j of
  * shingle s is md5Hex(j + "|" + s), and the minimum is plain byte-wise
  * order on the lowercase hex, so any ANSI engine with md5() (e.g. the
  * DuckDB oracle) reproduces the exact minima. The xxhash64-seeded
  * [[MinHashExpression]] is faster but engine-private; it serves only
  * incremental dedup, which has no oracle.
  *
  * One k×L loop per row inside whole-stage codegen; the equivalent
  * built-in form (k × array_min(transform(md5(concat(...))))) evaluates
  * interpreted per element per hash function — measured ~2× slower on
  * the q31 verify pipeline.
  */
object Md5MinHashExpression {
  private val digest = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }
  private val Hex = "0123456789abcdef".getBytes

  // "j|" prefix bytes per hash index, built once per k — rebuilding the
  // k arrays inside minima() put k allocations on every ROW of the
  // pipeline this kernel exists to speed up
  private val prefixCache =
    new java.util.concurrent.ConcurrentHashMap[Int, Array[Array[Byte]]]
  private def prefixesFor(k: Int): Array[Array[Byte]] =
    prefixCache.computeIfAbsent(k,
      kk => Array.tabulate(kk)(j => s"$j|".getBytes("UTF-8")))

  private def toHex(b: Array[Byte]): UTF8String = {
    val out = new Array[Byte](32)
    var i = 0
    while (i < 16) {
      out(2 * i) = Hex((b(i) >> 4) & 0xF)
      out(2 * i + 1) = Hex(b(i) & 0xF)
      i += 1
    }
    UTF8String.fromBytes(out)
  }

  /** The kernel ([[Registry]]). */
  def minima(arr: ArrayData, k: Int): ArrayData = {
    val md = digest.get()
    val prefixes = prefixesFor(k)
    val mins = new Array[UTF8String](k)
    var i = 0
    while (i < arr.numElements()) {
      val s = arr.getUTF8String(i)
      if (s != null) {
        val sb = s.getBytes
        var j = 0
        while (j < k) {
          md.reset()
          md.update(prefixes(j))
          md.update(sb)
          val h = toHex(md.digest())
          if (mins(j) == null || h.compareTo(mins(j)) < 0) mins(j) = h
          j += 1
        }
      }
      i += 1
    }
    new GenericArrayData(mins.asInstanceOf[Array[Any]])
  }

  def md5MinHash(shingles: Column, k: Int): Column =
    call_function("graft_md5_minhash", shingles, lit(k))
}
