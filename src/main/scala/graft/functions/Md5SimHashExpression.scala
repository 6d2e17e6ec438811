package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.call_function

/** `graft_md5_simhash(tokens)`: 64-bit SimHash over an array of token
  * strings using md5 — the CROSS-ENGINE family (the md5 MinHash
  * precedent): token t's 64-bit feature hash is the FIRST 16 HEX CHARS
  * of md5(t), read nibble-by-nibble — bit b (0..63) is bit (b mod 4)
  * of hex char b DIV 4, i.e. `(strpos('0123456789abcdef', substr(md5(t), b//4 + 1,
  * 1)) - 1) >> (b%4) & 1` in ANSI SQL — so any engine with md5()
  * (e.g. the DuckDB oracle) reproduces the exact per-bit ±1 vote sums
  * and therefore the exact signature. Each token OCCURRENCE votes
  * (multiset semantics); a zero vote sum sets the bit (>= 0 → 1).
  *
  * One tokens×64 loop per row inside whole-stage codegen; the only
  * SimHash family (measured no slower than an xxhash64-seeded one) —
  * reference: near-dup detection of etl_pipeline_script.py:60-75's
  * exact-dup stage generalized.
  */
object Md5SimHashExpression {
  private val digest = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** The kernel ([[Registry]]). */
  def simhash(arr: ArrayData): Long = {
    val md = digest.get()
    val votes = new Array[Int](64)
    var i = 0
    while (i < arr.numElements()) {
      val s = arr.getUTF8String(i)
      if (s != null) {
        md.reset()
        val d = md.digest(s.getBytes)
        var p = 0
        while (p < 16) {
          // hex char p of md5Hex = nibble p of the first 8 digest
          // bytes (even p → high nibble), matching md5()'s hex output
          val h =
            if ((p & 1) == 0) (d(p >> 1) >> 4) & 0xF else d(p >> 1) & 0xF
          val base = 4 * p
          votes(base) += ((h & 1) << 1) - 1
          votes(base + 1) += (((h >> 1) & 1) << 1) - 1
          votes(base + 2) += (((h >> 2) & 1) << 1) - 1
          votes(base + 3) += (((h >> 3) & 1) << 1) - 1
          p += 1
        }
      }
      i += 1
    }
    var sig = 0L
    var b = 0
    while (b < 64) {
      if (votes(b) >= 0) sig |= (1L << b)
      b += 1
    }
    sig
  }

  def md5SimHash(tokens: Column): Column =
    call_function("graft_md5_simhash", tokens)
}
