package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.{call_function, lit}
import org.apache.spark.unsafe.types.UTF8String

/** `graft_word_shingles(text, k)` — the DISTINCT k-token word shingles
  * of `split(lower(trim(text)), "\\s+")`, first-occurrence order, as
  * `array<string>`; fewer than k tokens yield the single whole-text
  * shingle (the `shingles(tokens(normText), k)` spelling of DedupOps,
  * fused into one codegen-friendly pass).
  *
  * Why: the HOF spelling
  * (`transform(sequence(...), i -> concat_ws(" ", slice(tk, i+1, k)))`
  * + `array_distinct`) runs the lambda INTERPRETED per shingle window
  * and materializes the token array, the window slices and the
  * pre-distinct shingle array per row — measured as the dominant cost
  * of the q96/q108 prefix joins (the base build alone was ~3 s of
  * q96's 4.4 s steady at sf0.1). This function makes one pass over
  * the text: trim/lower via the same UTF8String kernels the built-ins
  * call, the same Java-regex split, and an insertion-ordered dedup —
  * value-identical to the SQL spelling (pinned on the real corpus and
  * an edge-case grid by WordShinglesSpec).
  *
  * The DuckDB oracles are untouched — they re-derive shingle lists in
  * SQL, which is what makes the swap value-provable at the gate.
  */
object WordShingles {
  // identical pattern string to DedupOps' split(c, "\\s+")
  private val Whitespace = java.util.regex.Pattern.compile("\\s+")

  /** The kernel ([[Registry]]). One pass per row; the dedup
    * set preserves insertion order — exactly `array_distinct`.
    */
  def shingles(text: UTF8String, k: Int): ArrayData = {
    // same kernels the built-in trim()/lower() evaluate
    val norm = text.trim().toLowerCase.toString
    // java.util.regex split with limit -1, as StringSplit does
    val toks: Array[String] = Whitespace.split(norm, -1)
    val out = new java.util.LinkedHashSet[UTF8String]()
    val n = toks.length
    if (n >= k) {
      val sb = new java.lang.StringBuilder()
      var i = 0
      while (i <= n - k) {
        sb.setLength(0)
        var j = 0
        while (j < k) {
          if (j > 0) sb.append(' ')
          sb.append(toks(i + j))
          j += 1
        }
        out.add(UTF8String.fromString(sb.toString))
        i += 1
      }
    } else {
      // concat_ws(" ", toks) over the whole (short) token array
      out.add(UTF8String.fromString(String.join(" ", toks: _*)))
    }
    val arr = new Array[AnyRef](out.size)
    out.toArray(arr)
    new GenericArrayData(arr)
  }

  /** Distinct k-word shingles of `text` as a column. */
  def shingles(text: Column, k: Int): Column =
    call_function("graft_word_shingles", text, lit(k))
}
