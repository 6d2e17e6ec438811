package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.{call_function, lit}
import org.apache.spark.unsafe.types.UTF8String

/** The canonical BPE ENCODER (Sennrich et al. 2016's apply-side — the
  * min-rank merge loop subword-nmt and every production tokenizer run):
  * each word starts as codepoint symbols; while any adjacent pair
  * appears in the merge table, fuse ALL leftmost non-overlapping
  * occurrences of the LOWEST-RANK such pair. Rank priority (not
  * sequential replay) is the part that matters: a later merge can
  * create a pair an earlier merge wants, and the canonical encoder
  * goes back for it.
  *
  * Per-word results are memoized in a bounded per-executor cache —
  * corpora are Zipfian, so the hot working set of distinct words is
  * tiny relative to token count and the amortized cost per token
  * approaches a hash lookup (the standard tokenizer-serving trick).
  */
final class BpeEncoder(merges: Array[(String, String)])
    extends Serializable {
  override def toString: String = s"BpeEncoder(${merges.length} merges)"
  @transient private lazy val rank: java.util.HashMap[String, Integer] = {
    val m = new java.util.HashMap[String, Integer]()
    var i = 0
    while (i < merges.length) {
      m.putIfAbsent(merges(i)._1 + "\u0000" + merges(i)._2, i)
      i += 1
    }
    m
  }
  @transient private lazy val cache =
    new java.util.concurrent.ConcurrentHashMap[String, Array[UTF8String]]()
  private val CacheCap = 1 << 16

  private def compute(w: String): Array[UTF8String] = {
    var syms = new java.util.ArrayList[String]()
    w.codePoints().forEach(cp =>
      syms.add(new String(Character.toChars(cp))): Unit)
    var done = syms.size < 2
    while (!done) {
      // lowest-rank adjacent pair present in the table
      var bestRank = Int.MaxValue
      var bestL: String = null
      var bestR: String = null
      var i = 0
      while (i < syms.size - 1) {
        val r = rank.get(syms.get(i) + "\u0000" + syms.get(i + 1))
        if (r != null && r < bestRank) {
          bestRank = r; bestL = syms.get(i); bestR = syms.get(i + 1)
        }
        i += 1
      }
      if (bestL == null) done = true
      else {
        // fuse all leftmost non-overlapping occurrences of that pair
        val out = new java.util.ArrayList[String](syms.size)
        var j = 0
        while (j < syms.size) {
          if (j + 1 < syms.size && syms.get(j) == bestL
              && syms.get(j + 1) == bestR) {
            out.add(bestL + bestR); j += 2
          } else { out.add(syms.get(j)); j += 1 }
        }
        syms = out
        done = syms.size < 2
      }
    }
    val res = new Array[UTF8String](syms.size)
    var k = 0
    while (k < syms.size) { res(k) = UTF8String.fromString(syms.get(k)); k += 1 }
    res
  }

  def encodeWord(w: String): Array[UTF8String] = {
    val hit = cache.get(w)
    if (hit != null) hit
    else {
      if (cache.size >= CacheCap) cache.clear()
      val r = compute(w)
      cache.put(w, r)
      r
    }
  }

  /** Encode a word array (one document's tokens) to one flat subword
    * array. The `graft_bpe_encode` kernel — must stay allocation-lean.
    */
  def encode(words: ArrayData): ArrayData = {
    val n = words.numElements()
    val out = new java.util.ArrayList[AnyRef]()
    var i = 0
    while (i < n) {
      val w = words.getUTF8String(i)
      if (w != null && w.numBytes() > 0) {
        val sub = encodeWord(w.toString)
        var j = 0
        while (j < sub.length) { out.add(sub(j)); j += 1 }
      }
      i += 1
    }
    new GenericArrayData(out.toArray)
  }
}

/** `graft_bpe_encode(words, mergeSpec)`: array<string> words → flat
  * array<string> BPE subword tokens under a LITERAL merge table (the
  * artifact [[graft.operators.BpeTrain]] learns — vocab-scale by
  * definition). The registry row parses the table once when the
  * function is built and calls [[BpeEncoder.encode]] on it as an object
  * literal, so the hot path is one virtual call per row inside
  * whole-stage codegen.
  */
object BpeEncodeExpression {
  // merge table wire format inside the function-call literal: pairs
  // joined by \\u0002, left/right by \\u0001 (bpeEncode rejects merge
  // symbols carrying these — raw web text CAN contain control chars)
  def encoder(spec: String): BpeEncoder = new BpeEncoder(
    if (spec.isEmpty) Array.empty
    else spec.split('\u0002').map { p =>
      val i = p.indexOf('\u0001')
      (p.substring(0, i), p.substring(i + 1))
    })

  def bpeEncode(words: Column,
      merges: Seq[(String, String)]): Column = {
    // a symbol containing a wire separator (or the rank-key NUL) would
    // silently garble the shipped table — fail loudly instead
    require(merges.forall { case (l, r) =>
      !(l + r).exists(c => c == '\u0000' || c == '\u0001' || c == '\u0002')
    }, "merge symbols must not contain \\u0000-\\u0002 control characters")
    call_function("graft_bpe_encode", words,
      lit(merges.map(m => m._1 + "\u0001" + m._2).mkString("\u0002")))
  }
}
