package graft.operators

import graft.{Gates, Tables}
import graft.functions.{BpeEncodeExpression, PairMergeExpression}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Distributed BPE vocabulary training (byte-pair encoding, Sennrich
  * et al. 2016 — the tokenizer-training step of an LLM data pipeline)
  * on the classic word-frequency formulation.
  *
  * 100-TB shape: the only corpus-scale work is ONE word-count groupBy
  * (map-side combined). The merge loop then runs on the DISTINCT-WORD
  * table — VOCAB-scale (millions of rows), not corpus-scale — and
  * vocab-scale is the point: when the distinct-word table fits the
  * driver ([[Gates.BpeLocalWords]], 4M rows —
  * true for every real-language corpus at ANY corpus size), training
  * finishes LOCALLY with an exact incremental-pair-count trainer
  * (the Sennrich reference shape: only words containing the merged
  * pair are touched per round), so a production 32k-merge tokenizer
  * costs 32k in-memory rounds, not 32k sequential Spark jobs. The
  * distributed loop — one partially-aggregated pair count plus a
  * 1-row argmax per round, symbol arrays rewritten by the codegen'd
  * O(L) `graft_pair_merge` pass, lineage cut per round (the q61 loop
  * pattern) — remains the fallback for symbol tables that outgrow the
  * driver. Both paths are deterministic and merge-by-merge identical
  * (differential-tested): the argmax breaks ties on (weight desc,
  * left asc, right asc), a total order.
  */
object BpeTrain {

  /** Run `rounds` merge steps over a (word, cnt) frequency table.
    * Returns the learned merge table (step, left, right, weight).
    * Stops early when no adjacent pair remains. Dispatches on the
    * distinct-word count: vocab-scale tables train locally (exact,
    * zero per-merge jobs), larger ones run the distributed loop.
    */
  def train(s: SparkSession, words: DataFrame, rounds: Int)
      : Seq[(Int, String, String, Long)] = {
    val maxLocal = Gates.driver(s, Gates.BpeLocalWords)
    val w = words.select(col("word"), col("cnt")).localCheckpoint(false)
    if (maxLocal > 0 && w.count() <= maxLocal)
      trainLocal(w.collect().map(r =>
        (r.getString(0), r.getLong(1))).toSeq, rounds)
    else trainDistributed(w, rounds)
  }

  /** Exact local trainer over a collected (word, cnt) table —
    * incremental pair maintenance: a pair→words index so each merge
    * re-counts ONLY the words containing the merged pair, and a
    * lazy-deletion priority queue for the argmax (stale entries are
    * dropped on pop by comparing against the live count). Same
    * overlapping sliding-window pair counts, same (weight desc, left,
    * right) tie order, same leftmost non-overlapping merge as the
    * distributed path.
    */
  private[graft] def trainLocal(words: Seq[(String, Long)], rounds: Int)
      : Seq[(Int, String, String, Long)] = {
    import scala.collection.mutable
    // split("") = Java regex split, the same code-unit semantics as
    // Spark's split(col, "")
    val syms: Array[Array[String]] =
      words.map(_._1.split("").filter(_.nonEmpty)).toArray
    val cnt: Array[Long] = words.map(_._2).toArray
    val pairCount = mutable.HashMap.empty[(String, String), Long]
    val pairWords = mutable.HashMap.empty[(String, String), mutable.Set[Int]]
    // max-heap on (weight, then SMALLEST left, SMALLEST right)
    val ord: Ordering[(Long, String, String)] =
      new Ordering[(Long, String, String)] {
        def compare(x: (Long, String, String), y: (Long, String, String))
            : Int = {
          val c = java.lang.Long.compare(x._1, y._1)
          if (c != 0) c
          else {
            val cl = y._2.compareTo(x._2)
            if (cl != 0) cl else y._3.compareTo(x._3)
          }
        }
      }
    val queue = mutable.PriorityQueue.empty[(Long, String, String)](ord)
    def addWord(i: Int, sign: Long, changed: mutable.Set[(String, String)])
        : Unit = {
      val ss = syms(i)
      var j = 0
      while (j + 1 < ss.length) {
        val p = (ss(j), ss(j + 1))
        val nw = pairCount.getOrElse(p, 0L) + sign * cnt(i)
        if (nw <= 0L) pairCount.remove(p) else pairCount(p) = nw
        val set = pairWords.getOrElseUpdate(p, mutable.Set.empty[Int])
        if (sign > 0) set += i
        changed += p
        j += 1
      }
      // a negative pass never unregisters from pairWords: the merge
      // pass re-checks membership against the live pair list anyway,
      // and a word can keep other occurrences of the same pair
    }
    val init = mutable.Set.empty[(String, String)]
    syms.indices.foreach(addWord(_, 1L, init))
    init.foreach(p => pairCount.get(p).foreach(w =>
      queue.enqueue((w, p._1, p._2))))
    val out = mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    var r = 0
    while (r < rounds && queue.nonEmpty) {
      val (w, l, rr) = queue.dequeue()
      if (pairCount.get((l, rr)).contains(w)) { // live entry
        out += ((r, l, rr, w))
        val affected = pairWords.getOrElse((l, rr), mutable.Set.empty[Int])
          .toArray
        val changed = mutable.Set.empty[(String, String)]
        pairCount.remove((l, rr))
        pairWords.remove((l, rr))
        changed += ((l, rr))
        affected.foreach { i =>
          val ss = syms(i)
          var has = false
          var j = 0
          while (!has && j + 1 < ss.length) {
            has = ss(j) == l && ss(j + 1) == rr; j += 1
          }
          if (has) {
            // un-count the old symbol list, rewrite, re-count
            addWord(i, -1L, changed)
            val merged = mutable.ArrayBuffer.empty[String]
            var k = 0
            while (k < ss.length) {
              if (k + 1 < ss.length && ss(k) == l && ss(k + 1) == rr) {
                merged += (l + rr); k += 2
              } else { merged += ss(k); k += 1 }
            }
            syms(i) = merged.toArray
            addWord(i, 1L, changed)
          }
        }
        changed.foreach(p => pairCount.get(p).foreach(nw =>
          queue.enqueue((nw, p._1, p._2))))
        r += 1
      } // else: stale queue entry — drop and re-pop
    }
    out.toSeq
  }

  /** The distributed merge loop — one vocab-scale pair count + 1-row
    * argmax Spark job per round. Exposed for the local/distributed
    * differential tests; `train` picks the path.
    */
  private[graft] def trainDistributed(words: DataFrame,
      rounds: Int): Seq[(Int, String, String, Long)] = {
    var syms = words.select(col("cnt"),
      filter(split(col("word"), ""), x => x =!= "").as("syms"))
      .localCheckpoint(false)
    val merges = scala.collection.mutable.ArrayBuffer[(Int, String, String, Long)]()
    var r = 0
    var done = false
    while (r < rounds && !done) {
      val n1 = greatest(size(col("syms")) - 1, lit(0))
      val top = syms
        .select(col("cnt"), explode(zip_with(
          slice(col("syms"), lit(1), n1), slice(col("syms"), lit(2), n1),
          (a, b) => struct(a.as("l"), b.as("r")))).as("pr"))
        .groupBy(col("pr.l").as("l"), col("pr.r").as("r"))
        .agg(sum(col("cnt")).as("w"))
        .orderBy(col("w").desc, col("l").asc, col("r").asc)
        .limit(1).collect()
      if (top.isEmpty) done = true
      else {
        val (l, rr, w) = (top(0).getAs[String]("l"),
          top(0).getAs[String]("r"), top(0).getAs[Long]("w"))
        merges += ((r, l, rr, w))
        syms = syms.select(col("cnt"),
          PairMergeExpression.pairMerge(col("syms"), l, rr).as("syms"))
          .localCheckpoint(false)
        r += 1
      }
    }
    merges.toSeq
  }

  /** 90. Learned BPE merge table over the documents corpus (12 rounds).
    * The result is the vocabulary artifact itself — tiny by definition
    * (one row per merge) — so materializing it driver-side is the
    * semantics, not a collect() smell.
    */
  private def wordCounts(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).filter(col("text").isNotNull)
      .select(explode(split(lower(trim(col("text"))), "\\s+")).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy(col("word")).agg(count(lit(1)).as("cnt"))

  def q76Bpe(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    train(s, wordCounts(s, d), rounds = 12)
      .toDF("step", "left", "right", "weight")
      .select(col("step").cast("long").as("step"), col("left"), col("right"),
        concat(col("left"), col("right")).as("merged"), col("weight"))
  }

  /** 121. Tokenize the corpus with the vocabulary q76 trains — the
    * apply-side that turns a merge table into training tokens
    * ([[graft.functions.BpeEncoder]]: min-rank loop, codepoint symbols,
    * per-executor word memoization). The merge table is the bounded
    * driver-side artifact train() already materializes; encoding itself
    * is ONE scan, zero shuffle, one codegen'd call per row — the shape
    * that tokenizes 100 TB at I/O speed. No SQL oracle: rank-priority
    * merging is the canonical-but-iterative semantics ANSI SQL can't
    * express (a per-merge sequential replay diverges the moment a later
    * merge creates an earlier merge's pair) — BpeSpec differentials
    * cover it against an independent reference encoder.
    */
  def q106BpeEncode(s: SparkSession, d: String): DataFrame = {
    val merges = train(s, wordCounts(s, d), rounds = 12)
      .map(m => (m._2, m._3))
    Tables.documents(s, d).filter(col("text").isNotNull)
      .select(col("doc_id"), BpeEncodeExpression.bpeEncode(
        split(lower(trim(col("text"))), "\\s+"), merges).as("sub"))
      .select(col("doc_id"), size(col("sub")).cast("long").as("n_subtok"),
        array_join(col("sub"), " ").as("subtoks"))
  }
}
