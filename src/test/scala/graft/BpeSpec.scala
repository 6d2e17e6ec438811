package graft

import graft.functions.PairMergeExpression
import graft.operators.BpeTrain
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class BpeSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  test("pair merge: leftmost non-overlapping semantics") {
    val df = Seq(
      (1L, Seq("a", "a", "a")),          // aaa + (a,a) -> [aa, a]
      (2L, Seq("a", "a", "a", "a")),     // aaaa -> [aa, aa]
      (3L, Seq("b", "a", "a", "b")),     // -> [b, aa, b]
      (4L, Seq("a", "b")),               // no match
      (5L, Seq.empty[String])).toDF("id", "syms")
    val got = df.select(col("id"),
      PairMergeExpression.pairMerge(col("syms"), "a", "a").as("m"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(got(1L) == Seq("aa", "a"))
    assert(got(2L) == Seq("aa", "aa"))
    assert(got(3L) == Seq("b", "aa", "b"))
    assert(got(4L) == Seq("a", "b"))
    assert(got(5L) == Seq())
  }

  /** Reference BPE on a word-frequency map: overlapping pair counts
    * (sliding window), argmax on (weight desc, left, right), leftmost
    * non-overlapping merge — the exact semantics the distributed
    * version claims.
    */
  private def localBpe(words: Map[String, Long], rounds: Int)
      : Seq[(Int, String, String, Long)] = {
    var syms: Seq[(List[String], Long)] =
      words.toSeq.map { case (w, c) => (w.map(_.toString).toList, c) }
    val out = scala.collection.mutable.ArrayBuffer[(Int, String, String, Long)]()
    for (r <- 0 until rounds) {
      val counts = scala.collection.mutable.Map[(String, String), Long]()
      syms.foreach { case (ss, c) =>
        ss.sliding(2).foreach {
          case List(a, b) => counts((a, b)) = counts.getOrElse((a, b), 0L) + c
          case _ =>
        }
      }
      if (counts.nonEmpty) {
        val ((l, rr), w) = counts.toSeq
          .minBy { case ((a, b), c) => (-c, a, b) }
        out += ((r, l, rr, w))
        syms = syms.map { case (ss, c) =>
          val merged = scala.collection.mutable.ListBuffer[String]()
          var i = 0
          while (i < ss.length) {
            if (i + 1 < ss.length && ss(i) == l && ss(i + 1) == rr) {
              merged += (l + rr); i += 2
            } else { merged += ss(i); i += 1 }
          }
          (merged.toList, c)
        }
      }
    }
    out.toSeq
  }

  private def corpusWords() = Tables.documents(spark, Sf)
    .filter(col("text").isNotNull)
    .select(explode(split(lower(trim(col("text"))), "\\s+")).as("word"))
    .filter(length(col("word")) > 0)
    .groupBy(col("word")).agg(count(lit(1)).as("cnt"))

  test("distributed BPE equals the local reference, merge by merge") {
    val words = corpusWords()
    val wordMap = words.collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val got = BpeTrain.trainDistributed(words, rounds = 8)
    val want = localBpe(wordMap, rounds = 8)
    assert(got == want, s"\ngot:  $got\nwant: $want")
  }

  test("train() local fast path equals the naive reference at 256 " +
      "merges (incremental pair maintenance is exact, rounds ≪ jobs)") {
    val words = corpusWords()
    val wordMap = words.collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // train() dispatches to the local trainer (vocab ≪ 4M words):
    // zero per-merge Spark jobs, merge-by-merge equal to the naive
    // full-recount reference
    val got = BpeTrain.train(spark, words, rounds = 256)
    val want = localBpe(wordMap, rounds = 256)
    assert(got.size == want.size)
    got.zip(want).foreach { case (g, w) =>
      assert(g == w, s"first divergence at step ${g._1}: got $g want $w")
    }
  }

  test("local and distributed trainers are merge-by-merge identical " +
      "(the dispatch gate changes cost, never results)") {
    val words = corpusWords()
    val local = BpeTrain.trainLocal(words.collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq, rounds = 12)
    val dist = BpeTrain.trainDistributed(words, rounds = 12)
    assert(local == dist, s"\nlocal: $local\ndist:  $dist")
  }

  test("q76 output: fused symbols, positive weights, distinct steps") {
    val rows = BpeTrain.q76Bpe(spark, Sf).collect()
    assert(rows.nonEmpty)
    assert(rows.map(_.getAs[Long]("step")).distinct.length == rows.length)
    rows.foreach { r =>
      assert(r.getAs[String]("merged") ==
        r.getAs[String]("left") + r.getAs[String]("right"))
      assert(r.getAs[Long]("weight") > 0)
    }
  }

  /** Independent reference encoder: repeatedly scan the merge LIST in
    * rank order and apply the first merge whose pair occurs — a
    * different mechanism than the expression's min-rank pair scan, with
    * identical semantics by definition.
    */
  private def localEncode(merges: Seq[(String, String)], word: String)
      : List[String] = {
    var syms = word.codePoints().toArray.toList
      .map(cp => new String(Character.toChars(cp)))
    var changed = true
    while (changed && syms.length >= 2) {
      changed = false
      merges.find { case (l, r) =>
        syms.zip(syms.drop(1)).contains((l, r))
      } match {
        case Some((l, r)) =>
          val out = scala.collection.mutable.ListBuffer[String]()
          var i = 0
          while (i < syms.length) {
            if (i + 1 < syms.length && syms(i) == l && syms(i + 1) == r) {
              out += (l + r); i += 2
            } else { out += syms(i); i += 1 }
          }
          syms = out.toList; changed = true
        case None =>
      }
    }
    syms
  }

  test("bpe encode: rank priority — a later merge re-enables an " +
      "earlier one (sequential replay would stop at [ab, c])") {
    val merges = Seq(("ab", "c"), ("a", "b"))
    val got = Seq(Tuple1(Seq("abc"))).toDF("w")
      .select(graft.functions.BpeEncodeExpression
        .bpeEncode(col("w"), merges).as("e"))
      .first().getSeq[String](0)
    assert(got == Seq("abc"))
    assert(localEncode(merges, "abc") == List("abc"))
  }

  test("bpe encode: leftmost non-overlapping fuse and codepoint " +
      "symbols (no surrogate splitting)") {
    val merges = Seq(("a", "a"), ("é", "l"))
    val got = Seq(
      (1L, Seq("aaaa")), (2L, Seq("aaa")), (3L, Seq("héllo")),
      (4L, Seq("𝄞b", "aa"))) // U+1D11E is a surrogate pair in UTF-16
      .toDF("id", "w")
      .select(col("id"), graft.functions.BpeEncodeExpression
        .bpeEncode(col("w"), merges).as("e"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(got(1L) == Seq("aa", "aa"))
    assert(got(2L) == Seq("aa", "a"))
    assert(got(3L) == Seq("h", "él", "l", "o"))
    assert(got(4L) == Seq("𝄞", "b", "aa")) // words concatenate flat
  }

  test("q106 encode equals the independent reference over the real " +
      "corpus (trainer + encoder end to end)") {
    val docs = Tables.documents(spark, Sf).filter(col("text").isNotNull)
      .select(col("doc_id"), lower(trim(col("text"))).as("t"))
      .collect().map(r => r.getLong(0) -> r.getString(1))
    val wordMap = docs.flatMap(_._2.split("\\s+")).filter(_.nonEmpty)
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    val merges = localBpe(wordMap, 12).map(m => (m._2, m._3))
    val expected = docs.map { case (id, t) =>
      id -> t.split("\\s+").filter(_.nonEmpty)
        .flatMap(localEncode(merges, _)).toSeq
    }.toMap
    val got = BpeTrain.q106BpeEncode(spark, Sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
    assert(got.keySet == expected.keySet)
    got.foreach { case (id, (n, subtoks)) =>
      assert(n == expected(id).length, s"doc $id count")
      assert(subtoks == expected(id).mkString(" "), s"doc $id tokens")
    }
  }

  test("q106 encode equals the independent reference at the ScaleUp " +
      "sf1 world — the 100×-scale tokenizer-path claim, tested",
      org.scalatest.Tag("graft.Sf1")) {
    // content-deterministic sf1-shaped world (50k documents); reuse a
    // cached generation — ScaleUp is documented content-deterministic,
    // so any prior build of the same (src, factors) is byte-equivalent
    // in CONTENT (footer bytes are not pinned, content is)
    val sf1 = sys.props("java.io.tmpdir") + "/graft_sf1_bpe"
    if (!new java.io.File(s"$sf1/documents.parquet").exists())
      graft.ScaleUp.run(spark, "/root/testdata/sf0.1", sf1, 10, 4)
    val docs = Tables.documents(spark, sf1).filter(col("text").isNotNull)
      .select(col("doc_id"), lower(trim(col("text"))).as("t"))
      .collect().map(r => r.getLong(0) -> r.getString(1))
    assert(docs.length >= 40000, s"sf1 world too small: ${docs.length}")
    val wordMap = scala.collection.mutable.HashMap.empty[String, Long]
    docs.foreach(_._2.split("\\s+").foreach(w =>
      if (w.nonEmpty) wordMap.update(w, wordMap.getOrElse(w, 0L) + 1L)))
    val merges = localBpe(wordMap.toMap, 12).map(m => (m._2, m._3))
    val expected = docs.map { case (id, t) =>
      id -> t.split("\\s+").filter(_.nonEmpty)
        .flatMap(localEncode(merges, _)).toSeq
    }.toMap
    val got = BpeTrain.q106BpeEncode(spark, sf1).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
    assert(got.keySet == expected.keySet)
    got.foreach { case (id, (n, subtoks)) =>
      assert(n == expected(id).length, s"doc $id count")
      assert(subtoks == expected(id).mkString(" "), s"doc $id tokens")
    }
  }

  test("misra-gries: superset of true heavy hitters under merge") {
    // skewed synthetic stream: token i appears ~n/i times (zipf-ish)
    val items = (1 to 40).flatMap(i => Seq.fill(4000 / i)(s"t$i"))
    val ds = spark.sparkContext.parallelize(items, 8).toDS()
    val (cands, total) = ds
      .select(graft.functions.MisraGries.sketch(32).toColumn).head()
    assert(total == items.length)
    val exact = items.groupBy(identity).view.mapValues(_.size.toLong)
    val mustKeep = exact.filter(_._2 * 33 > total).keys.toSet
    assert(mustKeep.subsetOf(cands.toSet),
      s"missing: ${mustKeep -- cands.toSet}")
    assert(cands.size <= 32)
  }

  test("q77 heavy hitters equals the exact groupBy formulation") {
    val got = operators.TextOps.q77Hh(spark, Sf).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val exact = Tables.documents(spark, Sf).filter(col("text").isNotNull)
      .select(explode(split(lower(trim(col("text"))), "\\s+")).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("cnt"))
      .withColumn("total", sum(col("cnt")).over(
        org.apache.spark.sql.expressions.Window.partitionBy()))
      .filter(col("cnt") * 64 > col("total"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == exact)
  }
}
