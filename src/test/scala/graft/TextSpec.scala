package graft

import graft.operators.TextOps
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class TextSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  test("lang-id classifies real multilingual samples") {
    val samples = Seq(
      (1L, "the cat is in the house and it is very happy", "en"),
      (2L, "der hund ist nicht das problem und er ist ein freund", "de"),
      (3L, "el gato es un animal y la casa es grande que bonita", "es"),
      (4L, "le chat est dans la maison et ce chien est un ami", "fr"),
      (5L, "我是一个学生我在学校里有很多的朋友", "zh"))
    val df = samples.toDF("id", "text", "expected")
    val got = df.select(col("id"), col("expected"),
      TextOps.langIdCol(col("text")).as("got")).collect()
    got.foreach { r =>
      assert(r.getString(1) == r.getString(2),
        s"id=${r.getLong(0)}: expected ${r.getString(1)} got ${r.getString(2)}")
    }
  }

  test("lang-id returns 'und' for marker-free text") {
    val r = Seq((1L, "zzz qqq xxx")).toDF("id", "text")
      .select(TextOps.langIdCol(col("text"))).first().getString(0)
    assert(r == "und")
  }

  test("token counts on a known string") {
    val df = Seq((1L, "Spark runs fast fast 123")).toDF("doc_id", "text")
    val r = df.select(
      size(split(lower(trim(col("text"))), "\\s+")).as("n"),
      size(array_distinct(split(lower(trim(col("text"))), "\\s+")))
        .as("nd")).first()
    assert(r.getInt(0) == 5 && r.getInt(1) == 4)
  }

  test("quality score: all-stopword text has stop_ratio 1.0") {
    // route through the same expressions as q26 via a known document
    val toks = split(lower(trim(col("text"))), "\\s+")
    val stop = size(filter(toks, t => t.isin("the", "a", "of", "and", "to",
      "in")))
    val r = Seq((1L, "the a of and to in")).toDF("id", "text")
      .select((stop.cast("double") / size(toks)).as("ratio")).first()
    assert(r.getDouble(0) == 1.0)
  }

  test("text stats group math is exact") {
    val stats = TextOps.q24TextStats(spark, Sf)
    val totalDocs = stats.agg(sum("n_docs")).first().getLong(0)
    assert(totalDocs == Tables.documents(spark, Sf).count())
    assert(stats.filter(col("min_chars") > col("max_chars")).count() == 0)
  }

  test("tfidf terms: rare terms outrank common ones, 3 per doc") {
    val t = TextOps.q58TfIdfTerms(spark, Sf)
    val perDoc = t.groupBy("doc_id").count().collect()
    assert(perDoc.nonEmpty && perDoc.forall(_.getLong(1) <= 3L))
    // within a doc, equal tf ⇒ the lower-df (rarer) term scores higher
    val bad = t.as("a").join(t.as("b"), Seq("doc_id"))
      .filter(col("a.tf") === col("b.tf") && col("a.df") < col("b.df") &&
        col("a.score") < col("b.score"))
    assert(bad.count() == 0)
  }

  test("token histogram buckets partition the corpus exactly") {
    val h = TextOps.q59TokenHistogram(spark, Sf).collect()
    assert(h.map(_.getAs[Long]("n_docs")).sum ==
      Tables.documents(spark, Sf).count())
    assert(h.forall(_.getAs[Long]("bucket_lo") % 10 == 0))
  }

  test("source mix: smallest language kept whole, others downsampled " +
      "toward it, deterministically") {
    val orig = Tables.documents(spark, Sf).groupBy("lang").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val minCnt = orig.values.min
    val kept = TextOps.q63SourceMix(spark, Sf).groupBy("lang").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // never upsample; the smallest language survives intact
    kept.foreach { case (l, c) => assert(c <= orig(l), s"$l upsampled") }
    assert(kept(orig.minBy(_._2)._1) == minCnt)
    // every language lands within binomial noise of the target
    kept.foreach { case (l, c) =>
      val sigma = math.sqrt(minCnt.toDouble)
      assert(math.abs(c - minCnt) <= 5 * sigma + 1,
        s"$l kept $c, target $minCnt")
    }
    // hash sampling is deterministic: identical row set on a re-run
    val a = TextOps.q63SourceMix(spark, Sf).collect().map(_.getLong(0)).toSet
    val b = TextOps.q63SourceMix(spark, Sf).collect().map(_.getLong(0)).toSet
    assert(a == b)
  }

  test("pii scrub: no emails or long digit runs survive; counts recorded") {
    val got = TextOps.q64PiiScrub(spark, Sf)
    assert(got.filter(col("clean_text").rlike("@")).count() == 0)
    assert(got.filter(col("clean_text").rlike("[0-9]{7,}")).count() == 0)
    val n = got.count()
    assert(got.filter(col("n_emails") >= 1).count() == n)
    assert(got.filter(col("n_numbers") >= 1).count() == n)
    assert(got.filter(col("clean_text").contains("<EMAIL>")).count() == n)
    assert(got.filter(col("clean_text").contains("<NUM>")).count() == n)
  }

  test("hash split: covers every doc, thresholds honored, ~90/5/5") {
    val got = TextOps.q69Split(spark, Sf).collect()
    val n = got.length.toDouble
    assert(n > 0)
    val byLabel = got.groupBy(_.getAs[String]("split")).view.mapValues(_.length)
    assert(byLabel.keySet == Set("train", "val", "test"))
    assert(byLabel("train") / n > 0.8 && byLabel("train") / n < 0.97)
    got.foreach { r =>
      val (h, sp) = (r.getAs[String]("h"), r.getAs[String]("split"))
      val want = if (h < "e666") "train" else if (h < "f333") "val" else "test"
      assert(sp == want, s"h=$h split=$sp")
    }
  }

  test("domain cap matches the window formulation and caps at 8") {
    val got = TextOps.q70DomainCap(spark, Sf)
    val perDomain = got.groupBy("lang", "source").count().collect()
    assert(perDomain.forall(_.getAs[Long]("count") <= 8))
    val win = graft.Tables.documents(spark, Sf)
      .select(col("doc_id"), col("lang"), col("source"),
        md5(encode(col("doc_id").cast("string"), "UTF-8")).as("cap_key"))
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("lang", "source").orderBy("cap_key", "doc_id")))
      .filter(col("rn") <= 8).drop("rn")
    assert(got.exceptAll(win).isEmpty && win.exceptAll(got).isEmpty)
  }

  test("mix weights: ppm shares sum to ~1e6, monotone in group size") {
    val rows = TextOps.q71MixWeights(spark, Sf).collect()
    val tot = rows.map(_.getAs[Long]("share_ppm")).sum
    assert(math.abs(tot - 1000000L) <= rows.length,
      s"ppm total $tot for ${rows.length} groups")
    val sorted = rows.sortBy(_.getAs[Long]("n_docs"))
    sorted.sliding(2).foreach {
      case Array(a, b) =>
        assert(a.getAs[Long]("w_fixed") <= b.getAs[Long]("w_fixed"))
      case _ =>
    }
  }

  test("bigram coverage: bounded score, counts consistent") {
    val got = TextOps.q74BigramCov(spark, Sf).collect()
    assert(got.nonEmpty)
    got.foreach { r =>
      val (nb, nh, cov) = (r.getAs[Long]("n_bigrams"),
        r.getAs[Long]("n_hot"), r.getAs[Long]("cov_ppt"))
      assert(nh <= nb)
      assert(cov >= 0L && cov <= 1000L)
      if (nb > 0)
        assert(math.abs(cov - 1000.0 * nh / nb) <= 0.5 + 1e-9)
    }
  }

  test("token budget: selection is the exact hash-order prefix per lang") {
    val budget = 2500L
    val got = TextOps.q82TokenBudget(spark, Sf).collect()
      .map(r => r.getLong(0) -> r.getLong(3)).toMap
    val docs = Tables.documents(spark, Sf)
      .select(col("doc_id"), col("lang"),
        size(split(lower(trim(col("text"))), "\\s+")).cast("long")
          .as("n_tokens"),
        md5(encode(col("doc_id").cast("string"), "UTF-8")).as("h"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getString(3)))
    val expected = docs.groupBy(_._2).toSeq.flatMap { case (_, rows) =>
      var cum = 0L
      rows.toSeq.sortBy(r => (r._4, r._1)).flatMap { r =>
        val before = cum
        cum += r._3
        if (before < budget) Some(r._1 -> before) else None
      }
    }.toMap
    assert(got == expected && got.nonEmpty)
  }

  test("pmi: planted corpus matches hand-computed fixed-point scores") {
    // corpus: "x y x y" ⊕ "z x y" → N=7; c_x=3 c_y=3 c_z=1;
    // bigrams (x,y)=3 (y,x)=1 (z,x)=1 → minCount 2 keeps only (x,y):
    // milli = (3·7·2000 + 9) div 18 = 42009 div 18 = 2333 → 2.333
    val docs = Seq((1L, "x y x y"), (2L, "z x y"), (3L, null))
      .toDF("doc_id", "text")
    val got = TextOps.pmi(docs, minCount = 2L).collect()
    assert(got.length == 1)
    val r = got.head
    assert(r.getString(0) == "x" && r.getString(1) == "y" &&
      r.getLong(2) == 3L && r.getDouble(3) == 2.333)
  }

  test("pmi: association beats frequency — a rare exclusive pair " +
      "outranks the commonest bigram") {
    // (p,q) occurs 2× but always together (c_p=c_q=2);
    // (a,b) occurs 4× amid a=b=8 occurrences — frequency order says
    // (a,b) first, PMI order says (p,q) first
    val docs = Seq(
      (1L, "a b a b a b a b a a a a b b b b"),
      (2L, "p q"), (3L, "p q")).toDF("doc_id", "text")
    val got = TextOps.pmi(docs, minCount = 2L)
      .collect().map(r => (r.getString(0), r.getString(1), r.getDouble(3)))
    val pq = got.find(t => t._1 == "p" && t._2 == "q").get
    val ab = got.find(t => t._1 == "a" && t._2 == "b").get
    assert(pq._3 > ab._3, s"pq=$pq ab=$ab")
    assert(got.head._1 == "p") // ranked first despite lowest count
  }

  test("inverted index: blocked postings on a planted corpus") {
    val docs = Seq((1L, "a b a"), (2L, "a c"), (3L, "a"))
      .toDF("doc_id", "text")
    val got = TextOps.invertedIndex(docs, blockSize = 2).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getString(3))).toSet
    assert(got == Set(
      ("a", 0L, 2L, "1:2,2:1"), // doc 1 has tf 2; block splits at 2 docs
      ("a", 1L, 1L, "3:1"),
      ("b", 0L, 1L, "1:1"),
      ("c", 0L, 1L, "2:1")))
  }

  test("lm score: planted corpus matches hand-computed ppm") {
    // corpus: "a b a b" ⊕ "a c" ⊕ "a" ⊕ null; V = {a,b,c} = 3
    // bigrams: (a,b)=2 (b,a)=1 (a,c)=1 → c_a(ctx)=3, c_b(ctx)=1
    // ppm(a,b) = rnd(1e6·3/6)  = 500000
    // ppm(b,a) = rnd(1e6·2/4)  = 500000
    // ppm(a,c) = rnd(1e6·2/6)  = 333333
    // doc1: n=3, rnd((2·500000+500000)/3) = 500000; doc2: n=1 → 333333;
    // doc3 has no bigram → absent
    val docs = Seq((1L, "a b a b"), (2L, "a c"), (3L, "a"),
      (4L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val got = TextOps.lmScore(docs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got == Map(1L -> (3L, 500000L), 2L -> (1L, 333333L)))
  }

  test("lm score: common transitions outrank scrambled ones; " +
      "differential vs a local reference on real docs") {
    // same token bag and length; A rides the corpus's dominant x→y/y→x
    // transitions, B spreads over rare x→x/y→y ones — the LM separates
    // them no matter what the real docs contribute to V
    val repetitive = "x y x y x y x y x y"
    val scrambled = "x x y y x y y x x y"
    val real = Tables.documents(spark, Sf).filter(col("text").isNotNull)
      .filter(col("doc_id") < 40) // deterministic subset (limit isn't)
      .select(col("doc_id"), col("text"))
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val docs = (real.toSeq :+ (900001L, repetitive) :+ (900002L, scrambled))
      .toDF("doc_id", "text")
    val got = TextOps.lmScore(docs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap

    // local reference replay (BigInt round-half-up, same formulas)
    val toks = docs.collect().flatMap { r =>
      Option(r.getString(1)).map(t =>
        r.getLong(0) -> t.trim.toLowerCase.split("\\s+").toSeq)
    }
    val vocab = toks.flatMap(_._2).distinct.size
    val bigrams = toks.filter(_._2.size >= 2)
      .map { case (id, tk) => id -> tk.sliding(2).map(p => (p(0), p(1))).toSeq }
    val cxy = bigrams.flatMap(_._2).groupBy(identity).map { case (p, o) => p -> o.size }
    val cx = cxy.groupBy(_._1._1).map { case (x, m) => x -> m.values.sum }
    def rnd(num: BigInt, den: BigInt): Long = ((2 * num + den) / (2 * den)).toLong
    val expected = bigrams.map { case (id, bs) =>
      val ppms = bs.map { p =>
        rnd(BigInt(1000000) * (cxy(p) + 1), BigInt(cx(p._1) + vocab)) }
      id -> (bs.size.toLong, rnd(BigInt(ppms.sum), BigInt(ppms.size)))
    }.toMap
    assert(got == expected, "differential mismatch")
    assert(got(900001L)._2 > got(900002L)._2,
      s"repetitive ${got(900001L)} !> scrambled ${got(900002L)}")
  }

  test("bm25: full-coverage doc outranks partial; rare term outweighs " +
      "common at equal tf") {
    // seed doc 1 (lowest id) has rare terms; 'filler' floods the corpus
    val docs = Seq(
      (1L, "zebra quark filler"),          // seed: rarest = quark, zebra
      (2L, "zebra quark filler filler"),   // both query terms
      (3L, "zebra filler filler filler"),  // one query term
      (4L, "filler filler filler filler"), // none
      (5L, "quark filler filler filler"))  // one (rarer) query term
      .toDF("doc_id", "text")
    val got = TextOps.bm25TopK(docs, nQueries = 1, qTerms = 2, k = 5)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(-_._3)
    val byDoc = got.map(r => r._1 -> r._3).toMap
    assert(!byDoc.contains(4L)) // no query term, never a candidate
    assert(byDoc(1L) > byDoc(3L) && byDoc(1L) > byDoc(5L),
      s"full coverage must win: $byDoc")
    assert(byDoc(2L) > byDoc(3L) && byDoc(2L) > byDoc(5L))
    // zebra (df=3) vs quark (df=3)... both rare terms picked; the
    // one-term docs 3 and 5 must each score below any two-term doc
    assert(got.take(2).map(_._1).toSet == Set(1L, 2L))
  }

  test("bm25: differential vs a local integer replay on real docs; " +
      "fixed-point idf tracks Math.log to ~1e-8") {
    val docs = Tables.documents(spark, Sf).filter(col("text").isNotNull)
      .filter(col("doc_id") < 40) // deterministic subset (limit isn't)
      .select(col("doc_id"), col("text"))
    val got = TextOps.bm25TopK(docs, nQueries = 8, qTerms = 3, k = 10)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet

    // the bm25LnSteps algorithm, replayed independently in Scala longs
    def lnE9(p: Long, q: Long): Long = {
      val t = p / q
      val kk = (40 to 1 by -1).find(k => t >= (1L << k)).getOrElse(0)
      val m2k = 1L << kk
      val a9 = p - q * m2k
      val b9 = p + q * m2k
      val z = (2 * 1000000000L * a9 + b9) / (2 * b9)
      val z2 = z * z / 1000000000L
      var pw = z
      var lns = z
      for (j <- Seq(3L, 5L, 7L, 9L, 11L, 13L, 15L, 17L)) {
        pw = pw * z2 / 1000000000L
        lns += pw / j
      }
      kk * 693147181L + 2 * lns
    }
    val toks = docs.collect().map(r =>
      r.getLong(0) -> r.getString(1).trim.toLowerCase.split("\\s+").toSeq)
    val n = toks.size.toLong
    val totalLen = toks.map(_._2.size.toLong).sum
    val tf = toks.flatMap { case (id, tk) =>
      tk.groupBy(identity).map { case (t, o) =>
        (t, id, tk.size.toLong, o.size.toLong) } }
    val dfm = tf.groupBy(_._1).map { case (t, rows) => t -> rows.size.toLong }
    // the fixed-point ln is within 1e-8 of libm ln on every idf arg used
    dfm.values.toSet[Long].foreach { df =>
      val exact = Math.log((2.0 * n + 2) / (2.0 * df + 1))
      val fixed = lnE9(2 * n + 2, 2 * df + 1) / 1e9
      assert(math.abs(exact - fixed) < 1e-7,
        s"df=$df exact=$exact fixed=$fixed")
    }
    val seeds = toks.map(_._1).sorted.take(8)
    val qterms = seeds.flatMap { q =>
      toks.find(_._1 == q).get._2.distinct
        .map(t => (t, dfm(t))).sortBy(p => (p._2, p._1)).take(3)
        .map { case (t, _) => (q, t) } }
    val expected = qterms
      .flatMap { case (q, t) =>
        tf.filter(_._1 == t).map { case (term, id, dl, f) =>
          val idf = lnE9(2 * n + 2, 2 * dfm(term) + 1)
          val num = BigInt(88) * totalLen * f
          val den = BigInt(40) * totalLen * f + BigInt(12) * totalLen +
            BigInt(36) * dl * n
          val c9 = ((BigInt(2) * idf * num + den) / (BigInt(2) * den)).toLong
          (q, id, term, c9) } }
      .groupBy(p => (p._1, p._2))
      .map { case ((q, id), rows) =>
        (q, id, rows.size.toLong, rows.map(_._4).sum) }
      .groupBy(_._1)
      .flatMap { case (_, rows) =>
        rows.toSeq.sortBy(r => (-r._4, r._2)).take(10) }
      .toSet
    assert(got == expected,
      s"missing=${expected -- got} extra=${got -- expected}")
  }

  test("incremental index: tail-block merge and fresh blocks, exact " +
      "strings; chained refresh equals full rebuild") {
    val d0 = Seq((1L, "a b a"), (2L, "a c"), (3L, "a")).toDF("doc_id", "text")
    val d1 = Seq((4L, "a b"), (5L, "c")).toDF("doc_id", "text")
    val d2 = Seq((6L, "a d")).toDF("doc_id", "text")
    val standing = TextOps.invertedIndex(d0, blockSize = 2)
    val once = TextOps.invertedIndexDelta(standing, d1, blockSize = 2)
    val got = once.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getString(3))).toSet
    // term a: docs 1..4 → blocks [1:2,2:1] [3:1,4:1]; b: [1:1,4:1];
    // c: [2:1,5:1]
    assert(got == Set(
      ("a", 0L, 2L, "1:2,2:1"), ("a", 1L, 2L, "3:1,4:1"),
      ("b", 0L, 2L, "1:1,4:1"), ("c", 0L, 2L, "2:1,5:1")))
    // chained second refresh ≡ full rebuild over all three batches
    val twice = TextOps.invertedIndexDelta(once, d2, blockSize = 2)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getString(3))).toSet
    val full = TextOps.invertedIndex(d0.unionByName(d1).unionByName(d2),
        blockSize = 2)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getString(3))).toSet
    assert(twice == full)
  }

  test("incremental index equals the full rebuild on the real corpus " +
      "at the q118 split") {
    val docs = Tables.documents(spark, Sf)
    val n = docs.count()
    val t = 4L * n / 5L
    val inc = TextOps.invertedIndexDelta(
        TextOps.invertedIndex(docs.filter(col("doc_id") < t), 64),
        docs.filter(col("doc_id") >= t), 64)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getString(3))).toSet
    val full = TextOps.invertedIndex(docs, 64)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getString(3))).toSet
    assert(inc == full)
  }

  test("weighted sample: exact sequential-Poisson replay from the " +
      "keyed frame; deterministic across runs") {
    val rows = Tables.documents(spark, Sf).filter(col("text").isNotNull)
      .select(col("doc_id"), col("lang"),
        size(split(lower(trim(col("text"))), "\\s+")).cast("long")
          .as("weight"))
    val keyed = TextOps.weightedSampleKeys(rows, salt = 42L).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    // k SMALLEST u/w keys per group, ties by doc_id
    val expected = keyed.groupBy(_._2).toSeq.flatMap { case (_, g) =>
      g.sortBy(r => (r._4, r._1)).take(10) }.toSet
    val got = TextOps.weightedSample(rows.toDF, Seq("lang"), k = 10,
      salt = 42L).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(got.toSet == expected)
    assert(got.groupBy(_._2).values.forall(_.size == 10))
    val again = TextOps.weightedSample(rows.toDF, Seq("lang"), k = 10,
      salt = 42L).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(again.toSet == got.toSet)
  }

  test("weighted sample: inclusion tracks weight (planted dominance " +
      "over 20 salts)") {
    // two docs, weights 9999 vs 1: P(heavy wins a 1-draw) = 0.9999
    val docs = Seq((1L, "g", 9999L), (2L, "g", 1L))
      .toDF("doc_id", "lang", "weight")
    val wins = (1L to 20L).count { salt =>
      TextOps.weightedSample(docs, Seq("lang"), k = 1, salt = salt)
        .first().getLong(0) == 1L }
    assert(wins >= 18, s"heavy doc won only $wins/20 draws")
  }

  test("q124 source drift matches a local full-vocabulary replay " +
      "(absent-term algebra is exact)") {
    val got = TextOps.q124SourceDrift(spark, Sf).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val tok = Tables.documents(spark, Sf)
      .selectExpr("source", "lower(trim(text)) AS t").collect()
      .flatMap(r => r.getString(1).split("\\s+")
        .filter(_.nonEmpty).map(term => (r.getString(0), term)))
    val nC = tok.length.toLong
    val termTot = tok.groupBy(_._2).map { case (t, xs) =>
      t -> xs.length.toLong }
    val tPpm = termTot.map { case (t, n) =>
      t -> (2000000L * n + nC) / (2 * nC) }
    val bySrc = tok.groupBy(_._1)
    val expected = bySrc.map { case (src, xs) =>
      val nS = xs.length.toLong
      val cnt = xs.groupBy(_._2).map { case (t, ys) =>
        t -> ys.length.toLong }
      // TV over the FULL vocabulary, the naive way
      val tv = tPpm.map { case (t, tp) =>
        val sp = cnt.get(t).map(n => (2000000L * n + nS) / (2 * nS))
          .getOrElse(0L)
        math.abs(sp - tp)
      }.sum / 2
      src -> ((nS, cnt.size.toLong, tv))
    }
    assert(got == expected)
  }

  test("q139 TextRank matches a local integer fixed-point replay on " +
      "the real corpus") {
    val got = TextOps.q139TextRank(spark, Sf).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    assert(got.length == 20 && got.map(_._1).distinct.length == 20)
    // local replay of the full pipeline
    val texts = Tables.documents(spark, Sf)
      .filter(col("text").isNotNull).select("text")
      .collect().map(_.getString(0))
    val pairs = texts.flatMap { t =>
      val tk = t.toLowerCase.split("[^a-z]+").filter(_.length >= 4).toSeq
      tk.zip(tk.drop(1)).filter(p => p._1 != p._2)
    }
    val edges = pairs ++ pairs.map(p => (p._2, p._1))
    val od = edges.groupBy(_._1).map { case (k, v) => k -> v.size.toLong }
    val n = od.size.toLong
    val init = 1000000000000L / n
    val base = (15L * init) / 100L
    var r = od.keys.map(_ -> init).toMap
    for (_ <- 0 until 10) {
      val contrib = edges.groupBy(_._2).map { case (dst, es) =>
        dst -> es.map(e => r(e._1) / od(e._1)).sum }
      r = contrib.map { case (nd, cs) => nd -> (base + (85L * cs) / 100L) }
    }
    val expected = r.toSeq.sortBy { case (w, rr) => (-rr, w) }.take(20)
    assert(got.toSeq == expected)
    // the relational rounds past the driver gate give the same top 20
    val rel = Gates.withMode(spark, Gates.Relational)(
      TextOps.q139TextRank(spark, Sf).collect()
        .map(r => (r.getString(0), r.getLong(1))))
    assert(rel.toSeq == expected)
  }

  test("stratifiedExactSample: global count is exactly round(N/f), " +
      "per-stratum counts are the Hamilton allocation, membership is " +
      "the md5-rank prefix, and a second run is identical") {
    import spark.implicits._
    import graft.operators.TextOps
    // 3 strata sized 7/5/3 at 1/4: K = round(15/4) = 4 -> quotas from
    // bases (1,1,0) + leftover 2 to the largest remainders
    val docs = ((1 to 7).map(i => (s"a", i.toLong)) ++
      (1 to 5).map(i => ("b", 100L + i)) ++
      (1 to 3).map(i => ("c", 200L + i))).toDF("lang", "doc_id")
    val got = TextOps.stratifiedExactSample(docs, "lang", "doc_id",
        num = 1L, den = 4L).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val n = Map("a" -> 7L, "b" -> 5L, "c" -> 3L)
    val k = 4L // round-half-up(15/4)
    val base = n.view.mapValues(x => k * x / 15L).toMap
    val rem = n.map { case (s, x) => s -> (k * x % 15L) }
    val leftover = (k - base.values.sum).toInt
    val bonus = rem.toSeq.sortBy { case (s, r) => (-r, s) }
      .take(leftover).map(_._1).toSet
    val quota = n.keys.map(s =>
      s -> (base(s) + (if (bonus(s)) 1L else 0L))).toMap
    val bySt = got.groupBy(_._1).view.mapValues(_.length.toLong).toMap
    assert(got.length.toLong == k && bySt == quota.filter(_._2 > 0))
    // membership: per stratum, the quota-many lowest md5(id) ranks
    def h(id: Long) = java.security.MessageDigest.getInstance("MD5")
      .digest(id.toString.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    val docsBySt = Seq(("a", 1L to 7L), ("b", 101L to 105L),
      ("c", 201L to 203L))
    docsBySt.foreach { case (s, ids) =>
      val exp = ids.map(i => (h(i), i)).sorted.take(quota(s).toInt)
        .map(_._2).toSet
      assert(got.filter(_._1 == s).map(_._2).toSet == exp, s"stratum $s")
    }
    // reproducibility + real data: exact global count, twice
    val r1 = TextOps.q152StratSample(spark, Sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    val r2 = TextOps.q152StratSample(spark, Sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    assert(r1 == r2 && r1.nonEmpty)
    val nDocs = Tables.documents(spark, Sf)
      .filter(col("lang").isNotNull).count()
    assert(r1.size.toLong == (2 * nDocs * 1 + 10) / 20)
  }

  test("q168 quantile normalization matches a local nearest-rank " +
      "replay and maps each source's max onto the global max") {
    val got = TextOps.q168QuantileNorm(spark, Sf).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2),
        r.getLong(3)))).toMap
    val docs = Tables.documents(spark, Sf)
      .filter(col("n_chars").isNotNull)
      .select("doc_id", "source", "n_chars").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val n = docs.length.toLong
    val globalSorted = docs.sortBy(x => (x._3, x._1)).map(_._3)
    val expect = docs.groupBy(_._2).toSeq.flatMap { case (_, rows) =>
      val ns = rows.length.toLong
      rows.sortBy(x => (x._3, x._1)).zipWithIndex.map { case (x, i) =>
        x._1 -> globalSorted((((i + 1) * n + ns - 1) / ns - 1).toInt)
      }.toSeq
    }
    assert(got.size == docs.length && docs.nonEmpty)
    expect.foreach { case (id, norm) =>
      assert(got(id)._3 == norm, s"doc $id")
    }
    // per-source max lands exactly on the global max
    val globalMax = globalSorted.last
    docs.groupBy(_._2).foreach { case (_, rows) =>
      val top = rows.maxBy(x => (x._3, x._1))._1
      assert(got(top)._3 == globalMax)
    }
  }

  test("q171 TV matrix matches a local rational replay, is bounded in " +
      "[0, 1e6], and zero on self-comparison by construction") {
    val got = TextOps.q171TvMatrix(spark, Sf).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    val binned = Tables.documents(spark, Sf)
      .filter(col("n_chars").isNotNull)
      .selectExpr("source", "LEAST(n_chars DIV 500, 20L) AS bin")
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val bySrc = binned.groupBy(_._1).view
      .mapValues(_.groupBy(_._2).view.mapValues(_.length.toLong).toMap)
      .toMap
    val bins = binned.map(_._2).distinct
    val srcs = bySrc.keys.toSeq.sorted
    val expect = (for {
      i <- srcs.indices; j <- i + 1 until srcs.length
      a = srcs(i); b = srcs(j)
    } yield {
      val na = bySrc(a).values.sum; val nb = bySrc(b).values.sum
      val s = bins.map(k => (BigInt(bySrc(a).getOrElse(k, 0L)) * nb -
        BigInt(bySrc(b).getOrElse(k, 0L)) * na).abs).sum
      val tv = (s * 1000000 + BigInt(na) * nb) / (2 * BigInt(na) * nb)
      (a, b) -> ((na, nb, tv.toLong))
    }).toMap
    assert(got == expect && got.nonEmpty)
    assert(got.values.forall(v => v._3 >= 0L && v._3 <= 1000000L))
  }

  test("q199 vocab growth equals a local first-position replay at " +
      "sf0.001 (checkpoints = powers of two ∪ {n})") {
    val got = TextOps.q199VocabGrowth(spark, Sf).collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3)))).toMap
    val docs = Tables.documents(spark, Sf)
      .select(col("doc_id"), col("source"), col("text"))
      .filter(col("text").isNotNull).collect()
      .map(r => (r.getLong(0), r.getString(1),
        r.getString(2).trim.toLowerCase.split("\\s+")
          .filter(_.nonEmpty).toSeq))
    val expect = docs.groupBy(_._2).flatMap { case (src, ds) =>
      val ordered = ds.sortBy(_._1).map(_._3)
      val n = ordered.length.toLong
      val cps = (Iterator.iterate(1L)(_ * 2).takeWhile(_ <= n).toSeq
        :+ n).distinct
      cps.map { cp =>
        val prefix = ordered.take(cp.toInt)
        (src, cp) -> ((prefix.map(_.length.toLong).sum,
          prefix.flatten.distinct.length.toLong))
      }
    }
    assert(got == expect && got.nonEmpty)
  }

  test("q199 vocab growth on a planted corpus: exact token and " +
      "distinct counts at every checkpoint, n = 2^k dedup'd") {
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("graft_q199").toString
    // 8 docs (n = 2^3, so the n checkpoint collides with a power of
    // two and must appear ONCE): doc i introduces exactly one new
    // token "w<i>" plus i repeats of "the"
    val rows = (1 to 8).map { i =>
      (i.toLong, "planted", (Seq(s"w$i") ++ Seq.fill(i)("the"))
        .mkString("  "))
    }
    rows.toDF("doc_id", "source", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = TextOps.q199VocabGrowth(spark, dir).collect()
      .map(r => r.getLong(1) -> ((r.getLong(2), r.getLong(3))))
      .toMap
    // prefix of length p has Σ_{i≤p}(1+i) tokens and p new words + "the"
    val expect = Seq(1L, 2L, 4L, 8L).map(p =>
      p -> ((p + p * (p + 1) / 2, p + 1))).toMap
    assert(got == expect)
  }

  test("q207 term screen equals a local occurrence-count replay; the " +
      "flag threshold counts occurrences, not distinct terms") {
    val got = TextOps.q207TermScreen(spark, Sf).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))).toMap
    val terms = TextOps.ScreenTerms.toSet
    val docs = Tables.documents(spark, Sf)
      .select(col("source"), col("text"))
      .filter(col("text").isNotNull).collect()
      .map(r => (r.getString(0), r.getString(1).trim.toLowerCase
        .split("\\s+").count(terms)))
    val expect = docs.groupBy(_._1).map { case (src, ds) =>
      val n = ds.length.toLong
      val hits = ds.map(_._2.toLong).sum
      val fl = ds.count(_._2 >= 3).toLong
      src -> ((n, hits, fl, (2000000L * fl + n) / (2 * n)))
    }
    assert(got == expect && got.nonEmpty)
    // the corpus actually exercises both branches
    assert(got.values.exists(_._3 > 0) && got.values.exists(_._2 > 0))
  }

  test("q219 tokenizer fertility equals a local per-language replay " +
      "with exact integer ratios") {
    val got = TextOps.q219TokenizerFertility(spark, Sf).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6),
        r.getLong(7), r.getLong(8)))).toMap
    val docs = Tables.documents(spark, Sf)
      .select("lang", "text").collect()
      .map(r => (r.getString(0), r.getString(1)))
    val sub = "[a-z]+".r
    val expect = docs.groupBy(_._1).map { case (lang, ds) =>
      val per = ds.map { case (_, t) =>
        val n = t.trim.toLowerCase
        (n.split("\\s+").length.toLong,
          sub.findAllIn(n).toSeq,
          n.replaceAll("\\s+", "").length.toLong)
      }
      val (w, st, ch) = (per.map(_._1).sum,
        per.map(_._2.size.toLong).sum, per.map(_._3).sum)
      val types = per.flatMap(_._2).distinct.size.toLong
      def rhu(num: Long, den: Long) = (2 * num + den) / (2 * den)
      lang -> ((ds.size.toLong, w, st, ch, types,
        rhu(1000000L * st, w), rhu(1000L * ch, st),
        rhu(1000000L * types, st)))
    }
    assert(got == expect && got.nonEmpty)
    // fertility is at least 1 subtoken per word-bearing corpus
    assert(got.values.forall(_._6 > 0))
  }

  private def localDocs(): Array[(Long, String, String, String)] =
    Tables.documents(spark, Sf).filter(col("text").isNotNull)
      .select(col("doc_id"), col("text"), col("lang"), col("source"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getString(3)))

  private def tks(text: String): Seq[String] =
    text.trim.toLowerCase.split("\\s+").toSeq.filter(_.nonEmpty)

  test("q257 naive Bayes: confusion matrix equals a local " +
      "train/score replay; shares sum to 1e6 per actual class") {
    import graft.functions.FixedLn
    val got = TextOps.q257NaiveBayes(spark, Sf).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3)))).toMap
    val docs = localDocs()
    val train = docs.filter(_._1 % 2 == 0)
    val test = docs.filter(_._1 % 2 == 1)
    val nDocs = train.length.toLong
    val clsDocs = train.groupBy(_._3).view.mapValues(_.length.toLong)
      .toMap
    val priors = clsDocs.map { case (c, n) =>
      c -> -FixedLn.lnE9(nDocs, n) }
    val ct = train.flatMap(d => tks(d._2).map(t => (d._3, t)))
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    val nc = ct.groupBy(_._1._1).view
      .mapValues(_.values.sum).toMap
    val v = ct.keys.map(_._2).toSet.size.toLong
    val classes = clsDocs.keys.toSeq.sorted
    val preds = test.flatMap { d =>
      val tf = tks(d._2).groupBy(identity).view
        .mapValues(_.length.toLong).toMap
      if (tf.isEmpty) None
      else {
        val scored = classes.map { c =>
          val s = priors(c) + tf.map { case (t, f) =>
            f * -FixedLn.lnE9(nc(c) + v, ct.getOrElse((c, t), 0L) + 1)
          }.sum
          (c, s)
        }
        val best = scored.minBy { case (c, s) => (-s, c) }._1
        Some((d._3, best))
      }
    }
    val conf = preds.groupBy(identity).view.mapValues(_.length.toLong)
      .toMap
    val byActual = conf.groupBy(_._1._1).view
      .mapValues(_.values.sum).toMap
    val exp = conf.map { case ((a, p), n) =>
      (a, p) -> ((n, (2000000L * n + byActual(a)) / (2 * byActual(a))))
    }
    assert(got.size == exp.size && got.nonEmpty)
    exp.foreach { case (k, v2) => assert(got(k) == v2, s"cell $k") }
  }

  test("q258 Zipf fit: slope/intercept equal a local exact-moment " +
      "replay; natural-ish corpora slope negative") {
    import graft.functions.FixedLn
    val got = TextOps.q258ZipfFit(spark, Sf).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3)))).toMap
    val docs = localDocs()
    val exp = docs.flatMap(d => tks(d._2).map(t => (d._4, t)))
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
      .groupBy(_._1._1).flatMap { case (src, m) =>
        val top = m.toSeq.map { case ((_, t), f) => (t, f) }
          .sortBy { case (t, f) => (-f, t) }.take(300)
        val xy = top.zipWithIndex.map { case ((_, f), i) =>
          (FixedLn.lnE9(i + 1L, 1L), FixedLn.lnE9(f, 1L)) }
        val n = BigInt(xy.size)
        val sx = xy.map(p => BigInt(p._1)).sum
        val sy = xy.map(p => BigInt(p._2)).sum
        val sxy = xy.map(p => BigInt(p._1) * p._2).sum
        val sxx = xy.map(p => BigInt(p._1) * p._1).sum
        val num = n * sxy - sx * sy
        val den = n * sxx - sx * sx
        if (den <= 0) None
        else {
          def rhuS(a: BigInt, b: BigInt): Long =
            (if (a >= 0) (2 * a + b) / (2 * b)
             else -((2 * -a + b) / (2 * b))).toLong
          val slope = rhuS(1000000 * num, den)
          val ti = BigInt(1000000) * sy - BigInt(slope) * sx
          val ic = rhuS(ti, BigInt(1000000) * n)
          Some(src -> ((n.toLong, slope, ic)))
        }
      }
    assert(got.size == exp.size && got.nonEmpty)
    exp.foreach { case (k, v) => assert(got(k) == v, s"source $k") }
    // token frequencies decay with rank → negative slope everywhere
    assert(got.values.forall(_._2 < 0))
  }

  test("q259 readability: counts and banded scores equal a local " +
      "regex replay") {
    val got = TextOps.q259Readability(spark, Sf).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getString(6))))
      .toMap
    val exp = localDocs().flatMap { case (id, text, _, _) =>
      val nt = text.trim.toLowerCase
      val words = tks(text)
      val w = words.size.toLong
      if (w == 0) None
      else {
        val s = math.max("[.!?]+".r.findAllIn(nt).size.toLong, 1L)
        val sy = "[aeiou]+".r.findAllIn(nt).size.toLong +
          words.count(t => !t.exists("aeiou".contains(_))).toLong
        def rhu(num: Long, den: Long) = (2 * num + den) / (2 * den)
        val fre = 206835L - rhu(1015 * w, s) - rhu(84600 * sy, w)
        val fk = rhu(390 * w, s) + rhu(11800 * sy, w) - 15590L
        val band = if (fre >= 70000) "easy"
          else if (fre >= 50000) "standard" else "difficult"
        Some(id -> ((w, s, sy, fre, fk, band)))
      }
    }.toMap
    assert(got.size == exp.size && got.nonEmpty)
    exp.foreach { case (k, v) => assert(got(k) == v, s"doc $k") }
    assert(got.values.map(_._6).toSet.size >= 2)
  }

  test("q280 segmental TTR: equals a local 50-token-window replay; " +
      "MSTTR is length-robust where raw TTR is not") {
    val got = TextOps.q280SegmentalTtr(spark, Sf).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4),
        if (r.isNullAt(5)) None else Some(r.getLong(5))))).toMap
    val exp = localDocs().map { case (id, text, _, _) =>
      val ts = tks(text)
      val n = ts.size.toLong
      val types = ts.distinct.size.toLong
      val ttr = (2000000L * types + n) / (2 * n)
      val segs = ts.grouped(50).filter(_.size == 50).toSeq
      val ms = if (segs.isEmpty) None
        else {
          val sum2 = segs.map { s2 =>
            (2000000L * s2.distinct.size + 50) / 100 }.sum
          Some((2 * sum2 + segs.size) / (2L * segs.size))
        }
      id -> ((n, types, ttr, segs.size.toLong, ms))
    }.toMap
    assert(got.size == exp.size && got.nonEmpty)
    exp.foreach { case (k, v) => assert(got(k) == v, s"doc $k") }
    // windowed TTR ≥ raw TTR on any multi-segment doc (repetition
    // accumulates with length; 50-token windows don't see it)
    got.values.filter(_._4 >= 2).foreach { case (_, _, ttr, _, ms) =>
      ms.foreach(m => assert(m >= ttr))
    }
  }
}
