package graft

import graft.operators.{DedupOps, TextOps}
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class DedupSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  /** q30's md5 SimHash of a text column. */
  private def simhash(text: Column): Column =
    graft.functions.Md5SimHashExpression.md5SimHash(
      split(lower(trim(text)), "\\s+"))

  test("exact dedup groups identical normalized text, keeps min doc_id") {
    val docs = Seq(
      (1L, "Hello World"), (2L, "  hello world  "), (3L, "HELLO WORLD"),
      (4L, "something else")).toDF("doc_id", "text")
    val got = DedupOps.exactDedup(docs).collect()
    assert(got.length == 2)
    val dupGroup = got.find(_.getAs[Long]("dup_count") == 3L).get
    assert(dupGroup.getAs[Long]("keep_doc_id") == 1L)
  }

  test("minhash LSH finds the planted near-duplicates (recall >= 0.9)") {
    val cands = DedupOps.minhashCandidates(
      DedupOps.corpusWithPlantedDups(spark, Sf), threshold = 0.5)
    val planted = cands
      .filter(col("doc_b") === col("doc_a") + 1000000L).count()
    val nDocs = Tables.documents(spark, Sf).count()
    assert(planted >= (nDocs * 0.9).toLong,
      s"found $planted of $nDocs planted pairs")
  }

  test("md5-minhash LSH (q29 oracle family) finds the planted " +
      "near-duplicates") {
    val nDocs = Tables.documents(spark, Sf).count()
    val md5 = DedupOps.q29MinhashLsh(spark, Sf)
    val planted = md5.filter(col("doc_b") === col("doc_a") + 1000000L)
      .count()
    assert(planted >= (nDocs * 0.9).toLong,
      s"md5 family found $planted of $nDocs planted pairs")
  }

  test("md5-simhash banded near-dup (q51 oracle family) finds planted " +
      "pairs; the Md5SimHash bit layout matches an independent " +
      "hex-nibble replay") {
    val corpus = DedupOps.corpusWithPlantedDups(spark, Sf)
    val nDocs = Tables.documents(spark, Sf).count()
    val cands = DedupOps.simhashNearDup(corpus,
      maxHamming = 12, nRows = 2 * nDocs)
    val planted = cands.filter(col("doc_b") === col("doc_a") + 1000000L)
      .count()
    assert(planted >= (nDocs * 0.8).toLong,
      s"found $planted of $nDocs planted pairs")
    assert(cands.filter(col("hamming") > 12).count() == 0)
    // r14 footer-adaptive plan: force the (3, 21) regime (as if the
    // corpus had 2^24 rows) — the pigeonhole guarantee (any pair
    // within Hamming bands-1 shares a band) must still hold, so every
    // ≤2-Hamming pair of the 4×16 run reappears
    val wide = DedupOps.simhashNearDup(corpus,
      maxHamming = 12, nRows = 1L << 24)
    val widePairs = wide.select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val tight = cands.filter(col("hamming") <= 2)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(tight.subsetOf(widePairs),
      s"${(tight -- widePairs).size} close pairs lost under the 3x21 plan")
    // bit-layout differential: replay the documented definition (bit b
    // = bit b%4 of hex char b/4 of md5(token), tie -> 1) in plain
    // Scala and compare against the codegen expression
    val text = "alpha beta gamma alpha"
    val got = Seq((1L, text)).toDF("doc_id", "text")
      .select(simhash(col("text"))).head().getLong(0)
    val votes = new Array[Int](64)
    for (t <- text.split("\\s+")) {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(t.getBytes("UTF-8"))
        .take(8).flatMap(x => Seq((x >> 4) & 0xF, x & 0xF))
      for (b <- 0 until 64)
        votes(b) += (if (((hex(b / 4) >> (b % 4)) & 1) == 1) 1 else -1)
    }
    val want = (0 until 64).map(b =>
      if (votes(b) >= 0) 1L << b else 0L).reduce(_ | _)
    assert(got == want,
      f"simhash bit layout mismatch: got $got%016x want $want%016x")
  }

  test("minhash est_jaccard is high for planted pairs, bounded for others") {
    val cands = DedupOps.minhashCandidates(
      DedupOps.corpusWithPlantedDups(spark, Sf), threshold = 0.5)
    val avgPlanted = cands.filter(col("doc_b") === col("doc_a") + 1000000L)
      .agg(avg("est_jaccard")).first().getDouble(0)
    assert(avgPlanted > 0.8)
    assert(cands.filter(col("est_jaccard") > 1.0).count() == 0)
  }

  test("simhash: identical texts collide, perturbed text stays close") {
    val df = Seq(
      (1L, "spark makes big data processing fast and simple for everyone"),
      (2L, "spark makes big data processing fast and simple for everyone"),
      (3L, "spark makes big data processing slow and simple for everyone"),
      (4L, "completely different words about gardens flowers and sunshine"))
      .toDF("doc_id", "text")
    val hashes = df.select(col("doc_id"),
      simhash(col("text")).as("h"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(hashes(1L) == hashes(2L))
    def hamming(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(hamming(hashes(1L), hashes(3L)) <= 16)
    assert(hamming(hashes(1L), hashes(4L)) >
      hamming(hashes(1L), hashes(3L)))
  }

  test("token-set jaccard: identical texts = 1.0 within a block") {
    val t = Seq((1L, "a b c", "s1"), (2L, "a b c", "s1"), (3L, "x y z", "s1"))
      .toDF("doc_id", "text", "source")
    // reuse the public op through a temp corpus: write/read not needed —
    // compute directly with the same expressions
    val toks = array_distinct(split(lower(trim(col("text"))), "\\s+"))
    val a = t.select(col("doc_id").as("doc_a"), col("source"),
      toks.as("ta"))
    val b = t.select(col("doc_id").as("doc_b"), col("source"), toks.as("tb"))
    val j = a.join(b, Seq("source")).filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        (size(array_intersect(col("ta"), col("tb"))).cast("double") /
          size(array_union(col("ta"), col("tb")))).as("jaccard"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
      .toMap
    assert(j((1L, 2L)) == 1.0)
    assert(j((1L, 3L)) == 0.0)
  }

  test("null text: dedup groups nulls together, hashes stay null") {
    val docs = Seq((1L, null: String), (2L, null: String), (3L, "x"))
      .toDF("doc_id", "text")
    val got = DedupOps.exactDedup(docs).collect()
    assert(got.length == 2)
    val nullGroup = got.find(_.isNullAt(0)).get
    assert(nullGroup.getAs[Long]("dup_count") == 2L)
    assert(nullGroup.getAs[Long]("keep_doc_id") == 1L)
  }

  test("null/empty text: simhash and fingerprint do not crash") {
    val df = Seq((1L, null: String), (2L, ""), (3L, "a b"))
      .toDF("doc_id", "text")
    val rows = df.select(col("doc_id"),
      simhash(col("text")).as("sh"),
      TextOps.fingerprintCol(col("text")).as("fp")).collect()
    assert(rows.length == 3)
    assert(rows.find(_.getLong(0) == 1L).get.isNullAt(1)) // null in → null out
  }

  test("simhash band plan keeps bucket population bounded as corpus grows") {
    // small corpora: the classic 4×16 split
    assert(DedupOps.simhashBandPlan(1000L) == (4, 16))
    assert(DedupOps.simhashBandPlan(2000000L) == (4, 16))
    // past 2^21 rows the 16-bit keyspace saturates → widen the bands
    assert(DedupOps.simhashBandPlan(1L << 24) == (3, 21))
    assert(DedupOps.simhashBandPlan(1L << 30) == (2, 32))
    assert(DedupOps.simhashBandPlan(1L << 40) == (2, 32))
    // invariant: keyspace 2^bits stays >= nRows/32 up to the 32-bit clamp
    for (lg <- Seq(10, 16, 20, 24, 28, 34)) {
      val n = 1L << lg
      val (_, bits) = DedupOps.simhashBandPlan(n)
      assert(bits >= math.min(32, lg - 5),
        s"n=2^$lg -> $bits-bit bands: bucket population unbounded")
    }
  }

  test("dedup clusters: chains collapse to one canonical minimum") {
    // 1-2-3 form a chain (1~2, 2~3 but never 1~3 directly); 10-11 a pair
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L))
      .toDF("doc_a", "doc_b")
    val got = DedupOps.dedupClusters(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("contamination flags docs sharing a trigram with the benchmark") {
    val corpus = Seq((1L, "a b c d e"), (2L, "x y z w v"),
      (3L, "p q r s t")).toDF("doc_id", "text")
    val bench = Seq((100L, "b c d zz")).toDF("doc_id", "text")
    // doc 1 shares exactly the trigram "b c d"; docs 2/3 share nothing
    val got = DedupOps.contamination(corpus, bench)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((1L, 1L)))
  }

  test("md5 fingerprint family (the r14 oracle default): order-" +
      "sensitive, and the per-step-mod fold equals a posexplode " +
      "SUM-then-mod replay") {
    val df = Seq((1L, "a b c"), (2L, "a b c"), (3L, "c b a"),
      (4L, "a a a"), (5L, "")).toDF("doc_id", "text")
    val fps = df.select(col("doc_id"),
      TextOps.fingerprintCol(col("text")).as("fp"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fps(1L) == fps(2L))
    assert(fps(1L) != fps(3L)) // position tag is inside the hash
    // independent spelling: explode to (pos, token), hash, exact SUM
    // in decimal, one mod at the end
    val replay = df
      .select(col("doc_id"), posexplode(
        split(lower(trim(col("text"))), "\\s+")).as(Seq("i", "t")))
      .select(col("doc_id"),
        expr("""CAST(conv(substring(md5(concat(t, ':',
                CAST(i + 1 AS STRING))), 1, 13), 16, 10) AS LONG)""")
          .as("h"))
      .groupBy("doc_id")
      .agg(expr("""CAST(SUM(CAST(h AS DECIMAL(38,0)))
                   % 1000000000000000000 AS LONG)""").as("fp"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fps == replay)
  }

  test("incremental dedup: rejects corpus near-dups and later internal " +
      "dups, admits fresh docs") {
    val existing = Tables.documents(spark, Sf).select("doc_id", "text")
    // near-dups of the corpus: first token dropped (the planted-dup
    // perturbation), ids offset to stay globally unique
    val nearDups = existing.filter(col("doc_id") % 10 === 0)
      .select((col("doc_id") + 2000000L).as("doc_id"),
        expr("substring(text, instr(text, ' ') + 1)").as("text"))
    // fresh docs: disjoint vocabulary → Jaccard ≈ 0 against everything
    val fresh = (0 until 20).map(i =>
      (3000000L + i, s"zz$i yy$i xx$i ww$i vv$i uu$i tt$i ss$i"))
      .toDF("doc_id", "text")
    // an internal duplicate pair: the later id must lose
    val dupPair = Seq(
      (4000000L, "qq rr ss tt uu vv ww xx"),
      (4000001L, "qq rr ss tt uu vv ww xx")).toDF("doc_id", "text")
    val incoming = nearDups.unionByName(fresh).unionByName(dupPair)
    val admitted = DedupOps.incrementalDedup(existing, incoming)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val freshIds = (0 until 20).map(i => 3000000L + i).toSet
    assert(admitted == freshIds + 4000000L,
      s"unexpected: ${admitted -- freshIds - 4000000L} " +
        s"missing: ${(freshIds + 4000000L) -- admitted}")
  }

  test("persisted signature index: write → reload → refresh matches the " +
      "in-memory path; appended admissions reject the next refresh's dups") {
    import graft.sources.ParquetUpsertSink
    val existing = Tables.documents(spark, Sf).select("doc_id", "text")
    val idxDir =
      java.nio.file.Files.createTempDirectory("graft_sigidx").toString
    // persist the index — the artifact a production refresh reads
    // instead of ever re-reading corpus text
    ParquetUpsertSink.insertNewOnly(spark, idxDir,
      DedupOps.signatureIndex(existing), Seq("doc_id"))
    val persisted = ParquetUpsertSink.read(spark, idxDir)
    // the persisted artifact's schema IS the cross-refresh contract —
    // compare names + SQL types (parquet widens the array element's
    // containsNull to true on round-trip; nullability is not part of
    // the contract)
    def shape(df: org.apache.spark.sql.DataFrame) =
      df.schema.fields.map(f => (f.name, f.dataType.sql)).toSeq
    assert(shape(persisted) ==
      shape(DedupOps.signatureIndex(existing)),
      s"schema drift through parquet: ${persisted.schema}")

    val nearDups = existing.filter(col("doc_id") % 10 === 0)
      .select((col("doc_id") + 2000000L).as("doc_id"),
        expr("substring(text, instr(text, ' ') + 1)").as("text"))
    val fresh = (0 until 10).map(i =>
      (3000000L + i, s"zz$i yy$i xx$i ww$i vv$i uu$i tt$i ss$i"))
      .toDF("doc_id", "text")
    val incoming = nearDups.unionByName(fresh)
    val admitted =
      DedupOps.incrementalDedupWithIndex(persisted, incoming)
        .localCheckpoint(false)
    val admittedIds = admitted.select("doc_id")
      .collect().map(_.getLong(0)).toSet
    val inMemIds = DedupOps.incrementalDedup(existing, incoming)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(admittedIds == inMemIds,
      s"persisted path diverged: ${admittedIds.diff(inMemIds)} / " +
        s"${inMemIds.diff(admittedIds)}")
    assert(admittedIds == (0 until 10).map(i => 3000000L + i).toSet)

    // refresh contract: append the admitted docs' signature rows
    ParquetUpsertSink.insertNewOnly(spark, idxDir,
      DedupOps.signatureIndex(admitted), Seq("doc_id"))

    // second refresh: a copy of a batch-1 admission must now be
    // rejected by the updated index; a genuinely new doc is admitted
    val batch2 = Seq(
      (5000000L, "zz0 yy0 xx0 ww0 vv0 uu0 tt0 ss0"),
      (5000001L, "aa1 bb1 cc1 dd1 ee1 ff1 gg1 hh1")).toDF("doc_id", "text")
    val admitted2 = DedupOps.incrementalDedupWithIndex(
        ParquetUpsertSink.read(spark, idxDir), batch2)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(admitted2 == Set(5000001L), s"got $admitted2")
  }

  test("near-dup contamination: planted eval leakage maps to its source") {
    val got = DedupOps.q84NearDupContam(spark, Sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val planted = Tables.documents(spark, Sf)
      .filter(col("doc_id") % 10 === 0)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // every matched planted source must point at its own perturbed copy
    got.foreach { case (train, eval) =>
      if (planted(train)) assert(eval == train + 1000000L,
        s"train $train matched $eval")
    }
    // LSH recall on first-token-dropped copies: ≥ 80% of sources found
    val found = planted.count(got.contains)
    assert(found >= math.ceil(planted.size * 0.8).toInt,
      s"recall $found/${planted.size}")
  }

  test("span scrub: repeated spans drop, first occurrence survives, " +
      "docs reassemble in span order") {
    val got = DedupOps.q88SpanScrub(spark, Sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
    // local replay: exact first-occurrence semantics over the corpus
    val docs = Tables.documents(spark, Sf)
      .filter(col("text").isNotNull)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
      .sortBy(_._1)
    val seen = scala.collection.mutable.Set.empty[String]
    val expected = scala.collection.mutable.Map.empty[Long, (Long, String)]
    docs.foreach { case (id, text) =>
      val tk = text.trim.toLowerCase.split("\\s+")
      val spans = tk.grouped(32).map(_.mkString(" ")).toSeq match {
        case Seq() => Seq("")
        case s => s
      }
      val keptSpans = spans.filter(sp =>
        if (seen.contains(sp)) false else { seen += sp; true })
      if (keptSpans.nonEmpty)
        expected(id) = (keptSpans.size.toLong, keptSpans.mkString(" "))
    }
    assert(got.keySet == expected.keySet)
    got.foreach { case (id, v) =>
      assert(v == expected(id), s"doc $id: got $v want ${expected(id)}") }
    // the corpus actually contains repeated spans, so scrubbing happened
    assert(got.values.map(_._1).sum <
      docs.map(d => math.max(1,
        math.ceil(d._2.trim.toLowerCase.split("\\s+").length / 32.0).toInt))
        .sum)
  }

  test("set-similarity join equals the naive n² Jaccard join at two " +
      "thresholds (prefix filter is lossless)") {
    val rnd = new scala.util.Random(7)
    val universe = (0 until 60).map(i => s"t$i")
    val base = (0 until 70).map { i =>
      (i.toLong, rnd.shuffle(universe).take(4 + rnd.nextInt(10)).toSet)
    }
    // mutated copies: drop one element, add one — high-Jaccard partners
    val mutated = base.take(30).map { case (id, s) =>
      (id + 1000L, s.drop(1) + universe(rnd.nextInt(universe.size)))
    }
    val all = base ++ mutated
    val df = all.map { case (id, s) => (id, s.toSeq) }.toDF("id", "set")
    for ((tn, td) <- Seq((1, 2), (2, 3))) {
      val got = DedupOps.setSimilarityJoin(df, "id", "set", tn, td)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val expected = (for {
        (ia, sa) <- all; (ib, sb) <- all
        if ia < ib
        i = (sa intersect sb).size
        if i * (tn + td) >= (sa.size + sb.size) * tn
      } yield (ia, ib, i.toLong)).toSet
      assert(expected.nonEmpty, s"t=$tn/$td needs matches to be a test")
      assert(got == expected, s"t=$tn/$td: " +
        s"missing=${(expected -- got).take(5)} extra=${(got -- expected).take(5)}")
    }
  }

  test("q96 equals a local naive replay over the REAL corpus " +
      "(total recall — the guarantee LSH can't make)") {
    val got = DedupOps.q96SetSimJoin(spark, Sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got.nonEmpty)
    def shingleSet(text: String): Set[String] = {
      val tk = text.trim.toLowerCase.split("\\s+")
      if (tk.length >= 3) tk.sliding(3).map(_.mkString(" ")).toSet
      else Set(tk.mkString(" "))
    }
    val docs = Tables.documents(spark, Sf).select("doc_id", "text")
      .collect().filter(!_.isNullAt(1))
      .map(r => (r.getLong(0), shingleSet(r.getString(1))))
    val expected = (for {
      (ia, sa) <- docs; (ib, sb) <- docs
      if ia < ib && sa.nonEmpty && sb.nonEmpty
      i = (sa intersect sb).size
      if 3 * i >= sa.size + sb.size
    } yield (ia, ib, i.toLong)).toSet
    assert(got == expected, s"missing=${(expected -- got).take(5)} " +
      s"extra=${(got -- expected).take(5)}")
  }

  test("containment join finds the short-quote-in-long-doc pair the " +
      "symmetric Jaccard join can never see") {
    import spark.implicits._
    val long = (1 to 30).map(i => s"w$i").mkString(" ")
    val quote = (10 to 14).map(i => s"w$i").mkString(" ") // 5-token span
    val other = (100 to 120).map(i => s"v$i").mkString(" ")
    def sh(t: String) =
      t.split(" ").sliding(3).map(_.mkString(" ")).toSeq.distinct
    val rows = Seq((1L, sh(long)), (2L, sh(quote)), (3L, sh(other)))
      .toDF("doc_id", "sh")
    val cont = operators.DedupOps
      .containmentJoin(rows, "doc_id", "sh", 9, 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // quote ⊆ long: containment 3/3 = 1.0 — found, directionally
    assert(cont == Set((2L, 1L)))
    // the symmetric join at J ≥ 1/2 can't: J = 3/28
    val jac = operators.DedupOps
      .setSimilarityJoin(rows, "doc_id", "sh", 1, 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(jac.isEmpty)
  }

  test("q108 plants one contained quote per doc and the join " +
      "recovers every (quote, source) pair") {
    val got = operators.DedupOps.q108ContainmentJoin(spark, Sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // a 2-3-token doc's drop-first-word quote falls into the
    // whole-text shingle branch and shares nothing with its source —
    // containment is genuinely below threshold there, so only docs
    // with ≥ 4 tokens (or exactly 1: quote == doc) must be recovered
    val srcIds = Tables.documents(spark, Sf)
      .filter(org.apache.spark.sql.functions.col("text").isNotNull)
      .select("doc_id", "text").collect()
      .filter { r =>
        val n = r.getString(1).trim.split("\\s+").length
        n >= 4 || n == 1
      }.map(_.getLong(0)).toSet
    assert(srcIds.nonEmpty)
    srcIds.foreach { id =>
      assert(got.contains((id + 1000000L, id)),
        s"quote of doc $id not recovered")
    }
  }

  test("winnowing: a MISALIGNED shared run at the exact w+k-1 guarantee " +
      "bound is caught; unique docs stay silent; replay matches") {
    val (w, k) = (30, 8)
    // deterministic 'random' filler (no shared w-grams between docs)
    def filler(seed: Int, n: Int): String =
      (0 until n).map(i => ('a' + ((i * 31 + seed * 17 + i * i * 7) % 26))
        .toChar).mkString
    val shared = filler(99, w + k - 1) // exactly 37 chars — the bound
    // offsets 13 vs 20: misaligned mod every stride a sampler might use
    val a = filler(1, 13) + shared + filler(2, 40)
    val b = filler(3, 20) + shared + filler(4, 25)
    val c = filler(5, 90)
    val docs = Seq((1L, a), (2L, b), (3L, c)).toDF("doc_id", "text")
    val got = DedupOps.winnowedRepeats(docs, w, k).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got.keySet == Set(1L, 2L),
      s"guarantee: both copies flagged, control silent — got $got")
    assert(got.values.forall(_._2 >= 1L))
    // local replay: per-doc winnowed (fp, pos) selection, rightmost ties
    def md5hex(s: String): String = java.security.MessageDigest
      .getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    def select(text: String): Set[(String, Int)] = {
      val hs = (1 to text.length - (w - 1)).map(p =>
        (p, md5hex(text.substring(p - 1, p - 1 + w))))
      (0 to hs.length - k).map { j =>
        val win = hs.slice(j, j + k)
        // min hash; rightmost position on ties
        val mn = win.map(_._2).min
        win.filter(_._2 == mn).map(_._1).max -> mn
      }.map { case (p, h) => (h, p) }.toSet
    }
    val sels = Map(1L -> select(a), 2L -> select(b), 3L -> select(c))
    val fpDocs = sels.toSeq.flatMap { case (id, s) => s.map(_._1 -> id) }
      .groupBy(_._1).map { case (fp, xs) => fp -> xs.map(_._2).distinct.size }
    val expected = sels.flatMap { case (id, s) =>
      val nRep = s.count(x => fpDocs(x._1) >= 2).toLong
      val nSel = s.size.toLong
      if (nRep > 0)
        Some(id -> ((nSel, nRep, (nRep * 2000 + nSel) / (2 * nSel))))
      else None
    }
    assert(got == expected)
  }

  test("q218 dup-source matrix equals a full local md5-minhash LSH " +
      "replay; twin pairs land on the diagonal") {
    val got = DedupOps.q218DupSourceMatrix(spark, Sf).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3)))).toMap
    val docs = Tables.documents(spark, Sf)
      .select("doc_id", "text", "source").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def toks(t: String): Seq[String] =
      t.trim.toLowerCase.split("\\s+").toSeq
    def shing(tk: Seq[String]): Seq[String] =
      if (tk.size >= 3) tk.sliding(3).map(_.mkString(" ")).toSeq.distinct
      else Seq(tk.mkString(" "))
    val corpus = docs.map(d => (d._1, d._2)) ++ docs.map(d =>
      (d._1 + 1000000L, d._2.substring(d._2.indexOf(' ') + 1)))
    val sigs = corpus.map { case (id, t) =>
      val tk = toks(t)
      val sh = shing(tk)
      val ms = (0 until 8).map(i => sh.map(x => md5hex(s"$i|$x")).min)
      val bands = (0 until 4).map(b =>
        (b, ms(2 * b) + "," + ms(2 * b + 1)))
      (id, tk.distinct.toSet, bands)
    }
    val pairs = sigs.flatMap { case (id, _, bands) =>
      bands.map(bk => bk -> id) }
      .groupBy(_._1).values.flatMap { g =>
        val ids = g.map(_._2).toSeq.sorted
        for { i <- ids.indices; j <- i + 1 until ids.size }
          yield (ids(i), ids(j))
      }.toSet
    val tokOf = sigs.map(s => s._1 -> s._2).toMap
    val srcOf = docs.map(d => d._1 -> d._3).toMap
    val expect = pairs.toSeq.flatMap { case (a, b) =>
      val (ta, tb) = (tokOf(a), tokOf(b))
      val inter = ta.intersect(tb).size.toLong
      val den = ta.size + tb.size - inter
      if (10 * inter >= 7 * den) {
        val (sa, sb) = (srcOf(a % 1000000L), srcOf(b % 1000000L))
        val key = if (sa <= sb) (sa, sb) else (sb, sa)
        Some(key -> ((2 * 1000 * inter + den) / (2 * den)))
      } else None
    }.groupBy(_._1).map { case (k, v) =>
      k -> ((v.size.toLong, v.map(_._2).max)) }
    assert(got == expect && got.nonEmpty)
    // the planted drop-first-token twins verify within their source
    assert(got.keys.exists(k => k._1 == k._2))
  }

  test("q226 dedup yield curve equals a full local LSH replay; " +
      "yield is monotone non-increasing in the threshold") {
    val got = DedupOps.q226DedupYield(spark, Sf).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val docs = Tables.documents(spark, Sf)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def toks(t: String): Seq[String] =
      t.trim.toLowerCase.split("\\s+").toSeq
    def shing(tk: Seq[String]): Seq[String] =
      if (tk.size >= 3) tk.sliding(3).map(_.mkString(" ")).toSeq.distinct
      else Seq(tk.mkString(" "))
    val corpus = docs ++ docs.map(d =>
      (d._1 + 1000000L, d._2.substring(d._2.indexOf(' ') + 1)))
    val sigs = corpus.map { case (id, t) =>
      val tk = toks(t)
      val ms = (0 until 8).map(i =>
        shing(tk).map(x => md5hex(s"$i|$x")).min)
      (id, tk.distinct.toSet, (0 until 4).map(b =>
        (b, ms(2 * b) + "," + ms(2 * b + 1))))
    }
    val cand = sigs.flatMap { case (id, _, bands) =>
      bands.map(bk => bk -> id) }
      .groupBy(_._1).values.flatMap { g =>
        val ids = g.map(_._2).toSeq.sorted
        for { i <- ids.indices; j <- i + 1 until ids.size }
          yield (ids(i), ids(j))
      }.toSet
    val tokOf = sigs.map(s => s._1 -> s._2).toMap
    val iv = cand.toSeq.map { case (a, b) =>
      val inter = tokOf(a).intersect(tokOf(b)).size.toLong
      (a, b, 1000L * inter,
        tokOf(a).size + tokOf(b).size - inter)
    }
    val expect = Seq(500L, 700L, 900L).map { t =>
      val f = iv.filter(p => p._3 >= t * p._4)
      t -> ((f.size.toLong,
        f.flatMap(p => Seq(p._1, p._2)).distinct.size.toLong))
    }.toMap
    assert(got == expect && got.size == 3)
    // monotone: a stricter threshold never yields more
    assert(got(500L)._1 >= got(700L)._1 &&
      got(700L)._1 >= got(900L)._1)
    assert(got(500L)._2 >= got(700L)._2 &&
      got(700L)._2 >= got(900L)._2)
    assert(got(500L)._1 > 0)
  }
}
