package graft

import graft.functions.VectorExpressions
import graft.operators.SimilarityOps
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class SimilaritySpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private def vec(xs: Float*): Array[Float] = xs.toArray

  test("native cosine: orthogonal=0, parallel=1, antiparallel=-1") {
    val df = Seq(
      (1L, vec(1, 0), vec(0, 1)),
      (2L, vec(1, 2), vec(2, 4)),
      (3L, vec(1, 0), vec(-1, 0))).toDF("id", "a", "b")
    val got = df.select(col("id"),
      VectorExpressions.cosine(col("a"), col("b")).as("c"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(math.abs(got(1L)) < 1e-12)
    assert(math.abs(got(2L) - 1.0) < 1e-12)
    assert(math.abs(got(3L) + 1.0) < 1e-12)
  }

  test("native cosine: zero vector yields null") {
    val df = Seq((1L, vec(0, 0), vec(1, 1))).toDF("id", "a", "b")
    val r = df.select(
      VectorExpressions.cosine(col("a"), col("b")).as("c")).first()
    assert(r.isNullAt(0))
  }

  test("native norm and dot match manual math") {
    val df = Seq((1L, vec(3, 4))).toDF("id", "a")
    val r = df.select(
      VectorExpressions.norm(col("a")).as("n"),
      VectorExpressions.dot(col("a"), col("a")).as("d")).first()
    assert(math.abs(r.getDouble(0) - 5.0) < 1e-12)
    assert(math.abs(r.getDouble(1) - 25.0) < 1e-12)
  }

  test("functions usable from SQL after registration") {
    // GraftSession.get registered every graft_* function
    val r = spark.sql(
      "SELECT graft_cosine(array(1.0D, 0.0D), array(1.0D, 0.0D)) AS c")
      .first().getDouble(0)
    assert(math.abs(r - 1.0) < 1e-12)
  }

  test("brute-force knn: 5 neighbors per query, ranks ordered by cosine") {
    val bf = SimilarityOps.q32KnnBruteforce(spark, Sf)
    val perQ = bf.groupBy("qid").count().collect()
    assert(perQ.length == 10 && perQ.forall(_.getLong(1) == 5L))
    val r0 = bf.filter(col("qid") === 0).orderBy("rank")
      .select("cos_sim").collect().map(_.getDouble(0))
    assert(r0.sliding(2).forall(p => p(0) >= p(1)))
  }

  test("IVF ANN (sample-trained quantizer) recall@5 vs brute force >= 0.8") {
    val bf = SimilarityOps.q32KnnBruteforce(spark, Sf)
      .select("qid", "nid").collect().map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    val ivf = graft.operators.IvfAnn.q40AnnIvf(spark, Sf)
      .select("qid", "nid").collect().map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    val recall = (ivf & bf).size.toDouble / bf.size
    assert(recall >= 0.8, s"IVF recall@5 = $recall")
  }

  test("quantized re-rank ANN recall@5 vs brute force >= 0.8") {
    val bf = SimilarityOps.q32KnnBruteforce(spark, Sf)
      .select("qid", "nid").collect().map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    val got = SimilarityOps.q87QuantizedAnn(spark, Sf)
    val rows = got.collect()
    // shape: 5 ranked neighbors per query
    assert(rows.length == 50)
    val qa = rows.map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (qa & bf).size.toDouble / bf.size
    info(s"quantized re-rank recall@5 = $recall")
    assert(recall >= 0.8, s"recall@5 = $recall")
  }

  test("PQ ADC ANN recall@5 vs brute force; codes bounded; " +
      "deterministic across runs") {
    val bf = SimilarityOps.q32KnnBruteforce(spark, Sf)
      .select("qid", "nid").collect().map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    val got = graft.operators.PqAnn.q120PqAnn(spark, Sf)
    val rows = got.collect()
    assert(rows.length == 50) // 5 per query × 10 queries
    val pq = rows.map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (pq & bf).size.toDouble / bf.size
    info(s"PQ ADC recall@5 = $recall")
    assert(recall >= 0.7, s"recall@5 = $recall")
    // codes are 4-bit by construction
    val emb = Tables.embeddings(spark, Sf)
    val cb = graft.operators.PqAnn.trainCodebooks(emb, 64)
    val coded = graft.operators.PqAnn.encode(emb, cb, 64)
    (0 until 4).foreach { m =>
      val mx = coded.agg(max(col(s"code$m")), min(col(s"code$m"))).first()
      assert(mx.getInt(0) <= 15 && mx.getInt(1) >= 0)
    }
    val again = graft.operators.PqAnn.q120PqAnn(spark, Sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(again == rows.map(r =>
      (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet)
  }

  test("IVF-PQ recall@5 vs brute force; residual codes bounded; " +
      "deterministic across runs") {
    val bf = SimilarityOps.q32KnnBruteforce(spark, Sf)
      .select("qid", "nid").collect().map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    val got = graft.operators.IvfPq.q121IvfPq(spark, Sf)
    val rows = got.collect()
    assert(rows.length == 50)
    val pq = rows.map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (pq & bf).size.toDouble / bf.size
    info(s"IVF-PQ recall@5 = $recall")
    assert(recall >= 0.6, s"recall@5 = $recall")
    val emb = Tables.embeddings(spark, Sf)
    val (coarse, cb) = graft.operators.IvfPq.train(emb, 64, 16)
    val coded = graft.operators.IvfPq.encode(emb, coarse, cb, 64)
    val mm = coded.agg(max(col("cell")), min(col("cell")),
      max(col("code3")), min(col("code3"))).first()
    assert(mm.getInt(0) <= 15 && mm.getInt(1) >= 0)
    assert(mm.getInt(2) <= 15 && mm.getInt(3) >= 0)
    val again = graft.operators.IvfPq.q121IvfPq(spark, Sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(again == rows.map(r =>
      (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet)
  }

  test("AnnIndexStore: search over the persisted artifact equals the " +
      "in-memory IVF-PQ path; rebuild reproduces the artifact exactly") {
    import graft.sources.AnnIndexStore
    val emb = Tables.embeddings(spark, Sf)
    val dir = java.nio.file.Files
      .createTempDirectory("graft_ann_idx_spec").toString
    val idx = AnnIndexStore.build(spark, emb, dir)
    assert(AnnIndexStore.exists(spark, dir))
    // search-over-artifact ≡ the in-memory path (same kernel, same
    // deterministic training) — exact triple equality, not recall
    val fromIdx = AnnIndexStore.search(idx, emb, nProbe = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val inMem = graft.operators.IvfPq.q121IvfPq(spark, Sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(fromIdx == inMem)
    // the artifact probe is partition pruning: only nProbe of nCells
    // cell directories are read (PushedFilters carries cell via the
    // dynamic join, so assert on the artifact layout instead)
    val cellDirs = new java.io.File(s"$dir/codes.parquet")
      .listFiles().filter(_.getName.startsWith("cell=")).map(_.getName)
    // one directory per NON-EMPTY cell (the integer trainer may drop
    // empty clusters or leave a cell with no corpus members)
    val nCellsUsed = idx.codes.select("cell").distinct().count()
    assert(cellDirs.length.toLong == nCellsUsed && nCellsUsed >= 8)
    // deterministic rebuild: content-identical artifact
    val dir2 = java.nio.file.Files
      .createTempDirectory("graft_ann_idx_spec2").toString
    val idx2 = AnnIndexStore.build(spark, emb, dir2)
    def centsSeq(a: Array[(Int, Array[Long])]) =
      a.map { case (c, v) => (c, v.toSeq) }.toSeq
    assert(centsSeq(idx2.coarse) == centsSeq(idx.coarse))
    assert(idx2.pq.map(centsSeq).toSeq == idx.pq.map(centsSeq).toSeq)
    def codesSet(i: AnnIndexStore.IvfPqIndex) = i.codes
      .collect().map(r => r.toSeq).toSet
    assert(codesSet(idx2) == codesSet(idx))
    // q227 entry: first call builds (fresh dir), second is search-only
    // over the cached artifact, both the same result
    val q1 = graft.SparkEntry.queries("q227_ann_index_search")(spark, Sf)
      .collect().map(_.toSeq).toSet
    val q2 = graft.SparkEntry.queries("q227_ann_index_search")(spark, Sf)
      .collect().map(_.toSeq).toSet
    assert(q1 == q2 && q1 == inMem.map(t => Seq(t._1, t._2, t._3)))
  }

  test("ANN-ladder swap: q186/q187 over IVF candidates reach the " +
      "promised ≥0.8 recall vs the exact brute-force path") {
    val emb = Tables.embeddings(spark, Sf)
    val cand = SimilarityOps.ivfCandidateScores(emb,
      nCells = 16, nProbe = 10)
    // q186: mutual-NN pair recall over the candidate stage
    val exactPairs = SimilarityOps.q186MutualNn(spark, Sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val annPairs = SimilarityOps.mutualNnFrom(
        cand.select("qid", "nid", "cos_sim"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val r186 = (annPairs & exactPairs).size.toDouble / exactPairs.size
    info(s"mutual-NN pair recall over IVF candidates = $r186")
    assert(exactPairs.nonEmpty && r186 >= 0.8, s"recall=$r186")
    // ANN mutual pairs are a SUBSET property check: any pair the ANN
    // path emits whose ids are in the exact top-1 table must agree on
    // the rounded cosine (same scoring recipe)
    val exactCos = SimilarityOps.q186MutualNn(spark, Sf)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
      .toMap
    val annCos = SimilarityOps.mutualNnFrom(
        cand.select("qid", "nid", "cos_sim"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
    annCos.foreach { case (k, v) =>
      exactCos.get(k).foreach(e => assert(e == v, s"pair $k: $v vs $e")) }
    // q187: neighbor recall@5 — the purity stage consumes the same
    // heap cut, so set recall is the right gate (purity values follow)
    val exactTop5 = graft.plans.TopK.perKey(
        SimilarityOps.knnPurityScored(spark, Sf),
        keys = Seq("qid"), order = Seq(("cos_sim", true), ("nid", false)),
        k = 5)
      .select("qid", "nid").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val annTop5 = graft.plans.TopK.perKey(cand,
        keys = Seq("qid"), order = Seq(("cos_sim", true), ("nid", false)),
        k = 5)
      .select("qid", "nid").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val r187 = (annTop5 & exactTop5).size.toDouble / exactTop5.size
    info(s"kNN recall@5 over IVF candidates = $r187")
    assert(r187 >= 0.8, s"recall@5=$r187")
    // and the swapped purity output has the exact operator's schema
    val annPurity = SimilarityOps.knnPurityFrom(cand)
    assert(annPurity.columns.toSeq ==
      Seq("vec_id", "label", "n_same", "purity_ppm"))
    assert(annPurity.count() == emb.count())
  }

  test("q125 item-item similarity matches a local basket replay") {
    val li = Tables.lineitem(spark, Sf)
      .select("l_orderkey", "l_partkey").distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val n = li.groupBy(_._2).map { case (p, xs) => p -> xs.length.toLong }
    val cij = scala.collection.mutable.Map.empty[(Long, Long), Long]
    li.groupBy(_._1).values.foreach { xs =>
      val ps = xs.map(_._2)
      for (i <- ps; j <- ps if i != j)
        cij((i, j)) = cij.getOrElse((i, j), 0L) + 1
    }
    val expected = cij.toSeq.groupBy(_._1._1).flatMap { case (i, m) =>
      m.map { case ((_, j), c) =>
        (i, j, c, (2000000L * c * c + n(i) * n(j)) / (2 * n(i) * n(j))) }
        .sortBy { case (_, j, _, sc) => (-sc, j) }.take(5)
    }.toSet
    val got = SimilarityOps.q125ItemSim(spark, Sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(got == expected)
  }

  test("persisted code index: write → reload → search matches the " +
      "on-the-fly path (schema round-trip pinned)") {
    import graft.sources.ParquetUpsertSink
    val idxDir =
      java.nio.file.Files.createTempDirectory("graft_codeidx").toString
    val fresh = SimilarityOps.quantizedCodes(spark, Sf)
    ParquetUpsertSink.insertNewOnly(spark, idxDir, fresh, Seq("vec_id"))
    val persisted = ParquetUpsertSink.read(spark, idxDir)
    // the persisted artifact's schema IS the cross-run contract —
    // names + SQL types (parquet widens array containsNull; nullability
    // is not part of the contract)
    def shape(df: org.apache.spark.sql.DataFrame) =
      df.schema.fields.map(f => (f.name, f.dataType.sql)).toSeq
    assert(shape(persisted) == shape(fresh),
      s"schema drift through parquet: ${persisted.schema}")
    def key(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
      .toSet
    assert(key(SimilarityOps.quantizedAnn(spark, Sf, persisted)) ==
      key(SimilarityOps.q87QuantizedAnn(spark, Sf)))
  }

  test("quantizedCodes: int8 range and code-sum consistency") {
    val codes = SimilarityOps.quantizedCodes(spark, Sf)
      .filter(col("vec_id") < 3).collect()
    assert(codes.length == 3)
    codes.foreach { r =>
      val cs = r.getSeq[Int](1)
      assert(cs.length == 64 && cs.forall(c => c >= -127 && c <= 127))
      assert(r.getLong(2) == cs.map(_.toLong).sum)
    }
  }

  test("centroid aggregator equals driver-side mean per label") {
    import graft.functions.CentroidAggregator
    val ds = Tables.embeddings(spark, Sf)
      .select(col("label"), col("embedding"))
      .as[(Int, Array[Float])]
    val got = ds.groupByKey(_._1)
      .mapValues(_._2)
      .agg(CentroidAggregator.centroid)
      .collect().toMap
    val local = ds.collect().groupBy(_._1).map { case (label, rows) =>
      val dim = rows.head._2.length
      val sums = new Array[Double](dim)
      rows.foreach(r => (0 until dim).foreach(i => sums(i) += r._2(i)))
      label -> sums.map(_ / rows.length)
    }
    assert(got.keySet == local.keySet)
    for (label <- got.keySet; i <- got(label).indices)
      assert(math.abs(got(label)(i) - local(label)(i)) < 1e-9)
  }

  test("LSH ANN recall@5 vs brute force is useful (>= 0.6)") {
    val bf = SimilarityOps.q32KnnBruteforce(spark, Sf)
      .select("qid", "nid").collect().map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    val ann = SimilarityOps.q33AnnLsh(spark, Sf)
      .select("qid", "nid").collect().map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    val recall = (ann & bf).size.toDouble / bf.size
    info(s"LSH ANN recall@5 = $recall")
    assert(recall >= 0.6, s"recall@5 = $recall")
  }

  test("semantic dedup: one representative per cell, argmax of cosine") {
    val kept = SimilarityOps.q75SemDedup(spark, Sf)
    val rows = kept.collect()
    assert(rows.nonEmpty && rows.length <= 32)
    assert(rows.map(_.getAs[Int]("cell")).distinct.length == rows.length,
      "exactly one representative per cluster")
    // re-derive assignments with the same exact integer quantizer: the
    // kept vec must score >= every other member of its cell (rounded
    // cosine, vec_id tie-break)
    val base = Tables.embeddings(spark, Sf).select(col("vec_id"),
      col("embedding"),
      graft.operators.IntKMeans.e6(col("embedding")).as("_e6"))
    val cents = graft.operators.IntKMeans.trainOnSample(
      base, "vec_id", "_e6", k = 32, rounds = 2, cap = 4096)
    val centMap = map_from_arrays(
      typedlit(cents.map(_._1).toSeq),
      array(cents.map(kc => typedlit(kc._2.map(_.toDouble).toSeq)): _*))
    val scored = graft.operators.IntKMeans
      .assignCell(base, "_e6", cents, "cell")
      .withColumn("cos_r", round(
        VectorExpressions.cosine(col("embedding"),
          element_at(centMap, col("cell"))), 4))
      .select(col("cell"), col("vec_id"), col("cos_r"))
      .collect()
      .groupBy(_.getAs[Int]("cell"))
    rows.foreach { r =>
      val cell = r.getAs[Int]("cell")
      val best = scored(cell)
        .map(x => (x.getAs[Double]("cos_r"), x.getAs[Long]("vec_id")))
        .minBy { case (c, id) => (-c, id) }
      assert((r.getAs[Double]("cos_r"), r.getAs[Long]("vec_id")) == best,
        s"cell $cell")
    }
  }

  test("assocRules matches a local Apriori replay on planted baskets; " +
      "q131 is non-empty with sane confidence/lift") {
    // planted: {A,B} co-occur in 4/6 baskets (lift > 1); C is frequent
    // but independent of A; D is infrequent (pruned by minCount=2... 4)
    val baskets = Seq(
      (1L, "A"), (1L, "B"), (1L, "C"),
      (2L, "A"), (2L, "B"),
      (3L, "A"), (3L, "B"), (3L, "D"),
      (4L, "A"), (4L, "B"), (4L, "C"),
      (5L, "A"), (5L, "C"),
      (6L, "B"), (6L, "C")).toDF("ok", "item")
    val got = SimilarityOps.assocRules(baskets, minCount = 4L, topK = 10)
      .collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    // counts: A=5, B=5, C=4, D=1(pruned); AB=4, AC=3(<4 pruned), BC=3
    assert(got.keySet == Set(("A", "B"), ("B", "A")))
    val n = 6L
    def rh(num: Long, den: Long) = (2 * num + den) / (2 * den)
    val expConf = rh(1000L * 4, 5)         // 800
    val expLift = rh(1000000L * 4 * n, 25) // 960000
    assert(got(("A", "B")) == ((4L, expConf, expLift)))
    assert(got(("B", "A")) == ((4L, expConf, expLift)))
    // the real q131: rules exist at every SF, ppt/ppm in range
    val rules = SimilarityOps.q131AssocRules(spark, Sf).collect()
    assert(rules.nonEmpty && rules.length <= 20)
    rules.foreach { r =>
      val (conf, lift) = (r.getLong(3), r.getLong(4))
      assert(conf >= 0 && conf <= 1000, s"conf_ppt $conf out of range")
      assert(lift >= 0, s"lift_ppm $lift negative")
    }
  }

  test("rrfFusion: planted two-ranker case fuses exactly — a doc " +
      "strong in ONE list can beat a doc middling in both only when " +
      "the integer RRF says so") {
    val dir =
      java.nio.file.Files.createTempDirectory("graft_rrf").toString
    // doc 0 is the seed. Lexically: 1 > 2, 3 shares nothing.
    // Semantically: 3 > 2 > 1.
    Seq((0L, "alpha beta gamma delta"),
        (1L, "alpha beta gamma zeta"),
        (2L, "alpha beta xi omicron"),
        (3L, "nu xi omicron pi"))
      .toDF("doc_id", "text").write.parquet(s"$dir/documents.parquet")
    Seq((0L, Array(1f, 0f, 0f, 0f)),
        (1L, Array(0.1f, 1f, 0f, 0f)),
        (2L, Array(1f, 0.7f, 0f, 0f)),
        (3L, Array(1f, 0.1f, 0f, 0f)))
      .toDF("vec_id", "embedding").write.parquet(s"$dir/embeddings.parquet")
    val got = SimilarityOps.rrfFusion(spark, dir, nQueries = 1,
        perList = 3, k = 4, rrfK = 60).collect()
      .map(r => r.getLong(1) -> ((
        if (r.isNullAt(2)) None else Some(r.getLong(2)),
        if (r.isNullAt(3)) None else Some(r.getLong(3)),
        r.getLong(4)))).toMap
    // lexical: jac(1)=3/5, jac(2)=2/6; doc 3 never becomes a candidate
    // semantic: cos 3 > 2 > 1 (1.0/1.004.., ~0.97, ~0.0995)
    def c(r: Long) = 1000000L / (60L + r)
    assert(got(1L) == ((Some(1L), Some(3L), c(1) + c(3))))
    assert(got(2L) == ((Some(2L), Some(2L), c(2) + c(2))))
    assert(got(3L) == ((None, Some(1L), c(1))))
    assert(got.size == 3)
  }

  test("mmrDiversify: a near-duplicate of the top pick is displaced " +
      "by a diverse lower-relevance candidate") {
    val dir =
      java.nio.file.Files.createTempDirectory("graft_mmr").toString
    // seed 0: A(1) and B(2) nearly identical, both high-rel; C(3)
    // moderately relevant but diverse. Pure relevance top-2 = {A, B};
    // MMR at lambda=1/2 picks C second: score(B) = rel - sim(A,B)
    // ~ 9990 - 10000 < score(C) ~ 7070 - ~7000-ish
    Seq((0L, Array(1f, 0f, 0f, 0f)),
        (1L, Array(0.999f, 0.04f, 0f, 0f)),
        (2L, Array(0.998f, 0.05f, 0f, 0f)),
        (3L, Array(0.7f, 0f, 0.7f, 0f)))
      .toDF("vec_id", "embedding").write.parquet(s"$dir/embeddings.parquet")
    val got = SimilarityOps.mmrDiversify(
        spark.read.parquet(s"$dir/embeddings.parquet"),
        nQueries = 1, shortlist = 3, k = 2).collect()
      .map(r => (r.getLong(2), r.getLong(1))).sorted.map(_._2).toSeq
    assert(got == Seq(1L, 3L), s"picked $got")
  }

  test("q156 MMR on real data: k picks per seed, first pick is the " +
      "relevance argmax, chosen scores are non-increasing, no " +
      "duplicates") {
    val rows = SimilarityOps.q156MmrDiversify(spark, Sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    assert(rows.nonEmpty)
    rows.groupBy(_._1).foreach { case (q, xs) =>
      assert(xs.length == 10 && xs.map(_._2).distinct.length == 10)
      val byRank = xs.sortBy(_._3)
      // rank 1 is the pure-relevance argmax (score2 = rel, no penalty)
      assert(byRank.head._4 == byRank.head._5)
      assert(byRank.head._4 == xs.map(_._4).max)
      // greedy chosen scores never increase once the penalty term is
      // live (rank 1 uses maxSim = 0, so a NEGATIVE max cosine can
      // push rank 2's score above it — ranks 2..k share the same form)
      val sc = byRank.map(_._5).drop(1)
      assert(sc.zip(sc.tail).forall { case (a, b) => a >= b }, s"q=$q")
    }
  }

  test("q158 truncated-dim ANN: recall@5 >= 0.8 vs brute force, exact " +
      "re-ranked cosines match q32 on shared pairs") {
    val got = SimilarityOps.q158TruncatedAnn(spark, Sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val exact = SimilarityOps.q32KnnBruteforce(spark, Sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val gotSet = got.map(x => (x._1, x._2)).toSet
    val exactSet = exact.map(x => (x._1, x._2)).toSet
    val recall = (gotSet & exactSet).size.toDouble / exactSet.size
    assert(recall >= 0.8, s"recall@5 = $recall")
    // on pairs both return, the re-ranked cosine IS the exact cosine
    val exactCos = exact.map(x => (x._1, x._2) -> x._3).toMap
    got.filter(x => exactSet((x._1, x._2))).foreach { x =>
      assert(x._3 == exactCos((x._1, x._2)), s"${(x._1, x._2)}")
    }
    assert(got.groupBy(_._1).values.forall(_.length == 5))
  }

  test("q150 RRF on real data: <= 10 rows per query, scores are the " +
      "exact integer contributions of the two ranks") {
    val rows = SimilarityOps.q150RrfFusion(spark, Sf).collect()
    assert(rows.nonEmpty)
    val perQ = rows.groupBy(_.getLong(0))
    assert(perQ.size <= 8 && perQ.values.forall(_.length <= 10))
    rows.foreach { r =>
      val lex = if (r.isNullAt(2)) 0L else 1000000L / (60L + r.getLong(2))
      val sem = if (r.isNullAt(3)) 0L else 1000000L / (60L + r.getLong(3))
      assert(r.getLong(4) == lex + sem)
      assert(lex + sem > 0)
    }
  }

  test("cosineAllPairs: prefix filter loses nothing vs a naive n² " +
      "replay, identical twins score cosine 1, and idf weighting " +
      "outranks boilerplate agreement") {
    // planted: 1-2 identical rare pair; 3-4 share only the boilerplate
    // token every doc carries; 5 unrelated
    val docs = Seq(
      (1L, Seq("the", "quasar", "flux", "anomaly")),
      (2L, Seq("the", "quasar", "flux", "anomaly")),
      (3L, Seq("the", "alpha", "beta")),
      (4L, Seq("the", "gamma", "delta")),
      (5L, Seq("the", "omega", "sigma", "tau", "rho"))
    ).toDF("doc_id", "tk")
    val got = SimilarityOps.cosineAllPairs(docs, "doc_id", "tk", 1, 2)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getDouble(3)))).toMap
    assert(got.keySet == Set((1L, 2L)))
    assert(got((1L, 2L))._2 == 1.0)
    // naive replay on the real corpus at Sf with the operator's exact
    // integer weighting — candidate generation must lose NOTHING
    val corpus = Tables.documents(spark, Sf)
      .filter(col("text").isNotNull)
      .selectExpr("doc_id",
        "split(lower(trim(text)), '\\\\s+') AS tk")
    val gotSf = SimilarityOps.cosineAllPairs(corpus, "doc_id", "tk", 1, 2)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val toks = corpus.selectExpr("doc_id", "explode(tk) AS tok")
      .filter(col("tok") =!= "").distinct().collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val byDoc = toks.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val n = byDoc.size.toLong
    val dfreq = toks.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    def w(t: String): Long =
      math.min((2 * n + dfreq(t)) / (2 * dfreq(t)), 1000000L)
    val norms = byDoc.view.mapValues(ts =>
      ts.toSeq.map(t => BigInt(w(t)) * w(t)).sum).toMap
    val ids = byDoc.keys.toSeq.sorted
    val expect = (for {
      i <- ids.indices; j <- i + 1 until ids.length
      a = ids(i); b = ids(j)
      shared = byDoc(a) & byDoc(b) if shared.nonEmpty
      dot = shared.toSeq.map(t => BigInt(w(t)) * w(t)).sum
      if dot * dot * 4 >= norms(a) * norms(b)
    } yield (a, b) -> dot.toLong).toMap
    assert(gotSf == expect && expect.nonEmpty)
    // q170 wiring (3-shingle features): every reported pair clears the
    // threshold and ordering is canonical
    val q = SimilarityOps.q170CosineAllPairs(spark, Sf).collect()
    assert(q.nonEmpty)
    q.foreach { r =>
      assert(r.getLong(0) < r.getLong(1) && r.getDouble(3) >= 0.5)
    }
  }

  test("q186 mutual NN equals a local all-pairs reciprocal-top-1 " +
      "replay; every pair is canonical and symmetric") {
    val got = SimilarityOps.q186MutualNn(spark, Sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val vecs = Tables.embeddings(spark, Sf).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i)
        nb += b(i).toDouble * b(i); i += 1
      }
      BigDecimal(dot / (math.sqrt(na) * math.sqrt(nb)))
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val top1 = vecs.map { case (q, qv) =>
      q -> vecs.view.filterKeys(_ != q)
        .map { case (n, nv) => (n, cos(qv, nv)) }
        .minBy { case (n, c) => (-c, n) }
    }
    val expect = top1.flatMap { case (q, (n, c)) =>
      if (q < n && top1(n)._1 == q) Some((q, n) -> c) else None
    }.toMap
    assert(got == expect && got.nonEmpty)
    got.keys.foreach { case (a, b) => assert(a < b) }
  }

  test("q187 knn purity equals a local top-5 label-agreement replay; " +
      "ppm arithmetic exact") {
    val got = SimilarityOps.q187KnnPurity(spark, Sf).collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getLong(2),
        r.getLong(3)))).toMap
    val rows = Tables.embeddings(spark, Sf)
      .select("vec_id", "label", "embedding").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getSeq[Float](2).toArray))
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i)
        nb += b(i).toDouble * b(i); i += 1
      }
      BigDecimal(dot / (math.sqrt(na) * math.sqrt(nb)))
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val expect = rows.map { case (q, ql, qv) =>
      val top5 = rows.filter(_._1 != q)
        .map { case (n, nl, nv) => (n, nl, cos(qv, nv)) }
        .sortBy { case (n, _, c) => (-c, n) }.take(5)
      val same = top5.count(_._2 == ql).toLong
      q -> ((ql, same, (2000000L * same + 5) / 10))
    }.toMap
    assert(got == expect && got.nonEmpty)
    assert(got.size == rows.length)
  }

  test("q194 exact k-means equals a local 3-round Lloyd replay on the " +
      "e6 lattice; every point sits in its argmin cluster") {
    val got = SimilarityOps.q194Kmeans(spark, Sf).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val pts = Tables.embeddings(spark, Sf)
      .select(col("vec_id"), col("embedding"))
      .collect().map { r =>
        r.getLong(0) -> r.getSeq[Float](1)
          .map(x => math.floor(x.toDouble * 1000000).toLong).toArray
      }.sortBy(_._1)
    def d2(p: Array[Long], c: Array[Long]): Long =
      p.zip(c).map { case (a, b) => (a - b) * (a - b) }.sum
    def halfUp(sd: Long, nd: Long): Long =
      if (sd >= 0) (2 * sd + nd) / (2 * nd)
      else -((2 * -sd + nd) / (2 * nd))
    var cents: Seq[(Long, Array[Long])] =
      pts.take(8).zipWithIndex.map { case ((_, e), i) => (i.toLong, e) }
    def assign(): Map[Long, (Long, Long)] = pts.map { case (id, e) =>
      id -> cents.map { case (cid, c) => (d2(e, c), cid) }.min.swap
    }.toMap
    for (_ <- 1 until 3) {
      val byId = pts.toMap
      val byC = assign().toSeq.groupBy(_._2._1)
      cents = byC.toSeq.sortBy(_._1).map { case (cid, members) =>
        val es = members.map(m => byId(m._1))
        val dim = es.head.length
        (cid, Array.tabulate(dim)(i =>
          halfUp(es.map(_(i)).sum, es.length.toLong)))
      }
    }
    val expect = assign()
    assert(got == expect && got.size == pts.length)
    assert(got.values.map(_._1).toSet.size > 1) // non-degenerate split
  }

  test("q198 medoid equals a local brute-force all-pairs replay on " +
      "the e6 lattice; argmin ties to the smallest vec_id") {
    val got = SimilarityOps.q198Medoid(spark, Sf).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3)))).toMap
    val pts = Tables.embeddings(spark, Sf)
      .select(col("vec_id"), col("label"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getInt(1).toLong, r.getSeq[Float](2)
        .map(x => math.floor(x.toDouble * 1000000).toLong).toArray))
    val expect = pts.groupBy(_._2).map { case (label, members) =>
      val scored = members.map { case (id, _, e) =>
        val s = members.map { case (_, _, o) =>
          e.zip(o).map { case (a, b) =>
            BigInt(a - b) * BigInt(a - b) }.sum
        }.sum
        (id, s)
      }
      val (mid, ms) = scored.minBy { case (id, s) => (s, id) }
      val n = BigInt(members.length)
      label -> ((mid, members.length.toLong,
        ((2 * ms + n) / (2 * n)).toLong))
    }
    assert(got == expect && got.nonEmpty)
  }

  test("q217 k-center picks equal a local greedy farthest-point " +
      "replay; the radius curve is non-increasing and picks distinct") {
    val got = SimilarityOps.q217KcenterCoreset(spark, Sf).collect()
      .map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)))).toSeq
      .sortBy(_._1)
    val pts = Tables.embeddings(spark, Sf)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1)
        .map(x => math.floor(x.toDouble * 1000000).toLong).toArray))
      .sortBy(_._1)
    def d2(a: Array[Long], b: Array[Long]): Long =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    var sel = Vector((pts.head._1, pts.head._2, Option.empty[Long]))
    while (sel.size < 8) {
      val (id, e, md) = pts.map { case (id, e) =>
        (id, e, sel.map(c => d2(e, c._2)).min)
      }.maxBy { case (id, _, md) => (md, -id) }
      sel = sel :+ ((id, e, Some(md)))
    }
    val expect = sel.zipWithIndex.map { case ((id, _, r), i) =>
      ((i + 1).toLong, id, r) }
    assert(got == expect && got.size == 8)
    // coverage-radius curve: non-increasing, all picks distinct
    val radii = got.flatMap(_._3)
    assert(radii.zip(radii.tail).forall { case (a, b) => a >= b })
    assert(got.map(_._2).distinct.size == 8)
    assert(radii.forall(_ > 0))
  }

  test("q225 outlier screen equals a local rounded-centroid replay; " +
      "outliers sit above their label mean") {
    val got = SimilarityOps.q225OutlierScreen(spark, Sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    val pts = Tables.embeddings(spark, Sf)
      .select(col("vec_id"), col("label"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getInt(1).toLong, r.getSeq[Float](2)
        .map(x => math.floor(x.toDouble * 1000000).toLong).toArray))
    def rhu(num: Long, den: Long): Long =
      if (num >= 0) (2 * num + den) / (2 * den)
      else -((2 * -num + den) / (2 * den))
    val expect = pts.groupBy(_._2).flatMap { case (label, members) =>
      val dim = members.head._3.length
      val cent = Array.tabulate(dim) { i =>
        rhu(members.map(_._3(i)).sum, members.length.toLong) }
      val dds = members.map { case (id, _, e) =>
        (id, e.zip(cent).map { case (a, c) => (a - c) * (a - c) }.sum) }
      val sd2 = dds.map(t => BigInt(t._2)).sum
      val n = BigInt(members.length)
      dds.sortBy(t => (-t._2, t._1)).take(3).toSeq.map { case (id, d2) =>
        (label, id, d2,
          ((2 * 1000000 * n * BigInt(d2) + sd2) / (2 * sd2)).toLong) }
    }.toSet
    assert(got == expect && got.nonEmpty)
    // an extreme point is at least its label's mean distance (ratio
    // >= 1e6) — true for every reported max (rank-1 rows exist)
    assert(got.exists(_._4 >= 1000000L))
  }

  test("q262 JL projection: exact md5-sign replay, and pairwise " +
      "squared distances survive the 16-dim projection (JL gate)") {
    val got = SimilarityOps.q262JlProjection(spark, Sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val vecs = Tables.embeddings(spark, Sf)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) ->
        r.getSeq[Float](1).map(x => math.floor(x.toDouble * 1e6).toLong))
    def md5hex(s2: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s2.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val dIn = vecs.head._2.size
    val sgn = (for (j <- 0 until 16; i <- 1 to dIn) yield
      (j.toLong, i.toLong) ->
        (if (md5hex(s"${j}_$i").head < '8') 1L else -1L)).toMap
    val exp = vecs.flatMap { case (id, e6) =>
      (0 until 16).map { j =>
        (id, j.toLong) ->
          e6.zipWithIndex.map { case (x, i0) =>
            sgn((j.toLong, i0 + 1L)) * x }.sum
      }
    }.toMap
    assert(got.size == exp.size && got.nonEmpty)
    exp.foreach { case (k, v) => assert(got(k) == v, s"cell $k") }
    // JL distance gate: for sampled pairs the projected squared
    // distance / 16 tracks the original within a loose [0.3, 3] band
    val proj = got.toSeq.groupBy(_._1._1).view
      .mapValues(_.sortBy(_._1._2).map(_._2)).toMap
    val sample = vecs.take(12)
    val ratios = for {
      (ia, va) <- sample; (ib, vb) <- sample if ia < ib
      d2 = va.zip(vb).map { case (x, y) =>
        BigInt(x - y) * BigInt(x - y) }.sum if d2 > 0
    } yield {
      val pa = proj(ia); val pb = proj(ib)
      val pd2 = pa.zip(pb).map { case (x, y) =>
        BigInt(x - y) * BigInt(x - y) }.sum
      (BigDecimal(pd2) / BigDecimal(16) / BigDecimal(d2)).toDouble
    }
    val med = ratios.sorted.apply(ratios.size / 2)
    assert(med > 0.3 && med < 3.0, s"median JL ratio $med")
  }

  test("q266 rank-1 ALS: equals a local BigInt alternation replay; " +
      "factors positive and rank ordered by factor") {
    val got = SimilarityOps.q266AlsRank1(spark, Sf).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3)))).toMap
    val cells = Tables.orders(spark, Sf)
      .join(Tables.lineitem(spark, Sf),
        col("o_orderkey") === col("l_orderkey"))
      .join(Tables.part(spark, Sf),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("o_custkey"), col("p_brand"))
      .agg(expr("""CAST((2 * sum(CAST(CAST(l_extendedprice
                     AS DECIMAL(18,4)) * 10000 AS BIGINT)) + 100)
                   DIV (2 * 100) AS BIGINT)""").as("r"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    def rhu(a: BigInt, b: BigInt): BigInt = (2 * a + b) / (2 * b)
    val clamp = BigInt(1000000000000000L)
    val e12 = BigInt(1000000000000L)
    var v = cells.map(_._2).distinct.map(_ -> BigInt(1000000L)).toMap
    for (_ <- 1 to 8) {
      val u = cells.groupBy(_._1).map { case (c, xs) =>
        val num = xs.map(x => BigInt(x._3) * v(x._2)).sum
        val den = xs.map(x => v(x._2) * v(x._2)).sum
        c -> rhu(e12 * num, den).min(clamp)
      }
      v = cells.groupBy(_._2).map { case (b, xs) =>
        val num = xs.map(x => BigInt(x._3) * u(x._1)).sum
        val den = xs.map(x => u(x._1) * u(x._1)).sum
        b -> rhu(e12 * num, den).min(clamp)
      }
    }
    val nr = cells.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    val exp = v.toSeq.sortBy { case (b, f) => (-f, b) }.zipWithIndex
      .map { case ((b, f), i) => b -> ((nr(b), f.toLong, i + 1L)) }.toMap
    assert(got.size == exp.size && got.nonEmpty)
    exp.foreach { case (k, x) => assert(got(k) == x, s"brand $k") }
    assert(got.values.forall(_._2 > 0))
    // r15 gate differential: the driver-join fast path (default, what
    // `got` ran) ≡ the relational cells + collected driver alternation
    // (lineitem past the basket gate, cells under theirs) ≡ the
    // relational cells + relational half-round scale path
    def byBrand(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3)))).toMap
    val collected = byBrand(SimilarityOps.alsRank1Collected(spark,
      SimilarityOps.alsCells(spark, Sf)))
    assert(collected == got, "collected-cells path diverged")
    val rel = Gates.withMode(spark, Gates.Relational)(
      byBrand(SimilarityOps.q266AlsRank1(spark, Sf)))
    assert(rel == got, "relational cells + half-round path diverged")
  }

  test("q266 relational half-rounds stay exact where DECIMAL(38,0) " +
      "overflows: synthetic cells whose rescaled r·u sums pass 1e38") {
    import spark.implicits._
    // 600 customers, each rating two of three brands with $5M-$9M
    val cells = (1L to 600L).flatMap { c =>
      Seq(c % 3, (c + 1) % 3).map(b =>
        (c, s"b$b", 500000000L + (c * 7919L * (b + 1)) % 400000000L))
    }
    // the first v half-round's numerator 2·1e12·Σ r·u per brand, with
    // u from the initial v = 1e6: past DECIMAL(38,0)'s 1e38 - 1
    val e12 = BigInt(1000000000000L)
    val u = cells.groupBy(_._1).map { case (c, xs) =>
      val den = BigInt(xs.size) * BigInt(1000000L).pow(2)
      c -> (2 * e12 * xs.map(x => BigInt(x._3) * 1000000L).sum + den) /
        (2 * den)
    }
    val num = cells.groupBy(_._2).values
      .map(xs => 2 * e12 * xs.map(x => BigInt(x._3) * u(x._1)).sum).max
    assert(num > BigInt(10).pow(38), s"numerator $num")
    def byBrand(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3)))).toMap
    val df = cells.toDF("cust", "brand", "r")
    val inMemory = byBrand(SimilarityOps.alsRank1Collected(spark, df))
    val rel = Gates.withMode(spark, Gates.Relational)(
      byBrand(SimilarityOps.alsRank1(spark, df)))
    assert(inMemory.size == 3)
    assert(rel == inMemory, "relational half-rounds diverged")
  }

  test("q275 single linkage: equals a local profile+Kruskal replay; " +
      "dendrogram heights are non-decreasing and end in one cluster") {
    val got = SimilarityOps.q275SingleLinkage(spark, Sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getString(3), r.getLong(4)))
    val cells = Tables.lineitem(spark, Sf)
      .join(Tables.orders(spark, Sf),
        col("l_orderkey") === col("o_orderkey"))
      .join(Tables.part(spark, Sf),
        col("l_partkey") === col("p_partkey"))
      .select(col("p_brand"), col("o_orderpriority"),
        expr("""CAST(CAST(l_extendedprice AS DECIMAL(18,4)) * 10000
                AS BIGINT)"""))
      .collect()
      .map(r => ((r.getString(0), r.getString(1)), BigInt(r.getLong(2))))
      .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
    val brands = cells.keys.map(_._1).toSeq.distinct.sorted
    val prios = cells.keys.map(_._2).toSeq.distinct.sorted
    val tot = brands.map(b =>
      b -> prios.map(p => cells.getOrElse((b, p), BigInt(0))).sum).toMap
    val ppm = (for (b <- brands; p <- prios) yield (b, p) ->
      ((2000000 * cells.getOrElse((b, p), BigInt(0)) + tot(b)) /
        (2 * tot(b))).toLong).toMap
    val edges = for (a <- brands; b <- brands if a < b) yield {
      val d2 = prios.map { p =>
        val dd = ppm((a, p)) - ppm((b, p)); dd * dd }.sum
      (a, b, d2)
    }
    val exp = SimilarityOps.singleLinkageMerges(edges)
    assert(got.toSeq.sortBy(_._1) == exp.sortBy(_._1))
    assert(got.length == brands.length - 1)
    val hs = got.sortBy(_._1).map(_._2)
    assert(hs.zip(hs.tail).forall { case (a, b) => a <= b })
    assert(got.maxBy(_._1)._5 == brands.length.toLong)
  }
}
