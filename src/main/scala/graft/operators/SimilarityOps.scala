package graft.operators

import graft.{Gates, Tables}
import graft.functions.VectorExpressions
import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders,
  SparkSession}
import org.apache.spark.sql.expressions.{Aggregator, Window}
import org.apache.spark.sql.functions._

/** Similarity search over the `embeddings` table (vec_id, embedding
  * array<float>[64], label).
  *
  * Brute-force top-k is the correctness baseline (oracle-checked against
  * DuckDB); the LSH-bucketed variant is the 100-TB path: candidates are
  * generated by shuffling on (table, signature) bucket keys — never an
  * all-pairs cross join of the corpus.
  */
object SimilarityOps {

  private val K = 5
  /** Query set: a small fixed id range, broadcast against the corpus. */
  private def queriesOf(emb: DataFrame): DataFrame =
    emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))

  /** 32. Brute-force cosine top-k: broadcast the (small) query set against
    * the full corpus, score with the native codegen'd cosine expression,
    * keep top-k per query. At scale this is the canonical scatter-gather:
    * corpus stays partitioned, queries ride the broadcast.
    */
  def q32KnnBruteforce(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val cand = emb.select(col("vec_id").as("nid"), col("embedding").as("ne"))
    val scored = cand.join(broadcast(queriesOf(emb)), col("nid") =!= col("qid"))
      .withColumn("cos_sim",
        round(VectorExpressions.cosine(col("qe"), col("ne")), 4))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("cos_sim").desc, col("nid"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= K)
      .select("qid", "nid", "cos_sim", "rank")
  }

  /** Deterministic md5-derived Rademacher (±1) hyperplanes for
    * sign-LSH (r13): sign(t, i, k) = +1 iff the first hex char of
    * md5("t:i:k") < '8' — engine-identical and seed-free, so the
    * DuckDB oracle regenerates the exact planes from
    * range-unnest + md5 (the Md5MinHash rule applied to geometry).
    */
  private def planes(tables: Int, planesPerTable: Int, dim: Int)
      : Seq[Seq[Seq[Int]]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    Seq.tabulate(tables)(t => Seq.tabulate(planesPerTable)(i =>
      Seq.tabulate(dim) { k =>
        val h = md.digest(s"$t:$i:$k".getBytes("UTF-8"))
        if (((h(0) >> 4) & 0xF) < 8) 1 else -1
      }))
  }

  /** 33. LSH-bucketed ANN: `tables` independent hash tables of
    * `planesPerTable` sign bits each. A vector lands in one bucket per
    * table; candidates are bucket-mates in ANY table. The only shuffle is
    * keyed by (table, signature) — bucket sizes are corpus/2^bits on
    * average, so candidate generation is linear, not quadratic.
    *
    * FULL oracle since r13: signatures are sign bits of EXACT INTEGER
    * dot products — embeddings quantize to the floor-e6 lattice (the
    * IntKMeans rule) and the md5-derived ±1 planes make each bit
    * Σ ±q_k ≥ 0, order-free integer arithmetic DuckDB replays from
    * first principles (planes from md5, bits from the same integer
    * rule, re-rank the q32 ROUND-4 cosine recipe).
    *
    * Bits per table auto-size from the parquet footer row count
    * (the q36 pattern): a FIXED bit width means bucket population —
    * and therefore candidate pairs — grows linearly with the corpus,
    * which is quadratic pair growth at 100×. Recall is held by the 8
    * independent tables, not by narrow buckets.
    */
  def q33AnnLsh(s: SparkSession, d: String): DataFrame = {
    val n = graft.sources.TableStatistics.tableRowCount(s, d, "embeddings")
    annLsh(s, d, tables = 8, planesPerTable = lshBits(n))
  }

  /** Sign-LSH bits for corpus size `n`: keyspace 2^bits ≥ n/32 (average
    * bucket ≈ 32 rows), floor 4 bits, capped at 24 (16M buckets — past
    * that, bucket population is already sub-linear in any real corpus).
    * Pure integer rule (smallest b with 2^b·32 ≥ n) so the oracle
    * derives the identical width from count(*) without touching a
    * float log.
    */
  def lshBits(n: Long): Int = {
    var b = 4
    while (b < 24 && (1L << b) * 32 < n) b += 1
    b
  }

  /** Bits-per-table trades recall for bucket size: bucket population is
    * n/2^bits, so at larger corpus sizes raise `planesPerTable`
    * (log2(n/targetBucket)) and keep `tables` for recall.
    */
  def annLsh(s: SparkSession, d: String, tables: Int, planesPerTable: Int)
      : DataFrame = {
    val emb = Tables.embeddings(s, d)
    val ps = planes(tables, planesPerTable, dim = 64)

    def sigCol(t: Int): Column =
      ps(t).zipWithIndex.map { case (p, i) =>
        when(VectorExpressions.idot(col("_e6"), typedlit(p)) >= 0,
          lit(1L << i)).otherwise(lit(0L))
      }.reduce(_ + _)

    // all `tables` signatures in ONE corpus scan (posexplode of the sig
    // array), ids only — a union of per-table scans reads the corpus
    // `tables` times, and carrying vectors into the buckets multiplies
    // the shuffle by the embedding width
    val bucketed = emb
      .withColumn("_e6", transform(col("embedding"),
        x => floor(x.cast("double") * 1000000).cast("int")))
      .select(col("vec_id"),
        posexplode(array(ps.indices.map(sigCol): _*)).as(Seq("tid", "sig")))

    val q = bucketed.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("tid"), col("sig"))
    val c = bucketed.select(col("vec_id").as("nid"), col("tid"), col("sig"))

    val candidates = q.join(c, Seq("tid", "sig"))
      .filter(col("qid") =!= col("nid"))
      .select("qid", "nid")
      .dropDuplicates("qid", "nid")

    // re-attach vectors by id after the dedup: corpus side is a shuffle
    // join, the ≤10-row query side broadcasts
    val scored = candidates
      .join(emb.select(col("vec_id").as("nid"), col("embedding").as("ne")),
        "nid")
      .join(broadcast(queriesOf(emb)), "qid")
      .withColumn("cos_sim",
        round(VectorExpressions.cosine(col("qe"), col("ne")), 4))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("cos_sim").desc, col("nid"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= K)
      .select("qid", "nid", "cos_sim", "rank")
  }

  /** Embedding corpus with planted near-duplicates: every vector plus a
    * copy (vec_id + 1,000,000) shifted by +0.02 in every (double-cast)
    * dimension. Natural pairs max out at cosine ≈ 0.51 on this corpus, so
    * planted pairs (cos ≥ ~0.99) are the only ones above a 0.9 threshold
    * — a known ground truth that an exact SQL oracle can reproduce.
    */
  def corpusWithPlantedNearDups(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("embedding"))
    val shifted = emb.select((col("vec_id") + 1000000L).as("vec_id"),
      transform(col("embedding"), x => x + lit(0.02d)).as("embedding"))
    emb.unionByName(shifted)
  }

  /** 36. Embedding-cosine near-dup pairs at 100-TB shape: candidates come
    * from sign-LSH buckets (8 tables × 4 bits — same machinery as ANN),
    * then the exact cosine filter keeps pairs ≥ 0.9. Never all-pairs: the
    * only shuffle is keyed by (table, signature). At cos ≥ 0.9 the bucket
    * recall is ≈ 1 (P[sign bit agrees] ≈ 0.93 ⇒ miss ≈ (1-0.93⁴)⁸ < 1e-8),
    * which is why the exact brute-force oracle still hash-matches.
    */
  def q36EmbedNearDup(s: SparkSession, d: String): DataFrame = {
    // Corpus size from parquet footer metadata (what a catalog stores) —
    // an eager corpus.count() here would be a full-scan job at every
    // plan build, per query, at 100 TB.
    val n = 2 * graft.sources.TableStatistics.tableRowCount(s, d, "embeddings")
    embedNearDup(s, corpusWithPlantedNearDups(s, d), n)
  }

  /** @param nRows corpus row count (from catalog/footer stats — sizes the
    *   LSH buckets without scanning).
    */
  def embedNearDup(s: SparkSession, corpus: DataFrame, nRows: Long)
      : DataFrame = {
    // Bucket width scales with corpus size (bucket ≈ 64 rows) so the
    // within-bucket pairing stays linear-ish as the data grows; at
    // cos ≥ 0.9 the per-bit agreement ≈ 0.95 keeps recall ≈ 1 across
    // 8 tables even at 8+ bits.
    val bits = math.max(4,
      (math.log(nRows.toDouble / 32) / math.log(2)).ceil.toInt)
    val ps = planes(tables = 8, planesPerTable = bits, dim = 64)

    def sigCol(t: Int): Column =
      ps(t).zipWithIndex.map { case (p, i) =>
        when(VectorExpressions.dot(col("embedding"),
          typedlit(p.map(_.toDouble).toSeq)) >= 0,
          lit(1L << i)).otherwise(lit(0L))
      }.reduce(_ + _)

    // Candidate generation carries IDS ONLY through the bucket join and
    // dedup — shipping the vectors with every candidate pair multiplies
    // shuffle volume by the embedding width. Vectors re-attach by id
    // afterwards. All 8 table signatures come from ONE corpus scan
    // (posexplode), not 8 unioned scans. r14: that one scan computes
    // 8·bits plane dots per row and parquet gives it ≤4 tasks at gate
    // scale — spread it across the session's parallelism first (same
    // values, the q187 idle-capacity fix; measured 3.7 → 2.5 s). The
    // spread is SIZE-GATED: past 1M rows a round-robin of the vector
    // corpus is a real shuffle the bucket join doesn't need.
    val spread =
      if (nRows <= graft.Gates.SpreadAnnRows)
        corpus.repartition(s.sparkContext.defaultParallelism)
      else corpus
    val bucketed = spread
      .select(col("vec_id"),
        posexplode(array(ps.indices.map(sigCol): _*)).as(Seq("tid", "sig")))

    val a = bucketed.select(col("vec_id").as("vec_a"), col("tid"), col("sig"))
    val b = bucketed.select(col("vec_id").as("vec_b"), col("tid"), col("sig"))
    val pairs = a.join(b, Seq("tid", "sig"))
      .filter(col("vec_a") < col("vec_b"))
      .select("vec_a", "vec_b")
      .dropDuplicates("vec_a", "vec_b")

    // Re-attach vectors with plain joins by id: candidate pairs are a
    // tiny fraction of the corpus, so these are shuffle joins keyed by
    // id (Catalyst/AQE still broadcasts when a side is genuinely small
    // — the decision is size-gated, never hard-coded: a forced
    // broadcast of the corpus is a guaranteed driver OOM at 100 TB).
    val ea = corpus.select(col("vec_id").as("vec_a"),
      col("embedding").as("ea"))
    val eb = corpus.select(col("vec_id").as("vec_b"),
      col("embedding").as("eb"))
    pairs.join(ea, "vec_a").join(eb, "vec_b")
      .withColumn("cos_sim",
        round(VectorExpressions.cosine(col("ea"), col("eb")), 4))
      .filter(col("cos_sim") >= 0.9)
      .select("vec_a", "vec_b", "cos_sim")
  }

  /** 49. Cross-modal join: text metadata ⋈ vector features by id — the
    * everyday multimodal-pipeline query (each modality lives in its own
    * table; analysis joins them).
    */
  def q49DocEmbedding(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select("doc_id", "lang", "n_chars")
    val vecs = Tables.embeddings(s, d).select(col("vec_id"), col("label"),
      round(VectorExpressions.norm(col("embedding")), 4).as("l2_norm"))
    docs.join(vecs, docs("doc_id") === vecs("vec_id"))
      .select("doc_id", "lang", "n_chars", "label", "l2_norm")
  }

  /** Per-vector bounds for the affine quantizer: (vec_id, emb double
    * array, lo, hi). Constant vectors (hi == lo) are undefined input —
    * the affine map divides by the range (0/0 → NaN → ANSI int cast
    * throws); the embeddings tables never contain one.
    */
  private def withBounds(emb: DataFrame): DataFrame = emb
    .select(col("vec_id"),
      transform(col("embedding"), x => x.cast("double")).as("emb"))
    .withColumn("lo", array_min(col("emb")))
    .withColumn("hi", array_max(col("emb")))

  /** THE int8 affine code map (shared by q53 and the q87 index so the
    * two can never drift): per-vector min/max map to [-127, 127],
    * rounding via floor(x + 0.5) — bitwise identical across engines,
    * unlike ROUND on floats. Expects [[withBounds]] columns.
    */
  private def int8Codes: Column = transform(col("emb"), x =>
    floor((x - col("lo")) * 254d / (col("hi") - col("lo")) + 0.5d)
      .cast("int").minus(127))

  /** 53. Scalar int8 quantization of embeddings (the compression step
    * before a disk-resident ANN index at 100 TB), exploded to
    * (vec_id, pos, code) rows.
    */
  def q53Quantize(s: SparkSession, d: String): DataFrame =
    withBounds(Tables.embeddings(s, d))
      .select(col("vec_id"), posexplode(int8Codes).as(Seq("pos", "code")))

  /** The q53 int8 codes kept as one `array<int>` row per vector (the
    * disk-resident index layout) plus the code sum — the per-vector
    * constant that lets the stage-1 scorer cancel the affine shift.
    */
  def quantizedCodes(s: SparkSession, d: String): DataFrame =
    withBounds(Tables.embeddings(s, d))
      .select(col("vec_id"), int8Codes.as("codes"))
      .withColumn("csum",
        aggregate(col("codes"), lit(0L), (acc, x) => acc + x))

  /** 102. Two-stage quantized ANN — the consumer of q53's int8 codes
    * (the standard disk-resident search: score compressed codes to
    * shortlist, re-rank the shortlist exactly). Stage 1 scores every
    * candidate against each query with a CENTERED integer dot,
    * 64·Σqᵢnᵢ − (Σqᵢ)(Σnᵢ) — mean-centering cancels q53's per-vector
    * affine shift exactly, in pure LONG arithmetic (measured recall@5
    * of the 20-shortlist: 1.0 vs 0.74 for the raw code dot), and
    * integer scores make the shortlist cut engine-exact, so the whole
    * pipeline is SQL-oracle-checkable, no float accumulation order to
    * pin. The heap TopKPerKey keeps the 20-row shortlist per query;
    * only those rows ever touch float vectors again (stage 2: exact
    * rounded cosine, q32's ranking contract).
    *
    * Scale: stage 1 reads the int8 code index — a quarter of the float
    * bytes — and ships (qid, nid, score) rows only; the ≤ 20·|Q|
    * shortlist re-attaches embeddings by id. The corpus is never
    * shuffled; queries ride a broadcast, exactly like q32 but over the
    * compressed artifact.
    */
  def q87QuantizedAnn(s: SparkSession, d: String): DataFrame =
    quantizedAnn(s, d, quantizedCodes(s, d))

  /** [[q87QuantizedAnn]] against a PRECOMPUTED code index — the
    * persisted form: a production pipeline writes [[quantizedCodes]]
    * to parquet once and every search reads the compact index instead
    * of re-quantizing the float corpus (schema: vec_id, codes
    * array<int>, csum long — round-trip-pinned in SimilaritySpec).
    */
  def quantizedAnn(s: SparkSession, d: String, codes: DataFrame)
      : DataFrame = {
    val M = 20 // stage-1 shortlist per query, re-ranked exactly
    val qc = codes.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("codes").as("qcodes"),
        col("csum").as("qsum"))
    val coarse = codes
      .select(col("vec_id").as("nid"), col("codes").as("ncodes"),
        col("csum").as("nsum"))
      .join(broadcast(qc), col("nid") =!= col("qid"))
      // n·Σqn − Σq·Σn with n read from the code array itself, so a
      // persisted index of any dimension keeps the shift cancellation
      .select(col("qid"), col("nid"),
        (size(col("qcodes")).cast("long")
          * VectorExpressions.idot(col("qcodes"), col("ncodes"))
          - col("qsum") * col("nsum")).as("score"))
    val shortlist = graft.plans.TopK.perKey(coarse, Seq("qid"),
      Seq(("score", true), ("nid", false)), M)
    val emb = Tables.embeddings(s, d)
    val rescored = shortlist
      .join(emb.select(col("vec_id").as("nid"), col("embedding").as("ne")),
        "nid")
      .join(broadcast(queriesOf(emb)), "qid")
      .withColumn("cos_sim",
        round(VectorExpressions.cosine(col("qe"), col("ne")), 4))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("cos_sim").desc, col("nid"))
    rescored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= K)
      .select("qid", "nid", "cos_sim", "rank")
  }

  /** 34. Embedding vector ops as native expressions: L2 norm and
    * dot-with-reversed-self (both codegen'd, double accumulation).
    */
  def q34VectorOps(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d).select(
      col("vec_id"),
      round(VectorExpressions.norm(col("embedding")), 4).as("l2_norm"),
      round(VectorExpressions.dot(col("embedding"),
        reverse(col("embedding"))), 4).as("dot_rev"))

  /** 89. Semantic dedup (SemDeDup-style): cluster the embedding space
    * with a coarse quantizer and keep ONE representative per cluster —
    * the vector closest to its centroid (rounded cosine, vec_id
    * tie-break). Collapses semantic duplicates that survive lexical
    * dedup (paraphrases, re-crawls, translations of the same page).
    *
    * ENGINE-EXACT since r12: the quantizer is [[IntKMeans]] (md5-
    * capped sample, driver-side integer Lloyd, 32 cells × 2 rounds —
    * dedup only needs a stable space partition, the IvfAnn "random
    * init" rationale), assignment is a broadcast-literal exact-long
    * argmin, and the representative score is the ROUND-4 cosine of the
    * float vector against its own INTEGER centroid — every stage
    * DuckDB-replayable, flipping q75 from rows-only to full-oracle.
    *
    * Scale shape: the centroid set is kilobytes of codegen literals
    * (no join at all); every vector is scored against only its OWN
    * centroid (one codegen'd cosine per row, no candidate join); the
    * representative choice is the TopKPerKey heap operator, so the
    * shuffle carries ≤ 1 row per (partition, cell) — at 10⁹ docs that
    * is #partitions × #cells rows, not the corpus.
    */
  def q75SemDedup(s: SparkSession, d: String): DataFrame = {
    val base = Tables.embeddings(s, d).select(col("vec_id"),
      col("embedding"), IntKMeans.e6(col("embedding")).as("_e6"))
    val cents = IntKMeans.trainOnSample(base, "vec_id", "_e6",
      k = 32, rounds = 2, cap = 4096)
    val centMap = map_from_arrays(
      typedlit(cents.map(_._1).toSeq),
      array(cents.map(kc => typedlit(kc._2.map(_.toDouble).toSeq)): _*))
    val scored = IntKMeans.assignCell(base, "_e6", cents, "cell")
      .withColumn("cos_r",
        round(VectorExpressions.cosine(col("embedding"),
          element_at(centMap, col("cell"))), 4))
      .select(col("vec_id"), col("cell"), col("cos_r"))
    graft.plans.TopK.perKey(scored, keys = Seq("cell"),
      order = Seq(("cos_r", true), ("vec_id", false)), k = 1)
  }

  /** 141. Item-item co-purchase similarity (the classic "customers who
    * bought X also bought Y" — Linden, Smith & York 2003, Amazon
    * item-to-item CF): each part's top-5 neighbors by cosine over
    * order-basket co-occurrence, cos(i,j) = c_ij / √(n_i·n_j) — the
    * recommendation twin of the reference's win-rate-WITH-card views
    * (sql/db_creation_script.sql:185-242 score card pairs by shared
    * battles; this scores part pairs by shared orders).
    *
    * Scale shapes: the pair build is quadratic per ORDER BASKET
    * (bounded — TPC-H orders hold ≤7 parts; real baskets are small),
    * never per corpus; one (i,j) aggregate shuffle; n_i joins are
    * vocab-scale. Ranking never touches a float: cos is monotone with
    * cos² = c²/(n_i·n_j) for positive counts, so the sort key is the
    * round-half-up integer ppm of cos² (q21 rule) with a j tie-break —
    * engine-exact ordering, no √ and no q58 libm trap. Top-5 via the
    * TopKPerKey heap (≤5 rows per partition×item through the shuffle).
    */
  def q125ItemSim(s: SparkSession, d: String): DataFrame = {
    // NOTE (r15, measured): rebasing this on the coPurchaseRawPairs
    // groupBy+explode shape (one per-order array artifact feeding both
    // the pair counts and n_i) A/B-measured 1.75 → 3.34 s at sf0.1 —
    // unlike the graph consumers, q125 needs the distinct (ok,pk)
    // table ANYWAY for n_i, and the array checkpoint + double explode
    // cost more than the ok-keyed self-join they replace. Left as the
    // self-join deliberately.
    val li = Tables.lineitem(s, d)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      .distinct()
    val n = li.groupBy("pk").agg(count(lit(1)).as("n"))
    val pairs = li.as("a").join(li.as("b"),
        col("a.ok") === col("b.ok") && col("a.pk") =!= col("b.pk"))
      .groupBy(col("a.pk").as("i"), col("b.pk").as("j"))
      .agg(count(lit(1)).as("cij"))
    val scored = pairs
      .join(n.select(col("pk").as("i"), col("n").as("ni")), "i")
      .join(n.select(col("pk").as("j"), col("n").as("nj")), "j")
      .withColumn("score_ppm",
        expr("(2000000 * cij * cij + ni * nj) DIV (2 * ni * nj)"))
    graft.plans.TopK.perKey(scored, keys = Seq("i"),
        order = Seq(("score_ppm", true), ("j", false)), k = 5)
      .select("i", "j", "cij", "score_ppm")
  }

  /** Association-rule mining over item baskets (pair rules with the
    * Agrawal & Srikant 1994 Apriori prune): directional rules a→b
    * scored by support count, confidence P(b|a) and lift
    * P(ab)/(P(a)P(b)) — the market-basket complement of [[q125ItemSim]]
    * (cosine ranks SYMMETRIC affinity; confidence/lift are directional
    * and calibrated against independence).
    *
    * Scale shapes: items below `minCount` leave BEFORE the pair build
    * (downward closure: no frequent pair contains an infrequent item —
    * the Apriori prune), via a broadcast semi-join of the vocab-scale
    * frequent-item table; the pair self-join is quadratic per BASKET
    * (bounded, ≤ basket²), never per corpus; one (a,b) aggregate
    * shuffle; the top-20 cut is TakeOrdered's heap. Determinism: counts
    * are integers, confidence/lift are round-half-up integer ppt/ppm
    * (the q21 zero-guard-free ratio rule — denominators are ≥ minCount
    * by construction), ranked with (antecedent, consequent) tie-breaks.
    */
  def assocRules(baskets: DataFrame, minCount: Long, topK: Int): DataFrame = {
    // r15: four consumers (n1, nOrders, both self-join sides) each
    // re-ran the upstream scan+dim-join+distinct — materialize once
    val b = baskets.select(col("ok"), col("item")).distinct()
      .localCheckpoint(false)
    val n1 = b.groupBy("item").agg(count(lit(1)).as("cnt"))
    val frequent = n1.filter(col("cnt") >= minCount)
    val nOrders = b.agg(countDistinct(col("ok")).as("n"))
    val fb = b.join(broadcast(frequent.select("item")), Seq("item"),
      "left_semi")
    val pairs = fb.as("x").join(fb.as("y"),
        col("x.ok") === col("y.ok") && col("x.item") < col("y.item"))
      .groupBy(col("x.item").as("ia"), col("y.item").as("ib"))
      .agg(count(lit(1)).as("cab"))
      .filter(col("cab") >= minCount)
    val dir = pairs.select(col("ia").as("antecedent"),
        col("ib").as("consequent"), col("cab"))
      .unionAll(pairs.select(col("ib").as("antecedent"),
        col("ia").as("consequent"), col("cab")))
    val scored = dir
      .join(broadcast(frequent.select(col("item").as("antecedent"),
        col("cnt").as("ca"))), "antecedent")
      .join(broadcast(frequent.select(col("item").as("consequent"),
        col("cnt").as("cb"))), "consequent")
      .crossJoin(broadcast(nOrders))
      .withColumn("n_pair", col("cab"))
      .withColumn("conf_ppt", expr("(2000 * cab + ca) DIV (2 * ca)"))
      .withColumn("lift_ppm",
        expr("(2000000 * cab * n + ca * cb) DIV (2 * ca * cb)"))
    scored.orderBy(col("lift_ppm").desc, col("antecedent"),
        col("consequent"))
      .select("antecedent", "consequent", "n_pair", "conf_ppt", "lift_ppm")
      .limit(topK)
  }

  /** 148. q131: brand-level basket rules — which brands pull which
    * into the same order (the reference's views pair cards by shared
    * battles but never calibrate against independence,
    * sql/db_creation_script.sql:185-242). Brand baskets keep the item
    * vocabulary dense (25 brands) so supports are meaningful at every
    * SF; the part→brand map is a broadcast dim join.
    */
  def q131AssocRules(s: SparkSession, d: String): DataFrame = {
    val baskets = Tables.lineitem(s, d)
      .select(col("l_orderkey").as("ok"), col("l_partkey"))
      .join(broadcast(Tables.part(s, d)
        .select(col("p_partkey"), col("p_brand"))),
        col("l_partkey") === col("p_partkey"))
      .select(col("ok"), col("p_brand").as("item"))
    assocRules(baskets, minCount = 5L, topK = 20)
  }

  /** 167. q150: reciprocal-rank fusion hybrid retrieval (Cormack,
    * Clarke & Büttcher SIGIR 2009) — the modern search stack's
    * lexical ⊕ semantic combiner: each seed query document retrieves a
    * top-`perList` list from TWO independent rankers (token-set
    * Jaccard; embedding cosine via the doc_id = vec_id cross-modal
    * link, row 49), and the fused score is Σ 1/(rrfK + rank) over the
    * lists a document appears in. RRF needs no score calibration —
    * exactly why it's the default fusion everywhere — and here it is
    * made ENGINE-EXACT: each contribution is the truncating integer
    * `1000000 DIV (rrfK + rank)` (the q58 no-libm rule; ranks are
    * integers, so no float ever exists) summed over exact ranks
    * (Jaccard as round-half-up integer ppm with doc-id ties; cosine
    * ROUND(,4) with doc-id ties — the q32 rule).
    *
    * Scale shape: lexical candidates come from an inverted-index-style
    * broadcast join of the seed term lists against the corpus term
    * explode (docs sharing ≥1 token — never all-pairs); semantic
    * candidates broadcast the seed vectors down the embeddings scan
    * (the q32 shape). Both lists cut to `perList` by the TopKPerKey
    * heap BEFORE any ranking window, so the row_number that assigns
    * ranks runs on nQueries·perList rows, not the corpus.
    */
  /** The two ranked lists (lexical Jaccard, embedding cosine) per seed
    * query, full-outer joined on (qid, did) — the shared harness under
    * q150's RRF fusion and q234's RBO agreement (identical candidate
    * generation and rank assignment; extracted verbatim).
    */
  private[graft] def hybridRanks(s: SparkSession, d: String,
      nQueries: Int, perList: Int): DataFrame = {
    val docs = Tables.documents(s, d).filter(col("text").isNotNull)
      .select(col("doc_id"),
        array_distinct(split(lower(trim(col("text"))), "\\s+")).as("tk"))
    val emb = Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding"))
    val seeds = docs.join(emb, docs("doc_id") === emb("vec_id"))
      .select(col("doc_id").as("qid")).orderBy(col("qid")).limit(nQueries)
    def ranked(cand: DataFrame, scoreCol: String, rankName: String)
        : DataFrame = {
      val cut = graft.plans.TopK.perKey(cand, keys = Seq("qid"),
        order = Seq((scoreCol, true), ("did", false)), k = perList)
      cut.withColumn(rankName, row_number().over(Window
          .partitionBy(col("qid"))
          .orderBy(col(scoreCol).desc, col("did"))).cast("long"))
        .select("qid", "did", rankName)
    }
    // lexical list: Jaccard over distinct token sets
    val qtok = docs.join(broadcast(seeds), col("doc_id") === col("qid"))
      .select(col("qid"), explode(col("tk")).as("term"))
    val qsize = qtok.groupBy(col("qid")).agg(count(lit(1)).as("qn"))
    val dtok = docs.select(col("doc_id").as("did"),
      size(col("tk")).cast("long").as("dn"), explode(col("tk")).as("term"))
    val lex = dtok.join(broadcast(qtok), Seq("term"))
      .filter(col("did") =!= col("qid"))
      .groupBy(col("qid"), col("did"), col("dn"))
      .agg(count(lit(1)).as("inter"))
      .join(broadcast(qsize), Seq("qid"))
      .select(col("qid"), col("did"),
        expr("""CAST((2 * inter * 1000000 + (qn + dn - inter))
            DIV (2 * (qn + dn - inter)) AS BIGINT)""").as("jac_ppm"))
    // semantic list: cosine against the broadcast seed vectors
    val qv = emb.join(broadcast(seeds), col("vec_id") === col("qid"))
      .select(col("qid"), col("embedding").as("qe"))
    val sem = emb.select(col("vec_id").as("did"), col("embedding").as("ne"))
      .join(broadcast(qv), col("did") =!= col("qid"))
      .select(col("qid"), col("did"),
        round(VectorExpressions.cosine(col("qe"), col("ne")), 4)
          .as("cos_sim"))
    ranked(lex, "jac_ppm", "lex_rank")
      .join(ranked(sem, "cos_sim", "sem_rank"), Seq("qid", "did"),
        "full_outer")
  }

  /** [[hybridRanks]] in DuckDB: the CTEs `docs`, `seeds` … through
    * `lexr(qid, did, lrank)` and `semr(qid, did, srank)`, the two ranked
    * lists cut to `perList`.
    */
  def hybridRanksCtes(nQueries: Int, perList: Int): String =
    s"""docs AS (
           SELECT doc_id,
                  list_distinct(string_split_regex(lower(trim(text)),
                    '\\s+')) AS tk
           FROM documents WHERE text IS NOT NULL
         ), seeds AS (
           SELECT d.doc_id AS qid FROM docs d
           JOIN embeddings e ON d.doc_id = e.vec_id
           ORDER BY qid LIMIT $nQueries
         ), qtok AS (
           SELECT qid, unnest(tk) AS term
           FROM docs JOIN seeds ON doc_id = qid
         ), qsize AS (
           SELECT qid, CAST(COUNT(*) AS BIGINT) AS qn
           FROM qtok GROUP BY 1
         ), dtok AS (
           SELECT doc_id AS did, CAST(len(tk) AS BIGINT) AS dn,
                  unnest(tk) AS term
           FROM docs
         ), inter AS (
           SELECT qid, did, dn, CAST(COUNT(*) AS BIGINT) AS inter
           FROM dtok JOIN qtok USING (term)
           WHERE did <> qid
           GROUP BY 1, 2, 3
         ), lex AS (
           SELECT qid, did,
                  (2 * inter * 1000000 + (qn + dn - inter))
                    // (2 * (qn + dn - inter)) AS jac_ppm
           FROM inter JOIN qsize USING (qid)
         ), lexr AS (
           SELECT qid, did, lrank FROM (
             SELECT qid, did,
                    CAST(ROW_NUMBER() OVER (PARTITION BY qid
                      ORDER BY jac_ppm DESC, did) AS BIGINT) AS lrank
             FROM lex)
           WHERE lrank <= $perList
         ), qv AS (
           SELECT qid, embedding AS qe
           FROM seeds JOIN embeddings ON vec_id = qid
         ), pairs AS (
           SELECT qid, vec_id AS did, qe, embedding AS ne
           FROM qv, embeddings WHERE vec_id <> qid
         ), un AS (
           SELECT qid, did, CAST(unnest(qe) AS DOUBLE) AS x,
                  CAST(unnest(ne) AS DOUBLE) AS y
           FROM pairs
         ), dots AS (
           SELECT qid, did, SUM(x*y) AS dot, SUM(x*x) AS na,
                  SUM(y*y) AS nb
           FROM un GROUP BY 1, 2
         ), semr AS (
           SELECT qid, did, srank FROM (
             SELECT qid, did,
                    CAST(ROW_NUMBER() OVER (PARTITION BY qid
                      ORDER BY ROUND(dot / (sqrt(na) * sqrt(nb)), 4) DESC,
                        did) AS BIGINT) AS srank
             FROM dots)
           WHERE srank <= $perList
         )"""

  def rrfFusion(s: SparkSession, d: String, nQueries: Int, perList: Int,
      k: Int, rrfK: Int): DataFrame = {
    val fused = hybridRanks(s, d, nQueries, perList)
      .withColumn("rrf_score",
        coalesce(expr(s"1000000 DIV ($rrfK + lex_rank)"), lit(0L)) +
        coalesce(expr(s"1000000 DIV ($rrfK + sem_rank)"), lit(0L)))
    graft.plans.TopK.perKey(fused, keys = Seq("qid"),
      order = Seq(("rrf_score", true), ("did", false)), k = k)
  }

  /** q234: RANK-BIASED OVERLAP between the lexical and semantic
    * rankings (Webber, Moffat & Zobel TOIS 2010) — "do my two
    * retrievers agree, and at which depths?", the ranking-drift
    * monitor a hybrid search stack watches when models or indexes
    * roll: RBO@10, persistence p = 9/10, per seed query. Truncated
    * RBO_min = (1−p)/p · Σ_{d≤10} (X_d/d)·p^d where X_d is the
    * prefix-intersection size — reformulated per DOC: a doc in both
    * top-10s at m = max(lex_rank, sem_rank) contributes to every
    * depth d ≥ m, so its total weight W_m = Σ_{d=m..10}
    * (2520/d)·10^(10−d)·9^d is one EXACT integer (2520 = lcm(1..10)
    * clears every /d; the p^d rationals share denominator 10^10) from
    * a 10-entry literal table shared verbatim with the oracle — the
    * q58/q230 no-libm rule for irrational weights. rbo_ppm =
    * round-half-up of 10^6·ΣW_m / (9·2520·10^10).
    *
    * Scale shape: [[hybridRanks]] (q150's harness — candidate
    * generation never all-pairs, rank windows over nQueries·perList
    * rows only) + one groupBy over ≤ nQueries·2·perList rank rows.
    */
  def q234Rbo(s: SparkSession, d: String): DataFrame = {
    val W = Seq(53392439389752L, 30712439389752L, 20506439389752L,
      14382839389752L, 10249409389752L, 7273339789752L, 5041287589752L,
      3319418749752L, 1963447038252L, 878669669052L)
    val wArr = array(W.map(lit): _*)
    val both = col("lex_rank").isNotNull && col("sem_rank").isNotNull
    hybridRanks(s, d, nQueries = 8, perList = 10)
      .groupBy(col("qid"))
      .agg(sum(when(both, 1L).otherwise(0L)).cast("long").as("n_common"),
        sum(when(both, element_at(wArr,
          greatest(col("lex_rank"), col("sem_rank")).cast("int")))
          .otherwise(0L)).cast("decimal(38,0)").as("_s"))
      .select(col("qid"), col("n_common"),
        expr("""CAST((2 * 1000000 * _s + 226800000000000)
            DIV (2 * 226800000000000) AS BIGINT)""").as("rbo_ppm"))
  }

  /** q150: 8 seed docs, 50-deep lists per ranker, fused top-10,
    * the canonical rrfK = 60. */
  def q150RrfFusion(s: SparkSession, d: String): DataFrame =
    rrfFusion(s, d, nQueries = 8, perList = 50, k = 10, rrfK = 60)

  /** 175. q156: Maximal-Marginal-Relevance diversified top-k
    * (Carbonell & Goldstein SIGIR 1998) at λ = 1/2 — re-rank a
    * relevance shortlist so near-duplicate results don't crowd the
    * page: greedily pick argmax of score₂ = rel − max sim(c, selected)
    * (the ×2-scaled MMR objective; ties by id). The dedup family
    * (q29/q75) REMOVES near-dups from the corpus; MMR keeps them but
    * stops them from monopolizing one result list — the serving-side
    * complement.
    *
    * Determinism: relevance and pair similarities are e4-integer
    * rounded cosines, the greedy argmax is integer arithmetic with a
    * total-order tie-break — run-to-run identical, and because every
    * post-rounding score is an integer the 10-round greedy is exactly
    * replayable in ANSI SQL: the oracle unrolls one (score, pick,
    * pick-set) CTE triple per round (the q217 k-center pattern), so
    * this is a FULL oracle row, not rows-only.
    *
    * Scale shape: cosines and the heap-cut shortlist are distributed
    * (broadcast seeds down the scan, the q32 shape; pair sims join the
    * CHECKPOINTED shortlist with itself per seed — `shortlist`²·seeds
    * rows, bounded); only the bounded (seeds × shortlist) artifact and
    * its pair-sim table reach the driver for the greedy loop — the
    * IVF/PQ codebook-training precedent, never the corpus.
    */
  def mmrDiversify(emb: DataFrame, nQueries: Int, shortlist: Int,
      k: Int): DataFrame = {
    val sp = emb.sparkSession
    import sp.implicits._
    val e = emb.select(col("vec_id"), col("embedding"))
    val seeds = e.orderBy(col("vec_id")).limit(nQueries)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    val cand = e.select(col("vec_id").as("did"), col("embedding").as("ne"))
      .join(broadcast(seeds), col("did") =!= col("qid"))
      .select(col("qid"), col("did"), col("ne"),
        round(VectorExpressions.cosine(col("qe"), col("ne")) * 10000, 0)
          .cast("long").as("rel_e4"))
    val top = graft.plans.TopK.perKey(cand, keys = Seq("qid"),
        order = Seq(("rel_e4", true), ("did", false)), k = shortlist)
      .localCheckpoint(false)
    val sims = top.select(col("qid"), col("did").as("a"), col("ne").as("ea"))
      .join(top.select(col("qid"), col("did").as("b"), col("ne").as("eb")),
        Seq("qid"))
      .filter(col("a") < col("b"))
      .select(col("qid"), col("a"), col("b"),
        round(VectorExpressions.cosine(col("ea"), col("eb")) * 10000, 0)
          .cast("long").as("sim_e4"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)) ->
        r.getLong(3)).toMap
    val rels = top.select(col("qid"), col("did"), col("rel_e4"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    def sim(q: Long, x: Long, y: Long): Long =
      sims.getOrElse((q, math.min(x, y), math.max(x, y)), 0L)
    val out = rels.groupBy(_._1).toSeq.flatMap { case (q, xs) =>
      val rel = xs.map(x => x._2 -> x._3).toMap
      val sel = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
      val remaining = scala.collection.mutable.Set(rel.keys.toSeq: _*)
      while (sel.size < k && remaining.nonEmpty) {
        val pick = remaining.toSeq.map { c =>
          val maxSim =
            if (sel.isEmpty) 0L
            else sel.map(p => sim(q, c, p._1)).max
          (c, rel(c) - maxSim)
        }.minBy { case (c, sc) => (-sc, c) }
        sel += ((pick._1, pick._2))
        remaining -= pick._1
      }
      sel.zipWithIndex.map { case ((did, sc), i) =>
        (q, did, (i + 1).toLong, rel(did), sc) }
    }
    out.toDF("qid", "did", "mmr_rank", "rel_e4", "score2_e4")
  }

  /** q156: 8 seed vectors, 50-deep shortlist, 10 diversified picks. */
  def q156MmrDiversify(s: SparkSession, d: String): DataFrame =
    mmrDiversify(Tables.embeddings(s, d), nQueries = 8, shortlist = 50,
      k = 10)

  /** 176. q158: truncated-dimension two-stage ANN (the Matryoshka
    * representation-learning serving pattern, Kusupati et al. 2022) —
    * shortlist on the first `prefixDims` coordinates, exact-re-rank
    * the survivors on the full vector (the q87 int8 two-stage rule
    * with dimension truncation as the compression axis instead of
    * quantization: a dims/4 prefix scan reads 4× less and the prefix
    * slice is a column the scan can store separately at 100 TB). The
    * full vectors are touched ONLY for the shortlist×queries re-rank.
    * Approximate vs the exact top-k (prefix order ≠ full order; recall
    * gate vs q32 in the suite) but DETERMINISTIC end to end — both
    * stages are ROUND-4 cosines with id tie-breaks, no float-library
    * internals — so unlike the k-means-trained ANN family the full
    * pipeline carries a DuckDB oracle (r12; the q32 cosine recipe
    * applied twice).
    */
  def truncatedAnn(emb: DataFrame, prefixDims: Int, shortlist: Int,
      k: Int): DataFrame = {
    val pre = emb.select(col("vec_id"),
      slice(col("embedding"), 1, prefixDims).as("pe"))
    val q = pre.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("pe").as("qp"))
    val cand = pre.select(col("vec_id").as("nid"), col("pe").as("np"))
      .join(broadcast(q), col("nid") =!= col("qid"))
      .select(col("qid"), col("nid"),
        round(VectorExpressions.cosine(col("qp"), col("np")), 4)
          .as("pre_cos"))
    val short = graft.plans.TopK.perKey(cand, keys = Seq("qid"),
      order = Seq(("pre_cos", true), ("nid", false)), k = shortlist)
    val full = emb.select(col("vec_id").as("nid"),
      col("embedding").as("ne"))
    val qfull = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    val rer = short.join(full, "nid").join(broadcast(qfull), Seq("qid"))
      .select(col("qid"), col("nid"),
        round(VectorExpressions.cosine(col("qe"), col("ne")), 4)
          .as("cos_sim"))
    graft.plans.TopK.perKey(rer, keys = Seq("qid"),
      order = Seq(("cos_sim", true), ("nid", false)), k = k)
  }

  /** q158: 32-of-64-dim prefix shortlist at 100, exact top-5 re-rank.
    * (The synthetic embeddings are isotropic — no MRL front-loading —
    * so the prefix must carry half the dims for recall ≥ 0.8; true
    * Matryoshka-trained vectors concentrate variance in the prefix and
    * would allow a far narrower scan at the same recall.) */
  def q158TruncatedAnn(s: SparkSession, d: String): DataFrame =
    truncatedAnn(Tables.embeddings(s, d), prefixDims = 32,
      shortlist = 100, k = K)

  /** EXACT weighted-cosine all-pairs similarity join (Bayardo, Ma &
    * Srikant WWW 2007 — "scaling up all pairs") over idf-weighted
    * token vectors at cos ≥ tNum/tDen: the WEIGHTED complement of
    * q96's unweighted Jaccard join — boilerplate tokens shared by
    * everything stop manufacturing similarity, rare-token agreement
    * dominates (what near-dup detection actually wants on web text).
    *
    * ZERO-MISS candidate generation by the norm-bound prefix filter:
    * per doc, features sort by (weight desc, token) and the PREFIX
    * keeps every position i whose suffix norm² ≥ t²·norm². Because the
    * idf weight is a PER-TOKEN constant (w = round(N/df), identical in
    * every doc containing the token), that per-doc sort is the
    * restriction of one GLOBAL total order on tokens — which upgrades
    * the paper's one-sided index-prefix/probe-full scheme to the
    * TWO-SIDED prefix join (AllPairs/PPJoin's canonical filter): for a
    * qualifying pair, take the globally-first shared token j0; if j0
    * fell outside either doc's prefix then ALL shared tokens sit in
    * that doc's suffix and cos ≤ ‖suffix‖ < t — contradiction. So
    * candidates = prefix ⋈ prefix, Σ|pfx(tok)|² instead of
    * Σ|pfx(tok)|·|postings(tok)| (the r10 sf1 certification measured
    * the one-sided join super-linear ≈16× on 10× data; two-sided is
    * the L2AP-family fix). IDS ONLY through the candidate join (the
    * q29 rule).
    *
    * Everything that decides membership is INTEGER: weights are
    * round-half-up N/df capped at 10⁶ (the standard idf ceiling; the
    * cap also bounds the DECIMAL(38,0) products at cluster scale),
    * shared-token dot = Σ w² is an exact order-free sum, and the
    * threshold test is dot²·tDen² ≥ tNum²·norm²ₐ·norm²_b — no float
    * touches
    * admission, so the oracle (the naive n² join) matches hash-exactly;
    * the reported cosine is the identical IEEE tree on exact inputs,
    * ROUND 4 (the q36 rule).
    */
  def cosineAllPairs(docs: DataFrame, idCol: String, tokCol: String,
      tNum: Int, tDen: Int): DataFrame = {
    require(tNum > 0 && tNum <= tDen, "threshold must be in (0, 1]")
    // materialized once: five consumers (N, df, features, candidate
    // probe, dot probe) would otherwise each re-run the explode +
    // distinct over the corpus (the q105 lineage-cut rule).
    // NOTE (r9): checkpointing the JOINED feature table here instead —
    // with norms/suffix-norms folded into one window stage — measured
    // 2× SLOWER at sf0.1 (18.6 s vs 9.2 s): the wide decimal artifact
    // costs more to materialize than the slim token table plus the
    // re-run broadcast-scale joins it saves. Keep the slim checkpoint.
    // per-ARRAY dedup (array_distinct), not a post-explode DISTINCT:
    // the relational spelling shuffles the whole exploded token table
    // just to drop within-doc repeats, the array pass is linear and
    // pre-shuffle (r12 — measured ~1.5 s of the q170 wall at sf0.1).
    // Caller contract: one row per id (every caller's docs are keyed).
    val toks = docs.select(col(idCol).as("_id"),
        explode(array_distinct(col(tokCol))).as("_tok"))
      .filter(col("_tok") =!= "")
      .localCheckpoint(false)
    // N as a 1-row broadcast, not a plan-time count() job (q85 rule)
    val ntab = toks.select(col("_id")).distinct()
      .agg(count(lit(1)).as("_n"))
    val wcap = 1000000L
    val freq = toks.groupBy(col("_tok"))
      .agg(count(lit(1)).as("_df"))
      .crossJoin(broadcast(ntab))
      .withColumn("_w",
        least(expr("(2 * _n + _df) DIV (2 * _df)"), lit(wcap)))
    val feat = toks.join(freq.select("_tok", "_w"), "_tok")
      .select(col("_id"), col("_tok"), col("_w"),
        (col("_w") * col("_w")).as("_w2"))
    val norms = feat.groupBy(col("_id"))
      .agg(sum(col("_w2")).cast("decimal(38,0)").as("_n2"))
    // suffix norm² at each position of the (weight desc, token) order —
    // computed as the running sum over the REVERSED order, because a
    // frame ending at UNBOUNDED FOLLOWING re-aggregates from scratch
    // per row in Spark (O(k²) per doc; the q196 frame rule)
    val byDoc = Window.partitionBy(col("_id"))
      .orderBy(col("_w").asc, col("_tok").desc)
      .rowsBetween(Window.unboundedPreceding, 0)
    val pfx = feat
      .withColumn("_suf2", sum(col("_w2")).over(byDoc)
        .cast("decimal(38,0)"))
      .join(norms, "_id")
      .filter(col("_suf2") * (tDen.toLong * tDen) >=
        col("_n2") * (tNum.toLong * tNum))
      .select(col("_id").as("id_a"), col("_tok"), col("_suf2"),
        col("_n2"))
    // two-sided: both endpoints probe with their PREFIX (valid because
    // the prefix order is global — see scaladoc); localCheckpoint so the
    // self-join reads one materialization instead of running the
    // window+join lineage twice (the plan-branch-consistency rule)
    val pfxM = pfx.localCheckpoint(false)
    // L2AP positional bound (r12, the r11 ask): every shared token of
    // a qualifying pair lies inside BOTH suffixes at that token's
    // position, so dot² ≤ suf2_a·suf2_b (Cauchy–Schwarz on the
    // suffixes) at EVERY generating join row — rows failing
    // suf2_a·suf2_b ≥ t²·n2a·n2b cannot certify the pair, and a truly
    // qualifying pair satisfies the bound at all of its shared prefix
    // tokens, so per-row pruning is still ZERO-MISS. Integer/decimal
    // only — admission stays engine-exact and the oracle is unchanged.
    val cand = pfxM
      .join(pfxM.select(col("id_a").as("id_b"), col("_tok"),
        col("_suf2").as("_sb"), col("_n2").as("_nb")), Seq("_tok"))
      .filter(col("id_a") < col("id_b"))
      .filter(col("_suf2") * col("_sb") * (tDen.toLong * tDen) >=
        col("_n2") * col("_nb") * (tNum.toLong * tNum))
      .select("id_a", "id_b").distinct()
    // verify stage (r12): each doc's full feature vector packs into ONE
    // ascending (tok, w2) array riding the candidate join, and the
    // shared-token dot is a native merge scan (SortedPairDot) — exact
    // long, inside codegen. Replaces the former explode-against-
    // postings probe: that plan shuffled |cand|·avg-tokens skinny rows
    // plus a pair re-aggregate; this one shuffles |cand| rows with one
    // array payload per side and aggregates nothing.
    val docVec = feat
      .groupBy(col("_id"))
      .agg(sort_array(collect_list(struct(col("_tok"), col("_w2"))))
        .as("_vec"))
      .join(norms, "_id")
    cand
      .join(docVec.select(col("_id").as("id_a"), col("_vec").as("_va"),
        col("_n2").as("_n2a")), "id_a")
      .join(docVec.select(col("_id").as("id_b"), col("_vec").as("_vb"),
        col("_n2").as("_n2b")), "id_b")
      .withColumn("_dot",
        graft.functions.SortedPairDot.dot(col("_va"), col("_vb"))
          .cast("decimal(38,0)"))
      .filter(col("_dot") * col("_dot") * (tDen.toLong * tDen) >=
        col("_n2a") * col("_n2b") * (tNum.toLong * tNum))
      .select(col("id_a"), col("id_b"), col("_dot").cast("long")
          .as("dot_w"),
        round(col("_dot").cast("double") /
          (sqrt(col("_n2a").cast("double")) *
            sqrt(col("_n2b").cast("double"))), 4).as("cosine"))
  }

  /** q170: idf-weighted cosine all-pairs over the corpus at cos ≥ ½,
    * on 3-token SHINGLE features (the q96 convention). Shingles, not
    * unigrams, because blocking selectivity comes from the feature
    * space: this corpus has a 31-word vocabulary, so every unigram is
    * a heavy hitter (df ≈ n/4) and ANY unigram-token plan — blocked or
    * naive — degenerates toward all-pairs; the 31³ shingle space makes
    * rare-feature prefixes actually rare. Null-text docs are excluded
    * (no content ⇒ no similarity claim). */
  def q170CosineAllPairs(s: SparkSession, d: String): DataFrame = {
    // r15: native one-pass shingling (graft_word_shingles) — the HOF
    // transform + array_distinct spelling ran interpreted and dominated
    // the base build (the q96 finding; see WordShingles scaladoc).
    // Value-identical to split+transform+array_distinct.
    val docs = Tables.documents(s, d)
      .filter(col("text").isNotNull)
      .select(col("doc_id"), graft.functions.WordShingles
        .shingles(col("text"), 3).as("tk"))
    cosineAllPairs(docs, "doc_id", "tk", 1, 2)
  }

  /** q186: MUTUAL nearest neighbors over the embedding corpus — pairs
    * where each vector is the other's top-1 by cosine (reciprocal best
    * match, the high-precision pairing primitive behind SemDeDup-style
    * semantic dedup and bitext mining: a one-way top-1 is often a hub
    * artifact; mutuality filters hubs out). Exact cosine in double,
    * ROUND 4, (cos desc, id) tie-break — the q32 determinism pattern,
    * so the top-1 table is oracle-checkable; the reciprocity step is
    * one self-equi-join of the NODE-scale top-1 table with each
    * surviving pair emitted once (id_a < id_b; cos(a,b) ≡ cos(b,a)
    * bit-for-bit — same index-ordered IEEE sum).
    *
    * Scale path: [[annCandidateScores]] picks the candidate stage by
    * footer row count — the q32 brute force while the corpus rides a
    * broadcast (every tested SF, so the oracle replays it), the IVF
    * cell-pruned stage beyond 100k rows (r12: scale-automatic, not a
    * comment) — the reciprocity join is candidate-stage-agnostic and
    * stays node-scale either way.
    */
  /** q187: kNN label purity — for every vector, the fraction of its 5
    * nearest cosine neighbors sharing its label (integer ppm). THE
    * embedding-quality / label-noise screen a training-data pipeline
    * runs before trusting labels: a clean embedding space is locally
    * label-pure, so low-purity vectors are mislabeled rows, duplicates
    * across classes, or contamination (Northcutt et al. 2021's
    * confident-learning signal, k-NN form). Same determinism recipe as
    * q32/q186: ROUND-4 double cosine, (cos desc, id) ties, heap top-5;
    * purity is round-half-up ppm over the constant k — engine-exact.
    * Candidate stage auto-swaps to IVF beyond the broadcast ceiling
    * ([[annCandidateScores]]) like q186.
    */
  def q187KnnPurity(s: SparkSession, d: String): DataFrame =
    knnPurityFrom(annCandidateScores(s, d))

  /** The exact brute-force scored table for q187 (and the suite's
    * recall yardstick for the IVF swap).
    */
  private[graft] def knnPurityScored(s: SparkSession, d: String): DataFrame = {
    // norms factored out of the pair loop (r9): cosine(a,b) recomputes
    // BOTH norms per pair — n−1 times per vector. dot/(norm·norm) is
    // the IDENTICAL IEEE tree (L2Norm runs the same index-order
    // accumulation cosine uses internally, nullif keeps the
    // zero-denominator → null contract), at ⅓ the per-pair FLOPs —
    // measured 4.8 → ~2 s at sf0.1.
    val emb = Tables.embeddings(s, d)
      .select(col("vec_id"), col("label"), col("embedding"))
    val q = emb.select(col("vec_id").as("qid"), col("label").as("qlabel"),
      col("embedding").as("qe"),
      VectorExpressions.norm(col("embedding")).as("_qn"))
    emb
      .select(col("vec_id").as("nid"), col("label").as("nlabel"),
        col("embedding").as("ne"),
        VectorExpressions.norm(col("embedding")).as("_nn"))
      // r14 (guide §2.6-class idle-capacity fix): the streaming side of
      // the broadcast nested-loop is ONE parquet file → ≤4 scan tasks
      // carrying the whole n² pair scoring (q187 ran 5.8 s on 4 tasks).
      // Spread the gate-bounded probe side (≤ Gates.AnnExactRows ≈ 100k slim
      // rows — a trivial round-robin) across the session's parallelism;
      // per-pair values and everything downstream are unchanged.
      .repartition(s.sparkContext.defaultParallelism)
      .join(broadcast(q), col("nid") =!= col("qid"))
      .select(col("qid"), col("qlabel"), col("nid"), col("nlabel"),
        round(VectorExpressions.dot(col("qe"), col("ne")) /
          nullif(col("_qn") * col("_nn"), lit(0.0)), 4)
          .as("cos_sim"))
  }

  /** The purity stage alone, over ANY scored candidate table
    * (qid, qlabel, nid, nlabel, cos_sim) — candidate-stage-agnostic,
    * so the exact brute-force table (q187) and an LSH/IVF candidate
    * table ([[ivfCandidateScores]], the 100 TB path) run the identical
    * heap + ppm arithmetic. The suite gates the swap at ≥ 0.8
    * neighbor recall vs the exact path.
    */
  private[graft] def knnPurityFrom(scored: DataFrame): DataFrame =
    graft.plans.TopK.perKey(scored, keys = Seq("qid"),
        order = Seq(("cos_sim", true), ("nid", false)), k = 5)
      .groupBy(col("qid").as("vec_id"), col("qlabel").as("label"))
      .agg(sum(when(col("nlabel") === col("qlabel"), 1L).otherwise(0L))
        .cast("long").as("n_same"))
      .withColumn("purity_ppm",
        expr("(2000000 * n_same + 5) DIV 10"))

  def q186MutualNn(s: SparkSession, d: String): DataFrame =
    mutualNnFrom(annCandidateScores(s, d)
      .select(col("qid"), col("nid"), col("cos_sim")))

  /** The reciprocity stage alone, over ANY scored candidate table
    * (qid, nid, cos_sim) — candidate-stage-agnostic (see
    * [[knnPurityFrom]]): brute force at gate scale,
    * [[ivfCandidateScores]] at 100 TB, same top-1 + reciprocity join.
    */
  private[graft] def mutualNnFrom(scored: DataFrame): DataFrame = {
    val top1 = graft.plans.TopK.perKey(scored, keys = Seq("qid"),
        order = Seq(("cos_sim", true), ("nid", false)), k = 1)
      .localCheckpoint(false) // both sides of the reciprocity join
    top1.as("x")
      .join(top1.as("y"),
        col("x.nid") === col("y.qid") && col("y.nid") === col("x.qid") &&
          col("x.qid") < col("y.qid"))
      .select(col("x.qid").as("id_a"), col("x.nid").as("id_b"),
        col("x.cos_sim").as("mutual_cos"))
  }

  /** IVF candidate scores for the q186/q187 swap: every vector probes
    * its `nProbe` nearest cells and scores only co-located candidates
    * — the sub-quadratic candidate stage that replaces the all-pairs
    * broadcast at 100 TB (q40's cell pruning, applied to all-vectors-
    * as-queries; IntKMeans quantizer since r12 — exact integer
    * training/assignment/probing, so the candidate SET is
    * deterministic too). Output schema matches the exact stage
    * ((qid, qlabel, nid, nlabel, cos_sim), same ROUND-4/(cos, id)
    * determinism recipe), so [[mutualNnFrom]]/[[knnPurityFrom]]
    * consume either interchangeably. Each (qid, nid) pair appears at
    * most once: nid lives in exactly one cell. The cell join shuffles
    * BOTH sides on cell — co-partitioned, no broadcast of the corpus.
    */
  private[graft] def ivfCandidateScores(emb: DataFrame,
      nCells: Int, nProbe: Int): DataFrame = {
    val base = emb.select(col("vec_id"), col("label"), col("embedding"),
      IntKMeans.e6(col("embedding")).as("_e6"))
    val cents = IntKMeans.trainOnSample(base, "vec_id", "_e6",
      k = nCells, rounds = 3, cap = 4096)
    val q = IntKMeans.probeCells(base, "_e6", cents, nProbe, "cell")
      .select(col("vec_id").as("qid"), col("label").as("qlabel"),
        col("embedding").as("qe"),
        VectorExpressions.norm(col("embedding")).as("_qn"), col("cell"))
    IntKMeans.assignCell(base, "_e6", cents, "cell")
      .select(col("vec_id").as("nid"), col("label").as("nlabel"),
        col("embedding").as("ne"),
        VectorExpressions.norm(col("embedding")).as("_nn"), col("cell"))
      .join(q, Seq("cell"))
      .filter(col("qid") =!= col("nid"))
      .select(col("qid"), col("qlabel"), col("nid"), col("nlabel"),
        round(VectorExpressions.dot(col("qe"), col("ne")) /
          nullif(col("_qn") * col("_nn"), lit(0.0)), 4)
          .as("cos_sim"))
  }

  /** Scale-automatic candidate stage for q186/q187 (the q76
    * `Gates.BpeLocalWords` gating pattern, closing VERDICT r11 #3):
    * EXACT all-pairs while the parquet-footer row count stays within
    * [[Gates.AnnExactRows]] (100k — the corpus-rides-a-broadcast
    * ceiling; 0 under the `scale` gate mode), the IVF cell-pruned stage
    * beyond it (16 cells, 10 probed).
    * The footer stat means NO count() job in the plan path, and at
    * every tested SF (≤20k embeddings) the plan stays exact — the
    * gate-scale oracles are unchanged while a 100 TB corpus picks the
    * sub-quadratic plan automatically. PlanAuditSpec pins both modes.
    */
  private[graft] def annCandidateScores(s: SparkSession, d: String)
      : DataFrame = {
    val nRows = graft.sources.TableStatistics
      .tableRowCount(s, d, "embeddings")
    val maxExact = Gates.memory(s, Gates.AnnExactRows)
    if (nRows <= maxExact) knnPurityScored(s, d)
    else ivfCandidateScores(Tables.embeddings(s, d), nCells = 16,
      nProbe = 10)
  }

  /** q194: EXACT distributed k-means (Lloyd 1982) over the embedding
    * corpus — the clustering primitive under q75's SemDeDup and
    * q40/q121's IVF coarse quantizers, here promoted to a first-class
    * oracle-checked operator instead of a sample-trained helper:
    * deterministic seeding (the k smallest vec_ids), a FIXED 3
    * Lloyd rounds, and integer-lattice geometry so every engine
    * replays bit-identical assignments.
    *
    * Determinism: points live on the e6 lattice (floor(x·10⁶) — floor,
    * not cast: ANSI Spark truncates toward zero while DuckDB CAST
    * rounds); distances are exact longs |p|²−2p·c+|c|² via the codegen
    * int dot product; argmin ties break to the smallest centroid id
    * (struct-min); centroid updates are the signed round-half-up
    * integer mean (the q148/q153 sign split). Empty clusters DROP
    * (k shrinks) — both engines derive identical memberships, so the
    * rule fires identically.
    *
    * Scale shape per round: ONE broadcast-literal assignment pass
    * (k·dim longs inlined into codegen — no join, no shuffle) + ONE
    * map-side-combined (cid, dim) aggregate whose output is k·dim
    * rows; the k·dim collect is a bounded codebook artifact (the
    * PQ/IVF rule, PqAnn.scala:64). The corpus shuffles ZERO times per
    * iteration.
    */
  def q194Kmeans(s: SparkSession, d: String): DataFrame = {
    val k = 8
    val iters = 3
    val pts = Tables.embeddings(s, d)
      .select(col("vec_id"),
        transform(col("embedding"),
          x => floor(x.cast("double") * 1000000).cast("int")).as("e6"))
      .localCheckpoint(false) // feeds every Lloyd round
    var cents: Array[(Int, Array[Long])] = pts.orderBy(col("vec_id"))
      .limit(k).collect()
      .map(_.getSeq[Int](1).map(_.toLong).toArray).zipWithIndex
      .map { case (c, i) => (i, c) }
    def d2(c: Array[Long]): Column = {
      val cl = typedlit(c.map(_.toInt).toSeq)
      val c2 = c.map(v => v * v).sum
      VectorExpressions.idot(col("e6"), col("e6")) +
        lit(c2) - lit(2L) * VectorExpressions.idot(col("e6"), cl)
    }
    def assigned: DataFrame = {
      val best = array_min(array(cents.map { case (cid, c) =>
        struct(d2(c).as("d2"), lit(cid).as("cid")) }: _*))
      pts.select(col("vec_id"), col("e6"),
        best.getField("cid").as("cid"), best.getField("d2").as("d2"))
    }
    for (_ <- 1 until iters) {
      val upd = assigned
        .select(col("cid"), posexplode(col("e6")).as(Seq("pos", "v")))
        .groupBy(col("cid"), col("pos"))
        .agg(sum(col("v").cast("long")).as("_sv"),
          count(lit(1)).as("_n"))
        .select(col("cid"), col("pos"),
          expr("""CASE WHEN _sv >= 0 THEN (2 * _sv + _n) DIV (2 * _n)
              ELSE -((2 * (-_sv) + _n) DIV (2 * _n)) END""").as("e"))
        .collect() // bounded: k·dim rows (the codebook artifact rule)
      cents = upd.groupBy(_.getInt(0)).toArray
        .map { case (cid, rows) =>
          (cid, rows.sortBy(_.getInt(1)).map(_.getLong(2)).toArray) }
        .sortBy(_._1)
    }
    assigned.select(col("vec_id"), col("cid").cast("long").as("cid"),
      col("d2"))
  }

  /** q198: exact per-label MEDOID — the actual corpus point minimizing
    * total squared distance to its labelmates (the exemplar selection
    * behind k-medoids/PAM and "pick the representative document per
    * cluster"; q194's centroid is a synthetic mean point, the medoid
    * is a REAL row you can show a human). The naive definition is an
    * all-pairs join per label; this uses the centroid decomposition
    * Σ_j|p_i−p_j|² = n·|p_i|² + Σ_j|p_j|² − 2·p_i·Σ_j p_j, so the
    * whole operator is TWO map-side-combined aggregates (per-label
    * dim sums, per-label norms) + one broadcast join back — O(n·dim),
    * never O(n²·dim).
    *
    * Determinism: e6 lattice (q194 floor rule), every product exact
    * in DECIMAL(38,0)/HUGEINT (the dim-sum dot at corpus n overflows
    * a long), argmin ties to the smallest vec_id, and the reported
    * mean-d² is the round-half-up integer division of the exact score
    * (non-negative — no sign split).
    */
  def q198Medoid(s: SparkSession, d: String): DataFrame = {
    val pts = Tables.embeddings(s, d)
      .select(col("vec_id"), col("label").cast("long").as("label"),
        transform(col("embedding"),
          x => floor(x.cast("double") * 1000000).cast("int")).as("e6"))
      .withColumn("_p2",
        VectorExpressions.idot(col("e6"), col("e6")))
      .localCheckpoint(false) // feeds dims, label norms, and the argmin
    val dims = pts.select(col("vec_id"), col("label"),
      posexplode(col("e6")).as(Seq("_i", "_e")))
    val lsum = dims.groupBy(col("label"), col("_i"))
      .agg(sum(col("_e").cast("long")).as("_s")) // labels×dims rows
    val lagg = pts.groupBy(col("label"))
      .agg(count(lit(1)).cast("decimal(38,0)").as("_n"),
        sum(col("_p2").cast("decimal(19,0)")).cast("decimal(38,0)")
          .as("_s2"))
    val ds = dims.join(broadcast(lsum), Seq("label", "_i"))
      .groupBy(col("vec_id"), col("label"))
      .agg(sum(col("_e").cast("decimal(19,0)") * col("_s"))
        .cast("decimal(38,0)").as("_ds"))
    pts.select(col("vec_id"), col("label"),
        col("_p2").cast("decimal(19,0)").as("_p2"))
      .join(ds, Seq("vec_id", "label"))
      .join(broadcast(lagg), Seq("label"))
      .select(col("label"), col("vec_id"),
        (col("_n") * col("_p2") + col("_s2") - lit(2) * col("_ds"))
          .cast("decimal(38,0)").as("_score"), col("_n"))
      .groupBy(col("label"))
      .agg(min(struct(col("_score"), col("vec_id"))).as("_m"),
        first(col("_n")).as("_n"))
      .select(col("label"), col("_m.vec_id").as("medoid_id"),
        col("_n").cast("long").as("n"),
        expr("CAST((2 * _m._score + _n) DIV (2 * _n) AS BIGINT)")
          .as("mean_d2"))
  }

  /** q217: greedy k-CENTER coreset selection (Gonzalez 1985 farthest-
    * point traversal) over the embedding corpus — pick k maximally
    * spread exemplars, the classic 2-approximation to the k-center
    * cover and the standard diversity/coreset selection a training-
    * data curation pipeline runs after dedup ("keep the most different
    * examples"; the facility-location family next to q194's k-means
    * and q198's medoid, which pick DENSE representatives — this picks
    * SPREAD ones). Emits the pick order plus each pick's squared
    * distance to the already-selected set: the non-increasing
    * coverage-radius curve (pick i's radius is how badly the first
    * i−1 centers covered the corpus — where to cut k).
    *
    * Scale shape: k scans of the checkpointed (id, e6, |p|²) frame —
    * each is codegen'd broadcast-literal distances to ≤k centers
    * (d² = |p|² + |c|² − 2·p·c, integer idot) + ONE TakeOrdered
    * argmax; the corpus is never shuffled, the selected set is a
    * k×dim driver artifact (the q194 codebook rule). Determinism: e6
    * lattice (q194 floor rule), pure-long d² (≤ 4·10¹³ at dim 64),
    * argmax ties to the smallest vec_id, seed = smallest vec_id.
    * Reference analogue: none (no vector ops in the reference) —
    * built under the training-data-pipeline mandate.
    */
  def q217KcenterCoreset(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val k = 8
    val pts = Tables.embeddings(s, d)
      .select(col("vec_id"),
        transform(col("embedding"),
          x => floor(x.cast("double") * 1000000).cast("int")).as("e6"))
      .withColumn("_p2",
        VectorExpressions.idot(col("e6"), col("e6")))
      .localCheckpoint(false) // feeds the k argmax scans
    val seed = pts.orderBy(col("vec_id")).limit(1).collect()(0)
    def vecOf(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getSeq[Int](1).toSeq, r.getLong(2))
    var sel = Vector((vecOf(seed), Option.empty[Long]))
    while (sel.size < k) {
      val mind = array_min(array(sel.map { case ((_, c, c2), _) =>
        col("_p2") + lit(c2) - lit(2L) *
          VectorExpressions.idot(col("e6"), typedlit(c)) }: _*))
      val far = pts.withColumn("_md", mind)
        .orderBy(col("_md").desc, col("vec_id")).limit(1).collect()(0)
      sel = sel :+ ((vecOf(far), Some(far.getLong(3))))
    }
    sel.zipWithIndex.map { case (((id, _, _), r), i) =>
      ((i + 1).toLong, id, r) }
      .toDF("pick_rank", "vec_id", "radius_d2")
  }

  /** q225: embedding OUTLIER screen — per label, the 3 points farthest
    * from their label centroid, each with its distance-to-label-mean
    * ratio (ppm). The mislabeled-example / OOD triage a curation
    * pipeline runs after clustering: a point 5× its label's mean
    * distance is a labeling error or a contaminant, and q187's kNN
    * purity says a label LOOKS mixed while this names the rows to
    * audit (q198 picks each label's most central point; this picks
    * its least).
    *
    * Determinism: e6 lattice; centroids ROUNDED to the lattice
    * (q194's sign-split round-half rule) so every d² is plain long —
    * no n²-scaled rational blowup; label sums in DECIMAL(38,0); the
    * ratio n·d²ᵢ/Σd² by integer round-half-up; top-3 by (d², vec_id)
    * via the heap TopKPerKey (labels bounded, members corpus-scale —
    * never a per-label reducer sort).
    *
    * Scale shape: one dim-exploded aggregate builds the label×dim
    * centroid table (bounded), one broadcast join + per-point fold
    * computes d², one map-combined label aggregate the ratios — the
    * corpus is scanned twice and never shuffled beyond the heap.
    */
  def q225OutlierScreen(s: SparkSession, d: String): DataFrame = {
    val pts = Tables.embeddings(s, d)
      .select(col("vec_id"), col("label").cast("long").as("label"),
        transform(col("embedding"),
          x => floor(x.cast("double") * 1000000).cast("int")).as("e6"))
      .localCheckpoint(false) // feeds the centroid build and the scan
    val dims = pts.select(col("label"),
      posexplode(col("e6")).as(Seq("_i", "_e")))
    val cent = dims.groupBy(col("label"), col("_i"))
      .agg(sum(col("_e").cast("long")).as("_s"),
        count(lit(1)).as("_n"))
      .select(col("label"), col("_i"),
        expr("""CASE WHEN _s >= 0 THEN (2 * _s + _n) DIV (2 * _n)
            ELSE -((2 * (-_s) + _n) DIV (2 * _n)) END""").as("_c"))
    val d2 = pts.select(col("vec_id"), col("label"),
        posexplode(col("e6")).as(Seq("_i", "_e")))
      .join(broadcast(cent), Seq("label", "_i"))
      .groupBy(col("vec_id"), col("label"))
      .agg(sum((col("_e") - col("_c")) * (col("_e") - col("_c")))
        .cast("long").as("d2"))
      .localCheckpoint(false) // feeds the label stats and the heap
    val lab = d2.groupBy(col("label"))
      .agg(count(lit(1)).cast("long").as("_n"),
        sum(col("d2").cast("decimal(19,0)")).cast("decimal(38,0)")
          .as("_sd2"))
    graft.plans.TopK.perKey(d2, Seq("label"),
        Seq(("d2", true), ("vec_id", false)), 3)
      .join(broadcast(lab), "label")
      .filter(col("_sd2") > 0)
      .select(col("label"), col("vec_id"), col("d2"),
        expr("""CAST((2 * 1000000 * _n * CAST(d2 AS DECIMAL(38,0))
             + _sd2) DIV (2 * _sd2) AS BIGINT)""").as("ratio_ppm"))
  }

  /** q229: GRID-BLOCKED ε-BALL SIMILARITY JOIN — every part pair within
    * Euclidean distance ε in (price, size) feature space, the
    * fixed-radius near-neighbor join (the spatial-join grid trick —
    * e.g. Bentley 1975's cell method, the standard DBSCAN/ST_DWithin
    * shape) that complements the threshold joins the engine already
    * has for SETS (q96 Jaccard) and STRINGS (q91 edit distance) with
    * one for NUMERIC VECTORS. The blocking is exact, not approximate:
    * each point gets ONE home cell of width ε; a pair within ε differs
    * by at most one cell per axis, so probing the 3×3 neighborhood has
    * 100% recall, and each candidate pair is generated exactly once
    * (probe cell of a = home cell of b, which is unique).
    *
    * Scale shape: the probe side explodes ×9 (a constant), the join is
    * an EQUI-join on cell keys — candidates are per-cell products, not
    * n², and the verify filter fuses behind the shuffle. IDs + the two
    * coordinates travel; payloads re-attach downstream (the LSH rule).
    * Determinism: coordinates are exact integers (cents via DECIMAL
    * cast, size×100 so both axes share ε = $1.00 = 100 units), dist²
    * is integer, the ≤ ε² cut is exact in both engines. Oracle: the
    * naive n² inequality join — same output, quadratically more work
    * (the q96/q108 deliberately-quadratic-oracle class).
    */
  def q229EpsilonJoin(s: SparkSession, d: String): DataFrame =
    epsilonJoin(Tables.part(s, d)
      .filter(col("p_retailprice").isNotNull && col("p_size").isNotNull)
      .select(col("p_partkey").as("pid"),
        (col("p_retailprice").cast("decimal(18,4)") * 100).cast("long")
          .as("x"),
        (col("p_size").cast("long") * 100).as("y")),
      eps = 100L) // $1.00 in cents; size axis scaled ×100 to match

  /** The generic grid kernel under q229: exact ε-ball self-join of a
    * (pid, x, y) integer point set — one home cell of width ε per
    * point, 3×3 probe explode (a ×9 constant), equi-join on the cell
    * pair, exact integer dist² ≤ ε² verify. Stress-validated at 20M
    * points with planted twins (graft.Stress §5).
    */
  /** q239: EXACT DBSCAN (Ester et al. KDD 1996) over the (price, size)
    * feature plane, fully deterministic: core points have ≥ minPts=4
    * neighbors within ε (counting themselves); clusters are the
    * connected components of the core-core ε-graph labeled by MIN
    * core id; border points adopt the smallest cluster label among
    * their core neighbors; noise reports cluster −1. The canonical
    * density clustering, composed ENTIRELY from scale-shaped
    * primitives the engine already certifies: the grid ε-join (q229's
    * kernel — candidates are cell-local, never n²) and the
    * accumulator-fixpoint min-label CC (q61's kernel). No seeds, no
    * iteration order — the output is a pure function of the data
    * (same reasoning as q126's deterministic label propagation).
    *
    * Scale shape: one ε-join (linear in occupied cells), one degree
    * aggregate, CC on the core subgraph (ids only), one broadcast-
    * scale border adoption join. Oracle: naive n² neighbors +
    * recursive-CTE transitive closure (quadratic per component,
    * same labels).
    */
  def q239Dbscan(s: SparkSession, d: String): DataFrame = {
    val Eps = 100L
    val MinOthers = 3 // minPts = 4 counting the point itself
    val pts = Tables.part(s, d)
      .filter(col("p_retailprice").isNotNull && col("p_size").isNotNull)
      .select(col("p_partkey").as("pid"),
        (col("p_retailprice").cast("decimal(18,4)") * 100).cast("long")
          .as("x"),
        (col("p_size").cast("long") * 100).as("y"))
    val pairs = epsilonJoin(pts, Eps)
    val sym = pairs.select(col("pk_a").as("a"), col("pk_b").as("b"))
      .unionByName(pairs.select(col("pk_b").as("a"), col("pk_a").as("b")))
      .localCheckpoint(false) // feeds degree, core edges, border joins
    val core = sym.groupBy(col("a").as("pid"))
      .agg(count(lit(1)).cast("long").as("_nn"))
      .filter(col("_nn") >= MinOthers).select(col("pid"))
      .localCheckpoint(false)
    val coreEdges = sym
      .join(core.select(col("pid").as("a")), Seq("a"), "left_semi")
      .join(core.select(col("pid").as("b")), Seq("b"), "left_semi")
      .select(col("a").as("src"), col("b").as("dst"))
    // cores with no core neighbor are their own single-point cluster
    val coreLab = core
      .join(GraphOps.minLabelComponents(coreEdges)
        .withColumnRenamed("node", "pid"), Seq("pid"), "left")
      .select(col("pid"),
        coalesce(col("component"), col("pid")).as("cluster"))
      .localCheckpoint(false)
    val border = sym
      .join(core.select(col("pid").as("a")), Seq("a"), "left_anti")
      .join(coreLab.select(col("pid").as("b"), col("cluster")), Seq("b"))
      .groupBy(col("a").as("pid"))
      .agg(min(col("cluster")).as("_bcl"))
    pts.select(col("pid"))
      .join(coreLab.withColumn("_core", lit(1L)), Seq("pid"), "left")
      .join(border, Seq("pid"), "left")
      .select(col("pid"),
        coalesce(col("_core"), lit(0L)).as("is_core"),
        coalesce(col("cluster"), col("_bcl"), lit(-1L)).as("cluster"))
  }

  private[graft] def epsilonJoin(points: DataFrame, eps: Long)
      : DataFrame = {
    val pts = points
      .withColumn("cx", expr(s"x DIV $eps"))
      .withColumn("cy", expr(s"y DIV $eps"))
    val probe = pts.select(col("pid").as("pk_a"),
        col("x").as("xa"), col("y").as("ya"),
        explode(sequence(col("cx") - 1, col("cx") + 1)).as("gx"),
        col("cy")) // explode one axis at a time keeps rows narrow
      .select(col("pk_a"), col("xa"), col("ya"), col("gx"),
        explode(sequence(col("cy") - 1, col("cy") + 1)).as("gy"))
    probe.join(pts.select(col("pid").as("pk_b"), col("x").as("xb"),
        col("y").as("yb"), col("cx").as("gx"), col("cy").as("gy")),
        Seq("gx", "gy"))
      .filter(col("pk_a") < col("pk_b"))
      .withColumn("dist2_units",
        (col("xa") - col("xb")) * (col("xa") - col("xb")) +
          (col("ya") - col("yb")) * (col("ya") - col("yb")))
      .filter(col("dist2_units") <= eps * eps)
      .select(col("pk_a"), col("pk_b"), col("dist2_units"))
  }

  /** q262: JOHNSON–LINDENSTRAUSS SIGN PROJECTION — every embedding
    * compressed into 16 dimensions by a SEEDLESS ±1 random matrix
    * (sign(i, j) = parity of md5("j_i"), Achlioptas JCSS 2003's
    * database-friendly projection): the dimensionality-reduction front
    * end of the ANN ladder (q53 quantizes VALUES, q158 truncates
    * coordinates, this mixes ALL input coordinates into each output —
    * JL guarantees pairwise distances survive within 1±ε, suite-gated).
    * The hash-derived matrix is the q238 hashing-trick idea aimed at
    * dense vectors: reproducible on any engine, no trained artifact,
    * no RNG state (retry/speculation-safe — the q50 rule).
    *
    * ENGINE-EXACT: coordinates pin to e6 integers (⌊x·1e6⌋, the q217
    * lattice), signs come from the identical md5 hex compare, and each
    * projection is an exact integer Σ ±e6 — a full oracle row (the
    * probabilistic GUARANTEE is the suite's distance-ratio gate; the
    * ARITHMETIC is deterministic). Scale shape: the ±1 matrix is
    * dims_in×16 rows built from the element table's DISTINCT indices —
    * kilobytes, broadcast; the corpus-side cost is one element scan +
    * one map-combined (vec, dim) sum. 16× element fan-out, ids+e6
    * only.
    */
  def q262JlProjection(s: SparkSession, d: String): DataFrame = {
    val el = Tables.embeddings(s, d)
      .select(col("vec_id"), posexplode(col("embedding")))
      .select(col("vec_id"), (col("pos") + 1).cast("long").as("i"),
        floor(col("col").cast("double") * 1000000).cast("long").as("e6"))
    val dims = s.range(0, 16).select(col("id").as("dim"))
    val signs = el.select(col("i")).distinct()
      .crossJoin(dims)
      .select(col("i"), col("dim"),
        when(substring(md5(concat(col("dim").cast("string"), lit("_"),
          col("i").cast("string"))), 1, 1) < "8", 1L)
          .otherwise(-1L).as("sgn"))
    el.join(broadcast(signs), "i")
      .groupBy(col("vec_id"), col("dim"))
      .agg(sum(col("sgn") * col("e6")).cast("long").as("proj_e6"))
  }

  /** The exact Kruskal single-linkage merge replay shared by the q275
    * operator (driver-side over the bounded brand lattice) and its
    * spec: edges ascending by (d², a, b), min-label union, one merge
    * row per step — (step, d², left, right, merged size), where
    * left/right are the two components' min labels.
    */
  private[graft] def singleLinkageMerges(
      edges: Seq[(String, String, Long)])
      : Seq[(Long, Long, String, String, Long)] = {
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
    var label = nodes.map(b => b -> b).toMap
    val sorted = edges.sortBy { case (a, b, d2) => (d2, a, b) }
    val out = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Long, String, String, Long)]
    var step = 1L
    sorted.foreach { case (a, b, d2) =>
      val (la, lb) = (label(a), label(b))
      if (la != lb) {
        val lmin = if (la < lb) la else lb
        val lmax = if (la < lb) lb else la
        label = label.map { case (n, l) =>
          n -> (if (l == lmax) lmin else l) }
        out += ((step, d2, lmin, lmax,
          label.values.count(_ == lmin).toLong))
        step += 1
      }
    }
    out.toSeq
  }

  /** q275: SINGLE-LINKAGE HIERARCHICAL CLUSTERING of brands by
    * priority-mix profile (agglomerative clustering, Sibson's SLINK
    * family 1973; single linkage ≡ Kruskal's MST order — Gower & Ross
    * 1969): each brand's spend distribution over the five order
    * priorities becomes a ppm 5-vector, and the full merge DENDROGRAM
    * (24 steps for 25 brands) is reported with exact integer squared
    * distances — the hierarchy q194's flat k-means can't express (cut
    * it at any height for any k). ENGINE-EXACT: shares in rhu ppm on
    * the zero-filled brand×priority grid, d² = Σ Δppm² exact longs,
    * merge order totally determined by (d², a, b) with min-label
    * component naming. Scale shape: the corpus pays ONE cell
    * aggregate; the ≤ |brands|² edge lattice is a bounded artifact —
    * Kruskal runs driver-side (the q212/q263 precedent) while the
    * oracle unrolls the same 24 picks as MATERIALIZED CTE steps.
    */
  def q275SingleLinkage(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val cells = Tables.lineitem(s, d)
      .join(Tables.orders(s, d).select(col("o_orderkey"),
        col("o_orderpriority").as("prio")),
        col("l_orderkey") === col("o_orderkey"))
      .join(Tables.part(s, d).select(col("p_partkey"), col("p_brand")),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"), col("prio"))
      .agg(sum(expr("""CAST(CAST(l_extendedprice AS DECIMAL(18,4))
                       * 10000 AS BIGINT)""")).cast("decimal(38,0)")
        .as("_sp"))
    val tot = cells.groupBy(col("p_brand"))
      .agg(sum(col("_sp")).as("_tot"))
    val prios = cells.select(col("prio")).distinct()
    val grid = cells.select(col("p_brand")).distinct()
      .crossJoin(broadcast(prios))
      .join(cells, Seq("p_brand", "prio"), "left")
      .join(tot, "p_brand")
      .select(col("p_brand"), col("prio"),
        expr("""CAST((2000000 * coalesce(_sp, 0) + _tot)
                DIV (2 * _tot) AS BIGINT)""").as("ppm"))
    val pairs = grid.select(col("p_brand").as("a"), col("prio"),
        col("ppm").as("pa"))
      .join(grid.select(col("p_brand").as("b"), col("prio"),
        col("ppm").as("pb")), "prio")
      .filter(col("a") < col("b"))
      .groupBy(col("a"), col("b"))
      .agg(sum((col("pa") - col("pb")) * (col("pa") - col("pb")))
        .cast("long").as("d2"))
      .collect() // bounded: |brands|² edges
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    singleLinkageMerges(pairs.toSeq)
      .toDF("step", "d2_units", "left_brand", "right_brand",
        "merged_size")
  }

  /** The 8 ALS alternations over in-memory cells — shared by the
    * collected-cells path and the r15 driver-join fast path (factored
    * so the two can never diverge). Bit-identical order-free BigInt
    * sums; see [[q266AlsRank1]].
    */
  private def alsRank1Loop(bs: Array[Int], cs: Array[Long],
      rs: Array[Long], nB: Int, E12: BigInt, Cap: BigInt): Array[Long] = {
    val nC = bs.length
    def factor(srv: BigInt, sv2: BigInt): Long =
      ((2 * E12 * srv + sv2) / (2 * sv2)).min(Cap).toLong
    var vArr = Array.fill(nB)(1000000L)
    val uMap = new java.util.HashMap[java.lang.Long, java.lang.Long]()
    for (_ <- 1 to 8) {
      val uAcc = new java.util.HashMap[java.lang.Long, (BigInt, BigInt)]()
      var i = 0
      while (i < nC) {
        val ve = BigInt(vArr(bs(i)))
        val prev = uAcc.get(cs(i))
        val (a, b) = if (prev == null) (BigInt(0), BigInt(0)) else prev
        uAcc.put(cs(i), (a + BigInt(rs(i)) * ve, b + ve * ve))
        i += 1
      }
      uMap.clear()
      uAcc.forEach((k, ab) => uMap.put(k, factor(ab._1, ab._2)))
      val vAcc = Array.fill(nB)((BigInt(0), BigInt(0)))
      i = 0
      while (i < nC) {
        val ue = BigInt(uMap.get(cs(i)).longValue)
        val (a, b) = vAcc(bs(i))
        vAcc(bs(i)) = (a + BigInt(rs(i)) * ue, b + ue * ue)
        i += 1
      }
      vArr = vAcc.map { case (a, b) => factor(a, b) }
    }
    vArr
  }

  /** r15 fast path: the (cust, brand) rating cells built by a DRIVER
    * hash join of three packed collects (orders keys, lineitem rows
    // with the EXACT Spark-evaluated e4 price, part→brand dim) — no
    * distributed join/groupBy/checkpoint ever runs below the gates
    * (footer lineitem rows ≤ [[Gates.CopurchaseRows]]; aggregated
    * cells ≤ [[Gates.AlsCells]]; ≤255 brands and sub-2⁵⁵ custkeys for
    * the packed cell key — anything else falls back). The per-cell
    * rating replays the relational spelling exactly: exact long sum of
    * the Spark-cast e4 prices (addExact ≡ the ANSI sum), then
    * (2·sum+100) DIV 200 on non-negatives.
    */
  private def alsCellsDriver(s: SparkSession, d: String)
      : Option[(Array[Int], Array[Long], Array[Long], Array[String])] = {
    val maxRows = Gates.driver(s, Gates.CopurchaseRows)
    val maxCells = Gates.driver(s, Gates.AlsCells)
    if (maxRows <= 0 || maxCells <= 0) return None
    if (graft.sources.TableStatistics.tableRowCount(s, d, "lineitem")
        > maxRows) return None
    // part → (brandIx, brandIds): interned in collect order (order
    // only affects internal indexing — every output is keyed by the
    // brand STRING)
    val partBrand = Tables.part(s, d)
      .select(col("p_partkey"), col("p_brand")).collect()
    val brandIds = partBrand.map(_.getString(1)).distinct
    val brandIdx = brandIds.zipWithIndex.toMap
    val pkToB = new java.util.HashMap[java.lang.Long, Integer]()
    partBrand.foreach(r => pkToB.put(r.getLong(0), brandIdx(r.getString(1))))
    if (brandIds.length > 255) return None // packed (cust<<8 | brandIx)
    // orders → ok → cust
    val okToCust = new java.util.HashMap[java.lang.Long, java.lang.Long]()
    GraphOps.packedLongs(Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_custkey")), 2)
      .foreach { part =>
        var p = 0
        while (p < part.length) {
          okToCust.put(part(p), part(p + 1)); p += 2
        }
      }
    // lineitem with the EXACT relational e4 projection, packed
    val liPacked = GraphOps.packedLongs(Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_partkey"),
        expr("""CAST(CAST(l_extendedprice AS DECIMAL(18,4)) * 10000
                AS BIGINT)""").as("_e4")), 3)
    // driver hash join + (cust, brand) aggregation
    val acc = new java.util.HashMap[java.lang.Long, java.lang.Long]()
    var custOverflow = false
    liPacked.foreach { part =>
      var p = 0
      while (p < part.length) {
        val cust = okToCust.get(part(p))
        val bIx = pkToB.get(part(p + 1))
        // inner-join semantics: unmatched rows drop (orders/part are
        // complete dims in TPC-H, but replicate the join exactly)
        if (cust != null && bIx != null) {
          val c = cust.longValue
          if (c < 0 || c >= (1L << 55)) custOverflow = true
          else {
            val key = java.lang.Long.valueOf((c << 8) | bIx.longValue)
            val prev = acc.get(key)
            acc.put(key, java.lang.Long.valueOf(
              if (prev == null) part(p + 2)
              else Math.addExact(prev.longValue, part(p + 2))))
          }
        }
        p += 3
      }
    }
    if (custOverflow || acc.size() > maxCells) return None
    val nC = acc.size()
    val bs = new Array[Int](nC); val cs = new Array[Long](nC)
    val rs = new Array[Long](nC)
    var i = 0
    val it = acc.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      val key = e.getKey.longValue
      bs(i) = (key & 0xFF).toInt
      cs(i) = key >>> 8
      // the relational CAST((2*sum + 100) DIV (2*100) AS BIGINT)
      rs(i) = (2L * e.getValue.longValue + 100L) / 200L
      i += 1
    }
    Some((bs, cs, rs, brandIds))
  }

  /** q266's (cust, brand, r) rating cells, built relationally
    * (orders ⋈ lineitem ⋈ part, one groupBy) and checkpointed.
    */
  private[graft] def alsCells(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .join(Tables.lineitem(s, d),
        col("o_orderkey") === col("l_orderkey"))
      .join(Tables.part(s, d).select(col("p_partkey"), col("p_brand")),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("o_custkey").as("cust"), col("p_brand").as("brand"))
      .agg(expr("""CAST((2 * sum(CAST(CAST(l_extendedprice
                     AS DECIMAL(18,4)) * 10000 AS BIGINT)) + 100)
                   DIV (2 * 100) AS BIGINT)""").as("r"))
      .localCheckpoint(false)

  /** q266 over collected `cells`: brands interned in collect order,
    * then [[alsRank1Out]]. The caller checks the cell gate.
    */
  private[graft] def alsRank1Collected(s: SparkSession, cells: DataFrame)
      : DataFrame = {
    val rows = cells.collect()
    val brandIds = rows.map(_.getString(1)).distinct
    val brandIdx = brandIds.zipWithIndex.toMap
    alsRank1Out(s, rows.map(r => brandIdx(r.getString(1))),
      rows.map(_.getLong(0)), rows.map(_.getLong(2)), brandIds)
  }

  /** q266 over dense cell arrays (brand index, customer, rating): all 8
    * alternations of [[alsRank1Loop]] in memory, n_raters = cells per
    * brand.
    */
  private def alsRank1Out(s: SparkSession, bs: Array[Int], cs: Array[Long],
      rs: Array[Long], brandIds: Array[String]): DataFrame = {
    import s.implicits._
    val nB = brandIds.length
    val vArr = alsRank1Loop(bs, cs, rs, nB,
      BigInt(1000000000000L), BigInt(1000000000000000L))
    val nR = new Array[Long](nB)
    bs.foreach(b => nR(b) += 1)
    alsRanked((0 until nB).map(ix => (brandIds(ix), nR(ix), vArr(ix)))
      .toDF("brand", "n_raters", "v_e6"))
  }

  /** One ALS half-round's factor per key from its cells' (r, f):
    * `LEAST((2·1e12·Σ r·f + Σ f²) DIV (2·Σ f²), 1e15)` — the oracle's
    * round-half-up DECIMAL(38,0) division and [[alsRank1Loop]]'s
    * `factor` — over BigInteger sums, map-side combined like any sum.
    * DECIMAL(38,0) would overflow: the numerator grows with the cells
    * per key and passes 1e38 around sf3, just past [[Gates.AlsCells]].
    */
  private object AlsFactor
      extends Aggregator[(Long, Long), Array[java.math.BigInteger], Long] {
    import java.math.BigInteger
    private val E12x2 = BigInteger.valueOf(2000000000000L)
    private val Cap = BigInteger.valueOf(1000000000000000L)
    def zero: Array[BigInteger] = Array(BigInteger.ZERO, BigInteger.ZERO)
    def reduce(b: Array[BigInteger], rf: (Long, Long))
        : Array[BigInteger] = {
      val f = BigInteger.valueOf(rf._2)
      b(0) = b(0).add(BigInteger.valueOf(rf._1).multiply(f))
      b(1) = b(1).add(f.multiply(f))
      b
    }
    def merge(a: Array[BigInteger], b: Array[BigInteger])
        : Array[BigInteger] = {
      a(0) = a(0).add(b(0)); a(1) = a(1).add(b(1)); a
    }
    def finish(b: Array[BigInteger]): Long =
      E12x2.multiply(b(0)).add(b(1)).divide(b(1).shiftLeft(1))
        .min(Cap).longValue
    def bufferEncoder: Encoder[Array[BigInteger]] =
      Encoders.kryo[Array[BigInteger]]
    def outputEncoder: Encoder[Long] = Encoders.scalaLong
  }

  /** (brand, n_raters, v_e6) → q266's output, ranked by factor. */
  private def alsRanked(f: DataFrame): DataFrame =
    f.withColumn("brand_rank", expr(
        """CAST(row_number() OVER (ORDER BY v_e6 DESC, brand)
           AS BIGINT)"""))
      .select(col("brand"), col("n_raters"), col("v_e6"),
        col("brand_rank"))

  /** q266: RANK-1 ALS latent-factor model over the (customer, brand)
    * spend matrix (alternating least squares — Koren, Bell & Volinsky
    * IEEE Computer 2009; rank 1 is the dominant-singular-vector core
    * of every recommender embedding): 8 alternating rounds of
    * u_c = Σ r·v / Σ v², v_b = Σ r·u / Σ u² over OBSERVED cells only,
    * reported as the bounded brand-factor table — "which brands load
    * on the main taste axis" (the model-based complement of q125's
    * co-purchase similarity and q71/q248's mixing weights).
    *
    * ENGINE-EXACT: the alternation is a fixed integer recursion —
    * ratings in exact e2 cents, factors in e6 fixed point, every
    * update one round-half-up division of exact integer sums
    * (1e12-rescaled numerators keep the e6 scale), factors clamped at
    * 1e15 (documented; never binds on this data). The oracle unrolls
    * the 8 rounds as MATERIALIZED CTE pairs (the q263 rule) in
    * DECIMAL(38,0); the engine sums in unbounded integers, because the
    * 1e12-rescaled numerator passes 1e38 a little past the cell gate.
    *
    * Scale shape: two paths ([[alsRank1]]). Below [[Gates.AlsCells]]
    * the cells are collected once and all 8 alternations run in memory
    * ([[alsRank1Loop]]). Past it the corpus scan still happens ONCE
    * (cell aggregate, checkpointed), and each half-round is one
    * map-combined [[AlsFactor]] groupBy of the cells joined with the
    * OTHER side's factor table — brands broadcast, customers joined
    * unhinted (user factors outgrow a broadcast at corpus scale, brand
    * factors never do) — checkpointed per half-round. No
    * per-partition partial map ever crosses the driver.
    */
  def q266AlsRank1(s: SparkSession, d: String): DataFrame = {
    // r15: driver-join fast path (see [[alsCellsDriver]]) — the
    // distributed orders⋈lineitem⋈part + groupBy + checkpoint +
    // collect tower disappears below the gates; the SAME factored
    // [[alsRank1Loop]] runs either way, and the gate differential in
    // SimilaritySpec pins fast ≡ relational on the real data
    alsCellsDriver(s, d) match {
      case Some((bs, cs, rs, brandIds)) =>
        return alsRank1Out(s, bs, cs, rs, brandIds)
      case None =>
    }
    alsRank1(s, alsCells(s, d))
  }

  /** q266 over a `(cust, brand, r)` cell table: the in-memory
    * alternation below [[Gates.AlsCells]], the relational one past it.
    */
  private[graft] def alsRank1(s: SparkSession, cells: DataFrame)
      : DataFrame = {
    // r14: the cell table is (customer × brand)-bounded — below the
    // driver gate ALL 8 alternations run over ONE collected cell array
    // (BigInt sums are order-free, so per-partition partials merged on
    // the driver and a flat in-memory sum are the same integers),
    // killing the per-half-round jobs. The relational alternation
    // below is the >gate scale shape.
    val maxCells = Gates.driver(s, Gates.AlsCells)
    if (maxCells > 0 && cells.count() <= maxCells)
      return alsRank1Collected(s, cells)
    // past the cell gate: the 8 alternations run relationally, as the
    // oracle spells them — brand factors (v) broadcast, customer
    // factors (u) join unhinted (they outgrow a broadcast at corpus
    // scale), every half-round checkpointed
    val factor = udaf(AlsFactor,
      Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong))
    def half(factors: DataFrame, on: String, by: String): DataFrame =
      cells.join(factors, on).groupBy(col(by))
        .agg(factor(col("r"), col("f")).as("f"))
        .localCheckpoint(false)
    var v = cells.select(col("brand")).distinct()
      .withColumn("f", lit(1000000L))
    for (_ <- 1 to 8)
      v = half(half(broadcast(v), "brand", "cust"), "cust", "brand")
    val n = cells.groupBy(col("brand"))
      .agg(count(lit(1)).cast("long").as("n_raters"))
    alsRanked(v.withColumnRenamed("f", "v_e6").join(n, "brand"))
  }
}
