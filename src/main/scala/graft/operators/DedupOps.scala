package graft.operators

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deduplication operators over the `documents` table — the core of any
  * LLM training-data pipeline.
  *
  * Exact dedup is a hash-groupBy (one shuffle on the content hash).
  * Near-dup detection is MinHash + banded LSH: the shuffle key is the
  * (band, band-hash) bucket, so candidate pairs are generated inside
  * buckets — all-pairs comparison never happens, which is what keeps this
  * linear-ish at 100 TB.
  *
  * Hash families: each operator has exactly one, and no conf picks it.
  * Wherever an oracle replays the hash (q29–q31, q51, q218 here, and
  * q28's fingerprint in TextOps) it is md5, which DuckDB computes
  * identically. xxhash64 MinHash ([[signatureIndex]]) is used only by
  * [[incrementalDedup]] and its self-join form [[minhashCandidates]]:
  * that operator has no oracle, and its signatures are 2.3–3.3×
  * cheaper than md5's.
  */
object DedupOps {

  private def normText: Column = lower(trim(col("text")))
  private def tokens(c: Column): Column = split(c, "\\s+")

  /** 23. Exact dedup: md5 over normalized text, keep the smallest doc_id
    * per content hash (deterministic winner), count the duplicates.
    */
  def exactDedup(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), md5(encode(normText, "UTF-8")).as("content_hash"))
      .groupBy(col("content_hash"))
      .agg(min(col("doc_id")).as("keep_doc_id"),
        count(lit(1)).as("dup_count"))

  def q23ExactDedup(s: SparkSession, d: String): DataFrame =
    exactDedup(Tables.documents(s, d))

  // ---- MinHash machinery ------------------------------------------------

  private val NumHashes = 32
  private val Bands = 8                   // 8 bands × 4 rows
  private val RowsPerBand = NumHashes / Bands
  private val ShingleSize = 3

  /** Native one-pass `shingles(tokens(normText), k)` with the SQL
    * spelling's NULL semantics: a null `text` yields the [""]
    * singleton (concat_ws skips the null token array), exactly like
    * the HOF chain. Value-identical incl. first-occurrence order
    * (WordShinglesSpec pins it); ~3× faster on the corpus scan —
    * the HOF lambda ran interpreted per shingle window.
    */
  private def nativeShingles(k: Int): Column =
    when(col("text").isNull, array(lit("")))
      .otherwise(graft.functions.WordShingles.shingles(col("text"), k))

  /** MinHash signature. Each shingle STRING is hashed exactly once; the
    * 32-function family is derived inside the native `graft_minhash`
    * kernel by re-hashing the long with the function index (one
    * codegen'd k×L loop — the built-in HOF formulation ran interpreted
    * and dominated the benchmark). No shuffle, no UDF.
    */
  private def signature(shingleCol: Column): Column =
    graft.functions.MinHashExpression.minhashSig(
      transform(shingleCol, x => xxhash64(x)), NumHashes)

  /** LSH band keys of the `sig` column: band b is its RowsPerBand
    * minima, comma-joined (both families band the same way).
    */
  private def bandKeys: Seq[Column] = (0 until Bands).map { b =>
    concat_ws(",", (0 until RowsPerBand).map(r =>
      element_at(col("sig"), b * RowsPerBand + r + 1)): _*)
  }

  /** xxhash64 band hashes of the `sig` column, one long per band. */
  private def bandHashes: Column = array(bandKeys.map(xxhash64(_)): _*)

  /** Jaccard estimate of an xxhash64 signature pair (`sig_a`, `sig_b`):
    * the share of agreeing minima, rounded to 3 places.
    */
  private def estJaccard: Column =
    round(graft.functions.MinHashExpression
      .sigAgreement(col("sig_a"), col("sig_b"))
      .cast("double") / NumHashes, 3)

  /** A corpus with planted near-duplicates: every document plus a copy
    * (doc_id + 1,000,000) with its first token dropped. Gives the near-dup
    * detectors a known ground truth (and a non-empty result) on data whose
    * natural documents are mutually dissimilar.
    */
  def corpusWithPlantedDups(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select("doc_id", "text")
    val perturbed = docs.select(
      // the +1,000,000 offset is what q218/q226 invert with `% 1000000`
      // to map a planted copy back to its source — a corpus with ids
      // ≥ 1,000,000 would alias planted and natural ids and
      // mis-attribute silently on BOTH engines (the gate can't see
      // it), so the bound is asserted per row, mirroring
      // triangleCounts' packed-key guard
      when(assert_true(col("doc_id") >= 0 && col("doc_id") < 1000000L,
          lit("corpusWithPlantedDups: doc_id must be in [0, 1e6) — " +
            "the planted-copy offset would alias")).isNull,
        col("doc_id") + 1000000L).as("doc_id"),
      // drop the first token: everything after the first space
      expr("substring(text, instr(text, ' ') + 1)").as("text"))
    docs.unionByName(perturbed)
  }

  /** xxhash64 MinHash + LSH near-dup candidates within one corpus:
    * signature → band hashes → explode (band_id, band_hash) → self-join
    * on the bucket → estimate Jaccard from signature agreement →
    * threshold. The self-join form of [[incrementalDedupWithIndex]]'s
    * banding (same signatures, band hashes and estimate).
    */
  def minhashCandidates(docs: DataFrame, threshold: Double): DataFrame = {
    // tokens materialized as a bound column BEFORE shingling: the slice
    // inside the shingle lambda would otherwise re-tokenize the text
    // once per shingle window (O(L²) per doc)
    //
    // localCheckpoint (lazy): the signature table is read three times
    // (band explode + the two re-attach joins) — materialize the
    // shingle+signature pipeline once. Unlike persist(), checkpoint
    // blocks are released by the ContextCleaner when the plan is
    // unreferenced — no leaked cache across bench reps. At cluster
    // scale this is the signature table written to storage.
    val sig = docs
      .select(col("doc_id"),
        nativeShingles(ShingleSize).as("sh"))
      .select(col("doc_id"),
        signature(col("sh")).as("sig"))
      .localCheckpoint(false)

    // Candidate generation carries IDS ONLY (doc_id + one band hash)
    // through the bucket self-join and the pair dedup — the 32-long
    // signatures would multiply shuffle volume ~30× (CLAUDE.md rule;
    // same shape as simhashNearDup below). Signatures re-attach by id
    // AFTER the dedup, when pairs are a tiny fraction of the corpus.
    val banded = sig
      .select(col("doc_id"),
        posexplode(bandHashes).as(Seq("band_id", "band_hash")))

    val a = banded.select(col("doc_id").as("doc_a"), col("band_id"),
      col("band_hash"))
    val b = banded.select(col("doc_id").as("doc_b"), col("band_id"),
      col("band_hash"))

    val pairs = a.join(b, Seq("band_id", "band_hash"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b")
      .dropDuplicates("doc_a", "doc_b")

    pairs
      .join(sig.select(col("doc_id").as("doc_a"), col("sig").as("sig_a")),
        "doc_a")
      .join(sig.select(col("doc_id").as("doc_b"), col("sig").as("sig_b")),
        "doc_b")
      .withColumn("est_jaccard", estJaccard)
      .filter(col("est_jaccard") >= threshold)
      .select("doc_a", "doc_b", "est_jaccard")
  }

  /** q29's MinHash + LSH: the same 32-hash / 8-band LSH shape as
    * [[minhashCandidates]], with the engine-identical md5 hash family
    * (min over md5 hex strings — the q31/q218 precedent) in place of
    * xxhash64, which makes the WHOLE pipeline (band keys, candidate
    * pairs, signature-agreement estimate) replayable in ANSI SQL and
    * checkable against the full oracle. Band keys are the comma-joined
    * minima themselves (strings — no engine-private band hash), the
    * 0.5 threshold is the integer compare agree·2 ≥ 32 (no float
    * boundary), and the agreement count runs only on the
    * candidate-bounded pair table (the zip_with HOF is interpreted —
    * fine at pair grain, never corpus grain). est_jaccard =
    * ROUND(agree/32, 3) is exact-dyadic before rounding, so both
    * engines round the same true value.
    */
  def minhashCandidatesMd5(docs: DataFrame, minAgree: Int): DataFrame = {
    val sig = docs
      .select(col("doc_id"), nativeShingles(ShingleSize).as("sh"))
      .select(col("doc_id"),
        graft.functions.Md5MinHashExpression
          .md5MinHash(col("sh"), NumHashes).as("sig"))
      .localCheckpoint(false)
    val banded = sig.select(col("doc_id"),
      posexplode(array(bandKeys: _*)).as(Seq("band_id", "band_key")))
    val a = banded.select(col("doc_id").as("doc_a"), col("band_id"),
      col("band_key"))
    val b = banded.select(col("doc_id").as("doc_b"), col("band_id"),
      col("band_key"))
    val pairs = a.join(b, Seq("band_id", "band_key"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b")
      .dropDuplicates("doc_a", "doc_b")
    val agree = size(filter(
      zip_with(col("sig_a"), col("sig_b"), (x, y) => x === y),
      bb => bb))
    pairs
      .join(sig.select(col("doc_id").as("doc_a"), col("sig").as("sig_a")),
        "doc_a")
      .join(sig.select(col("doc_id").as("doc_b"), col("sig").as("sig_b")),
        "doc_b")
      .withColumn("_agree", agree)
      .filter(col("_agree") * 2 >= lit(2 * minAgree))
      .select(col("doc_a"), col("doc_b"),
        round(col("_agree").cast("double") / NumHashes, 3)
          .as("est_jaccard"))
  }

  /** 29. MinHash + LSH near-dup candidates over the planted-dup
    * corpus, in the md5 family the oracle replays.
    */
  def q29MinhashLsh(s: SparkSession, d: String): DataFrame =
    minhashCandidatesMd5(corpusWithPlantedDups(s, d), minAgree = 16)

  /** 64-bit md5 SimHash of the `text` column
    * ([[graft.functions.Md5SimHashExpression]]): bit b is the sign of
    * the ±1 vote sum over the tokens' md5 bits at position b.
    */
  private def simhash: Column =
    graft.functions.Md5SimHashExpression.md5SimHash(tokens(normText))

  /** [[simhash]]'s votes in DuckDB over `table(doc_id, text)`: `tkn`
    * (tokens), `hxs` (their md5), `nib` (16 hex nibbles) and
    * `votes(doc_id, v0…v63)`, the ±1 vote sum of bit b = bit b % 4 of
    * nibble b / 4 over the doc's tokens.
    */
  def md5SimhashVoteCtes(table: String): String = {
    val nibs = (0 until 16).map(p =>
      s"strpos('0123456789abcdef', substr(hx, ${p + 1}, 1)) - 1 AS n$p")
      .mkString(",\n                  ")
    val votes = (0 until 64).map { b =>
      val p = b / 4
      val m = 1 << (b % 4)
      s"SUM(CASE WHEN ((n$p // $m) % 2) = 1 THEN 1 ELSE -1 END) AS v$b"
    }.mkString(",\n                  ")
    s"""tkn AS (
           SELECT doc_id,
                  unnest(string_split_regex(lower(trim(text)), '\\s+')) AS t
           FROM $table
         ), hxs AS (
           SELECT doc_id, md5(t) AS hx FROM tkn
         ), nib AS (
           SELECT doc_id,
                  $nibs
           FROM hxs
         ), votes AS (
           SELECT doc_id,
                  $votes
           FROM nib GROUP BY doc_id
         )"""
  }

  /** 30. SimHash per document. The oracle rebuilds the signed long as
    * Σ_{b<63} s_b·2^b − s63·2^63, all BIGINT.
    */
  def q30Simhash(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).select(col("doc_id"), simhash.as("simhash"))

  /** Band plan for a 64-bit simhash at corpus size `nRows`: disjoint
    * bands sized so the band keyspace 2^bits stays ≥ nRows/32 — i.e.
    * average bucket population stays ~32 as the corpus grows. A FIXED
    * band width is the scale-killer here: 16-bit bands have only 65,536
    * keys per band, so bucket population grows linearly with the corpus
    * and candidate pairs grow ~n²/2^16 — quadratic once n ≫ 65k.
    * Widening the bands (fewer of them) keeps the bucket join linear.
    *
    * Trade-off (documented, deliberate): `bands` disjoint bands
    * pigeonhole-guarantee recall only up to Hamming distance bands-1
    * (4 bands → ≤3, 2 bands → ≤1). Pairs at larger distances are found
    * only when they happen to agree on a full band — the output is a
    * CANDIDATE set, refined by the exact `bit_count` filter, not an
    * exhaustive enumeration at distances above bands-1. Raising recall
    * at scale means more tables (re-banding under independent bit
    * permutations), not narrower bands.
    *
    * @return (bands, bitsPerBand); bands × bits ≤ 64, bits ∈ [16, 32].
    */
  def simhashBandPlan(nRows: Long): (Int, Int) = {
    val needed = math.max(16, math.ceil(
      math.log(math.max(nRows, 1L).toDouble / 32) / math.log(2)).toInt)
    val bands = math.max(2, 64 / math.min(needed, 32))
    (bands, 64 / bands)
  }

  /** 51. SimHash near-dup pairs at scale: split the 64-bit md5
    * signature into disjoint bands (width sized from the corpus row
    * count — see [[simhashBandPlan]]) — by pigeonhole, any pair within
    * Hamming distance bands-1 shares at least one exact band, so
    * candidates come from band-keyed bucket joins (never all-pairs);
    * then the exact `bit_count(a XOR b)` filter keeps pairs ≤
    * `maxHamming`. Note maxHamming above bands-1 is candidates-only
    * recall (partial), per the band-plan scaladoc. The oracle replays
    * the md5 bits ([[graft.functions.Md5SimHashExpression]] — bit b of
    * token t is bit b%4 of hex char b/4 of md5(t)) and regenerates the
    * same band plan from `count(*)` with a CASE over the rule's three
    * regimes ((4,16) ≤ 2²¹ rows, (3,21) ≤ 2²⁶, else (2,32)).
    *
    * @param nRows corpus row count (from catalog/footer stats — sizes
    *   the bands without scanning).
    */
  def simhashNearDup(docs: DataFrame, maxHamming: Int, nRows: Long)
      : DataFrame = {
    val (bands, bits) = simhashBandPlan(nRows)
    val mask = if (bits == 64) -1L else (1L << bits) - 1L
    val bandVals = (0 until bands).map(b =>
      shiftrightunsigned(col("simhash"), b * bits).bitwiseAND(mask))
    val banded = docs.select(col("doc_id"), simhash.as("simhash"))
      .select(col("doc_id"), col("simhash"),
        posexplode(array(bandVals: _*)).as(Seq("band_id", "band_val")))
    val a = banded.select(col("doc_id").as("doc_a"),
      col("simhash").as("sh_a"), col("band_id"), col("band_val"))
    val b = banded.select(col("doc_id").as("doc_b"),
      col("simhash").as("sh_b"), col("band_id"), col("band_val"))
    a.join(b, Seq("band_id", "band_val"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        // long, not int: the driver gate type-checks against the
        // oracle's BIGINT (the row_number precedent)
        bit_count(col("sh_a").bitwiseXOR(col("sh_b"))).cast("long")
          .as("hamming"))
      .dropDuplicates("doc_a", "doc_b")
      .filter(col("hamming") <= maxHamming)
  }

  /** q51 over the planted-dup corpus; the band plan is footer-sized,
    * never scanned.
    */
  def q51SimhashNearDup(s: SparkSession, d: String): DataFrame = {
    val nRows = 2 * graft.sources.TableStatistics
      .tableRowCount(s, d, "documents")
    simhashNearDup(corpusWithPlantedDups(s, d), maxHamming = 12,
      nRows = nRows)
  }

  // ---- Exact-Jaccard verify over LSH candidates (q31) -------------------

  private val VerifyBands = 4
  private val VerifyRowsPerBand = 2

  /** 31. Exact n-gram (token-set) Jaccard — the verify stage behind LSH
    * candidates. Candidates come from a banded MinHash over md5 shingle
    * hashes: md5 produces the same hex string in every engine and min
    * over hex strings is plain lexicographic order, so the ENTIRE
    * pipeline (candidate generation + exact verify) is reproducible in
    * ANSI SQL and oracle-checked end to end. Never all-pairs: the only
    * pair-producing shuffle is keyed by (band, band-minima) — a blocked
    * all-pairs join (e.g. on `source`) grows quadratically with block
    * population and dies at 100×.
    *
    * The verify stage is layered on the same LSH shape as q29.
    * Returns the pair-level EXACT integers (doc_a, doc_b, inter, na,
    * nb) so every consumer (q31's rounded jaccard, q218's
    * integer-mills rollup) derives its own emission without
    * re-verifying.
    */
  def ngramVerifiedPairs(docs: DataFrame): DataFrame = {
    // toks (for the exact verify) and shingles (for the candidate
    // stage) materialized once; read by the band explode and both
    // re-attach joins.
    // r15: both arrays native one-pass — k=1 shingles ARE the distinct
    // token set (null → null, matching array_distinct of a null split)
    val base = docs
      .select(col("doc_id"),
        graft.functions.WordShingles
          .shingles(col("text"), 1).as("toks"),
        nativeShingles(ShingleSize).as("sh"))
      .localCheckpoint(false)

    // 8 MinHash functions = min over md5(i + '|' + shingle) hex strings,
    // computed by the native codegen'd expression (one k×L loop per row)
    val nHashes = VerifyBands * VerifyRowsPerBand
    val bandKeys = array((0 until VerifyBands).map { b =>
      concat_ws(",", (0 until VerifyRowsPerBand).map(r =>
        element_at(col("ms"), b * VerifyRowsPerBand + r + 1)): _*)
    }: _*)

    // ids only through the bucket join + pair dedup
    val banded = base
      .select(col("doc_id"),
        graft.functions.Md5MinHashExpression
          .md5MinHash(col("sh"), nHashes).as("ms"))
      .select(col("doc_id"),
        posexplode(bandKeys).as(Seq("band_id", "band_key")))
    val aa = banded.select(col("doc_id").as("doc_a"), col("band_id"),
      col("band_key"))
    val bb = banded.select(col("doc_id").as("doc_b"), col("band_id"),
      col("band_key"))
    val pairs = aa.join(bb, Seq("band_id", "band_key"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b")
      .dropDuplicates("doc_a", "doc_b")

    // exact verify: re-attach distinct-token sets by id, one intersect
    // per surviving pair; |A∪B| = |A| + |B| - |A∩B| (no union array)
    val inter = size(array_intersect(col("toks_a"), col("toks_b")))
    pairs
      .join(base.select(col("doc_id").as("doc_a"), col("toks").as("toks_a")),
        "doc_a")
      .join(base.select(col("doc_id").as("doc_b"), col("toks").as("toks_b")),
        "doc_b")
      .withColumn("inter", inter)
      .select(col("doc_a"), col("doc_b"), col("inter").cast("long")
          .as("inter"),
        size(col("toks_a")).cast("long").as("na"),
        size(col("toks_b")).cast("long").as("nb"))
  }

  // ---- The same pipelines in DuckDB SQL (the oracles' CTEs) ----------

  /** [[corpusWithPlantedDups]] as the CTE `corpus(doc_id, text)`. */
  val plantedCorpusCte: String =
    """corpus AS (
           SELECT doc_id, text FROM documents
           UNION ALL
           SELECT doc_id + 1000000, substr(text, strpos(text, ' ') + 1)
           FROM documents
         )"""

  /** The md5 MinHash banding over a CTE `corpus(keys…, text)`: `base`
    * (tokens), `sh` (distinct tokens `toks`, word 3-shingles `sh`),
    * `sigs` (`nHashes` minima `m0…` of md5('j|' || shingle); MATERIALIZED,
    * q29 reads it again for the agreement count) and `banded` (keys,
    * band_id, band_key = `bands` comma-joined runs of minima) — the
    * signatures and band keys of [[minhashCandidatesMd5]],
    * [[ngramVerifiedPairs]] and [[nearDupContamination]].
    */
  def md5BandCtes(keys: String,
      nHashes: Int = VerifyBands * VerifyRowsPerBand,
      bands: Int = VerifyBands): String = {
    val rows = nHashes / bands
    val minima = (0 until nHashes).map(j =>
      s"list_min(list_transform(sh, x -> md5('$j|' || x))) AS m$j")
      .mkString(",\n                  ")
    val bandKeys = (0 until bands).map(b =>
      (0 until rows).map(r => s"m${b * rows + r}").mkString(" || ',' || "))
      .mkString(",\n                          ")
    s"""base AS (
           SELECT $keys, string_split_regex(lower(trim(text)), '\\s+') AS tk
           FROM corpus
         ), sh AS (
           SELECT $keys, list_distinct(tk) AS toks,
                  CASE WHEN len(tk) >= 3 THEN
                    list_distinct([tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]
                                   for i in range(1, len(tk) - 1)])
                  ELSE [array_to_string(tk, ' ')] END AS sh
           FROM base
         ), sigs AS MATERIALIZED (
           SELECT $keys,
                  $minima
           FROM sh
         ), banded AS (
           SELECT $keys,
                  unnest([${(0 until bands).mkString(", ")}]) AS band_id,
                  unnest([$bandKeys]) AS band_key
           FROM sigs
         )"""
  }

  /** [[corpusWithPlantedDups]] as `corpus`, [[md5BandCtes]] over it, and
    * `pairs(doc_a < doc_b)`: the distinct pairs sharing a band key.
    */
  def md5CandidateCtes(nHashes: Int = VerifyBands * VerifyRowsPerBand,
      bands: Int = VerifyBands): String =
    s"""$plantedCorpusCte, ${md5BandCtes("doc_id", nHashes, bands)}, pairs AS (
           SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
           FROM banded a JOIN banded b
             ON a.band_id = b.band_id AND a.band_key = b.band_key
            AND a.doc_id < b.doc_id
         )"""

  /** [[ngramVerifiedPairs]] over [[corpusWithPlantedDups]]: the
    * candidate CTEs plus `iv(doc_a, doc_b, inter, na, nb)`.
    */
  def ngramVerifiedPairsCtes: String =
    s"""${md5CandidateCtes()}, iv AS (
           SELECT p.doc_a, p.doc_b,
                  len(list_intersect(ta.toks, tb.toks)) AS inter,
                  len(ta.toks) AS na, len(tb.toks) AS nb
           FROM pairs p
           JOIN sh ta ON ta.doc_id = p.doc_a
           JOIN sh tb ON tb.doc_id = p.doc_b
         )"""

  /** [[ngramVerifiedPairs]] reduced to q31's rounded-double contract:
    * (doc_a, doc_b, jaccard ROUND-3). Kept as the public verify shape;
    * consumers needing exact integer similarity (q218's rollup) read
    * the (inter, na, nb) triple instead.
    */
  def ngramJaccardVerify(docs: DataFrame): DataFrame =
    ngramVerifiedPairs(docs)
      .select(col("doc_a"), col("doc_b"),
        round(col("inter").cast("double") /
          (col("na") + col("nb") - col("inter")), 3).as("jaccard"))

  def q31NgramJaccard(s: SparkSession, d: String): DataFrame =
    ngramJaccardVerify(corpusWithPlantedDups(s, d))

  /** q218: near-duplicate PROVENANCE matrix — verified near-dup pairs
    * (exact n-gram Jaccard ≥ 0.7 over the LSH candidates, the q31/q61
    * machinery) rolled up to the (source, source) grain: which source
    * pairs the duplication actually comes from. The first question a
    * corpus owner asks after a dedup run ("is it re-crawls within one
    * source, or mirrors ACROSS sources?") — it decides whether the fix
    * is crawler dedup or source-level blocklisting. Diagonal rows are
    * within-source duplication; off-diagonal rows are cross-source
    * mirrors.
    *
    * Scale shape: the pair table is candidate-bounded (LSH bands →
    * ids-only bucket join, never all-pairs); source attribution is two
    * id-keyed joins of that bounded table against the doc→source map;
    * the matrix itself is |sources|²-bounded. Integer determinism: the
    * threshold is the exact rational 10·inter ≥ 7·|A∪B| (no float
    * compare) and the reported max similarity is integer mills by
    * round-half-up — no double ever aggregates.
    */
  def q218DupSourceMatrix(s: SparkSession, d: String): DataFrame = {
    val flt = ngramVerifiedPairs(corpusWithPlantedDups(s, d))
      .withColumn("_den", col("na") + col("nb") - col("inter"))
      .filter(col("inter") * lit(10L) >= col("_den") * lit(7L))
      .select((col("doc_a") % 1000000L).as("_ba"),
        (col("doc_b") % 1000000L).as("_bb"),
        expr("CAST((2 * 1000 * inter + _den) DIV (2 * _den) AS BIGINT)")
          .as("_jm"))
    val src = Tables.documents(s, d).select(col("doc_id"), col("source"))
    flt
      .join(src.select(col("doc_id").as("_ba"), col("source").as("_sa")),
        "_ba")
      .join(src.select(col("doc_id").as("_bb"), col("source").as("_sb")),
        "_bb")
      .groupBy(least(col("_sa"), col("_sb")).as("source_a"),
        greatest(col("_sa"), col("_sb")).as("source_b"))
      .agg(count(lit(1)).cast("long").as("n_pairs"),
        max(col("_jm")).as("max_j_mills"))
  }

  /** q226: dedup YIELD CURVE — how many verified near-dup pairs (and
    * how many distinct documents) survive each Jaccard threshold in
    * {0.5, 0.7, 0.9}. The tuning table a dedup rollout reads before
    * fixing the production threshold: too low and distinct documents
    * get merged, too high and mirrors survive — the curve shows where
    * the volume lives so the threshold is a decision, not a guess
    * (q218 says WHERE duplication comes from; this says HOW MUCH goes
    * away per setting).
    *
    * Scale shape: ONE LSH verify pass (the q31 candidate-bounded
    * machinery) checkpointed, then a constant 3-threshold fan over the
    * bounded pair table (the q205 pattern) — each threshold one count
    * + one single-column distinct count (no Expand: one distinct per
    * aggregate, the q60 rule). Thresholds compare as exact rationals
    * (1000·inter ≥ t·|A∪B|) — no float ever compares.
    */
  def q226DedupYield(s: SparkSession, d: String): DataFrame = {
    val pairs = ngramVerifiedPairs(corpusWithPlantedDups(s, d))
      .select(col("doc_a"), col("doc_b"),
        (lit(1000L) * col("inter")).as("_sc"),
        (col("na") + col("nb") - col("inter")).as("_den"))
      .localCheckpoint(false) // candidate-bounded; feeds the fan
    Seq(500L, 700L, 900L).map { t =>
      val f = pairs.filter(col("_sc") >= lit(t) * col("_den"))
      f.agg(count(lit(1)).cast("long").as("n_pairs"))
        .crossJoin(f.select(explode(array(col("doc_a"), col("doc_b")))
            .as("_d"))
          .agg(countDistinct(col("_d")).cast("long")
            .as("n_docs_involved")))
        .withColumn("threshold_mills", lit(t))
        .select(col("threshold_mills"), col("n_pairs"),
          col("n_docs_involved"))
    }.reduce(_ unionByName _)
  }

  /** 61. Near-dup clusters: connected components over the verified
    * candidate pairs, canonical doc = component minimum — the step that
    * turns pairwise similarity into an actual keep/drop decision.
    * Distributed min-label propagation: each round is ONE job — the
    * eager localCheckpoint that materializes the round's labels also
    * drives a changed-row accumulator, so fixpoint detection costs no
    * separate count() job. (Accumulator updates from retried/speculative
    * tasks can only OVER-count, which at worst buys one extra no-op
    * round — never a premature stop.) State is (node, label) only,
    * lineage cut per round. Rounds needed = component diameter —
    * near-dup clusters are shallow (pairs/triangles), so convergence is
    * 2–3 rounds; the loop stops at fixpoint.
    *
    * @param maxRounds cap on propagation rounds (≥ the deepest expected
    *   component diameter). If the cap is hit before fixpoint the result
    *   labels are NOT fully converged and would diverge from a
    *   transitive-closure oracle — that is logged loudly rather than
    *   returned silently.
    */
  def dedupClusters(pairs: DataFrame, maxRounds: Int = 25): DataFrame = {
    // the accumulator-fixpoint loop lives in GraphOps.minLabelComponents
    // (generalized there for the incremental-CC row); behavior is
    // identical to the original in-place loop
    val edges = pairs
      .select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .unionByName(pairs.select(col("doc_b").as("src"),
        col("doc_a").as("dst")))
      .distinct()
    GraphOps.minLabelComponents(edges, maxRounds)
      .select(col("node").as("doc_id"),
        col("component").as("canonical_id"))
  }

  def q61DedupClusters(s: SparkSession, d: String): DataFrame =
    dedupClusters(
      ngramJaccardVerify(corpusWithPlantedDups(s, d))
        .filter(col("jaccard") >= 0.5))

  /** 76. Benchmark-contamination check — the training-data hygiene step
    * every LLM pipeline needs: flag corpus documents sharing any word
    * n-gram with a held-out benchmark/eval set, so eval questions never
    * leak into training data. (The reference has no counterpart; the
    * shingle machinery is shared with the near-dup family above.)
    *
    * 100-TB shape: eval suites are tiny (thousands of documents) next
    * to the corpus, so the benchmark's distinct shingles BROADCAST and
    * the corpus is never shuffled — one scan, a broadcast-hash join per
    * shingle, then a map-side-combining count per doc. All-pairs or a
    * shuffle keyed by shingle (corpus-sized explode through the wire)
    * never happens.
    */
  def contamination(docs: DataFrame, benchmark: DataFrame): DataFrame = {
    def shingled(df: DataFrame) = df
      .select(col("doc_id"), explode(
        nativeShingles(ShingleSize)).as("sh"))
    val bench = broadcast(shingled(benchmark).select("sh").distinct())
    shingled(docs)
      .join(bench, "sh")
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("sh")).as("n_shared"))
  }

  def q62Contamination(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select("doc_id", "text")
    contamination(
      docs.filter(col("doc_id") % 20 =!= 0),
      docs.filter(col("doc_id") % 20 === 0))
  }

  /** 100. Cross-corpus near-dup decontamination: flag TRAINING docs that
    * are near-duplicates of a held-out EVALUATION set — the dedup-grade
    * counterpart of q62's exact n-gram contamination check (paraphrased
    * or lightly-edited benchmark leakage survives exact shingle
    * matching; near-dup matching catches it). Candidates come from the
    * cross-engine md5-MinHash band family (q31): train bands join eval
    * bands on (band, key) — NEVER a train × eval all-pairs — with ids
    * only through the join; distinct-token sets re-attach for the
    * exact-Jaccard verify, and each train doc keeps its single best
    * match (round-half-up integer thousandths, eval-id tie-break) via
    * the TopKPerKey heap operator.
    *
    * Scale: an eval set small enough to broadcast should use q62's
    * broadcast shape; this pipeline doesn't depend on it — both sides
    * shuffle only (band, key, id) rows, so a benchmark suite too large
    * to broadcast still works, and candidate volume is bounded by band
    * collisions, not |train| × |eval|.
    */
  def nearDupContamination(train: DataFrame, eval: DataFrame,
      minJaccardPpt: Long = 500L): DataFrame = {
    val nHashes = VerifyBands * VerifyRowsPerBand
    // Null-text docs all share the minhash of the single empty shingle
    // (tokens() stays null but shingles() falls to its
    // concat_ws-of-all-tokens branch, and concat_ws(' ', null) = '' —
    // so sh = [''] with a real, shared signature). Their band keys are
    // identical real values, band-joining every null-text train doc
    // against every null-text eval doc — a quadratic bucket whose pairs
    // only die at the jaccard filter (toks is null, matching the
    // oracle, whose NULL band keys never join). Drop them before
    // banding so the quadratic join never forms.
    def base(df: DataFrame) = df
      .filter(col("text").isNotNull)
      .select(col("doc_id"),
        graft.functions.WordShingles.shingles(col("text"), 1)
          .as("toks"),
        graft.functions.WordShingles.shingles(col("text"), ShingleSize)
          .as("sh"))
      .localCheckpoint(false)
    val bandKeys = array((0 until VerifyBands).map { b =>
      concat_ws(",", (0 until VerifyRowsPerBand).map(r =>
        element_at(col("ms"), b * VerifyRowsPerBand + r + 1)): _*)
    }: _*)
    def banded(b: DataFrame) = b
      .select(col("doc_id"), graft.functions.Md5MinHashExpression
        .md5MinHash(col("sh"), nHashes).as("ms"))
      .select(col("doc_id"),
        posexplode(bandKeys).as(Seq("band_id", "band_key")))
    val tb = base(train)
    val eb = base(eval)
    val pairs = banded(tb).toDF("train_doc", "band_id", "band_key")
      .join(banded(eb).toDF("eval_doc", "band_id", "band_key"),
        Seq("band_id", "band_key"))
      .select("train_doc", "eval_doc")
      .dropDuplicates("train_doc", "eval_doc")
    val scored = pairs
      .join(tb.select(col("doc_id").as("train_doc"),
        col("toks").as("toks_a")), "train_doc")
      .join(eb.select(col("doc_id").as("eval_doc"),
        col("toks").as("toks_b")), "eval_doc")
      .withColumn("inter",
        size(array_intersect(col("toks_a"), col("toks_b"))).cast("long"))
      .withColumn("uni", size(col("toks_a")).cast("long") +
        size(col("toks_b")) - col("inter"))
      .withColumn("jac_ppt", expr("(inter * 2000 + uni) div (2 * uni)"))
      .filter(col("jac_ppt") >= minJaccardPpt)
      .select(col("train_doc"), col("eval_doc"), col("jac_ppt"))
    graft.plans.TopK.perKey(scored, keys = Seq("train_doc"),
        order = Seq(("jac_ppt", true), ("eval_doc", false)), k = 1)
      .withColumn("jaccard", col("jac_ppt").cast("double") / 1000)
      .select("train_doc", "eval_doc", "jaccard")
  }

  /** Eval set = every 10th doc, lightly edited (first token dropped) and
    * re-keyed — planted paraphrase-grade leakage with known ground truth
    * (the natural corpus is mutually dissimilar).
    */
  def q84NearDupContam(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select("doc_id", "text")
    val heldOut = docs.filter(col("doc_id") % 10 === 0)
      .select((col("doc_id") + 1000000L).as("doc_id"),
        expr("substring(text, instr(text, ' ') + 1)").as("text"))
    nearDupContamination(docs, heldOut)
  }

  /** 93. Incremental near-dup admission: admit only the incoming docs
    * that are near-duplicates of neither the EXISTING corpus nor an
    * earlier (smaller-id) incoming doc — what each crawl refresh runs
    * instead of re-deduping 100 TB from scratch.
    *
    * Scale shape: the existing corpus participates only through its
    * banded MinHash SIGNATURE index — (doc_id, band, hash) rows, the
    * thing a production pipeline persists between runs — so existing
    * text is read once ever, not once per refresh. The bucket join is
    * incoming-bands ⋈ (existing ∪ earlier-incoming) bands, ids only;
    * its size is bounded by the BATCH, not the corpus. Verification
    * re-attaches signatures by id (the q29 rule) and thresholds the
    * signature-agreement Jaccard estimate.
    */
  /** The banded-MinHash signature index of a corpus: (doc_id, sig) —
    * the artifact a production pipeline PERSISTS between refreshes so
    * corpus text is read once ever. Feed it to
    * [[incrementalDedupWithIndex]]; append admitted docs' rows on
    * admission.
    *
    * Null-text policy (explicit): docs with NULL text carry no content
    * signal, so they NEVER enter the index and are therefore always
    * ADMITTED by incremental dedup (the anti-join runs over the
    * unfiltered incoming batch). Near-dup machinery is about content
    * similarity; filtering/deduping contentless rows is the job of the
    * upstream quality gates (q23 exact dedup, q26 quality scoring).
    * Indexes persisted before this policy may still contain the shared
    * ['']-shingle signature rows of null-text docs — harmless, since
    * incoming null-text docs produce no bands to match them against.
    */
  def signatureIndex(docs: DataFrame): DataFrame = docs
    .filter(col("text").isNotNull)
    .select(col("doc_id"), graft.functions.WordShingles
      .shingles(col("text"), ShingleSize).as("sh"))
    .select(col("doc_id"), signature(col("sh")).as("sig"))

  def incrementalDedup(existing: DataFrame,
      incoming: DataFrame, threshold: Double = 0.5): DataFrame =
    incrementalDedupWithIndex(
      signatureIndex(existing).localCheckpoint(false), incoming, threshold)

  /** [[incrementalDedup]] against a PRECOMPUTED signature index (the
    * persisted form — existing text never touched).
    */
  def incrementalDedupWithIndex(existingSig: DataFrame,
      incoming: DataFrame, threshold: Double = 0.5): DataFrame = {
    def bandsOf(sig: DataFrame) = sig.select(col("doc_id"),
      posexplode(bandHashes).as(Seq("band_id", "band_hash")))
    val exSig = existingSig
    val inSig = signatureIndex(incoming).localCheckpoint(false)
    val left = bandsOf(inSig).select(col("doc_id").as("doc_b"),
      col("band_id"), col("band_hash"))
    val right = bandsOf(exSig)
      .select(col("doc_id").as("doc_a"), col("band_id"), col("band_hash"),
        lit(true).as("ex"))
      .unionByName(bandsOf(inSig).select(col("doc_id").as("doc_a"),
        col("band_id"), col("band_hash"), lit(false).as("ex")))
    val pairs = left.join(right, Seq("band_id", "band_hash"))
      .filter(col("ex") || col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b", "ex")
      .dropDuplicates("doc_a", "doc_b", "ex")
    val allSig = exSig.unionByName(inSig)
    val rejected = pairs
      .join(allSig.select(col("doc_id").as("doc_a"), col("sig").as("sig_a")),
        "doc_a")
      .join(inSig.select(col("doc_id").as("doc_b"), col("sig").as("sig_b")),
        "doc_b")
      .filter(estJaccard >= threshold)
      .select(col("doc_b").as("doc_id")).distinct()
    incoming.join(rejected, Seq("doc_id"), "left_anti")
  }

  /** 103. Corpus-level duplicated-span scrub (C4/RefinedWeb-style
    * repeated-paragraph removal, at span granularity since this corpus
    * has no newlines): cut every document into non-overlapping 32-token
    * spans, keep only the FIRST corpus-wide occurrence of each exact
    * span text (smallest (doc_id, span_ix)), and reassemble each
    * document from its surviving spans in order. A document whose every
    * span is a repeat of earlier text disappears entirely — the
    * sub-document generalization of q23's exact dedup (reference
    * counterpart: the drop-duplicates step of the incremental load,
    * etl_pipeline_script.py:40-48, applied below document granularity).
    *
    * Scale shape: the first-occurrence choice is the TopKPerKey heap
    * keyed on the span's md5 — ≤ 1 row per (partition, hash) reaches
    * the shuffle, so the corpus text crosses the wire once, map-side
    * reduced; reassembly is one more shuffle of only the SURVIVING
    * spans keyed by doc_id (sort-within-group via array_sort of
    * (span_ix, text) structs, never a per-doc window sort).
    */
  def q88SpanScrub(s: SparkSession, d: String): DataFrame = {
    val spanTokens = 32
    val nSpans = greatest(lit(1L),
      ceil(size(col("tk")).cast("double") / spanTokens).cast("long"))
    val spans = Tables.documents(s, d)
      .filter(col("text").isNotNull)
      .select(col("doc_id"), tokens(normText).as("tk"))
      .select(col("doc_id"),
        posexplode(transform(sequence(lit(0L), nSpans - 1),
          i => concat_ws(" ",
            slice(col("tk"), (i * spanTokens + 1).cast("int"),
              lit(spanTokens)))))
          .as(Seq("span_ix", "span_text")))
      .select(col("doc_id"), col("span_ix").cast("long").as("span_ix"),
        col("span_text"))
    val kept = graft.plans.TopK.perKey(
      spans.withColumn("h", md5(col("span_text"))),
      keys = Seq("h"),
      order = Seq(("doc_id", false), ("span_ix", false)), k = 1)
    kept.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_spans_kept"),
        concat_ws(" ", transform(
          array_sort(collect_list(struct(col("span_ix"), col("span_text")))),
          e => e("span_text"))).as("scrubbed_text"))
  }

  /** EXACT set-similarity join via prefix filtering (All-Pairs /
    * PPJoin family): every pair of rows whose element sets have
    * Jaccard ≥ tNum/tDen — 100% recall GUARANTEED, the lossless
    * counterpart of the q29/q31 MinHash-LSH pipeline (LSH recall is
    * probabilistic; this misses nothing).
    *
    * Prefix-filter theorem (Chaudhuri SSJoin / Bayardo All-Pairs):
    * order every set by one GLOBAL token order and keep each set's
    * first |s| − ⌈t·|s|⌉ + 1 tokens; any pair with J ≥ t shares at
    * least one token inside both prefixes. Ordering by ascending
    * document frequency makes those prefix tokens the RAREST ones, so
    * the candidate equi-join buckets are small by construction — the
    * frequent tokens that would create quadratic buckets are exactly
    * the ones the prefix excludes. Verification is the integer test
    * (tNum+tDen)·|∩| ≥ tNum·(|a|+|b|) — never a float.
    *
    * Plan shape: one corpus-scale groupBy for the df table, one
    * re-group to sort each set in (df, token) order, a hash equi-join
    * on prefix tokens carrying IDS ONLY, then payload re-attach for
    * the exact verify. All shuffles hash-partitioned; nothing is ever
    * all-pairs.
    */
  /** Shared machinery of the two prefix-filter joins: (set row →
    * (_ss_id, _n, _tok) exploded tokens) and (tokens → each set's
    * df-ascending prefix, hashed). The prefix keeps the first
    * n − ⌈t·n⌉ + 1 elements in the global (document-frequency asc,
    * token) order — join keys are 64-bit hashes: equal tokens have
    * equal hashes so no candidate is ever LOST (recall intact); a
    * collision only adds a false candidate the exact verify drops,
    * and the join shuffles 8-byte longs instead of token strings.
    */
  private def explodedTokens(base: DataFrame): DataFrame =
    base.select(col("_ss_id"), size(col("_ss_set")).as("_n"),
      explode(col("_ss_set")).as("_tok"))

  /** Each set's tokens in the global (document-frequency asc, token)
    * order, hashed, WITH the 0-based position `_pix`, the set size
    * `_n` and the prefix length `_p` — `_pix < _p` selects the prefix.
    * Positions feed the PPJoin positional filter (r15): for a
    * candidate row generated by a shared token at positions (i, j) of
    * the two ordered sets, every common token sits in both suffixes,
    * so |∩| ≤ min(n_a − i, n_b − j) — rows whose bound cannot reach
    * the admission threshold are dropped BEFORE the candidate
    * distinct and the payload re-attach. Zero-miss: a qualifying
    * pair's FIRST common token generates a row whose bound ≥ the true
    * overlap, so at least one row per true pair always survives.
    */
  /** The per-set (df, token)-ordered hash array with the set size and
    * prefix length — shared upstream of [[dfOrderedPrefixes]] (slices
    * the prefix) and the containment posting side (explodes all
    * positions).
    */
  private def dfOrderedArrays(toks: DataFrame, tNum: Int,
      tDen: Int): DataFrame = {
    val freq = toks.groupBy(col("_tok")).agg(count(lit(1)).as("_df"))
    // prefix length p = n − ceil(t·n) + 1, integer-exact
    toks.join(freq, Seq("_tok"))
      .groupBy(col("_ss_id"))
      .agg(max(col("_n")).as("_n"),
        sort_array(collect_list(struct(col("_df"), col("_tok"))))
          .as("_fs"))
      .withColumn("_p",
        expr(s"_n - (_n * $tNum + ${tDen - 1}) DIV $tDen + 1"))
      .select(col("_ss_id"), col("_n").cast("long").as("_n"), col("_p"),
        transform(col("_fs"), e => xxhash64(e("_tok"))).as("_hs"))
  }

  private def dfOrderedPrefixes(toks: DataFrame, tNum: Int,
      tDen: Int): DataFrame =
    dfOrderedArrays(toks, tNum, tDen)
      .select(col("_ss_id"), col("_n"),
        posexplode(slice(col("_hs"), lit(1), col("_p")))
          .as(Seq("_pix", "_tok")))

  def setSimilarityJoin(rows: DataFrame, id: String, setCol: String,
      tNum: Int, tDen: Int): DataFrame = {
    require(tNum > 0 && tNum <= tDen, "threshold must be in (0, 1]")
    // r14: checkpoint the (id, set) table ONCE — it feeds four plan
    // branches (df count + prefix regroup via the exploded tokens,
    // and both attach sides), and each replay re-ran the upstream
    // tokenize+shingle projection (the q47 HOF-cost class; q96
    // measured 7.3 s with 4 shingle passes, 4.1 s with one)
    val base = rows.select(col(id).as("_ss_id"), col(setCol).as("_ss_set"))
      .filter(size(col("_ss_set")) > 0)
      .localCheckpoint(false)
    // NOTE (r14, measured): checkpointing pfx here looks like the r9
    // reuse fix but A/B-measured +1.5 s — the twice-run prefix tower is
    // cheaper than the materialization it saves. Left UNcut deliberately.
    val pfx = dfOrderedPrefixes(explodedTokens(base), tNum, tDen)
    // PPJoin positional filter (r15, guide §2.3 — shuffle fewer rows
    // into the distinct + verify): |∩| ≤ min(n_a − i, n_b − j) at the
    // generating positions, and admission needs |∩|·(tNum+tDen) ≥
    // tNum·(n_a+n_b); rows whose bound falls short can never certify
    // the pair. Zero-miss — see [[dfOrderedPrefixes]].
    val cand = pfx.select(col("_ss_id").as("id_a"), col("_n").as("_na"),
        col("_pix").as("_pa"), col("_tok"))
      .join(pfx.select(col("_ss_id").as("id_b"), col("_n").as("_nb"),
        col("_pix").as("_pb"), col("_tok")), Seq("_tok"))
      .filter(col("id_a") < col("id_b"))
      .filter(least(col("_na") - col("_pa"), col("_nb") - col("_pb")) *
        (tNum + tDen) >= (col("_na") + col("_nb")) * tNum)
      .select("id_a", "id_b").distinct()
    val att = base.select(col("_ss_id"), col("_ss_set"))
    cand
      .join(att.select(col("_ss_id").as("id_a"),
        col("_ss_set").as("_set_a")), Seq("id_a"))
      .join(att.select(col("_ss_id").as("id_b"),
        col("_ss_set").as("_set_b")), Seq("id_b"))
      .withColumn("inter",
        size(array_intersect(col("_set_a"), col("_set_b"))).cast("long"))
      .withColumn("size_a", size(col("_set_a")).cast("long"))
      .withColumn("size_b", size(col("_set_b")).cast("long"))
      .filter(col("inter") * (tNum + tDen) >=
        (col("size_a") + col("size_b")) * tNum)
      .select("id_a", "id_b", "inter", "size_a", "size_b")
  }

  /** 110. Exact shingle-set similarity join over the corpus at
    * J ≥ 1/2: finds every genuinely near-duplicate pair with zero
    * probability of a miss — the recall oracle for the LSH family
    * (q31's candidates ⊆ this output by construction). Null-text docs
    * are excluded (no content ⇒ no similarity claim), matching the
    * oracle's WHERE. The DuckDB oracle is the naive n² list-intersect
    * join — quadratic in the corpus, which is precisely what the
    * prefix filter avoids.
    */
  def q96SetSimJoin(s: SparkSession, d: String): DataFrame = {
    // r15: native one-pass shingling (graft_word_shingles) — the HOF
    // transform + array_distinct spelling ran interpreted and was the
    // dominant cost of the whole join (see WordShingles scaladoc);
    // value-identical, WordShinglesSpec pins it on the real corpus
    val docs = Tables.documents(s, d)
      .filter(col("text").isNotNull)
      .select(col("doc_id"), graft.functions.WordShingles
        .shingles(col("text"), ShingleSize).as("sh"))
    setSimilarityJoin(docs, "doc_id", "sh", 1, 2)
  }

  /** EXACT ASYMMETRIC containment join: every ordered pair (a, b) with
    * |A ∩ B| ≥ t·|A| — "a's content appears inside b". The
    * quote/subset detector resemblance metrics MISS: a 5-token span
    * of a 300-token page has containment 1.0 but Jaccard ≈ 0.02, so
    * no symmetric threshold (q96) or MinHash band (q29) ever pairs
    * them, yet it is exactly the contained-duplication (quotes,
    * boilerplate inclusions, doc-in-doc re-crawls) a corpus cleaner
    * must see.
    *
    * Prefix filter, one-sided (the containment case of Chaudhuri's
    * SSJoin): if |A∩B| ≥ t·|A| then fewer than (1−t)·|A|+1 of A's
    * tokens are outside B, so A's first |A| − ⌈t·|A|⌉ + 1 tokens in
    * the GLOBAL df-ascending order must hit B. B cannot be truncated
    * (the overlap may sit anywhere in B), so candidates are A-prefix ⋈
    * B-ALL-tokens — B's side is the inverted-index posting relation
    * (q104's artifact), and candidate volume is Σ_{rare prefix tokens}
    * df(token), small by the df-ascending choice. Hashes join as
    * 8-byte longs (collisions only ADD candidates — the exact verify
    * drops them); verification is the integer test inter·tDen ≥
    * tNum·|A|, never a float.
    */
  def containmentJoin(rows: DataFrame, id: String, setCol: String,
      tNum: Int, tDen: Int): DataFrame = {
    require(tNum > 0 && tNum <= tDen, "threshold must be in (0, 1]")
    // r14: same one-materialization rule as [[setSimilarityJoin]] —
    // five consumers (prefix df+regroup, posting relation, both
    // attach sides) each re-ran the shingle projection before
    val base = rows.select(col(id).as("_ss_id"), col(setCol).as("_ss_set"))
      .filter(size(col("_ss_set")) > 0)
      .localCheckpoint(false)
    val toks = explodedTokens(base)
    // r15 length + A-positional filters (zero-miss, the PPJoin
    // argument in [[dfOrderedPrefixes]]): |∩| ≤ |B| and |∩| ≤
    // n_a − i at A's generating prefix position i, while admission
    // needs |∩|·tDen ≥ tNum·|A| — rows whose bound falls short drop
    // BEFORE the candidate distinct and payload re-attach. The
    // posting side stays the RAW exploded-token scan: positions for
    // B would need the ordered-array tower on the posting branch too,
    // and that second tower A/B-measured +0.5 s over the filter gain
    // at sf0.1 (same materialize-vs-recompute trade as the r14 pfx
    // checkpoint note below).
    val pfx = dfOrderedPrefixes(toks, tNum, tDen)
    val posting = toks
      .select(col("_ss_id").as("id_b"), col("_n").cast("long").as("_nb"),
        xxhash64(col("_tok")).as("_tok"))
    val cand = pfx.select(col("_ss_id").as("id_a"), col("_n").as("_na"),
        col("_pix").as("_pa"), col("_tok"))
      .join(posting, Seq("_tok"))
      .filter(col("id_a") =!= col("id_b"))
      .filter(least(col("_na") - col("_pa"), col("_nb")) * tDen >=
        col("_na") * tNum)
      .select("id_a", "id_b").distinct()
    val att = base.select(col("_ss_id"), col("_ss_set"))
    cand
      .join(att.select(col("_ss_id").as("id_a"),
        col("_ss_set").as("_set_a")), Seq("id_a"))
      .join(att.select(col("_ss_id").as("id_b"),
        col("_ss_set").as("_set_b")), Seq("id_b"))
      .withColumn("inter",
        size(array_intersect(col("_set_a"), col("_set_b"))).cast("long"))
      .withColumn("size_a", size(col("_set_a")).cast("long"))
      .filter(col("inter") * tDen >= col("size_a") * tNum)
      .select(col("id_a"), col("id_b"), col("inter"), col("size_a"),
        expr("(inter * 2000 + size_a) DIV (2 * size_a)").as("cont_ppt"))
  }

  /** 123. Quote detection over the corpus ∪ its derived quote docs
    * (each doc minus its first word, id + 1,000,000 — the q61-oracle
    * derivation, reproduced identically by the DuckDB oracle) at
    * containment ≥ 9/10: every quote doc must surface as contained in
    * its source, along with any natural containments. The oracle is
    * the naive n² directional intersect join the prefix filter
    * avoids.
    */
  def q108ContainmentJoin(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).filter(col("text").isNotNull)
      .select(col("doc_id"), col("text"))
    val corpus = docs.unionByName(docs.select(
      (col("doc_id") + 1000000L).as("doc_id"),
      expr("substring(text, instr(text, ' ') + 1)").as("text")))
    // r15: native one-pass shingling — the q96 rationale
    val sets = corpus
      .select(col("doc_id"), graft.functions.WordShingles
        .shingles(col("text"), ShingleSize).as("sh"))
    containmentJoin(sets, "doc_id", "sh", 9, 10)
  }

  /** 153. Repeated-SUBSTRING detection via winnowing (Schleimer, Wilkerson
    * & Aiken, SIGMOD 2003 — the MOSS fingerprinter; motivation: Lee et
    * al. 2022, "Deduplicating Training Data Makes Language Models
    * Better", which dedups at the substring level that document-level
    * minhash (q29) is blind to: a boilerplate paragraph pasted into a
    * thousand otherwise-distinct pages).
    *
    * Winnowing selects fingerprints CONTENT-defined, not
    * position-defined: hash every w-char gram, then in each window of k
    * consecutive gram hashes keep the minimum (rightmost on ties).
    * Guarantee: any substring shared by two docs of length
    * >= w + k − 1 contributes at least one IDENTICAL selected
    * fingerprint to both docs, regardless of alignment — a strided
    * sampler would only match docs whose copies start at equal offsets
    * mod the stride.
    *
    * Implementation is two bounded window passes, no recursion, no UDF:
    * the rightmost-argmin is ONE window MIN over the gram hash
    * concatenated with the zero-padded REVERSED position (ASCII order
    * then prefers smaller hash, then larger position) — so selection is
    * a pure string comparison, identical in any engine. Per-doc windows
    * partition by doc_id (bounded by doc length); the only corpus-wide
    * shuffles are the fingerprint count and the ids-only re-join (the
    * LSH pipeline discipline). Docs shorter than w + k − 1 have no
    * complete window and are excluded.
    *
    * Output: per doc with any cross-doc repeated fingerprint —
    * (doc_id, n_sel selected fingerprints, n_rep of them shared with
    * ANOTHER doc, rep_ppt round-half-up).
    *
    * Reference counterpart: none — the reference dedups nothing; this
    * generalizes q29/q31 below document granularity.
    */
  def winnowedRepeats(docs: DataFrame, w: Int, k: Int): DataFrame = {
    require(w >= 2 && k >= 2, "need w >= 2 and k >= 2")
    import org.apache.spark.sql.expressions.Window
    val grams = docs
      .filter(col("text").isNotNull && length(col("text")) >= w + k - 1)
      .select(col("doc_id"), col("text"),
        (length(col("text")) - (w - 1)).as("np"),
        explode(sequence(lit(1), length(col("text")) - (w - 1))).as("p"))
      .select(col("doc_id"), col("np"), col("p"),
        md5(expr(s"CAST(substring(text, p, $w) AS BINARY)")).as("h"))
    val wn = Window.partitionBy("doc_id").orderBy("p")
      .rowsBetween(Window.currentRow, k - 1)
    // h is 32 hex chars; 10^7 − p zero-padded to 8 keeps the compare
    // "smaller hash first, then RIGHTMOST position" as plain ASCII order
    val sel = grams
      .withColumn("enc", concat(col("h"),
        lpad((lit(10000000) - col("p")).cast("string"), 8, "0")))
      .withColumn("mn", min(col("enc")).over(wn))
      // only complete windows define the selection
      .filter(col("p") <= col("np") - (k - 1))
      .select(col("doc_id"),
        substring(col("mn"), 1, 32).as("fp"),
        (lit(10000000) - substring(col("mn"), 33, 8).cast("int"))
          .as("pos"))
      .distinct()
    val counts = sel.groupBy("fp")
      .agg(countDistinct(col("doc_id")).as("nd"))
    sel.join(counts, Seq("fp"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_sel"),
        sum(when(col("nd") >= 2, 1L).otherwise(0L)).as("n_rep"))
      .filter(col("n_rep") > 0)
      .select(col("doc_id"), col("n_sel"), col("n_rep"),
        expr("(n_rep * 2000 + n_sel) DIV (2 * n_sel)").as("rep_ppt"))
  }

  /** q136: 30-char grams winnowed with k = 8 (any shared run of >= 37
    * chars is guaranteed caught) over the documents corpus.
    */
  def q136WinnowRepeats(s: SparkSession, d: String): DataFrame =
    winnowedRepeats(Tables.documents(s, d)
      .select(col("doc_id"), col("text")), w = 30, k = 8)
}
