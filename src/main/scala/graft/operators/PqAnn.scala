package graft.operators

import graft.Tables
import graft.functions.VectorExpressions
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Product-quantization ANN (Jégou, Douze & Schmid 2011, "Product
  * quantization for nearest neighbor search"): the billion-scale tier
  * of the engine's ANN family. The 64-dim embedding splits into M=8
  * subspaces of 8 dims; each subspace gets its own 16-centroid
  * codebook, so a vector compresses to EIGHT 4-bit codes (4 bytes).
  * Search is asymmetric distance computation (ADC): a query
  * precomputes one ≤16-entry distance table per subspace (M·16 scalar
  * distances — microseconds), then every corpus vector's approximate
  * distance is eight TABLE LOOKUPS — the scan reads the code columns,
  * never the vectors.
  *
  * Why this is the 100-TB path: the code table is 64× smaller than the
  * float vectors (4 bytes vs 256), fits hot storage, and the
  * per-candidate cost is O(M) lookups instead of O(dim) multiplies.
  * The float embeddings are touched only to re-rank the ADC shortlist
  * exactly (the q87 two-stage rule: approximate cut, exact final
  * order), so recall failures are bounded to shortlist misses.
  *
  * ENGINE-EXACT since r12: codebooks train with [[IntKMeans]] (md5-
  * capped sample, driver-side integer Lloyd on the floor-e6 lattice —
  * the q194 recipe), codes are exact long-d² argmins, ADC distances
  * are exact long sums of table lookups, and only the final re-rank
  * computes a ROUND-4 cosine — the whole pipeline replays in DuckDB
  * (flipping q120 from rows-only to full-oracle). The former float
  * variant unit-normalized vectors first; the integer lattice skips
  * normalization (a global monotone map doesn't change Voronoi
  * QUALITY materially, and the exact cosine re-rank owns the final
  * metric — recall@5 measured 0.84 vs brute force).
  *
  * Reference anchor: the reference scans per-deck aggregate usage
  * vectors exhaustively (helper_functions.py:27-52); PQ codes are the
  * compressed scan replacing that when the vector table is the corpus.
  */
object PqAnn {

  private[graft] val M = 8
  private[graft] val SubK = 16
  private val K = 5
  private[graft] val PqRounds = 2
  private[graft] val SampleCap = 4096

  /** Train the M sub-codebooks on ONE md5-capped deterministic sample
    * (the IntKMeans sample rule — a TakeOrdered pass, ≤cap rows
    * collected regardless of corpus size), slicing each sample vector
    * into M subspaces and running the exact integer Lloyd per slice.
    * Codebooks are bounded artifacts (M × ≤SubK × subDim longs).
    */
  def trainCodebooks(emb: DataFrame, dim: Int,
      sampleCap: Int = SampleCap): Array[Array[(Int, Array[Long])]] = {
    val subDim = dim / M
    val base = emb.select(col("vec_id"),
      IntKMeans.e6(col("embedding")).as("_e6"))
    val sample = IntKMeans.sampleE6(base, "vec_id", "_e6", sampleCap)
    (0 until M).map { m =>
      val pts = sample.map(v =>
        java.util.Arrays.copyOfRange(v, m * subDim, (m + 1) * subDim))
      IntKMeans.localLloyd(pts, SubK, PqRounds)
    }.toArray
  }

  /** `(d2, cid)` argmin struct over one sub-codebook for the e6 slice
    * `sl` — exact long arithmetic, smallest-cid ties (`p2` is the
    * precomputed idot(sl, sl), evaluated once rather than per
    * centroid).
    */
  private def subArgmin(sl: Column, p2: Column,
      cb: Array[(Int, Array[Long])]): Column =
    array_min(array(cb.map { case (cid, c) =>
      val cl = typedlit(c.map(_.toInt).toSeq)
      val c2 = c.map(v => v * v).sum
      struct(
        (p2 + lit(c2) - lit(2L) * VectorExpressions.idot(sl, cl))
          .as("d2"),
        lit(cid).as("cid"))
    }: _*)).getField("cid")

  /** Append `code0..code{M-1}` int columns: each subspace's exact
    * nearest sub-centroid. ONE broadcast-literal codegen pass — no
    * join, no shuffle.
    */
  def encode(emb: DataFrame, codebooks: Array[Array[(Int, Array[Long])]],
      dim: Int): DataFrame = {
    val subDim = dim / M
    (0 until M).foldLeft(
        emb.withColumn("_e6", IntKMeans.e6(col("embedding")))) { (df, m) =>
      val sl = slice(col("_e6"), m * subDim + 1, subDim)
      df.withColumn(s"code$m",
        subArgmin(sl, VectorExpressions.idot(sl, sl), codebooks(m)))
    }.drop("_e6")
  }

  /** Top-K cosine neighbors for queries (vec_id < 10): exact-integer
    * ADC shortlist over the code columns, exact cosine re-rank of the
    * survivors.
    */
  def search(emb: DataFrame, shortlist: Int = 96): DataFrame = {
    val dim = 64
    val subDim = dim / M
    val codebooks = trainCodebooks(emb, dim)
    val coded = encode(emb, codebooks, dim).localCheckpoint(false)
    val queries = coded.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
      .withColumn("_q6", IntKMeans.e6(col("qe")))
    // the scan side carries ONLY ids + codes
    adcSearch(queries, col("_q6"), codebooks, subDim,
      tables => coded.select(
          col("vec_id").as("nid") +: (0 until M).map(m => col(s"code$m")): _*)
        .crossJoin(broadcast(tables.select(
          col("qid") +: (0 until M).map(m => col(s"dt$m")): _*))),
      coded, queries, shortlist)
  }

  /** The ADC search tail of [[search]] and [[IvfPq.searchEncoded]].
    * Each row of `probes` gets tables `dt0..dt{M-1}`: maps code → exact
    * long d² between a subspace slice of its e6 column `q` and
    * `codebooks` (maps, not arrays: dropped empty clusters may leave
    * cid gaps). `candidates(tables)` pairs them with the codes (qid,
    * nid, code and table columns); each candidate scores by M map
    * lookups, the (adist, nid) `shortlist` survives, and it is
    * re-ranked by exact cosine against `vecs(vec_id, embedding)` for
    * the `queries(qid, qe)`.
    */
  private[operators] def adcSearch(probes: DataFrame,
      q: Column, codebooks: Array[Array[(Int, Array[Long])]], subDim: Int,
      candidates: DataFrame => DataFrame, vecs: DataFrame,
      queries: DataFrame, shortlist: Int): DataFrame = {
    val tables = (0 until M).foldLeft(probes) { (df, m) =>
      val sl = slice(q, m * subDim + 1, subDim)
      val p2 = VectorExpressions.idot(sl, sl)
      val cb = codebooks(m)
      df.withColumn(s"dt$m", map_from_arrays(
        typedlit(cb.map(_._1).toSeq),
        array(cb.map { case (_, c) =>
          val cl = typedlit(c.map(_.toInt).toSeq)
          val c2 = c.map(v => v * v).sum
          p2 + lit(c2) - lit(2L) * VectorExpressions.idot(sl, cl)
        }: _*)))
    }
    val adist = (0 until M).map(m =>
      element_at(col(s"dt$m"), col(s"code$m"))).reduce(_ + _)
    val cand = candidates(tables)
      .filter(col("qid") =!= col("nid"))
      .withColumn("adist", adist)
    val short = graft.plans.TopK.perKey(cand, keys = Seq("qid"),
      order = Seq(("adist", false), ("nid", false)), k = shortlist)
      .select("qid", "nid")

    // exact re-rank: vectors touched only for the shortlist
    val reranked = short
      .join(vecs.select(col("vec_id").as("nid"), col("embedding").as("ne")),
        "nid")
      .join(broadcast(queries.select(col("qid"), col("qe"))), "qid")
      .withColumn("cos_sim",
        round(VectorExpressions.cosine(col("qe"), col("ne")), 4))
    graft.plans.TopK.perKey(reranked, keys = Seq("qid"),
        order = Seq(("cos_sim", true), ("nid", false)), k = K)
      .select("qid", "nid", "cos_sim")
  }

  /** `embeddings` spread for the per-row encode + ADC work, which
    * would otherwise run in the few tasks of a one-file scan.
    */
  private[operators] def spreadEmbeddings(s: SparkSession, d: String)
      : DataFrame =
    graft.Gates.spreadScan(s, d, "embeddings", Tables.embeddings(s, d),
      graft.Gates.SpreadAnnRows)

  def q120PqAnn(s: SparkSession, d: String): DataFrame =
    search(spreadEmbeddings(s, d))
}
