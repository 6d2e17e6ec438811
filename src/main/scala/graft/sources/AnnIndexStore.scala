package graft.sources

import graft.Tables
import graft.operators.IvfPq
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted IVF-PQ index ARTIFACT: train once, write (centroids,
  * sub-codebooks, cell-partitioned codes) as parquet + a meta sidecar,
  * search forever without retraining.
  *
  * q40/q120/q121 train their quantizers inside the query — fine for a
  * one-shot benchmark query, wrong for production search over a 100 TB
  * corpus, where the index must be a durable artifact the corpus is
  * encoded into ONCE (the reference persists its lookup index too:
  * CREATE INDEX at sql/db_creation_script.sql:175-180; the
  * BitmapIndex / BloomSkipIndex artifacts are this library's
  * precedent). Layout under `dir`:
  *
  *   - `centroids.parquet`  — (cell, centroid array&lt;long&gt;); ≤nCells×dim
  *     e6-lattice integers (the r12 engine-exact format — fmt 2)
  *   - `codebooks.parquet`  — (m, code, centroid array&lt;long&gt;); ≤M·SubK
  *   - `codes.parquet/cell=N/` — (vec_id, code0..code{M-1}),
  *     PARTITIONED BY cell: a probe of nProbe cells is partition
  *     pruning on the artifact, not a scan — the 100 TB read shape
  *   - `meta.json`          — fmt + dims + geometry, written last (its
  *     presence marks a complete build, the _SUCCESS convention)
  *
  * Everything about the build is deterministic (md5-ordered capped
  * sample, exact integer Lloyd — IvfPq.train/IntKMeans), so a rebuild
  * from the same corpus reproduces the artifact content exactly; the
  * suite asserts both that and search-over-artifact ≡ the in-memory
  * path (both run [[IvfPq.searchEncoded]], which never trains).
  */
object AnnIndexStore {

  /** Artifact format version: bump when the persisted layout changes
    * so stale /tmp artifacts from an older build rebuild instead of
    * mis-loading (fmt 2 = r12 integer-lattice centroids/codebooks).
    */
  private val Fmt = 2

  case class IvfPqIndex(dim: Int, nCells: Int,
      coarse: Array[(Int, Array[Long])],
      pq: Array[Array[(Int, Array[Long])]],
      codes: DataFrame)

  /** Train on `emb`, encode it, persist the artifact. Returns the
    * loaded index (reading back the artifact it wrote, so the caller
    * searches exactly what is on disk).
    */
  def build(spark: SparkSession, emb: DataFrame, dir: String,
      dim: Int = 64, nCells: Int = 16): IvfPqIndex = {
    val (coarse, pq) = IvfPq.train(emb, dim, nCells)
    val coded = IvfPq.encode(emb, coarse, pq, dim)
    coded.select(col("vec_id") +: col("cell") +:
        (0 until IvfPq.M).map(m => col(s"code$m")): _*)
      .write.mode(SaveMode.Overwrite).partitionBy("cell")
      .parquet(s"$dir/codes.parquet")
    import spark.implicits._
    coarse.map { case (cid, c) => (cid, c.toSeq) }.toSeq
      .toDF("cell", "centroid")
      .repartition(1)
      .write.mode(SaveMode.Overwrite).parquet(s"$dir/centroids.parquet")
    (for { m <- 0 until IvfPq.M; (code, c) <- pq(m) }
      yield (m, code, c.toSeq)).toDF("m", "code", "centroid")
      .repartition(1)
      .write.mode(SaveMode.Overwrite).parquet(s"$dir/codebooks.parquet")
    val meta = s"""{"kind":"ivfpq","fmt":$Fmt,"dim":$dim,""" +
      s""""n_cells":$nCells,"m":${IvfPq.M},"sub_k":${IvfPq.SubK}}"""
    val p = new Path(dir, "meta.json")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    try out.write((meta + "\n").getBytes("UTF-8")) finally out.close()
    load(spark, dir)
  }

  /** True when `dir` holds a complete CURRENT-format artifact
    * (meta.json is written last, so its presence implies the parquet
    * parts; a fmt mismatch means a stale artifact → rebuild).
    */
  def exists(spark: SparkSession, dir: String): Boolean = {
    val p = new Path(dir, "meta.json")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(p) && {
      val in = fs.open(p)
      val meta = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      s""""fmt":(\\d+)""".r.findFirstMatchIn(meta)
        .exists(_.group(1).toInt == Fmt)
    }
  }

  /** Load the artifact: the codebooks are bounded driver artifacts
    * (≤nCells×dim + M·SubK·subDim longs — the q194 codebook rule);
    * the codes stay a cell-partitioned DataFrame, never collected.
    */
  def load(spark: SparkSession, dir: String): IvfPqIndex = {
    val metaPath = new Path(dir, "meta.json")
    val fs = metaPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val in = fs.open(metaPath)
    val meta = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    def intField(k: String): Int =
      s""""$k":(\\d+)""".r.findFirstMatchIn(meta)
        .getOrElse(sys.error(s"AnnIndexStore: no $k in $metaPath"))
        .group(1).toInt
    require(intField("fmt") == Fmt,
      s"AnnIndexStore: stale artifact format at $dir — rebuild")
    val dim = intField("dim"); val nCells = intField("n_cells")
    val m = intField("m"); val subK = intField("sub_k")
    val coarse = spark.read.parquet(s"$dir/centroids.parquet")
      .orderBy("cell").collect()
      .map(r => (r.getInt(0), r.getSeq[Long](1).toArray))
    require(coarse.length <= nCells && coarse.nonEmpty,
      s"AnnIndexStore: ${coarse.length} centroids, meta says ≤$nCells")
    val cbRows = spark.read.parquet(s"$dir/codebooks.parquet")
      .orderBy("m", "code").collect()
    require(cbRows.length <= m * subK && cbRows.nonEmpty,
      s"AnnIndexStore: ${cbRows.length} codebook rows, want ≤${m * subK}")
    val pq = (0 until m).map { mi =>
      cbRows.filter(_.getInt(0) == mi)
        .map(r => (r.getInt(1), r.getSeq[Long](2).toArray))
    }.toArray
    IvfPqIndex(dim, nCells, coarse, pq,
      spark.read.parquet(s"$dir/codes.parquet"))
  }

  /** Search-only: no training, no encoding — the codes scan is
    * partition-pruned to the probed cells; `corpus` supplies float
    * vectors for the query rows and the shortlist re-rank only.
    */
  def search(index: IvfPqIndex, corpus: DataFrame, nProbe: Int,
      shortlist: Int = 64): DataFrame =
    IvfPq.searchEncoded(index.codes,
      corpus.select(col("vec_id"), col("embedding")),
      index.coarse, index.pq, index.dim, nProbe, shortlist)

  /** 227. Index-backed ANN search as a driver-gate query: builds the
    * artifact once per SF dir (meta.json marks completeness; later
    * runs are pure search), then searches it. Full-oracle since r12:
    * the search result is identical to the in-memory q121 pipeline
    * (same exact-integer kernel, same parameters), so its oracle is
    * q121's generated SQL — the DuckDB replay recomputes from the base
    * table what the artifact caches.
    */
  def q227AnnIndexSearch(s: SparkSession, d: String): DataFrame = {
    val sfName = new java.io.File(d).getName
    val dir = sys.props("java.io.tmpdir") + s"/graft_ann_index_$sfName"
    val emb = Tables.embeddings(s, d)
    val idx =
      if (exists(s, dir)) load(s, dir)
      else build(s, emb, dir)
    search(idx, emb, nProbe = 8)
  }
}
