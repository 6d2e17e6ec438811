package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.internal.SQLConf

/** The size gates that choose, from footer and size statistics, between
  * an in-memory shape (a driver kernel, a broadcast, a dense buffer) and
  * the distributed path, and the scan-spread gates that round-robin a
  * few-task scan across the session's cores. Every threshold is a
  * constant here; the one conf key [[Key]] selects which path set runs:
  *
  *   - `auto` (default): every gate compares its statistic with its
  *     constant.
  *   - `relational`: no driver-collect gate passes; the memory bounds
  *     keep their constants — the path between the two.
  *   - `scale`: relational, plus every memory bound on its past-the-bound
  *     side — the 100 TB shape.
  *
  * Any other value throws: a typo must not silently run `auto`. The
  * scan-spread gates read no mode: a spread changes parallelism, not
  * the path, so their plans are the same under every mode.
  */
object Gates {
  val Key = "spark.graft.gates"

  /** A path set. `driver`/`memory` give the limit a site compares with:
    * the constant while that gate class is open, else 0. Driver sites
    * need a positive limit, so none passes; memory sites compare
    * `stat <= 0`, so any non-empty input goes past its bound.
    */
  sealed abstract class Mode(val name: String, driverOpen: Boolean,
      memoryOpen: Boolean) {
    def driver(limit: Long): Long = if (driverOpen) limit else 0L
    def memory(limit: Long): Long = if (memoryOpen) limit else 0L
  }
  case object Auto extends Mode("auto", true, true)
  case object Relational extends Mode("relational", false, true)
  case object Scale extends Mode("scale", false, false)
  val Modes: Seq[Mode] = Seq(Auto, Relational, Scale)

  // Driver-collect gates: the driver kernel runs while the statistic is
  // at most the constant.
  /** Footer rows of `lineitem` before the co-purchase basket collect. */
  val CopurchaseRows = 16000000L
  /** Edges collected into a graph kernel (pageRank, PPR, k-core, BFS,
    * SSSP, LPA, HITS, SCAN, triangles, co-purchase pairs); < Int.MaxValue.
    */
  val DriverEdges = 8000000L
  /** Approximate distinct source nodes for the driver forest components. */
  val CcNodes = 8000000L
  /** Undirected edges for the k-truss driver peel. */
  val KtrussPeelEdges = 8000000L
  /** (customer, brand) rating cells for the ALS driver alternation. */
  val AlsCells = 8000000L
  /** Series points for the Theil–Sen driver kernel (≈ n²/2 slopes). */
  val TheilSenPoints = 5000L
  /** (type, value) histogram rows for the q83 driver medians. */
  val OutlierHistRows = 1000000L
  /** Distinct words for local BPE training. */
  val BpeLocalWords = 4000000L

  // Memory bounds: the in-memory shape is kept while the statistic is at
  // most the constant.
  /** Rows of a node-scale table broadcast against an edge table. */
  val BroadcastNodes = 50000000L
  /** Footer rows of `embeddings` for the exact broadcast all-pairs ANN. */
  val AnnExactRows = 100000L
  /** Key domain of one dense distinct-count bitmap; larger ones chunk. */
  val BitmapDenseDomain = 1L << 26
  /** TopK map-side heap rows per partition: this / k keys, at least 1. */
  val TopKMapRows = 1L << 22

  // Scan-spread gates: a scan is round-robined to `defaultParallelism`
  // while its statistic is at most the constant ([[spreadScan]]).
  /** Footer rows of `embeddings` for the q120/q121 encode + ADC scan,
    * and of the planted vector corpus for the q36 sign-LSH scan.
    */
  val SpreadAnnRows = 1000000L
  /** Footer rows of `orders`/`lineitem` for the q138/q237/q272 scans. */
  val SpreadFactRows = 64000000L
  /** File bytes of `events`/`documents`, whose per-row work is heavy
    * (`Tables.events`, `Tables.documents`).
    */
  val SpreadSourceBytes = 256L << 20

  /** `scan` (of table `table` under `d`) repartitioned round-robin to
    * `defaultParallelism` when it has fewer partitions and the table's
    * footer rows (no job) are at most `maxRows`. A one-file parquet
    * table scans in a few tasks locally; at cluster scale the scan has
    * enough partitions and this is a no-op, and past `maxRows` the
    * round-robin would be a full shuffle the scan does not need.
    */
  def spreadScan(s: SparkSession, d: String, table: String,
      scan: DataFrame, maxRows: Long): DataFrame = {
    val cores = s.sparkContext.defaultParallelism
    if (scan.rdd.getNumPartitions < cores &&
        graft.sources.TableStatistics.tableRowCount(s, d, table) <= maxRows)
      scan.repartition(cores)
    else scan
  }

  def mode(s: SparkSession): Mode = parse(s.conf.getOption(Key))
  def mode(conf: SQLConf): Mode = parse(Option(conf.getConfString(Key, null)))

  private def parse(v: Option[String]): Mode = v.fold[Mode](Auto) { x =>
    Modes.find(_.name == x).getOrElse(throw new IllegalArgumentException(
      s"$Key=$x: expected one of ${Modes.map(_.name).mkString(", ")}"))
  }

  def driver(s: SparkSession, limit: Long): Long = mode(s).driver(limit)
  def memory(s: SparkSession, limit: Long): Long = mode(s).memory(limit)

  /** Run `body` under `mode`, restoring the previous [[Key]] value. */
  def withMode[T](s: SparkSession, mode: Mode)(body: => T): T = {
    val prev = s.conf.getOption(Key)
    s.conf.set(Key, mode.name)
    try body
    finally prev.fold(s.conf.unset(Key))(s.conf.set(Key, _))
  }
}
