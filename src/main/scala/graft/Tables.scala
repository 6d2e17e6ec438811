package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.expr
import org.apache.spark.sql.types.{LongType, TimestampNTZType}

/** Parquet table loaders for the driver-provided test data.
  *
  * One loader per table so every operator reads through a single choke
  * point — at cluster scale this is where a real deployment would swap in
  * catalog tables / bucketed layouts without touching operator code.
  */
object Tables {
  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** Rebalance gate for PER-ROW-COST-HEAVY sources (text and raw-event
    * tables feeding JSON round-trips, shingling, hashing, scoring): the
    * testdata files are single-row-group parquet, so a scan is ONE task
    * no matter the split size and the expensive per-row work would run
    * single-threaded on a 32-core box. Files under
    * [[Gates.SpreadSourceBytes]] repartition to core count — the
    * shuffle moves a few MB once and unlocks full-core scans. Tables whose per-row work is cheap (lineitem,
    * orders, embeddings) are NOT rebalanced: measured at sf0.1, the
    * extra exchange costs more than the parallelism returns there. At
    * production scale files carry many row groups, exceed the gate, and
    * the gate never fires — size-based, like broadcast selection.
    */
  private def rebalanceSmall(spark: SparkSession, path: String,
      df: DataFrame): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val bytes =
      if (fs.exists(p)) fs.getContentSummary(p).getLength else Long.MaxValue
    if (bytes < Gates.SpreadSourceBytes)
      df.repartition(spark.sparkContext.defaultParallelism)
    else df
  }

  def region(s: SparkSession, d: String): DataFrame    = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = load(s, d, "lineitem")
  /** events.ts is INT64 TIMESTAMP(NANOS) parquet. Spark ≤4.0 reads it as
    * a long (with spark.sql.legacy.parquet.nanosAsLong=true — set in
    * GraftSession); Spark 4.1+ ignores that legacy conf and reads it
    * natively as TIMESTAMP_NTZ (µs, and the driver data is µs-exact so
    * nothing truncates). Normalize BOTH shapes to TimestampType so every
    * downstream `unix_micros`/watermark sees one type: the long via
    * integer division, the NTZ via a cast that under the UTC session
    * timezone is a pure type retag (same wall clock, same micros).
    */
  def events(s: SparkSession, d: String): DataFrame = {
    val raw = rebalanceSmall(s, s"$d/events.parquet", load(s, d, "events"))
    raw.schema("ts").dataType match {
      case LongType =>
        raw.withColumn("ts", expr("timestamp_micros(ts DIV 1000)"))
      case TimestampNTZType =>
        raw.withColumn("ts", expr("CAST(ts AS TIMESTAMP)"))
      case _ => raw
    }
  }
  def documents(s: SparkSession, d: String): DataFrame =
    rebalanceSmall(s, s"$d/documents.parquet", load(s, d, "documents"))
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}
