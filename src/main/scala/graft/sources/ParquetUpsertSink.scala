package graft.sources

import java.io.IOException

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}

/** Keyed parquet table with MERGE/DELETE semantics — the engine's
  * equivalent of the reference's MSSQL upserts and purge cascade
  * (db_ops.py:62-148, 53-59), re-expressed as snapshot replacement.
  *
  * Everything is a join or a window over the key — existing keys are
  * NEVER collected to the driver (the reference's `get_existing_data` →
  * Python set at etl_pipeline_script.py:43 dies at 100 TB). Writes go to
  * a fresh snapshot directory and flip atomically via rename, so readers
  * never see a half-written table. At cluster scale the same code runs
  * against an object store; a table format (e.g. log-structured commits)
  * would replace the rename, not the plan.
  */
object ParquetUpsertSink {

  /** Row-count accounting for a sink mutation — the reference logs the
    * inserted/updated/purged counts of every incremental run
    * (etl_pipeline_script.py:25-29,50-51); a pipeline that can't say
    * what it changed can't be audited.
    */
  case class SinkStats(inserted: Long, updated: Long, deleted: Long)

  private def fs(spark: SparkSession, p: Path) =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def dataPath(tableDir: String) = new Path(tableDir, "data")

  /** Footer key under which Spark's parquet writer stores the row schema. */
  private val SchemaKey = "org.apache.spark.sql.parquet.row.metadata"

  def exists(spark: SparkSession, tableDir: String): Boolean =
    fs(spark, dataPath(tableDir)).exists(dataPath(tableDir))

  /** The current snapshot. Its schema comes from one data file's footer,
    * read in this JVM: every snapshot is written by one Spark write, so
    * all its files share that schema, and no schema-inference job runs.
    */
  def read(spark: SparkSession, tableDir: String): DataFrame = {
    val data = dataPath(tableDir)
    val file = fs(spark, data).listStatus(data).map(_.getPath)
      .find(_.getName.endsWith(".parquet"))
      .getOrElse(throw new IOException(s"no parquet data file under $data"))
    val reader = ParquetFileReader.open(
      HadoopInputFile.fromPath(file, spark.sparkContext.hadoopConfiguration))
    val json =
      try reader.getFooter.getFileMetaData.getKeyValueMetaData.get(SchemaKey)
      finally reader.close()
    if (json == null)
      throw new IOException(s"$file has no $SchemaKey footer key")
    spark.read.schema(DataType.fromJson(json).asInstanceOf[StructType])
      .parquet(data.toString)
  }

  /** Atomically replace the table's data dir with `df`'s rows. A failed
    * write deletes its temp dir; a failed commit restores the old
    * snapshot, so the table always reads back whole.
    */
  private def replace(spark: SparkSession, tableDir: String, df: DataFrame)
      : Unit = {
    val data = dataPath(tableDir)
    val f = fs(spark, data)
    val tmp = new Path(tableDir, s"tmp-${java.util.UUID.randomUUID()}")
    try df.write.mode("overwrite").parquet(tmp.toString)
    catch { case e: Throwable => f.delete(tmp, true); throw e }
    val old = new Path(tableDir, s"old-${java.util.UUID.randomUUID()}")
    val staged = f.exists(data)
    if (staged && !f.rename(data, old)) {
      f.delete(tmp, true)
      throw new IOException(s"cannot stage out $data")
    }
    if (!f.rename(tmp, data)) {
      if (staged) f.rename(old, data)
      f.delete(tmp, true)
      throw new IOException(s"cannot commit $tmp -> $data")
    }
    if (staged) f.delete(old, true)
  }

  // exact: every observed node sits in the write's result stage, whose
  // accumulators Spark applies once per partition even under task retries
  // (a node the planner pruned as empty reports no metrics: zero)
  private def observed(o: Observation, name: String): Long =
    o.get.get(name).fold(0L)(_.asInstanceOf[Long])

  /** MERGE (upsert, last-write-wins): one row per touched key survives,
    * updates beating existing rows and later versions beating earlier
    * ones. Rows whose key is not in `updates` are left exactly as they
    * are, duplicate keys included.
    *
    * Only the batch's keys are shuffled: untouched rows pass through a
    * null-safe anti-join against the batch keys, and only the touched
    * rows plus `updates` go through the per-key windows. One Spark
    * write; the counts are observed on the winners inside it.
    *
    * @param versionCol break ties within a batch (e.g. an event time);
    *   rows from `updates` always beat existing rows at equal version.
    */
  def upsert(spark: SparkSession, tableDir: String, updates: DataFrame,
      keys: Seq[String], versionCol: String): SinkStats = {
    val incoming = updates.withColumn("_src", lit(1))
    // allowMissingColumns: schema evolution — updates may add columns
    // (nulls backfill the history) or omit dropped ones
    val (untouched, tagged) =
      if (!exists(spark, tableDir)) (None, incoming)
      else {
        val current = read(spark, tableDir)
        val batchKeys = updates.select(
          keys.zipWithIndex.map { case (k, i) => col(k).as(s"_k$i") }: _*)
        // null-safe, like the window's partitioning: a NULL key is one key
        val hit = keys.zipWithIndex
          .map { case (k, i) => current(k) <=> batchKeys(s"_k$i") }
          .reduce(_ && _)
        (Some(current.join(batchKeys, hit, "left_anti")),
          current.join(batchKeys, hit, "left_semi").withColumn("_src", lit(0))
            .unionByName(incoming, allowMissingColumns = true))
      }
    val byKey = Window.partitionBy(keys.map(col): _*)
    // winner row per key plus whether the key pre-existed (_mn = 0) —
    // both windows share the partition spec: ONE shuffle on the key.
    // inserted = key only in updates; updated = key pre-existed AND the
    // WINNING row came from updates — an incoming row that loses the
    // version ordering leaves the table unchanged and is not an update
    val obs = Observation()
    val winners = tagged
      .withColumn("_rn", row_number().over(
        byKey.orderBy(col(versionCol).desc, col("_src").desc)))
      .withColumn("_mn", min(col("_src")).over(byKey))
      .filter(col("_rn") === 1)
      .observe(obs, count(when(col("_mn") === 1, 1)).as("inserted"),
        count(when(col("_mn") === 0 && col("_src") === 1, 1)).as("updated"))
      .drop("_rn", "_src", "_mn")
    replace(spark, tableDir, untouched.fold(winners)(
      _.unionByName(winners, allowMissingColumns = true)))
    SinkStats(inserted = observed(obs, "inserted"),
      updated = observed(obs, "updated"), deleted = 0L)
  }

  /** DELETE cascade: drop every row whose key appears in `purgeKeys`
    * (anti-join, the scalable form of the reference's per-key DELETE
    * loop). `deleted` is rows-before minus rows-after, both observed
    * inside the one write. The keys are broadcast so the table side —
    * and both observations — stream through the write's result stage.
    */
  def purge(spark: SparkSession, tableDir: String, purgeKeys: DataFrame,
      keyCol: String): SinkStats = {
    val before = Observation()
    val after = Observation()
    replace(spark, tableDir, read(spark, tableDir)
      .observe(before, count(lit(1)).as("n"))
      .join(broadcast(purgeKeys.select(keyCol)), Seq(keyCol), "left_anti")
      .observe(after, count(lit(1)).as("n")))
    SinkStats(inserted = 0L, updated = 0L,
      deleted = observed(before, "n") - observed(after, "n"))
  }

  /** Compact the table's data files into `numFiles` (small-file cleanup
    * after many incremental upserts — at scale, file count drives both
    * listing time and task overhead).
    */
  def compact(spark: SparkSession, tableDir: String, numFiles: Int): Unit =
    replace(spark, tableDir, read(spark, tableDir).coalesce(numFiles))

  /** Insert-new-only (append rows whose key is absent — the reference's
    * incremental season/match load, etl_pipeline_script.py:128-137).
    * The table's keys are semi-joined against the batch's keys first, so
    * the anti-join's other side holds at most the batch's size instead of
    * every existing key. `inserted` is observed on the new rows inside
    * the one write.
    */
  def insertNewOnly(spark: SparkSession, tableDir: String, rows: DataFrame,
      keys: Seq[String]): SinkStats = {
    val obs = Observation()
    def added(df: DataFrame) = df.observe(obs, count(lit(1)).as("n"))
    if (!exists(spark, tableDir)) replace(spark, tableDir, added(rows))
    else {
      val existing = read(spark, tableDir)
      val keyCols = keys.map(col)
      val present = existing.select(keyCols: _*)
        .join(rows.select(keyCols: _*), keys, "left_semi")
      replace(spark, tableDir, existing.unionByName(
        added(rows.join(present, keys, "left_anti"))))
    }
    SinkStats(inserted = observed(obs, "n"), updated = 0L, deleted = 0L)
  }

  /** Blocklist feedback: this run's failed keys become the next run's
    * blocklist — the reference appends failed player ids to
    * `dropped_players.json` so later extracts skip them
    * (etl_pipeline_script.py:63-70, api_extract.py:79). Composed from
    * the existing primitives: purge the failed keys from the target
    * table, then insert-new-only them into the blocklist table (re-runs
    * re-append nothing). q10's blocklist filter reads the updated list.
    *
    * @return (purge stats on the target, append stats on the blocklist)
    */
  def blocklistFeedback(spark: SparkSession, tableDir: String,
      blocklistDir: String, failedKeys: DataFrame, keyCol: String)
      : (SinkStats, SinkStats) = {
    val keys = failedKeys.select(keyCol).distinct()
    val purged = purge(spark, tableDir, keys, keyCol)
    val appended = insertNewOnly(spark, blocklistDir, keys, Seq(keyCol))
    (purged, appended)
  }
}
