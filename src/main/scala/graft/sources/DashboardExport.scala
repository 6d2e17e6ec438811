package graft.sources

import graft.operators.RelationalOps
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Serving/BI export layer — the lakehouse→dashboard boundary the
  * reference crosses with its Power BI model (`power_bi/` dashboards
  * fed by vw_recent_rankings / vw_player_clan and the proc outputs,
  * sql/db_creation_script.sql:183-242): each dashboard-facing view is
  * written as BOTH a parquet directory (the lakehouse-native handoff)
  * and a single-file CSV with header (what desktop BI tools import),
  * plus a `_manifest.json` recording per-view row counts and columns —
  * the completeness marker a downstream refresh job checks before
  * swapping datasets (the AnnIndexStore meta.json rule).
  *
  * The default export set mirrors the reference's BI surface 1:1:
  * `recent_rankings` (vw_recent_rankings → q19 top-K in latest
  * period), `customer_geo` (vw_player_clan → q20 dim join),
  * `win_rates` (usp_player_win_rate's view form → q21) and
  * `usage_rates` (usp_card_usage_wins → q22).
  *
  * Scale shape: every exported frame is an AGGREGATED dashboard
  * artifact (top-100 / per-customer / per-brand) — the coalesce(1)
  * CSV is bounded by construction; fact tables never pass through
  * this sink. Content is deterministic (the views are), so re-export
  * is idempotent at the content level.
  */
object DashboardExport {

  def defaultViews(spark: SparkSession, sfDir: String)
      : Seq[(String, DataFrame)] = Seq(
    "recent_rankings" -> RelationalOps.q19RecentTopK(spark, sfDir),
    "customer_geo" -> RelationalOps.q20DimJoin(spark, sfDir),
    "win_rates" -> RelationalOps.q21WinRate(spark, sfDir),
    "usage_rates" -> RelationalOps.q22UsageRate(spark, sfDir))

  /** Write `views` under `outDir/<name>.parquet` + `outDir/<name>.csv`
    * (single file, header) + `outDir/_manifest.json` (written LAST).
    * Returns per-view row counts.
    */
  def export(spark: SparkSession, outDir: String,
      views: Seq[(String, DataFrame)]): Map[String, Long] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new org.apache.hadoop.fs.Path(outDir).getFileSystem(conf)
    val counts = views.map { case (name, df) =>
      df.write.mode("overwrite").parquet(s"$outDir/$name.parquet")
      // single-file CSV: bounded dashboard artifacts only (see scaladoc)
      val tmp = s"$outDir/_tmp_$name"
      df.coalesce(1).write.mode("overwrite")
        .option("header", "true").csv(tmp)
      val part = fs.globStatus(
        new org.apache.hadoop.fs.Path(s"$tmp/part-*.csv"))(0).getPath
      val dst = new org.apache.hadoop.fs.Path(s"$outDir/$name.csv")
      fs.delete(dst, false)
      fs.rename(part, dst)
      fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
      // exact, from the written files' footers: no inference or count job
      val n = TableStatistics.parquetRowCount(spark, s"$outDir/$name.parquet")
      (name, n, df.columns.toSeq)
    }
    val manifest = counts.map { case (name, n, cols) =>
      s"""    "$name": {"rows": $n, "columns": [${
        cols.map(c => s""""$c"""").mkString(", ")}]}"""
    }.mkString("{\n  \"views\": {\n", ",\n", "\n  }\n}\n")
    val out = fs.create(
      new org.apache.hadoop.fs.Path(s"$outDir/_manifest.json"), true)
    out.write(manifest.getBytes("UTF-8"))
    out.close()
    counts.map(c => c._1 -> c._2).toMap
  }
}
