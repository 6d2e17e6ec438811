package graft

import graft.sources.{BloomSkipIndex, TableLayout, TableStatistics}
import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** End-to-end proof that the physical-layout machinery (rows 44/171:
  * day-partitioned dirs + per-partition Bloom skip index) actually
  * prunes I/O — not just plan-pinned shapes but measured records/bytes
  * read, via task-level input metrics.
  *
  * Two query shapes, each flat-vs-layout:
  *  - POINT: `WHERE event_id = k` — the reference's keyed reload
  *    (etl_pipeline_script.py:128-145). Flat reads the whole table;
  *    the Bloom index prunes to the partitions that might contain k.
  *  - DAY: one calendar day of events. Flat reads the whole table
  *    and filters; the partitioned dir prunes at planning time.
  *
  * Prints ONE JSON line (and writes LAYOUT_BENCH.json) with records
  * read, bytes read, seconds (min of 2 timed reps after a warm-up),
  * and partitions touched. Results are asserted equal across paths —
  * a pruning win that changes answers is a bug, not a win.
  */
object LayoutBench {

  private class InputMetricsListener extends SparkListener {
    val records = new java.util.concurrent.atomic.AtomicLong(0L)
    val bytes = new java.util.concurrent.atomic.AtomicLong(0L)
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
      val im = t.taskMetrics.inputMetrics
      records.addAndGet(im.recordsRead)
      bytes.addAndGet(im.bytesRead)
    }
  }

  /** (rows returned, records read, bytes read, seconds). */
  private def measure(spark: SparkSession)(body: => DataFrame)
      : (Long, Long, Long, Double) = {
    body.write.format("noop").mode("overwrite").save() // warm-up
    var best = (0L, 0L, 0L, Double.MaxValue)
    for (_ <- 0 until 2) {
      val l = new InputMetricsListener
      // listener events arrive asynchronously: drain so the listener
      // sees only this run's task ends, and all of them
      ListenerBusDrain(spark.sparkContext)
      spark.sparkContext.addSparkListener(l)
      val t0 = System.nanoTime()
      val n = body.count()
      val sec = (System.nanoTime() - t0) / 1e9
      ListenerBusDrain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(l)
      if (sec < best._4) best = (n, l.records.get, l.bytes.get, sec)
    }
    best
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val out = if (args.nonEmpty) args(0) else "/tmp/graft_layout"
    val spark = GraftSession.get()
    val fmt = new java.text.DecimalFormat("0.00")

    // one-time layout build (amortized across every later lookup)
    val tLayout0 = System.nanoTime()
    val outPath = new org.apache.hadoop.fs.Path(out)
    val fs = outPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(outPath)) fs.delete(outPath, true)
    val dayDir = s"$out/events_by_day"
    TableLayout.writeDayPartitioned(Tables.events(spark, sfDir), "ts",
      dayDir)
    val stored = spark.read.parquet(dayDir)
    val days = stored.select(col("part_day")).distinct()
      .collect().map(_.getString(0)).sorted
    val totalRows = TableStatistics.tableRowCount(spark, sfDir, "events")
    val idx = BloomSkipIndex.build(stored, "part_day", "event_id",
      math.max(totalRows / math.max(days.length, 1), 1024L))
      .localCheckpoint()
    val layoutBuildSec = (System.nanoTime() - tLayout0) / 1e9

    // probe: an event id from the middle day (deterministic)
    val midDay = days(days.length / 2)
    val probeKey = stored.filter(col("part_day") === midDay)
      .agg(min(col("event_id"))).collect().head.getLong(0)
    val cands = BloomSkipIndex.candidates(idx, probeKey)

    val flatPoint = measure(spark) {
      Tables.events(spark, sfDir).filter(col("event_id") === probeKey)
    }
    val bloomPoint = measure(spark) {
      BloomSkipIndex.lookup(spark, dayDir, idx, "part_day",
        "event_id", probeKey)
    }
    require(flatPoint._1 == bloomPoint._1,
      s"point lookup disagrees: flat ${flatPoint._1} vs ${bloomPoint._1}")

    val flatDay = measure(spark) {
      Tables.events(spark, sfDir)
        .filter(date_format(col("ts"), "'d'yyyyMMdd") === midDay)
    }
    val prunedDay = measure(spark) {
      stored.filter(col("part_day") === midDay)
    }
    require(flatDay._1 == prunedDay._1,
      s"day scan disagrees: flat ${flatDay._1} vs ${prunedDay._1}")

    def j(m: (Long, Long, Long, Double)): String =
      s"""{"rows":${m._1},"records_read":${m._2},"bytes_read":${m._3},""" +
        s""""sec":${fmt.format(m._4)}}"""
    val line =
      s"""{"metric":"layout_bench","sf":"$sfDir","days":${days.length},""" +
        s""""layout_build_sec":${fmt.format(layoutBuildSec)},""" +
        s""""point_partitions_read":${cands.length},""" +
        s""""flat_point":${j(flatPoint)},"bloom_point":${j(bloomPoint)},""" +
        s""""flat_day":${j(flatDay)},"pruned_day":${j(prunedDay)}}"""
    println(line)
    java.nio.file.Files.write(java.nio.file.Paths.get("LAYOUT_BENCH.json"),
      (line + "\n").getBytes("UTF-8"))
    spark.stop()
  }
}
