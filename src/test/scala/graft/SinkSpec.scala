package graft

import graft.sources.ParquetUpsertSink
import graft.sources.ParquetUpsertSink.SinkStats
import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.{CollectMetricsExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec,
  QueryStageExec, ResultQueryStageExec}
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._

class SinkSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private def tmpTable(): String =
    java.nio.file.Files.createTempDirectory("graft_sink").toString

  test("upsert: updates win over existing, later version wins in-batch") {
    val dir = tmpTable()
    val v1 = Seq((1L, "a", 10L), (2L, "b", 10L)).toDF("id", "val", "ver")
    val s1 = ParquetUpsertSink.upsert(spark, dir, v1, Seq("id"), "ver")
    assert(s1 == ParquetUpsertSink.SinkStats(2, 0, 0))
    val v2 = Seq((2L, "b2", 11L), (3L, "c", 11L), (3L, "c_newer", 12L))
      .toDF("id", "val", "ver")
    val s2 = ParquetUpsertSink.upsert(spark, dir, v2, Seq("id"), "ver")
    // key 3 is new (inserted once, despite two in-batch versions);
    // key 2 existed (updated); key 1 untouched
    assert(s2 == ParquetUpsertSink.SinkStats(1, 1, 0))

    val got = ParquetUpsertSink.read(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(1L -> "a", 2L -> "b2", 3L -> "c_newer"))
  }

  test("upsert at equal version: the update beats the existing row") {
    val dir = tmpTable()
    ParquetUpsertSink.upsert(spark, dir,
      Seq((1L, "old", 10L)).toDF("id", "val", "ver"), Seq("id"), "ver")
    ParquetUpsertSink.upsert(spark, dir,
      Seq((1L, "new", 10L)).toDF("id", "val", "ver"), Seq("id"), "ver")
    assert(ParquetUpsertSink.read(spark, dir).first().getString(1) == "new")
  }

  test("purge removes all rows for the purged keys") {
    val dir = tmpTable()
    ParquetUpsertSink.upsert(spark, dir,
      Seq((1L, "a", 1L), (2L, "b", 1L), (3L, "c", 1L))
        .toDF("id", "val", "ver"), Seq("id"), "ver")
    val st = ParquetUpsertSink.purge(spark, dir, Seq(1L, 3L).toDF("id"), "id")
    assert(st == ParquetUpsertSink.SinkStats(0, 0, 2))
    assert(ParquetUpsertSink.read(spark, dir).select("id")
      .collect().map(_.getLong(0)).toSet == Set(2L))
  }

  test("insertNewOnly appends only unseen keys") {
    val dir = tmpTable()
    val s1 = ParquetUpsertSink.insertNewOnly(spark, dir,
      Seq((1L, "a"), (2L, "b")).toDF("id", "val"), Seq("id"))
    assert(s1 == ParquetUpsertSink.SinkStats(2, 0, 0))
    val s2 = ParquetUpsertSink.insertNewOnly(spark, dir,
      Seq((2L, "b_SHOULD_NOT_APPEAR"), (3L, "c")).toDF("id", "val"),
      Seq("id"))
    assert(s2 == ParquetUpsertSink.SinkStats(1, 0, 0))
    val got = ParquetUpsertSink.read(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(1L -> "a", 2L -> "b", 3L -> "c"))
  }

  test("upsert: an incoming row that LOSES the version ordering is not " +
      "counted as an update") {
    val dir = tmpTable()
    ParquetUpsertSink.upsert(spark, dir,
      Seq((1L, "current", 20L), (2L, "current", 20L))
        .toDF("id", "val", "ver"), Seq("id"), "ver")
    // key 1: stale update (ver 10 < 20) — existing row survives, NOT an
    // update; key 2: genuine update; key 3: insert
    val st = ParquetUpsertSink.upsert(spark, dir,
      Seq((1L, "stale", 10L), (2L, "newer", 30L), (3L, "new", 30L))
        .toDF("id", "val", "ver"), Seq("id"), "ver")
    assert(st == ParquetUpsertSink.SinkStats(1, 1, 0))
    val got = ParquetUpsertSink.read(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(1L -> "current", 2L -> "newer", 3L -> "new"))
  }

  private def rows(dir: String): Seq[Row] =
    ParquetUpsertSink.read(spark, dir).collect().toSeq.sortBy(_.toString)

  /** (observation, in the result stage?) for every observed node of a
    * finished plan: map stages and broadcast builds are not.
    */
  private def observedNodes(p: SparkPlan, result: Boolean = true)
      : Seq[(String, Boolean)] = p match {
    case a: AdaptiveSparkPlanExec => observedNodes(a.executedPlan, result)
    case r: ResultQueryStageExec => observedNodes(r.plan, result)
    case s: QueryStageExec => observedNodes(s.plan, result = false)
    case e: Exchange => e.children.flatMap(observedNodes(_, result = false))
    case c: CollectMetricsExec =>
      (c.name, result) +: observedNodes(c.child, result)
    case o => o.children.flatMap(observedNodes(_, result))
  }

  /** Fails instead of hanging when a mutation blocks. */
  private def within[T](body: => T): T =
    Await.result(Future(body), 2.minutes)

  private def withConf[T](k: String, v: String)(body: => T): T = {
    val old = spark.conf.getOption(k)
    spark.conf.set(k, v)
    try body finally old.fold(spark.conf.unset(k))(spark.conf.set(k, _))
  }

  test("upsert: a NULL key is one key, matched null-safely") {
    val dir = tmpTable()
    val v1 = Seq((Some(1L), "a", 1L), (None, "null_old", 1L))
      .toDF("id", "val", "ver")
    assert(ParquetUpsertSink.upsert(spark, dir, v1, Seq("id"), "ver") ==
      SinkStats(2, 0, 0))
    val v2 = Seq((Option.empty[Long], "null_new", 2L), (Some(2L), "b", 1L))
      .toDF("id", "val", "ver")
    assert(ParquetUpsertSink.upsert(spark, dir, v2, Seq("id"), "ver") ==
      SinkStats(1, 1, 0))
    assert(rows(dir) == Seq(Row(1L, "a", 1L), Row(2L, "b", 1L),
      Row(null, "null_new", 2L)).sortBy(_.toString))
  }

  test("upsert: a two-column key matches on both columns") {
    val dir = tmpTable()
    ParquetUpsertSink.upsert(spark, dir,
      Seq((1L, "x", "a", 1L), (1L, "y", "b", 1L), (2L, "x", "c", 1L))
        .toDF("k1", "k2", "val", "ver"), Seq("k1", "k2"), "ver")
    val st = ParquetUpsertSink.upsert(spark, dir,
      Seq((1L, "y", "b2", 2L), (2L, "y", "d", 1L))
        .toDF("k1", "k2", "val", "ver"), Seq("k1", "k2"), "ver")
    assert(st == SinkStats(1, 1, 0))
    assert(rows(dir) == Seq(Row(1L, "x", "a", 1L), Row(1L, "y", "b2", 2L),
      Row(2L, "x", "c", 1L), Row(2L, "y", "d", 1L)).sortBy(_.toString))
  }

  test("upsert leaves untouched duplicate-key rows exactly as they are") {
    val dir = tmpTable()
    // a new table takes insertNewOnly's rows as they come, duplicates too
    ParquetUpsertSink.insertNewOnly(spark, dir,
      Seq((1L, "a", 1L), (1L, "a_twin", 1L), (2L, "b", 1L))
        .toDF("id", "val", "ver"), Seq("id"))
    val st = ParquetUpsertSink.upsert(spark, dir,
      Seq((2L, "b2", 2L), (3L, "c", 1L)).toDF("id", "val", "ver"),
      Seq("id"), "ver")
    assert(st == SinkStats(1, 1, 0))
    assert(rows(dir) == Seq(Row(1L, "a", 1L), Row(1L, "a_twin", 1L),
      Row(2L, "b2", 2L), Row(3L, "c", 1L)).sortBy(_.toString))
  }

  test("empty batches return exact zeros and leave the table readable") {
    val dir = tmpTable()
    val base = Seq((1L, "a", 1L), (2L, "b", 1L)).toDF("id", "val", "ver")
    ParquetUpsertSink.upsert(spark, dir, base, Seq("id"), "ver")
    val before = rows(dir)
    val noRows = base.filter(lit(false))
    within {
      assert(ParquetUpsertSink.upsert(spark, dir, noRows, Seq("id"), "ver")
        == SinkStats(0, 0, 0))
      assert(ParquetUpsertSink.insertNewOnly(spark, dir, base, Seq("id"))
        == SinkStats(0, 0, 0))
      assert(ParquetUpsertSink.purge(spark, dir,
        Seq.empty[Long].toDF("id"), "id") == SinkStats(0, 0, 0))
    }
    assert(rows(dir) == before)
    within {
      assert(ParquetUpsertSink.purge(spark, dir, Seq(1L, 2L, 2L).toDF("id"),
        "id") == SinkStats(0, 0, 2))
    }
    val emptied = ParquetUpsertSink.read(spark, dir)
    assert(emptied.columns.toSet == Set("id", "val", "ver"))
    assert(emptied.collect().isEmpty)
    within {
      assert(ParquetUpsertSink.upsert(spark, dir, base, Seq("id"), "ver") ==
        SinkStats(2, 0, 0))
    }
    assert(rows(dir) == before)
  }

  test("a write that fails inside a task leaves the table unchanged and " +
      "no temp dir behind") {
    val dir = tmpTable()
    ParquetUpsertSink.upsert(spark, dir,
      Seq((1L, "a", 1L), (2L, "b", 1L)).toDF("id", "val", "ver"),
      Seq("id"), "ver")
    val before = rows(dir)
    val poisoned = spark.range(3).select(col("id"), lit("x").as("val"),
      when(col("id") === 0L, raise_error(lit("poisoned batch")))
        .otherwise(lit(5L)).as("ver"))
    // key 0 is new, so both mutations evaluate its poisoned row: upsert in
    // the window's map stage, insertNewOnly in the write stage itself,
    // after the write has created its output dir
    val mutations: Seq[() => SinkStats] = Seq(
      () => ParquetUpsertSink.upsert(spark, dir, poisoned, Seq("id"), "ver"),
      () => ParquetUpsertSink.insertNewOnly(spark, dir, poisoned, Seq("id")))
    for (mutate <- mutations) {
      intercept[Exception](mutate())
      assert(rows(dir) == before)
      assert(new java.io.File(dir).list().toSeq == Seq("data"))
    }
  }

  test("a failed write returns only after its stage's other tasks end: " +
      "no temp dir right after the throw nor seconds later") {
    val dir = tmpTable()
    // partition 0 fails at once; partition 1 is still computing its
    // first row then, and only afterwards opens its file writer (a write
    // task with a non-zero partition id asks for a row before it creates
    // its output file) — the late writer that re-creates a temp dir. Its
    // 2 s of work ignore the cancel's interrupt, as blocking I/O can
    val slowFirstRow = udf { (id: Long) =>
      val until = System.currentTimeMillis + 2000
      while (id == 1L && System.currentTimeMillis < until)
        try Thread.sleep(math.max(1L, until - System.currentTimeMillis))
        catch { case _: InterruptedException => }
      id
    }
    val batch = spark.range(0, 2, 1, 2).select(
      when(col("id") === 0L, raise_error(lit("fails at once")))
        .otherwise(slowFirstRow(col("id"))).as("id"))
    def leftovers = new java.io.File(dir).list().toSeq
    within {
      intercept[Exception](
        ParquetUpsertSink.insertNewOnly(spark, dir, batch, Seq("id")))
    }
    assert(leftovers.isEmpty)
    Thread.sleep(3000)
    assert(leftovers.isEmpty)
  }

  test("a failed commit rename restores the old snapshot") {
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.failcommit.impl", classOf[FailingCommitFs].getName)
    conf.setBoolean("fs.failcommit.impl.disable.cache", true)
    val local = tmpTable()
    val dir = s"failcommit://$local"
    ParquetUpsertSink.upsert(spark, dir,
      Seq((1L, "a", 1L), (2L, "b", 1L)).toDF("id", "val", "ver"),
      Seq("id"), "ver")
    val before = rows(dir)
    FailingCommitFs.failing = true
    try {
      val e = intercept[java.io.IOException] {
        ParquetUpsertSink.upsert(spark, dir,
          Seq((2L, "b2", 2L)).toDF("id", "val", "ver"), Seq("id"), "ver")
      }
      assert(e.getMessage.contains("cannot commit"))
    } finally FailingCommitFs.failing = false
    assert(rows(dir) == before)
    assert(new java.io.File(local).list().toSeq == Seq("data"))
  }

  /** name -> length of every file under the table's `data/`. */
  private def dataListing(local: String): Map[String, Long] =
    new java.io.File(local, "data").listFiles.toSeq
      .map(f => f.getName -> f.length).toMap

  /** The Spark schema footer of every parquet file under `data/`. */
  private def schemaFooters(dir: String): Seq[String] =
    new java.io.File(dir, "data").listFiles.toSeq
      .filter(_.getName.endsWith(".parquet")).map { f =>
        val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(f.toURI),
          spark.sparkContext.hadoopConfiguration)
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try r.getFooter.getFileMetaData.getKeyValueMetaData
          .get("org.apache.spark.sql.parquet.row.metadata")
        finally r.close()
      }

  test("insertNewOnly on an existing table adds only new-row files, in " +
      "the snapshot's schema; every old file stays as it was") {
    val dir = tmpTable()
    ParquetUpsertSink.insertNewOnly(spark, dir,
      (1L to 20L).map(i => (i, s"v$i", 1L)).toDF("id", "val", "ver")
        .repartition(2), Seq("id"))
    // a rewrite through upsert: the snapshot's schema is the read-back
    // one, while the batches below come from non-nullable local columns
    ParquetUpsertSink.upsert(spark, dir,
      Seq((3L, "v3b", 2L)).toDF("id", "val", "ver"), Seq("id"), "ver")
    val before = dataListing(dir)
    val rowsBefore = rows(dir)
    // columns in another order than the table's
    val batch = Seq(("dup", 1L, 5L), ("n21", 2L, 21L), ("n22", 3L, 22L))
      .toDF("val", "ver", "id")
    assert(ParquetUpsertSink.insertNewOnly(spark, dir, batch, Seq("id")) ==
      SinkStats(2, 0, 0))
    val after = dataListing(dir)
    assert(before.forall { case (name, len) => after.get(name).contains(len) })
    // checksum files (`.*.crc`) move with their data files
    val added = (after.keySet -- before.keySet).toSeq.filterNot(_.startsWith("."))
    assert(added.nonEmpty && added.forall(_.endsWith(".parquet")))
    assert(added.forall(n => spark.read.parquet(s"$dir/data/$n").count() > 0))
    assert(spark.read.parquet(added.map(n => s"$dir/data/$n"): _*)
      .select("id", "val", "ver").collect().toSeq.sortBy(_.toString) ==
      Seq(Row(21L, "n21", 2L), Row(22L, "n22", 3L)))
    assert(rows(dir) == (rowsBefore ++ Seq(Row(21L, "n21", 2L),
      Row(22L, "n22", 3L))).sortBy(_.toString))
    // every key present: the listing does not change
    assert(ParquetUpsertSink.insertNewOnly(spark, dir, batch, Seq("id")) ==
      SinkStats(0, 0, 0))
    assert(dataListing(dir) == after)
    assert(schemaFooters(dir).distinct.size == 1)
    assert(ParquetUpsertSink.read(spark, dir).schema ==
      spark.read.parquet(s"$dir/data").schema)

    // an int column fed longs widens through a rewrite, as before
    val narrow = tmpTable()
    ParquetUpsertSink.insertNewOnly(spark, narrow,
      Seq((1, "a"), (2, "b")).toDF("id", "val"), Seq("id"))
    val narrowFiles = dataListing(narrow).keySet
    assert(ParquetUpsertSink.insertNewOnly(spark, narrow,
      Seq((2L, "b2"), (3L, "c")).toDF("id", "val"), Seq("id")) ==
      SinkStats(1, 0, 0))
    assert(dataListing(narrow).keySet.intersect(narrowFiles)
      .forall(!_.endsWith(".parquet")))
    assert(ParquetUpsertSink.read(spark, narrow).schema("id").dataType ==
      org.apache.spark.sql.types.LongType)
    assert(rows(narrow) == Seq(Row(1L, "a"), Row(2L, "b"), Row(3L, "c")))
    assert(schemaFooters(narrow).distinct.size == 1)
  }

  test("a failed append commit deletes the files it moved: the table " +
      "reads back as before, with only data/ left") {
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.failappend.impl", classOf[FailingAppendFs].getName)
    conf.setBoolean("fs.failappend.impl.disable.cache", true)
    val local = tmpTable()
    val dir = s"failappend://$local"
    ParquetUpsertSink.insertNewOnly(spark, dir,
      Seq((1L, "a", 1L), (2L, "b", 1L)).toDF("id", "val", "ver"), Seq("id"))
    val before = rows(dir)
    val files = dataListing(local)
    // two partitions, one new row each: two part files to publish
    val batch = spark.range(3, 5, 1, 2)
      .select(col("id"), col("id").cast("string").as("val"), col("id").as("ver"))
    FailingAppendFs.arm()
    try {
      val e = intercept[java.io.IOException](
        ParquetUpsertSink.insertNewOnly(spark, dir, batch, Seq("id")))
      assert(e.getMessage.contains("cannot commit"))
      assert(FailingAppendFs.published.get == 2)
    } finally FailingAppendFs.failing = false
    assert(rows(dir) == before)
    assert(dataListing(local) == files)
    assert(new java.io.File(local).list().toSeq == Seq("data"))
  }

  test("compact leaves a table of at most numFiles files as it is, with " +
      "no SQL execution") {
    val dir = tmpTable()
    ParquetUpsertSink.insertNewOnly(spark, dir,
      spark.range(0, 40, 1, 2).select(col("id"), lit("v").as("val")),
      Seq("id"))
    val files = dataListing(dir)
    val n = files.keys.count(_.endsWith(".parquet"))
    assert(n >= 1)
    for (numFiles <- Seq(n, n + 1)) {
      val (_, execs, jobs) =
        recording(ParquetUpsertSink.compact(spark, dir, numFiles))
      assert(execs.isEmpty && jobs == 0)
      assert(dataListing(dir) == files)
    }
  }

  test("sort-merge plan (no broadcast) gives the same stats and table; " +
      "every observed node sits in the write's result stage") {
    def script(dir: String): Seq[SinkStats] = Seq(
      ParquetUpsertSink.insertNewOnly(spark, dir,
        (1L to 20L).map(i => (i, s"v$i", 1L)).toDF("id", "val", "ver"),
        Seq("id")),
      ParquetUpsertSink.upsert(spark, dir,
        Seq((3L, "newer", 2L), (4L, "stale", 0L), (4L, "tie", 1L),
          (30L, "new", 1L)).toDF("id", "val", "ver"), Seq("id"), "ver"),
      ParquetUpsertSink.insertNewOnly(spark, dir,
        Seq((5L, "dup", 1L), (31L, "n31", 1L), (32L, "n32", 1L))
          .toDF("id", "val", "ver"), Seq("id")),
      ParquetUpsertSink.purge(spark, dir, Seq(1L, 2L, 2L, 99L).toDF("id"),
        "id"))
    val broadcastDir = tmpTable()
    val (expected, bExecs, _) = recording(script(broadcastDir))
    assert(expected == Seq(SinkStats(20, 0, 0), SinkStats(1, 2, 0),
      SinkStats(2, 0, 0), SinkStats(0, 0, 2)))
    val smjDir = tmpTable()
    val (got, smjExecs, _) =
      withConf("spark.sql.autoBroadcastJoinThreshold", "-1") {
        recording(script(smjDir))
      }
    assert(got == expected)
    assert(smjExecs.exists(_.executedPlan.toString.contains("SortMergeJoin")))
    assert(rows(smjDir) == rows(broadcastDir))
    for (qe <- bExecs ++ smjExecs) {
      val nodes = observedNodes(qe.executedPlan)
      assert(nodes.nonEmpty && nodes.forall(_._2), qe.executedPlan.toString)
    }
  }

  test("each mutation on an existing table is one SQL execution; read " +
      "starts no job") {
    val dir = tmpTable()
    val kv = (1L to 10L).map(i => (i, s"v$i", 1L)).toDF("id", "val", "ver")
    ParquetUpsertSink.upsert(spark, dir, kv, Seq("id"), "ver")
    def execs(body: => SinkStats): Int = recording(body)._2.size
    assert(execs(ParquetUpsertSink.upsert(spark, dir,
      Seq((1L, "u", 2L), (11L, "n", 1L)).toDF("id", "val", "ver"),
      Seq("id"), "ver")) == 1)
    // the append: one execution, and the files it found are all kept
    val beforeInsert = dataListing(dir).keySet
    assert(execs(ParquetUpsertSink.insertNewOnly(spark, dir,
      Seq((2L, "x", 1L), (12L, "n", 1L)).toDF("id", "val", "ver"),
      Seq("id"))) == 1)
    assert(beforeInsert.subsetOf(dataListing(dir).keySet))
    assert(execs(ParquetUpsertSink.purge(spark, dir,
      Seq(3L).toDF("id"), "id")) == 1)
    val (read, readExecs, readJobs) =
      recording(ParquetUpsertSink.read(spark, dir))
    assert(readExecs.isEmpty && readJobs == 0)
    // the footer schema is the one inference would find
    assert(read.schema == spark.read.parquet(s"$dir/data").schema)
  }

  test("read: a data file without Spark's schema footer key is an error " +
      "naming the file") {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    val dir = tmpTable()
    val file = new org.apache.hadoop.fs.Path(s"$dir/data/part-0.parquet")
    val schema = MessageTypeParser.parseMessageType(
      "message t { required int64 id; }")
    val w = ExampleParquetWriter.builder(file).withType(schema).build()
    try w.write(new SimpleGroupFactory(schema).newGroup().append("id", 1L))
    finally w.close()
    val e = intercept[java.io.IOException](ParquetUpsertSink.read(spark, dir))
    assert(e.getMessage.contains("part-0.parquet"))
  }

  test("blocklist feedback: failed keys purge from the table and append " +
      "to the blocklist; re-runs append nothing new") {
    val table = tmpTable()
    val blocklist = tmpTable()
    ParquetUpsertSink.upsert(spark, table,
      Seq((1L, "a", 1L), (2L, "b", 1L), (3L, "c", 1L))
        .toDF("id", "val", "ver"), Seq("id"), "ver")
    val (p1, a1) = ParquetUpsertSink.blocklistFeedback(spark, table,
      blocklist, Seq(2L, 2L).toDF("id"), "id")
    assert(p1.deleted == 1L && a1.inserted == 1L)
    // next run fails on key 2 (already listed) and key 3 (new)
    val (p2, a2) = ParquetUpsertSink.blocklistFeedback(spark, table,
      blocklist, Seq(2L, 3L).toDF("id"), "id")
    assert(p2.deleted == 1L) // only key 3 still present in the table
    assert(a2.inserted == 1L) // key 2 was already on the blocklist
    assert(ParquetUpsertSink.read(spark, blocklist)
      .collect().map(_.getLong(0)).toSet == Set(2L, 3L))
    assert(ParquetUpsertSink.read(spark, table)
      .collect().map(_.getLong(0)).toSet == Set(1L))
  }

  test("run log: upsert+purge sequence emits one parseable run record") {
    val table = tmpTable()
    val logDir = tmpTable()
    val run = new graft.sources.RunLog("r42")
    run.step("load_matches") {
      ParquetUpsertSink.upsert(spark, table,
        Seq((1L, "a", 1L), (2L, "b", 1L)).toDF("id", "val", "ver"),
        Seq("id"), "ver")
    }
    run.step("purge_dropped") {
      ParquetUpsertSink.purge(spark, table, Seq(2L).toDF("id"), "id")
    }
    val path = run.write(spark, logDir)
    // the record must be machine-parseable: read it back with the JSON
    // source and check the audit fields survived
    val rec = spark.read.json(path)
    assert(rec.count() == 1)
    val row = rec.first()
    assert(row.getAs[String]("run_id") == "r42")
    assert(row.getAs[Boolean]("ok"))
    assert(row.getAs[Long]("n_steps") == 2L)
    val steps = row.getAs[scala.collection.Seq[
      org.apache.spark.sql.Row]]("steps")
    assert(steps.map(_.getAs[String]("step")) ==
      Seq("load_matches", "purge_dropped"))
    assert(steps.head.getAs[Long]("inserted") == 2L)
    assert(steps(1).getAs[Long]("deleted") == 1L)
    assert(steps.forall(_.getAs[Long]("millis") >= 0L))
  }

  test("run log: a failing step is recorded with its error and rethrown") {
    val run = new graft.sources.RunLog("r-fail")
    run.step("ok_step") { ParquetUpsertSink.SinkStats(1, 0, 0) }
    intercept[IllegalStateException] {
      run.step("boom") { throw new IllegalStateException("db unreachable") }
    }
    val json = run.toJson
    assert(json.contains(""""ok":false"""))
    assert(json.contains("db unreachable"))
    assert(json.contains(""""step":"boom""""))
  }

  test("streaming incremental load: foreachBatch upsert converges to batch") {
    val dir = tmpTable()
    val stream = graft.streaming.EventStreams.readEventStream(spark, Sf)
    val q = stream.writeStream.foreachBatch {
      (batch: org.apache.spark.sql.DataFrame, _: Long) => {
        ParquetUpsertSink.upsert(spark, dir,
          batch.select("user_id", "ts", "event_type"), Seq("user_id"), "ts")
        ()
      }
    }.trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination(120000)

    val got = ParquetUpsertSink.read(spark, dir)
    val expected = graft.operators.RelationalOps
      .q12UpsertLastWins(spark, Sf)
      .select(col("user_id"), col("last_ts").as("ts"))
    assert(got.count() == expected.count())
    assert(got.select("user_id", "ts")
      .join(expected, Seq("user_id", "ts"), "left_anti").count() == 0)
  }

  test("dashboard export: parquet round-trips each view exactly, CSV " +
      "carries header + all rows, manifest written with true counts") {
    val dir = tmpTable()
    val views = graft.sources.DashboardExport.defaultViews(spark, Sf)
    val counts = graft.sources.DashboardExport.export(spark, dir, views)
    assert(counts.keySet ==
      Set("recent_rankings", "customer_geo", "win_rates", "usage_rates"))
    views.foreach { case (name, df) =>
      val back = spark.read.parquet(s"$dir/$name.parquet")
      assert(back.schema.fieldNames.toSeq == df.columns.toSeq)
      assert(back.count() == counts(name))
      assert(back.exceptAll(df).isEmpty && df.exceptAll(back).isEmpty,
        s"$name parquet round-trip")
      val csvLines = scala.io.Source.fromFile(s"$dir/$name.csv")
        .getLines().toSeq
      assert(csvLines.head == df.columns.mkString(","))
      assert(csvLines.size.toLong == counts(name) + 1, s"$name csv rows")
    }
    val manifest = scala.io.Source.fromFile(s"$dir/_manifest.json")
      .getLines().mkString("\n")
    counts.foreach { case (name, n) =>
      assert(manifest.contains(s""""$name": {"rows": $n"""))
    }
  }
}

/** Local file system whose snapshot-commit rename (`tmp-*` → `data`)
  * fails while `failing` is set; every other rename goes through.
  */
class FailingCommitFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("failcommit:///")
  override def rename(src: org.apache.hadoop.fs.Path,
      dst: org.apache.hadoop.fs.Path): Boolean =
    if (FailingCommitFs.failing && src.getName.startsWith("tmp-")) false
    else super.rename(src, dst)
}

object FailingCommitFs {
  @volatile var failing = false
}

/** Local file system that, once armed, fails the second rename of a file
  * out of a `tmp-*` dir: an append's commit of its second part file.
  */
class FailingAppendFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("failappend:///")
  override def rename(src: org.apache.hadoop.fs.Path,
      dst: org.apache.hadoop.fs.Path): Boolean =
    if (FailingAppendFs.failing && src.getParent.getName.startsWith("tmp-") &&
        FailingAppendFs.published.incrementAndGet() == 2) false
    else super.rename(src, dst)
}

object FailingAppendFs {
  @volatile var failing = false
  val published = new java.util.concurrent.atomic.AtomicInteger(0)
  def arm(): Unit = { published.set(0); failing = true }
}
