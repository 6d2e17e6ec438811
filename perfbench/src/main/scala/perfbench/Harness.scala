package perfbench

import java.io.{File, FileInputStream, PrintWriter}
import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{GraftSession, SparkEntry}
import graft.sources.ParquetUpsertSink

/** JVM side of the benchmark. `run.py` writes a properties file and
  * starts this main once per run; it writes one JSON result file.
  *
  * A run: time `setups` session set-ups (GraftSession.get + a fixed
  * warm-up query; all but the last are stopped again), run one untimed
  * check pass whose outputs are kept for `run.py` to verify and one
  * untimed warm-up pass, then run timed passes over the workload's ops,
  * each in a seed-permuted order, until `seconds` have passed (at least
  * three). Every op records its wall time and the CPU time of the JVM's
  * Java threads. With trace=1 the timed passes alternate
  * untraced/traced and the traced ones feed the per-op ledger and the
  * span file.
  */
object Harness {
  private def nowMs = System.currentTimeMillis
  private def secs(t0: Long) = (System.nanoTime - t0) / 1e9
  // CPU time of the JVM's Java threads (driver, executor task threads,
  // listener bus, ...); JIT compiler and GC threads are not among them.
  // The kernel leaves out time the hypervisor stole from the vCPUs.
  private val tmx = ManagementFactory.getThreadMXBean
    .asInstanceOf[com.sun.management.ThreadMXBean]
  private def threadCpu: Map[Long, Long] = {
    val ids = tmx.getAllThreadIds
    ids.zip(tmx.getThreadCpuTime(ids)).filter(_._2 >= 0).toMap
  }
  private def cpuSince(t0: Map[Long, Long]): Double =
    threadCpu.map { case (id, ns) => ns - t0.getOrElse(id, 0L) }.sum / 1e9

  final class Props(p: java.util.Properties) {
    def apply(k: String): String =
      Option(p.getProperty(k)).getOrElse(sys.error(s"missing property $k"))
    def get(k: String): Option[String] = Option(p.getProperty(k)).filter(_.nonEmpty)
    def list(k: String): Seq[String] =
      get(k).map(_.split(",").toSeq.map(_.trim).filter(_.nonEmpty)).getOrElse(Nil)
  }

  /** One timed phase of an op: the SparkEntry call, the noop execution,
    * one sink call or the read after a load batch.
    */
  final case class Phase(name: String, startMs: Long, endMs: Long, secs: Double)

  final case class OpRec(id: Int, pass: Int, traced: Boolean, name: String,
      startMs: Long, endMs: Long, wall: Double, cpu: Double, phases: Seq[Phase],
      error: Option[String], extra: Map[String, Any])

  def main(args: Array[String]): Unit = {
    val p = new java.util.Properties
    val in = new FileInputStream(args(0))
    try p.load(in) finally in.close()
    run(new Props(p))
  }

  def run(c: Props): Unit = {
    val seed = c("seed").toLong
    val seconds = c("seconds").toDouble
    val traced = c("trace") == "1"
    val cpus = c("cpus")
    val data = c("data")

    // --- set-up: session start + fixed warm-up, several times --------
    var spark: SparkSession = null
    val setups = (1 to c("setups").toInt).map { i =>
      val t0 = System.nanoTime
      val s = GraftSession.get(cpus)
      val start = secs(t0)
      val t1 = System.nanoTime
      s.range(0, 200000, 1, cpus.toInt).selectExpr("id % 97 AS k")
        .groupBy("k").count().collect()
      s.read.parquet(s"$data/nation.parquet").collect()
      val warm = secs(t1)
      if (i < c("setups").toInt) s.stop() else spark = s
      Map("start_s" -> start, "warmup_s" -> warm)
    }

    val workload: Workload = c("kind") match {
      case "query" => new QueryWorkload(spark, c)
      case "load" => new LoadWorkload(spark, c)
    }
    workload.prepare()

    val ledger = new Ledger
    val ops = mutable.ArrayBuffer.empty[OpRec]
    var opId = 0
    def pass(n: Int, tracing: Boolean, check: Boolean): Double = {
      if (tracing) {
        spark.sparkContext.addSparkListener(ledger)
        spark.listenerManager.register(ledger)
      }
      val t0 = System.nanoTime
      workload.pass(n, new scala.util.Random(seed * 1000003L + n), check) {
        (name, body) =>
          opId += 1
          val rec = workload.timeOp(opId, n, tracing, name, body)
          ops += rec
      }
      val wall = secs(t0)
      if (tracing) {
        ledger.drain()
        spark.sparkContext.removeSparkListener(ledger)
        spark.listenerManager.unregister(ledger)
      }
      wall
    }

    // --- untimed check pass and one untimed warm-up pass; the JIT is
    // still compiling the engine's hot paths after the first pass
    pass(0, tracing = false, check = true)
    pass(-1, tracing = false, check = false)

    // --- timed passes ------------------------------------------------
    // driver heap still live after the full GC that follows each timed
    // pass; what is retained depends on which ops ran last (cached plans,
    // broadcast blocks not yet cleaned), so the result is the least over
    // the passes
    val live = mutable.ArrayBuffer.empty[Double]
    val mem = ManagementFactory.getMemoryMXBean
    val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
    val t0 = System.nanoTime
    var n = 1
    // at least three passes, then another only if it should end within
    // the budget; a traced run alternates untraced and traced passes and
    // brackets its first traced pass by untraced ones, so warm-up drift
    // does not read as tracing overhead
    var last = 0.0
    while (n <= 3 || secs(t0) + last <= seconds) {
      val tracing = traced && n % 2 == 0
      last = pass(n, tracing, check = false)
      // the second GC frees what the ContextCleaner released after the
      // first (checkpoint and broadcast blocks of collected plans)
      System.gc(); Thread.sleep(300); System.gc()
      live += mem.getHeapMemoryUsage.getUsed / 1048576.0
      passes += Map("pass" -> n, "traced" -> tracing, "wall_s" -> last)
      n += 1
    }

    val ledgerRows =
      if (traced) ops.filter(_.traced).map(o => Trace.row(ledger, o, cpus.toInt))
      else Nil
    c.get("spans").foreach { path =>
      if (traced) Trace.writeSpans(path, ledger, ops.filter(_.traced).toSeq)
    }

    val result = Map(
      "setups" -> setups,
      "ops" -> ops.map { o =>
        Map("id" -> o.id, "pass" -> o.pass, "traced" -> o.traced,
          "name" -> o.name, "wall_s" -> o.wall, "cpu_s" -> o.cpu,
          "error" -> o.error.orNull,
          "phases" -> o.phases.map(ph => Map(ph.name -> ph.secs)).foldLeft(
            Map.empty[String, Any])(_ ++ _)) ++ o.extra
      },
      "passes" -> passes,
      "heap_live_mb" -> live.min,
      "ledger" -> ledgerRows,
      "spark_version" -> spark.version,
      "jdk" -> s"${System.getProperty("java.vendor")} ${System.getProperty("java.version")}",
    ) ++ workload.summary
    val w = new PrintWriter(new File(c("result")), "UTF-8")
    try w.write(Json(result)) finally w.close()
    spark.stop()
  }

  /** A workload: `pass` calls `op(name, body)` once per op; `body`
    * receives a phase timer.
    */
  abstract class Workload(spark: SparkSession, c: Props) {
    type Timer = (String, () => Unit) => Unit
    def prepare(): Unit = ()
    def pass(n: Int, rnd: scala.util.Random, check: Boolean)(
        op: (String, Timer => Map[String, Any]) => Unit): Unit
    def summary: Map[String, Any] = Map.empty

    def timeOp(id: Int, pass: Int, traced: Boolean, name: String,
        body: Timer => Map[String, Any]): OpRec = {
      val phases = mutable.ArrayBuffer.empty[Phase]
      val timer: Timer = (ph, f) => {
        val s = nowMs; val t = System.nanoTime
        try f() finally phases += Phase(ph, s, nowMs, secs(t))
      }
      val s = nowMs; val t = System.nanoTime; val cpu0 = threadCpu
      spark.sparkContext.setJobDescription(s"perfbench op $id $name")
      var error: Option[String] = None
      var extra = Map.empty[String, Any]
      try extra = body(timer)
      catch { case NonFatal(e) =>
        error = Some(s"${e.getClass.getSimpleName}: ${e.getMessage}".take(500))
      }
      spark.sparkContext.setJobDescription(null)
      OpRec(id, pass, traced, name, s, nowMs, secs(t), cpuSince(cpu0),
        phases.toSeq, error, extra)
    }
  }

  /** SparkEntry queries over one data set, noop sink when timed; the
    * check pass writes each result as parquet under `checkdir`.
    */
  final class QueryWorkload(spark: SparkSession, c: Props) extends Workload(spark, c) {
    private val data = c("data")
    val names: Seq[String] = c.list("queries")

    override def prepare(): Unit = {
      val oracle = SparkEntry.oracleSql.filter { case (k, _) => names.contains(k) }
      val w = new PrintWriter(new File(c("oraclefile")), "UTF-8")
      try w.write(Json(oracle)) finally w.close()
    }

    def pass(n: Int, rnd: scala.util.Random, check: Boolean)(
        op: (String, Timer => Map[String, Any]) => Unit): Unit =
      rnd.shuffle(names).foreach { name =>
        op(name, timer => {
          var df: DataFrame = null
          timer("build", () => df = SparkEntry.queries(name)(spark, data))
          timer("execute", () =>
            if (check) df.write.mode("overwrite").parquet(s"${c("checkdir")}/$name")
            else df.write.format("noop").mode("overwrite").save())
          Map.empty
        })
      }

    override def summary: Map[String, Any] = Map("queries" -> names)
  }

  /** The reference's incremental job: seed-drawn batches applied with
    * insertNewOnly, upsert and purge, a compact every `compact_every`
    * batches, and one dashboard aggregate read after each batch. Every
    * pass starts again from the same initial table.
    */
  final class LoadWorkload(spark: SparkSession, c: Props) extends Workload(spark, c) {
    private val table = c("table")
    private val key = c("key")
    private val version = c("version")
    private val batches = c("batches").toInt
    private val compactEvery = c("compact_every").toInt

    private def reset(): Unit = {
      val p = new org.apache.hadoop.fs.Path(table)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
      ParquetUpsertSink.insertNewOnly(spark, table,
        spark.read.parquet(c("init")), Seq(key))
    }

    private def stats(s: ParquetUpsertSink.SinkStats) =
      Seq(s.inserted, s.updated, s.deleted)

    def pass(n: Int, rnd: scala.util.Random, check: Boolean)(
        op: (String, Timer => Map[String, Any]) => Unit): Unit = {
      reset()
      for (b <- 0 until batches) op(s"batch$b", timer => {
        val dir = s"${c("batchdir")}/$b"
        val st = mutable.LinkedHashMap.empty[String, Any]
        timer("insert_new", () => st("insert_new") = stats(
          ParquetUpsertSink.insertNewOnly(spark, table,
            spark.read.parquet(s"$dir/new.parquet"), Seq(key))))
        timer("upsert", () => st("upsert") = stats(
          ParquetUpsertSink.upsert(spark, table,
            spark.read.parquet(s"$dir/upd.parquet"), Seq(key), version)))
        timer("purge", () => st("purge") = stats(
          ParquetUpsertSink.purge(spark, table,
            spark.read.parquet(s"$dir/purge.parquet"), key)))
        if ((b + 1) % compactEvery == 0)
          timer("compact", () =>
            ParquetUpsertSink.compact(spark, table, c("cpus").toInt))
        var rows: Seq[Seq[Any]] = Nil
        timer("read", () => rows = ParquetUpsertSink.read(spark, table)
          .groupBy("o_orderstatus")
          .agg(count(lit(1)).as("n"),
            sum(round(col("o_totalprice") * 100).cast("long")).as("cents"))
          .collect().toSeq.map(r => Seq(r.getString(0), r.getLong(1), r.getLong(2))))
        Map("stats" -> st.toMap, "dashboard" -> rows.sortBy(_.head.toString),
          "files" -> dataFiles.size)
      })
    }

    private def dataFiles: Seq[File] =
      Option(new File(s"$table/data").listFiles).toSeq.flatten
        .filter(f => f.getName.endsWith(".parquet"))

    override def summary: Map[String, Any] = Map(
      "table_mb" -> dataFiles.map(_.length).sum / 1048576.0,
      "table_files" -> dataFiles.size)
  }
}
