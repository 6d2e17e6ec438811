package graft

/** Benchmark main: runs every SparkEntry query against
  * SPARK_GRAFT_SF_DIR, forcing full materialization through the noop
  * sink (a bare count() would let Catalyst skip projected columns).
  * One warm-up pass amortizes JVM/codegen startup out of the numbers,
  * then each query is timed. Prints ONE machine-parseable JSON line.
  */
object Bench {

  /** A run is contended, so not an idle record, when the 1-min loadavg
    * at its start exceeds a quarter of the session's cores: 8.0 at
    * `local[32]`, 1.0 at `local[4]`.
    */
  def contended(startLoadAvg: Double, cpus: Int): Boolean =
    startLoadAvg > cpus / 4.0

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // sampled BEFORE this JVM generates its own load — external
    // contention at launch is what invalidates an idle-record claim
    val startLoadAvg = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage
    val spark = GraftSession.get()

    // a failing query must be VISIBLE in the JSON (null + errors list),
    // never a sentinel that min-of-2 selects and the total absorbs
    def runOnce(name: String): Option[Double] = {
      val t0 = System.nanoTime()
      try {
        SparkEntry.queries(name)(spark, sfDir)
          .write.format("noop").mode("overwrite").save()
        Some((System.nanoTime() - t0) / 1e9)
      } catch { case _: Throwable => None }
    }

    val names = SparkEntry.queries.keys.toSeq.sorted
    // SPARK_GRAFT_BENCH_REPS=1 gives a single-pass mode (no warm-up, one
    // measured rep) for LONG runs — scale-certification sweeps where
    // 3× the wall cost buys nothing; the durable sf0.1 record always
    // uses the default warm-up + min-of-2 protocol
    val onePass = sys.env.get("SPARK_GRAFT_BENCH_REPS").contains("1")
    if (!onePass)
      names.foreach(runOnce)             // warm-up: codegen + JIT + file listing
    // min of 2 measured reps: robust against GC/scheduler noise. When
    // the two reps disagree >3× the box hit a cold spike (JIT/load) on
    // one of them — take a third rep so the reported number reflects
    // the engine, not the spike (r3's q51 read 9.7 s vs 1.1 s steady).
    val results = names.map { n =>
      n -> (if (onePass) runOnce(n)
      else for (a <- runOnce(n); b <- runOnce(n)) yield {
        val m = math.min(a, b)
        if (math.max(a, b) > 3.0 * m)
          runOnce(n).map(math.min(m, _)).getOrElse(m)
        else m
      })
    }

    // the driver parses this line from a bounded stdout tail (2000 chars
    // in rounds 3-4, where full-precision doubles overflowed it and the
    // line went unparsed): 2-decimal values and no empty errors array
    // keep the whole line + sbt's trailing "[success]" inside the window
    def fmt(d: Double): String = {
      val s = BigDecimal(d).setScale(2, BigDecimal.RoundingMode.HALF_UP)
        .underlying.stripTrailingZeros.toPlainString
      if (s == "-0") "0" else s
    }
    // per-query keys shortened to their unique "qNN" prefix (the driver
    // contract's own example shape): full names at 78 queries push the
    // line past the 2000-char window on their own
    val qs = results.map { case (k, v) =>
      "\"" + k.takeWhile(_ != '_') + "\":" + v.map(fmt).getOrElse("null")
    }.mkString("{", ",", "}")
    val errors = results.collect { case (k, None) =>
      "\"" + k.takeWhile(_ != '_') + "\""
    }
    // "errors" is always present (consumers may index it
    // unconditionally); empty it costs 12 chars of the window
    val errPart = s""","errors":${errors.mkString("[", ",", "]")}"""
    val total = results.flatMap(_._2).sum
    val line = s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries":$qs,"n_errors":${errors.size}$errPart,"sf":"$sfDir"}"""
    println(line)
    // the driver reads a bounded stdout TAIL (BENCH_r07 lost 15 of 180
    // per-query entries to truncation) — also persist the full line.
    // Per-SF file names so an sf0.001 smoke can never clobber the
    // durable sf0.1 record; directory overridable (SPARK_GRAFT_BENCH_DIR)
    // and the write non-fatal — a read-only CWD must not fail a
    // completed benchmark.
    try {
      val sfName = new java.io.File(sfDir).getName
      val dir = sys.env.getOrElse("SPARK_GRAFT_BENCH_DIR", ".")
      // the durable record is keyed on SF and on the session's core
      // count, so a scaling sweep at another master is its own artifact
      val cpus = spark.sparkContext.defaultParallelism
      val path = java.nio.file.Paths.get(dir,
        s"BENCH_LOCAL_${sfName}_c$cpus.json")
      // condition guard: a run started under external load (see
      // [[contended]]) keeps an existing record and goes to a sidecar.
      // The stdout line is always printed above.
      if (contended(startLoadAvg, cpus) && java.nio.file.Files.exists(path)) {
        System.err.println(f"[bench] loadavg $startLoadAvg%.1f at start " +
          "— keeping the existing idle record, writing .contended sidecar")
        java.nio.file.Files.write(
          java.nio.file.Paths.get(dir,
            s"BENCH_LOCAL_${sfName}_c$cpus.contended.json"),
          (line + "\n").getBytes("UTF-8"))
      } else
        java.nio.file.Files.write(path, (line + "\n").getBytes("UTF-8"))
    } catch { case scala.util.control.NonFatal(e) =>
      System.err.println(s"[bench] artifact write failed: ${e.getMessage}")
    }
    spark.stop()
  }
}
