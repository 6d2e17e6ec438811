package graft

import org.apache.spark.sql.SparkSession

/** Canonical session configuration for the engine. AQE on (runtime
  * re-planning, skew-join splitting), shuffle partitions sized to the
  * local core count (not the 200 default), UTC for oracle parity, and
  * nanosecond parquet timestamps surfaced as longs (normalized to
  * microsecond timestamps in Tables.events — Spark's TimestampType is
  * microseconds), and a generated-code cache that holds the engine's
  * working set.
  */
object GraftSession {
  /** Entries of Spark's JVM-wide generated-class cache
    * (`spark.sql.codegen.cache.maxEntries`, static, default 100). Sized
    * from the engine's own statistic: one pass over `SparkEntry.declared`
    * at sf0.001 compiles 4156 distinct classes, and three queries alone
    * can exceed 100, so at the default the LRU cycles and every rerun of
    * a recurring query set recompiles (6330 compiles per warm pass over
    * the 281 queries). At 5000 each class compiles once per JVM. Price:
    * ~33 KB of driver heap per cached class, ~165 MB when full.
    */
  val CodegenCacheEntries = 5000

  def builder(cpus: String): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.codegen.cache.maxEntries",
        CodegenCacheEntries.toString)
      // production state-store shape: RocksDB keeps streaming state off
      // the executor heap (the HDFS-backed default holds every key in
      // memory — unbounded-key streams OOM at scale)
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      .config("spark.sql.warehouse.dir",
        sys.props("java.io.tmpdir") + "/graft_warehouse")
      .config("spark.ui.enabled", "false")

  // default matches the deployment contract (local[32] on this box);
  // tests pass "4" explicitly to keep suite startup light
  def get(cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")): SparkSession = {
    val spark = builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // SQL users get the native functions without touching Scala helpers
    graft.functions.VectorExpressions.register(spark)
    graft.functions.MinHashExpression.register(spark)
    graft.functions.PairMergeExpression.register(spark)
    graft.functions.BpeEncodeExpression.register(spark)
    graft.functions.CountInSorted.register(spark)
    Gates.mode(spark) // a bad gate mode fails here, before any query
    spark
  }
}
