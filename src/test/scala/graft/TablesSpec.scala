package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.scalatest.funsuite.AnyFunSuite

/** Per-run fixed costs the engine pays once per JVM or not at all: table
  * schemas come from parquet footers (no inference job per read), and
  * the generated-class cache holds a recurring query set.
  */
class TablesSpec extends AnyFunSuite with SparkTestBase {

  private val sfDirs = Seq("sf0.001", "sf0.01", "sf0.1")
    .map(sf => s"${new java.io.File(Sf).getParent}/$sf")

  private def tableNames(dir: String): Seq[String] =
    new java.io.File(dir).list().toSeq.filter(_.endsWith(".parquet"))
      .map(_.stripSuffix(".parquet")).sorted

  test("Tables.load takes the schema inference would find, for every " +
      "testdata table") {
    // events.ts (INT64 TIMESTAMP(NANOS)) is the one type whose reading
    // depends on the session's parquet settings
    assert(sfDirs.forall(tableNames(_).contains("events")))
    for (dir <- sfDirs; name <- tableNames(dir)) {
      val inferred = spark.read.parquet(s"$dir/$name.parquet").schema
      assert(Tables.load(spark, dir, name).schema == inferred, s"$dir/$name")
    }
  }

  test("Tables loaders start no Spark job") {
    val loaders: Seq[(org.apache.spark.sql.SparkSession, String) =>
        org.apache.spark.sql.DataFrame] = Seq(Tables.region, Tables.nation,
      Tables.customer, Tables.supplier, Tables.part, Tables.orders,
      Tables.lineitem, Tables.events, Tables.documents, Tables.embeddings)
    val (_, execs, jobs) = recording(loaders.map(_(spark, Sf).schema))
    assert(execs.isEmpty && jobs == 0)
  }

  test("the session sizes the codegen cache to the engine's working set") {
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") ==
      GraftSession.CodegenCacheEntries.toString)
    assert(GraftSession.CodegenCacheEntries > 100)
  }

  test("a second run of a query set past the default cache size compiles " +
      "nothing") {
    // one pass over these three generates 151 classes in a fresh JVM,
    // more than Spark's default cache of 100: at the default a rerun
    // recompiles ~146 of them. Each generates the same code on every run
    // (q167, in the benchmark's query set, does not: AQE re-plans differ)
    val names = Seq("q129_peak_concurrency", "q218_dup_source_matrix",
      "q102_incr_scd2")
    def pass(): Unit = names.foreach(n => SparkEntry.queries(n)(spark, Sf)
      .write.format("noop").mode("overwrite").save())
    def compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    pass()
    val c0 = compiles
    pass()
    assert(compiles - c0 == 0)
  }
}
