package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The scale-up generator is certification INFRASTRUCTURE — if its
  * output drifted between runs or broke referential integrity, every
  * sf1 number in BASELINE.md would be unreproducible. Pin the three
  * properties the sf1 certification leans on.
  */
class ScaleUpSpec extends AnyFunSuite with SparkTestBase {

  private def gen(dst: String): Unit =
    ScaleUp.run(spark, Sf, dst, 2, 2)

  test("scale-up: copy-0 is byte-faithful, FKs hold, content is " +
      "deterministic across runs") {
    val d1 = java.nio.file.Files.createTempDirectory("graft_su1").toString
    val d2 = java.nio.file.Files.createTempDirectory("graft_su2").toString
    gen(d1); gen(d2)

    // determinism: independent runs produce identical content
    for (t <- Seq("customer", "orders", "lineitem", "events",
        "documents", "embeddings")) {
      val a = spark.read.parquet(s"$d1/$t.parquet")
      val b = spark.read.parquet(s"$d2/$t.parquet")
      assert(a.count() == b.count(), t)
      assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty,
        s"$t content differs across runs")
    }

    // copy-0 of the facts is the source verbatim
    val src = Tables.lineitem(spark, Sf)
    val c0 = spark.read.parquet(s"$d1/lineitem.parquet")
      .filter(col("l_orderkey") < 1000000L)
    assert(c0.count() == src.count())
    assert(c0.exceptAll(src).isEmpty)

    // referential integrity across the offset copies
    val li = spark.read.parquet(s"$d1/lineitem.parquet")
    val ok = spark.read.parquet(s"$d1/orders.parquet")
      .select(col("o_orderkey").as("l_orderkey"))
    assert(li.join(ok, Seq("l_orderkey"), "left_anti").isEmpty,
      "lineitem -> orders orphans")
    val pk = spark.read.parquet(s"$d1/part.parquet")
      .select(col("p_partkey").as("l_partkey"))
    assert(li.join(pk, Seq("l_partkey"), "left_anti").isEmpty,
      "lineitem -> part orphans")

    // the domain guards the engine relies on hold at factor 10 too:
    // max source ids × the strides stay inside doc_id < 1e6 and
    // partkey < 2^31 (checked against THIS source's maxima)
    val maxDoc = Tables.documents(spark, Sf)
      .agg(max(col("doc_id"))).head().getLong(0)
    assert(maxDoc + 9L * 100000L < 1000000L)

    // embeddings: per-copy isometry — norms preserved exactly, and
    // cross-copy cosine well below any near-dup threshold
    val e = spark.read.parquet(s"$d1/embeddings.parquet")
    val n0 = e.filter(col("vec_id") < 100000L)
      .select(col("vec_id"), col("embedding"))
    val n1 = e.filter(col("vec_id") >= 100000L)
      .select((col("vec_id") - 100000L).as("vec_id"),
        col("embedding").as("e1"))
    val joined = n0.join(n1, "vec_id")
      .select(
        graft.functions.VectorExpressions.cosine(col("embedding"), col("e1"))
          .as("cs"))
      .agg(max(abs(col("cs")))).head().getDouble(0)
    assert(joined < 0.6, s"cross-copy |cos| max $joined")
  }
}
