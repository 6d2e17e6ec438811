package graft

import graft.operators.{AsOfJoin, SkewJoin}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class JoinOpsSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  test("as-of join picks the latest prior right row, null before any") {
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val left = Seq(
      (1L, 7L, t("2024-01-01 09:00:00")),   // before any purchase → null
      (2L, 7L, t("2024-01-01 10:00:00")),   // exactly at p1 → p1 (<=)
      (3L, 7L, t("2024-01-01 11:30:00")),   // between p1 and p2 → p1
      (4L, 7L, t("2024-01-01 13:00:00")),   // after p2 → p2
      (5L, 8L, t("2024-01-01 13:00:00")))   // other key, no rights → null
      .toDF("event_id", "user_id", "ts")
    val right = Seq(
      (7L, t("2024-01-01 10:00:00")),
      (7L, t("2024-01-01 12:00:00")))
      .toDF("user_id", "pts")
      .select(col("user_id"), col("pts").as("ts"),
        col("pts").as("purchase_ts"))
    val got = AsOfJoin.lastPrior(left, right, Seq("user_id"), "ts", "ts",
      Seq("purchase_ts"))
      .collect()
      .map(r => r.getAs[Long]("event_id") ->
        Option(r.getAs[java.sql.Timestamp]("asof_purchase_ts"))).toMap
    assert(got(1L).isEmpty && got(5L).isEmpty)
    assert(got(2L).contains(t("2024-01-01 10:00:00")))
    assert(got(3L).contains(t("2024-01-01 10:00:00")))
    assert(got(4L).contains(t("2024-01-01 12:00:00")))
  }

  test("as-of join keeps every left row (left-outer semantics)") {
    val q = AsOfJoin.q39AsOfJoin(spark, Sf)
    assert(q.count() == Tables.events(spark, Sf).count())
  }

  test("as-of join: a genuinely-null payload on the latest right row wins") {
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val left = Seq((1L, 7L, t("2024-01-01 13:00:00")))
      .toDF("event_id", "user_id", "ts")
    // latest prior right row carries a NULL payload — the match must be
    // that row's null, not a fallback to the earlier non-null row
    val right = Seq(
      (7L, t("2024-01-01 10:00:00"), Some("early")),
      (7L, t("2024-01-01 12:00:00"), None: Option[String]))
      .toDF("user_id", "ts", "note")
    val got = AsOfJoin.lastPrior(left, right, Seq("user_id"), "ts", "ts",
      Seq("note")).collect()
    assert(got.length == 1)
    assert(got.head.isNullAt(got.head.fieldIndex("asof_note")))
  }

  test("salted join rejects right/full outer (replication would duplicate)") {
    val df = Seq((1L, 1L)).toDF("k", "id")
    intercept[IllegalArgumentException] {
      SkewJoin.saltedJoin(df, "k", "id", df, "k", n = 4,
        joinType = "full_outer")
    }
  }

  test("salted join returns exactly the plain join's rows") {
    val li = Tables.lineitem(spark, Sf)
      .select("l_orderkey", "l_linenumber", "l_partkey")
    val p = Tables.part(spark, Sf).select("p_partkey", "p_brand")
    val plain = li.join(p, li("l_partkey") === p("p_partkey"))
      .select("l_orderkey", "l_linenumber", "p_brand")
      .collect().map(_.toSeq).toSet
    val salted = SkewJoin.saltedJoin(li, "l_partkey", "l_orderkey",
        p, "p_partkey", n = 4)
      .select("l_orderkey", "l_linenumber", "p_brand")
      .collect().map(_.toSeq).toSet
    assert(salted == plain)
  }

  test("skewedKeys flags a hot key") {
    val df = (Seq.fill(1000)(42L) ++ (1L to 100L)).toDF("k")
    val hot = SkewJoin.skewedKeys(df, "k", threshold = 10.0)
      .collect().map(_.getLong(0))
    assert(hot.toSeq == Seq(42L))
  }

  test("bloom prefilter join equals the plain join exactly") {
    val li = Tables.lineitem(spark, Sf)
      .select("l_orderkey", "l_linenumber", "l_quantity")
    // selective build side: ~1% of orders have partners on the probe
    val sel = Tables.orders(spark, Sf)
      .filter(col("o_orderkey") % 97 === 0)
      .select("o_orderkey", "o_orderpriority")
    val plain = li.join(sel, li("l_orderkey") === sel("o_orderkey"))
      .select("l_orderkey", "l_linenumber", "o_orderpriority")
      .collect().map(_.toSeq).toSet
    val got = graft.operators.BloomJoin.prefilterJoin(
        li, sel, "l_orderkey", "o_orderkey", expectedItems = 200)
      .select("l_orderkey", "l_linenumber", "o_orderpriority")
      .collect().map(_.toSeq).toSet
    assert(got == plain && got.nonEmpty)
  }

  test("bloom prefilter: codegen'd probe filter sits on the big-side scan") {
    val li = Tables.lineitem(spark, Sf).select("l_orderkey", "l_quantity")
    val sel = Tables.orders(spark, Sf)
      .filter(col("o_orderkey") % 97 === 0).select("o_orderkey")
    val joined = graft.operators.BloomJoin.prefilterJoin(
      li, sel, "l_orderkey", "o_orderkey", expectedItems = 200)
    joined.collect()
    val plan = joined.queryExecution.executedPlan.toString
    // the predicate prints under the expression's pretty name, inside a
    // whole-stage-codegen'd Filter on the probe-side scan
    assert(plan.contains("bloommightcontain"),
      s"bloom predicate missing from plan:\n$plan")
    // the probe rows surviving the filter must be far fewer than the scan
    val kept = li.filter(graft.functions.BloomFilterExpression.mightContain(
      col("l_orderkey"), sel.stat.bloomFilter("o_orderkey", 200, 0.01)))
      .count()
    assert(kept < li.count() / 10, s"bloom kept $kept rows")
  }

  test("bloom prefilter schema contract: distinct key names both survive; " +
      "colliding names keep only the probe key") {
    val big = Seq((1L, "a"), (2L, "b")).toDF("k", "v")
    val small = Seq((1L, 10L)).toDF("sk", "w")
    val distinctKeys = graft.operators.BloomJoin.prefilterJoin(
      big, small, "k", "sk", expectedItems = 1)
    assert(distinctKeys.columns.toSeq == Seq("k", "v", "sk", "w"))
    assert(distinctKeys.select("sk").collect().map(_.getLong(0)).toSeq
      == Seq(1L))
    val colliding = graft.operators.BloomJoin.prefilterJoin(
      big, small.withColumnRenamed("sk", "k"), "k", "k", expectedItems = 1)
    assert(colliding.columns.toSeq == Seq("k", "v", "w"))
    assert(colliding.select("k").collect().map(_.getLong(0)).toSeq == Seq(1L))
  }

  test("bloom predicate rejects a foldable NULL filter at analysis time") {
    // any mightContain call registers graft_bloom_might_contain for SQL use
    val bf = Seq(1L).toDF("x").stat.bloomFilter("x", 1, 0.01)
    graft.functions.BloomFilterExpression.mightContain(col("k"), bf)
    val ex = intercept[org.apache.spark.sql.AnalysisException] {
      Seq(1L).toDF("k").filter(org.apache.spark.sql.functions.expr(
        "graft_bloom_might_contain(k, CAST(NULL AS BINARY))")).collect()
    }
    assert(ex.getMessage.toLowerCase.contains("non-null binary literal"),
      ex.getMessage)
  }

  test("interval join equals the naive BETWEEN join on random windows") {
    val rnd = new scala.util.Random(21)
    val facts = (0 until 500).map(i => (i.toLong, rnd.nextInt(100000).toLong))
      .toDF("fid", "us")
    val windows = (0 until 40).map { i =>
      val lo = rnd.nextInt(100000).toLong
      (i.toLong, lo, lo + rnd.nextInt(8000).toLong)
    }.toDF("wid", "lo", "hi")
    val got = graft.operators.RangeJoin
      .intervalJoin(facts, "us", windows, "lo", "hi", bucketUs = 2500L)
      .select("fid", "wid").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val expected = facts.join(windows,
        col("us") >= col("lo") && col("us") <= col("hi"))
      .select("fid", "wid").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    // multiset equality: a pair must appear exactly once per containment
    assert(got.sorted.toSeq == expected.sorted.toSeq,
      s"got ${got.length} pairs, expected ${expected.length}")
    assert(expected.nonEmpty)
  }

  test("q89 interval join plans as an equi-join: no nested loop, " +
      "no cartesian") {
    val p = graft.operators.RangeJoin.q89IntervalJoin(spark, Sf)
      .queryExecution.executedPlan.toString
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(2000))
    assert(!p.contains("CartesianProduct"), p.take(2000))
    assert(p.contains("_bucket"), p.take(2000))
  }
}
