package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** r15: graft_seq_patterns ≡ the nested-HOF greedy earliest-match
  * spelling (multiset — order of emission differs by construction,
  * every consumer explodes), on real q232 sessions and an edge grid.
  */
class SeqPatternsSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private def hofPats(arrC: Column, dC: Column): Column = {
    def after(arr: Column, p: Column): Column =
      slice(arr, (p + 1).cast("int"), size(arr))
    concat(
      transform(dC, a => a),
      filter(flatten(transform(dC, a =>
        transform(dC, b =>
          when(array_position(
            after(arrC, array_position(arrC, a)), b) > 0,
            concat(a, lit(">"), b))))), x => x.isNotNull),
      filter(flatten(flatten(transform(dC, a =>
        transform(dC, b =>
          transform(dC, c => {
            val r1 = after(arrC, array_position(arrC, a))
            val p2 = array_position(r1, b)
            when(p2 > 0 && array_position(after(r1, p2), c) > 0,
              concat(a, lit(">"), b, lit(">"), c))
          }))))), x => x.isNotNull))
  }

  private def diff(arrs: org.apache.spark.sql.DataFrame): Long =
    arrs.select(col("arr"), array_distinct(col("arr")).as("d"))
      .select(
        sort_array(graft.functions.SeqPatterns.patterns(col("arr")))
          .as("native"),
        sort_array(hofPats(col("arr"), col("d"))).as("sql"))
      .filter(not(col("native") <=> col("sql")))
      .count()

  test("native ≡ HOF patterns on the real q232 sessions") {
    val GapUs = 14400000000L
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("us"), col("event_id"))
    val sess = Tables.events(spark, Sf)
      .filter(col("user_id").isNotNull)
      .select(col("user_id"), unix_micros(col("ts")).as("us"),
        col("event_id"), col("event_type"))
      .withColumn("_brk",
        when(col("us") - lag(col("us"), 1).over(w) > GapUs, 1L)
          .otherwise(0L))
      .withColumn("_sid", sum(col("_brk")).over(w.rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)))
      .groupBy(col("user_id"), col("_sid"))
      .agg(transform(
        sort_array(collect_list(struct(col("us"), col("event_id"),
          col("event_type").as("t")))),
        e => e.getField("t")).as("arr"))
    assert(diff(sess) == 0L)
  }

  test("native ≡ HOF patterns on the edge grid") {
    val edge = Seq(
      Seq("a"),
      Seq("a", "a"),
      Seq("a", "b"),
      Seq("b", "a"),
      Seq("a", "b", "c"),
      Seq("a", "b", "a", "c", "b"),
      Seq("x", "x", "x", "x"),
      Seq("p", "q", "p", "q", "p", "q"),
      Seq("a", "b", "c", "d", "e", "f", "g")
    ).toDF("arr")
    assert(diff(edge) == 0L)
  }
}
