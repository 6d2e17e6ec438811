package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.catalyst.util.MathUtils
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Global per-group running sums and ranks, never in one reducer.
  *
  * `SUM OVER (PARTITION BY group ORDER BY ord)` sends EVERY row of a
  * group through one reducer — fatal when groups are few and large (3
  * return flags × 33 TB each). Here the input is range-partitioned by
  * (group, ord) and sorted within partitions: each partition is one
  * ordered slice. One pass per slice gives each row its exclusive
  * in-slice sum, plus its (slice, group) offset: the prefix sum of a
  * #partitions × #groups totals table (driver-scale, broadcast back).
  * This equals the global window wherever ties are resolved by value.
  *
  * INVARIANT: the totals and the slice pass must see IDENTICAL `_part`
  * values, i.e. one execution of the range exchange. ReuseExchange is
  * NOT enough: a 20M-row stress run caught a self-join defeating reuse,
  * and RangePartitioner's rdd-id-seeded sampling picking other bounds
  * (≈450k duplicate ranks). So the sorted slices are localCheckpoint'd;
  * PlanAuditSpec pins the exchange in [[rangeSliced]], none in q45.
  */
object DistributedRank {

  /** The pre-checkpoint sorted slices — split out so PlanAuditSpec can
    * pin the rangepartitioning exchange the checkpoint hides. */
  private[graft] def rangeSliced(df: DataFrame, gc: Seq[Column],
      oc: Seq[Column]): DataFrame =
    df.repartitionByRange((gc ++ oc): _*)
      .sortWithinPartitions((gc ++ oc): _*)
      .withColumn("_part", spark_partition_id())

  /** Append `rankCol` = 1-based rank of each row within its `groupCols`
    * group ordered by `orderCols` (ascending): its running count + 1. */
  def withRank(df: DataFrame, groupCols: Seq[String],
      orderCols: Seq[String], rankCol: String): DataFrame =
    runningSums(df, groupCols, orderCols, Seq(lit(1L) -> rankCol))
      .withColumn(rankCol, col(rankCol) + 1L)

  /** Append `outCol` = EXCLUSIVE running sum of `valueCol` (long) within
    * its `groupCols` group ordered by `orderCols`. */
  def withRunningSum(df: DataFrame, groupCols: Seq[String],
      orderCols: Seq[String], valueCol: String, outCol: String): DataFrame =
    withRunningSums(df, groupCols, orderCols, Seq(valueCol -> outCol))

  /** Multi-column [[withRunningSum]]: all `sums` (valueCol → outCol)
    * share the ONE range exchange, slice pass and offset broadcast. As
    * with ANSI `sum`, NULL values are skipped and an overflow fails with
    * ARITHMETIC_OVERFLOW; as in `PARTITION BY`, a NULL group key is one
    * group. The output lists the group columns first.
    */
  def withRunningSums(df: DataFrame, groupCols: Seq[String],
      orderCols: Seq[String], sums: Seq[(String, String)]): DataFrame =
    runningSums(df, groupCols, orderCols, sums.map(s => col(s._1) -> s._2))

  /** The one implementation: the summed values are long expressions
    * evaluated on the checkpoint, so a rank's constant 1 is not stored. */
  private def runningSums(df: DataFrame, groupCols: Seq[String],
      orderCols: Seq[String], sums: Seq[(Column, String)]): DataFrame = {
    require(sums.nonEmpty, "need at least one (valueCol, outCol) pair")
    require(sums.map(_._2).distinct.size == sums.size,
      "output column names must be unique")
    val gc = groupCols.map(col)
    val front = groupCols ++ df.columns.filterNot(groupCols.contains)
    val sliced = rangeSliced(df.select(front.map(col): _*), gc,
      orderCols.map(col)).localCheckpoint(false)
      .select(col("*") +: sums.map { case (v, o) => v.as(s"_v_$o") }: _*)
    sums.foreach { case (v, o) => require(
      sliced.schema(s"_v_$o").dataType == LongType, s"$v must be a long") }
    val vIdx = sums.map(s => sliced.schema.fieldIndex(s"_v_${s._2}")).toArray
    val local = sliced.mapPartitions(slicePass(_, groupCols.size, vIdx))(
      Encoders.row(sums.foldLeft(sliced.schema) { case (s, (_, o)) =>
        s.add(s"_lcs_$o", LongType, nullable = false) }))
    // one row per (slice, group). The group key is one struct: equal to
    // itself when a field is NULL, and a column the planner sees as the
    // offsets' unique key (so the join is estimated as a sum of sizes)
    val gk = if (gc.isEmpty) Nil else Seq(struct(gc: _*))
    val keys = "_part" +: gk.map(_ => "_gk")
    val n = sums.map { case (_, o) => sum(col(s"_v_$o")).as(s"_n_$o") }
    val totals = sliced.groupBy(col("_part") +: gk.map(_.as("_gk")): _*)
      .agg(n.head, n.tail: _*)
    val offW = Window.partitionBy(keys.tail.map(col): _*)
      .orderBy(col("_part")).rowsBetween(Window.unboundedPreceding, -1)
    val offsets = totals.select(keys.map(col) ++ sums.map { case (_, o) =>
      coalesce(sum(col(s"_n_$o")).over(offW), lit(0L)).as(s"_off_$o")
    }: _*)
    val on = (local("_part") +: gk).zip(keys.map(offsets(_)))
      .map { case (l, r) => l === r }.reduce(_ && _)
    sums.foldLeft(local.join(broadcast(offsets), on)) { case (acc, (_, o)) =>
      acc.withColumn(o, col(s"_off_$o") + col(s"_lcs_$o"))
    }.drop("_part" +: "_gk" +: sums.flatMap { case (_, o) =>
      Seq(s"_v_$o", s"_lcs_$o", s"_off_$o") }: _*)
  }

  /** One sorted slice whose first `nKeys` columns are the group key →
    * each row plus the exclusive in-slice sums of its `vIdx` columns. */
  private def slicePass(rows: Iterator[Row], nKeys: Int,
      vIdx: Array[Int]): Iterator[Row] = {
    val acc = new Array[Long](vIdx.length)
    var key: Row = null
    rows.map { r =>
      // Row equality: NULL = NULL, NaN = NaN, byte arrays by content
      val k = Row.fromSeq((0 until nKeys).map(r.get))
      if (k != key) { java.util.Arrays.fill(acc, 0L); key = k }
      val out = Row.fromSeq(r.toSeq ++ acc)
      for (j <- vIdx.indices if !r.isNullAt(vIdx(j)))
        acc(j) = MathUtils.addExact(acc(j), r.getLong(vIdx(j)))
      out
    }
  }
}
