package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.KnownNullable
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.types.StructType

/** Bridge into `private[sql]` constructors that third-party Spark
  * extensions need: building a DataFrame from a custom LogicalPlan.
  * The standard technique for Spark-extension libraries (the planner
  * strategy itself is injected through the public
  * SparkSessionExtensions / experimental API).
  */
object GraftSqlBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** `df` with each top-level column that the same position of `schema`
    * calls nullable marked nullable (`KnownNullable`, which the optimizer
    * keeps even where it proves the column non-null), so that a write of
    * it carries the same flags in its parquet schema footer. A constant
    * column stays non-nullable: the optimizer folds it to its literal.
    */
  def nullableAs(df: DataFrame, schema: StructType): DataFrame =
    df.select(df.schema.zip(schema).map { case (have, want) =>
      val c = df.col(have.name)
      if (!want.nullable) c
      else classic.ExpressionUtils.column(
        KnownNullable(classic.ExpressionUtils.expression(c)))
        .as(have.name, have.metadata)
    }: _*)
}
