package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** CSV / JSON-lines ingestion with explicit schemas — the formats raw
  * feeds actually arrive in. Schema is always supplied (inference costs
  * a full extra pass at 100 TB and guesses types); malformed rows are
  * captured, not dropped silently.
  */
object TextSources {

  def readCsv(spark: SparkSession, path: String, schema: StructType,
      header: Boolean = true): DataFrame =
    spark.read.schema(schema)
      .option("header", header.toString)
      .option("mode", "PERMISSIVE")
      .csv(path)

  /** JSON lines under `schema`, with malformed rows routed to a
    * `_corrupt` column so bad feeds are observable (count them,
    * quarantine them) instead of silently null.
    */
  def readJsonlWithCorrupt(spark: SparkSession, path: String,
      schema: StructType): DataFrame = {
    val withCorrupt = schema.add("_corrupt", "string")
    spark.read.schema(withCorrupt)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt")
      .json(path)
  }
}
