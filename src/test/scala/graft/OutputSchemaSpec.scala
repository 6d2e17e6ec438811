package graft

import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Output-schema convention guard over EVERY `SparkEntry.queries` entry.
  *
  * The driver's correctness gate hashes each query's parquet dump
  * against the DuckDB oracle's result, and it normalizes a DECIMAL
  * output column differently per engine (`Decimal('900.5000')` vs
  * `900.5` — the r7 q94/q99/q122 hash-FAIL class). DECIMAL is fine —
  * required, even — for INTERNAL accumulation, but a final output
  * column must be an integer e4 long (money rule) or a ROUND-4 double.
  * This spec makes that rule structural: it builds every entry's
  * DataFrame and inspects the schema, failing on any DecimalType
  * anywhere in the output, including nested struct/array/map element
  * types. NOTE: most entries are lazy (plan-only), but a few run real
  * Spark jobs during CONSTRUCTION (driver-side bounded-artifact
  * collects — e.g. q183's matrix power, q186/q194's codebook/checkpoint
  * collects), so this spec does execute corpus-scale work for those.
  */
class OutputSchemaSpec extends AnyFunSuite with SparkTestBase {

  private def decimalPaths(dt: DataType, path: String): Seq[String] =
    dt match {
      case _: DecimalType => Seq(path)
      case s: StructType =>
        s.fields.toSeq.flatMap(f => decimalPaths(f.dataType, s"$path.${f.name}"))
      case a: ArrayType => decimalPaths(a.elementType, s"$path[]")
      case m: MapType =>
        decimalPaths(m.keyType, s"$path.key") ++
          decimalPaths(m.valueType, s"$path.value")
      case _ => Seq.empty
    }

  test("SparkEntry.declared: 281 uniquely named queries, each with a " +
      "non-blank oracle; queries and oracleSql share its key set") {
    val names = SparkEntry.declared.map(_.name)
    assert(names.size == 281, s"${names.size} declared queries")
    assert(names.distinct.size == names.size,
      "duplicate names: " + names.diff(names.distinct).mkString(", "))
    assert(SparkEntry.queries.keySet == SparkEntry.oracleSql.keySet)
    assert(SparkEntry.queries.keySet == names.toSet)
    val blank = SparkEntry.declared.filter(_.oracle.trim.isEmpty)
    assert(blank.isEmpty, "blank oracles: " + blank.map(_.name).mkString(", "))
  }

  test("no SparkEntry.queries output schema contains DecimalType " +
      "(cross-engine hash rule)") {
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        val schema = fn(spark, Sf).schema
        schema.fields.toSeq
          .flatMap(f => decimalPaths(f.dataType, f.name))
          .map(p => s"$name:$p")
    }
    assert(offenders.isEmpty,
      s"DECIMAL output columns (emit e4 longs or ROUND-4 doubles): " +
        offenders.mkString(", "))
  }
}
