package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** r15: graft_word_shingles ≡ the SQL HOF spelling
  * `array_distinct(transform(...concat_ws(slice(split(lower(trim(text)),
  * "\\s+"))...)))` — element-for-element INCLUDING first-occurrence
  * order, on the real corpus and an edge-case grid. The q96/q108/q170
  * bases and the whole minhash family ride this equivalence.
  */
class WordShinglesSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private def sqlShingles(k: Int) = {
    val toks = split(lower(trim(col("text"))), "\\s+")
    array_distinct(
      when(size(toks) >= k,
        transform(sequence(lit(0), size(toks) - k),
          i => concat_ws(" ", slice(toks, i + 1, lit(k)))))
        .otherwise(array(concat_ws(" ", toks))))
  }

  private def diff(df: org.apache.spark.sql.DataFrame, k: Int): Long =
    df.select(
        graft.functions.WordShingles.shingles(col("text"), k)
          .as("native"),
        sqlShingles(k).as("sql"))
      .filter(not(col("native") <=> col("sql")))
      .count()

  test("native ≡ SQL shingles on the real corpus, k = 1 and 3") {
    val docs = Tables.documents(spark, Sf)
      .filter(col("text").isNotNull).select("text")
    assert(diff(docs, 3) == 0L)
    assert(diff(docs, 1) == 0L)
  }

  test("native ≡ SQL shingles on the edge-case grid") {
    val edge = Seq(
      "",                       // empty → [""] single shingle
      " ",                      // trims to empty
      "one",                    // fewer tokens than k
      "one two",                // exactly k-1
      "one two three",          // exactly k
      "a a a a a",              // dedup collapses repeated windows
      "A  B\tC\nD",             // mixed whitespace, uppercase
      "  leading and trailing  ",
      "Ünïcode ÜPPER case tökens here",
      "x y z x y z x y z"       // repeated shingles, order preserved
    ).toDF("text")
    assert(diff(edge, 3) == 0L)
    assert(diff(edge, 1) == 0L)
    assert(diff(edge, 2) == 0L)
  }
}
