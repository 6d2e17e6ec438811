package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** Bloom-prefiltered shuffle join: when the probe side is huge, the build
  * side is too big to broadcast-join outright, and most probe rows have
  * NO partner (the selective-dimension pattern — a filtered customer
  * segment against the full event log), ship a Bloom filter of the build
  * keys to the probe scan and drop partnerless rows BEFORE the shuffle.
  * The filter is megabytes where the build rows are gigabytes; false
  * positives only let a few extra rows through to the exact join, so the
  * result is identical to the plain join — what changes is that the
  * probe-side Exchange carries match-rate × |probe| rows instead of
  * |probe|. (The same idea as Spark's runtime row-level filtering, as an
  * explicit engine operator with the filter pushed into whole-stage
  * codegen via [[graft.functions.BloomMightContain]].)
  *
  * Scale: the build side is scanned once to populate the sketch
  * (`stat.bloomFilter`, a tree-reduced aggregate) and once for the join
  * itself — the price of shrinking the big side's shuffle, worth it
  * exactly when match rate ≪ 1. `expectedItems` sizes the sketch
  * (n·ln(1/fpp)/ln²2 bits ≈ 1.2 MB per million keys at 1% fpp); pass the
  * catalog/footer row count — do NOT leave the default in a hot path, it
  * costs an extra count() job.
  *
  * Reference counterpart: the keyed incremental loads of
  * etl_pipeline_script.py:128-145 (match_cards ⋈ new match keys) — at
  * 100 TB the "which rows have partners" question is what this answers
  * without shuffling the fact table.
  */
object BloomJoin {

  def prefilterJoin(big: DataFrame, small: DataFrame, bigKey: String,
      smallKey: String, expectedItems: Long = 0L,
      fpp: Double = 0.01): DataFrame = {
    val n = if (expectedItems > 0) expectedItems else small.count()
    val bf = small.stat.bloomFilter(smallKey, n, fpp)
    val prefiltered = big.filter(graft.functions.BloomFilterExpression
      .mightContain(col(bigKey), bf))
    // Schema contract: the build side's key survives under its own name
    // (it duplicates bigKey value-for-value on an inner equi-join, but
    // callers may select it); it is dropped ONLY when the two key names
    // collide, where keeping both would make every downstream
    // select-by-name an ambiguous-column error.
    val joined = prefiltered.join(small,
      prefiltered(bigKey) === small(smallKey))
    if (bigKey == smallKey) joined.drop(small(smallKey)) else joined
  }

  /** 101. Driver-visible instantiation: the selective-dimension pattern —
    * urgent high-value orders (~2% of the table) against the full
    * lineitem scan. Output is DEFINED to equal the plain inner join
    * (false positives only reach, and are removed by, the exact join),
    * so the DuckDB oracle is that plain join. `expectedItems` comes from
    * the parquet footer row count ([[graft.sources.TableStatistics]]) —
    * the catalog-stats path; the full-table count over-sizes the sketch
    * for the filtered build side, which costs bits, never correctness,
    * and avoids the extra count() job the default would run.
    */
  def q85BloomJoin(s: SparkSession, d: String): DataFrame = {
    val li = graft.Tables.lineitem(s, d)
      .select("l_orderkey", "l_linenumber", "l_quantity")
    val sel = graft.Tables.orders(s, d)
      .filter(col("o_orderpriority") === "1-URGENT" &&
        col("o_totalprice") > 150000)
      .select("o_orderkey", "o_custkey", "o_totalprice")
    val n = graft.sources.TableStatistics.tableRowCount(s, d, "orders")
    prefilterJoin(li, sel, "l_orderkey", "o_orderkey", expectedItems = n)
      .select("l_orderkey", "l_linenumber", "l_quantity", "o_custkey",
        "o_totalprice")
  }
}
