package graft.functions

import org.apache.spark.sql.Encoder
import org.apache.spark.sql.expressions.Aggregator

/** DETERMINISTIC mergeable quantile sketch — the DDSketch bucketing
  * (Masson, Lee & Rim, VLDB 2019) with a fixed log-γ bucket array:
  * bucket i > 0 covers value units in (γ^(i−1), γ^i], bucket 0 holds
  * zeros, and the estimate for bucket i is the interval midpoint
  * 2γ^i/(γ+1) — relative error ≤ (γ−1)/(γ+1) ≈ 1% at γ = 1.02.
  *
  * Why not the DataSketches KLL/REQ family (q162's HLL cousin):
  * those compact by RANDOM sampling, so two runs over the same data
  * produce different sketches — unusable under this engine's
  * determinism contract (every run must be row-identical). A fixed
  * bucket array is deterministic BY CONSTRUCTION, and its merge is
  * element-wise addition — exact, associative, commutative, so
  * map-side combine and any re-aggregation depth (the q162 rollup
  * pattern: daily artifacts → weekly/all-time at artifact scale)
  * cannot change the result. The price is a value-range cap: 2048
  * buckets cover unit values up to γ²⁰⁴⁷ ≈ 4·10¹⁷ at γ = 1.02;
  * larger values clamp to the top bucket (monitoring data — latencies,
  * sizes, prices — lives far below it).
  *
  * Input contract: NON-NEGATIVE integer units (scale fixed-decimal
  * data by 10⁴ first). Negatives are an error — a silent clamp would
  * corrupt low quantiles.
  */
object DdSketch {
  val Gamma = 1.02
  val Buckets = 2048

  /** Exact integer bucket boundaries: BoundaryUnits(i) = ⌊γ^i⌋,
    * computed in exact rational arithmetic (102^i / 100^i by
    * BigInteger division — no libm anywhere). For INTEGER units,
    * "smallest i with units ≤ ⌊γ^i⌋" is exactly ceil(log_γ units), so
    * this is the classic DDSketch index — but defined by integer
    * comparisons, which makes bucket assignment engine-exact and lets
    * an ANSI oracle replay it from a literal (lo, hi] range table
    * (the q176 upgrade from rows-only to a full hash oracle).
    * γ^2047 ≈ 4·10¹⁷ < 2⁶³, so every boundary fits a long.
    */
  val BoundaryUnits: Array[Long] = {
    val a = new Array[Long](Buckets)
    val n102 = java.math.BigInteger.valueOf(102)
    val n100 = java.math.BigInteger.valueOf(100)
    var num = java.math.BigInteger.ONE
    var den = java.math.BigInteger.ONE
    a(0) = 0L // bucket 0 holds exact zeros
    var i = 1
    while (i < Buckets) {
      num = num.multiply(n102); den = den.multiply(n100)
      a(i) = num.divide(den).longValueExact()
      i += 1
    }
    a
  }

  /** Exact integer midpoint estimates: EstimateUnits(i) =
    * round-half-up(2γ^i/(γ+1)) = round-half-up(100·102^i/(101·100^i))
    * in the same exact rational arithmetic — so the reported quantile
    * VALUE is engine-exact too, not a double pow rounded at the ulp.
    */
  val EstimateUnits: Array[Long] = {
    val a = new Array[Long](Buckets)
    val n102 = java.math.BigInteger.valueOf(102)
    val n100 = java.math.BigInteger.valueOf(100)
    val two = java.math.BigInteger.TWO
    var p102 = java.math.BigInteger.ONE
    var p100 = java.math.BigInteger.ONE
    a(0) = 0L
    var i = 1
    while (i < Buckets) {
      p102 = p102.multiply(n102); p100 = p100.multiply(n100)
      val num = n100.multiply(p102)                       // 100·102^i
      val den = java.math.BigInteger.valueOf(101).multiply(p100)
      a(i) = num.multiply(two).add(den)
        .divide(den.multiply(two)).longValueExact()       // half-up
      i += 1
    }
    a
  }

  /** Bucket index of a non-negative value in units: smallest i ≥ 1
    * with units ≤ BoundaryUnits(i) (binary search — pure integer
    * comparisons), values past the last boundary clamp to the top
    * bucket. Identical to ceil(log_γ units) for integer inputs, minus
    * the libm ulp hazard.
    */
  def bucketOf(units: Long): Int = {
    require(units >= 0, s"DdSketch values must be non-negative: $units")
    if (units == 0L) 0
    else if (units > BoundaryUnits(Buckets - 1)) Buckets - 1
    else {
      var lo = 1
      var hi = Buckets - 1
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (BoundaryUnits(mid) >= units) hi = mid else lo = mid + 1
      }
      lo
    }
  }

  /** Midpoint estimate of bucket i (0 → 0.0). */
  def estimateOf(bucket: Int): Double =
    if (bucket == 0) 0.0
    else 2.0 * math.pow(Gamma, bucket) / (Gamma + 1.0)
}

/** Bucket-count aggregation of non-negative long units. */
class DdSketchAgg
    extends Aggregator[Long, Array[Long], Array[Long]] with Serializable {
  override def zero: Array[Long] = new Array[Long](DdSketch.Buckets)
  override def reduce(b: Array[Long], units: Long): Array[Long] = {
    b(DdSketch.bucketOf(units)) += 1L; b
  }
  override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
    var i = 0
    while (i < a.length) { a(i) += b(i); i += 1 }
    a
  }
  override def finish(b: Array[Long]): Array[Long] = b
  override def bufferEncoder: Encoder[Array[Long]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
  override def outputEncoder: Encoder[Array[Long]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
}

/** Element-wise sum of long arrays — the MERGE side of any bucketed
  * artifact ([[DdSketchAgg]] counts, histogram vectors): re-aggregate
  * persisted daily sketches to any grain without touching rows.
  * Null/empty inputs are ignored; first non-empty input fixes the
  * length, later mismatches error (two different bucketings must
  * never silently zip-truncate).
  */
class LongVectorSum
    extends Aggregator[Array[Long], Array[Long], Array[Long]]
    with Serializable {
  override def zero: Array[Long] = Array.emptyLongArray
  override def reduce(b: Array[Long], v: Array[Long]): Array[Long] =
    merge(b, if (v == null) Array.emptyLongArray else v)
  override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
    // adopt a defensive copy, never the input array itself: later
    // merges mutate the buffer in place, and aliasing externally-owned
    // data would corrupt results if the encoder ever reused arrays
    if (a.isEmpty) b.clone()
    else if (b.isEmpty) a
    else {
      require(a.length == b.length,
        s"vector length mismatch: ${a.length} vs ${b.length}")
      var i = 0
      while (i < a.length) { a(i) += b(i); i += 1 }
      a
    }
  }
  override def finish(b: Array[Long]): Array[Long] = b
  override def bufferEncoder: Encoder[Array[Long]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
  override def outputEncoder: Encoder[Array[Long]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
}
