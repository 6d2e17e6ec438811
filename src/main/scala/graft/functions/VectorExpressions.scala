package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.call_function

/** Embedding math over `array<float>` / `array<double>` columns as
  * native functions (`graft_cosine`, `graft_dot`, `graft_norm`,
  * `graft_idot`; see [[Registry]]): a tight primitive loop per row
  * inside whole-stage codegen, unlike a Scala UDF, which breaks codegen
  * and pays serialization per call — at 100 TB the difference is the
  * job. Each kernel has an `F` and a `D` form, picked from the element
  * type when the function is built.
  *
  * Accumulation is sequential in DOUBLE regardless of element type, so
  * results are deterministic and reproducible across engines.
  */
object VectorExpressions {

  /** cosine(a, b) = dot / (|a| * |b|); null when either norm is zero. */
  def cosineF(a: ArrayData, b: ArrayData): java.lang.Double = {
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0d; var na = 0d; var nb = 0d; var i = 0
    while (i < n) {
      val x = a.getFloat(i).toDouble; val y = b.getFloat(i).toDouble
      dot += x * y; na += x * x; nb += y * y; i += 1
    }
    ratio(dot, na, nb)
  }

  def cosineD(a: ArrayData, b: ArrayData): java.lang.Double = {
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0d; var na = 0d; var nb = 0d; var i = 0
    while (i < n) {
      val x = a.getDouble(i); val y = b.getDouble(i)
      dot += x * y; na += x * x; nb += y * y; i += 1
    }
    ratio(dot, na, nb)
  }

  private def ratio(dot: Double, na: Double, nb: Double): java.lang.Double = {
    val denom = math.sqrt(na) * math.sqrt(nb)
    if (denom == 0d) null else dot / denom
  }

  /** dot(a, b) — sequential double accumulation. */
  def dotF(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0d; var i = 0
    while (i < n) { dot += a.getFloat(i).toDouble * b.getFloat(i); i += 1 }
    dot
  }

  def dotD(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0d; var i = 0
    while (i < n) { dot += a.getDouble(i) * b.getDouble(i); i += 1 }
    dot
  }

  /** |a| — L2 norm, sequential double accumulation. */
  def normF(a: ArrayData): Double = {
    var acc = 0d; var i = 0
    while (i < a.numElements()) {
      val x = a.getFloat(i).toDouble; acc += x * x; i += 1
    }
    math.sqrt(acc)
  }

  def normD(a: ArrayData): Double = {
    var acc = 0d; var i = 0
    while (i < a.numElements()) {
      val x = a.getDouble(i); acc += x * x; i += 1
    }
    math.sqrt(acc)
  }

  /** idot(a, b) over array<int> — exact LONG accumulation. The stage-1
    * scorer for int8-quantized codes (SimilarityOps.q87): integer math
    * is bit-identical across engines, so a shortlist cut on it is
    * deterministic with no float accumulation order to pin. Bounds: for
    * int8 codes the per-term product is ≤ 127², far from Long overflow.
    */
  def idot(a: ArrayData, b: ArrayData): Long = {
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0L; var i = 0
    while (i < n) { acc += a.getInt(i).toLong * b.getInt(i); i += 1 }
    acc
  }

  def cosine(a: Column, b: Column): Column =
    call_function("graft_cosine", a, b)
  def dot(a: Column, b: Column): Column =
    call_function("graft_dot", a, b)
  def idot(a: Column, b: Column): Column =
    call_function("graft_idot", a, b)
  def norm(a: Column): Column =
    call_function("graft_norm", a)
}
