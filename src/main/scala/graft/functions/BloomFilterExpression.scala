package graft.functions

import java.io.ByteArrayInputStream

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, Predicate}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.functions.{call_function, lit}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.sketch.BloomFilter

/** `key MIGHT-BE-IN bloom-filter` as a codegen'd predicate.
  *
  * The right child is the SERIALIZED filter (a binary literal, shipped
  * with the plan exactly like a broadcast variable's task binary); it is
  * deserialized once per expression instance — executor-side that means
  * once per task binary, never per row — and codegen references the live
  * filter object via `addReferenceObj`, so the hot path is one
  * `mightContainLong` call inside whole-stage codegen. Long keys probe
  * directly; string keys probe their UTF-8 bytes (matching what
  * `DataFrameStatFunctions.bloomFilter` inserts for each type).
  *
  * The one native function that stays an expression class rather than
  * a [[Registry]] kernel row: its analysis-time check rejects a
  * non-literal or NULL filter argument with a clear message, where a
  * static call would fail per task when the filter is deserialized.
  */
case class BloomMightContain(left: Expression, right: Expression)
    extends BinaryExpression with Predicate {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (IntegerType | LongType | StringType, BinaryType)
          if right.foldable =>
        // Foldable but NULL (Literal(null, BinaryType)) would NPE in
        // BloomFilter.readFrom at execution — same analysis-time fate
        // as a non-foldable child.
        if (right.eval(null) == null)
          TypeCheckResult.TypeCheckFailure(
            "bloom filter argument must be a non-null binary literal")
        else TypeCheckResult.TypeCheckSuccess
      case (_, BinaryType) if !right.foldable =>
        // The filter is driver-evaluated once (right.eval(null)); a
        // non-foldable right child would deserialize garbage — fail at
        // analysis, not at runtime.
        TypeCheckResult.TypeCheckFailure(
          "bloom filter argument must be a foldable binary literal")
      case other =>
        TypeCheckResult.TypeCheckFailure(
          s"expected (int|bigint|string, binary literal), got $other")
    }

  @transient private lazy val bf: BloomFilter = BloomFilter.readFrom(
    new ByteArrayInputStream(right.eval(null).asInstanceOf[Array[Byte]]))

  override def nullSafeEval(k: Any, @annotation.unused ignored: Any): Any =
    left.dataType match {
      case IntegerType => bf.mightContainLong(k.asInstanceOf[Int].toLong)
      case LongType => bf.mightContainLong(k.asInstanceOf[Long])
      case StringType =>
        bf.mightContainBinary(k.asInstanceOf[UTF8String].getBytes)
    }

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val bfRef = ctx.addReferenceObj("graftBloom", bf,
      classOf[BloomFilter].getName)
    nullSafeCodeGen(ctx, ev, (k, _) => left.dataType match {
      case IntegerType => s"${ev.value} = $bfRef.mightContainLong((long) $k);"
      case LongType => s"${ev.value} = $bfRef.mightContainLong($k);"
      case StringType =>
        s"${ev.value} = $bfRef.mightContainBinary($k.getBytes());"
    })
  }

  override protected def withNewChildrenInternal(l: Expression,
      r: Expression) = copy(left = l, right = r)
}

object BloomFilterExpression {
  def mightContain(key: Column,
      filter: BloomFilter): Column = {
    val bytes = {
      val out = new java.io.ByteArrayOutputStream()
      filter.writeTo(out)
      out.toByteArray
    }
    call_function("graft_bloom_might_contain", key, lit(bytes))
  }
}
