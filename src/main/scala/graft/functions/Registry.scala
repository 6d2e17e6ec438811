package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Concat, Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.objects.{Invoke, StaticInvoke}
import org.apache.spark.sql.types._

/** The engine's native SQL functions, declared once.
  *
  * A native function is a static Scala kernel over Catalyst's internal
  * values (`ArrayData`, `UTF8String`, primitives) plus one row of
  * [[table]]. A row names the SQL function, the kernel object and
  * method, the return type and the argument types, and builds Spark's
  * `StaticInvoke` over them: a codegen'd, null-propagating static call,
  * so whole-stage codegen and the interpreted path run the same
  * compiled kernel. The method is picked from the argument types when
  * the function is built (`cosineF` for `array<float>`), never per row;
  * Spark's implicit casts coerce other argument types or fail analysis
  * with the standard type-mismatch error. An unaliased call is named
  * `static_invoke(...)`, so every call site aliases its column.
  *
  * [[GraftSession.get]] registers the table on every session; the
  * Scala helpers (`VectorExpressions.cosine` et al.) only call by name.
  */
private[graft] object Registry {
  private type Builder = Seq[Expression] => Expression

  private val Strings = ArrayType(StringType)
  private val Longs = ArrayType(LongType)
  private val StringsOut = ArrayType(StringType, containsNull = false)
  private val LongsOut = ArrayType(LongType, containsNull = false)

  /** `kernel.method(args)` with `args` coerced to `types`; `returnsNull`:
    * the kernel itself can return null (a boxed result).
    */
  private def call(kernel: AnyRef, method: String, dataType: DataType,
      types: Seq[DataType], returnsNull: Boolean): Builder =
    args => StaticInvoke(kernel.getClass, dataType, method, args, types,
      propagateNull = true, returnNullable = returnsNull)

  private def static(kernel: AnyRef, method: String, dataType: DataType,
      types: DataType*): Builder =
    call(kernel, method, dataType, types, returnsNull = false)

  /** A [[VectorExpressions]] kernel: `<method>F` when every argument is
    * `array<float>`, else `<method>D` over `array<double>`.
    */
  private def vector(method: String, arity: Int,
      returnsNull: Boolean = false): Builder = args => {
    val floats = args.forall(_.dataType match {
      case ArrayType(FloatType, _) => true
      case _ => false
    })
    val (suffix, elem) = if (floats) ("F", FloatType) else ("D", DoubleType)
    call(VectorExpressions, method + suffix, DoubleType,
      Seq.fill(arity)(ArrayType(elem)), returnsNull)(args)
  }

  /** `array<struct<string, bigint>>` arguments keep their field names. */
  private val sortedPairDot: Builder = args => {
    val types = args.map(_.dataType match {
      case t @ ArrayType(StructType(Array(StructField(_, StringType, _, _),
          StructField(_, LongType, _, _))), _) => t
      case _ => ArrayType(new StructType().add("tok", StringType)
        .add("w2", LongType))
    })
    static(SortedPairDot, "dot", LongType, types: _*)(args)
  }

  /** The merge table is a plan constant: parsed once when the function
    * is built and shipped as an object literal.
    */
  private val bpeEncode: Builder = args => Invoke(
    Literal.fromObject(BpeEncodeExpression.encoder(args(1).eval().toString)),
    "encode", StringsOut, Seq(args(0)), Seq(Strings), returnNullable = false)

  private val table: Seq[(String, Builder)] = Seq(
    "graft_cosine" -> vector("cosine", 2, returnsNull = true),
    "graft_dot" -> vector("dot", 2),
    "graft_norm" -> vector("norm", 1),
    "graft_idot" -> static(VectorExpressions, "idot", LongType,
      ArrayType(IntegerType), ArrayType(IntegerType)),
    "graft_ln_e9" -> static(FixedLn, "lnE9", LongType, LongType, LongType),
    "graft_exp_e9" -> static(FixedExp, "expE9", LongType, LongType),
    "graft_word_shingles" -> static(WordShingles, "shingles", StringsOut,
      StringType, IntegerType),
    "graft_seq_patterns" -> static(SeqPatterns, "patterns", StringsOut,
      Strings),
    "graft_md5_minhash" -> static(Md5MinHashExpression, "minima", Strings,
      Strings, IntegerType),
    "graft_md5_simhash" -> static(Md5SimHashExpression, "simhash",
      LongType, Strings),
    "graft_minhash" -> static(MinHashExpression, "signature", LongsOut,
      Longs, IntegerType),
    "graft_sig_agree" -> static(MinHashExpression, "agreement",
      IntegerType, Longs, Longs),
    "graft_count_in_sorted" -> static(CountInSorted, "count", LongType,
      Strings, Strings),
    "graft_sorted_intersect_above" -> static(SortedIntersectAbove,
      "intersectAbove", LongsOut, Longs, Longs, LongType),
    "graft_sorted_pair_dot" -> sortedPairDot,
    // (syms, left, right) + the fused symbol, constant-folded per plan
    "graft_pair_merge" -> (args => static(PairMergeExpression, "merge",
      StringsOut, Strings, StringType, StringType, StringType)(
      args :+ Concat(args.drop(1)))),
    "graft_bpe_encode" -> bpeEncode,
    "graft_bloom_might_contain" -> (args => BloomMightContain(args(0),
      args(1))))

  /** The SQL names of the table, in declaration order. */
  val names: Seq[String] = table.map(_._1)

  /** Register the table on `spark`. The exists-check makes a repeat a
    * no-op instead of a replace, whose warning lands on stdout.
    */
  def register(spark: SparkSession): Unit = {
    val reg = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry
    for ((name, build) <- table
        if !reg.functionExists(FunctionIdentifier(name)))
      reg.createOrReplaceTempFunction(name, build, "built-in")
  }
}
