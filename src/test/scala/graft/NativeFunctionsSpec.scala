package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.scalatest.funsuite.AnyFunSuite

/** Every `graft_*` function of the registry table resolves from plain
  * SQL on the shared session, with no Scala helper called first, and
  * returns the same rows interpreted (`NO_CODEGEN`, whole-stage codegen
  * off) as under whole-stage codegen — on NULL, empty and ordinary
  * inputs.
  */
class NativeFunctionsSpec extends AnyFunSuite with SparkTestBase {

  /** Per-row argument value: row 0 NULL, row 1 empty, rows 2–3 ordinary. */
  private def rows(empty: String, a: String, b: String): String =
    s"CASE id WHEN 0 THEN NULL WHEN 1 THEN $empty WHEN 2 THEN $a ELSE $b END"

  private def floats(xs: String*) =
    xs.map(_ + "F").mkString("array(", ", ", ")")
  private val NoFloats = "CAST(array() AS array<float>)"
  private val NoDoubles = "CAST(array() AS array<double>)"
  private val NoInts = "CAST(array() AS array<int>)"
  private val NoLongs = "CAST(array() AS array<bigint>)"
  private val NoStrings = "CAST(array() AS array<string>)"
  private def tw(pairs: (String, Long)*) = pairs.map { case (t, w) =>
    s"named_struct('tok', '$t', 'w2', ${w}L)" }.mkString("array(", ", ", ")")

  private val bloomHex = {
    val bf = org.apache.spark.util.sketch.BloomFilter.create(10, 0.01)
    bf.putLong(1L); bf.putLong(2L)
    val out = new java.io.ByteArrayOutputStream()
    bf.writeTo(out)
    out.toByteArray.map(b => f"$b%02X").mkString
  }

  /** (function, argument SQL); the first argument is NULL on row 0. */
  private val cases: Seq[(String, Seq[String])] = Seq(
    "graft_cosine" -> Seq(
      rows(NoFloats, floats("1.0", "2.0", "3.0"), floats("0.0", "0.0")),
      rows(NoFloats, floats("0.5", "-1.0", "2.0"), floats("1.0", "1.0"))),
    "graft_cosine" -> Seq(
      rows(NoDoubles, "array(1.0D, 2.0D)", "array(3.0D)"),
      rows(NoDoubles, "array(2.0D, 1.0D)", "array(-3.0D)")),
    "graft_dot" -> Seq(
      rows(NoFloats, floats("1.0", "2.0"), floats("0.25")),
      rows(NoFloats, floats("3.0", "4.0"), floats("8.0"))),
    "graft_dot" -> Seq(
      rows(NoDoubles, "array(1.5D, 2.0D)", "array(0.1D)"),
      rows(NoDoubles, "array(3.0D, 4.0D)", "array(0.2D)")),
    "graft_norm" -> Seq(rows(NoFloats, floats("3.0", "4.0"), floats("1.0"))),
    "graft_norm" -> Seq(rows(NoDoubles, "array(3.0D, 4.0D)", "array(0.0D)")),
    "graft_idot" -> Seq(
      rows(NoInts, "array(1, -2, 3)", "array(127)"),
      rows(NoInts, "array(4, 5, -6)", "array(-127)")),
    "graft_ln_e9" -> Seq(rows("1L", "20L", "2000000000L"),
      rows("1L", "7L", "1L")),
    "graft_exp_e9" -> Seq(rows("0L", "1000000000L", "20000000000L")),
    "graft_word_shingles" -> Seq(
      rows("''", "'The quick brown fox the QUICK brown'", "'  a\tb  '"),
      "CAST(id AS INT) + 1"),
    "graft_seq_patterns" -> Seq(
      rows(NoStrings, "array('a', 'b', 'a', 'c')", "array('x', 'x')")),
    "graft_md5_minhash" -> Seq(
      rows(NoStrings, "array('a b', 'b c', NULL)", "array('z')"), "4"),
    "graft_md5_simhash" -> Seq(
      rows(NoStrings, "array('a', 'b', 'a')", "array('z')")),
    "graft_minhash" -> Seq(rows(NoLongs, "array(1L, 2L, 3L)", "array(42L)"),
      "4"),
    "graft_sig_agree" -> Seq(
      rows(NoLongs, "array(1L, 2L, 3L)", "array(5L)"),
      rows(NoLongs, "array(1L, 0L, 3L)", "array(6L)")),
    "graft_count_in_sorted" -> Seq(
      rows(NoStrings, "array('b', 'z', 'a', NULL, 'b')", "array('q')"),
      "array('a', 'b', 'c')"),
    "graft_sorted_intersect_above" -> Seq(
      rows(NoLongs, "array(1L, 3L, 5L, 7L)", "array(2L)"),
      "array(3L, 4L, 5L, 7L)", rows("0L", "3L", "NULL")),
    "graft_sorted_pair_dot" -> Seq(
      rows("CAST(array() AS array<struct<tok: string, w2: bigint>>)",
        tw("a" -> 2, "c" -> 5, "d" -> 1), tw("b" -> 9)),
      tw("a" -> 2, "b" -> 9, "d" -> 1)),
    "graft_pair_merge" -> Seq(
      rows(NoStrings, "array('a', 'b', 'a', 'b', 'c')",
        "array('a', 'a', 'b')"),
      "'a'", "'b'"),
    "graft_bpe_encode" -> Seq(
      rows(NoStrings, "array('abc', 'cab')", "array('', 'c')"),
      "concat('a', chr(1), 'b', chr(2), 'ab', chr(1), 'c')"),
    "graft_bloom_might_contain" -> Seq(rows("0L", "1L", "5L"),
      s"X'$bloomHex'"))

  private def query(fn: String, args: Seq[String]): DataFrame = spark.sql(
    s"SELECT id, $fn(${args.mkString(", ")}) AS r FROM range(4)")

  private def codegenStages(df: DataFrame): Int =
    df.queryExecution.executedPlan.collect {
      case w: WholeStageCodegenExec => w }.size

  test("every registry function resolves from SQL with no helper called") {
    assert(cases.map(_._1).toSet == graft.functions.Registry.names.toSet)
    for ((fn, args) <- cases)
      assert(query(fn, args).schema.fieldNames.toSeq == Seq("id", "r"), fn)
  }

  test("interpreted and codegen paths return the same rows") {
    for ((fn, args) <- cases) {
      val codegen = query(fn, args)
      val compiled = codegen.collect().toSeq
      assert(codegenStages(codegen) > 0, s"$fn: no whole-stage codegen")
      val keys = Seq("spark.sql.codegen.factoryMode",
        "spark.sql.codegen.wholeStage")
      val prev = keys.map(k => spark.conf.getOption(k))
      val (interp, interpreted) = try {
        spark.conf.set(keys(0), "NO_CODEGEN")
        spark.conf.set(keys(1), "false")
        val df = query(fn, args)
        (df, df.collect().toSeq)
      } finally keys.zip(prev).foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
      assert(codegenStages(interp) == 0, s"$fn: interpreted plan codegens")
      assert(compiled.sortBy(_.getLong(0)) ==
        interpreted.sortBy(_.getLong(0)),
        s"$fn: codegen $compiled vs interpreted $interpreted")
      assert(compiled.find(_.getLong(0) == 0L).get.isNullAt(1),
        s"$fn: a NULL argument must give NULL")
      assert(compiled.exists(r => r.getLong(0) > 1L && !r.isNullAt(1)),
        s"$fn: ordinary rows all NULL")
    }
  }

  test("a wrong argument type fails analysis with Spark's type mismatch") {
    val ex = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT graft_seq_patterns(map('a', 'b')) AS r").collect()
    }
    assert(ex.getMessage.contains("DATATYPE_MISMATCH"), ex.getMessage)
  }
}
