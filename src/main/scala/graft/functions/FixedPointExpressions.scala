package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.call_function

/** Native forms of the [[FixedLn]]/[[FixedExp]] e9 fixed-point
  * transcendentals — `graft_ln_e9(p, q)` = ln(p/q)·1e9 and
  * `graft_exp_e9(x)` = exp(x/1e9)·1e9, evaluating [[FixedLn.lnE9]] /
  * [[FixedExp.expE9]] directly (definitionally bit-identical to the
  * generated SQL step lists — the suite pins function ≡ step-fold on
  * a value grid).
  *
  * Why this exists: the step-list fold spells each call as ~16 chained
  * `withColumn`s, and a per-ROW use on a fact table stacks ~30
  * non-codegen `Project` operators — q272's scan ran interpreted end to
  * end (7.4 s steady at sf0.1, zero WholeStageCodegen in the plan). One
  * function keeps the whole scan inside one codegen stage. Domain
  * contract is the callers' (p ≥ q ≥ 1; 0 ≤ x ≤ MaxX): out-of-domain
  * inputs FAIL LOUD (the ANSI rule) — hot call sites enforce the domain
  * with filters or clamps before evaluating, exactly as they did for
  * the step fold. The DuckDB oracles are untouched — they keep
  * replaying the step CTEs, which is what makes the swap
  * oracle-provably value-preserving.
  */
object FixedPointExpressions {

  /** ln(p/q)·1e9 as a column. */
  def lnE9(p: Column, q: Column): Column =
    call_function("graft_ln_e9", p, q)

  /** exp(x/1e9)·1e9 as a column. */
  def expE9(x: Column): Column =
    call_function("graft_exp_e9", x)
}
