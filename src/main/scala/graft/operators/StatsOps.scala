package graft.operators

import graft.{Gates, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Dataset-profiling statistics over the fact tables — the feature-stats
  * pass a training-data pipeline runs before model work (and the
  * generalization of the reference's aggregate views,
  * sql/db_creation_script.sql:185-242).
  */
object StatsOps {

  /** Pearson correlation matrix over `cols` of `df` in ONE aggregate
    * pass: all first and second moments accumulate as partial aggregates
    * (map-side combined, a single 1-row shuffle), then the k(k-1)/2
    * pair rows unfold from the moment row with an explode — the fact
    * table is scanned exactly once regardless of k.
    *
    * Cross-engine determinism: `corr` is scale-invariant, so values are
    * first scaled by 10⁴ to EXACT integers (the testdata is 4-decimal;
    * the double → DECIMAL cast pins the value, ×10⁴ and the cast to
    * BIGINT are exact), per-row PRODUCTS multiply in LONG (codegen'd —
    * the r12 shape multiplied DECIMAL(19,0)s per row, interpreted
    * BigDecimal work; callers must keep |x·10⁴| ≤ ~3·10⁹ so x·y fits
    * 2⁶³ — ANSI throws rather than wraps if violated, and q93's widest
    * column, extprice e4 ≤ ~1.05e9, squares to 1.1e18), and only the
    * SUM input casts to decimal — order-independent, engine-identical,
    * and the ~10²³-scale sums fit DECIMAL(38,0). Only then does the
    * moment row cast to double, and the final formula is the same
    * correctly-rounded IEEE expression tree the DuckDB oracle evaluates
    * — bit-identical inputs, bit-identical arithmetic, ROUND(…, 4) last
    * (the cosine rule).
    */
  def corrMatrix(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.size >= 2, "need at least two columns")
    val k = cols.size
    // complete-case analysis: a row with ANY null would otherwise count
    // toward n but not toward the sums — silently skewing every moment
    // e4 via ROUND, not a decimal cast (the q271 rule): the input is
    // 4-decimal exact, so ROUND(x·10⁴) recovers the exact integer the
    // decimal pin yields, without per-row BigDecimal conversions
    val scaled = df.select(cols.zipWithIndex.map { case (c, i) =>
      round(col(c) * 10000, 0).cast("bigint").as(s"_x$i")
    }: _*).na.drop()
    val momentExprs =
      Seq(count(lit(1)).cast("double").as("_n")) ++
      (0 until k).map(i => sum(col(s"_x$i").cast("decimal(38,0)"))
        .cast("double").as(s"_s$i")) ++
      (for (i <- 0 until k; j <- i until k) yield
        sum((col(s"_x$i") * col(s"_x$j")).cast("decimal(38,0)"))
          .cast("double").as(s"_s${i}_$j"))
    val moments = scaled.agg(momentExprs.head, momentExprs.tail: _*)
    def variance(i: Int) =
      col("_n") * col(s"_s${i}_$i") - col(s"_s$i") * col(s"_s$i")
    val pairRows = for (i <- 0 until k; j <- i + 1 until k) yield
      struct(lit(cols(i)).as("col_x"), lit(cols(j)).as("col_y"),
        round((col("_n") * col(s"_s${i}_$j") - col(s"_s$i") * col(s"_s$j"))
          / (sqrt(variance(i)) * sqrt(variance(j))), 4).as("corr"))
    moments.select(explode(array(pairRows: _*)).as("_p")).select("_p.*")
  }

  /** 107. Lineitem numeric-column correlation matrix (4 columns → 6
    * pairs). The oracle accumulates the same HUGEINT moments and
    * evaluates the same double expression.
    */
  def q93CorrMatrix(s: SparkSession, d: String): DataFrame =
    corrMatrix(Tables.lineitem(s, d),
      Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax"))

  /** A data-quality constraint. `Completeness` measures the non-null
    * share of a column; `Uniqueness` the distinct share of a column;
    * `Satisfies` the share of rows meeting an arbitrary boolean
    * predicate; `Referential` the share of rows whose key finds a
    * partner in a dimension (a NULL key counts as unmatched — pair
    * with `Completeness` to tell the two failure modes apart).
    */
  sealed trait DqCheck { def name: String }
  final case class Completeness(column: String) extends DqCheck {
    def name = s"completeness_$column"
  }
  final case class Uniqueness(column: String) extends DqCheck {
    def name = s"uniqueness_$column"
  }
  final case class Satisfies(name: String, predicate: Column)
    extends DqCheck
  final case class Referential(column: String, dim: DataFrame,
      dimKey: String) extends DqCheck {
    def name = s"referential_$column"
  }

  /** 109. Data-quality expectation report (Deequ-style): one row per
    * constraint — (check_name, metric_ppm, pass), metric in integer
    * parts-per-million (floor division, engine-identical; never a
    * float). Every in-scan check (completeness / uniqueness /
    * satisfies) compiles into ONE aggregate pass over the table
    * (violation counters as partial aggregates, map-side combined);
    * each referential check adds one anti-join (the q48 shape —
    * Catalyst broadcasts the dim side when small; never a driver-side
    * key set, reference etl_pipeline_script.py:43 collects keys into a
    * Python set). The 1-row aggregates cross-join (scalar-subquery
    * shape) and unfold to report rows by explode. `pass` is a metric
    * threshold: share checks pass at 100%, i.e. metric_ppm = 10⁶.
    *
    * `Uniqueness` is exact count(DISTINCT) — a keyspace shuffle; at
    * 100 TB swap in the q60 HLL sketch for a fully one-pass
    * approximate suite (same report contract).
    */
  def dqReport(df: DataFrame, checks: Seq[DqCheck]): DataFrame = {
    require(checks.nonEmpty, "need at least one check")
    checks.foreach(c => require(c.name.matches("[A-Za-z0-9_]+"),
      s"check name '${c.name}' must be identifier-safe " +
        "(it names an internal aggregate column)"))
    require(checks.map(_.name).distinct.size == checks.size,
      "check names must be unique")
    val n = count(lit(1))
    val inScan: Seq[Column] = checks.flatMap {
      case c: Completeness =>
        Some(count(col(c.column)).as(s"_m_${c.name}"))
      case c: Uniqueness =>
        Some(countDistinct(col(c.column)).as(s"_m_${c.name}"))
      case c: Satisfies =>
        Some(count(when(c.predicate, 1)).as(s"_m_${c.name}"))
      case _: Referential => None
    }
    val aggExprs = n.as("_n") +: inScan
    val base = df.agg(aggExprs.head, aggExprs.tail: _*)
    val withRef = checks.foldLeft(base) {
      case (acc, c: Referential) =>
        val matched = df.select(col(c.column).as("_k"))
          .join(c.dim.select(col(c.dimKey).as("_k")), Seq("_k"),
            "left_semi")
          .agg(count(lit(1)).as(s"_m_${c.name}"))
        acc.crossJoin(matched)
      case (acc, _) => acc
    }
    val rows = checks.map { c =>
      val m = col(s"_m_${c.name}")
      // integer floor division — engine-identical, never a float
      struct(lit(c.name).as("check_name"),
        expr(s"(_m_${c.name} * 1000000) DIV _n").as("metric_ppm"),
        (m === col("_n")).as("pass"))
    }
    withRef.select(explode(array(rows: _*)).as("_c")).select("_c.*")
  }

  /** q95: the orders expectation suite — key completeness and
    * uniqueness, price positivity, status domain, customer FK.
    */
  def q95DqReport(s: SparkSession, d: String): DataFrame =
    dqReport(Tables.orders(s, d), Seq(
      Completeness("o_custkey"),
      Uniqueness("o_orderkey"),
      Satisfies("range_o_totalprice_positive", col("o_totalprice") > 0),
      Satisfies("domain_o_orderstatus",
        col("o_orderstatus").isin("O", "F", "P")),
      Referential("o_custkey", Tables.customer(s, d), "c_custkey")))

  /** 147. Per-group ordinary-least-squares fit of `yCol` against `xCol`
    * (closed form from moments): one grouped aggregate pass collects
    * (n, Σx, Σy, Σxx, Σxy, Σyy) with map-side combine — the fact table
    * is scanned once and the shuffle carries one 6-number row per
    * group, however large the groups are. No per-group sort, no
    * iteration: the normal equations ARE the aggregate.
    *
    * Cross-engine determinism (the q93 moment rule): x must already be
    * an exact integer; y is pinned to 4-decimal DECIMAL and scaled
    * ×10⁴ to DECIMAL(19,0), so every moment accumulates in exact
    * decimal/integer arithmetic (order-independent). The moment row
    * then casts to double and slope/intercept/R² evaluate as the same
    * IEEE expression tree in both engines, ROUND last. Degenerate
    * groups (n < 2 or zero x-variance) report null fit columns instead
    * of a division blow-up.
    */
  def olsFit(df: DataFrame, groupCol: String, xCol: String,
      yCol: String): DataFrame = {
    val base = df.select(col(groupCol),
        col(xCol).cast("decimal(19,0)").as("_x"),
        (col(yCol).cast("decimal(18,4)") * 10000)
          .cast("decimal(19,0)").as("_y"))
      .na.drop()
    val m = base.groupBy(col(groupCol)).agg(
      count(lit(1)).cast("double").as("_n"),
      sum(col("_x")).cast("double").as("_sx"),
      sum(col("_y")).cast("double").as("_sy"),
      sum(col("_x") * col("_x")).cast("double").as("_sxx"),
      sum(col("_x") * col("_y")).cast("double").as("_sxy"),
      sum(col("_y") * col("_y")).cast("double").as("_syy"))
    val cxy = col("_n") * col("_sxy") - col("_sx") * col("_sy")
    val cxx = col("_n") * col("_sxx") - col("_sx") * col("_sx")
    val cyy = col("_n") * col("_syy") - col("_sy") * col("_sy")
    val ok = col("_n") >= 2 && cxx > 0
    val slope4 = cxy / cxx // in y-e4 units per x unit
    m.select(col(groupCol),
      col("_n").cast("long").as("n"),
      when(ok, round(slope4 / 10000d, 6)).as("slope"),
      when(ok, round((col("_sy") - slope4 * col("_sx")) / col("_n")
        / 10000d, 4)).as("intercept"),
      when(ok && cyy > 0, round(cxy * cxy / (cxx * cyy), 6)).as("r2"))
  }

  /** q130: order-value trend per priority class — is spend drifting
    * over time, per o_orderpriority (the reference's views aggregate
    * per season but never fit a trend, db_creation_script.sql:185-242).
    * x = epoch-day of o_orderdate (exact integer), y = o_totalprice.
    */
  def q130OlsTrend(s: SparkSession, d: String): DataFrame =
    olsFit(Tables.orders(s, d)
      // o_orderdate is TIMESTAMP_NTZ on Spark 4.1 parquet reads; under
      // the UTC session the cast is a pure retag (q05 family)
      .withColumn("_day", expr(
        "unix_micros(CAST(o_orderdate AS TIMESTAMP)) DIV 86400000000")),
      "o_orderpriority", "_day", "o_totalprice")

  /** 149. q132: A/B conversion z-test — the experiment-analysis primitive.
    * Users split into two arms by an md5 hash of user_id (the q63
    * hash-split rule: the assignment is a pure per-row function —
    * reproducible across runs/engines/retries, no stored assignment
    * table, no rand()); conversion = the user emitted ≥1 HIGH-VALUE
    * 'purchase' event (value > 100 — plain purchase saturates to
    * p = 1 on the synthetic data, a degenerate test); the
    * two-proportion z statistic compares arm conversion rates under
    * the pooled-variance null. z is NULL when the pooled rate is 0 or
    * 1 (variance 0 — no information; ANSI Spark would otherwise throw
    * on the 0/0).
    *
    * Shapes: ONE user_id shuffle builds the per-user (arm, converted)
    * frame (conversion is max-combined map-side), then a single global
    * aggregate folds both arms' counters in one pass — the 1-row
    * result is the scalar-subquery shape. Determinism: counts are
    * exact longs; per-arm rates are round-half-up integer ppt; z is
    * the identical IEEE expression tree in both engines over those
    * exact counts (ROUND last), and `significant` compares the
    * UNROUNDED z against 1.96 — both engines compare the same double.
    * Assumes both arms are non-empty (md5 splits any real user
    * population; an empty arm would make z undefined, as it should).
    */
  def q132AbTest(s: SparkSession, d: String): DataFrame = {
    val users = Tables.events(s, d)
      .select(col("user_id"), col("event_type"), col("value"))
      .groupBy("user_id")
      .agg(max(when(col("event_type") === "purchase" &&
          col("value") > 100, 1L).otherwise(0L))
        .as("conv"))
      .withColumn("variant", expr(
        """CAST(conv(substring(md5(CAST(CAST(user_id AS STRING) AS BINARY)),
           1, 15), 16, 10) AS BIGINT) % 2"""))
    val g = users.agg(
      sum(when(col("variant") === 0, 1L).otherwise(0L)).as("n_a"),
      sum(when(col("variant") === 0, col("conv")).otherwise(0L))
        .as("conv_a"),
      sum(when(col("variant") === 1, 1L).otherwise(0L)).as("n_b"),
      sum(when(col("variant") === 1, col("conv")).otherwise(0L))
        .as("conv_b"))
    // Spark 4 ANSI maps `/` on two integral columns to integral `div`
    // — cast every count to double FIRST so both engines evaluate the
    // same IEEE division tree (DuckDB int/int is already double)
    def dbl(c: Column) = c.cast("double")
    val p = dbl(col("conv_a") + col("conv_b")) / dbl(col("n_a") + col("n_b"))
    val zRaw =
      ((dbl(col("conv_b")) / dbl(col("n_b"))) -
        (dbl(col("conv_a")) / dbl(col("n_a")))) /
      sqrt((p * (lit(1.0) - p)) *
        ((lit(1.0) / dbl(col("n_a"))) + (lit(1.0) / dbl(col("n_b")))))
    val informative =
      col("conv_a") + col("conv_b") > 0 &&
        col("conv_a") + col("conv_b") < col("n_a") + col("n_b")
    g.select(col("n_a"), col("conv_a"), col("n_b"), col("conv_b"),
      expr("(2000 * conv_a + n_a) DIV (2 * n_a)").as("rate_a_ppt"),
      expr("(2000 * conv_b + n_b) DIV (2 * n_b)").as("rate_b_ppt"),
      when(informative, round(zRaw, 4)).as("z"),
      when(informative, abs(zRaw) > 1.96).as("significant"))
  }

  /** 150. q133: seasonal (day-of-week) anomaly detection — daily value
    * totals per event_type scored against that weekday's own
    * mean/stddev baseline (traffic is weekly-periodic: a quiet Sunday
    * is normal, the same volume on a Tuesday is an incident; a global
    * baseline would flag every weekend). Flags days beyond 1.5 sample
    * standard deviations — a tunable: the synthetic corpus spans one
    * month (weekday groups hold ≤5 days), where a 2σ cut on a
    * 5-sample baseline can never fire; longer horizons warrant 2–3σ.
    *
    * Shapes: the corpus-scale work is ONE (event_type, day) aggregate
    * (map-side combined); the weekday baseline is a second aggregate
    * over the DAILY table (365 rows/type/year — bounded, broadcast
    * back onto daily, never onto raw events). Determinism: daily
    * totals accumulate in DECIMAL(18,4) (the parquet-doubles rule),
    * the baseline moments in exact decimal; mean/std/z evaluate as
    * the identical IEEE tree over the double-cast moments in both
    * engines, ROUND last; groups need ≥ 5 observed days and std > 0
    * before anything is flagged.
    */
  def q133SeasonalAnomaly(s: SparkSession, d: String): DataFrame = {
    val daily = Tables.events(s, d)
      .select(col("event_type"), to_date(col("ts")).as("day"),
        col("value").cast("decimal(18,4)").as("v"))
      .groupBy("event_type", "day")
      .agg(sum(col("v")).cast("decimal(18,4)").as("total"))
      // weekday()+1 = ISO dow (Mon=1..Sun=7), DuckDB's isodow
      .withColumn("dow", expr("weekday(day) + 1"))
    val stats = daily.groupBy("event_type", "dow").agg(
      count(lit(1)).as("nd"),
      sum(col("total")).cast("double").as("sx"),
      sum(col("total") * col("total")).cast("double").as("sxx"))
    val n = col("nd").cast("double")
    val mean = col("sx") / n
    val std = sqrt((n * col("sxx") - col("sx") * col("sx")) /
      (n * (n - lit(1.0))))
    daily.join(broadcast(stats), Seq("event_type", "dow"))
      .withColumn("dev", col("total").cast("double") - mean)
      .withColumn("std", std)
      .filter(col("nd") >= 5 && col("std") > 0 &&
        abs(col("dev")) > lit(1.5) * col("std"))
      .select(col("event_type"), col("day"),
        round(col("total").cast("double"), 4).as("total"),
        round(col("dev") / col("std"), 4).as("z"))
  }

  /** 151. q134: CUSUM changepoint detection over the daily value series
    * per event_type (Page 1954) — flags the days where the cumulative
    * drift of daily totals away from the series' own mean exceeds 4
    * standard deviations, in either direction. Unlike q133's pointwise
    * z-score, CUSUM accumulates evidence: a sustained 1σ level shift
    * that no single day would flag trips the statistic within a few
    * days — the level-shift detector a data pipeline wants for "the
    * crawler started double-counting on the 14th".
    *
    * The textbook recursion S_i = max(0, S_{i-1} + x_i - k) looks
    * inherently sequential, but has the closed form
    * S_i = P_i - min(0, min_{j<=i} P_j) with P_i the plain prefix sum of
    * (x_t - k) — so the whole detector is two window passes (prefix sum,
    * running min) per direction, partitioned by event_type and therefore
    * parallel across series; no recursive CTE, no UDAF, no driver loop.
    *
    * Shapes: the corpus-scale work is the ONE (event_type, day)
    * aggregate; every window runs over the bounded DAILY table
    * (365 rows/type/year) with per-type partitions — never a global
    * single-reducer window. Determinism: prefix sums accumulate in
    * DECIMAL (exact, order-free — a double window-sum would hit
    * DuckDB's segment-tree accumulation order), the baseline
    * mean/std/thresholds evaluate as the identical IEEE tree over
    * double-cast exact moments in both engines, comparisons happen on
    * identical doubles, ROUND last. Series need >= 10 observed days and
    * std > 0 before anything is flagged.
    *
    * Reference counterpart: the per-season aggregate views
    * (sql/db_creation_script.sql:185-242) trend usage but have no
    * drift/shift detection over them.
    */
  /** Two-sided CUSUM over a per-group ordered series. `series` must hold
    * one row per (groupCol, ordCol) with `valCol` a 4-decimal-exact
    * DECIMAL; slack and threshold are in per-series σ units. Output:
    * the alarm rows (group, ord, direction, stat_sigma).
    */
  def cusum(series: DataFrame, groupCol: String, ordCol: String,
      valCol: String, minN: Int, slackSigma: Double,
      threshSigma: Double): DataFrame = {
    val stats = series.groupBy(groupCol).agg(
      count(lit(1)).as("nd"),
      sum(col(valCol)).cast("double").as("sx"),
      sum(col(valCol) * col(valCol)).cast("double").as("sxx"))
    val n = col("nd").cast("double")
    val mean = col("sx") / n
    val std = sqrt((n * col("sxx") - col("sx") * col("sx")) /
      (n * (n - lit(1.0))))
    val w = Window.partitionBy(groupCol).orderBy(ordCol)
    val runFrame =
      w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val seq = series.join(broadcast(stats), Seq(groupCol))
      .filter(col("nd") >= minN)
      .withColumn("std", std)
      .filter(col("std") > 0)
      .withColumn("rn", row_number().over(w).cast("long"))
      // exact decimal prefix sum; a double window-sum would hit
      // DuckDB's segment-tree accumulation order
      .withColumn("cum",
        sum(col(valCol)).over(runFrame).cast("decimal(28,4)"))
    // slack k = mean ± slack·σ: drift slower than that per step is
    // absorbed; threshold h = thresh·σ (ARL-tuned in production)
    val up = col("cum").cast("double") -
      col("rn").cast("double") * (mean + lit(slackSigma) * col("std"))
    val dn = col("rn").cast("double") *
      (mean - lit(slackSigma) * col("std")) - col("cum").cast("double")
    val h = lit(threshSigma) * col("std")
    seq
      .withColumn("s_up", up - least(lit(0.0), min(up).over(runFrame)))
      .withColumn("s_dn", dn - least(lit(0.0), min(dn).over(runFrame)))
      .withColumn("direction",
        when(col("s_up") > h, lit("up"))
          .when(col("s_dn") > h, lit("down")))
      .filter(col("direction").isNotNull)
      .select(col(groupCol), col(ordCol), col("direction"),
        round(when(col("direction") === "up", col("s_up"))
          .otherwise(col("s_dn")) / col("std"), 4).as("stat_sigma"))
  }

  /** q134: daily value totals per event_type through the two-sided
    * detector — slack 0.25σ, alarm at 2σ, series of >= 10 days. (The
    * synthetic corpus is stationary noise with no planted level shift;
    * the classic slack 0.5σ / h 4σ tuning never fires on it — a shorter
    * leash keeps the driver-visible output non-vacuous, and the planted
    * level-shift spec exercises the standard tuning.)
    */
  def q134Cusum(s: SparkSession, d: String): DataFrame = {
    val daily = Tables.events(s, d)
      .select(col("event_type"), to_date(col("ts")).as("day"),
        col("value").cast("decimal(18,4)").as("v"))
      .groupBy("event_type", "day")
      .agg(sum(col("v")).cast("decimal(18,4)").as("total"))
    cusum(daily, "event_type", "day", "total",
      minN = 10, slackSigma = 0.25, threshSigma = 2.0)
  }

  /** 152. q135: two-sample Kolmogorov–Smirnov test — does the `a`
    * population's value distribution differ from `b`'s? D = sup over
    * the pooled support of |F_a − F_b|, with the α=0.05 large-sample
    * rejection rule D > 1.3581·sqrt((n_a+n_b)/(n_a·n_b)). The
    * distribution-free A/B companion to q132's two-proportion z: it
    * sees shape changes (variance, tail, bimodality) a mean/rate test
    * is blind to.
    *
    * Scale shape: ONE value-grouped aggregate collapses the corpus to
    * (value, c_a, c_b) counts; both empirical CDFs then come from a
    * SINGLE [[DistributedRank.withRunningSums]] pass over the distinct
    * values (range-partitioned parallel prefix sums — never a global
    * `SUM OVER (ORDER BY v)` single reducer, and the two cumsums share
    * the one range exchange); the sup is a map-side-combined global max.
    *
    * Determinism: cumulative counts are exact longs; the sup compares
    * |c_a·n_b − c_b·n_a| in DECIMAL(38,0) (HUGEINT in the oracle) —
    * cross-multiplied integers, no float CDFs — and D reports as a
    * round-half-up integer ppm (the q21 rule). Only the significance
    * comparison evaluates in double, as the identical IEEE tree in
    * both engines. Empty samples yield NULL d_ppm, not a blow-up.
    */
  def ksTest(df: DataFrame, valueCol: String, groupCol: String,
      a: String, b: String): DataFrame = {
    val counts = df.filter(col(groupCol).isin(a, b))
      .select(col(groupCol).as("_g"), col(valueCol).as("_v"))
      .groupBy("_v")
      .agg(sum(when(col("_g") === a, 1L).otherwise(0L)).as("c1"),
        sum(when(col("_g") === b, 1L).otherwise(0L)).as("c2"))
    val cum = DistributedRank.withRunningSums(counts, Nil, Seq("_v"),
        Seq("c1" -> "e1", "c2" -> "e2"))
      .select((col("e1") + col("c1")).cast("decimal(38,0)").as("f1"),
        (col("e2") + col("c2")).cast("decimal(38,0)").as("f2"))
    val tot = counts.agg(
      sum(col("c1")).cast("long").as("n1"),
      sum(col("c2")).cast("long").as("n2"))
    val dmax = cum.crossJoin(broadcast(tot))
      .select(col("n1"), col("n2"),
        abs(col("f1") * col("n2") - col("f2") * col("n1")).as("dd"))
      .agg(max(col("n1")).as("n1"), max(col("n2")).as("n2"),
        max(col("dd")).as("dmax"))
    val n1d = col("n1").cast("double")
    val n2d = col("n2").cast("double")
    val dD = col("dmax").cast("double") / (n1d * n2d)
    val crit = lit(1.3581) * sqrt((n1d + n2d) / (n1d * n2d))
    val ok = col("n1") > 0 && col("n2") > 0
    dmax.select(col("n1"), col("n2"),
      when(ok, expr("""CAST((dmax * 2000000
          + CAST(n1 AS DECIMAL(38,0)) * n2)
        DIV (2 * CAST(n1 AS DECIMAL(38,0)) * n2) AS BIGINT)"""))
        .as("d_ppm"),
      when(ok, dD > crit).as("significant"))
  }

  /** q135: purchase-event values vs click-event values — at a 0.05
    * level the synthetic generator draws both from the same law.
    */
  def q135KsTest(s: SparkSession, d: String): DataFrame =
    ksTest(Tables.events(s, d)
        .select(col("event_type"),
          col("value").cast("decimal(18,4)").as("v")),
      "v", "event_type", "purchase", "click")

  /** 154. Join-key skew profile — the pre-flight diagnostic that tells
    * you whether a prospective shuffle key needs the q43 salted join or
    * AQE skew handling BEFORE the 4-hour stage reveals it: per key
    * column, (n_rows, n_keys, max_freq, top key's share, Gini of the
    * key-frequency distribution). Gini ≈ 0 means uniform keys (hash
    * partitions balance); → 1 means a handful of keys own the table
    * (one reducer gets everything).
    *
    * Scale shape: the frequency table is ONE map-combined groupBy; the
    * Gini rank over it is [[DistributedRank.withRank]] (a billion-key
    * frequency table never meets a single-reducer `ROW_NUMBER() OVER
    * (ORDER BY f)`); everything else is a map-combined global fold.
    * Exact: Σ i·f_i accumulates in DECIMAL(38,0) (HUGEINT in the
    * oracle; i·f can pass 10¹⁸ long overflow at cluster scale), shares
    * and Gini report as round-half-up integer ppm (q21 rule) — no
    * float anywhere. Ties in the rank are broken by key, but Gini is
    * tie-order-invariant anyway (Σ i·f over an equal-f block is
    * f·Σ i whatever the order). NULL keys are excluded: they never
    * participate in a join shuffle.
    */
  def skewProfile(df: DataFrame, keyCol: String): DataFrame =
    skewProfileMulti(df, Seq(keyCol))

  /** Multi-key [[skewProfile]] in ONE table scan: the (key_col, key)
    * pairs unfold by explode (keys unified as strings — bijective per
    * column, and the Gini rank's tie-break order is output-invariant
    * per the scaladoc above, so the retype changes nothing), then one
    * grouped frequency pass and one grouped rank serve every profiled
    * column. Profiling k columns of a 100-TB fact table costs one scan,
    * not k (the r12 verdict: q137 scanned `events` twice).
    */
  def skewProfileMulti(df: DataFrame, keyCols: Seq[String]): DataFrame = {
    require(keyCols.nonEmpty, "need at least one key column")
    val pairs = df.select(explode(array(keyCols.map(k =>
        struct(lit(k).as("key_col"), col(k).cast("string").as("_k"))): _*))
        .as("_p"))
      .select(col("_p.key_col").as("key_col"), col("_p._k").as("_k"))
      .filter(col("_k").isNotNull)
    val freq = pairs.groupBy(col("key_col"), col("_k"))
      .agg(count(lit(1)).as("f"))
    val ranked =
      DistributedRank.withRank(freq, Seq("key_col"), Seq("f", "_k"), "i")
    ranked.groupBy(col("key_col")).agg(
        count(lit(1)).as("n_keys"),
        sum(col("f")).cast("long").as("n_rows"),
        max(col("f")).as("max_freq"),
        sum(col("i").cast("decimal(38,0)") * col("f")).as("s1"))
      .select(col("key_col"), col("n_rows"), col("n_keys"),
        col("max_freq"),
        expr("""CAST((CAST(max_freq AS DECIMAL(38,0)) * 2000000 + n_rows)
          DIV (2 * CAST(n_rows AS DECIMAL(38,0))) AS BIGINT)""")
          .as("top_share_ppm"),
        expr("""CAST(((2 * s1 - (CAST(n_keys AS DECIMAL(38,0)) + 1)
            * n_rows) * 2000000 + CAST(n_keys AS DECIMAL(38,0)) * n_rows)
          DIV (2 * CAST(n_keys AS DECIMAL(38,0)) * n_rows) AS BIGINT)""")
          .as("gini_ppm"))
  }

  /** q137: the three join keys a pipeline on this schema would shuffle
    * on — events.user_id (uniform-ish), events.event_type (few huge
    * keys — the salt-me case), lineitem.l_partkey.
    */
  def q137SkewProfile(s: SparkSession, d: String): DataFrame =
    skewProfileMulti(Tables.events(s, d), Seq("user_id", "event_type"))
      .unionByName(skewProfile(Tables.lineitem(s, d), "l_partkey"))

  /** Exact-integer Poisson(1) inverse-CDF thresholds at 2⁶⁰ scale:
    * t(k) = floor(P(X<=k)·2⁶⁰). A 60-bit md5 draw u < t(k) first at
    * k ⇒ weight k. Integer compares only — the draw never touches a
    * float, so engines can't disagree in the last ulp.
    */
  private val PoissonT: Seq[Long] = Seq(
    424136118829305329L, 848272237658610659L, 1060340297073263324L,
    1131029650211480879L, 1148701988496035267L, 1152236456152946145L,
    1152825534095764625L, 1152909688087595836L, 1152920207336574738L)

  /** 155. q138: Poisson-bootstrap confidence interval for the mean —
    * THE large-scale bootstrap (classical resampling needs n draws per
    * replica from a global index; Poissonization makes each row draw
    * its own iid Poisson(1) weight per replica, so the whole B-replica
    * bootstrap is one explode + one map-combined aggregate, no global
    * state, no second scan). Weights are minted from md5(key·replica)
    * against exact integer CDF thresholds (reproducible across
    * engines, retries and cluster sizes — the q63/q128 hash-randomness
    * rule); replica means divide an exact decimal sum by an exact long
    * count (identical IEEE division both engines); the CI is the
    * nearest-rank order statistic over the B=64 bounded replica means.
    * The 64× row blowup never materializes: it pipelines into the
    * partial aggregate, and the shuffle carries 64 rows per partition.
    */
  def q138BootstrapCi(s: SparkSession, d: String): DataFrame = {
    val b = 64
    // the testdata parquet is a single row group → one scan task; the
    // 64× explode+md5 behind it is per-row-heavy, so spread the skinny
    // (key, price) projection across cores first
    val orders = graft.Gates.spreadScan(s, d, "orders",
      Tables.orders(s, d).select(col("o_orderkey"),
        col("o_totalprice").cast("decimal(18,4)").as("price")),
      graft.Gates.SpreadFactRows)
    val thresholds = PoissonT.zipWithIndex
      .foldRight(lit(PoissonT.size)) { case ((t, k), els) =>
        when(col("hx") < t, lit(k)).otherwise(els) }
    val reps = orders
      .select(col("o_orderkey"), col("price"),
        explode(sequence(lit(0), lit(b - 1))).as("rep"))
      .withColumn("hx", expr(
        """CAST(conv(substring(md5(CAST(concat(CAST(o_orderkey AS STRING),
           '_', CAST(rep AS STRING)) AS BINARY)), 1, 15), 16, 10)
           AS BIGINT)"""))
      .withColumn("w", thresholds.cast("long"))
      .groupBy("rep")
      .agg(sum(col("price") * col("w")).cast("decimal(28,4)").as("sw"),
        sum(col("w")).cast("long").as("nw"))
      // an all-zero-weight replica is possible only at toy n; guard the
      // ANSI division rather than blow up
      .filter(col("nw") > 0)
      .select((col("sw").cast("double") / col("nw").cast("double"))
        .as("mean_b"))
    val ci = reps.agg(sort_array(collect_list(col("mean_b"))).as("ms"))
      // nearest-rank: ceil(0.025·64) = 2, ceil(0.975·64) = 63;
      // try_element_at: a dropped replica shortens the list (toy n) and
      // must yield NULL, not an ANSI out-of-bounds error
      .select(try_element_at(col("ms"), lit(2)).as("lo"),
        try_element_at(col("ms"), lit(63)).as("hi"))
    val point = orders.agg(
      count(lit(1)).as("n"),
      (sum(col("price")).cast("decimal(28,4)").cast("double") /
        count(lit(1)).cast("double")).as("m"))
    point.crossJoin(broadcast(ci))
      .select(col("n"), round(col("m"), 4).as("mean"),
        round(col("lo"), 4).as("ci_lo"), round(col("hi"), 4).as("ci_hi"))
  }

  /** 159. q142: weighted median per group — the order statistic where
    * half the WEIGHT sits on each side (here: the lineitem price at
    * which half the shipped QUANTITY is cheaper), the robust center a
    * mean-of-prices can't give when line sizes differ by 50×. Lower
    * weighted median: min v with 2·cumW(v) >= W.
    *
    * Scale shape: one [[DistributedRank.withRunningSum]] prefix pass
    * over the (group, v, tie...) total order — never a per-group
    * single-reducer `SUM OVER (ORDER BY v)` (3 return flags × 33 TB
    * each is exactly the q38/q83 regime); group totals broadcast back;
    * the selection is a filter + min, map-side combined. Exact: weights
    * are exact longs (quantities are integral — pinned through a
    * decimal cast, since a bare double→long cast truncates in Spark
    * but rounds in DuckDB), cum sums are longs, the threshold compare
    * is integer; only the reported price turns into a rounded double.
    */
  def weightedMedian(df: DataFrame, groupCol: String, valueCol: String,
      weightCol: String, tieCols: Seq[String]): DataFrame = {
    val base = df.select(Seq(col(groupCol).as("_g"),
      col(valueCol).cast("decimal(18,4)").as("_v"),
      col(weightCol).cast("decimal(18,4)").cast("long").as("_w"))
      ++ tieCols.map(col): _*)
    val cum = DistributedRank.withRunningSum(base, Seq("_g"),
      "_v" +: tieCols, "_w", "_e")
    val tot = base.groupBy("_g").agg(sum(col("_w")).cast("long").as("_wt"))
    cum.join(broadcast(tot), Seq("_g"))
      .filter((col("_e") + col("_w")) * 2 >= col("_wt"))
      .groupBy("_g")
      .agg(max(col("_wt")).as("w_total"),
        round(min(col("_v")).cast("double"), 4).as("median_v"))
      .withColumnRenamed("_g", groupCol)
  }

  /** q142: price below which half the shipped quantity sits, per
    * return flag.
    */
  def q142WeightedMedian(s: SparkSession, d: String): DataFrame =
    weightedMedian(Tables.lineitem(s, d), "l_returnflag",
      "l_extendedprice", "l_quantity", Seq("l_orderkey", "l_linenumber"))

  /** 160. q143: Mann–Whitney U rank-sum test (Wilcoxon) — the
    * nonparametric "is one population stochastically larger?"
    * companion to q135's KS (KS sees any shape difference; U targets
    * location shift with more power, and unlike q132's z it never
    * assumes normality). Midranks handle ties exactly: a pooled value
    * block at exclusive-prefix p with c members has
    * 2·midrank = 2p + c + 1 (an INTEGER), so the rank sum accumulates
    * as exact integers — 2·R₁ = Σ c₁·(2p+c+1), 2·U₁ = 2·R₁ − 2·n₁(n₁+1)/2
    * — and the tie-corrected normal approximation
    * z = (U₁ − n₁n₂/2) / sqrt(n₁n₂/12 · (n+1 − Σ(c³−c)/(n(n−1))))
    * evaluates in double only on the 1-row exact-moment result
    * (identical IEEE tree both engines).
    *
    * Scale shape: value-grouped counts, then the SAME
    * [[DistributedRank.withRunningSums]] shared-exchange pass as q135
    * (both prefix counts in one range shuffle), then a map-combined
    * global fold. Degenerate inputs (an empty arm, all values tied →
    * zero variance) yield NULL z, not a blow-up.
    */
  def mannWhitney(df: DataFrame, valueCol: String, groupCol: String,
      a: String, b: String): DataFrame = {
    val counts = df.filter(col(groupCol).isin(a, b))
      .select(col(groupCol).as("_g"), col(valueCol).as("_v"))
      .groupBy("_v")
      .agg(sum(when(col("_g") === a, 1L).otherwise(0L)).as("c1"),
        sum(when(col("_g") === b, 1L).otherwise(0L)).as("c2"))
    val cum = DistributedRank.withRunningSums(counts, Nil, Seq("_v"),
      Seq("c1" -> "e1", "c2" -> "e2"))
    val parts = cum.select(col("c1"), col("c2"),
      ((col("e1") + col("e2")) * 2 + col("c1") + col("c2") + 1)
        .as("mr2"),
      (col("c1") + col("c2")).as("ct"))
    val m = parts.agg(
      sum(col("c1")).cast("long").as("n1"),
      sum(col("c2")).cast("long").as("n2"),
      sum(col("c1").cast("decimal(38,0)") * col("mr2")).as("r1x2"),
      sum(col("ct").cast("decimal(38,0)") * col("ct") * col("ct")
        - col("ct")).as("tsum"))
    val u1x2 = col("r1x2") -
      col("n1").cast("decimal(38,0)") * (col("n1") + 1)
    val n1d = col("n1").cast("double")
    val n2d = col("n2").cast("double")
    val nd = n1d + n2d
    val u1 = u1x2.cast("double") / lit(2.0)
    val mu = n1d * n2d / lit(2.0)
    val va = (n1d * n2d / lit(12.0)) *
      ((nd + lit(1.0)) - col("tsum").cast("double") / (nd * (nd - lit(1.0))))
    val z = (u1 - mu) / sqrt(va)
    val ok = col("n1") > 0 && col("n2") > 0 && va > 0
    m.select(col("n1"), col("n2"),
      u1x2.cast("long").as("u1_x2"),
      when(ok, round(z, 4)).as("z"),
      when(ok, abs(z) > 1.96).as("significant"))
  }

  /** q143: purchase values vs click values through the rank-sum test —
    * the location-shift probe on the same split q135 KS checks for
    * shape. */
  def q143MannWhitney(s: SparkSession, d: String): DataFrame =
    mannWhitney(Tables.events(s, d)
        .select(col("event_type"),
          col("value").cast("decimal(18,4)").as("v")),
      "v", "event_type", "purchase", "click")

  /** Benford first-digit probabilities log10(1+1/d) as integer ppm —
    * literal constants, identical in both engines (a runtime log10
    * would differ in the last ulp across libms, the q58 rule).
    */
  private val BenfordPpm: Seq[(Int, Long)] = Seq(
    1 -> 301030L, 2 -> 176091L, 3 -> 124939L, 4 -> 96910L, 5 -> 79181L,
    6 -> 66947L, 7 -> 57992L, 8 -> 51153L, 9 -> 45757L)

  /** 161. q144: Benford's-law first-digit audit over order totals —
    * the classic fabricated-data screen (genuine multiplicative-growth
    * amounts follow P(d) = log10(1+1/d); invented numbers don't). One
    * map-combined digit aggregate over the fact table; the 9-digit
    * result joins the broadcast literal expectation table; observed
    * shares are round-half-up integer ppm and the χ² contribution
    * (obs−n·p)²/(n·p) evaluates in double on the bounded 9-row result
    * only (identical IEEE tree). The first digit comes from the
    * DECIMAL's string form — pure string ops, no float log, engine
    * identical for positive values.
    */
  def benfordAudit(df: DataFrame, valueCol: String): DataFrame = {
    val digits = df
      .filter(col(valueCol).isNotNull && col(valueCol) > 0)
      .select(substring(col(valueCol).cast("decimal(18,4)")
        .cast("string"), 1, 1).cast("int").as("digit"))
      .groupBy("digit").agg(count(lit(1)).as("n_obs"))
    val exp = df.sparkSession.createDataFrame(BenfordPpm)
      .toDF("digit", "exp_ppm")
    val tot = digits.agg(sum(col("n_obs")).cast("long").as("n"))
    digits.join(broadcast(exp), Seq("digit"))
      .crossJoin(broadcast(tot))
      .select(col("digit"), col("n_obs"),
        expr("(2 * n_obs * 1000000 + n) DIV (2 * n)").as("obs_ppm"),
        col("exp_ppm"),
        round(
          (col("n_obs").cast("double") -
            col("n").cast("double") * (col("exp_ppm").cast("double")
              / lit(1000000.0))) *
          (col("n_obs").cast("double") -
            col("n").cast("double") * (col("exp_ppm").cast("double")
              / lit(1000000.0))) /
          (col("n").cast("double") * (col("exp_ppm").cast("double")
            / lit(1000000.0))), 4).as("chi2_contrib"))
  }

  def q144Benford(s: SparkSession, d: String): DataFrame =
    benfordAudit(Tables.orders(s, d), "o_totalprice")

  /** 162. q145: join-cardinality estimator — predicts
    * |A ⋈ B on key| = Σ_k f_A(k)·f_B(k) from the two key-frequency
    * tables BEFORE running the row-scale join: the pre-flight that
    * says "this join is about to 50× your data" (and, with the top
    * key's contribution share, whether the blowup is one hot key — the
    * q43 salt case — or uniform). The whole estimate is key-scale:
    * two map-combined frequency aggregates, one equi-join OF THE
    * FREQUENCY TABLES, one fold; the row-scale join never runs.
    * Products accumulate in DECIMAL(38,0)/HUGEINT.
    */
  def joinCardinality(a: DataFrame, aKey: String, b: DataFrame,
      bKey: String): DataFrame = {
    val fa = a.filter(col(aKey).isNotNull)
      .groupBy(col(aKey).as("_k")).agg(count(lit(1)).as("fa"))
    val fb = b.filter(col(bKey).isNotNull)
      .groupBy(col(bKey).as("_k")).agg(count(lit(1)).as("fb"))
    fa.join(fb, Seq("_k"))
      .select(col("_k"),
        (col("fa").cast("decimal(38,0)") * col("fb")).as("contrib"))
      .agg(count(lit(1)).as("n_matching_keys"),
        sum(col("contrib")).as("est_rows_d"),
        max(col("contrib")).as("max_contrib_d"))
      .select(col("n_matching_keys"),
        col("est_rows_d").cast("long").as("est_rows"),
        col("max_contrib_d").cast("long").as("max_key_contrib"),
        expr("""CAST((2 * max_contrib_d * 1000000 + est_rows_d)
          DIV (2 * est_rows_d) AS BIGINT)""").as("top_contrib_ppm"))
  }

  /** q145: the customer-activity join (orders.o_custkey ⋈
    * events.user_id) sized without running it. */
  def q145JoinCardinality(s: SparkSession, d: String): DataFrame =
    joinCardinality(Tables.orders(s, d), "o_custkey",
      Tables.events(s, d), "user_id")

  /** 165. q148: engine-exact sample autocorrelation of a calendar
    * series — r_k = Σ(x_t−x̄)(x_{t+k}−x̄) / Σ(x_t−x̄)² at lags 1..maxLag,
    * the weekly-rhythm / momentum probe behind q133's weekday baseline
    * (a 7-day business has acf_7 ≫ acf_1; a level shift q134 flags
    * shows up here as slow decay). The fractional mean never
    * materializes: multiplying through by n² makes every centered term
    * c_t = n·x_t − Σx an EXACT integer, so numerator and denominator
    * accumulate in DECIMAL(38,0)/HUGEINT in any order and the ratio
    * reports as round-half-up SIGNED integer ppm — sign split out
    * first, because truncating DIV (Spark) vs floor `//` (DuckDB)
    * disagree on negatives (units must keep n·Σc² under 10³⁸; rescale
    * the value column before calling at larger magnitudes).
    *
    * Lag pairs match on CALENDAR index (t+k), not row adjacency, so
    * gap days pair with nothing instead of silently shifting every
    * later lag. Scale shape: the series itself is the corpus-scale
    * aggregate (one map-combined groupBy in the caller); everything
    * here runs on that BOUNDED table — moments broadcast back, the
    * 7-row lag table broadcasts into the pair join. No corpus rescan,
    * no global window.
    */
  def autocorrelation(series: DataFrame, tCol: String, vCol: String,
      maxLag: Int): DataFrame = {
    val s = series.select(col(tCol).cast("long").as("_t"),
      col(vCol).cast("decimal(19,0)").as("_x"))
    val m = s.agg(count(lit(1)).cast("decimal(38,0)").as("_n"),
      sum(col("_x")).cast("decimal(38,0)").as("_sx"))
    val c = s.crossJoin(broadcast(m))
      .select(col("_t"),
        (col("_n") * col("_x") - col("_sx")).cast("decimal(38,0)")
          .as("_c"))
    val den = c.agg(sum(col("_c") * col("_c")).cast("decimal(38,0)")
      .as("_den"))
    val lags = series.sparkSession.range(1, maxLag + 1L)
      .select(col("id").as("lag"))
    val a = c.select(col("_t"), col("_c").as("_ca"))
    val b = c.select(col("_t").as("_tb"), col("_c").as("_cb"))
    a.join(broadcast(lags))
      .join(b, col("_tb") === col("_t") + col("lag"))
      .groupBy(col("lag"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("_ca") * col("_cb")).cast("decimal(38,0)").as("_num"))
      .crossJoin(broadcast(den))
      .select(col("lag"), col("n_pairs"),
        expr("""CASE WHEN _den > 0 THEN CAST(CASE WHEN _num >= 0
            THEN (2 * _num * 1000000 + _den) DIV (2 * _den)
            ELSE -((2 * (-_num) * 1000000 + _den) DIV (2 * _den))
            END AS BIGINT) END""").as("acf_ppm"))
  }

  /** 166. q149: Kaplan–Meier survival estimate (Kaplan & Meier 1958)
    * of user lifetime with right-censoring — the churn/retention
    * statistic q81's fixed-grid cohort retention can't give (cohort
    * cells conflate "churned" with "not yet observed"; KM handles the
    * still-active tail correctly by censoring it). One row per death
    * time t: subjects at risk, churn events, and the survival
    * probability S(t) = Π_{s≤t} (n_s − d_s)/n_s.
    *
    * Determinism: the product recursion runs in truncating integer ppm
    * (S·(n−d) DIV n per step, the q105 PageRank fixed-point rule) —
    * engine-exact and replayable by a recursive CTE, where a float
    * product would drift in the last ulp. Subjects censored at t stay
    * in the risk set at t (the standard deaths-before-censoring
    * convention).
    *
    * Scale shape: the corpus-scale work is ONE subject aggregate in
    * the caller plus ONE map-combined duration histogram here; the
    * life table is bounded by the observation window in days, and the
    * sequential fold over it is a driver-side bounded artifact (the
    * Misra–Gries rule) — n_risk comes from exact suffix counts of the
    * histogram, so the subject table is never re-scanned.
    */
  def kaplanMeier(spans: DataFrame, durCol: String, eventCol: String)
      : DataFrame = {
    val sp = spans.sparkSession
    import sp.implicits._
    val hist = spans
      .filter(col(durCol).isNotNull && col(durCol) >= 0)
      .groupBy(col(durCol).cast("long").as("t"))
      .agg(count(lit(1)).as("c"),
        sum(col(eventCol).cast("long")).as("d"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    var atRisk = hist.map(_._2).sum
    var s = 1000000L
    val out = scala.collection.mutable.ArrayBuffer.empty[
      (Long, Long, Long, Long)]
    hist.foreach { case (t, c, d) =>
      if (d > 0) {
        s = s * (atRisk - d) / atRisk
        out += ((t, atRisk, d, s))
      }
      atRisk -= c
    }
    out.toSeq.toDF("t_days", "n_risk", "n_events", "surv_ppm")
  }

  /** q149: user-churn survival over the events table — lifetime = days
    * between a user's first and last event; a user whose last event is
    * ≥1 day before the corpus horizon has churned (event = 1), the
    * still-active rest are right-censored. (The cutoff matches the
    * testdata's 30-day observation window — at a 7-day cutoff the
    * synthetic users are ALL censored and the curve is empty; a real
    * deployment would pass its own inactivity threshold.) */
  def q149Survival(s: SparkSession, d: String): DataFrame = {
    val per = Tables.events(s, d)
      .filter(col("user_id").isNotNull && col("ts").isNotNull)
      .select(col("user_id"), expr("unix_micros(ts)").as("m"))
      .groupBy(col("user_id"))
      .agg(min(col("m")).as("m0"), max(col("m")).as("m1"))
    val hz = per.agg(max(col("m1")).as("hz"))
    val spans = per.crossJoin(broadcast(hz))
      .select(expr("(m1 - m0) DIV 86400000000").as("dur"),
        when(col("m1") < col("hz") - lit(86400000000L), 1L)
          .otherwise(0L).as("ev"))
    kaplanMeier(spans, "dur", "ev")
  }

  /** 170. q153: Theil–Sen robust trend (Theil 1950, Sen 1968) — the
    * median of all pairwise slopes, with intercept the median residual:
    * the outlier-proof complement of q130's OLS (one corrupted day
    * drags a least-squares line; the slope median shrugs off up to 29%
    * contamination). Slopes never touch a float: each pairwise slope
    * reports as round-half-up SIGNED integer µ-units/day (sign split
    * out first — the q148 truncating-DIV-vs-floor rule), accumulated
    * in DECIMAL(38,0)/HUGEINT, and both medians are lower nearest-rank
    * order statistics — the k-th VALUE is well-defined even though
    * ranks among equal slopes are arbitrary.
    *
    * Scale shape: the input series is the BOUNDED daily aggregate (one
    * corpus-scale groupBy in the caller), so the O(n²/2) pair build is
    * bounded by the CALENDAR, not the corpus — constant at 100 TB (the
    * q122-skyline bounded-quadratic argument); the pair table itself
    * is distributed and its median rank is a range-partitioned
    * [[DistributedRank.withRank]], never a single-reducer sort.
    */
  def theilSen(series: DataFrame, tCol: String, vCol: String)
      : DataFrame = {
    // the bounded series and the pair table each feed MULTIPLE passes
    // (count + rank for each median, residual join) — checkpoint so the
    // upstream corpus aggregate and the O(n²) join run exactly once
    val s = series.select(col(tCol).cast("decimal(19,0)").as("_t"),
      col(vCol).cast("decimal(19,0)").as("_v"))
      .localCheckpoint(false)
    // r14 (the q240/q266 driver-state rule): the series is CALENDAR-
    // bounded (one row per day at any corpus scale), so below
    // [[Gates.TheilSenPoints]] the whole pair build + both
    // nearest-rank medians run on primitive arrays — the relational
    // spelling paid ~23 jobs of DistributedRank machinery for a
    // ~3M-long sort that takes milliseconds in memory. Bit-identical:
    // same sign-split round-half-up slope per pair (truncating long
    // division ≡ Spark DIV on non-negatives), the k-th smallest VALUE
    // is engine-independent, residuals in BigInteger ≡ DECIMAL(38,0).
    // The long-bound precheck routes any series whose slope numerator
    // could overflow a long back to the decimal relational path.
    val maxPts = Gates.driver(series.sparkSession, Gates.TheilSenPoints)
    if (maxPts > 0) {
      val nRows = s.count()
      if (nRows <= maxPts) {
        // bound check BEFORE the long collect (an out-of-long decimal
        // would throw in the ANSI cast): values must fit longs and the
        // slope numerator 2·Δv·1e6 + Δt must fit a long
        val mm = s.agg(min(col("_t")).as("t0"), max(col("_t")).as("t1"),
          min(col("_v")).as("v0"), max(col("_v")).as("v1")).collect()(0)
        def bi(ix: Int): BigInt =
          if (mm.isNullAt(ix)) BigInt(0)
          else BigInt(mm.getDecimal(ix).toBigInteger)
        val lMax = BigInt(Long.MaxValue); val lMin = BigInt(Long.MinValue)
        val ok = nRows == 0 ||
          (Seq(0, 1, 2, 3).forall(ix => bi(ix) <= lMax && bi(ix) >= lMin) &&
            BigInt(2) * (bi(3) - bi(2)) * 1000000 + (bi(1) - bi(0)) <= lMax)
        if (ok) {
          val pts = s.select(col("_t").cast("long"), col("_v").cast("long"))
            .collect().map(r => (r.getLong(0), r.getLong(1)))
          return theilSenDriver(series.sparkSession, pts)
        }
      }
    }
    val a = s.select(col("_t").as("t1"), col("_v").as("v1"))
    val b = s.select(col("_t").as("t2"), col("_v").as("v2"))
    val slopes = a.join(broadcast(b), col("t1") < col("t2"))
      .select(expr("""CAST(CASE WHEN v2 >= v1
          THEN (2 * (v2 - v1) * 1000000 + (t2 - t1)) DIV (2 * (t2 - t1))
          ELSE -((2 * (v1 - v2) * 1000000 + (t2 - t1))
                 DIV (2 * (t2 - t1)))
          END AS BIGINT)""").as("slope_e6"))
      .localCheckpoint(false)
    def lowerMedian(df: DataFrame, c: String): DataFrame = {
      val n = df.agg(count(lit(1)).as("_n"))
      DistributedRank.withRank(df.select(col(c)), Seq.empty, Seq(c), "_rk")
        .crossJoin(broadcast(n))
        .filter(col("_rk") === expr("(_n + 1) DIV 2"))
        .select(col(c), col("_n"))
    }
    val slope = lowerMedian(slopes, "slope_e6").localCheckpoint(false)
    val resid = s.crossJoin(broadcast(slope))
      .select(col("slope_e6"), col("_n").as("n_pairs"),
        expr("CAST(_v * 1000000 - slope_e6 * _t AS DECIMAL(38,0))")
          .as("resid_e6"))
    lowerMedian(resid.select(col("resid_e6")), "resid_e6")
      .crossJoin(broadcast(slope.select(col("slope_e6"),
        col("_n").as("n_pairs"))))
      .select(col("n_pairs"), col("slope_e6"),
        col("resid_e6").cast("long").as("icept_e6"))
  }

  /** In-memory Theil–Sen — the below-gate path of [[theilSen]]: all
    * t1 < t2 pair slopes (the join's condition, so duplicate-t rows
    * pair exactly as the relational spelling pairs them), lower
    * nearest-rank medians by sort + index, residuals in BigInteger
    * (≡ DECIMAL(38,0)), `longValueExact` ≡ the ANSI long cast.
    */
  private def theilSenDriver(spark: SparkSession,
      pts: Array[(Long, Long)]): DataFrame = {
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("n_pairs",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("slope_e6",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("icept_e6",
        org.apache.spark.sql.types.LongType)))
    val n = pts.length
    var nPairs = 0L
    var i = 0
    while (i < n) {
      var j = i + 1
      while (j < n) {
        if (pts(i)._1 != pts(j)._1) nPairs += 1
        j += 1
      }
      i += 1
    }
    if (nPairs == 0)
      return spark.createDataFrame(
        java.util.Collections.emptyList[org.apache.spark.sql.Row](), schema)
    // the slopes array is ~n²/2 entries: a Gates.TheilSenPoints past
    // ~65k points would overflow its Int length — fail loud instead of
    // a silent NegativeArraySizeException
    require(nPairs <= Int.MaxValue - 8L,
      s"theilSenDriver: $nPairs pair slopes exceed the in-memory bound" +
        " — lower Gates.TheilSenPoints")
    val slopes = new Array[Long](nPairs.toInt)
    var o = 0
    i = 0
    while (i < n) {
      var j = i + 1
      while (j < n) {
        val (ta, va) = pts(i); val (tb, vb) = pts(j)
        if (ta != tb) {
          // orient to the join's t1 < t2
          val (t1, v1, t2, v2) =
            if (ta < tb) (ta, va, tb, vb) else (tb, vb, ta, va)
          val dt = t2 - t1
          slopes(o) =
            if (v2 >= v1)
              (Math.multiplyExact(2L * (v2 - v1), 1000000L) + dt) / (2 * dt)
            else
              -((Math.multiplyExact(2L * (v1 - v2), 1000000L) + dt) /
                (2 * dt))
          o += 1
        }
        j += 1
      }
      i += 1
    }
    java.util.Arrays.sort(slopes)
    val slope = slopes(((nPairs + 1) / 2 - 1).toInt)
    val resids = new Array[java.math.BigInteger](n)
    val e6 = java.math.BigInteger.valueOf(1000000L)
    val slopeB = java.math.BigInteger.valueOf(slope)
    i = 0
    while (i < n) {
      resids(i) = java.math.BigInteger.valueOf(pts(i)._2).multiply(e6)
        .subtract(slopeB.multiply(java.math.BigInteger.valueOf(pts(i)._1)))
      i += 1
    }
    java.util.Arrays.sort(resids,
      java.util.Comparator.naturalOrder[java.math.BigInteger]())
    val icept = resids(((n + 1) / 2 - 1).toInt).longValueExact()
    spark.createDataFrame(
      java.util.Arrays.asList(
        org.apache.spark.sql.Row(nPairs, slope, icept)), schema)
  }

  /** q153: robust daily-revenue trend in µ-cents/day. */
  def q153TheilSen(s: SparkSession, d: String): DataFrame = {
    val daily = Tables.orders(s, d)
      .filter(col("o_orderdate").isNotNull && col("o_totalprice").isNotNull)
      .select(expr("unix_micros(CAST(o_orderdate AS TIMESTAMP)) DIV 86400000000")
          .as("day"),
        (col("o_totalprice").cast("decimal(18,4)") * 100).cast("long")
          .as("cents"))
      .groupBy(col("day")).agg(sum(col("cents")).as("x"))
    theilSen(daily, "day", "x")
  }

  /** 173. q154: Wilson lower-confidence-bound ranking (Wilson 1927;
    * the "how not to sort by average rating" fix) — groups ranked by
    * the LOWER bound of their binomial proportion, so a 2/2 group
    * cannot outrank a 180/200 one: small samples get wide intervals
    * and sink. The q132 double-math rule: counts stay exact longs
    * through the single map-combined aggregate; the Wilson formula
    * evaluates in double ONLY on the bounded one-row-per-group result,
    * as the identical IEEE expression tree the oracle replays (z =
    * 1.96 literal), ROUND(…, 6) last. Degenerate n = 0 cannot occur
    * (a group exists only with rows).
    */
  def wilsonLcb(df: DataFrame, groupCol: String, successCol: String)
      : DataFrame = {
    val g = df.groupBy(col(groupCol))
      .agg(count(lit(1)).as("n"),
        sum(col(successCol).cast("long")).as("k"))
    def dbl(c: Column) = c.cast("double")
    val z = lit(1.96)
    val nD = dbl(col("n"))
    val p = dbl(col("k")) / nD
    val z2 = z * z
    val lcb =
      (p + z2 / (lit(2.0) * nD) -
        z * sqrt(p * (lit(1.0) - p) / nD +
          z2 / (lit(4.0) * nD * nD))) /
      (lit(1.0) + z2 / nD)
    g.select(col(groupCol), col("n"), col("k"),
      round(lcb, 6).as("wilson_lcb"))
  }

  /** q154: brand return-rate ranking — the share of lineitems returned
    * (l_returnflag = 'R') per brand, ranked by the bound a thin sample
    * can't inflate. */
  def q154WilsonLcb(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
      .select(col("l_partkey"),
        when(col("l_returnflag") === "R", 1L).otherwise(0L).as("ret"))
      .join(broadcast(Tables.part(s, d)
        .select(col("p_partkey"), col("p_brand"))),
        col("l_partkey") === col("p_partkey"))
    wilsonLcb(li, "p_brand", "ret")
  }

  /** 174. q155: Cramér's V association strength (Cramér 1946) between
    * two categorical columns — "does source determine language" as one
    * calibrated 0..1 number, the two-variable dependence complement of
    * q144's goodness-of-fit χ². A float Σ over grid cells would be
    * accumulation-order-dependent (the exact trap the q93 integer
    * moments avoid), so χ² uses the identity χ² = n·(Σ o²/(rₐ·c_b) − 1)
    * with each cell term as round-half-up INTEGER e-12 units in
    * DECIMAL(38,0)/HUGEINT — the sum is exact and order-free, per-term
    * rounding error is ≤ 0.5e-12·cells, far below the 6-decimal
    * output. Only the final one-row χ²/√ runs in double (identical
    * IEEE tree, q132 rule). Margins come from the SAME bounded
    * contingency table — one corpus-scale aggregate total. Degenerate
    * single-level variables → NULL V.
    */
  def cramersV(df: DataFrame, aCol: String, bCol: String): DataFrame = {
    val base = df.filter(col(aCol).isNotNull && col(bCol).isNotNull)
      .select(col(aCol).as("_a"), col(bCol).as("_b"))
    val cont = base.groupBy(col("_a"), col("_b"))
      .agg(count(lit(1)).as("o"))
    val ra = cont.groupBy(col("_a")).agg(sum(col("o")).as("ra"))
    val cb = cont.groupBy(col("_b")).agg(sum(col("o")).as("cb"))
    val tot = cont.agg(sum(col("o")).as("n"),
      countDistinct(col("_a")).as("r"),
      countDistinct(col("_b")).as("c"))
    val s12 = cont.join(broadcast(ra), Seq("_a"))
      .join(broadcast(cb), Seq("_b"))
      .select(expr("""CAST((2 * CAST(o AS DECIMAL(38,0)) * o
            * 1000000000000 + CAST(ra AS DECIMAL(38,0)) * cb)
          DIV (2 * CAST(ra AS DECIMAL(38,0)) * cb)
          AS DECIMAL(38,0))""").as("term"))
      .agg(sum(col("term")).cast("decimal(38,0)").as("s12"))
    s12.crossJoin(broadcast(tot))
      .select(col("n"), col("r"), col("c"),
        expr("""CAST(CAST(n AS DECIMAL(38,0))
            * (s12 - 1000000000000) AS DECIMAL(38,0))""").as("chi2_e12"))
      .select(col("n"), col("r"), col("c"),
        round(col("chi2_e12").cast("double") / lit(1e12), 6).as("chi2"),
        when(col("r") > 1 && col("c") > 1,
          round(sqrt(col("chi2_e12").cast("double") /
            (col("n").cast("double") *
              (least(col("r"), col("c")) - lit(1L)).cast("double") *
              lit(1e12))), 6))
          .as("cramers_v"))
  }

  /** q155: language ⇄ source dependence over the documents table. */
  def q155CramersV(s: SparkSession, d: String): DataFrame =
    cramersV(Tables.documents(s, d), "lang", "source")

  /** q148: weekly rhythm of daily order revenue — ACF of the
    * cents-exact daily totals at lags 1..7. */
  def q148Acf(s: SparkSession, d: String): DataFrame = {
    val daily = Tables.orders(s, d)
      .filter(col("o_orderdate").isNotNull && col("o_totalprice").isNotNull)
      .select(expr("unix_micros(CAST(o_orderdate AS TIMESTAMP)) DIV 86400000000")
          .as("day"),
        (col("o_totalprice").cast("decimal(18,4)") * 100).cast("long")
          .as("cents"))
      .groupBy(col("day")).agg(sum(col("cents")).as("x"))
    autocorrelation(daily, "day", "x", 7)
  }

  /** Grouped distribution SHAPE: Fisher–Pearson skewness g₁ = m₃/m₂^³ᐟ²
    * and excess kurtosis g₂ = m₄/m₂² − 3 from raw power sums — the
    * third/fourth-moment completion of the mean/variance profile (the
    * summary-stats pass the reference runs as per-card aggregate views,
    * sql/db_creation_script.sql:185-205, generalized to shape).
    *
    * ONE corpus-scale aggregate: Σx, Σx², Σx³, Σx⁴ accumulate per group
    * as map-side-combined partials — the fact table is scanned once and
    * the shuffle carries 5 numbers per group, the same plan at 100 TB.
    * Cross-engine determinism (the q93 moment rule): values scale by
    * 10⁴ to EXACT integers first (4-decimal data), every power sum runs
    * in DECIMAL(38,0)/HUGEINT — order-free, engine-identical (g₁/g₂ are
    * scale-invariant, so the ×10⁴ cancels in exact math and both
    * engines see bit-identical double inputs) — and the finish is the
    * same IEEE expression tree text in both engines, ROUND(…, 4) last.
    * Zero-variance groups report NULL shape (CASE-mirrored in the
    * oracle).
    */
  def momentShape(df: DataFrame, keys: Seq[String], valueCol: String)
      : DataFrame = {
    val scaled = df.filter(col(valueCol).isNotNull)
      .select(keys.map(col) :+
        (col(valueCol).cast("decimal(18,4)") * 10000)
          .cast("decimal(19,0)").as("_x"): _*)
    val x = col("_x")
    val m = scaled.groupBy(keys.map(col): _*).agg(
      count(lit(1)).cast("long").as("n_rows"),
      sum(x).cast("decimal(38,0)").as("_s1d"),
      sum(x * x).cast("decimal(38,0)").as("_s2d"),
      sum(x * x * x).cast("decimal(38,0)").as("_s3d"),
      sum(x * x * x * x).cast("decimal(38,0)").as("_s4d"))
    m.select(keys.map(col) ++ Seq(col("n_rows"),
        col("n_rows").cast("double").as("n"),
        col("_s1d").cast("double").as("s1"),
        col("_s2d").cast("double").as("s2"),
        col("_s3d").cast("double").as("s3"),
        col("_s4d").cast("double").as("s4")): _*)
      .select(keys.map(col) ++ Seq(col("n_rows"),
        expr("s2/n - (s1/n)*(s1/n)").as("m2"),
        expr("s3/n - 3*(s1/n)*(s2/n) + 2*(s1/n)*(s1/n)*(s1/n)").as("m3"),
        expr("""s4/n - 4*(s1/n)*(s3/n) + 6*(s1/n)*(s1/n)*(s2/n)
          - 3*(s1/n)*(s1/n)*(s1/n)*(s1/n)""").as("m4")): _*)
      .select(keys.map(col) ++ Seq(col("n_rows"),
        when(col("m2") > 0,
          round(col("m3") / (sqrt(col("m2")) * col("m2")), 4))
          .as("skewness"),
        when(col("m2") > 0,
          round(col("m4") / (col("m2") * col("m2")) - 3, 4))
          .as("kurtosis_excess")): _*)
  }

  /** q159: quantity-distribution shape per (returnflag, linestatus). */
  def q159Moments(s: SparkSession, d: String): DataFrame =
    momentShape(Tables.lineitem(s, d),
      Seq("l_returnflag", "l_linestatus"), "l_quantity")

  /** Bounded-lookback EWMA with half-life decay (α = ½): smoothed_t =
    * Σⱼ₌₀..ₖ₋₁ 2^(k−1−j)·x_{t−j} / Σ 2^(k−1−j) over the lags that
    * exist — the trend-smoothing pass of a monitoring pipeline
    * (reference's season-over-season usage trend,
    * helper_functions.py:7-85 / sql/db_creation_script.sql:224-242).
    *
    * α = ½ makes every weight a power of two — EXACT in integer
    * arithmetic, so the whole smoother is a weighted integer sum with
    * one round-half-up division at the end: engine-identical, no float
    * accumulation anywhere (the q58 rule; a general-α EWMA is a float
    * recurrence whose value depends on evaluation order). Truncating at
    * k lags bounds the state: the window is k `lag`s over the PRE-
    * AGGREGATED series (one bounded row per (key, tick)), so the
    * corpus-scale work is the grouped daily sum — map-side combined,
    * shuffle-once — and the window runs on the tiny grid. Series
    * starts use the weights of the lags present (den shrinks), so the
    * smoother is exact from row one instead of biased toward zero.
    */
  def ewmaHalfLife(df: DataFrame, key: String, ord: String,
      unitsCol: String, k: Int): DataFrame = {
    require(k >= 1 && k <= 62, "k must be in [1, 62]")
    val w = Window.partitionBy(col(key)).orderBy(col(ord))
    val lags = (0 until k).map { j =>
      (lag(col(unitsCol), j).over(w), 1L << (k - 1 - j))
    }
    val num = lags.map { case (c, wt) =>
      coalesce(c.cast("decimal(38,0)"), lit(0).cast("decimal(38,0)")) * wt
    }.reduce(_ + _)
    val den = lags.map { case (c, wt) =>
      when(c.isNotNull, lit(wt)).otherwise(lit(0L))
    }.reduce(_ + _)
    df.withColumn("_num", num).withColumn("_den", den)
      .withColumn("ewma_units",
        expr("CAST((2*_num + _den) DIV (2*_den) AS BIGINT)"))
      .drop("_num", "_den")
  }

  /** q165: decile lift / gains table — the model-eval artifact behind
    * "is this score worth acting on": customers ranked by account
    * balance, cut into 10 equal-count bins by EXACT integer rank
    * arithmetic, each bin's response rate (has an URGENT order) and the
    * cumulative lift over the base rate in round-half-up ppm. The
    * campaign-targeting / score-validation pass (generalizes the
    * reference's win-rate views, sql/db_creation_script.sql:224-242).
    *
    * Scale shape: the global ranking runs through `DistributedRank
    * .withRank` (range-partitioned slices + broadcast offsets — no
    * single-reducer window); totals are a 1-row broadcast; the decile
    * table is 10 rows, so its cumulative window is bounded-artifact
    * work. All rates are integer ppm (the q58 rule) — engine-exact.
    * Decile membership via ((rank−1)·10) DIV n is exact equal-count
    * binning (the q115 equi-depth rule), deterministic under the
    * (−score, custkey) total order.
    */
  def q165DecileLift(s: SparkSession, d: String): DataFrame = {
    val cust = Tables.customer(s, d)
      .select(col("c_custkey"),
        (col("c_acctbal").cast("decimal(18,4)") * 100).cast("long")
          .as("score"))
    val resp = Tables.orders(s, d)
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_custkey")).distinct()
      .withColumn("label", lit(1L))
    val labeled = cust
      .join(resp, cust("c_custkey") === resp("o_custkey"), "left")
      .select(col("c_custkey"), col("score"),
        coalesce(col("label"), lit(0L)).as("label"))
    val ranked = DistributedRank.withRank(
      labeled.withColumn("_negs", -col("score")),
      Nil, Seq("_negs", "c_custkey"), "rn")
    val tot = labeled.agg(count(lit(1)).cast("long").as("n_total"),
      sum(col("label")).cast("long").as("t_resp"))
    val deciles = ranked.crossJoin(broadcast(tot))
      .withColumn("decile", expr("((rn - 1) * 10) DIV n_total + 1"))
      .groupBy(col("decile"))
      .agg(count(lit(1)).cast("long").as("n_customers"),
        sum(col("label")).cast("long").as("responders"))
    // bounded 10-row artifact: single-partition window is fine here
    val w = Window.orderBy(col("decile"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    deciles
      .withColumn("cum_n", sum(col("n_customers")).over(w))
      .withColumn("cum_resp", sum(col("responders")).over(w))
      .crossJoin(broadcast(tot))
      .select(col("decile"), col("n_customers"), col("responders"),
        expr("""CAST((2 * CAST(responders AS DECIMAL(38,0)) * 1000000
              + n_customers) DIV (2 * CAST(n_customers AS DECIMAL(38,0)))
            AS BIGINT)""").as("resp_rate_ppm"),
        expr("""CASE WHEN t_resp > 0 THEN
            CAST((2 * CAST(cum_resp AS DECIMAL(38,0)) * n_total * 1000000
              + CAST(cum_n AS DECIMAL(38,0)) * t_resp)
              DIV (2 * CAST(cum_n AS DECIMAL(38,0)) * t_resp)
            AS BIGINT) END""").as("cum_lift_ppm"))
  }

  /** q166: RFM segmentation — every customer scored 1..5 on Recency
    * (last order date), Frequency (order count) and Monetary (total
    * spend, exact cents), quintiles by the same exact integer rank
    * arithmetic as q165 (5 = best). THE classic CRM/campaign operator
    * (the per-player usage profile of the reference's views,
    * sql/db_creation_script.sql:185-242, lifted to the standard RFM
    * form). Three `DistributedRank` passes — one per axis, each a
    * range exchange + broadcast offsets, no single-reducer window;
    * ties resolve by custkey so every score is run-to-run identical.
    */
  def q166Rfm(s: SparkSession, d: String): DataFrame = {
    val per = Tables.orders(s, d)
      .filter(col("o_orderdate").isNotNull)
      .groupBy(col("o_custkey"))
      .agg(max(col("o_orderdate")).as("last_order"),
        count(lit(1)).cast("long").as("f_raw"),
        sum((col("o_totalprice").cast("decimal(18,4)") * 100)
          .cast("long")).cast("long").as("m_raw"))
    val n = per.agg(count(lit(1)).cast("long").as("n_cust"))
    def quintile(df: DataFrame, ord: Seq[String], out: String) =
      DistributedRank.withRank(df, Nil, ord, s"_rn_$out")
        .withColumn(out, expr(s"((_rn_$out - 1) * 5) DIV n_cust + 1"))
        .drop(s"_rn_$out")
    val scored = Seq(
      (Seq("last_order", "o_custkey"), "r_score"),
      (Seq("f_raw", "o_custkey"), "f_score"),
      (Seq("m_raw", "o_custkey"), "m_score"))
      .foldLeft(per.crossJoin(broadcast(n))) { case (acc, (ord, out)) =>
        quintile(acc, ord, out)
      }
    scored.select(col("o_custkey").as("custkey"), col("f_raw"),
      col("m_raw"), col("r_score"), col("f_score"), col("m_score"),
      concat(col("r_score").cast("string"), col("f_score").cast("string"),
        col("m_score").cast("string")).as("segment"))
  }

  /** q172: exact rolling median (7-day window) of daily revenue per
    * return flag — the ORDER-STATISTIC smoother: one corrupted day
    * drags q160's EWMA for a full half-life but moves a median not at
    * all until half the window is bad (the robust-smoothing
    * complement; q83's MAD is the same idea for outlier FLAGGING).
    * Lower median of the ≤7-element frame, so the result is an actual
    * observed integer — deterministic, no interpolation, engine-exact
    * (both engines sort the same ≤7 values and take element
    * (n+1) DIV 2). Same scale shape as q160: corpus-scale work is the
    * grouped daily sum; the sliding frame runs over the bounded
    * (flag, day) grid, and the per-row sort cost is the constant 7.
    */
  def q172RollingMedian(s: SparkSession, d: String): DataFrame = {
    val daily = Tables.lineitem(s, d)
      .filter(col("l_shipdate").isNotNull && col("l_extendedprice").isNotNull)
      .select(col("l_returnflag"),
        to_date(col("l_shipdate")).as("day"),
        (col("l_extendedprice").cast("decimal(18,4)") * 10000)
          .cast("decimal(19,0)").as("units"))
      .groupBy(col("l_returnflag"), col("day"))
      .agg(sum(col("units")).cast("long").as("rev_units"))
    val w = Window.partitionBy(col("l_returnflag")).orderBy(col("day"))
      .rowsBetween(-6, Window.currentRow)
    daily
      .withColumn("_win", sort_array(collect_list(col("rev_units")).over(w)))
      .select(col("l_returnflag"), col("day"), col("rev_units"),
        element_at(col("_win"),
          expr("CAST((size(_win) + 1) DIV 2 AS INT)"))
          .as("med7_units"))
  }

  /** q173: Mann–Kendall trend test on daily order revenue — the
    * SIGNIFICANCE companion of q153's Theil–Sen slope (the classic
    * pairing: MK says WHETHER a monotone trend exists, TS says how
    * steep). S = Σ_{i<j} sign(xⱼ − xᵢ) and the tie-corrected
    * 18·Var(S) = n(n−1)(2n+5) − Σ_t t(t−1)(2t+5) are pure INTEGER
    * statistics — the pair enumeration is the same calendar-bounded
    * O(n²) build as q153 (2.4 k days → ~2.9 M pairs at EVERY corpus
    * size; only the daily aggregate scans facts), the sign sum is one
    * order-free aggregate, and only the final 1-row z = (S − sgn S)/
    * √(var18/18) runs in double — identical IEEE tree, ROUND 4.
    */
  def mannKendall(series: DataFrame, tCol: String, vCol: String)
      : DataFrame = {
    val sr = series.select(col(tCol).cast("decimal(19,0)").as("_t"),
      col(vCol).cast("decimal(19,0)").as("_v"))
      .localCheckpoint(false)
    val a = sr.select(col("_t").as("t1"), col("_v").as("v1"))
    val b = sr.select(col("_t").as("t2"), col("_v").as("v2"))
    val sTab = a.join(broadcast(b), col("t1") < col("t2"))
      .agg(sum(signum(col("v2") - col("v1")).cast("long"))
        .cast("long").as("s"))
    val nTab = sr.agg(count(lit(1)).cast("long").as("n"))
    val ties = sr.groupBy(col("_v")).agg(count(lit(1)).as("_tc"))
      .agg(coalesce(sum(expr(
        "CAST(_tc AS DECIMAL(38,0)) * (_tc - 1) * (2 * _tc + 5)")),
        lit(0).cast("decimal(38,0)")).as("_tsum"))
    sTab.crossJoin(broadcast(nTab)).crossJoin(broadcast(ties))
      .select(col("n").as("n_days"), col("s"),
        expr("""CAST(CAST(n AS DECIMAL(38,0)) * (n - 1) * (2 * n + 5)
            - _tsum AS DECIMAL(38,0))""").as("_var18"))
      .select(col("n_days"), col("s"),
        col("_var18").cast("long").as("var18"),
        when(col("_var18") > 0, round(
          (col("s").cast("double") - signum(col("s").cast("double"))) /
            sqrt(col("_var18").cast("double") / lit(18.0)), 4))
          .as("z"))
  }

  /** q173: trend significance of the cents-exact daily revenue. */
  def q173MannKendall(s: SparkSession, d: String): DataFrame = {
    val daily = Tables.orders(s, d)
      .filter(col("o_orderdate").isNotNull && col("o_totalprice").isNotNull)
      .select(expr("unix_micros(CAST(o_orderdate AS TIMESTAMP)) DIV 86400000000")
          .as("day"),
        (col("o_totalprice").cast("decimal(18,4)") * 100).cast("long")
          .as("cents"))
      .groupBy(col("day")).agg(sum(col("cents")).cast("long").as("x"))
    mannKendall(daily, "day", "x")
  }

  /** q160: 8-day half-life-smoothed daily revenue per return flag.
    * Shuffles: one grouped daily sum (map-side combined) + one 3-key
    * window over the bounded day grid. */
  def q160Ewma(s: SparkSession, d: String): DataFrame = {
    val daily = Tables.lineitem(s, d)
      .filter(col("l_shipdate").isNotNull && col("l_extendedprice").isNotNull)
      .select(col("l_returnflag"), to_date(col("l_shipdate")).as("day"),
        (col("l_extendedprice").cast("decimal(18,4)") * 10000)
          .cast("decimal(19,0)").as("units"))
      .groupBy(col("l_returnflag"), col("day"))
      .agg(sum(col("units")).cast("decimal(38,0)").as("rev"))
    ewmaHalfLife(daily, "l_returnflag", "day", "rev", 8)
      .select(col("l_returnflag"), col("day"),
        col("rev").cast("long").as("rev_units"), col("ewma_units"))
  }

  /** q188: classical additive seasonal decomposition of daily order
    * revenue — value = trend + seasonal + remainder (the STL shape
    * with moving-average trend; q133 flags pointwise DOW outliers,
    * this SEPARATES the series into its components, the standard
    * pre-step before forecasting or anomaly thresholds on the
    * remainder):
    *  - trend = centered 7-day moving average (full windows only —
    *    the 3 edge days on each end carry no trend row),
    *  - seasonal = per-ISO-DOW mean of the detrended series,
    *  - remainder = detrended − seasonal.
    * Everything is integer e4 units: the 7-day sum is exact long
    * arithmetic, means are round-half-up integer division with the
    * SIGN SPLIT OUT (detrended values go negative; Spark DIV truncates
    * where DuckDB // floors — the q148/q153 rule). All windows and
    * aggregates run on the CALENDAR-bounded daily artifact (one corpus
    * aggregate feeds it), so the unpartitioned ORDER BY day window is
    * artifact-scale — never the fact table.
    */
  def q188SeasonalDecomp(s: SparkSession, d: String): DataFrame = {
    val daily = Tables.orders(s, d)
      .filter(col("o_orderdate").isNotNull)
      .select(to_date(col("o_orderdate")).as("day"),
        (col("o_totalprice").cast("decimal(18,4)") * 10000)
          .cast("long").as("v"))
      .groupBy(col("day")).agg(sum(col("v")).cast("long").as("value_e4"))
    // calendar-bounded global window (~2.4k day rows at ANY scale)
    val w7 = Window.orderBy(col("day")).rowsBetween(-3, 3)
    val trended = daily
      .withColumn("_s7", sum(col("value_e4")).over(w7))
      .withColumn("_n7", count(lit(1)).over(w7))
      .filter(col("_n7") === 7)
      .withColumn("trend_e4", expr("(2 * _s7 + 7) DIV 14"))
      .withColumn("_d", col("value_e4") - col("trend_e4"))
      .withColumn("dow", expr("CAST(weekday(day) + 1 AS BIGINT)"))
      .localCheckpoint(false) // feeds the DOW means and the final join
    val signedMean = (sd: String, nd: String) => expr(
      s"""CASE WHEN $sd >= 0 THEN (2 * $sd + $nd) DIV (2 * $nd)
          ELSE -((2 * (-$sd) + $nd) DIV (2 * $nd)) END""")
    val seasonal = trended.groupBy(col("dow"))
      .agg(sum(col("_d")).cast("long").as("_sd"),
        count(lit(1)).cast("long").as("_nd"))
      .select(col("dow"), signedMean("_sd", "_nd").as("seasonal_e4"))
    trended.join(broadcast(seasonal), "dow")
      .select(col("day"), col("value_e4"), col("trend_e4"), col("dow"),
        col("seasonal_e4"),
        (col("_d") - col("seasonal_e4")).as("remainder_e4"))
  }

  /** q189: lead-lag regression sweep between two daily series — does
    * order VOLUME lead order REVENUE (or lag it)? For every lag k in
    * [−7, +7] the OLS slope of revenue on volume over the overlapping
    * day pairs: beta(k) = (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²) with
    * x = orders-per-day at t, y = cents at t+k. The cross-series
    * completion of q148's autocorrelation (same lag-join machinery,
    * second series) — the demand-forecasting "which KPI moves first"
    * screen the reference's per-day win-rate views
    * (sql/db_creation_script.sql:185-205) stop short of.
    *
    * Determinism: the textbook cross-CORRELATION needs √(Sxx·Syy) —
    * libm, engine-varying (the q58 ln rule). The slope form is a pure
    * rational in the per-lag integer sums, so decimal(38,0) products
    * + the signed round-half-up DIV (q148/q153 sign-split — DuckDB //
    * floors, Spark DIV truncates) make it engine-exact. Per-lag means
    * are computed over each lag's own overlap window, not globally,
    * so every lag is a self-contained regression.
    *
    * Scale: the corpus-scale work is ONE map-side-combined daily
    * aggregate; the lag join runs on the calendar-bounded daily table
    * (constant-size at 100 TB, the q153 rationale) against a
    * broadcast 15-row lag spine.
    */
  def q189LeadLag(s: SparkSession, d: String): DataFrame = {
    val daily = Tables.orders(s, d)
      .filter(col("o_orderdate").isNotNull && col("o_totalprice").isNotNull)
      .select(expr(
          "unix_micros(CAST(o_orderdate AS TIMESTAMP)) DIV 86400000000")
        .as("day"),
        (col("o_totalprice").cast("decimal(18,4)") * 100).cast("long")
          .as("cents"))
      .groupBy(col("day"))
      .agg(count(lit(1)).cast("long").as("x"), sum(col("cents")).as("y"))
      .localCheckpoint(false) // both sides of the lag self-join
    val lags = s.range(-7L, 8L).select(col("id").as("lag"))
    val a = daily.select(col("day"), col("x"))
    val b = daily.select(col("day").as("_db"), col("y"))
    a.join(broadcast(lags))
      .join(b, col("_db") === col("day") + col("lag"))
      .groupBy(col("lag"))
      .agg(count(lit(1)).cast("decimal(38,0)").as("_n"),
        sum(col("x")).cast("decimal(38,0)").as("_sx"),
        sum(col("y")).cast("decimal(38,0)").as("_sy"),
        sum(col("x").cast("decimal(19,0)") * col("y")).cast("decimal(38,0)")
          .as("_sxy"),
        sum(col("x").cast("decimal(19,0)") * col("x")).cast("decimal(38,0)")
          .as("_sxx"))
      .select(col("lag"), col("_n").cast("long").as("n_pairs"),
        expr("""CASE WHEN _n * _sxx - _sx * _sx > 0 THEN
            CAST(CASE WHEN _n * _sxy - _sx * _sy >= 0
              THEN (2 * (_n * _sxy - _sx * _sy) * 1000000
                    + (_n * _sxx - _sx * _sx))
                   DIV (2 * (_n * _sxx - _sx * _sx))
              ELSE -((2 * (_sx * _sy - _n * _sxy) * 1000000
                      + (_n * _sxx - _sx * _sx))
                     DIV (2 * (_n * _sxx - _sx * _sx)))
            END AS BIGINT) END""").as("beta_ppm"))
  }

  /** q195: Gini-impurity feature ranking (Breiman et al. 1984, the
    * CART split criterion): for each candidate categorical feature,
    * the weighted post-split impurity of the order-status target
    * Σ_v (n_v/n)·(1 − Σ_c (n_vc/n_v)²) and its gain vs the root
    * impurity — the feature-screening pass a tree/GBM pipeline runs
    * before training, and the exact-arithmetic sibling of q191's FD
    * g₃ (g₃ asks "does A determine B"; Gini gain asks "how much does
    * A separate B"). Entropy-based gain needs ln (the q58 libm rule);
    * Gini is a pure rational in the count tables, so it stays
    * engine-exact.
    *
    * Determinism: per-value terms are round-half-up e9 fixed point,
    * (2·(n_v²−Σ_c n_vc²)·10⁹ + n·n_v) DIV (2·n·n_v), summed exactly
    * as integers (the q155 rule: round each term, then sum — a float
    * sum would be order-dependent); all products in DECIMAL(38,0)
    * (n² at 100 TB overflows a long). Non-negative throughout — no
    * sign split needed. gain_e9 = root_e9 − split_e9 can be a few
    * units negative by rounding; that is the documented fixed-point
    * semantics, identical in both engines.
    *
    * Scale shape per feature: one 2-column pruned scan (plus ONE
    * broadcast dim hop for the segment feature) → (v,c) count →
    * per-v aggregate → ONE global sum; the 3-feature fan is a
    * constant. The root term is a single broadcast scalar.
    */
  def q195GiniRank(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d)
    val feats: Seq[(String, DataFrame)] = Seq(
      ("o_orderpriority", o.select(col("o_orderpriority").as("v"),
        col("o_orderstatus").as("c"))),
      ("order_year", o.select(year(col("o_orderdate")).cast("string")
        .as("v"), col("o_orderstatus").as("c"))),
      ("c_mktsegment", o.join(broadcast(Tables.customer(s, d)
          .select(col("c_custkey"), col("c_mktsegment"))),
        col("o_custkey") === col("c_custkey"))
        .select(col("c_mktsegment").as("v"), col("o_orderstatus").as("c"))))
    val root = o.groupBy(col("o_orderstatus")).agg(count(lit(1)).as("_nc"))
      .agg(sum(col("_nc")).cast("decimal(38,0)").as("_n"),
        sum(col("_nc").cast("decimal(19,0)") * col("_nc"))
          .cast("decimal(38,0)").as("_s2"))
      .select(expr("""CAST((2 * (_n * _n - _s2) * 1000000000 + _n * _n)
          DIV (2 * _n * _n) AS BIGINT)""").as("root_e9"))
    feats.map { case (name, df) =>
      val perV = df.na.fill("∅", Seq("v", "c"))
        .groupBy(col("v"), col("c")).agg(count(lit(1)).as("_k"))
        .groupBy(col("v"))
        .agg(sum(col("_k")).cast("decimal(38,0)").as("_nv"),
          sum(col("_k").cast("decimal(19,0)") * col("_k"))
            .cast("decimal(38,0)").as("_s2"))
      val nRow = perV.agg(sum(col("_nv")).cast("decimal(38,0)").as("_n"))
      perV.crossJoin(broadcast(nRow))
        .select(expr("""CAST((2 * (_nv * _nv - _s2) * 1000000000
            + _n * _nv) DIV (2 * _n * _nv) AS BIGINT)""").as("_term"))
        .agg(count(lit(1)).cast("long").as("n_values"),
          sum(col("_term")).cast("long").as("split_e9"))
        .crossJoin(broadcast(root))
        .select(lit(name).as("feature"), col("n_values"),
          col("split_e9"),
          (col("root_e9") - col("split_e9")).as("gain_e9"))
    }.reduce(_ unionByName _)
  }

  /** q200: Holt DOUBLE-exponential smoothing of per-nation daily order
    * revenue (Holt 1957) — level + trend state, the forecasting step up
    * from q160's EWMA (level only, no trend): l_t = α·y_t +
    * (1−α)(l_{t−1}+b_{t−1}), b_t = β(l_t−l_{t−1}) + (1−β)b_{t−1}, here
    * α = ½, β = ¼ so every update is exact integer shift arithmetic.
    * Output per nation: final level/trend and the 7-step-ahead linear
    * forecast l + 7b — the "where is this source heading" signal a
    * corpus-intake dashboard wants (reference analogue: the aggregate
    * trend views, sql/db_creation_script.sql:185-242).
    *
    * The recursion is inherently sequential per series, so it runs as
    * an ordered array fold (`aggregate` over the sorted per-nation day
    * array) on the CALENDAR-bounded daily artifact — one corpus-scale
    * aggregate builds the (nation, day) table, the fold touches
    * |days|-length arrays per nation, never the fact table (the q183
    * bounded-artifact rule, kept distributed per nation). Engine-exact:
    * e4 revenue units, round-half-away-from-zero at each step with the
    * q148/q153 SIGN SPLIT (the trend and level updates go negative),
    * halving/quartering as non-negative shifts after the split —
    * replayable in a DuckDB recursive CTE with identical CASE
    * arithmetic. Init: l₁ = y₁, b₁ = 0.
    */
  def q200HoltSmoothing(s: SparkSession, d: String): DataFrame = {
    val cust = Tables.customer(s, d)
      .select(col("c_custkey"), col("c_nationkey"))
    val nat = Tables.nation(s, d)
      .select(col("n_nationkey"), col("n_name"))
    val daily = Tables.orders(s, d)
      .filter(col("o_orderdate").isNotNull && col("o_totalprice").isNotNull)
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name").as("nation"),
        date_trunc("day", col("o_orderdate")).as("day"))
      .agg(sum((col("o_totalprice").cast("decimal(18,4)") * 10000)
        .cast("long")).cast("long").as("y"))
    // round-half-away-from-zero x/2^k as sign-split shifts (exact:
    // operands stay far below 2^62)
    def rhalf(x: Column, k: Int): Column =
      when(x >= 0, shiftright(x * 2 + (1L << k), k + 1))
        .otherwise(-shiftright((-x) * 2 + (1L << k), k + 1))
    val zero = struct(lit(0L).as("l"), lit(0L).as("b"),
      lit(false).as("s"))
    def step(acc: Column, e: Column): Column = {
      val y = e.getField("y")
      val l0 = acc.getField("l"); val b0 = acc.getField("b")
      val l1 = rhalf(y + l0 + b0, 1)            // α = ½
      val b1 = rhalf(l1 - l0 + b0 * 3, 2)       // β = ¼
      when(!acc.getField("s"),
        struct(y.as("l"), lit(0L).as("b"), lit(true).as("s")))
        .otherwise(struct(l1.as("l"), b1.as("b"), lit(true).as("s")))
    }
    daily
      .groupBy(col("nation"))
      .agg(sort_array(collect_list(struct(col("day").as("d"),
        col("y").as("y")))).as("_arr"))
      .select(col("nation"),
        size(col("_arr")).cast("long").as("n_days"),
        aggregate(col("_arr"), zero, step).as("_st"))
      .select(col("nation"), col("n_days"),
        col("_st.l").as("level_units"), col("_st.b").as("trend_units"),
        (col("_st.l") + col("_st.b") * 7).as("forecast7_units"))
  }

  /** q210: per-nation spend-concentration GINI over customer lifetime
    * order totals (Gini 1912 — the inequality coefficient, ppm): with
    * per-nation spends sorted ascending and 1-based ranks i,
    * G = (2·Σ i·xᵢ − (n+1)·Σ xᵢ) / (n·Σ xᵢ). The revenue-concentration
    * answer q146's ABC classes and q182's HHI approximate — "how
    * unequal is this market" as one exact number per nation.
    *
    * The rank is the whole problem at scale (customers per nation are
    * corpus-scale): [[DistributedRank.withRank]] (range partition +
    * broadcast offsets — never a per-nation single-reducer sort). All
    * moments accumulate in DECIMAL(38,0) (i·x at 10⁹ customers × e4
    * spend overflows long), the numerator is provably non-negative
    * (sorted order), ppm is integer round-half-up. Ties in spend
    * break by custkey — Σ i·xᵢ is tie-order-invariant, so the Gini is
    * data-determined. Customers with no orders are out of frame
    * (spend concentration OF buyers).
    */
  def q210SpendGini(s: SparkSession, d: String): DataFrame = {
    val cust = Tables.customer(s, d)
      .select(col("c_custkey"), col("c_nationkey"))
    val nat = Tables.nation(s, d)
      .select(col("n_nationkey"), col("n_name"))
    val spend = Tables.orders(s, d)
      .filter(col("o_totalprice").isNotNull)
      .groupBy(col("o_custkey"))
      .agg(sum((col("o_totalprice").cast("decimal(18,4)") * 10000)
        .cast("long")).cast("long").as("x"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
      .select(col("n_name").as("nation"), col("x"), col("o_custkey"))
    val ranked = DistributedRank.withRank(spend, Seq("nation"),
      Seq("x", "o_custkey"), "i")
    ranked.groupBy(col("nation"))
      .agg(count(lit(1)).cast("decimal(38,0)").as("_n"),
        sum(col("x").cast("decimal(38,0)")).cast("decimal(38,0)")
          .as("_sx"),
        sum(col("i").cast("decimal(19,0)") * col("x"))
          .cast("decimal(38,0)").as("_six"))
      .select(col("nation"), col("_n").cast("long").as("n_customers"),
        col("_sx").cast("long").as("total_spend_units"),
        expr("""CAST((2 * ((2 * _six - (_n + 1) * _sx) * 1000000)
                + (_n * _sx)) DIV (2 * (_n * _sx)) AS BIGINT)""")
          .as("gini_ppm"))
  }

  /** q211: per-brand ISOTONIC CALIBRATION (weighted isotonic
    * regression) of average order quantity against discount level —
    * the monotone demand-curve fit. Raw per-level averages are noisy
    * and can dip non-monotonically; isotonic regression (Barlow et al.
    * 1972 — the estimator behind sklearn's IsotonicRegression and
    * model-probability calibration in ML scoring pipelines) finds the
    * LSQ-closest non-decreasing fit by pooling adjacent violators.
    * Generalizes the reference's per-card win/usage-rate views
    * (sql/db_creation_script.sql:185-242) from point averages to a
    * shape-constrained calibration curve.
    *
    * Scale shape: ONE map-combined aggregate collapses the corpus to
    * (brand, level) cells — the discount DOMAIN is fixed (11 levels),
    * so each brand's series is a bounded artifact and the fit runs as
    * array ops on a ≤11-length array (the parallelism axis is brands,
    * not series length). The fit uses the exact minimax closed form
    * fitted(i) = max_{j≤i} min_{k≥i} wavg(y_j..y_k) — O(m³) on m=11 is
    * ~200 rational comparisons per brand, all in exact long
    * cross-multiplication (sums bounded: qty ≤ 50, cells ≤ corpus/11;
    * at true 100-TB cell counts the cross-products would move to
    * DECIMAL(38,0)). No doubles anywhere; e4 emission is integer
    * round-half-up, representation-invariant under num/den scaling.
    * The suite replays the O(m) PAVA stack algorithm (the form you'd
    * use for LONG series) as an independent differential.
    */
  def q211IsotonicCalibration(s: SparkSession, d: String): DataFrame = {
    val part = Tables.part(s, d).select(col("p_partkey"), col("p_brand"))
    val cells = Tables.lineitem(s, d)
      .filter(col("l_quantity").isNotNull && col("l_discount").isNotNull)
      .join(broadcast(part), col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand").as("brand"),
        (col("l_discount").cast("decimal(18,4)") * 100).cast("long")
          .as("disc_pct"))
      .agg(count(lit(1)).cast("long").as("w"),
        sum(col("l_quantity").cast("decimal(18,4)").cast("long"))
          .cast("long").as("sy"))
    val prefixed = cells
      .groupBy(col("brand"))
      .agg(sort_array(collect_list(struct(col("disc_pct").as("d"),
        col("w").as("w"), col("sy").as("sy")))).as("arr"))
      // leading-0 prefix arrays: psy(j) = Σ sy[1..j-1] at index j
      .withColumn("psy", aggregate(col("arr"), array(lit(0L)),
        (acc, x) => concat(acc,
          array(element_at(acc, -1) + x.getField("sy")))))
      .withColumn("pw", aggregate(col("arr"), array(lit(0L)),
        (acc, x) => concat(acc,
          array(element_at(acc, -1) + x.getField("w")))))
      .withColumn("m", size(col("arr")))
    val unset = struct(lit(-1L).as("num"), lit(0L).as("den"))
    def wavg(psy: Column, pw: Column, j: Column, k: Column): Column =
      struct((element_at(psy, (k + 1).cast("int"))
        - element_at(psy, j.cast("int"))).as("num"),
        (element_at(pw, (k + 1).cast("int"))
          - element_at(pw, j.cast("int"))).as("den"))
    val fit = prefixed.withColumn("fitted",
      transform(sequence(lit(1), col("m")), i =>
        aggregate(sequence(lit(1), i), unset, (bj, j) => {
          val mn = aggregate(sequence(i, col("m")), unset, (bk, k) => {
            val c = wavg(col("psy"), col("pw"), j, k)
            when(bk.getField("den") === 0, c)
              .when(c.getField("num") * bk.getField("den")
                < bk.getField("num") * c.getField("den"), c)
              .otherwise(bk)
          })
          when(bj.getField("den") === 0, mn)
            .when(mn.getField("num") * bj.getField("den")
              > bj.getField("num") * mn.getField("den"), mn)
            .otherwise(bj)
        })))
    fit.select(col("brand"),
        posexplode(arrays_zip(col("arr"), col("fitted"))))
      .select(col("brand"),
        col("col.arr.d").as("disc_pct"),
        col("col.arr.w").as("n_rows"),
        expr("(20000 * col.arr.sy + col.arr.w) DIV (2 * col.arr.w)")
          .as("raw_avg_qty_e4"),
        expr("""(20000 * col.fitted.num + col.fitted.den)
                DIV (2 * col.fitted.den)""").as("iso_avg_qty_e4"))
  }

  /** q221: SPEARMAN rank correlation per nation between customer
    * account balance and lifetime spend — "do wealthier accounts
    * actually buy more?" as a monotone-association measure, robust to
    * the heavy spend tail that makes q93's Pearson unstable (Spearman
    * 1904; the nonparametric complement to q93, as q143's rank-sum is
    * to the t-test). Customers with no orders count at spend 0 — the
    * association question includes the non-buyers.
    *
    * Determinism: ranks are a PERMUTATION per nation — the order is
    * the total (value, custkey) — so the classic ρ = 1 − 6Σd²/(n³−n)
    * identity is exact (no average-rank rationals), every quantity an
    * integer, and the tie policy is explicit and engine-identical.
    * Both rank passes run on ONE checkpointed per-customer frame via
    * [[DistributedRank.withRank]] (range-partitioned — corpus-scale
    * nations never hit a single-reducer window sort). Σd² ≤ n³ and
    * n³−n overflow long at ~2M members → DECIMAL(38,0); signed ppm
    * emission uses the q148/q153 sign split.
    */
  def q221Spearman(s: SparkSession, d: String): DataFrame = {
    val spend = Tables.orders(s, d)
      .filter(col("o_totalprice").isNotNull)
      .groupBy(col("o_custkey"))
      .agg(sum((col("o_totalprice").cast("decimal(18,4)") * 10000)
        .cast("long")).cast("long").as("x"))
    val base = Tables.customer(s, d)
      .select(col("c_custkey"), col("c_nationkey"),
        (col("c_acctbal").cast("decimal(18,4)") * 10000).cast("long")
          .as("bal"))
      .join(broadcast(Tables.nation(s, d)
        .select(col("n_nationkey"), col("n_name"))),
        col("c_nationkey") === col("n_nationkey"))
      .join(spend, col("c_custkey") === col("o_custkey"), "left")
      .select(col("n_name").as("nation"), col("c_custkey"),
        col("bal"), coalesce(col("x"), lit(0L)).as("x"))
      .localCheckpoint(false) // one materialization feeds both ranks
    val ranked = DistributedRank.withRank(
      DistributedRank.withRank(base, Seq("nation"),
        Seq("bal", "c_custkey"), "r"),
      Seq("nation"), Seq("x", "c_custkey"), "sr")
    ranked.groupBy(col("nation"))
      .agg(count(lit(1)).cast("decimal(38,0)").as("_n"),
        sum(((col("r") - col("sr")) * (col("r") - col("sr")))
          .cast("decimal(19,0)")).cast("decimal(38,0)").as("_sd2"))
      .filter(col("_n") >= 2)
      .select(col("nation"), col("_n").cast("long").as("n_customers"),
        expr("""CASE WHEN (_n * _n * _n - _n) - 6 * _sd2 >= 0
             THEN CAST((2 * 1000000 * ((_n * _n * _n - _n) - 6 * _sd2)
               + (_n * _n * _n - _n)) DIV (2 * (_n * _n * _n - _n))
               AS BIGINT)
             ELSE -CAST((2 * 1000000 * (6 * _sd2 - (_n * _n * _n - _n))
               + (_n * _n * _n - _n)) DIV (2 * (_n * _n * _n - _n))
               AS BIGINT) END""").as("rho_ppm"))
  }

  /** q224: seasonal-naive forecast BACKTEST per event type — rolling-
    * origin evaluation of "this weekday last week" (seasonal naive,
    * m=7) against "yesterday" (naive) on daily event volume, scored
    * by MASE (Hyndman & Koehler 2006: MAE ratio vs the naive
    * benchmark — THE scale-free forecast-accuracy standard; < 1e6
    * ppm means the weekly pattern is real signal). The evaluation
    * harness q200's Holt forecasts would plug into: no forecast
    * method ships without a backtest, and the naive pair is the
    * mandated baseline. (Traffic counts, not revenue: the event
    * stream is observed every day, so the backtest has support at
    * every scale; a sparse-series revenue variant would first
    * gap-fill via q99.)
    *
    * Both predecessors join by EXACT calendar offset (day−7, day−1 on
    * the observed series) — never "7 rows ago", which silently slips
    * across gaps; scoring runs on the common support so both MAEs see
    * identical days. One fact aggregate to the calendar-bounded daily
    * artifact (checkpointed — feeds three plan branches), two
    * broadcast-scale self-joins on it; |e| sums exact longs widened
    * to DECIMAL(38,0) for the ppm cross-ratio (1e6·Σ|e| tops long at
    * 10¹²-event days × decades).
    */
  def q224ForecastBacktest(s: SparkSession, d: String): DataFrame = {
    val daily = Tables.events(s, d)
      .groupBy(col("event_type"),
        date_trunc("day", col("ts")).as("day"))
      .agg(count(lit(1)).cast("long").as("y"))
      .localCheckpoint(false) // bounded artifact; feeds 3 branches
    val sn = daily.select(col("event_type"),
      (col("day") + expr("INTERVAL 7 DAYS")).as("day"),
      col("y").as("_ysn"))
    val nv = daily.select(col("event_type"),
      (col("day") + expr("INTERVAL 1 DAY")).as("day"),
      col("y").as("_ynv"))
    daily.join(sn, Seq("event_type", "day"))
      .join(nv, Seq("event_type", "day"))
      .select(col("event_type"), abs(col("y") - col("_ysn")).as("_es"),
        abs(col("y") - col("_ynv")).as("_en"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).cast("long").as("n_days"),
        sum(col("_es")).cast("decimal(38,0)").as("_ses"),
        sum(col("_en")).cast("decimal(38,0)").as("_sen"))
      .filter(col("_sen") > 0)
      .select(col("event_type"), col("n_days"),
        expr("CAST((2 * _ses + n_days) DIV (2 * n_days) AS BIGINT)")
          .as("mae_snaive"),
        expr("CAST((2 * _sen + n_days) DIV (2 * n_days) AS BIGINT)")
          .as("mae_naive"),
        expr("""CAST((2 * 1000000 * _ses + _sen) DIV (2 * _sen)
                AS BIGINT)""").as("mase_ppm"))
  }

  /** q233: HOLT-WINTERS additive TRIPLE-exponential smoothing (Winters
    * 1960) — level + trend + 7-slot weekly seasonal state over per-
    * event-type daily value series, the seasonal step up from q200's
    * Holt (level+trend only): l_t = α(y_t−s_{t−7}) + (1−α)(l+b),
    * b_t = β(l_t−l) + (1−β)b, s_t = γ(y_t−l_t) + (1−γ)s_{t−7}, with
    * α = γ = ½, β = ¼ so every update is exact shift arithmetic after
    * the q148 sign split. Init is fully specified (no fitting): after
    * the first 7 observations, l₇ = round-half mean of week one,
    * b₇ = 0, s_j = y_j − l₇; the recursion starts at observation 8.
    * Output per type: final level/trend and the day-t+7 forecast
    * l + 7b + s_slot(t+7) — the seasonality-aware "next week" number
    * q200's linear forecast can't give. Series built from EVENTS
    * (dense at every SF — the q224 daily-series rule); the fold steps
    * over OBSERVED days (index-based slots; both engines see the same
    * sequence, and the event series has no gaps in practice).
    *
    * Scale shape: one map-combined daily aggregate (types × days
    * artifact, calendar-bounded), then an ordered `aggregate` fold
    * per type carrying the (l, b, s[7], warm-up buffer) state — the
    * q200 per-series-recursion pattern with array state. Oracle: the
    * same recursion as a lockstep recursive CTE carrying s1..s7 as
    * columns, layered derived tables in the recursive term so each
    * sign-split formula is written once.
    */
  def q233HoltWinters(s: SparkSession, d: String): DataFrame = {
    val daily = Tables.events(s, d)
      .filter(col("value").isNotNull)
      .groupBy(col("event_type"),
        date_trunc("day", col("ts")).as("day"))
      .agg(sum((col("value").cast("decimal(18,4)") * 10000)
        .cast("long")).cast("long").as("y"))
    // round-half-away-from-zero x/2^k (q200's rhalf)
    def rhalf(x: Column, k: Int): Column =
      when(x >= 0, shiftright(x * 2 + (1L << k), k + 1))
        .otherwise(-shiftright((-x) * 2 + (1L << k), k + 1))
    // round-half-away x/14 (the week-one mean; 14 isn't a power of
    // two, so integer division goes via pmod subtraction — exact,
    // operands ≪ 2^53)
    def rdiv14(x: Column): Column = {
      def q(u: Column): Column =
        ((u - pmod(u, lit(14L))) / lit(14L)).cast("long")
      when(x >= 0, q(x * 2 + 7)).otherwise(-q((-x) * 2 + 7))
    }
    val zero = struct(lit(0).as("i"),
      array().cast("array<bigint>").as("buf"),
      lit(0L).as("l"), lit(0L).as("b"),
      array((0 until 7).map(_ => lit(0L)): _*).as("sz"))
    def step(acc: Column, e: Column): Column = {
      val y = e.getField("y")
      val i = acc.getField("i")
      val buf = acc.getField("buf")
      val l0 = acc.getField("l"); val b0 = acc.getField("b")
      val sz = acc.getField("sz")
      // warm-up: collect week one
      val grow = struct((i + 1).as("i"),
        concat(buf, array(y)).as("buf"), l0.as("l"), b0.as("b"),
        sz.as("sz"))
      // init at the 7th observation
      val buf7 = concat(buf, array(y))
      val s7 = (0 until 7).map(j => element_at(buf7, j + 1))
      val lInit = rdiv14(s7.reduce(_ + _))
      val init = struct((i + 1).as("i"),
        array().cast("array<bigint>").as("buf"),
        lInit.as("l"), lit(0L).as("b"),
        array(s7.map(_ - lInit): _*).as("sz"))
      // steady state: slot = i mod 7 (0-based observation index)
      val slot = pmod(i, lit(7)).cast("int")
      val sOld = element_at(sz, slot + 1)
      val l1 = rhalf(y - sOld + l0 + b0, 1)
      val b1 = rhalf(l1 - l0 + b0 * 3, 2)
      val sNew = rhalf(y - l1 + sOld, 1)
      val szNew = concat(slice(sz, lit(1), slot), array(sNew),
        slice(sz, slot + 2, lit(6) - slot))
      val steady = struct((i + 1).as("i"), buf.as("buf"),
        l1.as("l"), b1.as("b"), szNew.as("sz"))
      when(i < 6, grow).when(i === 6, init).otherwise(steady)
    }
    daily
      .groupBy(col("event_type"))
      .agg(sort_array(collect_list(struct(col("day").as("d"),
        col("y").as("y")))).as("_arr"))
      .filter(size(col("_arr")) >= 8)
      .select(col("event_type"),
        size(col("_arr")).cast("long").as("n_days"),
        aggregate(col("_arr"), zero, step).as("_st"))
      .select(col("event_type"), col("n_days"),
        col("_st.l").as("level_units"), col("_st.b").as("trend_units"),
        (col("_st.l") + col("_st.b") * 7 +
          element_at(col("_st.sz"),
            pmod(col("n_days") + 6, lit(7)).cast("int") + 1))
          .as("forecast7_units"))
  }

  /** q235: SPLIT-CONFORMAL PREDICTION INTERVALS (Vovk et al. 2005;
    * Lei et al. JASA 2018's split-conformal recipe) for the seasonal-
    * naive forecaster — the distribution-free uncertainty wrapper
    * model governance asks for: on a calibration window (the first
    * 80% of each event type's daily series), take the nonconformity
    * scores r_t = |y_t − y_{t−7}|; q̂ = the ⌈(n_cal+1)·0.8⌉-th
    * smallest (exact nearest-rank, index clamped to n_cal); the claim
    * "y ∈ ŷ ± q̂ with ≥80% probability" is then AUDITED on the
    * held-out tail — empirical coverage_ppm vs the 800000 target.
    * q224 scores the same forecaster's accuracy (MASE); this
    * calibrates and verifies its INTERVALS.
    *
    * Exactness: residuals are exact e4 longs; the rank index is
    * integer ceiling division ⌈4(n+1)/5⌉ = (4n+8) DIV 5; coverage is
    * integer round-half-up ppm. Scale shape: one map-combined daily
    * aggregate, one per-type lag window on the calendar-bounded
    * artifact, per-type sorted-array selection (the q200 bounded-
    * artifact rule) — the fact table is scanned once.
    */
  def q235ConformalCalibration(s: SparkSession, d: String): DataFrame = {
    val daily = Tables.events(s, d)
      .filter(col("value").isNotNull)
      .groupBy(col("event_type"),
        date_trunc("day", col("ts")).as("day"))
      .agg(sum((col("value").cast("decimal(18,4)") * 10000)
        .cast("long")).cast("long").as("y"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
    val seq0 = daily
      .withColumn("rn", row_number().over(w).cast("long"))
      .withColumn("p", lag(col("y"), 7).over(w))
    val n = seq0.groupBy(col("event_type"))
      .agg(max(col("rn")).as("_n"))
      .select(col("event_type"), expr("(4 * _n) DIV 5").as("_split"))
    seq0.join(broadcast(n), "event_type")
      .filter(col("rn") > 7)
      .select(col("event_type"), col("rn"), col("_split"),
        abs(col("y") - col("p")).as("r"))
      .groupBy(col("event_type"))
      .agg(sort_array(collect_list(when(col("rn") <= col("_split"),
          col("r")))).as("_cal"),
        collect_list(when(col("rn") > col("_split"), col("r")))
          .as("_test"))
      .filter(size(col("_cal")) >= 1 && size(col("_test")) >= 1)
      .select(col("event_type"),
        size(col("_cal")).cast("long").as("n_cal"),
        size(col("_test")).cast("long").as("n_test"),
        element_at(col("_cal"),
          least(expr("(4 * size(_cal) + 8) DIV 5"),
            size(col("_cal")).cast("long")).cast("int")).as("qhat_units"),
        col("_test"))
      .select(col("event_type"), col("n_cal"), col("n_test"),
        col("qhat_units"),
        size(filter(col("_test"), x => x <= col("qhat_units")))
          .cast("long").as("_cov"))
      .select(col("event_type"), col("n_cal"), col("n_test"),
        col("qhat_units"),
        expr("""CAST((2 * 1000000 * _cov + n_test) DIV (2 * n_test)
            AS BIGINT)""").as("coverage_ppm"))
  }

  /** q237: COUNT-MIN FREQUENCY SKETCH (Cormode & Muthukrishnan 2005)
    * — point-frequency estimation under a FIXED memory budget: 4 rows
    * × 256 md5-prefix buckets (4·256 counters regardless of key
    * cardinality) summarize the lineitem part-frequency distribution;
    * a key's estimate is the MIN of its 4 bucket counters, guaranteed
    * ≥ the true count. The sketch complements q91's Misra–Gries
    * (which RANKS heavy hitters) with O(1)-memory POINT queries, and
    * like it is fully mergeable: per-partition sketches union by
    * bucket-wise SUM, so a day-partitioned corpus rolls up without
    * rescanning (the q165/q179 re-aggregatable-artifact family).
    * Audited here against truth: the 20 most frequent parts, their
    * exact counts, estimates, and overcount — the error the 1024-
    * counter budget costs on a 20k-key domain.
    *
    * Engine-exactness: buckets are the FIRST TWO HEX CHARS of
    * md5(row || '|' || key) — the md5-MinHash rule (q31): both
    * engines hash identically and the bucket key stays a string, so
    * no hex→int conversion ever happens. Scale shape: the build is
    * ONE map-combined groupBy to a 1024-row artifact; the probe side
    * is a broadcast of 20×4 bucket keys.
    */
  def q237CountMin(s: SparkSession, d: String): DataFrame = {
    // the 4 md5 bucket hashes per row dominate, and the slim
    // one-column scan arrives in ≤4 parquet tasks locally
    val li = graft.Gates.spreadScan(s, d, "lineitem",
      Tables.lineitem(s, d).select(col("l_partkey")),
      graft.Gates.SpreadFactRows)
    val rows = array((0 until 4).map(lit): _*)
    val keyed = li.select(col("l_partkey"),
      explode(rows).as("j"))
      .select(col("l_partkey"), col("j"),
        substring(md5(concat(col("j").cast("string"), lit("|"),
          col("l_partkey").cast("string"))), 1, 2).as("bucket"))
    val sketch = keyed.groupBy(col("j"), col("bucket"))
      .agg(count(lit(1)).cast("long").as("c"))
    val top = li.groupBy(col("l_partkey"))
      .agg(count(lit(1)).cast("long").as("true_cnt"))
      .orderBy(col("true_cnt").desc, col("l_partkey").asc).limit(20)
    val probes = top.select(col("l_partkey"), col("true_cnt"),
      explode(rows).as("j"))
      .select(col("l_partkey"), col("true_cnt"), col("j"),
        substring(md5(concat(col("j").cast("string"), lit("|"),
          col("l_partkey").cast("string"))), 1, 2).as("bucket"))
    broadcast(probes).join(sketch, Seq("j", "bucket"))
      .groupBy(col("l_partkey"), col("true_cnt"))
      .agg(min(col("c")).cast("long").as("est_cnt"))
      .select(col("l_partkey"), col("true_cnt"), col("est_cnt"),
        (col("est_cnt") - col("true_cnt")).as("overcount"))
  }

  /** q243: SIMPSON'S-PARADOX SCREEN (Simpson 1951; the aggregation-
    * reversal audit every self-serve BI layer needs): per brand, the
    * SIGN of the discount→quantity relationship computed on the
    * pooled data vs within each order-year segment — a brand where
    * the pooled sign contradicts the majority of within-segment signs
    * is flagged (the pooled number would mislead). The slope sign
    * needs no division: sign(β̂) = sign(n·Σxy − Σx·Σy) (the q130
    * closed form's numerator), exact in DECIMAL(38,0) over e4-integer
    * discount/quantity units — so the screen is engine-exact with no
    * ratio rounding at all.
    *
    * Scale shape: ONE map-side-combinable aggregate pass at (brand,
    * year) grain carrying the 4 moments, then brand-level re-sums of
    * those bounded cells for the pooled sign — the fact table is
    * scanned once, everything after is artifact-scale.
    */
  def q243SimpsonScreen(s: SparkSession, d: String): DataFrame = {
    def sgn(c: Column): Column =
      when(c > 0, 1L).when(c < 0, -1L).otherwise(0L)
    val base = Tables.lineitem(s, d)
      .filter(col("l_discount").isNotNull && col("l_quantity").isNotNull
        && col("l_shipdate").isNotNull)
      .join(broadcast(Tables.part(s, d)
        .select(col("p_partkey"), col("p_brand"))),
        col("l_partkey") === col("p_partkey"))
      .select(col("p_brand"),
        year(col("l_shipdate")).cast("long").as("yr"),
        (col("l_discount").cast("decimal(18,4)") * 10000).cast("long")
          .as("x"),
        (col("l_quantity").cast("decimal(18,4)") * 10000).cast("long")
          .as("y"))
    val cells = base.groupBy(col("p_brand"), col("yr"))
      .agg(count(lit(1)).cast("decimal(38,0)").as("n"),
        sum(col("x").cast("decimal(38,0)")).as("sx"),
        sum(col("y").cast("decimal(38,0)")).as("sy"),
        sum((col("x") * col("y")).cast("decimal(38,0)")).as("sxy"))
    val seg = cells.select(col("p_brand"),
      sgn(col("n") * col("sxy") - col("sx") * col("sy")).as("_s"))
    val pooled = cells.groupBy(col("p_brand"))
      .agg(sum(col("n")).as("n"), sum(col("sx")).as("sx"),
        sum(col("sy")).as("sy"), sum(col("sxy")).as("sxy"))
      .select(col("p_brand"),
        sgn(col("n") * col("sxy") - col("sx") * col("sy"))
          .as("overall_sign"))
    seg.groupBy(col("p_brand"))
      .agg(count(lit(1)).cast("long").as("n_segments"),
        sum(when(col("_s") > 0, 1L).otherwise(0L)).cast("long")
          .as("n_pos"),
        sum(when(col("_s") < 0, 1L).otherwise(0L)).cast("long")
          .as("n_neg"))
      .join(pooled, Seq("p_brand"))
      .select(col("p_brand"), col("overall_sign"), col("n_segments"),
        col("n_pos"), col("n_neg"),
        when((col("overall_sign") > 0 && col("n_neg") > col("n_pos")) ||
          (col("overall_sign") < 0 && col("n_pos") > col("n_neg")), 1L)
          .otherwise(0L).as("simpson_flag"))
  }

  /** q244: WEIGHT-OF-EVIDENCE / INFORMATION-VALUE feature screening
    * (Siddiqi 2006, the credit-scoring standard; the supervised
    * complement of q195's Gini ranking): per feature bucket,
    * WoE = ln(P(bucket|good)/P(bucket|bad)), and the feature's IV =
    * Σ_b (P(b|good) − P(b|bad))·WoE_b — "how well does this categorical
    * separate the classes", the go/no-go a feature pipeline runs before
    * training. Feature = o_orderpriority, good = fulfilled orders
    * (o_orderstatus = 'F').
    *
    * ENGINE-EXACT (a [[graft.functions.FixedLn]]-family operator, r11):
    * class shares quantize to round-half-up ppm FIRST (bounding the ln
    * rationals at 1e6, the long-safety rule), WoE is the signed e9
    * fixed-point ln of the ppm ratio, IV contributions are exact
    * integer (Δppm)·woe_e9 products rounded to e9 — no libm anywhere.
    * Buckets whose share rounds to 0 ppm in either class carry no
    * defined WoE and are filtered (the standard practice absent
    * smoothing; every priority bucket is dense in both classes here).
    *
    * Scale shape: one map-combined groupBy of the fact table, a 1-row
    * class-total broadcast, ln on the BUCKET-cardinality artifact, a
    * bounded window for the IV total. 100 TB cost = the one groupBy.
    */
  def q244WoeIv(s: SparkSession, d: String): DataFrame = {
    val base = Tables.orders(s, d)
      .select(col("o_orderpriority").as("bucket"),
        when(col("o_orderstatus") === "F", 1L).otherwise(0L).as("_g"))
    val byBucket = base.groupBy(col("bucket"))
      .agg(sum(col("_g")).as("n_good"),
        sum(lit(1L) - col("_g")).as("n_bad"))
    val tot = byBucket.agg(sum(col("n_good")).as("_gt"),
      sum(col("n_bad")).as("_bt"))
    val ppm = byBucket.crossJoin(broadcast(tot))
      .select(col("bucket"),
        col("n_good").cast("long").as("n_good"),
        col("n_bad").cast("long").as("n_bad"),
        expr("(2000000 * n_good + _gt) DIV (2 * _gt)").as("pg_ppm"),
        expr("(2000000 * n_bad + _bt) DIV (2 * _bt)").as("pb_ppm"))
      .filter(col("pg_ppm") > 0 && col("pb_ppm") > 0)
      // signed ln: steps need _p >= _q, so feed the max/min and carry
      // the sign (the q148 sign-split rule, applied to logs)
      .withColumn("_p", greatest(col("pg_ppm"), col("pb_ppm")))
      .withColumn("_q", least(col("pg_ppm"), col("pb_ppm")))
      .withColumn("_sgn",
        when(col("pg_ppm") >= col("pb_ppm"), 1L).otherwise(-1L))
    // r15: native graft_ln_e9 replaces the interpreted step fold
    val withLn = ppm.withColumn("_ln9",
      graft.functions.FixedPointExpressions.lnE9(col("_p"), col("_q")))
    withLn
      .select(col("bucket"), col("n_good"), col("n_bad"),
        col("pg_ppm"), col("pb_ppm"),
        (col("_sgn") * col("_ln9")).as("woe_e9"),
        ((col("pg_ppm") - col("pb_ppm")) * col("_sgn") * col("_ln9"))
          .as("_ivc"))
      .withColumn("iv_e9", expr(
        """CAST((2 * sum(_ivc) OVER () + 1000000)
                DIV (2 * 1000000) AS BIGINT)"""))
      .drop("_ivc")
  }

  /** q250: CLASSIFIER CALIBRATION REPORT — reliability bins + Brier
    * score for the q247 quality classifier against a held label
    * (Niculescu-Mizil & Caruana 2005's calibration audit; the
    * evaluation companion of q211's isotonic RE-calibration): 10
    * equal-width score bins, each with count, mean predicted ppm,
    * empirical rate ppm and |gap| ppm, plus the global Brier score —
    * "can you trust this model's probabilities" before its keep/drop
    * threshold filters a corpus. Label = (lang = 'en'), the same
    * deterministic-label convention as q187/q195 (the audit's math is
    * label-agnostic).
    *
    * Engine-exact: bin = score_e9 DIV 1e8 capped at 9, means in
    * round-half-up ppm, Brier from exact per-doc (score_e9 − y·1e9)²
    * longs summed in DECIMAL — one window over the 10-bin artifact
    * for the global number (the q244 iv_e9 pattern).
    */
  def q250Calibration(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val scored = TextOps.logisticQualityScore(docs)
      .join(docs.select(col("doc_id"), col("lang")), "doc_id")
      .select(col("doc_id"), col("score_e9"),
        when(col("lang") === "en", 1L).otherwise(0L).as("_y"))
      .withColumn("_bin", expr("LEAST(score_e9 DIV 100000000, 9)"))
      .withColumn("_sq", expr(
        "(score_e9 - _y * 1000000000) * (score_e9 - _y * 1000000000)"))
    scored.groupBy(col("_bin").as("bin"))
      .agg(count(lit(1)).cast("long").as("n_docs"),
        expr("""CAST((2 * sum(score_e9) + count(1) * 1000)
                DIV (2 * count(1) * 1000) AS BIGINT)""").as("pred_ppm"),
        expr("""CAST((2 * 1000000 * sum(_y) + count(1))
                DIV (2 * count(1)) AS BIGINT)""").as("emp_ppm"),
        sum(col("_sq").cast("decimal(38,0)")).as("_sqs"))
      .withColumn("gap_ppm", abs(col("pred_ppm") - col("emp_ppm")))
      .withColumn("brier_e9", expr(
        """CAST((2 * sum(_sqs) OVER ()
                 + sum(n_docs) OVER () * 1000000000)
                DIV (2 * sum(n_docs) OVER () * 1000000000)
                AS BIGINT)"""))
      .select(col("bin"), col("n_docs"), col("pred_ppm"), col("emp_ppm"),
        col("gap_ppm"), col("brier_e9"))
  }

  /** q252: ROC-AUC per source for the q247 quality classifier — the
    * THRESHOLD-FREE discrimination number that completes the model-
    * evaluation triptych (q250 asks "are the probabilities honest?",
    * q165 asks "how much lift at each decile?", this asks "does the
    * score rank positives above negatives at all?"). AUC computed by
    * the rank-sum identity AUC = U/(n₁n₀) (Mann–Whitney, the q143
    * machinery pointed at model scores — Hanley & McNeil 1982): with
    * per-distinct-score counts (c₁, c₀) and the exclusive prefix
    * negative count e₀ in ascending score order,
    * 2U = Σ c₁·(2e₀ + c₀) is an exact INTEGER (the c₀/2 tie credit
    * never leaves ℤ when doubled), so AUC is engine-exact as
    * round-half-up ppm; Gini = 2·AUC − 1 follows from the rounded
    * value identically in both engines. Label = (lang = 'en'), the
    * q250 convention. A one-class source reports NULL (no ranking to
    * grade). Reference analogue: the win-rate ranking views
    * (sql/db_creation_script.sql:185-242) ask which players rank
    * higher; this grades a MODEL's ranking of its own labels.
    *
    * Scale shape: one corpus scan → map-combined (source, score)
    * counts; prefix sums via [[DistributedRank.withRunningSums]] (one
    * range exchange, never a per-source single-reducer window); the
    * U products accumulate in DECIMAL(38,0) (n₁·n₀ overflows a long
    * at ~3×10⁹ rows per source). u_x2 is emitted as the exact long
    * audit column (safe below that same bound; the ppm output is the
    * contract value).
    */
  def q252RocAuc(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val scored = TextOps.logisticQualityScore(docs)
      .join(docs.select(col("doc_id"), col("lang"), col("source")),
        "doc_id")
      .select(col("source"), col("score_e9"),
        when(col("lang") === "en", 1L).otherwise(0L).as("_y"))
    val counts = scored.groupBy(col("source"), col("score_e9"))
      .agg(sum(col("_y")).cast("long").as("c1"),
        sum(lit(1L) - col("_y")).cast("long").as("c0"))
    val cum = DistributedRank.withRunningSums(counts, Seq("source"),
      Seq("score_e9"), Seq("c0" -> "e0"))
    cum.groupBy(col("source"))
      .agg(sum(col("c1")).cast("long").as("n_pos"),
        sum(col("c0")).cast("long").as("n_neg"),
        sum(col("c1").cast("decimal(38,0)")
          * (col("e0") * 2 + col("c0"))).as("_u2"))
      .select(col("source"), col("n_pos"), col("n_neg"),
        col("_u2").cast("long").as("u_x2"),
        expr("""CASE WHEN n_pos > 0 AND n_neg > 0 THEN
               CAST((2 * 1000000 * _u2
                     + 2 * CAST(n_pos AS DECIMAL(38,0)) * n_neg)
                    DIV (4 * CAST(n_pos AS DECIMAL(38,0)) * n_neg)
                    AS BIGINT)
             END""").as("auc_ppm"))
      .withColumn("gini_ppm", col("auc_ppm") * 2 - lit(1000000L))
  }

  /** q256: SEQUENTIAL PROBABILITY RATIO TEST replay (Wald 1945) — per
    * user, the purchase-rate SPRT of H₀: p ≤ 0.3 vs H₁: p ≥ 0.5 at
    * α = β = 0.05, replayed over the event stream in arrival order:
    * the earliest-possible-decision dual of q132's fixed-horizon
    * z-test (the SPRT is optimal in expected sample size — it's how
    * an experimentation platform stops early). Reference analogue:
    * usp_player_win_rate (sql/db_creation_script.sql:209-222) reports
    * a final win rate; this decides it sequentially, battle by battle.
    *
    * Engine-exact: the per-observation LLR increments are the TWO
    * FixedLn constants ln(p₁/p₀) and ln((1−p₁)/(1−p₀)) (exact e9
    * longs, same generated definition both engines), so the running
    * LLR is an exact integer cumsum and the boundary crossings
    * (±ln 19 e9) are integer compares. The first crossing picks the
    * decision; LEAST's skip-NULL semantics (identical both engines —
    * the q179 rule, used INTENTIONALLY here) merge the two one-sided
    * first-crossing row numbers. Scale shape: one window cumsum per
    * user (users are many — no single-reducer risk) + a map-combined
    * group fold; the struct-min trick (the q222 pattern) extracts the
    * stop-row LLR without a second pass.
    */
  def q256Sprt(s: SparkSession, d: String): DataFrame = {
    val l1 = graft.functions.FixedLn.lnE9(5, 3)
    val l0 = -graft.functions.FixedLn.lnE9(7, 5)
    val a = graft.functions.FixedLn.lnE9(19, 1)
    val ev = Tables.events(s, d).filter(col("user_id").isNotNull)
      .select(col("user_id"), col("ts"), col("event_id"),
        when(col("event_type") === "purchase", 1L).otherwise(0L).as("x"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val cum = ev
      .withColumn("rn", row_number().over(w).cast("long"))
      .withColumn("llr", sum(when(col("x") === 1L, lit(l1))
          .otherwise(lit(l0)))
        .over(w.rowsBetween(Window.unboundedPreceding,
          Window.currentRow)))
    cum.groupBy(col("user_id"))
      .agg(count(lit(1)).cast("long").as("n_obs"),
        sum(col("x")).cast("long").as("n_hits"),
        min(when(col("llr") >= a, col("rn"))).as("_na"),
        min(when(col("llr") <= -a, col("rn"))).as("_nb"),
        max(struct(col("rn"), col("llr"))).getField("llr").as("_lend"),
        min(when(col("llr") >= a || col("llr") <= -a,
          struct(col("rn"), col("llr")))).getField("llr").as("_lstop"))
      .select(col("user_id"), col("n_obs"), col("n_hits"),
        expr("""CASE WHEN _na IS NOT NULL
                       AND (_nb IS NULL OR _na < _nb)
                  THEN 'accept_h1'
                WHEN _nb IS NOT NULL THEN 'accept_h0'
                ELSE 'continue' END""").as("decision"),
        expr("LEAST(_na, _nb)").as("n_at_decision"),
        coalesce(col("_lstop"), col("_lend")).as("llr_e9"))
  }

  /** q260: CUPED variance-reduced experiment readout (Deng, Xu, Kohavi
    * & Walker WSDM 2013 — the industry-standard A/B variance shrink):
    * per md5-hash arm, the post-period purchase metric both RAW and
    * ADJUSTED by the pre-period covariate, Ŷ = Y − θ(X − X̄), with
    * θ = cov(X,Y)/var(X) fit POOLED (assignment-independent, so the
    * adjustment is unbiased), plus ρ² — the fraction of variance CUPED
    * removes. The q132 z-test reads the arms; this makes the same
    * readout decisive on a fraction of the data. Reference analogue:
    * pre-season trophies adjusting post-season win rate
    * (sql/db_creation_script.sql:40-55's trophy columns).
    *
    * Engine-exact: per-user pre/post sums are exact e4 longs (split at
    * the integer midpoint of the purchase-event time span; arm = first
    * md5 hex char, the q69 rule), all moments accumulate in
    * DECIMAL(38,0), θ emits as signed round-half-up e6 and the
    * adjusted mean evaluates as ONE exact rational over the common
    * denominator 1e6·n_arm·n_pool before its own signed rhu — never
    * float math on the corpus. ρ² alone computes in double ON THE
    * 1-ROW exact-moment result (identical IEEE tree, the q143 rule),
    * ROUND 4. Scale shape: one event scan → map-combined per-user
    * sums → two bounded aggregates (pooled + per-arm) + a 1-row
    * broadcast.
    */
  def q260Cuped(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
      .filter(col("user_id").isNotNull && col("event_type") === "purchase")
      .select(col("user_id"), unix_micros(col("ts")).as("us"),
        expr("CAST(CAST(value AS DECIMAL(18,4)) * 10000 AS BIGINT)")
          .as("v_e4"))
    val mid = ev.agg(expr("(min(us) + max(us)) DIV 2").as("_mid"))
    val perUser = ev.crossJoin(broadcast(mid))
      .groupBy(col("user_id"))
      .agg(sum(when(col("us") < col("_mid"), col("v_e4"))
          .otherwise(0L)).cast("long").as("x"),
        sum(when(col("us") >= col("_mid"), col("v_e4"))
          .otherwise(0L)).cast("long").as("y"))
      .withColumn("arm", when(
        substring(md5(col("user_id").cast("string")), 1, 1) < "8",
        lit("A")).otherwise(lit("B")))
      .localCheckpoint(false) // feeds pooled AND per-arm aggregates
    val pooled = perUser.agg(
      count(lit(1)).cast("decimal(38,0)").as("_n"),
      sum(col("x").cast("decimal(38,0)")).as("_sx"),
      sum(col("y").cast("decimal(38,0)")).as("_sy"),
      sum(col("x").cast("decimal(38,0)") * col("y")).as("_sxy"),
      sum(col("x").cast("decimal(38,0)") * col("x")).as("_sxx"),
      sum(col("y").cast("decimal(38,0)") * col("y")).as("_syy"))
      .withColumn("_num", col("_n") * col("_sxy") - col("_sx") * col("_sy"))
      .withColumn("_dx", col("_n") * col("_sxx") - col("_sx") * col("_sx"))
      .withColumn("_dy", col("_n") * col("_syy") - col("_sy") * col("_sy"))
      .withColumn("theta_e6", expr(
        """CASE WHEN _dx > 0 THEN
             CASE WHEN _num >= 0
               THEN CAST((2 * 1000000 * _num + _dx)
                         DIV (2 * _dx) AS BIGINT)
               ELSE -CAST((2 * 1000000 * (-_num) + _dx)
                          DIV (2 * _dx) AS BIGINT) END
           END"""))
      .withColumn("rho2", expr(
        """CASE WHEN _dx > 0 AND _dy > 0 THEN
             ROUND(CAST(_num AS DOUBLE) * CAST(_num AS DOUBLE)
                   / (CAST(_dx AS DOUBLE) * CAST(_dy AS DOUBLE)), 4)
           END"""))
    perUser.groupBy(col("arm"))
      .agg(count(lit(1)).cast("long").as("n_users"),
        sum(col("x").cast("decimal(38,0)")).as("_sxa"),
        sum(col("y").cast("decimal(38,0)")).as("_sya"))
      .crossJoin(broadcast(pooled.select(col("_n"), col("_sx"),
        col("theta_e6"), col("rho2"))))
      .withColumn("mean_y_e4", expr(
        "CAST((2 * _sya + n_users) DIV (2 * n_users) AS BIGINT)"))
      .withColumn("_t", expr(
        """1000000 * _sya * _n - theta_e6 * _sxa * _n
           + theta_e6 * _sx * n_users"""))
      .withColumn("mean_adj_e4", expr(
        """CASE WHEN theta_e6 IS NOT NULL THEN
             CASE WHEN _t >= 0
               THEN CAST((2 * _t + 1000000 * n_users * _n)
                         DIV (2 * 1000000 * n_users * _n) AS BIGINT)
               ELSE -CAST((2 * (-_t) + 1000000 * n_users * _n)
                          DIV (2 * 1000000 * n_users * _n) AS BIGINT)
             END
           END"""))
      .select(col("arm"), col("n_users"), col("mean_y_e4"),
        col("mean_adj_e4"), col("theta_e6"), col("rho2"))
  }

  /** q261: HILL TAIL-INDEX ESTIMATOR per nation (Hill 1975) — the
    * maximum-likelihood power-law exponent of the spend distribution's
    * upper tail, α̂ = k / Σᵢ ln(x₍ᵢ₎/x₍ₖ₊₁₎) over the k largest order
    * totals: the "how heavy is the whale tail" number that q146's
    * Pareto/ABC shares describe qualitatively (α ≤ 2 ⇒ infinite
    * variance — mean-based planning breaks). FixedLn family: values
    * quantized to e3 (the lnE9 long-safety bound caps p at ~4.6e9;
    * e4 order totals exceed it — documented round-half-up e3
    * quantization), threshold terms contribute ln(thr/thr) = 0 so the
    * sum runs over the whole top-(k+1) block with no rank arithmetic.
    *
    * Scale shape: the top-(k+1) block per nation ships through
    * [[graft.plans.TopK]]'s two-phase heap operator (map-side ≤ k+1
    * rows per partition×key, no sort, no global window); ln and the
    * fold run on ≤ 101·|nations| rows.
    */
  def q261HillTail(s: SparkSession, d: String): DataFrame = {
    val vals = Tables.orders(s, d)
      .join(Tables.customer(s, d).select(col("c_custkey"),
        col("c_nationkey")), col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(s, d)),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("n_name"), col("o_orderkey"),
        expr("""CAST((2 * CAST(CAST(o_totalprice AS DECIMAL(18,4))
                       * 10000 AS BIGINT) + 10)
                DIV (2 * 10) AS BIGINT)""").as("v_e3"))
    val top = graft.plans.TopK.perKey(vals, Seq("n_name"),
      Seq(("v_e3", true), ("o_orderkey", false)), 101)
    val thr = top.groupBy(col("n_name"))
      .agg(count(lit(1)).cast("long").as("n_top"),
        min(col("v_e3")).cast("long").as("thr_e3"))
    // r15: native graft_ln_e9 replaces the interpreted step fold
    val withLn = top.join(broadcast(thr), "n_name")
      .withColumn("_l9", graft.functions.FixedPointExpressions
        .lnE9(col("v_e3"), col("thr_e3")))
    withLn.groupBy(col("n_name"))
      .agg(max(col("n_top")).as("n_top"),
        max(col("thr_e3")).as("thr_e3"),
        sum(col("_l9")).cast("long").as("_sl"))
      .filter(col("n_top") >= 2)
      .select(col("n_name"), col("n_top"),
        (col("n_top") - 1L).as("k"), col("thr_e3"),
        // 2·1e6·1e9 folded to one long literal: ANSI parses the
        // 1000000 * 1000000000 product as INT×INT and throws
        expr("""CASE WHEN _sl > 0 THEN
               CAST((2000000000000000 * (n_top - 1) + _sl)
                    DIV (2 * _sl) AS BIGINT)
             END""").as("alpha_e6"))
  }

  /** The exact integer Bradley–Terry MM recursion shared by the q263
    * operator (driver-side over the bounded brand lattice) and its
    * replay spec: 15 rounds of
    * Sᵢ = Σⱼ rhu(nᵢⱼ·10¹⁸, pᵢ+pⱼ), p'ᵢ = rhu(Wᵢ·10¹⁸, Sᵢ),
    * pᵢ ← rhu(K·10⁹·p'ᵢ, Σp') — all round-half-up on non-negatives,
    * BigInt (the 2·n·10¹⁸ numerators pass 2⁶³).
    */
  private[graft] def bradleyTerryMm(items: Seq[String],
      wins: Map[String, Long], nij: Map[(String, String), Long],
      rounds: Int): Map[String, BigInt] = {
    def rhu(a: BigInt, b: BigInt): BigInt = (2 * a + b) / (2 * b)
    val E18 = BigInt("1000000000000000000")
    val k = BigInt(items.size)
    var p = items.map(_ -> BigInt(1000000000L)).toMap
    for (_ <- 1 to rounds) {
      val sI = items.map { i =>
        i -> nij.collect { case ((a, b), n) if a == i =>
          rhu(BigInt(n) * E18, p(a) + p(b)) }.sum
      }.toMap
      val pRaw = items.map { i =>
        i -> rhu(BigInt(wins(i)) * E18, sI(i)) }.toMap
      val tot = pRaw.values.sum
      p = items.map(i => i -> rhu(k * 1000000000L * pRaw(i), tot)).toMap
    }
    p
  }

  /** q263: BRADLEY–TERRY SKILL RATING from pairwise duels (Bradley &
    * Terry 1952; Hunter AoS 2004's MM algorithm) — per order, the two
    * top-spend brands "duel" (higher basket spend wins, ties to the
    * smaller brand — deterministic), and 15 MM rounds turn the win
    * matrix into latent strengths: the principled
    * ranking-from-pairwise-comparisons model behind chess Elo's
    * steady state, TrueSkill's ancestor — and literally what the
    * reference's domain needs (players beat players in battles;
    * sql/db_creation_script.sql:86-109's matches table is a duel
    * log). q19 ranks by raw counts; this ranks by WHO was beaten.
    *
    * Engine-exact: the MM update is a fixed 15-round integer
    * recursion (rhu at every division, 10¹⁸/10⁹ scaling, normalize to
    * Σp = K·10⁹) — the oracle unrolls the identical rounds as
    * generated CTEs (the q217/q156 pattern). Only brands with ≥1 win
    * AND ≥1 loss enter (the standard finiteness condition).
    *
    * Scale shape: the corpus-scale work is one (order, brand) spend
    * aggregate + the top-2-per-order heap pass; the duel matrix is a
    * ≤|brands|² bounded artifact iterated DRIVER-SIDE (the q212
    * Shapley precedent — 25 brands, 15 rounds of 625-cell folds; a
    * distributed round would pay 15 shuffle barriers for kilobytes).
    */
  def q263BradleyTerry(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val spend = Tables.lineitem(s, d)
      .join(Tables.part(s, d).select(col("p_partkey"), col("p_brand")),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("l_orderkey").as("ok"), col("p_brand").as("brand"))
      .agg(sum(expr(
        """CAST(CAST(l_extendedprice AS DECIMAL(18,4)) * 10000
           AS BIGINT)""")).cast("long").as("sp"))
    val top2 = graft.plans.TopK.perKey(spend, Seq("ok"),
      Seq(("sp", true), ("brand", false)), 2)
    val duels = top2.groupBy(col("ok"))
      .agg(count(lit(1)).as("_n"),
        min(struct((-col("sp")).as("ns"), col("brand")))
          .getField("brand").as("winner"),
        max(struct((-col("sp")).as("ns"), col("brand")))
          .getField("brand").as("loser"))
      .filter(col("_n") === 2)
    // bounded artifact: ≤ |brands|² duel cells
    val w = duels.groupBy(col("winner"), col("loser"))
      .agg(count(lit(1)).cast("long").as("w")).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val wins = w.groupBy(_._1._1).map { case (b, m) =>
      b -> m.values.sum }
    val losses = w.groupBy(_._1._2).map { case (b, m) =>
      b -> m.values.sum }
    // ADVICE r11: a brand with ≥1 win and ≥1 loss whose duels are ALL
    // against non-item brands would enter with sI(i)=0 (MM division by
    // zero) while the oracle's inner joins silently drop it — require
    // ≥1 item-item duel so both engines drop the degenerate brand the
    // same way. Unreachable on the real 25-brand data (every brand
    // duels every other).
    val items0 = (wins.keySet intersect losses.keySet).toSeq.sorted
    val inI0 = items0.toSet
    val hasItemDuel = w.keysIterator
      .collect { case (a, b) if inI0(a) && inI0(b) => Seq(a, b) }
      .flatten.toSet
    val items = items0.filter(hasItemDuel)
    val inI = items.toSet
    val nij = w.toSeq
      .flatMap { case ((a, b), n) => Seq((a, b) -> n, (b, a) -> n) }
      .filter { case ((a, b), _) => inI(a) && inI(b) }
      .groupBy(_._1).map { case (k2, xs) => k2 -> xs.map(_._2).sum }
    val p = bradleyTerryMm(items, wins, nij, rounds = 15)
    val rows = items
      .map(b => (b, wins(b), losses(b), p(b).toLong))
      .sortBy { case (b, _, _, st) => (-st, b) }
      .zipWithIndex
      .map { case ((b, wn, ls, st), i) => (b, wn, ls, st, i + 1L) }
    // bt_rank: RANK is a window keyword in DuckDB — avoid it as an
    // output name
    rows.toDF("brand", "n_wins", "n_losses", "strength_e9", "bt_rank")
  }

  /** q267: SAX symbolic discretization of the daily event series (Lin,
    * Keogh, Lonardi & Chiu DMKD 2007) — each event type's gap-filled
    * daily-count series is PAA-averaged into 16 equal-width windows
    * and mapped to a 4-symbol string by its own quartile breakpoints:
    * the dimensionality reduction that turns time series into TEXT, so
    * the whole string stack (q136 winnowing, q242 edit distance, q104
    * indexing) applies to telemetry. Classic SAX z-normalizes against
    * Gaussian breakpoints (a sqrt — not engine-exact); per-series
    * nearest-rank quartiles give the same equiprobable intent in pure
    * integers (documented substitution).
    *
    * ENGINE-EXACT: days are integer µs-epoch DIV 86400e6, the
    * calendar grid is generated (missing days count 0 — the q224
    * density rule), window id = idx·16 DIV n_days, PAA = rhu e2 mean,
    * breakpoints = sorted-list elements 4/8/12 of the SIXTEEN PAA
    * values (bounded — the sort is on a 16-element artifact), symbols
    * by strict < compares. Scale: one event scan; everything after
    * runs at |types|×16 grain.
    */
  def q267Sax(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
      .select(col("event_type"),
        expr("unix_micros(ts) DIV 86400000000").as("day"))
    val span = ev.agg(min(col("day")).as("_d0"), max(col("day")).as("_d1"))
    val daily = ev.crossJoin(broadcast(span))
      .groupBy(col("event_type"), (col("day") - col("_d0")).as("idx"))
      .agg(count(lit(1)).cast("long").as("cnt"))
    val grid = ev.select(col("event_type")).distinct()
      .crossJoin(broadcast(span))
      .select(col("event_type"),
        explode(expr("sequence(0, _d1 - _d0)")).as("idx"),
        (col("_d1") - col("_d0") + 1L).as("n_days"))
    val paa = grid.join(daily, Seq("event_type", "idx"), "left")
      .withColumn("cnt", coalesce(col("cnt"), lit(0L)))
      .groupBy(col("event_type"), col("n_days"),
        expr("idx * 16 DIV n_days").as("w"))
      .agg(expr("CAST((2 * 100 * sum(cnt) + count(1)) DIV (2 * count(1)) AS BIGINT)")
        .as("paa_e2"))
    val brk = paa.groupBy(col("event_type"))
      .agg(sort_array(collect_list(col("paa_e2"))).as("_srt"))
      // try_element_at (ADVICE r11): a global event span < 16 days
      // yields < 12 PAA windows — DuckDB's lst[12] subscript returns
      // NULL there while ANSI element_at throws; try_element_at keeps
      // the degrade identical (NULL breakpoints skip their CASE arm in
      // both engines). Never fires at any tested SF.
      .select(col("event_type"),
        try_element_at(col("_srt"), lit(4)).as("_q1"),
        try_element_at(col("_srt"), lit(8)).as("_q2"),
        try_element_at(col("_srt"), lit(12)).as("_q3"))
    paa.join(broadcast(brk), "event_type")
      .withColumn("_sym", expr(
        """CASE WHEN paa_e2 < _q1 THEN 'a'
                WHEN paa_e2 < _q2 THEN 'b'
                WHEN paa_e2 < _q3 THEN 'c'
                ELSE 'd' END"""))
      .groupBy(col("event_type"))
      .agg(max(col("n_days")).as("n_days"),
        array_join(transform(
          sort_array(collect_list(struct(col("w"), col("_sym")))),
          x => x.getField("_sym")), "").as("sax"))
  }

  /** q268: MUTUAL INFORMATION between categorical column pairs (Cover
    * & Thomas ch.2) — MI = Σ p_ab·ln(p_ab/(p_a·p_b)) in e9 nats plus
    * the marginal entropies and NMI = MI/min(H_a, H_b): the
    * information-theoretic dependence measure beside q155's Cramér's V
    * (V sees association strength; MI prices it in nats and feeds
    * feature selection directly). Three audited pairs: return flag ×
    * line status, order priority × order status, market segment ×
    * nation.
    *
    * ENGINE-EXACT (FixedLn): all three distributions in round-half-up
    * ppm clamped ≥ 1; the MI log ratio p_ab/(p_a·p_b) would push
    * lnE9's ~4.6e9 numerator bound at ppm×ppm scale, so the
    * DENOMINATOR quantizes to e3 (rhu(p_a·p_b, 1000), documented —
    * identical both engines) giving ln((p_ab·1000)/den3); each term is
    * a signed exact product, the sum is a signed long, and the final
    * e9 emission sign-splits (the q148 rule). Everything after the
    * three map-combined cell aggregates runs at bounded cell grain.
    */
  def q268MutualInfo(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
      .select(lit("returnflag_linestatus").as("pair"),
        col("l_returnflag").as("a"), col("l_linestatus").as("b"))
    val or = Tables.orders(s, d)
      .select(lit("priority_status").as("pair"),
        col("o_orderpriority").as("a"), col("o_orderstatus").as("b"))
    val cu = Tables.customer(s, d)
      .join(broadcast(Tables.nation(s, d)),
        col("c_nationkey") === col("n_nationkey"))
      .select(lit("segment_nation").as("pair"),
        col("c_mktsegment").as("a"), col("n_name").as("b"))
    val cells = li.unionByName(or).unionByName(cu)
      .groupBy(col("pair"), col("a"), col("b"))
      .agg(count(lit(1)).cast("long").as("n_ab"))
      .localCheckpoint(false)
    val tot = cells.groupBy(col("pair"))
      .agg(sum(col("n_ab")).cast("long").as("n"))
    val pa = cells.groupBy(col("pair"), col("a"))
      .agg(sum(col("n_ab")).cast("long").as("n_a"))
    val pb = cells.groupBy(col("pair"), col("b"))
      .agg(sum(col("n_ab")).cast("long").as("n_b"))
    val ppm = cells.join(broadcast(tot), "pair")
      .join(pa, Seq("pair", "a")).join(pb, Seq("pair", "b"))
      .select(col("pair"), col("n"),
        expr("GREATEST((2000000 * n_ab + n) DIV (2 * n), 1)").as("pab"),
        expr("GREATEST((2000000 * n_a + n) DIV (2 * n), 1)").as("pa"),
        expr("GREATEST((2000000 * n_b + n) DIV (2 * n), 1)").as("pb"))
      .withColumn("_num", col("pab") * 1000L)
      .withColumn("_den", expr("GREATEST((2 * pa * pb + 1000) DIV (2 * 1000), 1)"))
      .withColumn("_p", greatest(col("_num"), col("_den")))
      .withColumn("_q", least(col("_num"), col("_den")))
      .withColumn("_sgn",
        when(col("_num") >= col("_den"), 1L).otherwise(-1L))
    // r15: native graft_ln_e9 replaces the interpreted step fold
    val withLn = ppm.withColumn("_l9",
      graft.functions.FixedPointExpressions.lnE9(col("_p"), col("_q")))
    val mi = withLn.groupBy(col("pair"))
      .agg(max(col("n")).as("n_rows"),
        sum(col("pab") * col("_sgn") * col("_l9")).as("_mi"))
      .withColumn("mi_e9", expr(
        """CASE WHEN _mi >= 0
             THEN CAST((2 * _mi + 1000000) DIV (2 * 1000000) AS BIGINT)
             ELSE -CAST((2 * (-_mi) + 1000000) DIV (2 * 1000000)
                        AS BIGINT) END"""))
    def entropy(m: DataFrame, k: String, out: String): DataFrame = {
      val p = m.join(broadcast(tot), "pair")
        .select(col("pair"),
          expr(s"GREATEST((2000000 * n_$k + n) DIV (2 * n), 1)")
            .as("_ppm"))
        .withColumn("_p", lit(1000000L)).withColumn("_q", col("_ppm"))
      // r15: native graft_ln_e9
      p.withColumn("_nl9", graft.functions.FixedPointExpressions
          .lnE9(col("_p"), col("_q")))
        .groupBy(col("pair"))
        .agg(expr("""CAST((2 * sum(_ppm * _nl9) + 1000000)
                     DIV (2 * 1000000) AS BIGINT)""").as(out))
    }
    mi.join(entropy(pa, "a", "h_a_e9"), "pair")
      .join(entropy(pb, "b", "h_b_e9"), "pair")
      .select(col("pair"), col("n_rows"), col("mi_e9"),
        col("h_a_e9"), col("h_b_e9"),
        expr("""CASE WHEN LEAST(h_a_e9, h_b_e9) > 0 THEN
               CAST((2 * 1000000 * GREATEST(mi_e9, 0)
                     + LEAST(h_a_e9, h_b_e9))
                    DIV (2 * LEAST(h_a_e9, h_b_e9)) AS BIGINT)
             END""").as("nmi_ppm"))
  }

  /** q271: PARTIAL CORRELATION per return flag (Fisher 1924's partial
    * r): r_xy·z = (r_xy − r_xz·r_yz)/√((1−r_xz²)(1−r_yz²)) for
    * (price, quantity) controlling discount — "is the price–quantity
    * link real or is discount driving both?", the confounder screen
    * q93's raw correlation matrix can't answer (and the 1-control
    * special case of regression adjustment). Grouped by return flag so
    * the Simpson-style flip is visible per stratum (q243's theme at
    * correlation grain).
    *
    * ENGINE-EXACT (the q93/q143 double discipline): all five moment
    * sums accumulate as exact e4-integer DECIMAL(38,0)s; the three
    * raw r's and the partial evaluate in DOUBLE only on the bounded
    * per-group moment row through one identical IEEE expression tree,
    * ROUND(…, 4) last. Degenerate strata (zero variance, |r| = 1
    * collinearity) emit NULL, not a blow-up.
    */
  def q271PartialCorr(s: SparkSession, d: String): DataFrame = {
    // e4 extraction via ROUND, not a DECIMAL(18,4) cast: the data is
    // 4-decimal exact, so x·10⁴ sits within ~10⁻⁶ of the true integer
    // and ROUND recovers it exactly — same value the decimal pin
    // yields, without the per-row BigDecimal conversion (the decimal
    // casts were the residual hot cost after the r13 long-multiply fix)
    val m = Tables.lineitem(s, d)
      .select(col("l_returnflag"),
        expr("CAST(ROUND(l_extendedprice * 10000, 0) AS BIGINT)").as("x"),
        expr("CAST(ROUND(l_quantity * 10000, 0) AS BIGINT)").as("y"),
        expr("CAST(ROUND(l_discount * 10000, 0) AS BIGINT)").as("z"))
      .groupBy(col("l_returnflag"))
      // per-row products in LONG (extprice e4 ≤ ~1.05e9 → x² ≤ 1.1e18,
      // qty e4 ≤ 5e5, discount e4 ≤ 1e3 — every pair fits 2⁶³ with 3+
      // digits of headroom; ANSI throws rather than wraps if the data
      // contract breaks); only the SUM input casts to decimal — the
      // r12 shape multiplied DECIMAL(38,0)s per row, interpreted
      // BigDecimal work that cost 20× vs the oracle
      .agg(count(lit(1)).cast("decimal(38,0)").as("_n"),
        sum(col("x").cast("decimal(38,0)")).as("_sx"),
        sum(col("y").cast("decimal(38,0)")).as("_sy"),
        sum(col("z").cast("decimal(38,0)")).as("_sz"),
        sum((col("x") * col("y")).cast("decimal(38,0)")).as("_sxy"),
        sum((col("x") * col("z")).cast("decimal(38,0)")).as("_sxz"),
        sum((col("y") * col("z")).cast("decimal(38,0)")).as("_syz"),
        sum((col("x") * col("x")).cast("decimal(38,0)")).as("_sxx"),
        sum((col("y") * col("y")).cast("decimal(38,0)")).as("_syy"),
        sum((col("z") * col("z")).cast("decimal(38,0)")).as("_szz"))
    m.select(col("l_returnflag"), col("_n").cast("long").as("n_rows"),
      expr("""CAST(_n * _sxy - _sx * _sy AS DOUBLE)
              / sqrt(CAST(_n * _sxx - _sx * _sx AS DOUBLE)
                     * CAST(_n * _syy - _sy * _sy AS DOUBLE))""")
        .as("_rxy"),
      expr("""CAST(_n * _sxz - _sx * _sz AS DOUBLE)
              / sqrt(CAST(_n * _sxx - _sx * _sx AS DOUBLE)
                     * CAST(_n * _szz - _sz * _sz AS DOUBLE))""")
        .as("_rxz"),
      expr("""CAST(_n * _syz - _sy * _sz AS DOUBLE)
              / sqrt(CAST(_n * _syy - _sy * _sy AS DOUBLE)
                     * CAST(_n * _szz - _sz * _sz AS DOUBLE))""")
        .as("_ryz"))
      .select(col("l_returnflag"), col("n_rows"),
        round(col("_rxy"), 4).as("r_xy"),
        round(col("_rxz"), 4).as("r_xz"),
        round(col("_ryz"), 4).as("r_yz"),
        round(
          when(abs(col("_rxz")) < 1.0 && abs(col("_ryz")) < 1.0,
            (col("_rxy") - col("_rxz") * col("_ryz")) /
              sqrt((lit(1.0) - col("_rxz") * col("_rxz")) *
                (lit(1.0) - col("_ryz") * col("_ryz")))), 4)
          .as("r_xy_given_z"))
  }

  /** q272: PRICE-ELASTICITY estimation per brand — the log-log OLS
    * slope of quantity on unit price over line items (the constant-
    * elasticity demand model ln q = α + ε·ln p; Marshall's ε, how
    * every pricing team reads it): the CAUSAL-flavored cousin of
    * q130's linear trend, and the business twin of q258's Zipf fit
    * (same FixedLn + exact-moment machinery, different economics).
    *
    * ENGINE-EXACT: quantities are integral (pinned by the decimal
    * cast), unit price = round-half-up e4 of extprice/qty (exact
    * rational, documented quantization), y = lnE9(qty), x =
    * lnE9(unit_e4) — e4 units shift the intercept only, the slope is
    * scale-invariant; moments in DECIMAL(38,0), slope/intercept by
    * signed round-half-up (q148). One scan + a map-combined groupBy;
    * ln is per-row column work (codegen'd integer arithmetic).
    */
  def q272Elasticity(s: SparkSession, d: String): DataFrame = {
    // spread the fact scan when parquet under-parallelizes it locally
    val li = graft.Gates.spreadScan(s, d, "lineitem",
      Tables.lineitem(s, d)
        .select(col("l_partkey"), col("l_quantity"), col("l_extendedprice")),
      graft.Gates.SpreadFactRows)
    val base = li
      .join(Tables.part(s, d).select(col("p_partkey"), col("p_brand")),
        col("l_partkey") === col("p_partkey"))
      .select(col("p_brand"),
        expr("CAST(CAST(l_quantity AS DECIMAL(18,4)) AS BIGINT)")
          .as("qty"),
        expr("""(2 * CAST(CAST(l_extendedprice AS DECIMAL(18,4))
                  * 10000 AS BIGINT)
                + CAST(CAST(l_quantity AS DECIMAL(18,4)) AS BIGINT))
                DIV (2 * CAST(CAST(l_quantity AS DECIMAL(18,4))
                  AS BIGINT))""").as("unit_e4"))
      .filter(col("qty") >= 1L && col("unit_e4") >= 1L)
    // r14: the per-ROW ln runs as the native codegen expression
    // (functions/FixedPointExpressions — bit-identical to the step
    // fold by construction, suite-pinned): the two 16-step withColumn
    // chains stacked ~30 interpreted Project operators over the fact
    // scan and cost 7.4 s steady at sf0.1 with zero WholeStageCodegen;
    // one codegen'd expression keeps the scan in a single stage. The
    // domain filter above (qty ≥ 1, unit_e4 ≥ 1) is unchanged; the
    // oracle still replays the step CTEs.
    val withX = base
      .select(col("p_brand"),
        graft.functions.FixedPointExpressions
          .lnE9(col("unit_e4"), lit(1L)).as("x"),
        graft.functions.FixedPointExpressions
          .lnE9(col("qty"), lit(1L)).as("y"))
    // per-row products in LONG via a hi/lo split: x = lnE9(unit_e4) ≤
    // ~2.1e10 and y = lnE9(qty ≤ 50) ≤ ~3.92e9, so x·y (≤ 8.2e19) and
    // x·x (≤ 4.4e20) overflow 2⁶³ directly — but with x = xh·10⁶ + xl
    // (xh ≤ 2.1e4, xl < 10⁶, x ≥ 0) every partial product fits with
    // room (xh·x ≤ 4.4e14, xl·x ≤ 2.1e16, xh·y ≤ 8.3e13, xl·y ≤ 3.9e15)
    // and Σx·y = 10⁶·Σxh·y + Σxl·y recombines EXACTLY post-aggregate —
    // bit-identical sums, oracle unchanged, no per-row BigDecimal
    // multiply (the r12 shape that cost 20× vs the oracle on q271)
    withX
      .withColumn("_xh", expr("x DIV 1000000"))
      .withColumn("_xl", expr("x % 1000000"))
      .groupBy(col("p_brand"))
      .agg(count(lit(1)).cast("long").as("n_obs"),
        sum(col("x").cast("decimal(38,0)")).as("_sx"),
        sum(col("y").cast("decimal(38,0)")).as("_sy"),
        sum((col("_xh") * col("y")).cast("decimal(38,0)")).as("_sxyh"),
        sum((col("_xl") * col("y")).cast("decimal(38,0)")).as("_sxyl"),
        sum((col("_xh") * col("x")).cast("decimal(38,0)")).as("_sxxh"),
        sum((col("_xl") * col("x")).cast("decimal(38,0)")).as("_sxxl"))
      .withColumn("_sxy",
        lit(1000000L).cast("decimal(38,0)") * col("_sxyh") + col("_sxyl"))
      .withColumn("_sxx",
        lit(1000000L).cast("decimal(38,0)") * col("_sxxh") + col("_sxxl"))
      .drop("_sxyh", "_sxyl", "_sxxh", "_sxxl")
      .withColumn("_num",
        col("n_obs") * col("_sxy") - col("_sx") * col("_sy"))
      .withColumn("_den",
        col("n_obs") * col("_sxx") - col("_sx") * col("_sx"))
      .filter(col("_den") > 0)
      .withColumn("elasticity_e6", expr(
        """CASE WHEN _num >= 0
             THEN CAST((2 * 1000000 * _num + _den)
                       DIV (2 * _den) AS BIGINT)
             ELSE -CAST((2 * 1000000 * (-_num) + _den)
                        DIV (2 * _den) AS BIGINT) END"""))
      .withColumn("_ti",
        lit(1000000L).cast("decimal(38,0)") * col("_sy")
          - col("elasticity_e6") * col("_sx"))
      .withColumn("intercept_e9", expr(
        """CASE WHEN _ti >= 0
             THEN CAST((2 * _ti + 1000000 * n_obs)
                       DIV (2 * 1000000 * n_obs) AS BIGINT)
             ELSE -CAST((2 * (-_ti) + 1000000 * n_obs)
                        DIV (2 * 1000000 * n_obs) AS BIGINT) END"""))
      .select(col("p_brand"), col("n_obs"), col("elasticity_e6"),
        col("intercept_e9"))
  }

  /** q273: AMS F₂ SKETCH vs exact second frequency moment (Alon,
    * Matias & Szegedy STOC 1996 — the Gödel-prize streaming sketch):
    * 16 independent ±1-sign estimators Z_j = Σ_k s_j(k)·f_k,
    * F̂₂ = median(Z_j²), reported against the exact F₂ = Σ f_k² of the
    * part-key frequency vector with the error in ppm. F₂ is the
    * self-join size (q145's estimator IS F₂ when A = B) and the skew
    * number behind q137 — this is the O(1)-memory way to keep it on a
    * stream, next to q237's Count-Min (point queries) and q162's NDV
    * sketch (distinct counts). Signs are md5(j:key) parity —
    * engine-identical, retry-safe, no seed state.
    *
    * ENGINE-EXACT: f_k are exact counts, each Z_j an exact signed long
    * sum, the 16 Z_j² exact longs; the even-count median is the
    * round-half-up mean of elements 8 and 9 of the SORTED 16-element
    * artifact. Scale shape: one map-combined key-count aggregate, a
    * 16× fan-out of the KEY table (never the rows), one bounded sort.
    */
  def q273AmsSketch(s: SparkSession, d: String): DataFrame = {
    val freq = Tables.lineitem(s, d)
      .groupBy(col("l_partkey")).agg(count(lit(1)).cast("long").as("f"))
      .localCheckpoint(false) // feeds the exact moment AND the fan-out
    val exact = freq.agg(sum(col("f")).cast("long").as("n_rows"),
      count(lit(1)).cast("long").as("n_keys"),
      sum(col("f").cast("decimal(38,0)") * col("f")).cast("long")
        .as("f2_exact"))
    val js = s.range(1, 17).select(col("id").as("j"))
    val z = freq.crossJoin(broadcast(js))
      .select(col("j"),
        when(substring(md5(concat(col("j").cast("string"), lit(":"),
          col("l_partkey").cast("string"))), 1, 1) < "8",
          col("f")).otherwise(-col("f")).as("_sf"))
      .groupBy(col("j"))
      .agg(sum(col("_sf")).cast("long").as("_z"))
      .select(col("j"), (col("_z") * col("_z")).as("_z2"))
    val est = z.agg(sort_array(collect_list(col("_z2"))).as("_srt"))
      .select(expr("""CAST((2 * (element_at(_srt, 8)
                       + element_at(_srt, 9)) + 2)
                      DIV (2 * 2) AS BIGINT)""").as("f2_est"))
    exact.crossJoin(broadcast(est))
      .select(col("n_rows"), col("n_keys"), col("f2_exact"),
        col("f2_est"),
        expr("""CAST((2 * 1000000 * abs(f2_est - f2_exact) + f2_exact)
                DIV (2 * f2_exact) AS BIGINT)""").as("err_ppm"))
  }

  /** q274: FANO-FACTOR OVERDISPERSION AUDIT of the daily event series
    * (Fano 1947; Cox & Lewis 1966's dispersion test): F = Var/Mean of
    * gap-filled daily counts per event type — F ≈ 1 is Poisson
    * (independent arrivals), F ≫ 1 is bursty/clustered (bots, batch
    * jobs, incident storms), F ≪ 1 is regularized (rate-limited) —
    * the distributional companion of q133's day-of-week anomaly and
    * q129's concurrency sweep. ENGINE-EXACT: the calendar grid is the
    * q267 integer day lattice (missing days count 0 — dropping them
    * biases F down), F_e6 = round-half-up of the exact rational
    * (nΣx² − (Σx)²)/(n·Σx) in longs, mean in rhu e2; regime cut at
    * 0.8/1.2. One scan + bounded type×day grid.
    */
  def q274FanoFactor(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
      .select(col("event_type"),
        expr("unix_micros(ts) DIV 86400000000").as("day"))
    val span = ev.agg(min(col("day")).as("_d0"), max(col("day")).as("_d1"))
    val daily = ev.crossJoin(broadcast(span))
      .groupBy(col("event_type"), (col("day") - col("_d0")).as("idx"))
      .agg(count(lit(1)).cast("long").as("cnt"))
    val grid = ev.select(col("event_type")).distinct()
      .crossJoin(broadcast(span))
      .select(col("event_type"),
        explode(expr("sequence(0, _d1 - _d0)")).as("idx"))
    grid.join(daily, Seq("event_type", "idx"), "left")
      .withColumn("cnt", coalesce(col("cnt"), lit(0L)))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).cast("long").as("n_days"),
        sum(col("cnt")).cast("long").as("_sx"),
        // DECIMAL: 2e6·n·Σx² passes 2^63 at sf1 day volumes
        sum(col("cnt").cast("decimal(38,0)") * col("cnt")).as("_sxx"))
      .filter(col("_sx") > 0)
      .select(col("event_type"), col("n_days"),
        expr("CAST((2 * 100 * _sx + n_days) DIV (2 * n_days) AS BIGINT)")
          .as("mean_e2"),
        expr("""CAST((2 * 1000000 * (n_days * _sxx - _sx * _sx)
                      + n_days * _sx)
                DIV (2 * n_days * _sx) AS BIGINT)""").as("fano_e6"))
      .withColumn("regime", expr(
        """CASE WHEN fano_e6 > 1200000 THEN 'overdispersed'
                WHEN fano_e6 >= 800000 THEN 'poisson-like'
                ELSE 'underdispersed' END"""))
  }

  /** q281: DIFFERENCE-IN-DIFFERENCES estimate (the canonical
    * two-group/two-period causal design — Card & Krueger 1994's
    * workhorse): (ΔT − ΔC) of mean per-user purchase value across the
    * time-span midpoint, treatment = the md5 arm, plus a PLACEBO
    * re-estimate entirely inside the pre-period (split at the pre
    * midpoint) — the standard parallel-trends falsification: a
    * non-zero placebo says the arms were already diverging and the
    * headline DiD is confounded. Completes the causal shelf: q132
    * tests, q260 shrinks variance, q269 frees the null, q278 guards
    * the randomization, THIS estimates an effect against a trend.
    *
    * ENGINE-EXACT: per-user per-period sums are exact e4 longs
    * (panel construction — every user contributes to both periods,
    * zero-filled); each DiD is ONE exact rational
    * (ΔS_T·n_C − ΔS_C·n_T)/(n_T·n_C) in DECIMAL(38,0), emitted by
    * signed round-half-up e4; the four cell means are rhu e4. One
    * event scan → per-user sums → two bounded aggregates.
    */
  def q281DiffInDiff(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
      .filter(col("user_id").isNotNull && col("event_type") === "purchase")
      .select(col("user_id"), unix_micros(col("ts")).as("us"),
        expr("CAST(CAST(value AS DECIMAL(18,4)) * 10000 AS BIGINT)")
          .as("v"))
    val mids = ev.agg(expr("(min(us) + max(us)) DIV 2").as("_mid"),
      expr("(3 * min(us) + max(us)) DIV 4").as("_pmid"))
    val perUser = ev.crossJoin(broadcast(mids))
      .groupBy(col("user_id"))
      .agg(sum(when(col("us") < col("_mid"), col("v")).otherwise(0L))
          .cast("long").as("pre"),
        sum(when(col("us") >= col("_mid"), col("v")).otherwise(0L))
          .cast("long").as("post"),
        sum(when(col("us") < col("_pmid"), col("v")).otherwise(0L))
          .cast("long").as("pre1"),
        sum(when(col("us") >= col("_pmid") && col("us") < col("_mid"),
          col("v")).otherwise(0L)).cast("long").as("pre2"))
      .withColumn("treated",
        substring(md5(col("user_id").cast("string")), 1, 1) < "8")
    val cells = perUser.agg(
      sum(when(col("treated"), 1L).otherwise(0L))
        .cast("decimal(38,0)").as("_nt"),
      sum(when(!col("treated"), 1L).otherwise(0L))
        .cast("decimal(38,0)").as("_nc"),
      sum(when(col("treated"), col("pre")).otherwise(0L))
        .cast("decimal(38,0)").as("_tpre"),
      sum(when(col("treated"), col("post")).otherwise(0L))
        .cast("decimal(38,0)").as("_tpost"),
      sum(when(!col("treated"), col("pre")).otherwise(0L))
        .cast("decimal(38,0)").as("_cpre"),
      sum(when(!col("treated"), col("post")).otherwise(0L))
        .cast("decimal(38,0)").as("_cpost"),
      sum(when(col("treated"), col("pre1")).otherwise(0L))
        .cast("decimal(38,0)").as("_tp1"),
      sum(when(col("treated"), col("pre2")).otherwise(0L))
        .cast("decimal(38,0)").as("_tp2"),
      sum(when(!col("treated"), col("pre1")).otherwise(0L))
        .cast("decimal(38,0)").as("_cp1"),
      sum(when(!col("treated"), col("pre2")).otherwise(0L))
        .cast("decimal(38,0)").as("_cp2"))
    // one-arm guard (ADVICE r11): if the md5 hash assigned every user
    // to a single arm, the divisions below hit a zero denominator in
    // BOTH engines — emit NULL instead so the degenerate panel is
    // reported, not thrown. Statistically impossible at any real user
    // count; mirrored in the oracle (diffInDiffOracleSql).
    def meanE4(sc: String, nc: String) =
      expr(s"""CASE WHEN $nc > 0
             THEN CAST((2 * $sc + $nc) DIV (2 * $nc) AS BIGINT) END""")
    def didE4(a: String, b: String, c: String, e: String) =
      expr(s"""CASE WHEN _nt = 0 OR _nc = 0 THEN NULL
             WHEN (($a - $b) * _nc - ($c - $e) * _nt) >= 0
             THEN CAST((2 * (($a - $b) * _nc - ($c - $e) * _nt)
                        + _nt * _nc)
                       DIV (2 * _nt * _nc) AS BIGINT)
             ELSE -CAST((2 * (-(($a - $b) * _nc - ($c - $e) * _nt))
                         + _nt * _nc)
                        DIV (2 * _nt * _nc) AS BIGINT) END""")
    cells.select(col("_nt").cast("long").as("n_treated"),
      col("_nc").cast("long").as("n_control"),
      meanE4("_tpre", "_nt").as("t_pre_e4"),
      meanE4("_tpost", "_nt").as("t_post_e4"),
      meanE4("_cpre", "_nc").as("c_pre_e4"),
      meanE4("_cpost", "_nc").as("c_post_e4"),
      didE4("_tpost", "_tpre", "_cpost", "_cpre").as("did_e4"),
      didE4("_tp2", "_tp1", "_cp2", "_cp1").as("placebo_e4"))
  }

  /** q278: SAMPLE-RATIO-MISMATCH guardrail (Fabijan et al. KDD 2019 —
    * "the most useful A/B diagnostic"): for each of three md5
    * experiment assignments, χ² of the observed arm split against the
    * designed 50/50 — an SRM means the RANDOMIZATION is broken
    * (bot filtering, redirect loss, logging bias) and every readout
    * downstream (q132/q260/q269) is invalid, which is why platforms
    * alert at α = 0.001 rather than estimate. Two-cell identity keeps
    * it exact: χ² = (n_a − n_b)²/n, emitted as round-half-up e6 and
    * compared against the literal χ²₁ critical values (3.841459,
    * 10.827566 — constants, the BenfordPpm rule). One user-table scan
    * (the per-user frame is reused across the three salts), bounded
    * output.
    */
  def q278SrmCheck(s: SparkSession, d: String): DataFrame = {
    val users = Tables.events(s, d).filter(col("user_id").isNotNull)
      .select(col("user_id")).distinct()
      .localCheckpoint(false) // three salted passes over one frame
    Seq("exp1", "exp2", "exp3").map { salt =>
      users
        .select(when(substring(md5(concat(col("user_id").cast("string"),
          lit(":"), lit(salt))), 1, 1) < "8", 1L).otherwise(0L)
          .as("_a"))
        .agg(sum(col("_a")).cast("long").as("n_a"),
          sum(lit(1L) - col("_a")).cast("long").as("n_b"))
        .withColumn("experiment", lit(salt))
    }.reduce(_ unionByName _)
      .withColumn("chi2_e6", expr(
        """CAST((2 * 1000000 * (n_a - n_b) * (n_a - n_b)
                 + (n_a + n_b))
                DIV (2 * (n_a + n_b)) AS BIGINT)"""))
      .select(col("experiment"), col("n_a"), col("n_b"), col("chi2_e6"),
        (col("chi2_e6") > 3841459L).as("suspicious_05"),
        (col("chi2_e6") > 10827566L).as("srm_alert_001"))
  }

  /** q279: WEEKLY SEASONALITY STRENGTH per event type (Hyndman &
    * Athanasopoulos FPP's Fs = 1 − Var(remainder)/Var(detrended)) —
    * how much of the daily series' variance the day-of-week pattern
    * explains, plus the peak/trough weekdays: the one-number "is this
    * series weekly-periodic" gate that decides whether q224's
    * seasonal-naive forecast or q133's weekday baseline applies at
    * all. ENGINE-EXACT: e2 fixed-point on the gap-filled day lattice
    * (q267's grid), dow = idx mod 7 (an INDEX-anchored week — phase
    * doesn't matter for variance shares), residual SSEs as exact
    * DECIMAL sums of integer squares, strength_ppm = clamp(1e6 −
    * rhu(1e6·SSE_dow, SSE_total), ≥0); peak/trough by (mean, dow)
    * struct extrema. Corpus pays one scan; all math at type×day
    * grain.
    */
  def q279SeasonalityStrength(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
      .select(col("event_type"),
        expr("unix_micros(ts) DIV 86400000000").as("day"))
    val span = ev.agg(min(col("day")).as("_d0"), max(col("day")).as("_d1"))
    val daily = ev.crossJoin(broadcast(span))
      .groupBy(col("event_type"), (col("day") - col("_d0")).as("idx"))
      .agg(count(lit(1)).cast("long").as("cnt"))
    val grid = ev.select(col("event_type")).distinct()
      .crossJoin(broadcast(span))
      .select(col("event_type"),
        explode(expr("sequence(0, _d1 - _d0)")).as("idx"))
      .join(daily, Seq("event_type", "idx"), "left")
      .withColumn("cnt", coalesce(col("cnt"), lit(0L)))
      .withColumn("dow", expr("idx % 7"))
      .localCheckpoint(false) // feeds dow means AND both SSE passes
    val dowMean = grid.groupBy(col("event_type"), col("dow"))
      .agg(expr("CAST((2 * 100 * sum(cnt) + count(1)) DIV (2 * count(1)) AS BIGINT)")
        .as("dm_e2"))
    val allMean = grid.groupBy(col("event_type"))
      .agg(expr("CAST((2 * 100 * sum(cnt) + count(1)) DIV (2 * count(1)) AS BIGINT)")
        .as("am_e2"))
    val sse = grid.join(dowMean, Seq("event_type", "dow"))
      .join(broadcast(allMean), "event_type")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).cast("long").as("n_days"),
        max(col("am_e2")).as("mean_e2"),
        sum(expr("""CAST((100 * cnt - dm_e2) AS DECIMAL(38,0))
                    * (100 * cnt - dm_e2)""")).as("_sr"),
        sum(expr("""CAST((100 * cnt - am_e2) AS DECIMAL(38,0))
                    * (100 * cnt - am_e2)""")).as("_st"))
    val peaks = dowMean.groupBy(col("event_type"))
      .agg(max(struct(col("dm_e2"), (-col("dow")).as("nd")))
          .getField("nd").as("_pk"),
        min(struct(col("dm_e2"), col("dow"))).getField("dow")
          .as("trough_dow"))
      .select(col("event_type"), (-col("_pk")).as("peak_dow"),
        col("trough_dow"))
    sse.join(peaks, "event_type")
      .select(col("event_type"), col("n_days"), col("mean_e2"),
        expr("""CASE WHEN _st > 0 THEN
               GREATEST(1000000 - CAST((2 * 1000000 * _sr + _st)
                        DIV (2 * _st) AS BIGINT), 0)
             END""").as("strength_ppm"),
        col("peak_dow"), col("trough_dow"))
  }

  /** q276: 30-DAY ROLLING OLS TREND of daily purchase revenue — per
    * day, the least-squares slope over the trailing 30-day window (the
    * "momentum" line every operations dashboard draws; the ROLLING
    * form of q130's static trend fit, and the regression upgrade of
    * q160's EWMA level). ENGINE-EXACT: daily revenue in exact e4 longs
    * on the gap-filled calendar lattice (a missing day is a ZERO-sale
    * day — skipping it tilts the slope), x = the absolute day index,
    * all five window sums exact longs (30·Σxy tops ~3e15 at sf1 —
    * long-safe), slope = signed round-half-up e4/day. The series is
    * CALENDAR-BOUNDED (~hundreds of rows at any SF), so the single
    * global window is an artifact sort, not a corpus sort; the corpus
    * pays one map-combined day aggregate.
    */
  def q276RollingOls(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
      .filter(col("event_type") === "purchase")
      .select(expr("unix_micros(ts) DIV 86400000000").as("day"),
        expr("CAST(CAST(value AS DECIMAL(18,4)) * 10000 AS BIGINT)")
          .as("v"))
    val span = ev.agg(min(col("day")).as("_d0"), max(col("day")).as("_d1"))
    val daily = ev.crossJoin(broadcast(span))
      .groupBy((col("day") - col("_d0")).as("idx"))
      .agg(sum(col("v")).cast("long").as("rev_e4"))
    val grid = span
      .select(explode(expr("sequence(0, _d1 - _d0)")).as("idx"))
      .join(daily, Seq("idx"), "left")
      .withColumn("rev_e4", coalesce(col("rev_e4"), lit(0L)))
    // calendar-bounded global window (day-grid rows) — benign
    val w = Window.orderBy(col("idx")).rowsBetween(-29, 0)
    grid
      .withColumn("_n", count(lit(1)).over(w))
      .withColumn("_sx", sum(col("idx")).over(w))
      .withColumn("_sy", sum(col("rev_e4")).over(w))
      .withColumn("_sxy", sum(col("idx") * col("rev_e4")).over(w))
      .withColumn("_sxx", sum(col("idx") * col("idx")).over(w))
      .filter(col("_n") === 30L)
      // DECIMAL: 2e4·(30Σxy − ΣxΣy) passes 2^63 at sf1 daily volumes
      .withColumn("_num", expr(
        """CAST(_n AS DECIMAL(38,0)) * _sxy
           - CAST(_sx AS DECIMAL(38,0)) * _sy"""))
      .withColumn("_den", expr(
        """CAST(_n AS DECIMAL(38,0)) * _sxx
           - CAST(_sx AS DECIMAL(38,0)) * _sx"""))
      .select(col("idx").as("day_idx"), col("rev_e4"),
        expr("""CASE WHEN _num >= 0
               THEN CAST((2 * 10000 * _num + _den)
                         DIV (2 * _den) AS BIGINT)
               ELSE -CAST((2 * 10000 * (-_num) + _den)
                          DIV (2 * _den) AS BIGINT) END""")
          .as("slope30_e4"))
  }

  /** q269: EXACT PERMUTATION TEST on the arm difference (Fisher 1935;
    * the modern B-resample form — Ernst Stat.Sci. 2004): the observed
    * mean-purchases gap between the two md5 arms is ranked against 200
    * DETERMINISTIC pseudo-permutations (relabeling by md5(user#b)
    * parity — reproducible across engines, retries and reruns, the
    * q50 no-rand rule), p = (1 + #extreme)/(B+1). The
    * assumption-free companion of q132's normal z and q138's
    * bootstrap: no variance model at all, just the label-exchange
    * null.
    *
    * ENGINE-EXACT: each permutation's gap is the exact rational
    * (ΣyA·nB − ΣyB·nA)/(nA·nB); "extreme" compares |gap_b| ≥ |gap|
    * by DECIMAL cross-multiplication — no division ever happens, so
    * ties (common on integer counts) resolve identically. Scale
    * shape: ONE event scan to per-user sums; the B-way fan-out runs
    * on the per-user AGGREGATE (users × B rows through one
    * map-combined groupBy), never on raw events.
    */
  def q269PermutationTest(s: SparkSession, d: String): DataFrame = {
    val perUser = Tables.events(s, d).filter(col("user_id").isNotNull)
      .groupBy(col("user_id"))
      .agg(sum(when(col("event_type") === "purchase", 1L)
        .otherwise(0L)).cast("long").as("y"))
      .localCheckpoint(false) // feeds the observed AND the B fan-out
    def moments(df: DataFrame, armCol: Column, keys: Seq[Column]) =
      df.withColumn("_arm", armCol)
        .groupBy(keys: _*)
        .agg(sum(when(col("_arm"), col("y")).otherwise(0L))
            .cast("decimal(38,0)").as("_sa"),
          sum(when(col("_arm"), 1L).otherwise(0L))
            .cast("decimal(38,0)").as("_na"),
          sum(when(!col("_arm"), col("y")).otherwise(0L))
            .cast("decimal(38,0)").as("_sb"),
          sum(when(!col("_arm"), 1L).otherwise(0L))
            .cast("decimal(38,0)").as("_nb"))
        .withColumn("_num", col("_sa") * col("_nb") - col("_sb") * col("_na"))
        .withColumn("_den", col("_na") * col("_nb"))
    val obs = moments(perUser,
      substring(md5(col("user_id").cast("string")), 1, 1) < "8", Nil)
      .select(col("_num").as("_onum"), col("_den").as("_oden"),
        (col("_na") + col("_nb")).cast("long").as("n_users"))
    val bs = s.range(1, 201).select(col("id").as("b"))
    val perm = moments(
      perUser.crossJoin(broadcast(bs)),
      substring(md5(concat(col("user_id").cast("string"), lit("#"),
        col("b").cast("string"))), 1, 1) < "8",
      Seq(col("b")))
    perm.crossJoin(broadcast(obs))
      .groupBy(col("n_users"), col("_onum"), col("_oden"))
      .agg(count(lit(1)).cast("long").as("n_perms"),
        sum(when(abs(col("_num")) * col("_oden")
          >= abs(col("_onum")) * col("_den"), 1L).otherwise(0L))
          .cast("long").as("n_extreme"))
      .select(col("n_users"), col("n_perms"), col("n_extreme"),
        expr("""CASE WHEN _onum >= 0
               THEN CAST((2 * 1000000 * _onum + _oden)
                         DIV (2 * _oden) AS BIGINT)
               ELSE -CAST((2 * 1000000 * (-_onum) + _oden)
                          DIV (2 * _oden) AS BIGINT)
             END""").as("obs_diff_e6"),
        expr("""CAST((2 * 1000000 * (1 + n_extreme) + (n_perms + 1))
                DIV (2 * (n_perms + 1)) AS BIGINT)""").as("p_ppm"))
  }
}
