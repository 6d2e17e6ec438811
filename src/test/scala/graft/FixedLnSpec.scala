package graft

import graft.functions.FixedLn
import graft.operators.{StatsOps, TextOps}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The e9 fixed-point ln and the r11 operator family it unlocks
  * (q244 WOE/IV, q245 JS matrix, q246 doc entropy — plus q112 BM25,
  * replay-tested in TextSpec).
  */
class FixedLnSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  test("lnE9 tracks Math.log within 1e-7 across the rational domain " +
      "(ppm ratios, BM25 idf args, near-1 and boundary cases)") {
    val cases = Seq[(Long, Long)](
      (1L, 1L), (2L, 1L), (3L, 2L), (1000000L, 1L), (1000000L, 999999L),
      (2000000L, 1000001L), (4000000L, 2000001L), (10002L, 3L),
      (2300000000L, 7L), (1048576L, 1L), (1048577L, 1048576L),
      (699001L, 300999L), (123456789L, 987L))
    cases.foreach { case (p, q) =>
      val exact = Math.log(p.toDouble / q)
      val fixed = FixedLn.lnE9(p, q) / 1e9
      assert(math.abs(exact - fixed) < 1e-7, s"ln($p/$q): $exact vs $fixed")
    }
    // dense sweep around small ratios (the ppm regime)
    for (p <- 1L to 2000L; q <- Seq(1L, 7L, 13L) if p >= q) {
      val exact = Math.log(p.toDouble / q)
      val fixed = FixedLn.lnE9(p, q) / 1e9
      assert(math.abs(exact - fixed) < 1e-7, s"ln($p/$q)")
    }
  }

  test("lnE9Signed is antisymmetric and the SQL steps equal the Scala " +
      "replay on a generated rational grid (both engines' division)") {
    assert(FixedLn.lnE9Signed(3, 7) == -FixedLn.lnE9Signed(7, 3))
    assert(FixedLn.lnE9Signed(5, 5) == 0L)
    val grid = (1 to 500).map(i => (i * 997L % 4099 + 1, i * 31L % 211 + 1))
      .map { case (a, b) => (math.max(a, b), math.min(a, b)) }
    val df = grid.toDF("_p", "_q")
    val got = FixedLn.steps("DIV", "out_e9")
      .foldLeft(df) { case (acc, (n, e)) => acc.withColumn(n, expr(e)) }
      .select(col("_p"), col("_q"), col("out_e9"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
      .toMap
    grid.foreach { case (p, q) =>
      assert(got((p, q)) == FixedLn.lnE9(p, q), s"SQL vs Scala at $p/$q")
    }
  }

  test("r14 native graft_ln_e9 / graft_exp_e9 expressions equal the " +
      "Scala kernels (hence the SQL step lists) on the value grids") {
    val grid = (1 to 500).map(i => (i * 997L % 4099 + 1, i * 31L % 211 + 1))
      .map { case (a, b) => (math.max(a, b), math.min(a, b)) }
    val gotLn = grid.toDF("_p", "_q")
      .select(col("_p"), col("_q"), graft.functions.FixedPointExpressions
        .lnE9(col("_p"), col("_q")).as("out_e9"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
      .toMap
    grid.foreach { case (p, q) =>
      assert(gotLn((p, q)) == FixedLn.lnE9(p, q), s"expr vs Scala $p/$q")
    }
    val xs = (0 to 500)
      .map(i => i * 41399999L % graft.functions.FixedExp.MaxX)
    val gotExp = xs.toDF("_x")
      .select(col("_x"), graft.functions.FixedPointExpressions
        .expE9(col("_x")).as("out_e9"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    xs.foreach { x =>
      assert(gotExp(x) == graft.functions.FixedExp.expE9(x),
        s"expr vs Scala at $x")
    }
  }

  test("q244 WOE/IV: signs track class shares, IV is non-negative, " +
      "and a local integer replay matches exactly") {
    val rows = StatsOps.q244WoeIv(spark, Sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6)))
    assert(rows.nonEmpty)
    rows.foreach { case (_, _, _, pg, pb, woe, _) =>
      assert((pg >= pb) == (woe >= 0), s"woe sign: pg=$pg pb=$pb woe=$woe")
    }
    val iv = rows.map(_._7).distinct
    assert(iv.size == 1 && iv.head >= 0)
    // local replay from raw counts
    val o = Tables.orders(spark, Sf)
      .select(col("o_orderpriority"), col("o_orderstatus")).collect()
      .map(r => (r.getString(0), r.getString(1) == "F"))
    val byB = o.groupBy(_._1).view.mapValues { xs =>
      (xs.count(_._2).toLong, xs.count(!_._2).toLong) }.toMap
    val gt = byB.values.map(_._1).sum
    val bt = byB.values.map(_._2).sum
    val exp = byB.toSeq.flatMap { case (b, (g, bad)) =>
      val pg = (2000000L * g + gt) / (2 * gt)
      val pb = (2000000L * bad + bt) / (2 * bt)
      if (pg > 0 && pb > 0)
        Some((b, g, bad, pg, pb, FixedLn.lnE9Signed(pg, pb)))
      else None
    }
    val ivExp = {
      val s = exp.map { case (_, _, _, pg, pb, w) => (pg - pb) * w }.sum
      (2 * s + 1000000) / 2000000
    }
    assert(rows.map(r => (r._1, r._2, r._3, r._4, r._5, r._6)).toSet ==
      exp.toSet)
    assert(rows.head._7 == ivExp)
  }

  test("q245 JS matrix: symmetric-bounded values, identical-source " +
      "sanity via a local replay on a synthetic two-source corpus") {
    val got = TextOps.q245JsMatrix(spark, Sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3)))
    assert(got.nonEmpty)
    val ln2 = FixedLn.Ln2E9
    got.foreach { case (a, b, nc, js) =>
      assert(a < b)
      assert(nc > 0)
      // JS ∈ [0, ln 2] (+ quantization slack)
      assert(js >= -2000 && js <= ln2 + 2000, s"js($a,$b)=$js")
    }
    // every source pair appears exactly once
    assert(got.map(p => (p._1, p._2)).distinct.length == got.length)
    // synthetic: identical distributions → JS = 0 exactly; disjoint
    // vocabularies → JS = ln 2 (up to ppm/series quantization)
    val twin = Seq(("s1", "a b c a"), ("s2", "a b c a"))
      .toDF("source", "text")
    val twinJs = TextOps.jsMatrix(twin).collect()
    assert(twinJs.length == 1 && twinJs.head.getLong(3) == 0L)
    val disj = Seq(("s1", "a b c d"), ("s2", "x y z w"))
      .toDF("source", "text")
    val disjJs = TextOps.jsMatrix(disj).collect()
    // fully-disjoint vocabularies → JS = ln 2 exactly (all mass in
    // the single-source correction terms), n_common = 0
    assert(disjJs.length == 1 && disjJs.head.getLong(2) == 0L)
    assert(math.abs(disjJs.head.getLong(3) - ln2) < 2000,
      s"disjoint js=${disjJs.head.getLong(3)}")
    val mixed = Seq(("s1", "a b"), ("s2", "a z")).toDF("source", "text")
    val mj = TextOps.jsMatrix(mixed).collect()
    assert(mj.length == 1)
    // p = (½,½,0), q = (½,0,½): JS = ½ln2 exactly
    assert(math.abs(mj.head.getLong(3) - ln2 / 2) < 2000,
      s"mixed js=${mj.head.getLong(3)}")
  }

  test("expE9 tracks Math.exp within 1e-7 relative across [0, 20.7]; " +
      "SQL steps equal the Scala replay; sigmoid is monotone and " +
      "symmetric") {
    import graft.functions.FixedExp
    val xs = Seq(0L, 1L, 1000L, 693147181L, 1000000000L, 2500000000L,
      6931471810L, 13800000000L, 19999999999L, FixedExp.MaxX)
    xs.foreach { x =>
      val exact = Math.exp(x / 1e9)
      val fixed = FixedExp.expE9(x) / 1e9
      assert(math.abs(exact - fixed) / exact < 1e-7, s"exp($x): $exact vs $fixed")
    }
    val grid = (0 to 400).map(i => (i * 51715121L) % FixedExp.MaxX)
    val df = grid.toDF("_x")
    val got = FixedExp.steps("DIV", "out_e9")
      .foldLeft(df) { case (acc, (n, e)) => acc.withColumn(n, expr(e)) }
      .select(col("_x"), col("out_e9"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    grid.foreach { x =>
      assert(got(x) == FixedExp.expE9(x), s"SQL vs Scala at $x")
    }
    // sigmoid: σ(0)=½, symmetric, monotone, saturating
    assert(FixedExp.sigmoidE9(0L) == 500000000L)
    val zs = Seq(-25L, -3L, -1L, 0L, 1L, 2L, 10L, 25L).map(_ * 1000000000L)
    zs.foreach { z =>
      assert(FixedExp.sigmoidE9(z) + FixedExp.sigmoidE9(-z) == 1000000000L)
      val exact = 1.0 / (1.0 + Math.exp(-z / 1e9))
      assert(math.abs(FixedExp.sigmoidE9(z) / 1e9 - exact) < 1e-6)
    }
    assert(zs.map(FixedExp.sigmoidE9) == zs.map(FixedExp.sigmoidE9).sorted)
  }

  test("q247 quality classifier: scores in (0,1), kept ⇔ score ≥ ½, " +
      "and a local integer replay matches exactly") {
    import graft.functions.FixedExp
    val got = TextOps.q247QualityClassifier(spark, Sf).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getBoolean(4))))
      .toMap
    assert(got.nonEmpty)
    got.values.foreach { case (_, _, s, kept) =>
      assert(s > 0 && s < 1000000000L)
      assert(kept == (s >= 500000000L))
    }
    // local replay
    val docs = Tables.documents(spark, Sf).filter(col("text").isNotNull)
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1).trim.toLowerCase)
    val stop = Set("the", "a", "of", "and", "to", "in")
    docs.foreach { case (id, txt) =>
      val tk = txt.split("\\s+").toSeq
      val t = tk.size.toLong
      val stopPpm = (2000000L * tk.count(stop) + t) / (2 * t)
      val distPpm = (2000000L * tk.distinct.size + t) / (2 * t)
      val lenE2 = (200L * txt.replaceAll("\\s+", "").length + t) / (2 * t)
      val z = -6000000000L + 4000 * stopPpm + 3000 * distPpm +
        8000000L * math.min(t, 400) -
        2000000L * math.min(math.max(t - 400, 0), 2000) +
        1000000L * math.min(lenE2, 800)
      val score = FixedExp.sigmoidE9(z)
      assert(got(id) == ((t, z, score, score >= 500000000L)), s"doc $id")
    }
  }

  test("q248 softmax mix: weights sum to ~1e6, order tracks quality, " +
      "best source holds the largest weight") {
    val rows = TextOps.q248SoftmaxMix(spark, Sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.length >= 2)
    val wsum = rows.map(_._4).sum
    assert(math.abs(wsum - 1000000L) <= rows.length,
      s"weights sum $wsum")
    val byQ = rows.sortBy(-_._3).map(_._4).toSeq
    assert(byQ == byQ.sorted.reverse, "weight order must track quality")
    assert(rows.maxBy(_._3)._4 == rows.map(_._4).max)
  }

  test("q249 perplexity: ppl = exp(xent) within integer rounding, " +
      "bands partition the corpus") {
    import graft.functions.FixedExp
    val rows = TextOps.q249Perplexity(spark, Sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getString(4)))
    assert(rows.nonEmpty)
    rows.foreach { case (_, _, xent, ppl, band) =>
      val expPpl = (2 * FixedExp.expE9(xent) + 1000000L) / 2000000L
      assert(ppl == expPpl)
      val eb = if (ppl < 30000L) "head"
        else if (ppl < 31500L) "middle" else "tail"
      assert(band == eb)
    }
    // the band cuts sit inside the observed spread → ≥2 bands populated
    assert(rows.map(_._5).distinct.size >= 2)
  }

  test("q250 calibration: bins partition by score decile, Brier " +
      "matches the exact per-doc replay, gaps are |pred − emp|") {
    val rows = graft.operators.StatsOps.q250Calibration(spark, Sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5)))
    assert(rows.nonEmpty && rows.map(_._1).distinct.length == rows.length)
    rows.foreach { case (bin, _, pred, emp, gap, _) =>
      assert(bin >= 0 && bin <= 9)
      assert(gap == math.abs(pred - emp))
      assert(pred >= 0 && pred <= 1000000L && emp >= 0 && emp <= 1000000L)
    }
    // Brier replay from the classifier output + labels
    val docs = Tables.documents(spark, Sf)
      .select(col("doc_id"), col("lang")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val scored = TextOps.q247QualityClassifier(spark, Sf).collect()
      .map(r => (r.getLong(0), r.getLong(3)))
    val sq = scored.map { case (id, s) =>
      val y = if (docs(id) == "en") 1000000000L else 0L
      BigInt(s - y) * BigInt(s - y) }.sum
    val n = BigInt(scored.length)
    val brier = ((2 * sq + n * 1000000000L) /
      (2 * n * 1000000000L)).toLong
    assert(rows.map(_._6).distinct == Seq(brier).toList ||
      rows.map(_._6).distinct.toList == List(brier))
    assert(rows.map(_._2).sum == scored.length)
  }

  test("q251 decayed engagement: equals a local FixedExp replay; " +
      "weights decay with distance from the corpus max time") {
    import graft.functions.FixedExp
    val got = graft.operators.RelationalOps
      .q251DecayedEngagement(spark, Sf).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3)))).toMap
    val ev = Tables.events(spark, Sf)
      .filter(col("user_id").isNotNull)
      .select(col("user_id"), unix_micros(col("ts"))).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val mx = ev.map(_._2).max
    val exp = ev.groupBy(_._1).map { case (u, xs) =>
      val ws = xs.map { case (_, us) =>
        val x = math.min((mx - us) / 2592, 20000000000L)
        val a = FixedExp.expE9(x)
        (2000000000000000000L + a) / (2 * a)
      }
      u -> ((xs.size.toLong, ws.sum,
        xs.map(mx - _._2).min / 86400000000L))
    }
    assert(got == exp && got.nonEmpty)
    // a user's score is bounded by its event count (each weight ≤ 1e9)
    got.values.foreach { case (n, s, _) =>
      assert(s <= n * 1000000000L && s > 0)
    }
  }

  test("q246 doc entropy: equals a local integer replay; uniform-ish " +
      "docs score near the corpus entropy scale") {
    val got = TextOps.q246DocEntropy(spark, Sf).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val docs = Tables.documents(spark, Sf)
      .filter(col("text").isNotNull)
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) ->
        r.getString(1).trim.toLowerCase.split("\\s+").toSeq
          .filter(_.nonEmpty))
      .filter(_._2.nonEmpty)
    val tf = docs.flatMap { case (id, tk) =>
      tk.groupBy(identity).map { case (t, xs) =>
        (id, t, xs.size.toLong) } }
    val nT = tf.groupBy(_._2).view.mapValues(_.map(_._3).sum).toMap
    val nC = nT.values.sum
    val nl9 = nT.map { case (t, n) =>
      t -> FixedLn.lnE9(1000000L,
        math.max((2000000L * n + nC) / (2 * nC), 1L)) }
    val exp = tf.groupBy(_._1).map { case (id, xs) =>
      val len = xs.map(_._3).sum
      val s = xs.map { case (_, t, f) => f * nl9(t) }.sum
      id -> ((len, (2 * s + len) / (2 * len)))
    }
    assert(got.size == exp.size)
    exp.foreach { case (id, (len, x)) =>
      assert(got(id) == ((len, x)), s"doc $id: ${got(id)} vs ($len, $x)")
    }
  }

  test("q253 l-diversity: entropy and effective-class count match a " +
      "local FixedLn/FixedExp replay; single-band classes score H = 0") {
    import graft.functions.FixedExp
    val got = graft.operators.RelationalOps.q253LDiversity(spark, Sf)
      .collect().map(r => (r.getLong(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5),
          r.getBoolean(6)))).toMap
    val cust = Tables.customer(spark, Sf)
      .select(col("c_nationkey").cast("long"), col("c_mktsegment"),
        col("c_acctbal").cast("decimal(18,4)").cast("string"))
      .collect()
      .map { r =>
        val bal = BigDecimal(r.getString(2))
        val band = if (bal < 0) "neg" else if (bal < 2500) "low"
          else if (bal < 7500) "mid" else "high"
        ((r.getLong(0), r.getString(1)), band)
      }
    val exp = cust.groupBy(_._1).map { case (k, xs) =>
      val n = xs.size.toLong
      val bands = xs.groupBy(_._2).view.mapValues(_.size.toLong).toMap
      val h = bands.values.map { c =>
        val ppm = math.max((2000000L * c + n) / (2 * n), 1L)
        ppm * FixedLn.lnE9(1000000L, ppm)
      }.sum
      val h9 = (2 * h + 1000000L) / 2000000L
      val eff = (2 * FixedExp.expE9(h9) + 1000000L) / 2000000L
      k -> ((n, bands.size.toLong, h9, eff, bands.size >= 3))
    }
    assert(got.size == exp.size && got.nonEmpty)
    exp.foreach { case (k, v) => assert(got(k) == v, s"class $k") }
    got.values.foreach { case (_, l, h, eff, _) =>
      if (l == 1) assert(h == 0L && eff == 1000L)
      assert(eff >= 1000L && eff <= l * 1000L + 1,
        s"exp(H) must sit in [1, distinct_l]: l=$l eff=$eff")
    }
  }

  test("q254 t-closeness: TV distance matches a local integer replay, " +
      "is bounded by [0, 1e6], and breach flags t > 0.2") {
    val got = graft.operators.RelationalOps.q254TCloseness(spark, Sf)
      .collect().map(r => (r.getLong(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getBoolean(4)))).toMap
    val cust = Tables.customer(spark, Sf)
      .select(col("c_nationkey").cast("long"), col("c_mktsegment"),
        col("c_acctbal").cast("decimal(18,4)").cast("string"))
      .collect()
      .map { r =>
        val bal = BigDecimal(r.getString(2))
        val band = if (bal < 0) "neg" else if (bal < 2500) "low"
          else if (bal < 7500) "mid" else "high"
        ((r.getLong(0), r.getString(1)), band)
      }
    val nt = cust.size.toLong
    val gPpm = cust.groupBy(_._2).view.mapValues { xs =>
      (2000000L * xs.size + nt) / (2 * nt) }.toMap
    val exp = cust.groupBy(_._1).map { case (k, xs) =>
      val n = xs.size.toLong
      val cb = xs.groupBy(_._2).view.mapValues(_.size.toLong).toMap
      val sd = gPpm.map { case (b, g) =>
        val c = (2000000L * cb.getOrElse(b, 0L) + n) / (2 * n)
        math.abs(c - g)
      }.sum
      val t = (sd + 1) / 2
      k -> ((n, t, t > 200000L))
    }
    assert(got.size == exp.size && got.nonEmpty)
    exp.foreach { case (k, v) => assert(got(k) == v, s"class $k") }
    got.values.foreach { case (_, t, _) => assert(t >= 0 && t <= 1000000L) }
  }
}
