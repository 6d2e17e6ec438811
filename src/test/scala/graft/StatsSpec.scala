package graft

import graft.operators.StatsOps
import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._
  import org.apache.spark.sql.functions._
  import graft.operators.StatsOps.{Completeness, Uniqueness, Satisfies,
    Referential}

  test("dq report: planted violations measured in exact ppm") {
    val facts = Seq(
      (1L, Option(10L), 5.0, "O"),
      (2L, Option(20L), -1.0, "O"), // range violation
      (3L, None: Option[Long], 3.0, "X"), // null key + domain violation
      (3L, Option(99L), 2.0, "F")) // dup orderkey + orphan custkey
      .toDF("o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus")
    val dim = Seq(10L, 20L).toDF("k")
    val got = StatsOps.dqReport(facts, Seq(
      Completeness("o_custkey"),
      Uniqueness("o_orderkey"),
      Satisfies("positive", col("o_totalprice") > 0),
      Satisfies("domain", col("o_orderstatus").isin("O", "F", "P")),
      Referential("o_custkey", dim, "k"))).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap
    assert(got("completeness_o_custkey") == ((750000L, false)))
    assert(got("uniqueness_o_orderkey") == ((750000L, false)))
    assert(got("positive") == ((750000L, false)))
    assert(got("domain") == ((750000L, false)))
    assert(got("referential_o_custkey") == ((500000L, false)))
  }

  test("corr matrix drops incomplete rows (complete-case analysis)") {
    val df = Seq(
      (Option(1.0), Option(2.0)), (Option(2.0), Option(4.0)),
      (Option(3.0), None: Option[Double]), // must not skew the moments
      (None: Option[Double], Option(9.0)),
      (Option(3.0), Option(6.0))).toDF("x", "y")
    val got = StatsOps.corrMatrix(df, Seq("x", "y")).collect()
    assert(got.length == 1 && got.head.getDouble(2) == 1.0)
  }

  test("dq report rejects non-identifier and duplicate check names") {
    val df = Seq((1L, 2L)).toDF("a", "b")
    intercept[IllegalArgumentException] {
      StatsOps.dqReport(df, Seq(Satisfies("bad name!", col("a") > 0)))
    }
    intercept[IllegalArgumentException] {
      StatsOps.dqReport(df, Seq(Satisfies("dup", col("a") > 0),
        Satisfies("dup", col("b") > 0)))
    }
  }

  test("q95: the orders suite is all-pass on the test data") {
    val got = StatsOps.q95DqReport(spark, Sf).collect()
    assert(got.length == 5)
    got.foreach { r =>
      assert(r.getBoolean(2) && r.getLong(1) == 1000000L, r.toString)
    }
  }

  test("corr matrix: exact ±1 on linearly dependent columns") {
    val df = (1 to 200).map(i => (i * 1.0, 2.0 * i + 3.0, -1.0 * i))
      .toDF("x", "y", "z")
    val got = StatsOps.corrMatrix(df, Seq("x", "y", "z")).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
    assert(got(("x", "y")) == 1.0)
    assert(got(("x", "z")) == -1.0)
    assert(got(("y", "z")) == -1.0)
  }

  test("q93 is ONE pass: a single lineitem scan, partially aggregated") {
    val q = StatsOps.q93CorrMatrix(spark, Sf)
    q.collect()
    // AQE prints Final + Initial plan sections — audit the final one
    val p = q.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    val scans = "FileScan|BatchScan".r.findAllIn(p).size
    assert(scans == 1, s"expected 1 scan, got $scans:\n${p.take(2000)}")
    assert("HashAggregate".r.findAllIn(p).size >= 2, // partial + final
      s"partial aggregation missing:\n${p.take(2000)}")
  }

  test("q93 matches a local double-precision Pearson within the " +
      "round-4 tolerance") {
    val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
    val got = StatsOps.q93CorrMatrix(spark, Sf).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
    assert(got.size == 6)
    val data = Tables.lineitem(spark, Sf)
      .select(cols.head, cols.tail: _*).collect()
      .map(r => cols.indices.map(r.getDouble).toArray)
    val n = data.length.toDouble
    def pearson(i: Int, j: Int): Double = {
      val (si, sj) = (data.map(_(i)).sum, data.map(_(j)).sum)
      val sij = data.map(r => r(i) * r(j)).sum
      val (sii, sjj) =
        (data.map(r => r(i) * r(i)).sum, data.map(r => r(j) * r(j)).sum)
      (n * sij - si * sj) /
        (math.sqrt(n * sii - si * si) * math.sqrt(n * sjj - sj * sj))
    }
    for (i <- 0 until 4; j <- i + 1 until 4) {
      val e = pearson(i, j)
      val g = got((cols(i), cols(j)))
      assert(math.abs(g - e) <= 1e-4 + 1e-9,
        s"${cols(i)}×${cols(j)}: got $g expected $e")
    }
  }

  test("q130 OLS matches a local closed-form fit per group; planted " +
      "exact line recovers slope and intercept with r2 = 1") {
    val got = StatsOps.q130OlsTrend(spark, Sf).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4))))
      .toMap
    val rows = Tables.orders(spark, Sf)
      .selectExpr("o_orderpriority",
        "unix_micros(CAST(o_orderdate AS TIMESTAMP)) DIV 86400000000 AS day",
        "o_totalprice")
      .collect()
      .map(r => (r.getString(0), r.getLong(1).toDouble, r.getDouble(2)))
    assert(got.nonEmpty && got.size == rows.map(_._1).distinct.size)
    rows.groupBy(_._1).foreach { case (g, xs) =>
      val n = xs.length.toDouble
      val (sx, sy) = (xs.map(_._2).sum, xs.map(_._3).sum)
      val sxx = xs.map(x => x._2 * x._2).sum
      val sxy = xs.map(x => x._2 * x._3).sum
      val slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
      val icept = (sy - slope * sx) / n
      val (gn, gs, gi, _) = got(g)
      assert(gn == xs.length)
      assert(math.abs(gs - slope) <= 1e-6 + math.abs(slope) * 1e-6,
        s"$g slope: got $gs expected $slope")
      assert(math.abs(gi - icept) <= 2e-4 + math.abs(icept) * 1e-6,
        s"$g intercept: got $gi expected $icept")
    }
    // planted exact line y = 2.5x + 7: recovered exactly, r2 = 1
    import spark.implicits._
    val line = (1 to 50).map(i => ("g", i.toLong, 2.5 * i + 7))
      .toDF("g", "x", "y")
    val fit = StatsOps.olsFit(line, "g", "x", "y").collect()(0)
    assert(fit.getDouble(2) == 2.5 && fit.getDouble(3) == 7.0 &&
      fit.getDouble(4) == 1.0)
    // degenerate: single point and zero x-variance → null fit columns
    val deg = StatsOps.olsFit(Seq(("a", 1L, 1.0), ("b", 2L, 1.0),
      ("b", 2L, 3.0)).toDF("g", "x", "y"), "g", "x", "y").collect()
    assert(deg.forall(r => r.isNullAt(2) && r.isNullAt(3) && r.isNullAt(4)))
  }

  test("q132 A/B test matches a local md5-split two-proportion replay") {
    val r = StatsOps.q132AbTest(spark, Sf).collect()(0)
    val users = Tables.events(spark, Sf)
      .select("user_id", "event_type", "value").collect()
      .map(x => (x.getLong(0), x.getString(1), x.getDouble(2)))
      .groupBy(_._1)
      .map { case (u, xs) =>
        (u, xs.exists(e => e._2 == "purchase" && e._3 > 100)) }
    def arm(u: Long): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(u.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      java.lang.Long.parseLong(d.take(15), 16) % 2
    }
    val a = users.filter(x => arm(x._1) == 0)
    val b = users.filter(x => arm(x._1) == 1)
    val (na, ca) = (a.size.toLong, a.count(_._2).toLong)
    val (nb, cb) = (b.size.toLong, b.count(_._2).toLong)
    assert(na > 0 && nb > 0, "md5 split left an arm empty — vacuous")
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) ==
      ((na, ca, nb, cb)))
    assert(r.getLong(4) == (2000 * ca + na) / (2 * na))
    assert(r.getLong(5) == (2000 * cb + nb) / (2 * nb))
    val p = (ca + cb).toDouble / (na + nb)
    val z = (cb.toDouble / nb - ca.toDouble / na) /
      math.sqrt(p * (1.0 - p) * (1.0 / na + 1.0 / nb))
    assert(math.abs(r.getDouble(6) - z) <= 1e-4 + 1e-12)
    assert(r.getBoolean(7) == (math.abs(z) > 1.96))
  }

  test("q133 seasonal anomaly matches a local weekday-baseline replay") {
    val got = StatsOps.q133SeasonalAnomaly(spark, Sf)
      .selectExpr("event_type", "CAST(day AS STRING) AS day", "z")
      .collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
    val daily = Tables.events(spark, Sf)
      .selectExpr("event_type", "CAST(to_date(ts) AS STRING) AS day",
        "CAST(value AS DECIMAL(18,4)) AS v")
      .collect()
      .map(r => ((r.getString(0), r.getString(1)), r.getDecimal(2)))
      .groupBy(_._1)
      .map { case (k, xs) =>
        (k, xs.map(x => BigDecimal(x._2)).sum.toDouble) }
    val expected = daily.keys.map(_._1).toSeq.distinct.flatMap { et =>
      val mine = daily.filter(_._1._1 == et).toSeq
      mine.groupBy(x =>
        java.time.LocalDate.parse(x._1._2).getDayOfWeek.getValue)
        .flatMap { case (_, xs) =>
          val n = xs.length.toDouble
          val sx = xs.map(_._2).sum
          val sxx = xs.map(x => x._2 * x._2).sum
          val mean = sx / n
          val std = math.sqrt((n * sxx - sx * sx) / (n * (n - 1.0)))
          if (xs.length < 5 || !(std > 0)) Nil
          else xs.filter(x => math.abs(x._2 - mean) > 1.5 * std)
            .map(x => x._1 -> ((x._2 - mean) / std))
        }
    }.toMap
    assert(got.keySet == expected.keySet)
    assert(got.nonEmpty, "no anomalies at this SF — vacuous")
    got.foreach { case (k, z) =>
      assert(math.abs(z - expected(k)) <= 1e-4 + 1e-9, s"$k") }
  }

  test("cusum: closed form matches the textbook recursion on a planted " +
      "level shift; constant and short series stay silent") {
    // group a: 20 quiet days (deterministic ±2 wiggle) then a +15 jump —
    // the sustained shift CUSUM exists to catch; b constant (std = 0 →
    // excluded); c too short (< minN → excluded)
    val quiet = (1 to 20).map(i => ("a", i, 100.0 + 2.0 * (i % 2)))
    val shifted = (21 to 30).map(i => ("a", i, 115.0 + 2.0 * (i % 2)))
    val flat = (1 to 30).map(i => ("b", i, 50.0))
    val short = (1 to 5).map(i => ("c", i, i * 10.0))
    val series = (quiet ++ shifted ++ flat ++ short)
      .toDF("g", "i", "v")
      .selectExpr("g", "i", "CAST(v AS DECIMAL(18,4)) AS v")
    val got = StatsOps.cusum(series, "g", "i", "v",
        minN = 10, slackSigma = 0.5, threshSigma = 4.0)
      .collect()
      .map(r => (r.getString(0), r.getInt(1)) ->
        ((r.getString(2), r.getDouble(3)))).toMap
    assert(got.keys.forall(_._1 == "a"), "only the shifted series alarms")
    assert(got.nonEmpty, "the planted shift must alarm")
    // local replay of S_i = max(0, S_{i-1} + x_i - k), both directions
    val xs = (quiet ++ shifted).map(_._3)
    val n = xs.length.toDouble
    val (sx, sxx) = (xs.sum, xs.map(x => x * x).sum)
    val mean = sx / n
    val std = math.sqrt((n * sxx - sx * sx) / (n * (n - 1.0)))
    var (sUp, sDn) = (0.0, 0.0)
    val expected = xs.zipWithIndex.flatMap { case (x, ix) =>
      sUp = math.max(0.0, sUp + (x - (mean + 0.5 * std)))
      sDn = math.max(0.0, sDn + ((mean - 0.5 * std) - x))
      if (sUp > 4.0 * std) Some(("a", ix + 1) -> (("up", sUp / std)))
      else if (sDn > 4.0 * std) Some(("a", ix + 1) -> (("down", sDn / std)))
      else None
    }.toMap
    assert(got.keySet == expected.keySet)
    got.foreach { case (k, (dir, stat)) =>
      assert(dir == expected(k)._1, s"$k direction")
      // got is ROUND(…, 4); the replay is unrounded
      assert(math.abs(stat - expected(k)._2) <= 5e-5 + 1e-9, s"$k stat") }
    // the jump day itself is inside the alarm span
    assert(got.keySet.map(_._2).min >= 21 && got.contains(("a", 30)))
  }

  test("q134 CUSUM alarm set matches a local closed-form replay on the " +
      "real daily series") {
    val got = StatsOps.q134Cusum(spark, Sf)
      .selectExpr("event_type", "CAST(day AS STRING) AS day",
        "direction", "stat_sigma")
      .collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getString(2)).toMap
    val daily = Tables.events(spark, Sf)
      .selectExpr("event_type", "CAST(to_date(ts) AS STRING) AS day",
        "CAST(value AS DECIMAL(18,4)) AS v")
      .collect()
      .map(r => ((r.getString(0), r.getString(1)), BigDecimal(r.getDecimal(2))))
      .groupBy(_._1).map { case (k, xs) => (k, xs.map(_._2).sum) }
    val expected = daily.keys.map(_._1).toSeq.distinct.flatMap { et =>
      val mine = daily.filter(_._1._1 == et).toSeq.sortBy(_._1._2)
      val n = mine.length.toDouble
      if (mine.length < 10) Nil
      else {
        val sx = mine.map(_._2.toDouble).sum
        val sxx = mine.map(x => (x._2 * x._2).toDouble).sum
        val std = math.sqrt((n * sxx - sx * sx) / (n * (n - 1.0)))
        if (!(std > 0)) Nil
        else {
          val mean = sx / n
          // the operator's closed form: exact decimal prefix sums
          var cum = BigDecimal(0)
          var (minUp, minDn) = (0.0, 0.0)
          mine.zipWithIndex.flatMap { case (((_, day), v), ix) =>
            cum += v
            val rn = (ix + 1).toDouble
            val pup = cum.toDouble - rn * (mean + 0.25 * std)
            val pdn = rn * (mean - 0.25 * std) - cum.toDouble
            val (su, sd) = (pup - math.min(0.0, math.min(minUp, pup)),
              pdn - math.min(0.0, math.min(minDn, pdn)))
            minUp = math.min(minUp, pup); minDn = math.min(minDn, pdn)
            if (su > 2.0 * std) Some((et, day) -> "up")
            else if (sd > 2.0 * std) Some((et, day) -> "down")
            else None
          }
        }
      }
    }.toMap
    assert(got == expected)
  }

  test("ksTest: identical samples give D = 0, a planted shift is " +
      "significant, and d_ppm matches a local replay") {
    def ks(rows: Seq[(String, Double)]) = {
      val df = rows.toDF("g", "v")
        .selectExpr("CAST(v AS DECIMAL(18,4)) AS v", "g")
      StatsOps.ksTest(df, "v", "g", "a", "b").collect()(0)
    }
    // identical samples: D = 0, not significant
    val same = (1 to 200).flatMap(i =>
      Seq(("a", i * 1.0), ("b", i * 1.0)))
    val r0 = ks(same)
    assert((r0.getLong(0), r0.getLong(1)) == ((200L, 200L)))
    assert(r0.getLong(2) == 0L && !r0.getBoolean(3))
    // planted location shift: b = a + 100 on half the support
    val shift = (1 to 200).map(i => ("a", i * 1.0)) ++
      (1 to 200).map(i => ("b", i * 1.0 + 100.0))
    val r1 = ks(shift)
    // local replay: pooled distinct values, cross-multiplied sup
    val xs = shift.filter(_._1 == "a").map(_._2)
    val ys = shift.filter(_._1 == "b").map(_._2)
    val (n1, n2) = (xs.size.toLong, ys.size.toLong)
    val pooled = (xs ++ ys).distinct.sorted
    val dmax = pooled.map(v =>
      math.abs(xs.count(_ <= v) * n2 - ys.count(_ <= v) * n1)).max
    val dppm = (BigInt(dmax) * 2000000 + BigInt(n1) * n2) /
      (2 * BigInt(n1) * n2)
    assert(r1.getLong(2) == dppm.toLong)
    val d = dmax.toDouble / (n1.toDouble * n2.toDouble)
    val crit = 1.3581 * math.sqrt((n1 + n2).toDouble / (n1.toDouble * n2))
    assert(r1.getBoolean(3) == d > crit && r1.getBoolean(3),
      "the planted shift must be significant")
    // empty arm: null results, no blow-up
    val r2 = ks((1 to 50).map(i => ("a", i * 1.0)))
    assert(r2.isNullAt(2) && r2.isNullAt(3))
  }

  test("q135 KS matches a local replay on the real purchase/click split") {
    val r = StatsOps.q135KsTest(spark, Sf).collect()(0)
    val rows = Tables.events(spark, Sf)
      .selectExpr("event_type", "CAST(value AS DECIMAL(18,4)) AS v")
      .filter("event_type IN ('purchase', 'click')")
      .collect()
      .map(x => (x.getString(0), BigDecimal(x.getDecimal(1))))
    val xs = rows.filter(_._1 == "purchase").map(_._2)
    val ys = rows.filter(_._1 == "click").map(_._2)
    val (n1, n2) = (xs.size.toLong, ys.size.toLong)
    assert((r.getLong(0), r.getLong(1)) == ((n1, n2)))
    val pooled = (xs ++ ys).distinct.sorted
    val dmax = pooled.map(v =>
      (BigInt(xs.count(_ <= v)) * n2 - BigInt(ys.count(_ <= v)) * n1).abs).max
    val dppm = (dmax * 2000000 + BigInt(n1) * n2) / (2 * BigInt(n1) * n2)
    assert(r.getLong(2) == dppm.toLong)
    val d = dmax.toDouble / (n1.toDouble * n2.toDouble)
    val crit = 1.3581 * math.sqrt((n1 + n2).toDouble / (n1.toDouble * n2))
    assert(r.getBoolean(3) == d > crit)
  }

  test("skewProfile: uniform keys give Gini exactly 0; a planted hot " +
      "key matches the local formula; q137 matches a replay") {
    val uniform = (1 to 300).map(i => Tuple1(s"k${i % 30}")).toDF("k")
    val u = StatsOps.skewProfile(uniform, "k").collect()(0)
    assert((u.getLong(1), u.getLong(2), u.getLong(3), u.getLong(4),
      u.getLong(5)) == ((300L, 30L, 10L, 33333L, 0L)))
    def localGini(freqs: Seq[Long]): (Long, Long, Long, Long, Long) = {
      val sorted = freqs.sorted
      val (nk, nr) = (BigInt(sorted.size), BigInt(sorted.sum))
      val s1 = sorted.zipWithIndex.map { case (f, ix) =>
        BigInt(ix + 1) * f }.sum
      val top = (BigInt(sorted.max) * 2000000 + nr) / (2 * nr)
      val gini = ((2 * s1 - (nk + 1) * nr) * 2000000 + nk * nr) /
        (2 * nk * nr)
      (nr.toLong, nk.toLong, sorted.max, top.toLong, gini.toLong)
    }
    // planted hot key: 9 singletons + one key owning 91 rows
    val hot = ((1 to 9).map(i => s"s$i") ++ Seq.fill(91)("hot"))
      .map(Tuple1(_)).toDF("k")
    val h = StatsOps.skewProfile(hot, "k").collect()(0)
    val eh = localGini(Seq.fill(9)(1L) :+ 91L)
    assert((h.getLong(1), h.getLong(2), h.getLong(3), h.getLong(4),
      h.getLong(5)) == eh)
    assert(h.getLong(5) > 800000L, "hot key must read as near-1 Gini")
    // nulls are excluded, not a key
    val withNull = (Seq("a", "a", null, "b").map(Tuple1(_))).toDF("k")
    val wn = StatsOps.skewProfile(withNull, "k").collect()(0)
    assert((wn.getLong(1), wn.getLong(2)) == ((3L, 2L)))
    // real data replay, all three profiled columns
    val got = StatsOps.q137SkewProfile(spark, Sf).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    def freqsOf(df: org.apache.spark.sql.DataFrame, c: String) =
      df.filter(col(c).isNotNull).groupBy(col(c)).count()
        .collect().map(_.getLong(1)).toSeq
    val ev = Tables.events(spark, Sf)
    assert(got("user_id") == localGini(freqsOf(ev, "user_id")))
    assert(got("event_type") == localGini(freqsOf(ev, "event_type")))
    assert(got("l_partkey") ==
      localGini(freqsOf(Tables.lineitem(spark, Sf), "l_partkey")))
  }

  test("q138 Poisson bootstrap matches a local MessageDigest replay " +
      "and brackets the point mean") {
    val r = StatsOps.q138BootstrapCi(spark, Sf).collect()(0)
    val orders = Tables.orders(spark, Sf)
      .selectExpr("o_orderkey", "CAST(o_totalprice AS DECIMAL(18,4))")
      .collect().map(x => (x.getLong(0), BigDecimal(x.getDecimal(1))))
    val t = Seq(424136118829305329L, 848272237658610659L,
      1060340297073263324L, 1131029650211480879L, 1148701988496035267L,
      1152236456152946145L, 1152825534095764625L, 1152909688087595836L,
      1152920207336574738L)
    def hx(key: Long, rep: Int): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s"${key}_$rep".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      java.lang.Long.parseLong(d.take(15), 16)
    }
    def w(h: Long): Int = t.indexWhere(h < _) match {
      case -1 => 9; case k => k
    }
    val means = (0 until 64).flatMap { rep =>
      val ws = orders.map { case (k, p) => (w(hx(k, rep)), p) }
      val nw = ws.map(_._1.toLong).sum
      if (nw == 0) None
      else Some(ws.map { case (wt, p) => p * wt }.sum.toDouble / nw)
    }.sorted
    val n = orders.length.toLong
    val mean = orders.map(_._2).sum.toDouble / n
    assert(r.getLong(0) == n)
    assert(math.abs(r.getDouble(1) - mean) <= 5e-5 + 1e-9)
    assert(math.abs(r.getDouble(2) - means(1)) <= 5e-5 + 1e-9)
    assert(math.abs(r.getDouble(3) - means(62)) <= 5e-5 + 1e-9)
    assert(r.getDouble(2) < r.getDouble(1) && r.getDouble(1) < r.getDouble(3))
  }

  test("weightedMedian: planted weights move the median off the plain " +
      "one; q142 matches a local prefix replay") {
    // values 1..9 weight 1, value 10 weight 100 → weighted median 10
    val planted = ((1 to 9).map(i => ("g", i * 1.0, 1.0, i.toLong, i)) :+
      (("g", 10.0, 100.0, 10L, 10)))
      .toDF("k", "v", "w", "t1", "t2")
    val p = StatsOps.weightedMedian(planted, "k", "v", "w",
      Seq("t1", "t2")).collect()(0)
    assert(p.getLong(1) == 109L && p.getDouble(2) == 10.0)
    val got = StatsOps.q142WeightedMedian(spark, Sf).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    val rows = Tables.lineitem(spark, Sf)
      .selectExpr("l_returnflag",
        "CAST(l_extendedprice AS DECIMAL(18,4)) AS v",
        "CAST(CAST(l_quantity AS DECIMAL(18,4)) AS BIGINT) AS w",
        "l_orderkey", "CAST(l_linenumber AS BIGINT) AS l_linenumber")
      .collect()
      .map(r => (r.getString(0), BigDecimal(r.getDecimal(1)),
        r.getLong(2), r.getLong(3), r.getLong(4)))
    val expected = rows.groupBy(_._1).map { case (g, xs) =>
      val sorted = xs.sortBy(x => (x._2, x._4, x._5))
      val wt = sorted.map(_._3).sum
      var cw = 0L
      val med = sorted.find { x => cw += x._3; 2 * cw >= wt }.get._2
      g -> ((wt, med.toDouble))
    }
    assert(got.keySet == expected.keySet && got.nonEmpty)
    got.foreach { case (g, (wt, m)) =>
      assert(wt == expected(g)._1 && math.abs(m - expected(g)._2) <= 5e-5,
        s"$g") }
  }

  test("mannWhitney: identical samples give z~0, a planted shift is " +
      "significant, all-tied values yield NULL; q143 matches a " +
      "midrank replay") {
    def mw(rows: Seq[(String, Double)]) = {
      val df = rows.toDF("g", "v")
        .selectExpr("CAST(v AS DECIMAL(18,4)) AS v", "g")
      StatsOps.mannWhitney(df, "v", "g", "a", "b").collect()(0)
    }
    val same = (1 to 100).flatMap(i => Seq(("a", i * 1.0), ("b", i * 1.0)))
    val r0 = mw(same)
    assert(math.abs(r0.getDouble(3)) < 0.1 && !r0.getBoolean(4))
    val shifted = (1 to 100).map(i => ("a", i * 1.0)) ++
      (1 to 100).map(i => ("b", i * 1.0 + 60.0))
    val r1 = mw(shifted)
    assert(r1.getBoolean(4), "planted shift must be significant")
    val tied = (1 to 50).flatMap(_ => Seq(("a", 7.0), ("b", 7.0)))
    val r2 = mw(tied)
    assert(r2.isNullAt(3) && r2.isNullAt(4), "zero variance → NULL")
    // real-data midrank replay
    val r = StatsOps.q143MannWhitney(spark, Sf).collect()(0)
    val rows = Tables.events(spark, Sf)
      .selectExpr("event_type", "CAST(value AS DECIMAL(18,4)) AS v")
      .filter("event_type IN ('purchase', 'click')").collect()
      .map(x => (x.getString(0), BigDecimal(x.getDecimal(1))))
    val xs = rows.filter(_._1 == "purchase").map(_._2)
    val ys = rows.filter(_._1 == "click").map(_._2)
    val (n1, n2) = (xs.size.toLong, ys.size.toLong)
    val pooled = (xs ++ ys).groupBy(identity).view
      .mapValues(_.size.toLong).toSeq.sortBy(_._1)
    var prev = 0L
    var r1x2 = BigInt(0); var tsum = BigInt(0)
    pooled.foreach { case (v, ct) =>
      val c1 = xs.count(_ == v).toLong
      val mr2 = 2 * prev + ct + 1
      r1x2 += BigInt(c1) * mr2
      tsum += BigInt(ct) * ct * ct - ct
      prev += ct
    }
    val u1x2 = r1x2 - BigInt(n1) * (n1 + 1)
    assert((r.getLong(0), r.getLong(1)) == ((n1, n2)))
    assert(r.getLong(2) == u1x2.toLong)
    val u1 = u1x2.toDouble / 2.0
    val mu = n1.toDouble * n2.toDouble / 2.0
    val nd = n1.toDouble + n2.toDouble
    val va = (n1.toDouble * n2.toDouble / 12.0) *
      ((nd + 1.0) - tsum.toDouble / (nd * (nd - 1.0)))
    val z = (u1 - mu) / math.sqrt(va)
    assert(math.abs(r.getDouble(3) - z) <= 5e-5 + 1e-9)
    assert(r.getBoolean(4) == math.abs(z) > 1.96)
  }

  test("q144 Benford: digit counts, ppm shares and chi2 contributions " +
      "match a local replay over the real orders") {
    val got = StatsOps.q144Benford(spark, Sf).collect()
      .map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(4)))).toMap
    val prices = Tables.orders(spark, Sf)
      .selectExpr("CAST(o_totalprice AS DECIMAL(18,4)) AS p")
      .filter("p IS NOT NULL AND p > 0").collect()
      .map(r => BigDecimal(r.getDecimal(0)))
    val counts = prices.groupBy(_.toString.head.asDigit).view
      .mapValues(_.size.toLong).toMap
    val n = counts.values.sum
    val expPpm = Map(1 -> 301030L, 2 -> 176091L, 3 -> 124939L,
      4 -> 96910L, 5 -> 79181L, 6 -> 66947L, 7 -> 57992L, 8 -> 51153L,
      9 -> 45757L)
    assert(got.keySet == counts.keySet && got.nonEmpty)
    got.foreach { case (d, (nObs, obsPpm, ePpm, chi)) =>
      assert(nObs == counts(d))
      assert(obsPpm == (2 * counts(d) * 1000000 + n) / (2 * n))
      assert(ePpm == expPpm(d))
      val expCnt = n.toDouble * (expPpm(d).toDouble / 1000000.0)
      val c = (counts(d) - expCnt) * (counts(d) - expCnt) / expCnt
      assert(math.abs(chi - c) <= 5e-5 + 1e-9, s"digit $d")
    }
  }

  test("q145 join-cardinality estimate EQUALS the actual join row " +
      "count (the estimator is exact per construction)") {
    val r = StatsOps.q145JoinCardinality(spark, Sf).collect()(0)
    val actual = Tables.orders(spark, Sf).select(col("o_custkey"))
      .join(Tables.events(spark, Sf).select(col("user_id")),
        col("o_custkey") === col("user_id"))
      .count()
    assert(r.getLong(1) == actual && actual > 0)
    // planted skew: one hot key dominating the product
    import spark.implicits._
    val a = (Seq.fill(10)(1L) ++ Seq(2L, 3L)).toDF("k")
    val b = (Seq.fill(20)(1L) ++ Seq(2L)).toDF("k2")
    val p = StatsOps.joinCardinality(a, "k", b, "k2").collect()(0)
    assert(p.getLong(0) == 2L && p.getLong(1) == 201L &&
      p.getLong(2) == 200L)
    assert(p.getLong(3) == (2L * 200 * 1000000 + 201) / (2 * 201))
  }

  /** BigInt replay of the exact integer ACF pipeline. */
  private def acfReplay(series: Seq[(Long, Long)], maxLag: Int)
      : Map[Long, (Long, Option[Long])] = {
    val n = BigInt(series.size)
    val sx = series.map(x => BigInt(x._2)).sum
    val c = series.map { case (t, x) => t -> (n * x - sx) }.toMap
    val den = c.values.map(v => v * v).sum
    (1 to maxLag).map { k =>
      val pairs = c.toSeq.flatMap { case (t, ca) =>
        c.get(t + k).map(cb => ca * cb) }
      val num = pairs.sum
      val ppm =
        if (den <= 0) None
        else if (num >= 0)
          Some(((2 * num * 1000000 + den) / (2 * den)).toLong)
        else Some(-((2 * (-num) * 1000000 + den) / (2 * den)).toLong)
      k.toLong -> ((pairs.size.toLong, ppm))
    }.toMap
  }

  test("autocorrelation: alternating series is anti-correlated at lag 1 " +
      "and correlated at lag 2; calendar gaps drop pairs; constant " +
      "series yields null") {
    import spark.implicits._
    val alt = (1L to 20L).map(t => (t, if (t % 2 == 0) 10L else 0L))
    val got = StatsOps.autocorrelation(alt.toDF("t", "x"), "t", "x", 2)
      .collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), if (r.isNullAt(2)) None else Some(r.getLong(2)))))
      .toMap
    assert(got == acfReplay(alt, 2))
    assert(got(1L)._2.get < -900000L && got(2L)._2.get >= 900000L)
    // gap days: lag-1 pairs exist only where both calendar days do
    val gap = Seq(1L, 2L, 3L, 10L, 11L, 12L).map(t => (t, t * 7 % 5))
    val g2 = StatsOps.autocorrelation(gap.toDF("t", "x"), "t", "x", 1)
      .collect()(0)
    assert(g2.getLong(1) == 4L)
    // constant series: zero variance -> null ppm, pairs still counted
    val const = (1L to 8L).map(t => (t, 5L))
    val c2 = StatsOps.autocorrelation(const.toDF("t", "x"), "t", "x", 1)
      .collect()(0)
    assert(c2.getLong(1) == 7L && c2.isNullAt(2))
  }

  test("kaplanMeier: textbook planted case — deaths step the curve, " +
      "censoring only shrinks the risk set; exact truncating ppm") {
    import spark.implicits._
    val spans = Seq((1L, 1L), (2L, 0L), (3L, 1L), (3L, 1L), (4L, 0L),
      (5L, 1L)).toDF("dur", "ev")
    val got = StatsOps.kaplanMeier(spans, "dur", "ev").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq == Seq((1L, 6L, 1L, 833333L),
      (3L, 4L, 2L, 416666L), (5L, 1L, 1L, 0L)))
  }

  test("q149 survival matches a local replay of the censored user " +
      "lifetimes; curve is non-increasing from 1e6") {
    val got = StatsOps.q149Survival(spark, Sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1)
    val per = Tables.events(spark, Sf)
      .selectExpr("user_id", "unix_micros(ts) AS m")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).values
      .map(xs => (xs.map(_._2).min, xs.map(_._2).max)).toSeq
    val hz = per.map(_._2).max
    val spans = per.map { case (m0, m1) =>
      ((m1 - m0) / 86400000000L, if (m1 < hz - 86400000000L) 1L else 0L) }
    val hist = spans.groupBy(_._1).view.mapValues(xs =>
      (xs.size.toLong, xs.map(_._2).sum)).toSeq.sortBy(_._1)
    var atRisk = hist.map(_._2._1).sum
    var s = 1000000L
    val expected = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Long, Long, Long)]
    hist.foreach { case (t, (c, d)) =>
      if (d > 0) { s = s * (atRisk - d) / atRisk
        expected += ((t, atRisk, d, s)) }
      atRisk -= c
    }
    assert(got.nonEmpty && got.toSeq == expected.toSeq)
    assert(got.map(_._4).toSeq == got.map(_._4).sorted.reverse.toSeq)
  }

  test("theilSen: planted line with an outlier recovers the exact " +
      "slope and intercept the outlier cannot drag") {
    import spark.implicits._
    val pts = (1L to 10L).map(t =>
      (t, 5L * t + 3L + (if (t == 7L) 1000L else 0L)))
    val got = StatsOps.theilSen(pts.toDF("t", "v"), "t", "v").collect()(0)
    assert(got.getLong(0) == 45L)          // C(10,2) pairs
    assert(got.getLong(1) == 5000000L)     // exactly 5 per day, in e6
    assert(got.getLong(2) == 3000000L)     // exactly 3, in e6
  }

  test("q153 Theil-Sen matches a full BigInt replay of the pairwise " +
      "slope and residual medians") {
    val got = StatsOps.q153TheilSen(spark, Sf).collect()(0)
    val daily = Tables.orders(spark, Sf)
      .selectExpr(
        "unix_micros(CAST(o_orderdate AS TIMESTAMP)) DIV 86400000000 AS d",
        "CAST(CAST(o_totalprice AS DECIMAL(18,4)) * 100 AS LONG) AS c")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).sum).toSeq.sortBy(_._1)
    def rhu(a: BigInt, b: BigInt): Long =  // round-half-up a/b, b > 0
      (if (a >= 0) (2 * a * 1000000 + b) / (2 * b)
       else -((2 * -a * 1000000 + b) / (2 * b))).toLong
    val slopes2 = (for {
      i <- daily.indices; j <- (i + 1) until daily.length
    } yield rhu(BigInt(daily(j)._2 - daily(i)._2),
        BigInt(daily(j)._1 - daily(i)._1))).sorted
    val slope = slopes2((slopes2.length + 1) / 2 - 1)
    val resid = daily.map { case (t, v) =>
      BigInt(v) * 1000000 - BigInt(slope) * t }.sorted
    val icept = resid((resid.length + 1) / 2 - 1)
    assert(got.getLong(0) == slopes2.length.toLong)
    assert(got.getLong(1) == slope, s"slope ${got.getLong(1)} vs $slope")
    assert(got.getLong(2) == icept.toLong)
  }

  test("r14 theilSen driver kernel and the relational spelling agree " +
      "exactly (conf-gated differential)") {
    def row3(df: org.apache.spark.sql.DataFrame) = {
      val r = df.collect()(0); (r.getLong(0), r.getLong(1), r.getLong(2))
    }
    val drv = row3(StatsOps.q153TheilSen(spark, Sf))
    val rel = Gates.withMode(spark, Gates.Relational)(
      row3(StatsOps.q153TheilSen(spark, Sf)))
    assert(drv == rel, s"driver $drv vs relational $rel")
  }

  test("wilsonLcb: a 2-of-2 group cannot outrank 180-of-200; values " +
      "match the closed-form replay") {
    import spark.implicits._
    val rows = Seq.fill(2)(("tiny", 1L)) ++
      Seq.fill(180)(("big", 1L)) ++ Seq.fill(20)(("big", 0L))
    val got = StatsOps.wilsonLcb(rows.toDF("g", "s"), "g", "s").collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        r.getDouble(3)))).toMap
    def lcb(k: Long, n: Long): Double = {
      val z = 1.96; val nd = n.toDouble; val p = k.toDouble / nd
      val v = (p + z * z / (2.0 * nd) -
        z * math.sqrt(p * (1.0 - p) / nd + z * z / (4.0 * nd * nd))) /
        (1.0 + z * z / nd)
      BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    assert(got("tiny") == ((2L, 2L, lcb(2, 2))))
    assert(got("big") == ((200L, 180L, lcb(180, 200))))
    assert(got("big")._3 > got("tiny")._3)
  }

  test("q154 Wilson ranking matches a local replay over all brands") {
    val got = StatsOps.q154WilsonLcb(spark, Sf).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        r.getDouble(3)))).toMap
    val rows = Tables.lineitem(spark, Sf)
      .join(Tables.part(spark, Sf),
        col("l_partkey") === col("p_partkey"))
      .selectExpr("p_brand",
        "CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS ret")
      .collect().map(r => (r.getString(0), r.getInt(1)))
    assert(got.nonEmpty)
    rows.groupBy(_._1).foreach { case (b, xs) =>
      val (n, k) = (xs.length.toLong, xs.map(_._2.toLong).sum)
      val z = 1.96; val nd = n.toDouble; val p = k.toDouble / nd
      val v = (p + z * z / (2.0 * nd) -
        z * math.sqrt(p * (1.0 - p) / nd + z * z / (4.0 * nd * nd))) /
        (1.0 + z * z / nd)
      val exp = BigDecimal(v).setScale(6,
        BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(got(b)._1 == n && got(b)._2 == k)
      assert(math.abs(got(b)._3 - exp) < 1e-9, s"$b")
    }
  }

  test("cramersV: perfect 2x2 association gives V = 1, independence " +
      "gives V = 0") {
    import spark.implicits._
    val perfect = (Seq.fill(10)(("a1", "b1")) ++ Seq.fill(10)(("a2", "b2")))
      .toDF("x", "y")
    val p = StatsOps.cramersV(perfect, "x", "y").collect()(0)
    assert(p.getLong(0) == 20L && p.getDouble(3) == 20.0 &&
      p.getDouble(4) == 1.0)
    val indep = (for (a <- Seq("a1", "a2"); b <- Seq("b1", "b2");
      _ <- 1 to 5) yield (a, b)).toDF("x", "y")
    val i = StatsOps.cramersV(indep, "x", "y").collect()(0)
    assert(i.getDouble(3) == 0.0 && i.getDouble(4) == 0.0)
    // single-level variable -> NULL V
    val deg = Seq.fill(4)(("a", "b")).toDF("x", "y")
    assert(StatsOps.cramersV(deg, "x", "y").collect()(0).isNullAt(4))
  }

  test("q155 Cramer's V matches a BigInt replay of the integer-e12 " +
      "chi-square pipeline") {
    val got = StatsOps.q155CramersV(spark, Sf).collect()(0)
    val rows = Tables.documents(spark, Sf)
      .filter(col("lang").isNotNull && col("source").isNotNull)
      .select("lang", "source").collect()
      .map(r => (r.getString(0), r.getString(1)))
    val cont = rows.groupBy(identity).view.mapValues(_.length.toLong)
    val ra = rows.groupBy(_._1).view.mapValues(_.length.toLong).toMap
    val cb = rows.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    val n = rows.length.toLong
    val s12 = cont.map { case ((a, b), o) =>
      val den = BigInt(ra(a)) * cb(b)
      (2 * BigInt(o) * o * BigInt("1000000000000") + den) / (2 * den)
    }.sum
    val chi2e12 = BigInt(n) * (s12 - BigInt("1000000000000"))
    val chi2 = BigDecimal(chi2e12.toDouble / 1e12).setScale(6,
      BigDecimal.RoundingMode.HALF_UP).toDouble
    val mind = math.min(ra.size, cb.size) - 1
    val v = BigDecimal(math.sqrt(chi2e12.toDouble /
      (n.toDouble * mind.toDouble * 1e12))).setScale(6,
      BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got.getLong(0) == n && got.getLong(1) == ra.size.toLong &&
      got.getLong(2) == cb.size.toLong)
    assert(math.abs(got.getDouble(3) - chi2) < 1e-6)
    assert(math.abs(got.getDouble(4) - v) < 1e-6)
  }

  test("q148 ACF matches a full BigInt replay of the daily revenue " +
      "series") {
    val got = StatsOps.q148Acf(spark, Sf).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), if (r.isNullAt(2)) None else Some(r.getLong(2)))))
      .toMap
    val daily = Tables.orders(spark, Sf)
      .selectExpr(
        "unix_micros(CAST(o_orderdate AS TIMESTAMP)) DIV 86400000000 AS d",
        "CAST(CAST(o_totalprice AS DECIMAL(18,4)) * 100 AS LONG) AS c")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).sum).toSeq
    assert(got.size == 7 && got.values.forall(_._1 > 0))
    assert(got == acfReplay(daily, 7))
  }

  test("momentShape: symmetric data has zero skew, constant group is " +
      "NULL, and values match a BigInt power-sum replay") {
    val df = Seq(
      ("sym", 1.0), ("sym", 2.0), ("sym", 3.0),
      ("skew", 1.0), ("skew", 1.0), ("skew", 1.0), ("skew", 10.0),
      ("flat", 5.0), ("flat", 5.0)).toDF("g", "v")
    val got = StatsOps.momentShape(df, Seq("g"), "v").collect()
      .map(r => r.getString(0) -> r).toMap
    assert(got("flat").isNullAt(2) && got("flat").isNullAt(3))
    assert(got("sym").getDouble(2) == 0.0)
    assert(got("skew").getDouble(2) > 0.5) // long right tail
    // replay with the identical IEEE tree on exact scaled power sums
    def replay(vs: Seq[Double]): (Double, Double) = {
      val xs = vs.map(v => BigInt((v * 10000).round))
      val n = xs.length.toDouble
      val Seq(s1, s2, s3, s4) = (1 to 4).map(p =>
        xs.map(_.pow(p)).sum.toDouble)
      val m2 = s2/n - (s1/n)*(s1/n)
      val m3 = s3/n - 3*(s1/n)*(s2/n) + 2*(s1/n)*(s1/n)*(s1/n)
      val m4 = s4/n - 4*(s1/n)*(s3/n) + 6*(s1/n)*(s1/n)*(s2/n) -
        3*(s1/n)*(s1/n)*(s1/n)*(s1/n)
      def r4(d: Double) = BigDecimal(d).setScale(4,
        BigDecimal.RoundingMode.HALF_UP).toDouble
      (r4(m3/(math.sqrt(m2)*m2)), r4(m4/(m2*m2) - 3))
    }
    val (sk, ku) = replay(Seq(1.0, 1.0, 1.0, 10.0))
    assert(got("skew").getDouble(2) == sk &&
      got("skew").getDouble(3) == ku)
  }

  test("ewmaHalfLife: first row equals its own value, constant series " +
      "stays constant, and the smoother matches a truncated-convolution " +
      "replay") {
    val series = Seq(
      ("a", 1L, 1000L), ("a", 2L, 2000L), ("a", 3L, 1000L),
      ("a", 4L, 4000L), ("a", 5L, 0L),
      ("b", 1L, 7L), ("b", 2L, 7L), ("b", 3L, 7L))
      .toDF("k", "t", "x")
      .withColumn("x", col("x").cast("decimal(38,0)"))
    val got = StatsOps.ewmaHalfLife(series, "k", "t", "x", 3).collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(3)).toMap
    assert(got(("b", 1L)) == 7L && got(("b", 2L)) == 7L &&
      got(("b", 3L)) == 7L)
    // replay: weights 4,2,1 over present lags, round-half-up
    val xs = Map(1L -> 1000L, 2L -> 2000L, 3L -> 1000L, 4L -> 4000L,
      5L -> 0L)
    for (t <- 1L to 5L) {
      val terms = (0 until 3).flatMap(j =>
        xs.get(t - j).map(v => (v, 1L << (2 - j))))
      val num = terms.map { case (v, w) => v * w }.sum
      val den = terms.map(_._2).sum
      assert(got(("a", t)) == (2 * num + den) / (2 * den), s"t=$t")
    }
    // q160 wiring: smoothed series exists and starts at its own value
    val q = StatsOps.q160Ewma(spark, Sf)
      .orderBy(col("l_returnflag"), col("day")).limit(1).collect().head
    assert(q.getLong(2) == q.getLong(3))
  }

  test("q172 rolling median matches a local order-statistic replay " +
      "and shrugs off a single outlier day") {
    // `day` is a DATE since r11 (to_date, matching the oracle's type)
    val got = StatsOps.q172RollingMedian(spark, Sf).collect()
      .map { r =>
        val day = r.get(1) match {
          case d: java.sql.Date => d.toLocalDate
          case d: java.time.LocalDate => d
        }
        (r.getString(0), day) -> ((r.getLong(2), r.getLong(3)))
      }.toMap
    val daily = Tables.lineitem(spark, Sf)
      .filter(col("l_shipdate").isNotNull)
      .selectExpr("l_returnflag",
        "CAST(to_date(l_shipdate) AS STRING) AS day",
        "CAST(CAST(l_extendedprice AS DECIMAL(18,4)) * 10000 AS LONG) AS u")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      .groupBy(x => (x._1, x._2)).view.mapValues(_.map(_._3).sum).toSeq
    daily.groupBy(_._1._1).foreach { case (_, rows) =>
      val series = rows.sortBy(_._1._2)
      series.indices.foreach { i =>
        val win = series.slice(math.max(0, i - 6), i + 1).map(_._2)
          .sorted
        val med = win((win.length + 1) / 2 - 1)
        val key = (series(i)._1._1,
          java.time.LocalDate.parse(series(i)._1._2))
        assert(got(key) == ((series(i)._2, med)), s"at $key")
      }
    }
    assert(got.nonEmpty)
  }

  test("mannKendall: monotone series maxes S, constant series has " +
      "zero variance (NULL z), and a tied series matches the " +
      "closed-form tie correction") {
    val up = (1L to 10L).map(i => (i, i * 10)).toDF("t", "v")
    val gUp = StatsOps.mannKendall(up, "t", "v").collect().head
    assert(gUp.getLong(0) == 10L && gUp.getLong(1) == 45L)
    assert(gUp.getLong(2) == 10L * 9 * 25 && gUp.getDouble(3) > 0)
    val flat = (1L to 8L).map(i => (i, 7L)).toDF("t", "v")
    val gFlat = StatsOps.mannKendall(flat, "t", "v").collect().head
    assert(gFlat.getLong(1) == 0L && gFlat.getLong(2) == 0L &&
      gFlat.isNullAt(3))
    // ties: values 1,2,2,3 -> S = sum signs; var18 = n(n-1)(2n+5) -
    // 2*1*9 for the one tie pair of size 2
    val tied = Seq((1L, 1L), (2L, 2L), (3L, 2L), (4L, 3L)).toDF("t", "v")
    val gT = StatsOps.mannKendall(tied, "t", "v").collect().head
    assert(gT.getLong(1) == 5L)
    assert(gT.getLong(2) == 4L * 3 * 13 - 2 * 1 * 9)
    // q173 wiring runs and is 1-row
    assert(StatsOps.q173MannKendall(spark, Sf).collect().length == 1)
  }

  test("q165 decile lift: bins partition the population, final " +
      "cumulative lift is exactly the base rate, and a local replay " +
      "matches") {
    val got = StatsOps.q165DecileLift(spark, Sf).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))).toMap
    val cust = Tables.customer(spark, Sf)
      .selectExpr("c_custkey",
        "CAST(CAST(c_acctbal AS DECIMAL(18,4)) * 100 AS LONG) AS s")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val urgent = Tables.orders(spark, Sf)
      .filter(col("o_orderpriority") === "1-URGENT")
      .select("o_custkey").collect().map(_.getLong(0)).toSet
    val n = cust.length.toLong
    val ranked = cust.sortBy { case (k, s) => (-s, k) }.zipWithIndex
    val byDec = ranked.groupBy { case (_, i) => i.toLong * 10 / n + 1 }
      .view.mapValues { rows =>
        val resp = rows.count { case ((k, _), _) => urgent(k) }.toLong
        (rows.length.toLong, resp)
      }.toMap
    val tResp = cust.count { case (k, _) => urgent(k) }.toLong
    assert(got.keySet == (1L to 10L).toSet)
    assert(got.values.map(_._1).sum == n)
    var cumN = 0L; var cumR = 0L
    for (dec <- 1L to 10L) {
      val (nc, resp) = byDec(dec)
      cumN += nc; cumR += resp
      val rate = (2 * BigInt(resp) * 1000000 + nc) / (2 * BigInt(nc))
      val lift = (2 * BigInt(cumR) * n * 1000000 + BigInt(cumN) * tResp) /
        (2 * BigInt(cumN) * tResp)
      assert(got(dec) == ((nc, resp, rate.toLong, lift.toLong)), s"d$dec")
    }
    assert(got(10L)._4 == 1000000L) // whole population = base rate
  }

  test("q166 RFM: quintiles are balanced within one, 5 means best on " +
      "every axis, and scores match a local rank replay") {
    val got = StatsOps.q166Rfm(spark, Sf).collect()
      .map(r => r.getLong(0) -> ((r.getLong(3), r.getLong(4),
        r.getLong(5), r.getString(6)))).toMap
    val per = Tables.orders(spark, Sf)
      .filter(col("o_orderdate").isNotNull)
      .groupBy("o_custkey")
      .agg(max(col("o_orderdate")).as("lo"), count(lit(1)).as("f"),
        sum(expr("CAST(CAST(o_totalprice AS DECIMAL(18,4)) * 100 AS LONG)"))
          .as("m"))
      .selectExpr("o_custkey", "CAST(lo AS STRING) AS lo", "f",
        "CAST(m AS LONG) AS m")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3)))
    val n = per.length.toLong
    def quint[A](xs: Seq[(Long, A)])(implicit o: Ordering[A])
        : Map[Long, Long] =
      xs.sortBy { case (k, v) => (v, k) }.zipWithIndex
        .map { case ((k, _), i) => k -> (i.toLong * 5 / n + 1) }.toMap
    val r = quint(per.map(x => (x._1, x._2)).toSeq)
    val f = quint(per.map(x => (x._1, (x._3, 0L))).toSeq)
    val m = quint(per.map(x => (x._1, (x._4, 0L))).toSeq)
    assert(got.size.toLong == n && n > 100)
    per.foreach { case (k, _, _, _) =>
      val (rs, fs, ms, seg) = got(k)
      assert((rs, fs, ms) == ((r(k), f(k), m(k))), s"cust $k")
      assert(seg == s"$rs$fs$ms")
    }
    // balance: each axis's quintile sizes differ by at most 1
    Seq(3, 4, 5).foreach { idx =>
      val sizes = got.values.groupBy(v => idx match {
        case 3 => v._1; case 4 => v._2; case 5 => v._3
      }).values.map(_.size)
      assert(sizes.max - sizes.min <= 1)
    }
    // best customer by monetary carries m_score 5
    val best = per.maxBy(x => (x._4, x._1))._1
    assert(got(best)._3 == 5L)
  }

  test("q188 seasonal decomposition equals a local integer replay; " +
      "components reassemble the series exactly") {
    val got = StatsOps.q188SeasonalDecomp(spark, Sf).collect()
      .map(r => r.getDate(0).toLocalDate ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5)))).toMap
    val daily = Tables.orders(spark, Sf)
      .filter(col("o_orderdate").isNotNull)
      .selectExpr("CAST(o_orderdate AS DATE) AS day",
        "CAST(CAST(o_totalprice AS DECIMAL(18,4)) * 10000 AS LONG) AS v")
      .groupBy("day").agg(sum(col("v")).as("v"))
      .collect().map(r => (r.getDate(0).toLocalDate, r.getLong(1)))
      .sortBy(_._1.toEpochDay)
    val vs = daily.map(_._2)
    def halfUp(sd: Long, nd: Long): Long =
      if (sd >= 0) (2 * sd + nd) / (2 * nd)
      else -((2 * -sd + nd) / (2 * nd))
    val interior = (3 until daily.length - 3).map { i =>
      val s7 = (i - 3 to i + 3).map(vs).sum
      val trend = (2 * s7 + 7) / 14
      val dow = daily(i)._1.getDayOfWeek.getValue.toLong
      (daily(i)._1, vs(i), trend, dow, vs(i) - trend)
    }
    val seasonal = interior.groupBy(_._4).map { case (dw, rows) =>
      dw -> halfUp(rows.map(_._5).sum, rows.length.toLong)
    }
    val expect = interior.map { case (day, v, tr, dw, d) =>
      day -> ((v, tr, dw, seasonal(dw), d - seasonal(dw)))
    }.toMap
    assert(got == expect && got.nonEmpty)
    // reassembly: value = trend + seasonal + remainder on every row
    got.foreach { case (day, (v, tr, _, se, re)) =>
      assert(v == tr + se + re, s"$day does not reassemble")
    }
  }

  test("q189 lead-lag equals a BigInt local replay at every lag; " +
      "lag 0 is the plain same-day regression") {
    val got = StatsOps.q189LeadLag(spark, Sf).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2))))).toMap
    val daily = Tables.orders(spark, Sf)
      .filter(col("o_orderdate").isNotNull && col("o_totalprice").isNotNull)
      .selectExpr(
        "unix_micros(CAST(o_orderdate AS TIMESTAMP)) DIV 86400000000 AS day",
        "CAST(CAST(o_totalprice AS DECIMAL(18,4)) * 100 AS LONG) AS cents")
      .groupBy("day")
      .agg(count(lit(1)).cast("long").as("x"), sum(col("cents")).as("y"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val byDay = daily.map(t => t._1 -> ((t._2, t._3))).toMap
    def halfUpSigned(num: BigInt, den: BigInt): BigInt =
      if (num >= 0) (2 * num + den) / (2 * den)
      else -((2 * -num + den) / (2 * den))
    val expect = (-7L to 7L).map { lag =>
      val pairs = daily.flatMap { case (d, x, _) =>
        byDay.get(d + lag).map { case (_, y2) => (BigInt(x), BigInt(y2)) }
      }
      val n = BigInt(pairs.length)
      val sx = pairs.map(_._1).sum
      val sy = pairs.map(_._2).sum
      val sxy = pairs.map(p => p._1 * p._2).sum
      val sxx = pairs.map(p => p._1 * p._1).sum
      val den = n * sxx - sx * sx
      val beta = if (den > 0)
        Some(halfUpSigned((n * sxy - sx * sy) * 1000000, den).toLong)
      else None
      lag -> ((pairs.length.toLong, beta))
    }.toMap
    assert(got == expect && got.size == 15)
    // a non-degenerate series must regress on itself at lag 0
    assert(got(0L)._1 > 0)
  }

  test("q195 Gini ranking equals a BigInt local replay; a perfectly " +
      "uninformative feature gains ~0") {
    val got = StatsOps.q195GiniRank(spark, Sf).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3)))).toMap
    val o = Tables.orders(spark, Sf)
      .selectExpr("o_orderkey", "o_orderstatus", "o_orderpriority",
        "CAST(year(o_orderdate) AS STRING) AS yr", "o_custkey")
      .collect().map(r => (r.getString(1), r.getString(2),
        if (r.isNullAt(3)) null else r.getString(3), r.getLong(4)))
    val seg = Tables.customer(spark, Sf)
      .select(col("c_custkey"), col("c_mktsegment"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    def halfUp(num: BigInt, den: BigInt): BigInt = (2 * num + den) / (2 * den)
    def splitOf(pairs: Seq[(String, String)]): (Long, Long) = {
      val fixed = pairs.map { case (v, c) =>
        (Option(v).getOrElse("∅"), Option(c).getOrElse("∅")) }
      val n = BigInt(fixed.length)
      val terms = fixed.groupBy(_._1).values.toSeq.map { rows =>
        val nv = BigInt(rows.length)
        val s2 = rows.groupBy(_._2).values
          .map(g => BigInt(g.length) * g.length).sum
        halfUp((nv * nv - s2) * 1000000000, n * nv)
      }
      (terms.length.toLong, terms.sum.toLong)
    }
    val rootCounts = o.groupBy(_._1).values.map(g => BigInt(g.length))
    val n = rootCounts.sum
    val root = halfUp((n * n - rootCounts.map(c => c * c).sum) * 1000000000,
      n * n).toLong
    val expect = Map(
      "o_orderpriority" -> splitOf(o.map(t => (t._2, t._1))),
      "order_year" -> splitOf(o.map(t => (t._3, t._1))),
      "c_mktsegment" -> splitOf(o.flatMap(t =>
        seg.get(t._4).map(sg => (sg, t._1)))))
      .map { case (f, (nv, sp)) => f -> ((nv, sp, root - sp)) }
    assert(got == expect && got.size == 3)
    // synthetic: independent feature gains ~0 (rounding units only) —
    // each of the 4 values sees both classes equally
    val ind = (0 until 1000).map(i =>
      (((i / 2) % 4).toString, (i % 2).toString))
    val (_, sInd) = splitOf(ind)
    val rc = ind.groupBy(_._2).values.map(g => BigInt(g.length))
    val ni = BigInt(ind.length)
    val rInd = halfUp((ni * ni - rc.map(c => c * c).sum) * 1000000000,
      ni * ni).toLong
    assert(math.abs(rInd - sInd) <= 4)
  }

  test("q200 Holt smoothing equals a plain-Scala integer fold from raw " +
      "orders; a constant series converges to level=y, trend=0") {
    def rhalf(x: Long, k: Int): Long =
      if (x >= 0) (x * 2 + (1L << k)) >> (k + 1)
      else -(((-x) * 2 + (1L << k)) >> (k + 1))
    def fold(ys: Seq[Long]): (Long, Long) =
      ys.tail.foldLeft((ys.head, 0L)) { case ((l, b), y) =>
        val l1 = rhalf(y + l + b, 1)
        (l1, rhalf(l1 - l + 3 * b, 2))
      }
    val got = StatsOps.q200HoltSmoothing(spark, Sf).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))).toMap
    // independent replay: raw orders -> nation -> daily e4 sums ->
    // day-ordered fold in plain Scala
    def lv(r: org.apache.spark.sql.Row, i: Int): Long =
      r.get(i).asInstanceOf[Number].longValue
    val nat = Tables.nation(spark, Sf)
      .select(col("n_nationkey"), col("n_name")).collect()
      .map(r => lv(r, 0) -> r.getString(1)).toMap
    val cust = Tables.customer(spark, Sf)
      .select(col("c_custkey"), col("c_nationkey")).collect()
      .map(r => lv(r, 0) -> lv(r, 1)).toMap
    val daily = Tables.orders(spark, Sf)
      .filter(col("o_orderdate").isNotNull && col("o_totalprice").isNotNull)
      .select(col("o_custkey"),
        date_trunc("day", col("o_orderdate")).as("day"),
        (col("o_totalprice").cast("decimal(18,4)") * 10000)
          .cast("long").as("u")).collect()
      .map(r => (nat(cust(lv(r, 0))), r.get(1).toString,
        r.getLong(2)))
      .groupBy(t => (t._1, t._2))
      .map { case ((n, d), rows) => (n, d, rows.map(_._3).sum) }
    val expect = daily.groupBy(_._1).map { case (n, rows) =>
      val ys = rows.toSeq.sortBy(_._2).map(_._3)
      val (l, b) = fold(ys)
      n -> ((ys.length.toLong, l, b, l + 7 * b))
    }
    assert(got == expect && got.nonEmpty)
    // structural sanity on a planted constant series
    assert(fold(Seq.fill(50)(1000L)) == ((1000L, 0L)))
  }

  test("q210 spend Gini equals a BigInt local replay; bounded in " +
      "[0, 1e6) and zero on an equal-spend population") {
    def lv(r: org.apache.spark.sql.Row, i: Int): Long =
      r.get(i).asInstanceOf[Number].longValue
    val got = StatsOps.q210SpendGini(spark, Sf).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3)))).toMap
    val cust = Tables.customer(spark, Sf)
      .select(col("c_custkey"), col("c_nationkey")).collect()
      .map(r => lv(r, 0) -> lv(r, 1)).toMap
    val nat = Tables.nation(spark, Sf)
      .select(col("n_nationkey"), col("n_name")).collect()
      .map(r => lv(r, 0) -> r.getString(1)).toMap
    val spend = Tables.orders(spark, Sf)
      .filter(col("o_totalprice").isNotNull)
      .select(col("o_custkey"),
        (col("o_totalprice").cast("decimal(18,4)") * 10000).cast("long"))
      .collect().map(r => (lv(r, 0), r.getLong(1)))
      .groupBy(_._1).map { case (c, v) => (c, v.map(_._2).sum) }
    def gini(xs: Seq[Long]): Long = {
      val s = xs.sorted
      val n = BigInt(s.length)
      val sx = s.map(BigInt(_)).sum
      val six = s.zipWithIndex.map { case (x, i) =>
        BigInt(i + 1) * x }.sum
      val num = (2 * six - (n + 1) * sx) * 1000000
      ((2 * num + n * sx) / (2 * n * sx)).toLong
    }
    val expect = spend.toSeq.groupBy(t => nat(cust(t._1)))
      .map { case (nt, rows) =>
        val xs = rows.map(_._2)
        nt -> ((xs.length.toLong, xs.sum, gini(xs)))
      }
    assert(got == expect && got.nonEmpty)
    got.values.foreach { case (_, _, g) => assert(g >= 0 && g < 1000000) }
    assert(gini(Seq.fill(40)(777L)) == 0L)
  }

  test("q211 isotonic calibration equals an independent PAVA-stack " +
      "replay; fits are monotone and preserve the weighted sum") {
    def lv(r: org.apache.spark.sql.Row, i: Int): Long =
      r.get(i).asInstanceOf[Number].longValue
    // the operator uses the minimax closed form; this replay runs the
    // O(m) pool-adjacent-violators STACK algorithm — an independent
    // derivation of the same LSQ-optimal fit
    def pava(cells: Seq[(Long, Long)]): Seq[(BigInt, BigInt)] = {
      // cells: (w, sy) in series order; returns per-cell (num, den)
      val stack = collection.mutable.ArrayBuffer[(BigInt, BigInt, Int)]()
      cells.foreach { case (w, sy) =>
        var blk = (BigInt(sy), BigInt(w), 1)
        while (stack.nonEmpty &&
            stack.last._1 * blk._2 >= blk._1 * stack.last._2) {
          val t = stack.remove(stack.length - 1)
          blk = (t._1 + blk._1, t._2 + blk._2, t._3 + blk._3)
        }
        stack += blk
      }
      stack.toSeq.flatMap { case (n0, d0, len) =>
        Seq.fill(len)((n0, d0)) }
    }
    val got = StatsOps.q211IsotonicCalibration(spark, Sf).collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    val parts = Tables.part(spark, Sf)
      .select(col("p_partkey"), col("p_brand")).collect()
      .map(r => lv(r, 0) -> r.getString(1)).toMap
    val raw = Tables.lineitem(spark, Sf)
      .filter(col("l_quantity").isNotNull && col("l_discount").isNotNull)
      .select(col("l_partkey"),
        (col("l_discount").cast("decimal(18,4)") * 100).cast("long"),
        col("l_quantity").cast("decimal(18,4)").cast("long"))
      .collect().map(r => (parts(lv(r, 0)), r.getLong(1), r.getLong(2)))
    val expect = raw.groupBy(_._1).flatMap { case (brand, rows) =>
      val cells = rows.groupBy(_._2).toSeq.sortBy(_._1)
        .map { case (d, v) => (d, v.size.toLong, v.map(_._3).sum) }
      val fit = pava(cells.map(t => (t._2, t._3)))
      cells.zip(fit).map { case ((d, w, sy), (fn, fd)) =>
        (brand, d) -> ((w,
          ((BigInt(20000) * sy + w) / (2 * w)).toLong,
          ((BigInt(20000) * fn + fd) / (2 * fd)).toLong))
      }
    }
    assert(got == expect && got.nonEmpty)
    // monotone non-decreasing per brand in discount order
    got.toSeq.groupBy(_._1._1).foreach { case (b, rows) =>
      val fs = rows.sortBy(_._1._2).map(_._2._3)
      assert(fs.zip(fs.tail).forall { case (a, c) => a <= c }, s"$b: $fs")
    }
    // PAVA on an already-monotone series is the identity
    assert(pava(Seq((5L, 10L), (5L, 20L), (5L, 30L)))
      == Seq((BigInt(10), BigInt(5)), (BigInt(20), BigInt(5)),
        (BigInt(30), BigInt(5))))
    // a strict violation pools to the weighted mean
    assert(pava(Seq((1L, 30L), (1L, 10L)))
      == Seq((BigInt(40), BigInt(2)), (BigInt(40), BigInt(2))))
  }

  test("q221 spearman equals a BigInt local replay on total-order " +
      "ranks; rho is bounded and a permuted self-join sanity holds") {
    val got = graft.operators.StatsOps.q221Spearman(spark, Sf).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val spend = Tables.orders(spark, Sf)
      .filter(col("o_totalprice").isNotNull)
      .selectExpr("o_custkey",
        "CAST(CAST(o_totalprice AS DECIMAL(18,4)) * 10000 AS LONG)" +
          " AS amt").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).sum }
    val cust = Tables.customer(spark, Sf)
      .join(Tables.nation(spark, Sf),
        col("c_nationkey") === col("n_nationkey"))
      .selectExpr("n_name", "c_custkey",
        "CAST(CAST(c_acctbal AS DECIMAL(18,4)) * 10000 AS LONG)" +
          " AS bal").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val expect = cust.groupBy(_._1).collect {
      case (nation, cs) if cs.size >= 2 =>
        val rows = cs.map(c => (c._2, c._3, spend.getOrElse(c._2, 0L)))
        val r = rows.sortBy(t => (t._2, t._1)).zipWithIndex
          .map { case (t, i) => t._1 -> (i + 1L) }.toMap
        val sr = rows.sortBy(t => (t._3, t._1)).zipWithIndex
          .map { case (t, i) => t._1 -> (i + 1L) }.toMap
        val sd2 = rows.map { t =>
          val d = BigInt(r(t._1) - sr(t._1)); d * d }.sum
        val n = BigInt(rows.size)
        val a = n * n * n - n
        val num = a - 6 * sd2
        val ppm = if (num >= 0) (2 * 1000000 * num + a) / (2 * a)
        else -((2 * 1000000 * (-num) + a) / (2 * a))
        nation -> ((rows.size.toLong, ppm.toLong))
    }
    assert(got == expect && got.nonEmpty)
    assert(got.values.forall(v =>
      v._2 >= -1000000L && v._2 <= 1000000L))
  }

  test("q224 forecast backtest equals a local calendar-offset replay; " +
      "MASE is the exact cross-ratio of the two MAEs") {
    val got = graft.operators.StatsOps.q224ForecastBacktest(spark, Sf)
      .collect().map(r => r.getString(0) -> ((r.getLong(1),
        r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    val daily = Tables.events(spark, Sf)
      .selectExpr("event_type",
        "CAST(date_trunc('day', ts) AS DATE) AS day")
      .collect()
      .map(r => ((r.getString(0), r.getDate(1).toLocalDate.toEpochDay),
        1L))
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).sum }
    val expect = daily.keys.map(_._1).toSet.toSeq.flatMap {
      nation: String =>
        val series = daily.collect {
          case ((n, d), y) if n == nation => d -> y }
        val errs = series.toSeq.flatMap { case (d, y) =>
          for { ysn <- series.get(d - 7); ynv <- series.get(d - 1) }
            yield (math.abs(y - ysn), math.abs(y - ynv))
        }
        val (ses, sen) = (errs.map(e => BigInt(e._1)).sum,
          errs.map(e => BigInt(e._2)).sum)
        val n = BigInt(errs.size)
        if (errs.nonEmpty && sen > 0)
          Some(nation -> ((errs.size.toLong,
            ((2 * ses + n) / (2 * n)).toLong,
            ((2 * sen + n) / (2 * n)).toLong,
            ((2 * 1000000 * ses + sen) / (2 * sen)).toLong)))
        else None
    }.toMap
    assert(got == expect && got.nonEmpty)
  }

  test("q252 ROC-AUC: equals a local exact rank-sum replay per source, " +
      "sits in [0, 1e6], and Gini = 2·AUC − 1") {
    val got = StatsOps.q252RocAuc(spark, Sf).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3), if (r.isNullAt(4)) None else Some(r.getLong(4)))))
      .toMap
    val docs = Tables.documents(spark, Sf)
      .select(col("doc_id"), col("lang"), col("source")).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getString(2)))).toMap
    val scored = graft.operators.TextOps
      .q247QualityClassifier(spark, Sf).collect()
      .map(r => (r.getLong(0), r.getLong(3)))
    val bySrc = scored.groupBy { case (id, _) => docs(id)._2 }
    val exp = bySrc.map { case (src, xs) =>
      val labeled = xs.map { case (id, s) =>
        (s, if (docs(id)._1 == "en") 1L else 0L) }
      val n1 = labeled.count(_._2 == 1L).toLong
      val n0 = labeled.size - n1
      // 2U = Σ over positives (2·neg_below + neg_tied)
      val u2 = labeled.filter(_._2 == 1L).map { case (s, _) =>
        BigInt(2L * labeled.count(x => x._2 == 0L && x._1 < s)
          + labeled.count(x => x._2 == 0L && x._1 == s))
      }.sum
      val auc = if (n1 > 0 && n0 > 0)
        Some(((2 * 1000000 * u2 + 2 * BigInt(n1) * n0) /
          (4 * BigInt(n1) * n0)).toLong)
      else None
      src -> ((n1, n0, u2.toLong, auc))
    }
    assert(got.size == exp.size && got.nonEmpty)
    exp.foreach { case (k, v) => assert(got(k) == v, s"source $k") }
    StatsOps.q252RocAuc(spark, Sf).collect().foreach { r =>
      if (!r.isNullAt(4)) {
        val auc = r.getLong(4)
        assert(auc >= 0 && auc <= 1000000L)
        assert(r.getLong(5) == 2 * auc - 1000000L)
      }
    }
  }

  test("q256 SPRT: equals a local sequential walk; decisions stop at " +
      "the first boundary crossing and never after it") {
    import graft.functions.FixedLn
    val l1 = FixedLn.lnE9(5, 3)
    val l0 = -FixedLn.lnE9(7, 5)
    val a = FixedLn.lnE9(19, 1)
    val got = StatsOps.q256Sprt(spark, Sf).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        r.getString(3),
        if (r.isNullAt(4)) None else Some(r.getLong(4)),
        r.getLong(5)))).toMap
    val ev = Tables.events(spark, Sf).filter(col("user_id").isNotNull)
      .select(col("user_id"), unix_micros(col("ts")), col("event_id"),
        when(col("event_type") === "purchase", 1L).otherwise(0L))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val exp = ev.groupBy(_._1).map { case (u, xs) =>
      val ordered = xs.sortBy(x => (x._2, x._3)).map(_._4)
      var llr = 0L
      var stop: Option[(Long, Long, String)] = None
      ordered.zipWithIndex.foreach { case (x, i) =>
        llr += (if (x == 1L) l1 else l0)
        if (stop.isEmpty) {
          if (llr >= a) stop = Some((i + 1L, llr, "accept_h1"))
          else if (llr <= -a) stop = Some((i + 1L, llr, "accept_h0"))
        }
      }
      val (dec, nAt, lOut) = stop match {
        case Some((n, l, dcn)) => (dcn, Some(n), l)
        case None => ("continue", None, llr)
      }
      u -> ((ordered.size.toLong, ordered.count(_ == 1L).toLong, dec,
        nAt, lOut))
    }
    assert(got.size == exp.size && got.nonEmpty)
    exp.foreach { case (k, v) => assert(got(k) == v, s"user $k") }
    // at least one decided user and the boundaries are honored
    assert(got.values.exists(_._3 != "continue"))
    got.values.foreach { case (_, _, dec, nAt, llr) =>
      if (dec == "accept_h1") assert(llr >= a && nAt.nonEmpty)
      if (dec == "accept_h0") assert(llr <= -a && nAt.nonEmpty)
      if (dec == "continue") assert(llr < a && llr > -a && nAt.isEmpty)
    }
  }

  test("q260 CUPED: arms match a local exact-moment replay; the " +
      "adjustment preserves the pooled mean identity") {
    val rows = StatsOps.q260Cuped(spark, Sf).collect()
    val got = rows.map(r => r.getString(0) -> ((r.getLong(1),
      r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    val ev = Tables.events(spark, Sf)
      .filter(col("user_id").isNotNull &&
        col("event_type") === "purchase")
      .select(col("user_id"), unix_micros(col("ts")),
        expr("CAST(CAST(value AS DECIMAL(18,4)) * 10000 AS BIGINT)"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val mid = (ev.map(_._2).min + ev.map(_._2).max) / 2
    val pu = ev.groupBy(_._1).map { case (u, xs) =>
      val md5 = java.security.MessageDigest.getInstance("MD5")
        .digest(u.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      (if (md5.head < '8') "A" else "B",
        xs.filter(_._2 < mid).map(_._3).sum,
        xs.filter(_._2 >= mid).map(_._3).sum)
    }.toSeq
    val n = BigInt(pu.size)
    val sx = pu.map(p => BigInt(p._2)).sum
    val sy = pu.map(p => BigInt(p._3)).sum
    val sxy = pu.map(p => BigInt(p._2) * p._3).sum
    val sxx = pu.map(p => BigInt(p._2) * p._2).sum
    val num = n * sxy - sx * sy
    val dx = n * sxx - sx * sx
    def rhuS(a2: BigInt, b: BigInt): Long =
      (if (a2 >= 0) (2 * a2 + b) / (2 * b)
       else -((2 * -a2 + b) / (2 * b))).toLong
    val theta = rhuS(1000000 * num, dx)
    val exp = pu.groupBy(_._1).map { case (arm, xs) =>
      val na = BigInt(xs.size)
      val sxa = xs.map(p => BigInt(p._2)).sum
      val sya = xs.map(p => BigInt(p._3)).sum
      val t = BigInt(1000000) * sya * n - BigInt(theta) * sxa * n +
        BigInt(theta) * sx * na
      arm -> ((xs.size.toLong, ((2 * sya + na) / (2 * na)).toLong,
        rhuS(t, BigInt(1000000) * na * n), theta))
    }
    assert(got.size == exp.size && got.nonEmpty)
    exp.foreach { case (k, v) => assert(got(k) == v, s"arm $k") }
    rows.foreach { r =>
      val rho2 = r.getDouble(5)
      assert(rho2 >= 0.0 && rho2 <= 1.0)
    }
  }

  test("q261 Hill tail index: equals a local top-k ln fold; alpha is " +
      "positive and the threshold is the 101st largest value") {
    import graft.functions.FixedLn
    val got = StatsOps.q261HillTail(spark, Sf).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3),
        if (r.isNullAt(4)) None else Some(r.getLong(4))))).toMap
    val vals = Tables.orders(spark, Sf)
      .join(Tables.customer(spark, Sf),
        col("o_custkey") === col("c_custkey"))
      .join(Tables.nation(spark, Sf),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("n_name"), col("o_orderkey"),
        expr("""(2 * CAST(CAST(o_totalprice AS DECIMAL(18,4)) * 10000
                 AS BIGINT) + 10) DIV (2 * 10)"""))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val exp = vals.groupBy(_._1).flatMap { case (nat, xs) =>
      val top = xs.sortBy(x => (-x._3, x._2)).take(101).map(_._3)
      if (top.size < 2) None
      else {
        val thr = top.min
        val sl = top.map(v => FixedLn.lnE9(v, thr)).sum
        val k = top.size - 1L
        val alpha = if (sl > 0)
          Some((2000000000000000L * k + sl) / (2 * sl)) else None
        Some(nat -> ((top.size.toLong, k, thr, alpha)))
      }
    }
    assert(got.size == exp.size && got.nonEmpty)
    exp.foreach { case (k, v) => assert(got(k) == v, s"nation $k") }
    got.values.foreach { case (_, _, _, a2) =>
      a2.foreach(a3 => assert(a3 > 0))
    }
  }

  test("q263 Bradley-Terry: equals a local duel replay through the " +
      "same MM recursion; strengths normalize to K·1e9 within rounding") {
    val rows = StatsOps.q263BradleyTerry(spark, Sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    assert(rows.nonEmpty)
    // local duel construction from raw tables
    val li = Tables.lineitem(spark, Sf)
      .join(Tables.part(spark, Sf),
        col("l_partkey") === col("p_partkey"))
      .select(col("l_orderkey"), col("p_brand"),
        expr("""CAST(CAST(l_extendedprice AS DECIMAL(18,4)) * 10000
                AS BIGINT)"""))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val duels = li.groupBy(_._1).toSeq.flatMap { case (_, xs) =>
      val byBrand = xs.groupBy(_._2).view.mapValues(_.map(_._3).sum)
        .toSeq.sortBy { case (b, sp) => (-sp, b) }
      if (byBrand.size < 2) None
      else Some((byBrand(0)._1, byBrand(1)._1))
    }
    val w = duels.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val wins = w.groupBy(_._1._1).map { case (b, m) => b -> m.values.sum }
    val losses = w.groupBy(_._1._2).map { case (b, m) => b -> m.values.sum }
    val items = (wins.keySet intersect losses.keySet).toSeq.sorted
    val inI = items.toSet
    val nij = w.toSeq
      .flatMap { case ((a, b), n) => Seq((a, b) -> n, (b, a) -> n) }
      .filter { case ((a, b), _) => inI(a) && inI(b) }
      .groupBy(_._1).map { case (k2, xs) => k2 -> xs.map(_._2).sum }
    val p = StatsOps.bradleyTerryMm(items, wins, nij, rounds = 15)
    val exp = items.map(b => (b, wins(b), losses(b), p(b).toLong))
      .sortBy { case (b, _, _, st) => (-st, b) }
      .zipWithIndex
      .map { case ((b, wn, ls, st), i) => (b, wn, ls, st, i + 1L) }
    assert(rows.sortBy(_._1).toSeq == exp.sortBy(_._1))
    // normalization invariant: strengths sum to K·1e9 within K ulps
    val k = items.size.toLong
    val tot = rows.map(_._4).sum
    assert(math.abs(tot - k * 1000000000L) <= k,
      s"sum $tot vs ${k * 1000000000L}")
  }

  test("q267 SAX: equals a local PAA/quartile replay; strings are 16 " +
      "symbols from {a,b,c,d} with every symbol class represented") {
    val got = StatsOps.q267Sax(spark, Sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2)))
    val ev = Tables.events(spark, Sf)
      .select(col("event_type"),
        expr("unix_micros(ts) DIV 86400000000")).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val d0 = ev.map(_._2).min
    val d1 = ev.map(_._2).max
    val nDays = d1 - d0 + 1
    val types = ev.map(_._1).distinct
    val exp = types.map { t =>
      val daily = ev.filter(_._1 == t).groupBy(_._2).view
        .mapValues(_.size.toLong).toMap
      val paa = (0L until nDays).groupBy(idx => idx * 16 / nDays)
        .toSeq.sortBy(_._1).map { case (w, idxs) =>
          val sum2 = idxs.map(i => daily.getOrElse(d0 + i, 0L)).sum
          (w, (2 * 100 * sum2 + idxs.size) / (2 * idxs.size))
        }
      val srt = paa.map(_._2).sorted
      val (q1, q2, q3) = (srt(3), srt(7), srt(11))
      val sax = paa.map { case (_, v) =>
        if (v < q1) 'a' else if (v < q2) 'b'
        else if (v < q3) 'c' else 'd' }.mkString
      (t, nDays, sax)
    }
    assert(got.toSet == exp.toSet && got.nonEmpty)
    got.foreach { case (_, _, sax) =>
      assert(sax.length == 16 && sax.forall("abcd".contains(_)))
    }
  }

  test("q268 mutual information: the returnflag×linestatus pair " +
      "equals a local FixedLn replay; NMI bounded") {
    import graft.functions.FixedLn
    val got = StatsOps.q268MutualInfo(spark, Sf).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4),
        if (r.isNullAt(5)) None else Some(r.getLong(5))))).toMap
    assert(got.size == 3)
    val cells = Tables.lineitem(spark, Sf)
      .select(col("l_returnflag"), col("l_linestatus")).collect()
      .map(r => (r.getString(0), r.getString(1)))
    val n = cells.length.toLong
    def ppm(c: Long) = math.max((2000000L * c + n) / (2 * n), 1L)
    val nab = cells.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val na = cells.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val nb = cells.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    val miSum = nab.map { case ((a, b), c) =>
      val pab = ppm(c)
      val den3 = math.max((2 * ppm(na(a)) * ppm(nb(b)) + 1000) / 2000, 1L)
      pab * FixedLn.lnE9Signed(pab * 1000, den3)
    }.sum
    def rhuS(x: Long, dn: Long) =
      if (x >= 0) (2 * x + dn) / (2 * dn) else -((2 * -x + dn) / (2 * dn))
    val miE9 = rhuS(miSum, 1000000L)
    def ent(m: Map[String, Long]) = {
      val s2 = m.values.map { c =>
        val p = ppm(c); p * FixedLn.lnE9(1000000L, p) }.sum
      (2 * s2 + 1000000L) / 2000000L
    }
    val (ha, hb) = (ent(na), ent(nb))
    val nmi = if (math.min(ha, hb) > 0)
      Some((2 * 1000000L * math.max(miE9, 0L) + math.min(ha, hb)) /
        (2 * math.min(ha, hb)))
    else None
    assert(got("returnflag_linestatus") == ((n, miE9, ha, hb, nmi)))
    got.values.foreach { case (_, mi, h1, h2, nm) =>
      assert(mi >= -2000000L && h1 >= 0 && h2 >= 0)
      nm.foreach(v => assert(v >= 0 && v <= 1100000L))
    }
  }

  test("q269 permutation test: equals a full local 200-permutation " +
      "replay; p in (0, 1]") {
    val rows = StatsOps.q269PermutationTest(spark, Sf).collect()
    assert(rows.length == 1)
    val r = rows.head
    val got = (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
      r.getLong(4))
    def md5hex(x: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(x.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val pu = Tables.events(spark, Sf).filter(col("user_id").isNotNull)
      .groupBy(col("user_id"))
      .agg(sum(when(col("event_type") === "purchase", 1L)
        .otherwise(0L)).cast("long")).collect()
      .map(x => (x.getLong(0), x.getLong(1)))
    def diff(arm: Long => Boolean): (BigInt, BigInt) = {
      val (aa, bb) = pu.partition(x => arm(x._1))
      (BigInt(aa.map(_._2).sum) * bb.length -
        BigInt(bb.map(_._2).sum) * aa.length,
        BigInt(aa.length) * bb.length)
    }
    val (onum, oden) = diff(u => md5hex(u.toString).head < '8')
    val perms = (1L to 200L).map(b =>
      diff(u => md5hex(s"$u#$b").head < '8'))
    val nExt = perms.count { case (nm, dn) =>
      nm.abs * oden >= onum.abs * dn }.toLong
    def rhuS(x: BigInt, dn: BigInt) =
      (if (x >= 0) (2 * x + dn) / (2 * dn)
       else -((2 * -x + dn) / (2 * dn))).toLong
    val exp = (pu.length.toLong, 200L, nExt,
      rhuS(1000000 * onum, oden),
      (2 * 1000000L * (1 + nExt) + 201) / (2 * 201))
    assert(got == exp)
    assert(got._5 > 0 && got._5 <= 1000000L)
  }

  test("q271 partial correlation: matches a local BigInt-moment " +
      "double replay; all r's in [-1, 1]") {
    val got = StatsOps.q271PartialCorr(spark, Sf).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5)))).toMap
    val rows = Tables.lineitem(spark, Sf)
      .select(col("l_returnflag"),
        expr("CAST(CAST(l_extendedprice AS DECIMAL(18,4)) * 10000 AS BIGINT)"),
        expr("CAST(CAST(l_quantity AS DECIMAL(18,4)) * 10000 AS BIGINT)"),
        expr("CAST(CAST(l_discount AS DECIMAL(18,4)) * 10000 AS BIGINT)"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val exp = rows.groupBy(_._1).map { case (k, xs) =>
      val n = BigInt(xs.size)
      def s1(f: ((String, Long, Long, Long)) => Long) =
        xs.map(x => BigInt(f(x))).sum
      def s2(f: ((String, Long, Long, Long)) => Long,
          g: ((String, Long, Long, Long)) => Long) =
        xs.map(x => BigInt(f(x)) * g(x)).sum
      val (sx, sy, sz) = (s1(_._2), s1(_._3), s1(_._4))
      def r(sab: BigInt, sa: BigInt, sb: BigInt, saa: BigInt,
          sbb: BigInt) =
        (n * sab - sa * sb).toDouble /
          math.sqrt((n * saa - sa * sa).toDouble *
            (n * sbb - sb * sb).toDouble)
      val rxy = r(s2(_._2, _._3), sx, sy, s2(_._2, _._2), s2(_._3, _._3))
      val rxz = r(s2(_._2, _._4), sx, sz, s2(_._2, _._2), s2(_._4, _._4))
      val ryz = r(s2(_._3, _._4), sy, sz, s2(_._3, _._3), s2(_._4, _._4))
      val part = (rxy - rxz * ryz) /
        math.sqrt((1.0 - rxz * rxz) * (1.0 - ryz * ryz))
      k -> ((xs.size.toLong, rxy, rxz, ryz, part))
    }
    assert(got.size == exp.size && got.nonEmpty)
    exp.foreach { case (k, (n, rxy, rxz, ryz, part)) =>
      val g = got(k)
      assert(g._1 == n)
      assert(math.abs(g._2 - rxy) < 1e-3 && math.abs(g._5 - part) < 1e-3)
      Seq(g._2, g._3, g._4, g._5).foreach(v =>
        assert(v >= -1.0001 && v <= 1.0001))
    }
  }

  test("q272 elasticity: equals a local FixedLn OLS replay") {
    import graft.functions.FixedLn
    val got = StatsOps.q272Elasticity(spark, Sf).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3)))).toMap
    val obs = Tables.lineitem(spark, Sf)
      .join(Tables.part(spark, Sf),
        col("l_partkey") === col("p_partkey"))
      .select(col("p_brand"),
        expr("CAST(CAST(l_quantity AS DECIMAL(18,4)) AS BIGINT)"),
        expr("""CAST(CAST(l_extendedprice AS DECIMAL(18,4)) * 10000
                AS BIGINT)"""))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .filter(_._2 >= 1)
      .map { case (b, q, p) =>
        (b, FixedLn.lnE9((2 * p + q) / (2 * q), 1L),
          FixedLn.lnE9(q, 1L)) }
    val exp = obs.groupBy(_._1).flatMap { case (b, xs) =>
      val n = BigInt(xs.size)
      val sx = xs.map(x => BigInt(x._2)).sum
      val sy = xs.map(x => BigInt(x._3)).sum
      val sxy = xs.map(x => BigInt(x._2) * x._3).sum
      val sxx = xs.map(x => BigInt(x._2) * x._2).sum
      val num = n * sxy - sx * sy
      val den = n * sxx - sx * sx
      if (den <= 0) None
      else {
        def rhuS(a: BigInt, b2: BigInt): Long =
          (if (a >= 0) (2 * a + b2) / (2 * b2)
           else -((2 * -a + b2) / (2 * b2))).toLong
        val sl = rhuS(1000000 * num, den)
        val ic = rhuS(BigInt(1000000) * sy - BigInt(sl) * sx,
          BigInt(1000000) * n)
        Some(b -> ((xs.size.toLong, sl, ic)))
      }
    }
    assert(got.size == exp.size && got.nonEmpty)
    exp.foreach { case (k, v) => assert(got(k) == v, s"brand $k") }
  }

  test("q273 AMS sketch: exact md5-sign replay; the 16-estimator " +
      "median lands within 3x of the true F2") {
    val rows = StatsOps.q273AmsSketch(spark, Sf).collect()
    assert(rows.length == 1)
    val r = rows.head
    val got = (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
      r.getLong(4))
    def md5hex(x: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(x.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val freq = Tables.lineitem(spark, Sf)
      .groupBy(col("l_partkey")).agg(count(lit(1)).cast("long"))
      .collect().map(x => (x.getLong(0), x.getLong(1)))
    val f2 = freq.map(x => BigInt(x._2) * x._2).sum.toLong
    val z2 = (1L to 16L).map { j =>
      val z = freq.map { case (k, f) =>
        if (md5hex(s"$j:$k").head < '8') f else -f }.sum
      z * z
    }.sorted
    val est = (2 * (z2(7) + z2(8)) + 2) / 4
    val exp = (freq.map(_._2).sum, freq.length.toLong, f2, est,
      (2 * 1000000L * math.abs(est - f2) + f2) / (2 * f2))
    assert(got == exp)
    assert(got._4 > got._3 / 3 && got._4 < got._3 * 3,
      s"AMS estimate ${got._4} vs exact ${got._3}")
  }

  test("q274 Fano factor: equals a local gap-filled moment replay; " +
      "regimes follow the cuts") {
    val got = StatsOps.q274FanoFactor(spark, Sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getString(4)))
    val ev = Tables.events(spark, Sf)
      .select(col("event_type"),
        expr("unix_micros(ts) DIV 86400000000")).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val d0 = ev.map(_._2).min; val d1 = ev.map(_._2).max
    val n = d1 - d0 + 1
    val exp = ev.groupBy(_._1).map { case (t, xs) =>
      val daily = xs.groupBy(_._2).view.mapValues(_.size.toLong).toMap
      val cnts = (d0 to d1).map(dd => daily.getOrElse(dd, 0L))
      val sx = cnts.sum
      val sxx = cnts.map(c => BigInt(c) * c).sum
      val fano = ((2 * 1000000 * (n * sxx - BigInt(sx) * sx)
        + BigInt(n) * sx) / (2 * BigInt(n) * sx)).toLong
      val reg = if (fano > 1200000) "overdispersed"
        else if (fano >= 800000) "poisson-like" else "underdispersed"
      (t, n, (2 * 100 * sx + n) / (2 * n), fano, reg)
    }.toSet
    assert(got.toSet == exp && got.nonEmpty)
  }

  test("q276 rolling OLS: equals a local windowed-moment replay") {
    val got = StatsOps.q276RollingOls(spark, Sf).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val ev = Tables.events(spark, Sf)
      .filter(col("event_type") === "purchase")
      .select(expr("unix_micros(ts) DIV 86400000000"),
        expr("CAST(CAST(value AS DECIMAL(18,4)) * 10000 AS BIGINT)"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val d0 = ev.map(_._1).min; val d1 = ev.map(_._1).max
    val daily = ev.groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
    val series = (0L to (d1 - d0)).map(i =>
      (i, daily.getOrElse(d0 + i, 0L)))
    val exp = series.indices.filter(_ >= 29).map { i =>
      val win = series.slice(i - 29, i + 1)
      val n = BigInt(30)
      val sx = win.map(w => BigInt(w._1)).sum
      val sy = win.map(w => BigInt(w._2)).sum
      val sxy = win.map(w => BigInt(w._1) * w._2).sum
      val sxx = win.map(w => BigInt(w._1) * w._1).sum
      val num = n * sxy - sx * sy
      val den = n * sxx - sx * sx
      val sl = (if (num >= 0) (2 * 10000 * num + den) / (2 * den)
        else -((2 * 10000 * -num + den) / (2 * den))).toLong
      series(i)._1 -> ((series(i)._2, sl))
    }.toMap
    assert(got.size == exp.size && got.nonEmpty)
    exp.foreach { case (k, v) => assert(got(k) == v, s"day $k") }
  }

  test("q278 SRM check: equals a local md5-arm replay; balanced md5 " +
      "splits never trip the 0.001 alert") {
    val got = StatsOps.q278SrmCheck(spark, Sf).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3), r.getBoolean(4), r.getBoolean(5)))).toMap
    def md5hex(x: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(x.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val users = Tables.events(spark, Sf).filter(col("user_id").isNotNull)
      .select(col("user_id")).distinct().collect().map(_.getLong(0))
    val exp = Seq("exp1", "exp2", "exp3").map { salt =>
      val na = users.count(u => md5hex(s"$u:$salt").head < '8').toLong
      val nb = users.length - na
      val chi2 = (2 * 1000000L * (na - nb) * (na - nb) + (na + nb)) /
        (2 * (na + nb))
      salt -> ((na, nb, chi2, chi2 > 3841459L, chi2 > 10827566L))
    }.toMap
    assert(got == exp)
    // md5 is a fair coin — the hard alert must not fire on real splits
    assert(got.values.forall(!_._5))
  }

  test("q279 seasonality strength: equals a local lattice replay; " +
      "strength in [0, 1e6] and peak beats trough") {
    val got = StatsOps.q279SeasonalityStrength(spark, Sf).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getLong(3)),
        r.getLong(4), r.getLong(5)))).toMap
    val ev = Tables.events(spark, Sf)
      .select(col("event_type"),
        expr("unix_micros(ts) DIV 86400000000")).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val d0 = ev.map(_._2).min; val d1 = ev.map(_._2).max
    val exp = ev.groupBy(_._1).map { case (t, xs) =>
      val daily = xs.groupBy(_._2).view.mapValues(_.size.toLong).toMap
      val series = (0L to (d1 - d0)).map(i =>
        (i % 7, daily.getOrElse(d0 + i, 0L)))
      val n = series.size.toLong
      def rhu(a: Long, b: Long) = (2 * a + b) / (2 * b)
      val am = rhu(100 * series.map(_._2).sum, n)
      val dms = series.groupBy(_._1).view.mapValues { ys =>
        rhu(100 * ys.map(_._2).sum, ys.size.toLong) }.toMap
      val sr = series.map { case (dw, c) =>
        BigInt(100 * c - dms(dw)) * (100 * c - dms(dw)) }.sum
      val st = series.map { case (_, c) =>
        BigInt(100 * c - am) * (100 * c - am) }.sum
      val strength = if (st > 0)
        Some(math.max(1000000L -
          ((2 * 1000000 * sr + st) / (2 * st)).toLong, 0L))
      else None
      val peak = dms.toSeq.minBy { case (dw, m) => (-m, dw) }._1
      val trough = dms.toSeq.minBy { case (dw, m) => (m, dw) }._1
      t -> ((n, am, strength, peak, trough))
    }
    assert(got.size == exp.size && got.nonEmpty)
    exp.foreach { case (k, v) => assert(got(k) == v, s"type $k") }
    got.values.foreach { case (_, _, st, _, _) =>
      st.foreach(v => assert(v >= 0 && v <= 1000000L))
    }
  }

  test("q281 difference-in-differences: equals a local BigInt replay; " +
      "the DiD identity (T gap minus C gap) holds to rounding") {
    val rows = StatsOps.q281DiffInDiff(spark, Sf).collect()
    assert(rows.length == 1)
    val r = rows.head
    val got = (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
      r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7))
    def md5hex(x: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(x.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val ev = Tables.events(spark, Sf)
      .filter(col("user_id").isNotNull &&
        col("event_type") === "purchase")
      .select(col("user_id"), unix_micros(col("ts")),
        expr("CAST(CAST(value AS DECIMAL(18,4)) * 10000 AS BIGINT)"))
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2)))
    val lo = ev.map(_._2).min; val hi = ev.map(_._2).max
    val mid = (lo + hi) / 2; val pmid = (3 * lo + hi) / 4
    val pu = ev.groupBy(_._1).map { case (u, xs) =>
      (md5hex(u.toString).head < '8',
        xs.filter(_._2 < mid).map(_._3).sum,
        xs.filter(_._2 >= mid).map(_._3).sum,
        xs.filter(_._2 < pmid).map(_._3).sum,
        xs.filter(x => x._2 >= pmid && x._2 < mid).map(_._3).sum)
    }.toSeq
    val (t, c) = pu.partition(_._1)
    val (nt, nc) = (BigInt(t.size), BigInt(c.size))
    def s2(xs: Seq[(Boolean, Long, Long, Long, Long)],
        f: ((Boolean, Long, Long, Long, Long)) => Long) =
      xs.map(x => BigInt(f(x))).sum
    def rhu(a: BigInt, b: BigInt) = ((2 * a + b) / (2 * b)).toLong
    def rhuS(a: BigInt, b: BigInt) =
      (if (a >= 0) (2 * a + b) / (2 * b)
       else -((2 * -a + b) / (2 * b))).toLong
    def did(ta: BigInt, tb: BigInt, ca: BigInt, cb: BigInt) =
      rhuS((ta - tb) * nc - (ca - cb) * nt, nt * nc)
    val exp = (t.size.toLong, c.size.toLong,
      rhu(s2(t, _._2), nt), rhu(s2(t, _._3), nt),
      rhu(s2(c, _._2), nc), rhu(s2(c, _._3), nc),
      did(s2(t, _._3), s2(t, _._2), s2(c, _._3), s2(c, _._2)),
      did(s2(t, _._5), s2(t, _._4), s2(c, _._5), s2(c, _._4)))
    assert(got == exp)
    // identity check vs the rounded cell means (within rounding slack)
    val approx = (got._4 - got._3) - (got._6 - got._5)
    assert(math.abs(approx - got._7) <= 2)
  }
}
