package graft

import graft.operators.AsOfJoin
import graft.plans.TopK
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Randomized differential tests: custom operators vs independent
  * formulations over seeded random datasets (ties, duplicates, skew,
  * empty groups included by construction).
  */
class DifferentialSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  test("TopK.perKey equals the window formulation on 20 random datasets") {
    val rnd = new scala.util.Random(4242)
    for (trial <- 1 to 20) {
      val nKeys = 1 + rnd.nextInt(8)
      val n = 1 + rnd.nextInt(300)
      val k = 1 + rnd.nextInt(5)
      // values drawn from a tiny domain → many exact ties; id tie-break
      val rows = (0 until n).map { i =>
        (rnd.nextInt(nKeys).toLong, i.toLong, rnd.nextInt(4).toDouble)
      }
      val df = rows.toDF("key", "id", "v")
      val got = TopK.perKey(df, Seq("key"),
        Seq(("v", true), ("id", false)), k)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("key").orderBy(col("v").desc, col("id"))
      val expected = df.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= k)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == expected, s"trial $trial (nKeys=$nKeys n=$n k=$k)")
    }
  }

  test("perKey withTies / perKeyDistinct equal rank()/dense_rank() on 20 " +
      "random tie-heavy datasets") {
    val rnd = new scala.util.Random(3131)
    for (trial <- 1 to 20) {
      val nKeys = 1 + rnd.nextInt(8)
      val n = 1 + rnd.nextInt(300)
      val k = 1 + rnd.nextInt(5)
      // tiny value domain, NO id tie-break → boundary ties everywhere;
      // both contracts are deterministic under a non-total ordering
      val rows = (0 until n).map { i =>
        (rnd.nextInt(nKeys).toLong, i.toLong, rnd.nextInt(4).toDouble)
      }
      val df = rows.toDF("key", "id", "v")
        .repartition(1 + rnd.nextInt(8))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("key").orderBy(col("v").desc)

      val gotRank = TopK.perKey(df, Seq("key"), Seq(("v", true)), k,
          withTies = true)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val expRank = df.withColumn("rk", rank().over(w))
        .filter(col("rk") <= k)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(gotRank == expRank,
        s"rank trial $trial (nKeys=$nKeys n=$n k=$k)")

      val gotDense = TopK.perKeyDistinct(df, Seq("key"), Seq(("v", true)), k)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val expDense = df.withColumn("rk", dense_rank().over(w))
        .filter(col("rk") <= k)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(gotDense == expDense,
        s"dense trial $trial (nKeys=$nKeys n=$n k=$k)")
    }
  }

  test("mintKeys equals global row_number over distinct keys on random data") {
    val rnd = new scala.util.Random(99)
    for (trial <- 1 to 10) {
      val n = 1 + rnd.nextInt(400)
      // small alphabet → plenty of duplicate keys across partitions
      val rows = (0 until n).map(_ =>
        s"k${rnd.nextInt(60)}_${rnd.nextInt(3)}")
      val df = rows.toDF("k").repartition(1 + rnd.nextInt(8))
      val got = graft.operators.SurrogateKeys.mintKeys(df, Seq("k"), "id")
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val expected = rows.distinct.sorted.zipWithIndex
        .map { case (k, i) => k -> (i + 1).toLong }.toMap
      assert(got == expected, s"trial $trial (n=$n)")
    }
  }

  test("withRunningSum equals the global window prefix sum on random data") {
    val rnd = new scala.util.Random(4242)
    for (trial <- 1 to 8) {
      val n = 1 + rnd.nextInt(400)
      val nGroups = 1 + rnd.nextInt(4)
      // unique order key per group → the exclusive prefix sum is
      // well-defined and comparable row by row
      val rows = (0 until n).map(i =>
        (rnd.nextInt(nGroups).toString, i.toLong, rnd.nextInt(100).toLong))
      val df = rows.toDF("g", "k", "v").repartition(1 + rnd.nextInt(8))
      val got = graft.operators.DistributedRank
        .withRunningSum(df, Seq("g"), Seq("k"), "v", "cum")
        .collect()
        .map(r => (r.getAs[String]("g"), r.getAs[Long]("k")) ->
          r.getAs[Long]("cum")).toMap
      val expected = rows.groupBy(_._1).flatMap { case (g, rs) =>
        rs.sortBy(_._2).scanLeft((g, -1L, 0L)) { case ((_, _, acc), r) =>
          (g, r._2, acc + r._3)
        }.sliding(2).map { case Seq((_, _, prev), (_, k, _)) =>
          (g, k) -> prev
        }
      }.toMap
      assert(got == expected, s"trial $trial (n=$n)")
      // several sums per call share one slice pass: both must equal the
      // window prefix sums of their own column
      val w = org.apache.spark.sql.expressions.Window.partitionBy("g")
        .orderBy("k").rowsBetween(Long.MinValue, -1)
      val two = df.withColumn("v2", col("v") * col("k") - 7L)
      val gotTwo = graft.operators.DistributedRank
        .withRunningSums(two, Seq("g"), Seq("k"),
          Seq("v" -> "cum", "v2" -> "cum2"))
        .select("g", "k", "cum", "cum2")
      val expectedTwo = two.select(col("g"), col("k"),
        coalesce(sum("v").over(w), lit(0L)).as("cum"),
        coalesce(sum("v2").over(w), lit(0L)).as("cum2"))
      assert(gotTwo.exceptAll(expectedTwo).isEmpty &&
        expectedTwo.exceptAll(gotTwo).isEmpty, s"trial $trial two sums")
    }
  }

  test("DistributedRank keeps NULL group keys as one group, as the window " +
      "formulation does") {
    val rows = Seq[(String, Long, java.lang.Long)](("a", 1L, 1L),
      (null, 2L, 2L), ("a", 3L, 3L), (null, 4L, 4L), ("b", 5L, null),
      ("a", 6L, 6L), (null, 7L, null))
    val df = rows.toDF("g", "k", "v").repartition(3)
    val w = org.apache.spark.sql.expressions.Window.partitionBy("g")
      .orderBy("k")
    val gotRank = graft.operators.DistributedRank
      .withRank(df, Seq("g"), Seq("k"), "rn").select("g", "k", "rn")
    val expectedRank = df.select(col("g"), col("k"),
      row_number().over(w).cast("long").as("rn"))
    assert(gotRank.count() == rows.size)
    assert(gotRank.exceptAll(expectedRank).isEmpty &&
      expectedRank.exceptAll(gotRank).isEmpty)
    val gotSum = graft.operators.DistributedRank
      .withRunningSums(df, Seq("g"), Seq("k"), Seq("v" -> "cum"))
      .select("g", "k", "cum")
    val expectedSum = df.select(col("g"), col("k"),
      coalesce(sum("v").over(w.rowsBetween(Long.MinValue, -1)), lit(0L))
        .as("cum"))
    assert(gotSum.count() == rows.size)
    assert(gotSum.exceptAll(expectedSum).isEmpty &&
      expectedSum.exceptAll(gotSum).isEmpty)
  }

  test("withRunningSum fails with ARITHMETIC_OVERFLOW, never wraps") {
    val df = Seq((1L, Long.MaxValue), (2L, 5L), (3L, 1L)).toDF("k", "v")
    // SparkArithmeticException is private[spark]: match it by name
    val e = intercept[ArithmeticException](graft.operators.DistributedRank
      .withRunningSum(df, Nil, Seq("k"), "v", "cum").collect())
    assert(e.getClass.getName == "org.apache.spark.SparkArithmeticException",
      e.toString)
    assert(e.asInstanceOf[org.apache.spark.SparkThrowable].getCondition ==
      "ARITHMETIC_OVERFLOW", e.toString)
  }

  test("DistributedRank: per group, ranks are 1..n and values ascend") {
    val rnd = new scala.util.Random(31337)
    for (trial <- 1 to 10) {
      val n = 1 + rnd.nextInt(500)
      val nGroups = 1 + rnd.nextInt(4)
      // tiny value domain → heavy ties across range-partition boundaries
      val rows = (0 until n).map(_ =>
        (rnd.nextInt(nGroups).toString, rnd.nextInt(6).toDouble))
      val df = rows.toDF("g", "v").repartition(1 + rnd.nextInt(8))
      val got = graft.operators.DistributedRank
        .withRank(df, Seq("g"), Seq("v"), "rn")
        .collect().map(r => (r.getAs[String]("g"), r.getAs[Double]("v"),
          r.getAs[Long]("rn")))
      got.groupBy(_._1).foreach { case (g, rs) =>
        val byRank = rs.sortBy(_._3)
        // ranks are exactly 1..n with no gaps, and value order is
        // non-decreasing along ranks (ties may permute within a value)
        assert(byRank.map(_._3).toSeq == (1L to byRank.length).toSeq,
          s"trial $trial group $g")
        assert(byRank.map(_._2).sliding(2).forall(p =>
          p.length < 2 || p(0) <= p(1)), s"trial $trial group $g")
      }
      assert(got.length == rows.length, s"trial $trial")
    }
  }

  test("as-of join equals a per-row reference computation on random data") {
    val rnd = new scala.util.Random(777)
    for (trial <- 1 to 10) {
      val leftRows = (0 until 100).map { i =>
        (i.toLong, rnd.nextInt(5).toLong, rnd.nextInt(1000).toLong)
      }
      val rightRows = (0 until 40).map { i =>
        (rnd.nextInt(5).toLong, rnd.nextInt(1000).toLong, i.toLong)
      }
      val left = leftRows
        .map { case (id, key, t) => (id, key, new java.sql.Timestamp(t)) }
        .toDF("id", "key", "ts")
      val right = rightRows
        .map { case (key, t, pid) =>
          (key, new java.sql.Timestamp(t), pid) }
        .toDF("key", "ts", "pid")

      val got = AsOfJoin.lastPrior(left, right, Seq("key"), "ts", "ts",
        Seq("pid"))
        .collect().map(r => r.getAs[Long]("id") ->
          Option(r.getAs[Any]("asof_pid"))).toMap

      // reference: scala per-row scan (latest right.ts <= left.ts; ties
      // on equal right ts resolved to the max pid, matching the window's
      // last() over (ts asc, isr desc) ordering with input order ties)
      val byKey = rightRows.groupBy(_._1)
      leftRows.foreach { case (id, key, t) =>
        val cands = byKey.getOrElse(key, Seq.empty).filter(_._2 <= t)
        val expected =
          if (cands.isEmpty) None
          else {
            val maxTs = cands.map(_._2).max
            Some(cands.filter(_._2 == maxTs).map(_._3).max)
          }
        val g = got(id).map(_.asInstanceOf[Long])
        if (expected.isEmpty) assert(g.isEmpty, s"trial $trial id=$id")
        else if (cands.map(_._2).distinct.size ==
            cands.size || expected.contains(g.getOrElse(-1L))) {
          // unique-ts case must match exactly; tied-ts case: any of the
          // tied pids is a valid "latest" — accept membership
          val tied = cands.filter(_._2 == cands.map(_._2).max).map(_._3)
          assert(g.exists(tied.contains), s"trial $trial id=$id")
        }
      }
    }
  }

  test("count_in_sorted equals the filter/array_contains HOF on random " +
      "data (incl. null elements and empty arrays)") {
    val rnd = new scala.util.Random(77)
    for (trial <- 1 to 10) {
      val vocab = (0 until 40).map(i => s"w$i")
      val n = 1 + rnd.nextInt(200)
      val rows = (0 until n).map { i =>
        val len = rnd.nextInt(12)
        val arr = (0 until len).map(_ =>
          if (rnd.nextInt(20) == 0) null
          else vocab(rnd.nextInt(vocab.size))).toSeq
        (i.toLong, arr)
      }
      val hot = rnd.shuffle(vocab).take(1 + rnd.nextInt(15)).sorted
      val df = rows.toDF("id", "arr")
        .withColumn("hot", typedlit(hot))
      val native = graft.functions.CountInSorted
        .countIn(col("arr"), col("hot"))
      val hof = size(filter(col("arr"),
        x => array_contains(col("hot"), x))).cast("long")
      val diff = df.select(col("id"), native.as("a"), hof.as("b"))
        .filter(col("a") =!= col("b")).collect()
      assert(diff.isEmpty, s"trial $trial: ${diff.mkString(",")}")
    }
  }

  test("containmentJoin equals the naive directional intersect on " +
      "random small-vocab set collections") {
    val rnd = new scala.util.Random(1717)
    for (trial <- 1 to 12) {
      // tiny vocab → plentiful overlaps and exact subsets
      val vocab = (0 until (4 + rnd.nextInt(10))).map(i => s"t$i")
      val n = 10 + rnd.nextInt(40)
      val (tNum, tDen) = Seq((1, 2), (2, 3), (9, 10))(rnd.nextInt(3))
      val rows = (0 until n).map { i =>
        (i.toLong, rnd.shuffle(vocab).take(1 + rnd.nextInt(vocab.size))
          .toSeq.sorted)
      }
      val got = operators.DedupOps
        .containmentJoin(rows.toDF("id", "s"), "id", "s", tNum, tDen)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .toSet
      val want = (for {
        (ia, sa) <- rows; (ib, sb) <- rows
        if ia != ib
        i = sa.toSet.intersect(sb.toSet).size
        if i * tDen >= sa.size * tNum
      } yield (ia, ib, i.toLong)).toSet
      assert(got == want, s"trial $trial t=$tNum/$tDen: " +
        s"missing=${(want -- got).take(3)} extra=${(got -- want).take(3)}")
    }
  }

  test("incrementalScd2 equals the full recompute on random event " +
      "streams at random append-only split points") {
    val rnd = new scala.util.Random(9090)
    for (trial <- 1 to 12) {
      val nKeys = 1 + rnd.nextInt(5)
      val n = 10 + rnd.nextInt(120)
      // small value/time domains → interior dups, same-instant chains
      val rows = (0 until n).map { i =>
        (rnd.nextInt(nKeys).toLong, i.toLong,
          s"v${rnd.nextInt(3)}",
          new java.sql.Timestamp(86400000L * rnd.nextInt(20)))
      }
      // append-only split PER KEY: each key's rows sorted by (ts, id),
      // first portion is history, rest is the delta
      val byKey = rows.groupBy(_._1).values.toSeq
      val (hist, delta) = byKey.map { ks =>
        val sorted = ks.sortBy(r => (r._4.getTime, r._2))
        val cut = rnd.nextInt(sorted.length + 1)
        sorted.splitAt(cut)
      }.unzip
      val (h, dl) = (hist.flatten, delta.flatten)
      if (h.nonEmpty && dl.nonEmpty) {
        val cols = Seq("k", "id", "v", "ts")
        def shape(df: org.apache.spark.sql.DataFrame) =
          df.select(col("k"), col("attr_value"), col("valid_from"),
            col("valid_to"), col("is_current")).collect().map(r =>
            (r.getLong(0), r.getString(1), r.getTimestamp(2).toString,
              Option(r.getTimestamp(3)).map(_.toString),
              r.getBoolean(4))).toSet
        val h0 = operators.RelationalOps.scd2WithTie(
          h.toDF(cols: _*), "k", "v", "ts", "id")
        val got = shape(operators.RelationalOps.incrementalScd2(
          h0, dl.toDF(cols: _*), "k", "v", "ts", "id"))
        val want = shape(operators.RelationalOps.scd2(
          rows.toDF(cols: _*), "k", "v", "ts", "id"))
        assert(got == want, s"trial $trial: " +
          s"missing=${(want -- got).take(3)} extra=${(got -- want).take(3)}")
      }
    }
  }

  test("lmScore equals a BigInt reference on random corpora with " +
      "nulls, empties and heavy collisions") {
    val rnd = new scala.util.Random(7878)
    val vocabChars = "abcde"
    for (trial <- 1 to 12) {
      val n = 1 + rnd.nextInt(30)
      val rows = (0 until n).map { i =>
        val r = rnd.nextInt(10)
        val text =
          if (r == 0) null
          else if (r == 1) ""
          else Seq.fill(1 + rnd.nextInt(12))(
            vocabChars(rnd.nextInt(5)).toString).mkString(" ")
        (i.toLong, text)
      }
      val df = rows.toDF("doc_id", "text")
      val got = graft.operators.TextOps.lmScore(df).collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap

      val toks = rows.collect { case (id, t) if t != null =>
        id -> t.trim.toLowerCase.split("\\s+").toSeq }
      val vocab = toks.flatMap(_._2).distinct.size
      val bigrams = toks.filter(_._2.size >= 2).map { case (id, tk) =>
        id -> tk.sliding(2).map(p => (p(0), p(1))).toSeq }
      val cxy = bigrams.flatMap(_._2).groupBy(x => x).view
        .mapValues(_.size).toMap
      val cx = cxy.groupBy(_._1._1).view
        .mapValues(_.values.sum).toMap
      def rnd2(num: BigInt, den: BigInt): Long =
        ((2 * num + den) / (2 * den)).toLong
      val want = bigrams.map { case (id, bs) =>
        val ppms = bs.map(p =>
          rnd2(BigInt(1000000) * (cxy(p) + 1), BigInt(cx(p._1) + vocab)))
        id -> (bs.size.toLong, rnd2(BigInt(ppms.sum), BigInt(ppms.size)))
      }.toMap
      assert(got == want, s"trial $trial")
    }
  }

  test("invertedIndexDelta equals the full rebuild on random corpora, " +
      "splits and block sizes") {
    val rnd = new scala.util.Random(5656)
    for (trial <- 1 to 10) {
      val n = 2 + rnd.nextInt(40)
      val rows = (0 until n).map { i =>
        val r = rnd.nextInt(10)
        val text =
          if (r == 0) null
          else Seq.fill(1 + rnd.nextInt(8))(
            ('a' + rnd.nextInt(4)).toChar.toString).mkString(" ")
        (i.toLong, text)
      }
      val bs = 1 + rnd.nextInt(4)
      val cut = rnd.nextInt(n + 1).toLong
      val df = rows.toDF("doc_id", "text")
      def rset(x: org.apache.spark.sql.DataFrame) = x.collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getString(3))).toSet
      val inc = rset(graft.operators.TextOps.invertedIndexDelta(
        graft.operators.TextOps.invertedIndex(
          df.filter(col("doc_id") < cut), bs),
        df.filter(col("doc_id") >= cut), bs))
      val full = rset(graft.operators.TextOps.invertedIndex(df, bs))
      assert(inc == full, s"trial $trial (n=$n bs=$bs cut=$cut)")
    }
  }

  test("markovTransitions equals a per-user replay on random streams " +
      "with same-instant events") {
    val rnd = new scala.util.Random(9191)
    for (trial <- 1 to 12) {
      val n = 2 + rnd.nextInt(200)
      val types = Seq("a", "b", "c")
      // µs timestamps drawn from a tiny domain → same-instant collisions;
      // (ts, event_id) is the pinned total order
      val rows = (0 until n).map { i =>
        (1L + rnd.nextInt(5), new java.sql.Timestamp(rnd.nextInt(50) * 1000L),
          i.toLong, types(rnd.nextInt(3)))
      }
      val df = rows.toDF("user_id", "ts", "event_id", "event_type")
      val got = graft.operators.RelationalOps.markovTransitions(df)
        .collect().map(r => (r.getString(0), r.getString(1)) ->
          (r.getLong(2), r.getLong(3))).toMap

      val counts = rows.groupBy(_._1).toSeq.flatMap { case (_, es) =>
        es.sortBy(e => (e._2.getTime, e._3)).map(_._4).toSeq.sliding(2)
          .collect { case Seq(a, b) => (a, b) }.toSeq }
        .groupBy(x => x).view.mapValues(_.size.toLong).toMap
      val fromTot = counts.groupBy(_._1._1).view
        .mapValues(_.values.sum).toMap
      val want = counts.map { case (p, c) =>
        val t = fromTot(p._1)
        p -> (c, (2000000L * c + t) / (2 * t)) }
      assert(got == want, s"trial $trial")
    }
  }

  test("SortedIntersectAbove equals the HOF formulation on random " +
      "sorted long arrays (empty arrays, all-below thresholds, dups " +
      "across arrays)") {
    val rnd = new scala.util.Random(9119)
    for (trial <- 1 to 10) {
      val n = 1 + rnd.nextInt(150)
      def arr(): Seq[Long] =
        (0 until rnd.nextInt(14)).map(_ => rnd.nextInt(40).toLong)
          .distinct.sorted
      val rows = (0 until n).map { i =>
        // thresholds straddle the domain: some below all, some above all
        (i.toLong, arr(), arr(), rnd.nextInt(50).toLong - 5L)
      }
      val df = rows.toDF("id", "a", "b", "t")
      val native = graft.functions.SortedIntersectAbove
        .intersectAbove(col("a"), col("b"), col("t"))
      val hof = filter(array_intersect(col("a"), col("b")),
        x => x > col("t"))
      val diff = df.select(col("id"), native.as("x"),
          sort_array(hof).as("y"))
        .filter(not(col("x") <=> col("y"))).collect()
      assert(diff.isEmpty, s"trial $trial: ${diff.take(3).mkString(",")}")
    }
  }
}
