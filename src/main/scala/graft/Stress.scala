package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** 10× stress validation (run ad hoc, results recorded in BASELINE.md):
  * the skew-sensitive machinery the 100-TB claims lean on, driven at
  * ~10× the sf0.1 event volume on GENERATED high-cardinality/skewed
  * data, each machine validated EXACTLY against an independent
  * formulation in the same run.
  *
  *   - TopKPerKey map-side heaps: 1M distinct keys (heap-table
  *     pressure) plus one 25%-of-corpus hot key (skew), validated
  *     against a window row_number on a deterministic key sample and
  *     the exact hot-key top-5.
  *   - DistributedRank's range exchange: a 20M-row global total order
  *     with ~20× duplicated order values; ranks must be a permutation
  *     of 1..n (min/max/count/countDistinct all checked).
  *   - Chunked bitmap distinct: a 2·10⁸ key domain (past the dense
  *     gate) validated against exact countDistinct per group.
  *   - SimHash band widening (md5 SimHash): 4M docs — past the 2¹⁶·32 row threshold,
  *     so the band plan must WIDEN (bits > 16) to keep the bucket join
  *     linear; 1000 planted token-permutation twins (identical
  *     signature) must all surface through the widened buckets.
  *   - Two-sided prefix-filter cosine all-pairs (q170's kernel): 20.5k
  *     docs on a deliberately DENSE 31-word vocabulary (4× the sf0.1
  *     doc count at the real corpus's feature density); 500 planted
  *     verbatim twins must all surface — the zero-miss guarantee of
  *     the r11 prefix⋈prefix candidate join.
  *   - CC convergence (r13): minLabelComponents over a 1M-node
  *     id-shuffled PATH (diameter n-1, the r12 q239 failure shape) —
  *     the SV hook+compress kernel throws if its 25-round cap is hit,
  *     and every label must equal the true component min.
  *
  * Usage: `sbt 'runMain graft.Stress [nRows] [nDocs]'` — defaults
  * 20M / 4M. Prints one JSON line like Bench.
  */
object Stress {
  private def timed[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def main(args: Array[String]): Unit = {
    val spark = GraftSession.get()
    import spark.implicits._
    val n = args.headOption.map(_.toLong).getOrElse(20000000L)
    val nDocs = args.lift(1).map(_.toLong).getOrElse(4000000L)

    // 25% of rows on ONE hot key, the rest uniform over 1M keys; user
    // ids sparse in a 2·10⁸ domain (forces the chunked bitmap path);
    // v carries ~20× ties so the rank machinery sees heavy duplicates
    val base = spark.range(n).select(
      col("id"),
      when(pmod(xxhash64(col("id")), lit(4)) === 0, lit(0L))
        .otherwise(pmod(xxhash64(col("id"), lit(1)), lit(1000000L)) + 1)
        .as("key"),
      pmod(xxhash64(col("id"), lit(2)), lit(200000000L)).as("user"),
      pmod(xxhash64(col("id"), lit(3)), lit(1000000L)).as("v"))
      .localCheckpoint() // eager: generation cost out of the timings

    // ---- 1. TopKPerKey under key-count and skew pressure -------------
    val topDf = graft.plans.TopK.perKey(base, Seq("key"),
      Seq(("v", true), ("id", true)), 5)
    val (gotTop, tTop) = timed(topDf.count())
    val expTop = base.groupBy(col("key")).count()
      .agg(sum(least(col("count"), lit(5L)))).as[Long].head()
    val sampled = pmod(col("key"), lit(9973)) === 1
    val win = Window.partitionBy(col("key"))
      .orderBy(col("v").desc, col("id").desc)
    val exactSample = base.filter(sampled)
      .withColumn("_rn", row_number().over(win))
      .filter(col("_rn") <= 5)
      .select(col("key"), col("id")).as[(Long, Long)].collect().toSet
    val gotSample = topDf.filter(sampled)
      .select(col("key"), col("id")).as[(Long, Long)].collect().toSet
    val exactHot = base.filter(col("key") === 0)
      .orderBy(col("v").desc, col("id").desc).limit(5)
      .select(col("id")).as[Long].collect().toSet
    val gotHot = topDf.filter(col("key") === 0)
      .select(col("id")).as[Long].collect().toSet
    val topOk = gotTop == expTop && gotSample == exactSample &&
      gotHot == exactHot

    // ---- 2. DistributedRank: global total order, massive ties --------
    val ((rankOk, rankDiag), tRank) = timed {
      val rk = graft.operators.DistributedRank
        .withRank(base, Seq.empty, Seq("v", "id"), "rk")
      val a = rk.agg(min(col("rk")), max(col("rk")), count(lit(1)),
        countDistinct(col("rk"))).head()
      (a.getLong(0) == 1L && a.getLong(1) == n && a.getLong(2) == n &&
        a.getLong(3) == n,
        s"""[${a.getLong(0)},${a.getLong(1)},${a.getLong(2)},""" +
          s"""${a.getLong(3)}]""")
    }

    // ---- 3. Chunked bitmap distinct vs exact countDistinct -----------
    val grouped = base.withColumn("g", pmod(col("key"), lit(16)))
    val (bmOk, tBm) = timed {
      val got = graft.operators.RelationalOps
        .bitmapDistinctPerGroup(grouped, "g", "user", 200000000L)
        .select(col("g"), col("distinct_users"))
        .as[(Long, Long)].collect().toMap
      val exact = grouped.groupBy(col("g"))
        .agg(countDistinct(col("user")).as("d"))
        .as[(Long, Long)].collect().toMap
      got == exact
    }

    // ---- 4. SimHash band widening at 4M docs --------------------------
    def toks(idc: Column, rev: Boolean): Column = {
      val js = if (rev) (11 to 0 by -1) else (0 to 11)
      concat_ws(" ", js.map(j => concat(lit("w"),
        pmod(xxhash64(idc, lit(j)), lit(50000L)))): _*)
    }
    val mainDocs = spark.range(nDocs)
      .select(col("id").as("doc_id"), toks(col("id"), rev = false)
        .as("text"))
    // twins: same token multiset REVERSED → identical simhash; the
    // banded join must surface all of them through widened buckets
    val nPlant = math.min(1000L, nDocs)
    val twins = spark.range(nPlant)
      .select((col("id") + nDocs).as("doc_id"),
        toks(col("id"), rev = true).as("text"))
    val docs = mainDocs.unionByName(twins)
    val (bands, bits) = graft.operators.DedupOps.simhashBandPlan(nDocs)
    val ((pairsFound, plantedFound), tSh) = timed {
      val r = graft.operators.DedupOps
        .simhashNearDup(docs, maxHamming = 3, nRows = nDocs)
        .localCheckpoint()
      (r.count(),
        r.filter(col("doc_b") === col("doc_a") + nDocs &&
          col("doc_a") < nPlant).count())
    }
    // bits > 16 is the WIDENING claim — only meaningful past the
    // 2¹⁶·32-row threshold (a small smoke run keeps the 16-bit default)
    val shOk = plantedFound == nPlant &&
      (nDocs <= (1L << 16) * 32 || bits > 16)

    // ---- 5. Grid ε-ball join: planted-pair recall at n points --------
    // uniform integer points on a 1e8×1e8 plane (natural ε-pairs are
    // rare); nPlant twins offset by δ ∈ [-70,70]² (dist² ≤ 9800 < ε²,
    // clamped at 0 which only shrinks the distance) MUST all surface —
    // the grid's 100%-recall guarantee, at 1000× the bench point count
    val eps = 100L
    val basePts = spark.range(n).select(col("id").as("pid"),
      pmod(xxhash64(col("id"), lit(10)), lit(100000000L)).as("x"),
      pmod(xxhash64(col("id"), lit(11)), lit(100000000L)).as("y"))
    val twinPts = spark.range(nPlant).select((col("id") + n).as("pid"),
      greatest(pmod(xxhash64(col("id"), lit(10)), lit(100000000L)) +
        pmod(xxhash64(col("id"), lit(12)), lit(141L)) - 70L, lit(0L))
        .as("x"),
      greatest(pmod(xxhash64(col("id"), lit(11)), lit(100000000L)) +
        pmod(xxhash64(col("id"), lit(13)), lit(141L)) - 70L, lit(0L))
        .as("y"))
    val allPts = basePts.unionByName(twinPts).localCheckpoint()
    val ((nEpsPairs, plantedEps), tEps) = timed {
      val r = graft.operators.SimilarityOps.epsilonJoin(allPts, eps)
        .localCheckpoint()
      (r.count(),
        r.filter(col("pk_b") === col("pk_a") + n &&
          col("pk_a") < nPlant).count())
    }
    val epsOk = plantedEps == nPlant

    // ---- 6. Two-sided prefix-filter cosine all-pairs (q170's kernel) --
    // dense feature space ON PURPOSE: ~12 tokens/doc from a 31-word
    // vocab (the real corpus's density — 31³ shingles, heavy df) at 4×
    // the sf0.1 doc count; 500 planted VERBATIM twins must all surface
    // (the filter's zero-miss guarantee at cos = 1.0 ≥ ½) through the
    // prefix⋈prefix candidate join that replaced the r10 one-sided
    // index-prefix/probe-full plan
    val nCos = math.min(20000L, nDocs)
    val nTwin = 500L
    def cosText(idc: Column): Column =
      concat_ws(" ", (0 to 11).map(j => concat(lit("t"),
        pmod(xxhash64(idc, lit(100 + j)), lit(31L)))): _*)
    val cosDocs = spark.range(nCos)
      .select(col("id").as("doc_id"), cosText(col("id")).as("text"))
      .unionByName(spark.range(nTwin)
        .select((col("id") + nCos).as("doc_id"),
          cosText(col("id")).as("text")))
    def shingle(toks: Column): Column = array_distinct(
      transform(sequence(lit(0), size(toks) - 3),
        i => concat_ws(" ", slice(toks, i + 1, lit(3)))))
    val cosFeat = cosDocs.select(col("doc_id"),
      shingle(split(col("text"), " ")).as("tk"))
    val ((nCosPairs, twinFound), tCos) = timed {
      val r = graft.operators.SimilarityOps
        .cosineAllPairs(cosFeat, "doc_id", "tk", 1, 2)
        .localCheckpoint()
      (r.count(),
        r.filter(col("id_b") === col("id_a") + nCos &&
          col("id_a") < nTwin).count())
    }
    val cosOk = twinFound == nTwin

    // ---- 7. CC convergence on a worst-case diameter graph -------------
    // a PATH over id-shuffled nodes (diameter n-1 — the r12 q239
    // failure shape at 50× the sf0.1 ε-graph's node count): the
    // SV hook+compress kernel must reach the exact fixpoint inside its
    // 25-round cap (it THROWS otherwise, so completing IS the
    // assertion) and every node must carry the true component min
    val nCc = math.min(1000000L, n)
    val ccNodes = spark.range(nCc).select(col("id").as("node"),
      xxhash64(col("id"), lit(20)).as("h"))
    val ccRanked = graft.operators.DistributedRank
      .withRank(ccNodes, Seq.empty, Seq("h", "node"), "rn")
      .select(col("node"), col("rn")).localCheckpoint()
    val ccEdges = ccRanked.as("a")
      .join(ccRanked.as("b"), col("a.rn") + 1 === col("b.rn"))
      .select(col("a.node").as("src"), col("b.node").as("dst"))
    val ccSym = ccEdges.unionByName(
      ccEdges.select(col("dst").as("src"), col("src").as("dst")))
    // both kernels must label the path exactly: the r14 one-job driver
    // forest path (the default below its node gate) AND the relational
    // SV hook+compress kernel (the >gate scale path, forced by the
    // `relational` gate mode)
    def ccCheck(): (Boolean, String) = {
      val lbl = graft.operators.GraphOps.minLabelComponents(ccSym)
      val a = lbl.agg(count(lit(1)), min(col("component")),
        max(col("component"))).head()
      (a.getLong(0) == nCc && a.getLong(1) == 0L && a.getLong(2) == 0L,
        s"[${a.getLong(0)},${a.getLong(1)},${a.getLong(2)}]")
    }
    val ((ccOk, ccDiag), tCc) = timed(ccCheck())
    val ((ccOkRel, _), tCcRel) =
      timed(Gates.withMode(spark, Gates.Relational)(ccCheck()))

    def f(d: Double): String = BigDecimal(d)
      .setScale(1, BigDecimal.RoundingMode.HALF_UP).toString
    println(s"""{"stress":{"n":$n,"n_docs":$nDocs,""" +
      s""""topk":{"sec":${f(tTop)},"rows":$gotTop,"ok":$topOk},""" +
      s""""rank":{"sec":${f(tRank)},"minmaxcntdst":$rankDiag,"ok":$rankOk},""" +
      s""""bitmap":{"sec":${f(tBm)},"ok":$bmOk},""" +
      s""""simhash":{"sec":${f(tSh)},"bands":$bands,"bits":$bits,""" +
      s""""pairs":$pairsFound,"planted_found":$plantedFound,"ok":$shOk},""" +
      s""""epsjoin":{"sec":${f(tEps)},"pairs":$nEpsPairs,""" +
      s""""planted_found":$plantedEps,"ok":$epsOk},""" +
      s""""cosallpairs":{"sec":${f(tCos)},"n_docs":${nCos + nTwin},""" +
      s""""pairs":$nCosPairs,"planted_found":$twinFound,"ok":$cosOk},""" +
      s""""ccpath":{"sec":${f(tCc)},"sec_relational":${f(tCcRel)},""" +
      s""""n_nodes":$nCc,"cnt_min_max":$ccDiag,""" +
      s""""ok":${ccOk && ccOkRel}}}}""")
    val allOk = topOk && rankOk && bmOk && shOk && epsOk && cosOk &&
      ccOk && ccOkRel
    spark.stop()
    if (!allOk) sys.exit(1)
  }
}
