package graft.operators

import graft.functions.VectorExpressions
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** EXACT integer-lattice k-means shared by the oracle-checked ANN
  * family (q40's IVF cells, q120/q121's PQ codebooks, q227's persisted
  * index): the q194 Lloyd recipe (floor-e6 lattice, exact long squared
  * distances, smallest-cid argmin ties, signed round-half-up integer
  * centroid means, empty clusters DROP) packaged as
  *
  *   1. a deterministic md5-keyed capped SAMPLE (one TakeOrdered pass
  *      over the corpus, driver merge — the PqAnn sample rule, but
  *      md5-keyed instead of xxhash64 so DuckDB replays the cut),
  *   2. a driver-side integer Lloyd over that bounded sample (the
  *      codebook is a k×dim artifact — the q194 codebook rule), and
  *   3. a SQL GENERATOR ([[kmeansCtes]]) emitting the DuckDB CTE chain
  *      that replays 1+2 bit-identically (the FixedLn "one generated
  *      step list for both engines" pattern applied to clustering).
  *
  * This is what flips the k-means-trained ANN operators from rows-only
  * to full-oracle: Spark ML's k-means&#124;&#124; trainer is float-library
  * territory no other engine can replay, while this trainer is pure
  * integer arithmetic both engines execute exactly.
  *
  * Scale shape: training reads ONE capped TakeOrdered sample (top-cap
  * per partition, driver merge — no shuffle); everything downstream is
  * broadcast-literal codegen over the corpus (assignment/probing never
  * join or shuffle). Reference anchor: the reference scans per-deck
  * usage vectors exhaustively (helper_functions.py:27-52); these
  * quantizers are the sub-linear index replacing exhaustive scans.
  */
object IntKMeans {

  /** floor-e6 lattice projection of a float-array column (floor, not
    * cast — ANSI Spark truncates toward zero while DuckDB CAST rounds;
    * the q194 rule). Embeddings are bounded well inside ±2.1e3, so e6
    * fits int and every d² term fits long.
    */
  def e6(c: Column): Column =
    transform(c, x => floor(x.cast("double") * 1000000).cast("int"))

  /** The same projection in DuckDB (BIGINT list). */
  def e6Sql(listExpr: String): String =
    s"[CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT) for x in $listExpr]"

  /** Deterministic md5-keyed capped sample of `(idCol, e6Col)`:
    * ORDER BY (md5(id), id) LIMIT cap — a content-keyed priority
    * sample Spark plans as TakeOrderedAndProject (ONE job, ≤cap rows
    * collected regardless of corpus size) and DuckDB replays verbatim
    * (md5 is engine-identical; xxhash64 is not). Rows return in sample
    * order — the seed order for [[localLloyd]].
    */
  def sampleE6(df: DataFrame, idCol: String, e6Col: String, cap: Int)
      : Array[Array[Long]] =
    df.select(col(idCol).cast("long").as("_id"), col(e6Col).as("_e"))
      .orderBy(md5(col("_id").cast("string")), col("_id"))
      .limit(cap)
      .collect()
      .map(_.getSeq[Int](1).map(_.toLong).toArray)

  /** Exact integer Lloyd over the sample (driver-side — bounded
    * artifact): seeds = the first k sample rows (md5 order ≈ uniform
    * random; a Gonzalez farthest-point variant was measured WORSE here
    * — it seeds on outliers and starves the dense core, 0.64 vs 0.74
    * recall on the isotropic embeddings), assignment = exact long d²
    * argmin with smallest-cid ties, update = per-dim SIGNED
    * round-half-up integer mean (the q148/q153 sign split), empty
    * clusters DROP keeping their labels (k shrinks; both engines
    * derive identical memberships so the rule fires identically).
    * `rounds` assign+update cycles; returns final centroids sorted by
    * cid. Bit-replayable by [[kmeansCtes]].
    */
  def localLloyd(pts: Array[Array[Long]], k: Int, rounds: Int)
      : Array[(Int, Array[Long])] = {
    require(pts.nonEmpty, "IntKMeans: empty sample")
    val dim = pts(0).length
    var cents: Array[(Int, Array[Long])] =
      pts.take(k).zipWithIndex.map { case (p, i) => (i, p.clone()) }
    for (_ <- 1 to rounds) {
      val asg = pts.map(p => cents(nearest(p, cents))._1)
      cents = asg.zip(pts).groupBy(_._1).toArray.sortBy(_._1).map {
        case (cid, rows) =>
          val n = rows.length.toLong
          val c = new Array[Long](dim)
          var i = 0
          while (i < dim) {
            var sv = 0L
            rows.foreach { case (_, p) => sv += p(i) }
            c(i) =
              if (sv >= 0) (2 * sv + n) / (2 * n)
              else -((2 * -sv + n) / (2 * n))
            i += 1
          }
          (cid, c)
      }
    }
    cents
  }

  /** Index in the cid-ascending `cents` of the centroid nearest `p` by
    * exact squared distance; strict < keeps the first (smallest cid)
    * winner — the ROW_NUMBER (d2, cid) tie rule.
    */
  private[operators] def nearest(p: Array[Long],
      cents: Array[(Int, Array[Long])]): Int = {
    def d2(c: Array[Long]): Long = {
      var s = 0L; var i = 0
      while (i < p.length) { val d = p(i) - c(i); s += d * d; i += 1 }
      s
    }
    var bi = 0; var bd = d2(cents(0)._2); var j = 1
    while (j < cents.length) {
      val d = d2(cents(j)._2)
      if (d < bd) { bd = d; bi = j }
      j += 1
    }
    bi
  }

  /** Train on a fresh md5-capped sample of `df` — the composed
    * sample+Lloyd both ANN trainers call.
    */
  def trainOnSample(df: DataFrame, idCol: String, e6Col: String,
      k: Int, rounds: Int, cap: Int): Array[(Int, Array[Long])] =
    localLloyd(sampleE6(df, idCol, e6Col, cap), k, rounds)

  /** `(d2, cid)` struct array against every centroid — the shared
    * kernel of [[assignCell]] (argmin) and [[probeCells]] (top-n).
    * `p2` must be the precomputed idot(e6, e6) column (evaluating it
    * once instead of once per centroid).
    */
  private def distStructs(e6Col: String, p2: Column,
      cents: Array[(Int, Array[Long])]): Column =
    array(cents.map { case (cid, c) =>
      val cl = typedlit(c.map(_.toInt).toSeq)
      val c2 = c.map(v => v * v).sum
      struct(
        (p2 + lit(c2) -
          lit(2L) * VectorExpressions.idot(col(e6Col), cl)).as("d2"),
        lit(cid).as("cid"))
    }: _*)

  /** Broadcast-literal exact argmin cell assignment: ONE codegen pass
    * over the corpus — no join, no shuffle (the q194 shape). Adds
    * `cellCol` (int).
    */
  def assignCell(df: DataFrame, e6Col: String,
      cents: Array[(Int, Array[Long])], cellCol: String): DataFrame = {
    val withP2 = df.withColumn("_ikm_p2",
      VectorExpressions.idot(col(e6Col), col(e6Col)))
    withP2
      .withColumn(cellCol,
        array_min(distStructs(e6Col, col("_ikm_p2"), cents))
          .getField("cid"))
      .drop("_ikm_p2")
  }

  /** The `nProbe` nearest cells per row, EXPLODED (one output row per
    * (input row, probed cell)): array_sort on (d2, cid) structs is the
    * exact ROW_NUMBER (d2, cid) order. Adds `cellCol`.
    */
  def probeCells(df: DataFrame, e6Col: String,
      cents: Array[(Int, Array[Long])], nProbe: Int,
      cellCol: String): DataFrame = {
    val withP2 = df.withColumn("_ikm_p2",
      VectorExpressions.idot(col(e6Col), col(e6Col)))
    withP2
      .withColumn("_ikm_probe",
        slice(array_sort(distStructs(e6Col, col("_ikm_p2"), cents)),
          1, nProbe))
      .drop("_ikm_p2")
      .withColumn(cellCol, explode(col("_ikm_probe").getField("cid")))
      .drop("_ikm_probe")
  }

  /** DuckDB CTE chain replaying [[sampleE6]] + [[localLloyd]] on
    * `src`, which must expose `(idCol BIGINT, e6 BIGINT-list)`. Emits
    * CTE text (no leading/trailing comma) defining
    * `{p}samp, {p}pdim, {p}seed, {p}cd0, {p}a1, {p}g1, {p}cd1, …,
    * {p}cd{rounds}`; the final centroids are
    * `{p}cd{rounds}(cid, i, e)` with 1-based dim index i. Mark-
    * MATERIALIZED on the hub CTEs (pdim + each cd) — the q263 CTE-
    * inlining lesson.
    */
  def kmeansCtes(src: String, idCol: String, k: Int, rounds: Int,
      cap: Int, p: String): String = {
    val sb = new StringBuilder
    sb.append(
      s"""${p}samp AS MATERIALIZED (
            SELECT $idCol AS sid, e6 FROM $src
            ORDER BY md5(CAST($idCol AS VARCHAR)), $idCol LIMIT $cap
          ), ${p}pdim AS MATERIALIZED (
            SELECT sid, i, e6[i] AS e
            FROM (SELECT sid, e6,
                         unnest(generate_series(1, len(e6))) AS i
                  FROM ${p}samp)
          ), ${p}seed AS (
            SELECT CAST(ROW_NUMBER() OVER (
                     ORDER BY md5(CAST(sid AS VARCHAR)), sid) - 1
                   AS INT) AS cid, sid
            FROM (SELECT sid FROM ${p}samp
                  ORDER BY md5(CAST(sid AS VARCHAR)), sid LIMIT $k)
          ), ${p}cd0 AS MATERIALIZED (
            SELECT s.cid, p.i, p.e
            FROM ${p}seed s JOIN ${p}pdim p USING (sid)
          )""")
    for (r <- 1 to rounds) {
      sb.append(
        s""", ${p}a$r AS (
            SELECT p.sid, c.cid, SUM((p.e - c.e) * (p.e - c.e)) AS d2
            FROM ${p}pdim p JOIN ${p}cd${r - 1} c ON p.i = c.i
            GROUP BY 1, 2
          ), ${p}g$r AS (
            SELECT sid, cid FROM (
              SELECT sid, cid, ROW_NUMBER() OVER (PARTITION BY sid
                ORDER BY d2, cid) AS rn FROM ${p}a$r)
            WHERE rn = 1
          ), ${p}cd$r AS MATERIALIZED (
            SELECT a.cid, p.i,
                   CASE WHEN SUM(p.e) >= 0
                     THEN (2 * SUM(p.e) + COUNT(*)) // (2 * COUNT(*))
                     ELSE -((2 * (-SUM(p.e)) + COUNT(*))
                            // (2 * COUNT(*))) END AS e
            FROM ${p}pdim p JOIN ${p}g$r a USING (sid)
            GROUP BY 1, 2
          )""")
    }
    sb.toString
  }

  /** [[assignCell]] (and, for `nProbe` > 0, [[probeCells]] of the
    * queries vec_id < 10) in DuckDB over `base(vec_id, e6)` and the
    * centroid CTE `cents(cid, i, e)` of a [[kmeansCtes]] chain: `ad`
    * (one row per coordinate), `aa` (exact long d² for every (vector,
    * centroid) pair), `asg(vec_id, cid)` (argmin, smallest-cid ties)
    * and `probe(qid, cid)` (the `nProbe` nearest cells).
    */
  def assignCtes(cents: String, nProbe: Int = 0): String = {
    val probe = if (nProbe <= 0) "" else s""", probe AS (
           SELECT vec_id AS qid, cid FROM (
             SELECT vec_id, cid, ROW_NUMBER() OVER (PARTITION BY vec_id
               ORDER BY d2, cid) AS rn FROM aa WHERE vec_id < 10)
           WHERE rn <= $nProbe
         )"""
    s"""ad AS MATERIALIZED (
           SELECT vec_id, i, e6[i] AS e
           FROM (SELECT vec_id, e6,
                        unnest(generate_series(1, len(e6))) AS i
                 FROM base)
         ), aa AS MATERIALIZED (
           SELECT p.vec_id, c.cid, SUM((p.e - c.e) * (p.e - c.e)) AS d2
           FROM ad p JOIN $cents c ON p.i = c.i GROUP BY 1, 2
         ), asg AS MATERIALIZED (
           SELECT vec_id, cid FROM (
             SELECT vec_id, cid, ROW_NUMBER() OVER (PARTITION BY vec_id
               ORDER BY d2, cid) AS rn FROM aa)
           WHERE rn = 1
         )$probe"""
  }

  /** The q32 cosine re-rank tail shared by the ANN oracles: CTEs
    * scoring `(qid, nid)` pairs from `candCte` by ROUND-4 cosine over
    * the ORIGINAL float embeddings. Emits `rfu, run, rdots, rscored`;
    * the caller SELECTs from `rscored` with its own rank filter.
    */
  def cosineRerankCtes(candCte: String): String =
    s"""rfu AS (
          SELECT c.qid, c.nid, eq.embedding AS qe, en.embedding AS ne
          FROM $candCte c
          JOIN embeddings eq ON eq.vec_id = c.qid
          JOIN embeddings en ON en.vec_id = c.nid
        ), run AS (
          SELECT qid, nid, CAST(unnest(qe) AS DOUBLE) AS x,
                 CAST(unnest(ne) AS DOUBLE) AS y
          FROM rfu
        ), rdots AS (
          SELECT qid, nid, SUM(x*y) AS dot, SUM(x*x) AS na,
                 SUM(y*y) AS nb
          FROM run GROUP BY qid, nid
        ), rscored AS (
          SELECT qid, nid,
                 ROUND(dot / (sqrt(na) * sqrt(nb)), 4) AS cos_sim
          FROM rdots
        )"""
}
