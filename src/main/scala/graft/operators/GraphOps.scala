package graft.operators

import graft.{Gates, Tables}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, LongType, StringType, StructField,
  StructType}

/** Graph centrality over relational co-occurrence graphs — PageRank
  * (Page et al. 1999) in the Pregel message-passing shape: one
  * (edges ⋈ ranks → groupBy dst) round per iteration.
  *
  * Everything is INTEGER fixed-point (parts-per-trillion longs): the
  * per-iteration sum of contributions is a sum of longs — associative
  * and order-independent — so the result is bit-identical no matter the
  * partitioning, task order, or engine. A double-valued PageRank can
  * never be externally verified this way (float accumulation order
  * differs per run); the integer formulation turns an "approximately
  * converged" iterative algorithm into an oracle-checkable one.
  */
object GraphOps {

  /** Broadcast-vs-bucketed gate for the iterative loops: node-scale
    * tables (rank vectors, label tables, BFS frontiers/visited sets)
    * ride broadcast joins against the edge table while they fit; past
    * [[Gates.BroadcastNodes]] rows (5e7 ≈ a few hundred MB of
    * (long, long) — the executor-memory broadcast ceiling; 0 under the
    * `scale` gate mode) the loop swaps to the bucketed-join shape: the edge
    * table persists src-BUCKETED once ([[graft.sources.TableLayout
    * .writeBucketed]] — the bucketed scan reports HashPartitioning,
    * which survives AQE, where a checkpoint-captured partitioning does
    * not), so no per-round exchange ever touches the big side and only
    * the node-scale table shuffles to meet it. The one-time bucketed
    * write amortizes over the rounds — exactly the production layout
    * for a billion-node graph. Both modes are bit-identical — integer
    * fixed-point math is order-independent — and a plan-audit test
    * pins each shape.
    */
  private[graft] def maxBroadcastNodes(df: DataFrame): Long =
    Gates.memory(df.sparkSession, Gates.BroadcastNodes)

  /** The node-scale side of an edges⋈nodes join under the gate. */
  private[graft] def nodeSide(nodeTable: DataFrame, bc: Boolean): DataFrame =
    if (bc) broadcast(nodeTable) else nodeTable

  /** Persist `edges` src-bucketed, run `body` over the bucketed scan,
    * EAGERLY materialize the result (so the table can drop while the
    * returned frame stays valid), then drop the table.
    */
  private def withBucketedEdges(edges: DataFrame)
      (body: DataFrame => DataFrame): DataFrame =
    withLazyBucketedEdges(edges)(bucketed => body(bucketed()))

  /** [[withBucketedEdges]] for loops that gate per round: the table is
    * written the first time `body` calls `bucketed`; if it never does,
    * the result stays lazy and nothing is written or dropped.
    */
  private def withLazyBucketedEdges(edges: DataFrame)
      (body: (() => DataFrame) => DataFrame): DataFrame = {
    val spark = edges.sparkSession
    var table: Option[String] = None
    def bucketed(): DataFrame = {
      if (table.isEmpty) {
        val t = "graft_graph_edges_" +
          java.util.UUID.randomUUID.toString.replace("-", "")
        graft.sources.TableLayout.writeBucketed(edges, "src",
          spark.conf.get("spark.sql.shuffle.partitions").toInt, t)
        table = Some(t)
      }
      spark.table(table.get)
    }
    try {
      val out = body(() => bucketed())
      if (table.isEmpty) out else out.localCheckpoint() // eager: drops below
    } finally table.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  /** [[pageRank]] in DuckDB over a CTE `edges(src, dst)`: `deg`, `n`
    * and the recursive `it(i, node, r)`; round `iters` is the result.
    */
  def pageRankCtes(iters: Int): String =
    s"""deg AS (
           SELECT src, count(*) AS od FROM edges GROUP BY src
         ), n AS (SELECT count(*) AS nn FROM deg),
         it AS (
           SELECT 0 AS i, src AS node, 1000000000000 // nn AS r
           FROM deg, n
           UNION ALL
           SELECT i + 1, e.dst,
                  CAST((15 * (1000000000000 // (SELECT nn FROM n))) // 100
                       + (85 * SUM(r // d.od)) // 100 AS BIGINT)
           FROM it
           JOIN edges e ON it.node = e.src
           JOIN deg d ON it.node = d.src
           WHERE i < $iters
           GROUP BY i + 1, e.dst
         )"""

  /** 15-iteration damped PageRank over a SYMMETRIC edge list
    * (src, dst) with no self-loops (symmetry ⇒ no dangling mass, every
    * node keeps outdeg ≥ 1). Rank mass totals ~10¹² ppt; the update is
    *   r'(v) = (15·(10¹² div N)) div 100 + (85·Σ_{u→v}(r(u) div od(u))) div 100
    * — all long arithmetic, truncating division (positives: identical
    * in Spark `div` and DuckDB `//`).
    *
    * 100-TB shape: the degree table and rank vector are NODE-scale, the
    * per-iteration work is one hash join of edges against the rank
    * vector plus one map-side-combined sum — edges never change, and
    * past the [[maxBroadcastNodes]] gate the edge table is
    * hash-partitioned on src once so every iteration's join is
    * exchange-free on the big side. Lineage is cut
    * per round (localCheckpoint — the q61/q76 loop rule); the single
    * driver-side `deg.count()` is the teleport constant N, a bounded
    * scalar artifact like q76's argmax row.
    */
  def pageRank(symEdges: DataFrame, iters: Int = 15): DataFrame = {
    val total = 1000000000000L
    // materialize the edge list ONCE: it feeds the degree count and the
    // per-iteration join — without the cut, an upstream self-join (the
    // q105 pair build) would re-execute for every consumer
    val edges = symEdges.localCheckpoint(false)
    // r14: below the driver edge gate the whole 15-round loop runs on
    // primitive arrays in memory (the q214/q126 rule) — one collect
    // job instead of one job per round. Long node ids only (q139
    // interns its word graph to long ids before it calls this).
    val slim = edges.select(col("src"), col("dst"))
    driverEdgeCount(edges, slim) match {
      case Some(nE) => return pageRankDriver(edges.sparkSession,
        new CollectedEdges(slim, nE, weighted = false), iters, total)
      case None =>
    }
    val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("od"))
      .localCheckpoint(false)
    val n = deg.count()
    require(n > 0, "pageRank needs a non-empty edge list")
    val init = total / n
    val base = (15L * init) / 100L
    // the rank vector is NODE-scale — broadcast it (bc mode) so the
    // edge table (the big side) is never shuffled per iteration; past
    // the maxBroadcastNodes gate, persist the edge table src-bucketed
    // once instead, so each round's join still leaves the big side
    // exchange-free and only the rank vector shuffles.
    val bc = n <= maxBroadcastNodes(symEdges)
    def loop(withDeg: DataFrame): DataFrame = {
      var ranks = deg.select(col("src").as("node"), lit(init).as("r"))
      for (_ <- 0 until iters)
        ranks = prRound(withDeg, ranks, base, bc).localCheckpoint(false)
      ranks
    }
    val withDeg = edges.join(nodeSide(deg, bc), "src")
    if (bc) loop(withDeg.localCheckpoint(false))
    else withBucketedEdges(withDeg)(loop)
  }

  /** Edge gate for the in-memory driver kernels (the q214/q126/q61
    * precedent, extended r14 to the whole iterative family): below
    * [[Gates.DriverEdges]] collected edges the whole round loop runs on
    * primitive arrays in ONE collect job, killing the per-round job
    * floor. Past it, and under the `relational`/`scale` gate modes, the
    * relational loops below are THE path — the 100 TB shape.
    */
  private def driverMaxEdges(s: SparkSession): Long =
    Gates.driver(s, Gates.DriverEdges)

  /** `edges`' row count when the driver edge gate passes: every frame in
    * `ids` has long ids and the count is within [[driverMaxEdges]]. No
    * count job runs while the gate is closed.
    */
  private def driverEdgeCount(edges: DataFrame, ids: DataFrame*)
      : Option[Int] = {
    val max = driverMaxEdges(edges.sparkSession)
    if (max <= 0 || !ids.forall(allLongIds)) None
    else Some(edges.count()).filter(_ <= max).map(_.toInt)
  }

  /** The co-purchase fast path shared by the driver-kernel entries
    * (r15): collect baskets with no distributed pair build at all
    * (see [[collectBasketPairs]]) when the op's edge gate passes —
    * 2·|undirected| is the symmetric row count the DataFrame gate
    * would have seen. None ⇒ caller runs the unchanged relational
    * build + gate.
    */
  private def coPurchaseCollected(s: SparkSession, d: String)
      : Option[CollectedEdges] =
    collectBasketPairs(s, d, driverMaxEdges(s) / 2)
      .map(bp => CollectedEdges.fromSym(bp.ids, bp.us, bp.vs))

  /** The PRUNED (shared-orders ≥ minCount) symmetric co-purchase edge
    * table as a LocalRelation built from the driver-collected baskets
    * (r15): the pruned graph is tiny (7,146 und edges at sf0.1), so
    * consumers that stay RELATIONAL (q151 wedge join, q174 moments,
    * q231) keep their exact plans while the corpus-scale
    * groupBy+explode+count build disappears. None past the collect
    * gates ⇒ caller uses the unchanged [[prunedCoPurchaseEdges]].
    */
  private def prunedCoPurchaseEdgeDf(s: SparkSession, d: String,
      minCount: Int): Option[DataFrame] =
    collectBasketPairs(s, d, driverMaxEdges(s))
      .map(bp => symEdgeDf(s, bp.pruned(minCount)))

  /** Both orientations of `bp`'s pairs as a `(src, dst)` LocalRelation. */
  private def symEdgeDf(s: SparkSession, bp: BasketPairs): DataFrame = {
    val n = bp.us.length
    rowsDf(s, 2 * n, "src" -> LongType, "dst" -> LongType) { ix =>
      if (ix < n) Row(bp.ids(bp.us(ix)), bp.ids(bp.vs(ix)))
      else Row(bp.ids(bp.vs(ix - n)), bp.ids(bp.us(ix - n)))
    }
  }

  /** The pruned co-purchase graph for the consumers that run a driver
    * kernel (q126 LPA, q167 modularity, q265 SCAN). Below the basket
    * gate, and with the symmetric pruned edge count within
    * [[driverMaxEdges]] (the gate their DataFrame entries apply), the
    * collected pairs stay on the driver as a [[CollectedEdges]]: the
    * kernels run on those arrays with no LocalRelation, checkpoint,
    * count or re-collect in between (Right). Otherwise the edge table
    * for the relational loops (Left): the collected pairs as a
    * LocalRelation, or past the basket gate the unchanged
    * [[prunedCoPurchaseEdges]].
    */
  private def prunedCoPurchase(s: SparkSession, d: String, minCount: Int)
      : Either[DataFrame, CollectedEdges] = {
    val max = driverMaxEdges(s)
    collectBasketPairs(s, d, max).map(_.pruned(minCount)) match {
      case Some(bp) if 2L * bp.us.length <= max =>
        Right(CollectedEdges.fromSym(bp.ids, bp.us, bp.vs))
      case Some(bp) => Left(symEdgeDf(s, bp))
      case None => Left(prunedCoPurchaseEdges(s, d, minCount))
    }
  }

  /** Per-node EXACT triangle counts of collected undirected pairs —
    * [[orientedTriangles]] at node grain (bit-identical to the
    * relational kernel, which the GraphSpec differential pins).
    * Returns (nodeTri, deg): triangles and distinct-neighbor degree
    * per dense node index.
    */
  private def driverTriangles(us: Array[Int], vs: Array[Int],
      nN: Int): (Array[Long], Array[Int]) = {
    val deg = new Array[Int](nN)
    var i = 0
    while (i < us.length) { deg(us(i)) += 1; deg(vs(i)) += 1; i += 1 }
    (orientedTriangles(us, vs, deg, perEdge = false), deg)
  }

  /** Exact triangle tally of the simple undirected graph with edges
    * (us(e), vs(e)) over dense nodes of degree `deg`: every edge is
    * oriented low-rank → high-rank, rank = (degree, index), so each
    * triangle is found exactly once, intersecting the sorted
    * out-slices of its two lowest-rank corners — O(αE), never
    * hub-quadratic. Each triangle counts at its three nodes, or with
    * `perEdge` at its three edges; the pass runs on
    * [[parallelEdgeSums]].
    */
  private def orientedTriangles(us: Array[Int], vs: Array[Int],
      deg: Array[Int], perEdge: Boolean): Array[Long] = {
    val n = us.length
    def rankLt(x: Int, y: Int): Boolean =
      deg(x) < deg(y) || (deg(x) == deg(y) && x < y)
    val lo = new Array[Int](n)
    var i = 0
    while (i < n) { lo(i) = if (rankLt(us(i), vs(i))) us(i) else vs(i); i += 1 }
    val (off, out) = edgeSlices(deg.length, lo, Array.range(0, n), us, vs)
    parallelEdgeSums(n, if (perEdge) n else deg.length) { (acc, from, until) =>
      var e = from
      while (e < until) {
        val s = lo(e); val t = us(e) ^ vs(e) ^ s
        var pa = off(s); var pb = off(t)
        val ea = off(s + 1); val eb = off(t + 1)
        while (pa < ea && pb < eb) {
          val wa = (out(pa) >>> 32).toInt; val wb = (out(pb) >>> 32).toInt
          if (wa < wb) pa += 1
          else if (wb < wa) pb += 1
          else {
            if (perEdge) {
              acc(e) += 1; acc(out(pa).toInt) += 1; acc(out(pb).toInt) += 1
            } else { acc(s) += 1; acc(t) += 1; acc(wa) += 1 }
            pa += 1; pb += 1
          }
        }
        e += 1
      }
    }
  }

  /** Order-free integer sums over the edge range `0 until n`, split
    * across driver threads: each runs `pass(acc, from, until)` into a
    * PRIVATE `long[width]` (no atomics, no races; `pass` only reads
    * shared state), and the arrays merge by plain addition —
    * bit-identical to one sequential pass whatever the split.
    */
  private def parallelEdgeSums(n: Int, width: Int)
      (pass: (Array[Long], Int, Int) => Unit): Array[Long] = {
    val nThreads = math.min(8,
      math.max(1, Runtime.getRuntime.availableProcessors / 4))
    val partials = Array.fill(nThreads)(new Array[Long](width))
    (0 until nThreads).map { t =>
      val th = new Thread(() => pass(partials(t),
        (n.toLong * t / nThreads).toInt, (n.toLong * (t + 1) / nThreads).toInt))
      th.start(); th
    }.foreach(_.join())
    val sum = partials(0)
    partials.tail.foreach { p =>
      var j = 0
      while (j < width) { sum(j) += p(j); j += 1 }
    }
    sum
  }

  /** Compressed sparse rows over dense nodes `0 until nN`: offsets by
    * prefix sum, then entry e puts `to(e)` in node `from(e)`'s slice
    * `adj(off(v) until off(v + 1))`, slices in entry order. Returns
    * (off, adj).
    */
  private def csr(nN: Int, from: Array[Int], to: Array[Int])
      : (Array[Int], Array[Int]) = {
    val off = new Array[Int](nN + 1)
    var i = 0
    while (i < from.length) { off(from(i) + 1) += 1; i += 1 }
    i = 0
    while (i < nN) { off(i + 1) += off(i); i += 1 }
    val pos = java.util.Arrays.copyOf(off, nN)
    val adj = new Array[Int](from.length)
    i = 0
    while (i < from.length) {
      adj(pos(from(i))) = to(i); pos(from(i)) += 1; i += 1
    }
    (off, adj)
  }

  /** [[csr]] of the edge ids `edge` keyed by `from`, each slice as
    * packed `(neighbor << 32) | edge` longs sorted by neighbor — the
    * merge-scan layout of the triangle kernels. Entry i is edge
    * `edge(i)` of the simple undirected pairs (us, vs), seen from its
    * endpoint `from(i)`.
    */
  private def edgeSlices(nN: Int, from: Array[Int], edge: Array[Int],
      us: Array[Int], vs: Array[Int]): (Array[Int], Array[Long]) = {
    val (off, es) = csr(nN, from, edge)
    val packed = new Array[Long](es.length)
    var v = 0
    while (v < nN) {
      var p = off(v)
      while (p < off(v + 1)) {
        val e = es(p)
        packed(p) = ((us(e) ^ vs(e) ^ v).toLong << 32) | e
        p += 1
      }
      java.util.Arrays.sort(packed, off(v), off(v + 1))
      v += 1
    }
    (off, packed)
  }

  /** A LocalRelation of `n` rows with the (name, type) columns
    * `fields` — the driver kernels' output shape. `row(ix)` builds row
    * ix on demand, so Rows materialize one at a time during the
    * LocalRelation conversion instead of as a strict boxed Seq.
    */
  private def rowsDf(spark: SparkSession, n: Int, fields: (String, DataType)*)
      (row: Int => Row): DataFrame = {
    val rows = new java.util.AbstractList[Row] {
      override def size(): Int = n
      override def get(ix: Int): Row = row(ix)
    }
    spark.createDataFrame(rows,
      StructType(fields.map { case (name, t) => StructField(name, t) }))
  }

  /** `(node, <name>)` long rows of the dense nodes ix < nN with
    * `keep(ix)`: id(ix) and values(ix).
    */
  private def nodeValuesDf(spark: SparkSession, nN: Int, id: Int => Long,
      name: String, values: Array[Long])(keep: Int => Boolean): DataFrame = {
    val kept = new Array[Int](nN)
    var n = 0
    var i = 0
    while (i < nN) { if (keep(i)) { kept(n) = i; n += 1 }; i += 1 }
    rowsDf(spark, n, "node" -> LongType, name -> LongType)(k =>
      Row(id(kept(k)), values(kept(k))))
  }

  /** The 3 hub seeds (symmetric degree desc, id asc) of a relational
    * edge table, as a `node` column — the q110/q116/q193 seed rule.
    */
  private[graft] def hubSeeds(edges: DataFrame): DataFrame =
    edges.groupBy(col("src")).agg(count(lit(1)).as("d"))
      .orderBy(col("d").desc, col("src")).limit(3)
      .select(col("src").as("node"))

  /** Top-k hub seeds by (symmetric-degree desc, id asc) over a
    * collected graph — the in-memory replica of [[hubSeeds]].
    */
  private def hubSeedIx(g: CollectedEdges, k: Int): Array[Int] = {
    val deg = g.srcDegrees()
    (0 until g.nN).sortBy(ix => (-deg(ix), g.id(ix))).take(k).toArray
  }

  private def allLongIds(df: DataFrame): Boolean =
    df.schema.fields.forall(_.dataType == LongType)

  /** Dense 0-based indexes for long ids, in first-seen order. */
  private[operators] final class LongIds {
    private val idx = new java.util.HashMap[java.lang.Long, Integer]()
    private var ids = new Array[Long](1024)
    def apply(x: Long): Int = {
      val got = idx.get(x)
      if (got != null) got.intValue
      else {
        val ix = idx.size
        if (ix == ids.length) ids = java.util.Arrays.copyOf(ids, ix * 2)
        ids(ix) = x; idx.put(x, ix); ix
      }
    }
    def size: Int = idx.size
    def id(ix: Int): Long = ids(ix)
    def toArray: Array[Long] = java.util.Arrays.copyOf(ids, size)
  }

  /** Path-halving union-find over dense indexes; an index is its own
    * root until first joined, and a union keeps the smaller root, so
    * every root is its component's smallest index.
    */
  private final class UnionFind {
    private var parent = new Array[Int](0)
    def find(a0: Int): Int = {
      if (a0 >= parent.length) {
        val n = parent.length
        parent = java.util.Arrays.copyOf(parent, math.max(a0 + 1, n * 2))
        var i = n
        while (i < parent.length) { parent(i) = i; i += 1 }
      }
      var a = a0
      while (parent(a) != a) { parent(a) = parent(parent(a)); a = parent(a) }
      a
    }
    def union(a: Int, b: Int): Unit = {
      val ra = find(a); val rb = find(b)
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
  }

  /** `df`'s first `width` long columns, one packed array per partition,
    * collected by ONE parallel job (toLocalIterator would run one
    * SERIAL job per partition, which cost more than the round loop it
    * replaced when first measured).
    */
  private[operators] def packedLongs(df: DataFrame, width: Int)
      : Array[Array[Long]] =
    df.rdd.mapPartitions { it =>
      var buf = new Array[Long](width * 1024)
      var o = 0
      it.foreach { row =>
        if (o == buf.length) buf = java.util.Arrays.copyOf(buf, o * 2)
        var c = 0
        while (c < width) { buf(o + c) = row.getLong(c); c += 1 }
        o += width
      }
      Iterator.single(java.util.Arrays.copyOf(buf, o))
    }.collect()

  /** Collected slim long-id edge list for the driver kernels: dense
    * node index + parallel primitive edge arrays, filled by
    * [[packedLongs]]. `weighted` additionally captures a long weight
    * column at row position 2. Seeds may be interned AFTER the fill (a
    * seed without edges still indexes); size per-node arrays by [[nN]]
    * only after all interning is done.
    */
  private final class CollectedEdges private (nE: Int, weighted: Boolean) {
    private val nodes = new LongIds
    val ss = new Array[Int](nE); val ds = new Array[Int](nE)
    val ws: Array[Long] = if (weighted) new Array[Long](nE) else null
    def idOf(x: Long): Int = nodes(x)
    def this(edges: DataFrame, nE: Int, weighted: Boolean) = {
      this(nE, weighted)
      val width = if (weighted) 3 else 2
      var i = 0
      packedLongs(edges, width).foreach { part =>
        var p = 0
        while (p < part.length) {
          ss(i) = idOf(part(p)); ds(i) = idOf(part(p + 1))
          if (weighted) ws(i) = part(p + 2)
          p += width; i += 1
        }
      }
      require(i == nE, s"CollectedEdges: edge count drifted ($i vs $nE)")
    }
    def nN: Int = nodes.size
    def id(ix: Int): Long = nodes.id(ix)
    /** Out-degree (edge rows by src) per dense node. */
    def srcDegrees(): Array[Long] = {
      val deg = new Array[Long](nN)
      var i = 0
      while (i < ss.length) { deg(ss(i)) += 1; i += 1 }
      deg
    }
  }

  private object CollectedEdges {
    /** A CollectedEdges over ALREADY-COLLECTED undirected pairs (dense
      * indices + id table, the [[collectBasketPairs]] output): emits
      * both orientations so the kernels see exactly the symmetric
      * deduped edge list [[coPurchaseEdges]] would have produced. A
      * per-pair weight `w`, when given, rides on both orientations.
      */
    def fromSym(ids: Array[Long], us: Array[Int], vs: Array[Int],
        w: Array[Long] = null): CollectedEdges = {
      val nUnd = us.length
      val g = new CollectedEdges(2 * nUnd, weighted = w != null)
      var i = 0
      while (i < ids.length) { g.idOf(ids(i)); i += 1 }
      i = 0
      while (i < nUnd) {
        g.ss(i) = us(i); g.ds(i) = vs(i)
        g.ss(nUnd + i) = vs(i); g.ds(nUnd + i) = us(i)
        if (w != null) { g.ws(i) = w(i); g.ws(nUnd + i) = w(i) }
        i += 1
      }
      g
    }
  }

  /** Driver-collected co-purchase pairs: dense-indexed undirected
    * edges (ids(us) < ids(vs)) with the per-pair shared-order count.
    */
  private final class BasketPairs(val ids: Array[Long],
      val us: Array[Int], val vs: Array[Int], val counts: Array[Int]) {
    /** Pairs with count ≥ minCount, compacted (the
      * [[prunedCoPurchaseEdges]] prune). The id table keeps only the
      * nodes of a surviving pair, in their old order, so a kernel over
      * the pruned pairs sees exactly the nodes of the pruned edge table.
      */
    def pruned(minCount: Int): BasketPairs = {
      val newIx = new Array[Int](ids.length)
      java.util.Arrays.fill(newIx, -1)
      var n = 0
      var i = 0
      while (i < counts.length) {
        if (counts(i) >= minCount) {
          n += 1; newIx(us(i)) = 0; newIx(vs(i)) = 0
        }
        i += 1
      }
      var nN = 0
      i = 0
      while (i < ids.length) {
        if (newIx(i) == 0) { newIx(i) = nN; nN += 1 }
        i += 1
      }
      val ids2 = new Array[Long](nN)
      i = 0
      while (i < ids.length) {
        if (newIx(i) >= 0) ids2(newIx(i)) = ids(i)
        i += 1
      }
      val u2 = new Array[Int](n); val v2 = new Array[Int](n)
      val c2 = new Array[Int](n)
      var o = 0
      i = 0
      while (i < counts.length) {
        if (counts(i) >= minCount) {
          u2(o) = newIx(us(i)); v2(o) = newIx(vs(i)); c2(o) = counts(i)
          o += 1
        }
        i += 1
      }
      new BasketPairs(ids2, u2, v2, c2)
    }
  }

  /** The co-purchase pair build with NO DISTRIBUTED WORK at all below
    * the gate (r15, guide §2.4 taken to its limit for the driver-kernel
    * family): the slim (l_orderkey, l_partkey) scan is packed-collected
    * in one job — no groupBy, no DISTINCT, no explode ever runs — and
    * baskets are grouped, deduped and paired on the driver (sort +
    * unique on packed (ok,pk) then (lo,hi) longs — exactly the
    * relational collect_set + u<v DISTINCT). Returns None past any
    * gate, and the caller falls back to the UNCHANGED relational build
    * (the 100 TB path):
    *   - parquet-footer row count > [[Gates.CopurchaseRows]]
    *     (16M rows ≈ 256 MB packed — checked BEFORE any job);
    *   - a key outside [0, 2^32) (packing would alias — checked during
    *     the collect, per partition);
    *   - undirected pair count > maxPairs (the caller's driver edge
    *     budget — exact, computed from basket sizes before the pair
    *     array is allocated).
    */
  /** `withMultiplicity = true` skips the within-order (ok,pk) dedup:
    * a pair shared by rows with multiplicities m_x, m_y contributes
    * m_x·m_y to its count — the row-pair count of the q193 self-join
    * spelling (`a.pk < b.pk`, no distinct). Default (false) dedups
    * like collect_set: count = number of SHARED ORDERS.
    */
  private def collectBasketPairs(s: SparkSession, d: String,
      maxPairs: Long, withMultiplicity: Boolean = false)
      : Option[BasketPairs] = {
    val maxRows = Gates.driver(s, Gates.CopurchaseRows)
    if (maxPairs <= 0 || maxRows <= 0) return None
    val nRows = graft.sources.TableStatistics
      .tableRowCount(s, d, "lineitem")
    if (nRows > maxRows) return None
    val li = Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_partkey"))
    // packed collect with a per-partition max-key header (slot 0)
    val packed: Array[Array[Long]] = li.rdd.mapPartitions { it =>
      var buf = new Array[Long](2 * 1024 + 1)
      var o = 1
      var mx = 0L
      it.foreach { row =>
        if (o + 2 > buf.length)
          buf = java.util.Arrays.copyOf(buf, buf.length * 2)
        val ok = row.getLong(0); val pk = row.getLong(1)
        mx = math.max(mx, math.max(ok, pk))
        if (ok < 0 || pk < 0) mx = Long.MaxValue // negatives can't pack
        buf(0) = mx
        buf(o) = ok; buf(o + 1) = pk
        o += 2
      }
      buf(0) = mx
      Iterator.single(java.util.Arrays.copyOf(buf, o))
    }.collect()
    if (packed.exists(p => p.nonEmpty && p(0) >= (1L << 32))) return None
    // group by order: sort packed (ok<<32 | pk), dedup (collect_set)
    val total = packed.map(p => (p.length - 1) / 2).sum
    val rows = new Array[Long](total)
    var m = 0
    packed.foreach { part =>
      var p = 1
      while (p + 1 < part.length) {
        rows(m) = (part(p) << 32) | part(p + 1)
        m += 1; p += 2
      }
    }
    java.util.Arrays.sort(rows, 0, m)
    var nDedup = 0
    var i = 0
    if (withMultiplicity) nDedup = m
    else while (i < m) {
      if (i == 0 || rows(i) != rows(i - 1)) {
        rows(nDedup) = rows(i); nDedup += 1
      }
      i += 1
    }
    // exact undirected-pair budget from the (deduped) basket sizes
    var nPairs = 0L
    i = 0
    var runStart = 0
    while (i <= nDedup) {
      if (i == nDedup || (rows(i) >>> 32) != (rows(runStart) >>> 32)) {
        val sz = (i - runStart).toLong
        nPairs += sz * (sz - 1) / 2
        runStart = i
      }
      i += 1
    }
    if (nPairs > math.min(maxPairs, (Int.MaxValue - 8L))) return None
    // intern parts, emit dense (lo, hi) pairs per basket
    val idOf = new LongIds
    val pairs = new Array[Long](nPairs.toInt)
    var o = 0
    i = 0
    runStart = 0
    while (i <= nDedup) {
      if (i == nDedup || (rows(i) >>> 32) != (rows(runStart) >>> 32)) {
        var a = runStart
        while (a < i) {
          val da = idOf(rows(a) & 0xFFFFFFFFL)
          var b = a + 1
          while (b < i) {
            // multiplicity mode keeps duplicate basket entries —
            // equal-pk row pairs never join (a.pk < b.pk)
            if (rows(b) != rows(a)) {
              val db = idOf(rows(b) & 0xFFFFFFFFL)
              pairs(o) = (math.min(da, db).toLong << 32) |
                math.max(da, db).toLong
              o += 1
            }
            b += 1
          }
          a += 1
        }
        runStart = i
      }
      i += 1
    }
    // count = shared-order count per pair
    Some(distinctPairs(idOf.toArray, pairs, o))
  }

  /** The distinct pairs among packed dense-index `(a << 32) | b` longs
    * `pairs(0 until m)` (sorted in place), each oriented by ORIGINAL id
    * (the relational u < v contract) and counted.
    */
  private def distinctPairs(ids: Array[Long], pairs: Array[Long], m: Int)
      : BasketPairs = {
    java.util.Arrays.sort(pairs, 0, m)
    var nUnd = 0
    var i = 0
    while (i < m) {
      if (i == 0 || pairs(i) != pairs(i - 1)) nUnd += 1
      i += 1
    }
    val us = new Array[Int](nUnd); val vs = new Array[Int](nUnd)
    val counts = new Array[Int](nUnd)
    var w = -1
    i = 0
    while (i < m) {
      if (i == 0 || pairs(i) != pairs(i - 1)) {
        w += 1
        val x = (pairs(i) >>> 32).toInt; val y = pairs(i).toInt
        if (ids(x) < ids(y)) { us(w) = x; vs(w) = y }
        else { us(w) = y; vs(w) = x }
      }
      counts(w) += 1
      i += 1
    }
    new BasketPairs(ids, us, vs, counts)
  }

  /** In-memory PageRank rounds — the below-gate path of [[pageRank]].
    * Bit-identical to the relational [[prRound]] loop past the gate:
    * the same truncating long division per edge, order-free integer
    * adds, and the same presence semantics (round k's rank keys are
    * exactly the dsts reachable from round k−1's keys — on the
    * documented symmetric input that is every node from round 0 on).
    */
  private def pageRankDriver(spark: SparkSession, g: CollectedEdges,
      iters: Int, total: Long): DataFrame = {
    val nN = g.nN; val nE = g.ss.length
    val od = g.srcDegrees()
    var present = new Array[Boolean](nN)
    var i = 0
    while (i < nE) { present(g.ss(i)) = true; i += 1 }
    var nPresent = 0
    i = 0
    while (i < nN) { if (present(i)) nPresent += 1; i += 1 }
    require(nPresent > 0, "pageRank needs a non-empty edge list")
    val init = total / nPresent
    val base = (15L * init) / 100L
    var r = new Array[Long](nN)
    i = 0
    while (i < nN) { if (present(i)) r(i) = init; i += 1 }
    for (_ <- 0 until iters) {
      val cs = new Array[Long](nN)
      val touched = new Array[Boolean](nN)
      i = 0
      while (i < nE) {
        val s = g.ss(i)
        if (present(s)) {
          cs(g.ds(i)) += r(s) / od(s); touched(g.ds(i)) = true
        }
        i += 1
      }
      val nxt = new Array[Long](nN)
      i = 0
      while (i < nN) {
        if (touched(i)) nxt(i) = base + (85L * cs(i)) / 100L
        i += 1
      }
      r = nxt; present = touched
    }
    nodeValuesDf(spark, nN, g.id, "r", r)(present(_))
  }

  /** In-memory personalized-PageRank rounds — the below-gate path of
    * [[personalizedPageRank]]; same presence semantics as its
    * relational loop (teleport unioned AFTER the contribution pass,
    * so every seed is present every round).
    */
  private def pprDriver(spark: SparkSession, g: CollectedEdges,
      seedIx: Array[Int], iters: Int, total: Long): DataFrame = {
    val nN = g.nN; val nE = g.ss.length
    val od = g.srcDegrees()
    var i = 0
    val init = total / seedIx.length
    val sb = (15L * init) / 100L
    var present = new Array[Boolean](nN)
    var r = new Array[Long](nN)
    seedIx.foreach { sIx => present(sIx) = true; r(sIx) = init }
    for (_ <- 0 until iters) {
      val cs = new Array[Long](nN)
      val touched = new Array[Boolean](nN)
      i = 0
      while (i < nE) {
        val s = g.ss(i)
        if (present(s)) {
          // od(s) ≥ 1: s is present only as a seed or a reached dst,
          // and contributes only through its out-edges
          cs(g.ds(i)) += r(s) / od(s); touched(g.ds(i)) = true
        }
        i += 1
      }
      val nxt = new Array[Long](nN)
      i = 0
      while (i < nN) {
        if (touched(i)) nxt(i) = (85L * cs(i)) / 100L
        i += 1
      }
      seedIx.foreach { sIx => nxt(sIx) += sb; touched(sIx) = true }
      r = nxt; present = touched
    }
    nodeValuesDf(spark, nN, g.id, "r", r)(present(_))
  }

  /** In-memory synchronized k-core peel — the below-gate path of
    * [[kCore]]; replays the relational loop round for round (survivor
    * set from the CURRENT edge set, early exit on an unchanged
    * survivor COUNT — the set only shrinks, so count equality is set
    * equality — and the same `peels` cap).
    */
  private def kCoreDriver(spark: SparkSession, g: CollectedEdges,
      k: Int, peels: Int): DataFrame = {
    val nN = g.nN; val nE = g.ss.length
    val alive = new Array[Boolean](nE)
    java.util.Arrays.fill(alive, true)
    val deg = g.srcDegrees()
    var i = 0
    var prevNodes = -1L
    var round = 0
    var done = false
    while (round < peels && !done) {
      val surv = new Array[Boolean](nN)
      var n = 0L
      i = 0
      while (i < nN) { if (deg(i) >= k) { surv(i) = true; n += 1 }; i += 1 }
      if (n == prevNodes) done = true
      else {
        prevNodes = n
        java.util.Arrays.fill(deg, 0L)
        i = 0
        while (i < nE) {
          if (alive(i) && surv(g.ss(i)) && surv(g.ds(i))) deg(g.ss(i)) += 1
          else alive(i) = false
          i += 1
        }
        round += 1
      }
    }
    nodeValuesDf(spark, nN, g.id, "core_deg", deg)(deg(_) >= 1)
  }

  /** In-memory frontier BFS — the below-gate path of [[bfsHops]]: a
    * node enters `visited` exactly once at its first (= minimum) hop,
    * the same invariant the relational anti-join enforces.
    */
  private def bfsDriver(spark: SparkSession, g: CollectedEdges,
      seedIx: Array[Int], maxHops: Int): DataFrame = {
    val nN = g.nN
    val (off, adj) = csr(nN, g.ss, g.ds)
    val hops = new Array[Long](nN)
    java.util.Arrays.fill(hops, -1L)
    var frontier = new Array[Int](seedIx.length)
    var fN = 0
    seedIx.foreach { sIx =>
      if (hops(sIx) < 0) { hops(sIx) = 0L; frontier(fN) = sIx; fN += 1 }
    }
    var h = 0L
    while (h < maxHops && fN > 0) {
      h += 1
      val next = new Array[Int](nN)
      var nN2 = 0
      var fi = 0
      while (fi < fN) {
        val u = frontier(fi)
        var j = off(u)
        while (j < off(u + 1)) {
          val v = adj(j)
          if (hops(v) < 0) { hops(v) = h; next(nN2) = v; nN2 += 1 }
          j += 1
        }
        fi += 1
      }
      frontier = next; fN = nN2
    }
    nodeValuesDf(spark, nN, g.id, "hops", hops)(hops(_) >= 0)
  }

  /** In-memory hop-bounded Bellman–Ford — the below-gate path of
    * [[weightedSssp]]: synchronized full relaxation from the improved
    * frontier per round, `addExact` so an overflow fails loud exactly
    * like the relational ANSI add.
    */
  private def ssspDriver(spark: SparkSession, g: CollectedEdges,
      seedIx: Array[Int], maxRounds: Int): DataFrame = {
    val nN = g.nN; val nE = g.ss.length
    val dist = new Array[Long](nN)
    val has = new Array[Boolean](nN)
    var frontier = new Array[Boolean](nN)
    seedIx.foreach { sIx => has(sIx) = true; frontier(sIx) = true }
    var fN = seedIx.length
    var r = 0
    while (r < maxRounds && fN > 0) {
      r += 1
      val candV = new Array[Long](nN)
      val candHas = new Array[Boolean](nN)
      var i = 0
      while (i < nE) {
        val s = g.ss(i)
        if (frontier(s)) {
          val c = Math.addExact(dist(s), g.ws(i))
          val d = g.ds(i)
          if (!candHas(d) || c < candV(d)) { candHas(d) = true; candV(d) = c }
        }
        i += 1
      }
      val nf = new Array[Boolean](nN)
      fN = 0
      i = 0
      while (i < nN) {
        if (candHas(i) && (!has(i) || candV(i) < dist(i))) {
          dist(i) = candV(i); has(i) = true; nf(i) = true; fN += 1
        }
        i += 1
      }
      frontier = nf
    }
    nodeValuesDf(spark, nN, g.id, "dist", dist)(has(_))
  }

  /** One PageRank round over a `(src, dst, od)` edge table and a
    * `(node, r)` rank vector — split out so plan audits can pin both
    * gate modes (broadcast vs bucketed) without the checkpoint hiding
    * the join shape. The only full-width exchange per round is the
    * map-side-combined contribution sum (≤ |nodes| rows). Every
    * pageRank round past the driver edge gate is this one, and every
    * personalizedPageRank round is this one with `base` 0 plus the
    * seed teleport (bit-identical to the driver kernels — the suite's
    * gate test pins the equivalence in all three gate modes).
    */
  private[graft] def prRound(withDeg: DataFrame, ranks: DataFrame,
      base: Long, bc: Boolean): DataFrame =
    withDeg.join(nodeSide(ranks, bc), col("src") === col("node"))
      .select(col("dst"), expr("r div od").as("c"))
      .groupBy(col("dst")).agg(sum(col("c")).as("cs"))
      .select(col("dst").as("node"),
        (lit(base) + expr("(85 * cs) div 100")).as("r"))

  /** Per-node triangle counts over a SYMMETRIC edge list (duplicate
    * edges allowed — the adjacency build dedups) — the
    * clustering-coefficient numerator (community tightness, spam/bot
    * subgraph detection). Adjacency-intersection edge-iterator
    * (Latapy 2008; Schank & Wagner 2005 orientation): each node's
    * neighbors are collected once into a SORTED PACKED array, and for
    * every oriented edge (u, v) the third corners are exactly the
    * common neighbors above v's packed key — a two-pointer merge of
    * two sorted suffixes ([[graft.functions.SortedIntersectAbove]],
    * codegen; the HOF spelling ran interpreted and cost ~5 s alone at
    * sf0.1). Each triangle is found exactly once, at its smallest
    * corner pair under the orientation order.
    *
    * Orientation order: (raw per-node edge count, id) packed into one
    * long. Any deterministic total order is CORRECT (it only decides
    * where each triangle is counted); ordering by degree keeps the
    * per-node out-degree ≤ O(√E) so Σ intersect work stays O(E^{3/2})
    * on power-law graphs. The RAW count (duplicates included) tracks
    * the distinct degree closely enough for that bound while staying a
    * plain map-side-combinable sum — no per-group set on the first
    * pass. Packing is injective only for ids < 2³² and counts < 2³¹;
    * beyond that distinct keys would alias and inflate counts
    * silently, so the build asserts the bound per row.
    *
    * Scale shape: two node-scale artifacts (degree, packed adjacency),
    * each checkpointed once; the per-node joins broadcast under a
    * size gate (≤4 M nodes, ≤100 M edge endpoints ≈ 800 MB packed)
    * and fall back to shuffle joins beyond it — the kernel itself is
    * unchanged. Wedge-scale data never leaves the intersect loop:
    * nothing larger than the edge list is shuffled or materialized.
    */
  def triangleCounts(symEdges: DataFrame): DataFrame = {
    val (adj, useBc) = triangleAdjacency(symEdges)
    triangleKernel(adj, useBc)
  }

  /** [[triangleCounts]] plus each node's exact distinct degree —
    * `size(nbrs)` of the deduped adjacency, so q223 pays nothing extra
    * for its normalizer. Covers EVERY node (degree ≥ 1); nodes with no
    * triangles report n_tri = 0.
    */
  private[graft] def triangleCountsWithDegree(symEdges: DataFrame): DataFrame = {
    val (adj, useBc) = triangleAdjacency(symEdges)
    adj.select(col("pku").bitwiseAND(lit((1L << 32) - 1)).as("node"),
        size(col("nbrs")).cast("long").as("degree"))
      .join(triangleKernel(adj, useBc), Seq("node"), "left")
      .withColumn("n_tri", coalesce(col("n_tri"), lit(0L)).cast("long"))
  }

  /** Packed sorted adjacency per node, plus the broadcast-gate verdict.
    * `nbrs` is the ascending array of (raw-count<<32 | id) over the
    * node's DISTINCT neighbors (collect_set dedups, so duplicate input
    * edges are free); `pku` is the node's own packed key.
    */
  private def triangleAdjacency(symEdges: DataFrame): (DataFrame, Boolean) = {
    // raw (duplicates-included) per-node edge count: the orientation key
    val deg = symEdges.groupBy(col("src")).agg(count(lit(1)).as("dg"))
      .localCheckpoint(false)
    // bounded driver read: ONE row of node/endpoint totals for the gate
    val stats = deg.agg(count(lit(1)).as("n"), sum(col("dg")).as("m")).collect()(0)
    val useBc = stats.getLong(0) <= 4000000L && stats.getLong(1) <= 100000000L
    def side(df: DataFrame): DataFrame = if (useBc) broadcast(df) else df
    // assert_true yields NULL on success, so the packed value is routed
    // through it — column pruning can't drop the check
    def packGuard(id: Column, dgc: Column): Column =
      when(assert_true(id >= 0 && id < lit(1L << 32) && dgc < lit(1L << 31),
          lit("triangleCounts: node ids must be in [0, 2^32) and " +
            "raw degrees < 2^31 for packed keys")).isNull,
        shiftleft(dgc, 32) + id)
    val adj = symEdges
      .join(side(deg.select(col("src").as("dst"), col("dg").as("dv"))), "dst")
      .groupBy(col("src"))
      .agg(sort_array(collect_set(packGuard(col("dst"), col("dv")))).as("nbrs"))
      .join(side(deg), "src")
      .select(packGuard(col("src"), col("dg")).as("pku"), col("nbrs"))
      .localCheckpoint(false)
    (adj, useBc)
  }

  /** The edge-iterator kernel: oriented edges stream straight out of
    * the adjacency explode, and each edge's closing corners are one
    * sorted-suffix merge ([[graft.functions.SortedIntersectAbove]]).
    * Returns (node, n_tri) for nodes in ≥ 1 triangle.
    */
  private def triangleKernel(adj: DataFrame, useBc: Boolean): DataFrame = {
    val MASK = (1L << 32) - 1
    val edges = adj
      .select(col("pku"), col("nbrs"), explode(col("nbrs")).as("pkv"))
      .filter(col("pku") < col("pkv"))
    val vSide = adj.select(col("pku").as("pkv"), col("nbrs").as("nv"))
    val withV = edges.join(if (useBc) broadcast(vSide) else vSide, "pkv")
    val tris = withV.select(col("pku").as("pa"), col("pkv").as("pb"),
        graft.functions.SortedIntersectAbove.intersectAbove(
          col("nbrs"), col("nv"), col("pkv")).as("ww"))
      .filter(size(col("ww")) > 0)
    tris.select(col("pa"), col("pb"), explode(col("ww")).as("pc"))
      .select(explode(array(
        col("pa").bitwiseAND(lit(MASK)), col("pb").bitwiseAND(lit(MASK)),
        col("pc").bitwiseAND(lit(MASK)))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("n_tri"))
  }

  /** 122. Triangle census of the part co-purchase graph (same graph as
    * q105): parts whose neighborhoods close into triangles are bundle
    * cores, and the count is exact — verified against the oracle's
    * direct a<b<c three-way enumeration, which the orientation provably
    * equals while doing O(E^{3/2}) work instead of hub-quadratic.
    * Feeds [[coPurchaseRawPairs]] (duplicates included) — the
    * adjacency collect_set dedups, so the separate DISTINCT shuffle of
    * [[coPurchaseEdges]] is skipped.
    */
  def q107Triangles(s: SparkSession, d: String): DataFrame =
    // r15: driver triangle kernel below the gate (no distributed pair
    // build, no adjacency shuffle); counts are orientation-invariant,
    // so the basket-deduped graph gives the identical node totals —
    // the GraphSpec differential pins driver ≡ relational
    collectBasketPairs(s, d, driverMaxEdges(s) / 2)
      .map { bp =>
        val (tri, _) = driverTriangles(bp.us, bp.vs, bp.ids.length)
        nodeValuesDf(s, bp.ids.length, bp.ids(_), "n_tri", tri)(tri(_) > 0)
      }
      .getOrElse(triangleCounts(coPurchaseRawPairs(s, d)))
      .select(col("node").as("partkey"), col("n_tri"))

  /** k-core of a SYMMETRIC edge list by iterative peeling (Seidman
    * 1983): repeatedly drop nodes whose degree within the SURVIVING
    * subgraph is < k — removals cascade, so the fixpoint is the
    * maximal subgraph of minimum degree ≥ k (the dense-community /
    * spam-ring detector; a node's raw degree says little when its
    * neighbors are all peripheral). Returns surviving (node,
    * core_deg).
    *
    * Each peel is one map-side-combined degree count (node-scale
    * output) plus two BROADCAST semi-joins of the current edge table
    * against the survivor set — edges only shrink, and the survivor
    * set is node-scale throughout. Peeling stops early at the
    * fixpoint: the survivor set only shrinks, so an unchanged COUNT
    * implies an unchanged set (the node-scale count job is far
    * cheaper than an edge-scale no-op round). `peels` caps the rounds
    * so an adversarial chain (each round removing one node) stays
    * bounded; the DuckDB oracle replays the identical fixed-round
    * recursion, and convergence inside the cap makes capped ≡
    * converged.
    */
  def kCore(symEdges: DataFrame, k: Int, peels: Int = 15): DataFrame = {
    var cur = symEdges.localCheckpoint(false)
    // r14: below the driver edge gate the synchronized peel runs on
    // primitive arrays (the q240 driverPeel / q214 rule) — the
    // relational loop pays count + two semi-joins + checkpoint PER
    // ROUND of a cascade that settles in milliseconds in memory.
    val slim = cur.select(col("src"), col("dst"))
    driverEdgeCount(cur, slim) match {
      case Some(nE) => return kCoreDriver(cur.sparkSession,
        new CollectedEdges(slim, nE, weighted = false), k, peels)
      case None =>
    }
    var prevNodes = -1L
    var round = 0
    var done = false
    while (round < peels && !done) {
      val surv = cur.groupBy(col("src")).agg(count(lit(1)).as("_d"))
        .filter(col("_d") >= k).select(col("src").as("_s"))
        .localCheckpoint(false)
      val n = surv.count()
      if (n == prevNodes) done = true
      else {
        prevNodes = n
        cur = cur
          .join(broadcast(surv), col("src") === col("_s"), "left_semi")
          .join(broadcast(surv), col("dst") === col("_s"), "left_semi")
          .localCheckpoint(false)
        round += 1
      }
    }
    cur.groupBy(col("src").as("node"))
      .agg(count(lit(1)).as("core_deg"))
  }

  /** 124. The 80-core of the part co-purchase graph (k chosen against
    * the sf0.01 degree distribution so the cascade is real: 2000 →
    * 1903 → 1878 → 1865 → 1858 → 1857 nodes, converged round 5 —
    * first-round survivors keep shrinking because each removal lowers
    * its neighbors' in-core degrees).
    */
  def q109KCore(s: SparkSession, d: String): DataFrame =
    // r15: basket fast path — no distributed pair build below the gate
    coPurchaseCollected(s, d)
      .map(g => kCoreDriver(s, g, k = 80, peels = 15))
      .getOrElse(kCore(coPurchaseEdges(s, d), k = 80, peels = 15))
      .select(col("node").as("partkey"), col("core_deg"))

  /** Minimum hop distance from a SEED set over a symmetric edge list —
    * frontier-expansion BFS (the "distance from the flagship products"
    * / blast-radius primitive; reference counterpart: the category
    * closure walks in helper_functions.py's lookup chains, generalized
    * to graph distance). `seeds` must have a `node` column.
    *
    * Each round is one broadcast semi-join of the edge table against
    * the NODE-scale frontier plus a node-scale anti-join against the
    * visited set — the edge table is never shuffled, and a node enters
    * `visited` exactly once, at its first (= minimum) hop count, so no
    * min-aggregate over paths is ever needed (path enumeration is the
    * exponential trap; the visited-set anti-join is what keeps each
    * round bounded by |V|). Early exit on an empty frontier; `maxHops`
    * caps adversarial chains, and the oracle replays the identical cap
    * (capped ≡ converged once the frontier drains, as it does here).
    * Lineage is cut per round (the q61/q76/q105 loop rule); the
    * per-round `count()` is the bounded early-exit scalar.
    */
  def bfsHops(symEdges: DataFrame, seeds: DataFrame,
      maxHops: Int = 8): DataFrame = {
    val spark = symEdges.sparkSession
    val edges = symEdges.localCheckpoint(false)
    // r14: below the driver edge gate the whole frontier expansion is
    // one in-memory CSR walk (the q214/q126 rule) — the relational
    // loop pays two joins + distinct + count + checkpoint per hop.
    val slim = edges.select(col("src"), col("dst"))
    val seedTab = seeds.select(col("node")).distinct()
    driverEdgeCount(edges, slim, seedTab) match {
      case Some(nE) =>
        val g = new CollectedEdges(slim, nE, weighted = false)
        val seedIx = seedTab.collect().map(r => g.idOf(r.getLong(0)))
        return bfsDriver(spark, g, seedIx, maxHops)
      case None =>
    }
    val maxB = maxBroadcastNodes(symEdges)
    // the frontier starts seed-sized and the visited set grows toward
    // node scale, and every round already counts both (the early-exit
    // scalars) — so the broadcast gate is PER ROUND and per table, at
    // zero extra jobs: the src-bucketed edge table materializes lazily
    // the first round a frontier outgrows the broadcast, and drops
    // after the final eager materialization
    withLazyBucketedEdges(edges) { srcEdges =>
      var visited = seeds.select(col("node")).distinct()
        .withColumn("hops", lit(0L)).localCheckpoint(false)
      var frontier = visited.select(col("node").as("_f"))
      var h = 0L
      var frontierN = frontier.count()
      var visitedN = frontierN
      while (h < maxHops && frontierN > 0) {
        h += 1
        val fBc = frontierN <= maxB
        frontier = bfsRound(if (fBc) edges else srcEdges(), frontier,
            visited, fBc, visitedN <= maxB)
          .localCheckpoint(false)
        frontierN = frontier.count()
        visitedN += frontierN
        visited = visited.unionByName(
            frontier.select(col("_f").as("node"), lit(h).as("hops")))
          .localCheckpoint(false)
      }
      visited
    }
  }

  /** One BFS expansion round — split out so plan audits can pin both
    * gate modes: edge table semi-joined against the `(_f)` frontier,
    * dedup'd, anti-joined against the `(node, hops)` visited set.
    */
  private[graft] def bfsRound(edges: DataFrame, frontier: DataFrame,
      visited: DataFrame, frontierBc: Boolean, visitedBc: Boolean)
      : DataFrame =
    edges
      .join(nodeSide(frontier, frontierBc), col("src") === col("_f"),
        "left_semi")
      .select(col("dst").as("_f")).distinct()
      .join(nodeSide(visited, visitedBc), col("_f") === col("node"),
        "left_anti")

  /** 125. Hop distance from the 3 highest-degree hub parts of the
    * co-purchase graph (degree ties broken by id, so seed choice is
    * deterministic): how far every part sits from the bundle cores.
    * The 8-hop cap is far beyond this graph's diameter from its hubs,
    * so capped ≡ converged — which is what makes the min-hop BFS
    * exactly replayable by the oracle's bounded recursion.
    */
  def q110BfsHops(s: SparkSession, d: String): DataFrame = {
    // r15: basket fast path — seeds replicated in memory (top-3 by
    // symmetric degree, id-ascending ties — [[hubSeedIx]])
    coPurchaseCollected(s, d) match {
      case Some(g) =>
        bfsDriver(s, g, hubSeedIx(g, 3), maxHops = 8)
          .select(col("node").as("partkey"), col("hops"))
      case None =>
        val edges = coPurchaseEdges(s, d).localCheckpoint(false)
        val seeds = hubSeeds(edges)
        bfsHops(edges, seeds, maxHops = 8)
          .select(col("node").as("partkey"), col("hops"))
    }
  }

  /** 120. Part-importance rank over the co-purchase graph: parts are
    * linked when the same order contains both (the product-graph
    * centrality behind "customers also bought" ranking).
    */
  def q105PageRank(s: SparkSession, d: String): DataFrame =
    // r15: basket fast path — no distributed pair build below the gate
    coPurchaseCollected(s, d)
      .map(g => pageRankDriver(s, g, 15, 1000000000000L))
      .getOrElse(pageRank(coPurchaseEdges(s, d), 15))
      .select(col("node").as("partkey"), col("r").as("rank_ppt"))

  /** Personalized PageRank (seeded teleport — Page et al. 1999 §6, the
    * "relevance to THESE nodes" variant behind recommendation and
    * TrustRank-style propagation): identical integer fixed-point
    * machinery to [[pageRank]] — ppt-long mass, truncating division,
    * order-independent and therefore engine-exact — except the 15%
    * teleport mass returns to the SEED set instead of spreading
    * uniformly, so rank mass measures proximity to the seeds. The rank
    * vector starts seed-only and grows with the reached set (sparse
    * early rounds are cheap); teleport rows are UNIONED with the
    * contribution rows before the per-node sum, so a seed keeps its
    * teleport even in a round where nothing flows back to it — the
    * oracle replays the identical union.
    *
    * Per round: [[prRound]] with no uniform teleport (edge table ⋈
    * node-scale rank vector, edges never shuffle — the q105 rule), the
    * seed teleport unioned in, one node-scale sum, lineage cut.
    * 100-TB: same shape and same `maxBroadcastNodes` gate as q105 —
    * past it the edge table pre-partitions on src once and the rank
    * vector shuffles to meet it.
    */
  def personalizedPageRank(symEdges: DataFrame, seeds: DataFrame,
      iters: Int): DataFrame = {
    val total = 1000000000000L
    val edges = symEdges.localCheckpoint(false)
    val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("od"))
      .localCheckpoint(false)
    val seedTab = seeds.select(col("node")).distinct().localCheckpoint(false)
    val nSeeds = seedTab.count()
    require(nSeeds > 0, "personalizedPageRank needs a non-empty seed set")
    val init = total / nSeeds
    val sb = (15L * init) / 100L
    // r14: same driver-kernel gate as [[pageRank]] (bit-identical —
    // order-free integer adds, the teleport union applied after the
    // contribution pass exactly as the relational loop does)
    val slim = edges.select(col("src"), col("dst"))
    driverEdgeCount(edges, slim, seedTab.select(col("node"))) match {
      case Some(nE) =>
        val g = new CollectedEdges(slim, nE, weighted = false)
        val seedIx = seedTab.collect().map(r => g.idOf(r.getLong(0)))
        return pprDriver(edges.sparkSession, g, seedIx, iters, total)
      case None =>
    }
    // teleport union: a seed keeps its teleport even when nothing
    // flows back to it this round (the oracle replays this union)
    val seedBase = seedTab.select(col("node"), lit(sb).as("r"))
    // the rank vector grows toward the reached-set scale, bounded by
    // |nodes| — gate on the graph's node count like pageRank
    val bc = deg.count() <= maxBroadcastNodes(symEdges)
    def loop(withDeg: DataFrame): DataFrame = {
      var ranks = seedTab.select(col("node"), lit(init).as("r"))
      for (_ <- 0 until iters)
        ranks = prRound(withDeg, ranks, 0L, bc).unionByName(seedBase)
          .groupBy(col("node")).agg(sum(col("r")).as("r"))
          .localCheckpoint(false)
      ranks
    }
    val withDeg = edges.join(nodeSide(deg, bc), "src")
    if (bc) loop(withDeg.localCheckpoint(false))
    else withBucketedEdges(withDeg)(loop)
  }

  /** 131. Seeded relevance over the co-purchase graph: personalized
    * PageRank from the 3 highest-degree hub parts (the q110 seed rule,
    * ties by id) — "how related is every part to the bundle cores",
    * the recommendation/propagation complement of q105's global
    * importance and q110's hop distance.
    */
  def q116Ppr(s: SparkSession, d: String): DataFrame = {
    // r15: basket fast path (seeds via [[hubSeedIx]], the q110 rule)
    coPurchaseCollected(s, d) match {
      case Some(g) =>
        pprDriver(s, g, hubSeedIx(g, 3), iters = 10,
            total = 1000000000000L)
          .select(col("node").as("partkey"), col("r").as("ppr_ppt"))
      case None =>
        val edges = coPurchaseEdges(s, d).localCheckpoint(false)
        val seeds = hubSeeds(edges)
        personalizedPageRank(edges, seeds, iters = 10)
          .select(col("node").as("partkey"), col("r").as("ppr_ppt"))
    }
  }

  /** Symmetric part co-purchase edges (parts sharing an order); the
    * per-order self-join's blow-up is bounded by order size (≤ 7
    * lineitems → ≤ 21 pairs), never by table size, and pair dedup
    * happens before symmetrize so the iteration graph is minimal.
    */
  private[graft] def coPurchaseEdges(s: SparkSession, d: String): DataFrame = {
    // r14: built from [[coPurchaseRawPairs]] (one groupBy shuffle +
    // bounded per-order explode) instead of the lineitem self-join —
    // the same unique pair set (collect_set dedups (ok, pk) within the
    // order exactly like the self-join's DISTINCT did), measured 2.2 s
    // → 1.4 s at sf0.1 across every consumer of this graph
    val pairs = coPurchaseRawPairs(s, d)
      .filter(col("src") < col("dst"))
      .select(col("src").as("s1"), col("dst").as("s2")).distinct()
    pairs.select(col("s1").as("src"), col("s2").as("dst"))
      .unionByName(pairs.select(col("s2").as("src"), col("s1").as("dst")))
  }

  /** [[coPurchaseEdges]] in DuckDB: the CTEs `pairs(s1 < s2)` and
    * `edges(src, dst)`, both directions.
    */
  val coPurchaseEdgesCtes: String =
    """pairs AS (
           SELECT DISTINCT a.l_partkey AS s1, b.l_partkey AS s2
           FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
           WHERE a.l_partkey < b.l_partkey
         ), edges AS (
           SELECT s1 AS src, s2 AS dst FROM pairs
           UNION ALL SELECT s2, s1 FROM pairs
         )"""

  /** Symmetric co-purchase pairs WITH duplicates (one row per ordered
    * pair per shared order) for consumers that dedup internally
    * (triangleCounts' collect_set adjacency): one groupBy into
    * per-order part arrays — bounded by order size, never table size —
    * then a double explode. Skipping the DISTINCT shuffle and the
    * self-join halves the edge-build cost vs [[coPurchaseEdges]].
    */
  private[graft] def coPurchaseRawPairs(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
    // checkpoint the slimmest form — per-order arrays, bounded by order
    // count — so the two consumers (degree pass, adjacency pass) replay
    // the explode from memory instead of re-running the scan + groupBy
    val orders = li.groupBy(col("ok")).agg(collect_set(col("pk")).as("parts"))
      .select(col("parts")).filter(size(col("parts")) > 1)
      .localCheckpoint(false)
    orders
      .select(col("parts"), explode(col("parts")).as("src"))
      .select(col("src"), explode(array_remove(col("parts"), col("src"))).as("dst"))
  }

  /** The co-purchase graph pruned to pairs sharing ≥ `minCount` orders
    * — the standard noise threshold before community detection (a
    * single shared basket is coincidence; repeated co-purchase is
    * signal). Same one-bounded-self-join-per-basket build as
    * [[coPurchaseEdges]], with the count folded into the pair
    * aggregate (no extra pass).
    */
  private[graft] def prunedCoPurchaseEdges(s: SparkSession, d: String,
      minCount: Int): DataFrame = {
    // r14: same raw-pairs rebase as [[coPurchaseEdges]] — each order
    // contributes each unordered pair exactly once to the raw explode
    // (collect_set dedups within the order, as the li.distinct()
    // self-join did), so the per-pair count IS the shared-order count
    val pairs = coPurchaseRawPairs(s, d)
      .filter(col("src") < col("dst"))
      .groupBy(col("src").as("s1"), col("dst").as("s2"))
      .agg(count(lit(1)).as("c"))
      .filter(col("c") >= minCount)
      .select("s1", "s2")
    pairs.select(col("s1").as("src"), col("s2").as("dst"))
      .unionByName(pairs.select(col("s2").as("src"), col("s1").as("dst")))
  }

  /** [[prunedCoPurchaseEdges]] in DuckDB: the CTEs `li` (distinct order
    * lines), `pairs(s1 < s2)` sharing at least `minCount` orders and
    * `edges(src, dst)`, both directions.
    */
  def prunedCoPurchaseEdgesCtes(minCount: Int): String =
    s"""li AS (
           SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
           FROM lineitem
         ), pairs AS (
           SELECT a.pk AS s1, b.pk AS s2
           FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
           GROUP BY 1, 2 HAVING COUNT(*) >= $minCount
         ), edges AS (
           SELECT s1 AS src, s2 AS dst FROM pairs
           UNION ALL SELECT s2, s1 FROM pairs
         )"""

  /** [[labelPropagation]] in DuckDB over a CTE `edges(src, dst)`:
    * `nodes` and the recursive `it(i, node, lbl)`; round `rounds` is
    * the result.
    */
  def labelPropagationCtes(rounds: Int): String =
    s"""nodes AS (SELECT src FROM edges GROUP BY src),
         it AS (
           SELECT 0 AS i, src AS node, src AS lbl FROM nodes
           UNION ALL
           SELECT i, node, lbl FROM (
             SELECT it.i + 1 AS i, e.dst AS node, it.lbl AS lbl,
                    COUNT(*) AS c
             FROM it JOIN edges e ON it.node = e.src
             WHERE it.i < $rounds
             GROUP BY 1, 2, 3
           ) QUALIFY row_number() OVER (PARTITION BY i, node
               ORDER BY c DESC, lbl ASC) = 1
         )"""

  /** 142. Community detection by synchronous label propagation
    * (Raghavan, Albert & Kumara 2007), made DETERMINISTIC: every node
    * starts as its own label; each round every node adopts the most
    * frequent label among its neighbors, ties broken by smallest
    * label; a FIXED round count (no data-dependent stopping). The
    * random-order asynchronous variant of the paper is
    * non-reproducible by design — synchronous rounds + total
    * tie-order make the output a pure function of the graph, which is
    * what a lineage-tracked corpus pipeline needs (same reasoning as
    * q63's seeded bands).
    *
    * Scale shape per round: ONE node-scale aggregate — edges join the
    * node-scale label table (broadcast, or past [[maxBroadcastNodes]]
    * the pre-partitioned-edges hash join), then (node, label)
    * partial counts map-side-combine into the argmax via the
    * TopKPerKey heap (≤1 row per partition×node through the shuffle).
    * The edge table itself never re-shuffles. Labels checkpoint per
    * round — the q105 lineage-cut rule.
    */
  def labelPropagation(symEdges: DataFrame, rounds: Int): DataFrame = {
    val edges0 = symEdges.select(col("src"), col("dst"))
      .localCheckpoint(false)
    // r14 (the q240/q266 driver-state rule): below the driver edge
    // gate the whole synchronous cascade runs in memory on a CSR of
    // the collected slim edge list — 5 relational rounds were pure
    // job floor (4.64 s at sf0.1 for a graph that labels in
    // milliseconds). Bit-identical: the per-round rule (most frequent
    // neighbor label, smallest label on ties, computed from the
    // PREVIOUS round's labels for every node at once) is a pure
    // function of the graph, spelled identically here and in
    // [[lpRound]]'s count+TopK form.
    driverEdgeCount(edges0, edges0) match {
      case Some(nE) => return driverLpa(symEdges.sparkSession,
        new CollectedEdges(edges0, nE, weighted = false), rounds)
      case None =>
    }
    val labels0 = edges0.select(col("src").as("node")).distinct()
      .withColumn("lbl", col("node")).localCheckpoint(false)
    // gate on the node count; fallback mode persists the edge table
    // src-bucketed once so no round ever re-shuffles the big side
    // (the pageRank rule)
    val bc = labels0.count() <= maxBroadcastNodes(symEdges)
    def loop(edges: DataFrame): DataFrame = {
      var labels = labels0
      for (_ <- 0 until rounds)
        labels = lpRound(edges, labels, bc).localCheckpoint(false)
      labels
    }
    if (bc) loop(edges0) else withBucketedEdges(edges0)(loop)
  }

  /** In-memory synchronous LPA over a collected symmetric edge list —
    * the below-gate path of [[labelPropagation]] and of q126's
    * collected graph: `(node, lbl)` for every node of `g`.
    */
  private def driverLpa(spark: SparkSession, g: CollectedEdges,
      rounds: Int): DataFrame =
    nodeValuesDf(spark, g.nN, g.id, "lbl", lpaLabels(g, rounds))(_ => true)

  /** The LPA kernel: every dense node's label after `rounds`
    * synchronous rounds. CSR by dst; each round sorts every node's
    * neighbor-label slice and scans for the (max count, min label)
    * winner — O(E log d̄) per round.
    */
  private def lpaLabels(g: CollectedEdges, rounds: Int): Array[Long] = {
    val nN = g.nN
    // CSR by dst: each node's slice lists its neighbors (the srcs
    // whose labels it counts — mirrors lpRound's groupBy(dst, lbl))
    val (off, nbr) = csr(nN, g.ds, g.ss)
    var lbl = new Array[Long](nN)
    var i = 0
    while (i < nN) { lbl(i) = g.id(i); i += 1 }
    val scratch = new Array[Long](
      (0 until nN).map(v => off(v + 1) - off(v)).foldLeft(0)(math.max))
    for (_ <- 0 until rounds) {
      val nxt = new Array[Long](nN)
      var v = 0
      while (v < nN) {
        val s0 = off(v); val e0 = off(v + 1)
        val d = e0 - s0
        if (d == 0) { nxt(v) = lbl(v); v += 1 } // unreachable for
        else { // symmetric input, kept for API safety
        var j = 0
        while (j < d) { scratch(j) = lbl(nbr(s0 + j)); j += 1 }
        java.util.Arrays.sort(scratch, 0, d)
        // first-best scan of the sorted run-lengths: ties go to the
        // SMALLEST label, which sorts first — strict > keeps it
        var best = scratch(0); var bestC = 0
        var j2 = 0
        while (j2 < d) {
          var k = j2
          while (k < d && scratch(k) == scratch(j2)) k += 1
          if (k - j2 > bestC) { best = scratch(j2); bestC = k - j2 }
          j2 = k
        }
        nxt(v) = best
        v += 1
        }
      }
      lbl = nxt
    }
    lbl
  }

  /** One synchronous LPA round over a `(node, lbl)` label table —
    * split out so plan audits can pin the round shape (gated label
    * join, heap argmax) without the checkpoint hiding it.
    */
  private[graft] def lpRound(edges: DataFrame, labels: DataFrame,
      bc: Boolean = true): DataFrame = {
    val counted = edges
      .join(nodeSide(labels, bc), col("src") === col("node"))
      .groupBy(col("dst"), col("lbl"))
      .agg(count(lit(1)).as("c"))
    graft.plans.TopK.perKey(counted, keys = Seq("dst"),
        order = Seq(("c", true), ("lbl", false)), k = 1)
      .select(col("dst").as("node"), col("lbl"))
  }

  def q126LabelProp(s: SparkSession, d: String): DataFrame =
    (prunedCoPurchase(s, d, minCount = 2) match {
      case Right(g) => driverLpa(s, g, rounds = 5)
      case Left(edges) => labelPropagation(edges, rounds = 5)
    }).select(col("node").as("partkey"), col("lbl").as("community"))

  /** 168. q151: common-neighbor link prediction (Liben-Nowell &
    * Kleinberg 2003) — for every NON-adjacent pair reachable in two
    * hops, the shared-neighbor count and neighborhood-Jaccard score
    * cn/(deg a + deg b − cn): "parts bought with the same things are
    * bought together next" — the candidate generator behind
    * recommend-missing-edge features (q125 scores pairs that DID
    * co-occur; this ranks pairs that HAVEN'T yet). Adamic–Adar's
    * 1/log(deg) weights would hit the q58 libm trap, so the scores
    * stay rational: exact counts and round-half-up integer ppm.
    *
    * Scale shape: candidates come from wedge enumeration (one
    * self-join of the pruned edge table on the middle node, the q107
    * triangle shape — Σ deg(w)² bounded by the prune), existing edges
    * leave via one anti-join, degrees broadcast back, and the top-k
    * per node is the TopKPerKey heap cut. All-pairs never happens.
    */
  def linkPredict(symEdges: DataFrame, k: Int): DataFrame = {
    val deg = symEdges.groupBy(col("src").as("n"))
      .agg(count(lit(1)).as("deg"))
    val cand = symEdges.select(col("src").as("a"), col("dst").as("w"))
      .join(symEdges.select(col("src").as("w"), col("dst").as("b")), "w")
      .filter(col("a") < col("b"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("cn"))
      .join(symEdges.select(col("src").as("a"), col("dst").as("b")),
        Seq("a", "b"), "left_anti")
    val scored = cand
      .join(deg.select(col("n").as("a"), col("deg").as("da")), "a")
      .join(deg.select(col("n").as("b"), col("deg").as("db")), "b")
      .select(col("a"), col("b"), col("cn"),
        expr("""CAST((2 * cn * 1000000 + (da + db - cn))
            DIV (2 * (da + db - cn)) AS BIGINT)""").as("jac_ppm"))
    val both = scored
      .select(col("a").as("node"), col("b").as("other"), col("cn"),
        col("jac_ppm"))
      .unionByName(scored.select(col("b").as("node"), col("a").as("other"),
        col("cn"), col("jac_ppm")))
    graft.plans.TopK.perKey(both, keys = Seq("node"),
      order = Seq(("jac_ppm", true), ("cn", true), ("other", false)), k = k)
  }

  /** q151: top-5 predicted next co-purchases per part on the ≥2-shared-
    * orders graph. */
  def q151LinkPredict(s: SparkSession, d: String): DataFrame =
    linkPredict( // r15: driver-collected pruned build below the gate
      prunedCoPurchaseEdgeDf(s, d, minCount = 2)
        .getOrElse(prunedCoPurchaseEdges(s, d, minCount = 2)), k = 5)

  /** Converged min-label connected components over a SYMMETRIC edge
    * table: every node labeled with the smallest node id in its
    * component. Each round is a Shiloach–Vishkin-style HOOK — per-node
    * neighbor-min (one edges⋈labels join), AGGREGATED UP TO THE TREE
    * ROOT (group the members' neighbor-mins by their label: a root
    * must learn what its members discovered, or trees only merge at
    * their graph boundary and propagation degrades to O(diameter)
    * again — measured: the member-only hook left a shuffled 5000-path
    * unconverged at 25 rounds, +2 nodes/round; the tree hook closes a
    * 1000-path in 7) — followed by PATH COMPRESSION TO FIXPOINT
    * (label := label(label), a node-scale self-join, repeated until no
    * pointer moves). Full compression leaves every label pointing at
    * its forest root, so each hook merges whole trees and the outer
    * loop is O(log n) rounds. Compression passes halve forest depth,
    * so the inner loop is ~log₂(depth) passes (measured 2–4).
    *
    * Labels are monotone (label(v) ≤ v always, updates only decrease),
    * so the pointers form a forest toward smaller ids and
    * label(label(v)) stays inside v's component — the outer fixpoint
    * (a round that changes nothing) implies labels constant along
    * every edge, hence exactly the component min. Exiting
    * non-converged THROWS: a warning that the answer is wrong is not a
    * failure mode (r12 verdict — q239 emitted non-transitive labels at
    * sf0.1 under the old warn-and-return).
    *
    * Intermediates use lazy Dataset.localCheckpoint (plan truncation —
    * the compression self-join would otherwise replay its input's plan
    * on both sides), but every MATERIALIZED cut is the stats-free
    * [[graft.plans.LineageCut]]: Dataset.localCheckpoint carries plan
    * Statistics onto the LogicalRDD, and iterated self-joins MULTIPLY
    * them — sizeInBytes bit-length doubles per join until a single
    * driver-side BigInt stats product runs for hours BEFORE any job
    * starts (the r13 planning hang; see LineageCut's scaladoc). The
    * per-row `udf`s exist only to tick the changed-accumulators — no
    * built-in expression can — and run on the node-scale label table,
    * never the corpus.
    */
  def minLabelComponents(symEdges: DataFrame, maxRounds: Int = 25)
      : DataFrame = {
    val edges = symEdges.select(col("src"), col("dst"))
      .localCheckpoint(false)
    // Driver forest path (r14, the q61/q157 CC-safety-tax claw-back):
    // when node ids are longs and the node count fits the driver gate,
    // connectivity resolves in ONE Spark job — each partition union-
    // finds its own edges and emits a star forest (node → local root,
    // ≤ one pair per distinct node in the partition), and a driver
    // union-find over the collected forests is EXACTLY global
    // connectivity: every edge lives in some partition whose local
    // forest preserves it, and forest edges are real connections, so
    // the union of forests has the same transitive closure as the
    // graph. Replaces the O(log n) hook+compress rounds (each a
    // multi-join, multi-job round — the r13 safety tax) below the
    // gate; the relational kernel stays as the >gate scale path and
    // keeps its throw-on-cap semantics. Exactness does not depend on
    // the path: the output is the component-min labeling, a pure
    // function of the graph.
    val gate = Gates.driver(symEdges.sparkSession, Gates.CcNodes)
    if (allLongIds(edges) && gate > 0) {
      // one scan, no shuffle; 5% rsd sketch with a 20% safety margin
      val approxNodes = edges
        .agg(approx_count_distinct(col("src")).as("n"))
        .collect()(0).getLong(0)
      if (approxNodes <= (gate * 5) / 6) return driverForestComponents(edges)
    }
    relationalComponents(edges, maxRounds)
  }

  /** ONE-job gated CC: partition-local union-find → star forests →
    * driver union-find → (node, component-min) LocalRelation. See the
    * dispatch comment in [[minLabelComponents]] for the exactness
    * argument. Driver memory is node-scale (the same class as the
    * broadcast label table the relational bc rounds already collect).
    */
  private def driverForestComponents(edges: DataFrame): DataFrame = {
    val spark = edges.sparkSession
    val forests: Array[Array[Long]] = edges.rdd.mapPartitions { it =>
      val ids = new LongIds; val uf = new UnionFind
      it.foreach(row => uf.union(ids(row.getLong(0)), ids(row.getLong(1))))
      val n = ids.size
      val out = new Array[Long](2 * n)
      var o = 0
      var i = 0
      while (i < n) {
        val r = uf.find(i)
        if (r != i) { out(o) = ids.id(i); out(o + 1) = ids.id(r); o += 2 }
        i += 1
      }
      Iterator.single(java.util.Arrays.copyOf(out, o))
    }.collect()
    // driver union-find over the forest pairs (size-bounded by
    // Σ_p distinct-nodes(p)), then component min per root
    val ids = new LongIds; val uf = new UnionFind
    forests.foreach { pairs =>
      var i = 0
      while (i < pairs.length) {
        uf.union(ids(pairs(i)), ids(pairs(i + 1)))
        i += 2
      }
    }
    val n = ids.size
    val minOf = new Array[Long](n)
    java.util.Arrays.fill(minOf, Long.MaxValue)
    var i = 0
    while (i < n) {
      val r = uf.find(i)
      if (ids.id(i) < minOf(r)) minOf(r) = ids.id(i)
      i += 1
    }
    rowsDf(spark, n, "node" -> LongType, "component" -> LongType)(ix =>
      Row(ids.id(ix), minOf(uf.find(ix))))
  }

  /** The relational SV-style hook+compress kernel — the >gate scale
    * path (and the kernel for non-long node ids). See the class
    * scaladoc above [[minLabelComponents]] for the algorithm.
    */
  private[graft] def relationalComponents(edges0: DataFrame,
      maxRounds: Int): DataFrame = {
    val spark = edges0.sparkSession
    val edges = edges0
    var labels = edges.select(col("src").as("node")).distinct()
      .withColumn("label", col("node"))
      .localCheckpoint(false)
    // ONE accumulator per loop, read by DELTA per iteration (values
    // only grow): a fresh accumulator per round gets GC'd the moment
    // the round ends, and any straggling task-status update then logs
    // a spurious "non-existent accumulator" DAGScheduler ERROR per
    // round (observed on the q239 bench) — the long-lived pair stays
    // registered for the whole call
    val jumpAcc = spark.sparkContext.longAccumulator("graft.cc.jump")
    val jmark = udf { c: Boolean => if (c) jumpAcc.add(1L); c }
    val chgAcc = spark.sparkContext.longAccumulator("graft.cc.changed")
    val mark = udf { chg: Boolean => if (chg) chgAcc.add(1L); chg }
    // label := label(label) until no pointer moves (depth halves per
    // pass, so the 64-pass cap is unreachable for any graph that fits
    // in storage); each pass materializes via the stats-free cut
    def compress(l0: DataFrame): DataFrame = {
      var cur = l0
      var moved = 1L
      var passes = 0
      while (moved > 0 && passes < 64) {
        val before = jumpAcc.value
        val nxt = graft.plans.LineageCut.cut(
          cur.join(cur.select(col("node").as("label"),
              col("label").as("l2")), Seq("label"), "left")
            .select(col("node"),
              coalesce(col("l2"), col("label")).as("label"),
              jmark(coalesce(col("l2") < col("label"), lit(false)))
                .as("_j")))
        moved = jumpAcc.value - before
        cur = nxt.drop("_j")
        passes += 1
      }
      cur
    }
    var changed = 1L
    var rounds = 0
    while (changed > 0 && rounds < maxRounds) {
      val before = chgAcc.value
      val nbrMin = edges
        .join(labels.withColumnRenamed("node", "dst"), "dst")
        .groupBy(col("src").as("node")).agg(min(col("label")).as("nl"))
        .localCheckpoint(false) // read twice: member hook + root hook
      // tree hook: the min neighbor-label seen by ANY member of root
      // r's tree, applied to node r itself (rmin values are node ids
      // inside r's component, so monotone-safe like nl)
      val rootMin = labels.join(nbrMin, Seq("node"))
        .groupBy(col("label").as("node")).agg(min(col("nl")).as("rmin"))
      val hooked = labels
        .join(nbrMin, Seq("node"), "left")
        .join(rootMin, Seq("node"), "left")
        .select(col("node"),
          least(col("label"),
            coalesce(col("nl"), col("label")),
            coalesce(col("rmin"), col("label"))).as("label"))
        .localCheckpoint(false)
      val jumped = compress(hooked)
      val updated = graft.plans.LineageCut.cut( // eager: flushes acc
        labels.select(col("node"), col("label").as("_old"))
          .join(jumped, Seq("node"))
          .select(col("node"), col("label"),
            mark(col("label") < col("_old")).as("_chg")))
      changed = chgAcc.value - before
      labels = updated.drop("_chg")
      rounds += 1
    }
    if (changed > 0)
      throw new IllegalStateException(
        s"minLabelComponents: fixpoint NOT reached after $maxRounds " +
          s"hook+compress rounds ($changed labels still improving) — " +
          "refusing to return non-transitive component labels")
    labels.select(col("node"), col("label").as("component"))
  }

  /** 172. q157: incremental connected-components maintenance — fold an
    * APPEND-ONLY edge batch into an existing component labeling
    * without touching the old graph's edges (the q97/q102/q118
    * incremental-artifact rule applied to clustering: re-running CC
    * over 100 TB of accumulated pairs to absorb a day's batch is the
    * naive plan this replaces). The old graph's structure is already
    * SUMMARIZED by its labels, so a delta edge can only merge whole
    * components: map each delta edge to its endpoints' component ids,
    * run min-label CC on that DELTA-SCALE label graph, and rewrite
    * only the affected labels via a broadcast map — nodes of untouched
    * components pass through without even a shuffle. Because every old
    * label is already the min node id of its part, the merged label is
    * the min node id of the merged component — BY CONSTRUCTION equal
    * to the full recompute, which is exactly what the oracle checks.
    */
  def incrementalComponents(labels: DataFrame, deltaEdges: DataFrame,
      maxRounds: Int = 25): DataFrame = {
    val delta = deltaEdges.select(col("src"), col("dst"))
      .localCheckpoint(false)
    val newNodes = delta.select(col("src").as("node"))
      .unionByName(delta.select(col("dst").as("node"))).distinct()
      .join(labels, Seq("node"), "left_anti")
      .withColumn("component", col("node"))
    val all = labels.select(col("node"), col("component"))
      .unionByName(newNodes)
      .localCheckpoint(false)
    val lp = delta
      .join(all.select(col("node").as("src"), col("component").as("ca")),
        "src")
      .join(all.select(col("node").as("dst"), col("component").as("cb")),
        "dst")
      .select(col("ca"), col("cb"))
      .filter(col("ca") =!= col("cb")).distinct()
    val sym = lp.select(col("ca").as("src"), col("cb").as("dst"))
      .unionByName(lp.select(col("cb").as("src"), col("ca").as("dst")))
    val merge = minLabelComponents(sym, maxRounds)
      .select(col("node").as("_lbl"), col("component").as("_canon"))
    all.join(broadcast(merge), all("component") === col("_lbl"), "left")
      .select(col("node"),
        coalesce(col("_canon"), col("component")).as("component"))
  }

  /** q157: the standing co-purchase component labeling (orders below
    * the 4/5 footer-stat threshold) absorbs the newest 1/5 of orders'
    * co-purchase pairs — defined to equal the full recompute over the
    * combined graph. Unpruned edges, because a shared-order count
    * does not decompose across the split but the edge UNION does. */
  def q157IncrCc(s: SparkSession, d: String): DataFrame = {
    val n = graft.sources.TableStatistics.tableRowCount(s, d, "orders")
    val t = 4L * n / 5L
    // r14: the groupBy+explode pair build (the coPurchaseEdges rebase
    // — same unique pair set, collect_set dedups (ok, pk) so the
    // upstream DISTINCT drops too: one shuffle instead of three)
    // r15: ONE groupBy for both sides — the standing/delta split is by
    // whole ORDER (ok threshold), so filtering the per-order arrays
    // equals filtering the rows before grouping; the two separate
    // groupBys collapse into one checkpointed artifact
    val orders = Tables.lineitem(s, d)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      .groupBy(col("ok")).agg(collect_set(col("pk")).as("ps"))
      .filter(size(col("ps")) > 1)
      .localCheckpoint(false)
    def sym(part: DataFrame): DataFrame = {
      val pairs = part
        .select(col("ps"), explode(col("ps")).as("s1"))
        .select(col("s1"),
          explode(array_remove(col("ps"), col("s1"))).as("s2"))
        .filter(col("s1") < col("s2")).distinct()
      pairs.select(col("s1").as("src"), col("s2").as("dst"))
        .unionByName(pairs.select(col("s2").as("src"), col("s1").as("dst")))
    }
    val standing = minLabelComponents(sym(orders.filter(col("ok") < t)))
    incrementalComponents(standing, sym(orders.filter(col("ok") >= t)))
      .select(col("node").as("partkey"), col("component"))
  }

  /** Newman–Girvan modularity of a node partition (Newman & Girvan
    * 2004): per community, Q_c = e_c/m − (d_c/2m)² — "how much denser
    * inside than a degree-preserving random rewiring". THE quality
    * score for q126's communities (detection without a quality metric
    * is unfalsifiable). Everything is counting, so the whole statistic
    * is one exact rational per community: with m2 = |directed edges| =
    * 2m and intra2_c = directed intra-community edges = 2e_c,
    * Q_c = (m2·intra2_c − d_c²)/m2² — signed round-half-up integer ppm
    * with the sign split OUTSIDE the division (Spark DIV truncates,
    * DuckDB // floors; they agree only on non-negatives — the
    * q148/q153 rule). Products in DECIMAL(38,0) for cluster-scale m.
    *
    * Scale shape: degrees are one edge-table aggregate; the intra
    * count joins edges against the NODE-scale label table twice
    * (broadcast here; a billion-node graph swaps in the src-bucketed
    * hash join, the q105 note) — the edge table is scanned, never
    * re-shuffled, and communities reduce map-side. Top-k communities
    * by size via TakeOrdered, id tie-break.
    */
  def modularity(symEdges: DataFrame, labels: DataFrame, topK: Int)
      : DataFrame = {
    val edges = symEdges.select(col("src"), col("dst"))
    val lab = labels.select(col("node"), col("community"))
    val m2t = edges.agg(count(lit(1)).cast("long").as("m2"))
    val deg = edges.groupBy(col("src").as("node"))
      .agg(count(lit(1)).cast("long").as("deg"))
    val dsum = lab.join(deg, "node")
      .groupBy(col("community"))
      .agg(count(lit(1)).cast("long").as("n_nodes"),
        sum(col("deg")).cast("long").as("degree_sum"))
    val intra = edges
      .join(broadcast(lab.withColumnRenamed("node", "src")
        .withColumnRenamed("community", "_cs")), "src")
      .join(broadcast(lab.withColumnRenamed("node", "dst")
        .withColumnRenamed("community", "_cd")), "dst")
      .filter(col("_cs") === col("_cd"))
      .groupBy(col("_cs").as("community"))
      .agg(count(lit(1)).cast("long").as("intra2"))
    dsum.join(intra, Seq("community"), "left")
      .withColumn("intra2", coalesce(col("intra2"), lit(0L)))
      .crossJoin(broadcast(m2t))
      .select(col("community"), col("n_nodes"),
        expr("intra2 DIV 2").as("intra_edges"), col("degree_sum"),
        expr("""CAST(m2 AS DECIMAL(38,0)) * intra2
            - CAST(degree_sum AS DECIMAL(38,0)) * degree_sum""")
          .as("_num"),
        expr("CAST(m2 AS DECIMAL(38,0)) * m2").as("_den"))
      .withColumn("q_ppm", expr(
        """CASE WHEN _num >= 0
             THEN CAST((2 * _num * 1000000 + _den) DIV (2 * _den)
                  AS BIGINT)
             ELSE -CAST((2 * (-_num) * 1000000 + _den) DIV (2 * _den)
                  AS BIGINT) END"""))
      .drop("_num", "_den")
      .orderBy(col("n_nodes").desc, col("community"))
      .limit(topK)
  }

  /** In-memory [[modularity]] over a collected symmetric graph and a
    * label per dense node of `g` — the below-gate path of q167. Every
    * count is an exact long (m2, degrees, directed intra edges and
    * n_nodes per community) and q_ppm is the same signed round-half-up
    * rational in BigInteger, so the rows equal the relational ones,
    * top-k order (n_nodes desc, community asc) included.
    */
  private def driverModularity(spark: SparkSession, g: CollectedEdges,
      labels: Array[Long], topK: Int): DataFrame = {
    val nN = g.nN; val nE = g.ss.length
    val deg = g.srcDegrees()
    // dense community per node with edges (the label ⋈ degree join)
    val comms = new LongIds
    val cix = new Array[Int](nN)
    var i = 0
    while (i < nN) {
      cix(i) = if (deg(i) > 0) comms(labels(i)) else -1
      i += 1
    }
    val nC = comms.size
    val nNodes = new Array[Long](nC); val degSum = new Array[Long](nC)
    val intra2 = new Array[Long](nC)
    i = 0
    while (i < nN) {
      if (cix(i) >= 0) { nNodes(cix(i)) += 1; degSum(cix(i)) += deg(i) }
      i += 1
    }
    i = 0
    while (i < nE) {
      val c = cix(g.ss(i))
      if (c == cix(g.ds(i))) intra2(c) += 1
      i += 1
    }
    val top = (0 until nC)
      .sortBy(c => (-nNodes(c), comms.id(c))).take(topK)
    val m2 = java.math.BigInteger.valueOf(nE.toLong)
    val den = m2.multiply(m2)
    val two = java.math.BigInteger.valueOf(2L)
    val ppm = java.math.BigInteger.valueOf(1000000L)
    // (2·|num|·10⁶ + den) DIV (2·den), the sign applied outside
    def qPpm(c: Int): Long = {
      val ds = java.math.BigInteger.valueOf(degSum(c))
      val num = m2.multiply(java.math.BigInteger.valueOf(intra2(c)))
        .subtract(ds.multiply(ds))
      val q = two.multiply(num.abs).multiply(ppm).add(den)
        .divide(two.multiply(den)).longValueExact
      if (num.signum >= 0) q else -q
    }
    rowsDf(spark, top.length, Seq("community", "n_nodes", "intra_edges",
        "degree_sum", "q_ppm").map(_ -> LongType): _*) { ix =>
      val c = top(ix)
      Row(comms.id(c), nNodes(c), intra2(c) / 2, degSum(c), qPpm(c))
    }
  }

  /** [[driverModularity]] over DataFrame inputs: collects `symEdges`
    * (long ids) and a `(node, community)` label for each of its nodes.
    * The suite runs the [[modularity]] cases through it.
    */
  private[graft] def driverModularity(symEdges: DataFrame,
      labels: DataFrame, topK: Int): DataFrame = {
    val edges = symEdges.select(col("src"), col("dst"))
    val g = new CollectedEdges(edges, edges.count().toInt,
      weighted = false)
    val byNode = labels.select(col("node"), col("community")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    driverModularity(symEdges.sparkSession, g,
      Array.tabulate(g.nN)(ix => byNode(g.id(ix))), topK)
  }

  /** q167: modularity of the q126 label-propagation communities over
    * the pruned co-purchase graph — top 25 communities by size. Below
    * the gates both kernels run on the one collected graph.
    */
  def q167Modularity(s: SparkSession, d: String): DataFrame =
    prunedCoPurchase(s, d, minCount = 2) match {
      case Right(g) =>
        driverModularity(s, g, lpaLabels(g, rounds = 5), topK = 25)
      case Left(edges0) =>
        val edges = edges0.localCheckpoint(false)
        val labels = labelPropagation(edges, rounds = 5)
          .select(col("node"), col("lbl").as("community"))
        modularity(edges, labels, topK = 25)
    }

  /** Degree assortativity (Newman 2002): the Pearson correlation of
    * endpoint degrees over all directed edges — one calibrated −1..1
    * number for "do hubs link to hubs" (social nets: positive;
    * bought-together product graphs: typically negative — hubs are
    * staples bridging niche pairs). Decides whether hub-removal
    * degrades the graph gracefully and whether degree-based sampling
    * is biased — the structural complement of q167's modularity.
    *
    * The q93/q159 exact-moment rule: degrees are INTEGERS, so every
    * moment (Σx, Σy, Σxy, Σx², Σy² over edges) accumulates exactly in
    * DECIMAL(38,0)/HUGEINT — order-free, engine-identical — and only
    * the final 1-row Pearson formula runs in double (identical IEEE
    * tree, ROUND 4). Scale shape: one degree aggregate + one
    * node-scale broadcast join onto the edge table per endpoint + one
    * map-side-combined moment aggregate; the edge table never
    * re-shuffles. Degenerate (zero-variance) graphs → NULL r.
    */
  def assortativity(symEdges: DataFrame): DataFrame = {
    val deg = symEdges.groupBy(col("src").as("node"))
      .agg(count(lit(1)).cast("long").as("deg"))
    val m = symEdges
      .join(broadcast(deg.withColumnRenamed("node", "src")
        .withColumnRenamed("deg", "_dx")), "src")
      .join(broadcast(deg.withColumnRenamed("node", "dst")
        .withColumnRenamed("deg", "_dy")), "dst")
      .agg(count(lit(1)).cast("long").as("m2"),
        sum(col("_dx").cast("decimal(38,0)")).as("_sx"),
        sum(col("_dy").cast("decimal(38,0)")).as("_sy"),
        sum(col("_dx").cast("decimal(38,0)") * col("_dy")).as("_sxy"),
        sum(col("_dx").cast("decimal(38,0)") * col("_dx")).as("_sxx"),
        sum(col("_dy").cast("decimal(38,0)") * col("_dy")).as("_syy"))
    m.select(col("m2"),
        col("m2").cast("double").as("n"),
        col("_sx").cast("double").as("sx"),
        col("_sy").cast("double").as("sy"),
        col("_sxy").cast("double").as("sxy"),
        col("_sxx").cast("double").as("sxx"),
        col("_syy").cast("double").as("syy"))
      .select(col("m2"),
        expr("n*sxx - sx*sx").as("_vx"),
        expr("n*syy - sy*sy").as("_vy"),
        expr("n*sxy - sx*sy").as("_cov"))
      .select(col("m2"),
        when(col("_vx") > 0 && col("_vy") > 0,
          round(col("_cov") / (sqrt(col("_vx")) * sqrt(col("_vy"))), 4))
          .as("assortativity"))
  }

  /** q174: degree assortativity of the pruned co-purchase graph. */
  def q174Assortativity(s: SparkSession, d: String): DataFrame =
    assortativity( // r15: driver-collected pruned build below the gate
      prunedCoPurchaseEdgeDf(s, d, minCount = 2)
        .getOrElse(prunedCoPurchaseEdges(s, d, minCount = 2)))

  /** Hop-bounded weighted single-source shortest paths — Bellman–Ford
    * label-correcting relaxation (Bellman 1958), the WEIGHTED upgrade
    * of [[bfsHops]]'s unit-cost distance: after round k, `dist` is
    * EXACTLY the cheapest cost over paths of ≤ k hops, which is what
    * makes a bounded run replayable by k unrolled min-plus
    * relaxations in the oracle (an unbounded "until converged" run
    * can need up to |V|−1 rounds — a weighted detour through more
    * hops can be cheaper, so the BFS-diameter argument of q110 does
    * NOT carry over; the hop bound is part of the operator's
    * semantics here). Early exit when no label improves: at that
    * point the answer has converged and equals every deeper bound.
    *
    * Per round: edge table ⋈ improved-frontier (the ONLY node-scale
    * side — broadcast under the [[maxBroadcastNodes]] gate, past it
    * the src-bucketed edge table materializes lazily exactly as in
    * [[bfsHops]]), one map-side-combined MIN per dst, then a
    * node-scale merge join against the running label table. Edges
    * never shuffle in bc mode; lineage cut per round (the q61/q105
    * loop rule). Integer costs throughout — engine-exact.
    */
  def weightedSssp(wEdges: DataFrame, seeds: DataFrame,
      maxRounds: Int = 8): DataFrame = {
    val spark = wEdges.sparkSession
    val edges = wEdges.localCheckpoint(false)
    // r14: below the driver edge gate the ≤k-hop relaxation runs as
    // in-memory synchronized Bellman–Ford rounds (the q214/q126 rule;
    // addExact fails loud exactly like the relational ANSI add).
    val slim = edges.select(col("src"), col("dst"), col("w"))
    val seedTab = seeds.select(col("node")).distinct()
    driverEdgeCount(edges, slim, seedTab) match {
      case Some(nE) =>
        val g = new CollectedEdges(slim, nE, weighted = true)
        val seedIx = seedTab.collect().map(r => g.idOf(r.getLong(0)))
        return ssspDriver(spark, g, seedIx, maxRounds)
      case None =>
    }
    val maxB = maxBroadcastNodes(wEdges)
    withLazyBucketedEdges(edges) { srcEdges =>
      var dist = seeds.select(col("node")).distinct()
        .withColumn("dist", lit(0L)).localCheckpoint(false)
      var frontier = dist
      var r = 0
      var frontierN = frontier.count()
      var distN = frontierN
      while (r < maxRounds && frontierN > 0) {
        r += 1
        val fBc = frontierN <= maxB
        val improved = ssspRound(if (fBc) edges else srcEdges(), frontier,
            dist, fBc, distN <= maxB)
          .localCheckpoint(false)
        frontierN = improved.count()
        dist = dist
          .join(improved.select(col("node").as("_n"), col("dist").as("_nd")),
            col("node") === col("_n"), "full_outer")
          .select(coalesce(col("node"), col("_n")).as("node"),
            coalesce(col("_nd"), col("dist")).as("dist"))
          .localCheckpoint(false)
        distN = dist.count()
        frontier = improved
      }
      dist
    }
  }

  /** One Bellman–Ford relaxation round — split out so plan audits can
    * pin both gate modes: edges ⋈ `(node, dist)` frontier on src, the
    * per-dst MIN of candidate labels, then the improvement filter
    * against the running label table (left join, keep strictly-better
    * or brand-new labels).
    */
  private[graft] def ssspRound(edges: DataFrame, frontier: DataFrame,
      dist: DataFrame, frontierBc: Boolean, distBc: Boolean): DataFrame =
    edges
      .join(nodeSide(frontier, frontierBc), col("src") === col("node"))
      .select(col("dst"), (col("dist") + col("w")).as("_c"))
      .groupBy(col("dst")).agg(min(col("_c")).as("_nd"))
      .join(nodeSide(dist.select(col("node"), col("dist").as("_od")),
        distBc), col("dst") === col("node"), "left")
      .filter(col("_od").isNull || col("_nd") < col("_od"))
      .select(col("dst").as("node"), col("_nd").as("dist"))

  /** q193: cheapest-path cost (≤ 8 hops) from the 3 highest-degree
    * hub parts over the co-purchase graph with AFFINITY costs — edge
    * cost ⌈1000 / shared-order-count⌉, so frequently-bundled pairs
    * are "close" and one-off pairs are far. The weighted-distance
    * ranking q110's unit-hop BFS flattens (two 1-hop neighbors are
    * tied for BFS; the one sharing 40 baskets is 25× closer here).
    * Seeds tie-break by id (the q110 rule) so the run is
    * deterministic end-to-end.
    */
  def q193Sssp(s: SparkSession, d: String): DataFrame = {
    // r15: driver-collected basket build below the gate — weights are
    // per-pair ceil(1000 / shared-order-count), straight from the
    // collected counts; seeds replicate the top-3-by-degree rule in
    // memory ([[hubSeedIx]]). The relational self-join build + gate
    // below stays the unchanged 100 TB path.
    collectBasketPairs(s, d, driverMaxEdges(s) / 2,
        withMultiplicity = true) match {
      case Some(bp) =>
        val w = new Array[Long](bp.counts.length)
        var i = 0
        while (i < w.length) {
          w(i) = (1000L + bp.counts(i) - 1) / bp.counts(i); i += 1
        }
        val g = CollectedEdges.fromSym(bp.ids, bp.us, bp.vs, w)
        return ssspDriver(s, g, hubSeedIx(g, 3), 8)
          .select(col("node").as("partkey"), col("dist").as("cost"))
      case None =>
    }
    val edges = coPurchaseWeightedEdges(s, d)
    val seeds = hubSeeds(edges)
    weightedSssp(edges, seeds, maxRounds = 8)
      .select(col("node").as("partkey"), col("dist").as("cost"))
  }

  /** q193's symmetric weighted co-purchase edges, built relationally:
    * w = ceil(1000 / row pairs sharing an order) per part pair (the
    * `a.pk < b.pk` self-join, no distinct), checkpointed.
    */
  private[graft] def coPurchaseWeightedEdges(s: SparkSession, d: String)
      : DataFrame = {
    val li = Tables.lineitem(s, d)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
    val pairs = li.as("a").join(li.as("b"),
        col("a.ok") === col("b.ok") && col("a.pk") < col("b.pk"))
      .groupBy(col("a.pk").as("s1"), col("b.pk").as("s2"))
      .agg(count(lit(1)).as("_c"))
      .select(col("s1"), col("s2"),
        expr("(1000 + _c - 1) DIV _c").as("w"))
    pairs.select(col("s1").as("src"), col("s2").as("dst"), col("w"))
      .unionByName(pairs.select(col("s2").as("src"), col("s1").as("dst"),
        col("w")))
      .localCheckpoint(false)
  }

  /** q214: HITS authority scores (Kleinberg 1999) on the BIPARTITE
    * customer→part purchase graph — hubs are customers, authorities
    * are parts, mutually reinforcing: an authoritative part is bought
    * by good hub customers, a hub customer buys authoritative parts.
    * The directed complement of q105's undirected PageRank (and the
    * global version of q116's seeded relevance).
    *
    * Scale shape: each round is the TWO-HOP contraction a' = Eᵀ(E·a)
    * — hub pass h = E·a (one part-keyed vector join + one customer
    * aggregate), authority pass araw = Eᵀ·h (one customer-keyed join
    * + one part aggregate) — both LINEAR in |E|. The co-purchase
    * matrix M = EᵀE is deliberately NEVER materialized: its row count
    * is Σ_c basket(c)², which a power-law hot customer turns
    * quadratic (a first cut that checkpointed M measured 11.4 s at
    * sf0.1 vs 2–3 s two-hop, and would not survive 100 TB); the
    * intermediate hub vector is customer-grain, same cardinality as
    * the corpus keys it joins on. Exactly equal by linearity: every
    * per-round sum is exact DECIMAL(38,0), so contraction order
    * cannot change the value — the M-form oracle still matches
    * bit-for-bit. Integer determinism: per-round L1 normalization to
    * ppt units by floor division (a = araw·10¹² // Σaraw) in
    * DECIMAL(38,0) (h tops basket·10¹² ≤ 10¹⁷, araw buyers·h ≤ 10²⁶
    * at 10⁹ customers), engine-exact, order-independent — the oracle
    * unrolls the same 4 rounds as chained CTEs in HUGEINT. Same
    * `maxBroadcastNodes` gate as [[pageRank]] for the authority
    * vector.
    */
  def q214Hits(s: SparkSession, d: String): DataFrame = {
    val e = Tables.orders(s, d)
      .select(col("o_orderkey"), col("o_custkey"))
      .join(Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_partkey")),
        col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").as("c"), col("l_partkey").as("p"))
      .distinct()
      .localCheckpoint(false) // feeds all 8 hop passes and degrees
    // r14 (the q240/q266 driver-state rule, the r13 verdict's top
    // item): the hub/authority vectors are node-scale and the edge
    // list is SLIM (two longs) — below the driver gate the whole
    // 4-round mutual reinforcement runs in memory on primitive
    // arrays, killing the 8 join+agg stages whose per-round job floor
    // driver-condition contention amplified to 10.5 s. Bit-identical:
    // every per-round value is an order-free integer sum (h ≤ Σa =
    // 10¹²; araw ≤ |E|·10¹² < 2⁶³ under the 8M gate, guarded by
    // addExact) and the ppt normalization is the same floor division
    // on non-negatives — the HUGEINT oracle replays unchanged. The
    // relational two-hop loop below stays as the >gate scale path.
    val maxDriver = driverMaxEdges(s)
    val nE = e.count()
    require(nE > 0, "q214Hits needs a non-empty purchase graph")
    if (allLongIds(e) && nE <= maxDriver) return q214HitsDriver(s, e, nE.toInt)
    val nodes = e.select(col("p").as("node")).distinct()
      .localCheckpoint(false)
    val n = nodes.count()
    val bc = n <= maxBroadcastNodes(e)
    var a = nodes.select(col("node"), lit(1000000000000L / n).as("a"))
    for (_ <- 0 until 4) {
      val h = e.join(nodeSide(a, bc), col("p") === col("node"))
        .groupBy(col("c"))
        .agg(sum(col("a").cast("decimal(38,0)")).cast("decimal(38,0)")
          .as("_h"))
      val raw = e.join(h, "c")
        .groupBy(col("p"))
        .agg(sum(col("_h")).cast("decimal(38,0)").as("_araw"))
        .withColumnRenamed("p", "p1")
      val tot = raw.agg(sum(col("_araw")).cast("decimal(38,0)")
        .as("_tot"))
      a = raw.crossJoin(broadcast(tot))
        .select(col("p1").as("node"),
          expr("CAST((_araw * 1000000000000) DIV _tot AS BIGINT)")
            .as("a"))
        .localCheckpoint(false)
    }
    e.groupBy(col("p")).agg(count(lit(1)).cast("long").as("n_buyers"))
      .join(a, col("p") === col("node"))
      .select(col("p").as("partkey"), col("n_buyers"),
        col("a").as("auth_ppt"))
  }

  /** In-memory 4-round HITS over a collected (customer, part) edge
    * list — the below-gate path of [[q214Hits]]; see the dispatch
    * comment there for the exactness argument. One packed-collect
    * fill ([[packedLongs]]), araw sums via addExact so a bound breach
    * fails loud instead of wrapping.
    */
  private def q214HitsDriver(spark: SparkSession, e: DataFrame,
      n: Int): DataFrame = {
    val cOf = new LongIds; val pOf = new LongIds
    val cs = new Array[Int](n); val ps = new Array[Int](n)
    var i = 0
    packedLongs(e.select(col("c"), col("p")), 2).foreach { part =>
      var p = 0
      while (p < part.length) {
        cs(i) = cOf(part(p)); ps(i) = pOf(part(p + 1))
        p += 2; i += 1
      }
    }
    require(i == n, s"q214HitsDriver: edge count drifted ($i vs $n)")
    hitsRoundsOut(spark, cs, ps, pOf.toArray, cOf.size)
  }

  /** The 4 in-memory HITS rounds + output assembly over dense
    * (customer, part) edge arrays — shared by [[q214HitsDriver]] and
    * the r15 driver-join fast path (factored so they cannot diverge).
    */
  private def hitsRoundsOut(spark: SparkSession, cs: Array[Int],
      ps: Array[Int], partIds: Array[Long], nC: Int): DataFrame = {
    val n = cs.length
    val nP = partIds.length
    var i = 0
    val TT = java.math.BigInteger.valueOf(1000000000000L)
    val a = new Array[Long](nP)
    java.util.Arrays.fill(a, 1000000000000L / nP)
    for (_ <- 0 until 4) {
      val h = new Array[Long](nC)
      i = 0
      while (i < n) { h(cs(i)) += a(ps(i)); i += 1 } // h ≤ Σa = 10¹²
      val araw = new Array[Long](nP)
      var tot = 0L
      i = 0
      while (i < n) {
        araw(ps(i)) = Math.addExact(araw(ps(i)), h(cs(i)))
        tot = Math.addExact(tot, h(cs(i)))
        i += 1
      }
      val totB = java.math.BigInteger.valueOf(tot)
      i = 0
      while (i < nP) {
        // araw·10¹² tops 2⁶³ — the one step that needs wide math
        a(i) = java.math.BigInteger.valueOf(araw(i))
          .multiply(TT).divide(totB).longValueExact()
        i += 1
      }
    }
    val buyers = new Array[Long](nP)
    i = 0
    while (i < n) { buyers(ps(i)) += 1; i += 1 }
    rowsDf(spark, nP, "partkey" -> LongType, "n_buyers" -> LongType,
      "auth_ppt" -> LongType)(ix => Row(partIds(ix), buyers(ix), a(ix)))
  }

  /** q223: LOCAL clustering coefficient per node (Watts–Strogatz
    * 1998) on the part co-purchase graph — cc(v) = 2·tri(v) /
    * (deg(v)·(deg(v)−1)), "how much of v's neighborhood closes into
    * bundles". q107 counts the triangles; this normalizes them per
    * node, separating true bundle cores (high cc) from mere hubs
    * (high degree, low cc) — the ego-density screen behind community
    * seeding and fraud-ring triage.
    *
    * Scale shape: one [[triangleCountsWithDegree]] pipeline — the
    * degree is size(nbrs) of the kernel's own deduped adjacency
    * (O(E^{3/2}) intersect work, never hub-quadratic), so q223 costs
    * the same as q107. Integer determinism: ppm by round-half-up with the
    * triangle count widened to DECIMAL(38,0) (4·10⁶·tri(v) tops long
    * at hub degree ~10⁷); degree-1 nodes carry no defined cc and are
    * filtered, triangle-free nodes report 0.
    */
  def q223ClusteringCoef(s: SparkSession, d: String): DataFrame = {
    // r15: driver triangle kernel below the gate (the q107 rationale);
    // degree = the deduped distinct-neighbor count, exactly the
    // relational kernel's size(nbrs)
    val base = collectBasketPairs(s, d, driverMaxEdges(s) / 2)
      .map { bp =>
        val (tri, deg) = driverTriangles(bp.us, bp.vs, bp.ids.length)
        rowsDf(s, bp.ids.length, "node" -> LongType, "degree" -> LongType,
          "n_tri" -> LongType)(ix => Row(bp.ids(ix), deg(ix).toLong, tri(ix)))
      }
      .getOrElse(triangleCountsWithDegree(coPurchaseRawPairs(s, d)))
    // degree rides along free: it's size(nbrs) of the kernel's own
    // deduped adjacency — no separate edge materialization or agg
    base
      .filter(col("degree") >= 2)
      .select(col("node").as("partkey"), col("degree"), col("n_tri"),
        expr("""CAST((2 * 2000000 * CAST(n_tri AS DECIMAL(38,0))
             + degree * (degree - 1))
             DIV (2 * degree * (degree - 1)) AS BIGINT)""")
          .as("cc_ppm"))
  }

  /** q231: TWO-HOP REACH PROFILE — per node, the exact count of
    * distinct nodes at graph distance EXACTLY 2 (friends-of-friends
    * who aren't friends), plus degree and the reach-amplification
    * ratio reach2/deg. The classic neighborhood-growth feature
    * (Palmer et al. 2002's ANF is its approximate cousin) that feeds
    * fraud scoring and influence models: a hub with low amplification
    * sits in a clique; a low-degree node with high amplification is a
    * bridge. q168 scores individual two-hop PAIRS for link
    * prediction; this profiles each node's two-hop NEIGHBORHOOD SIZE
    * — same wedge machinery, a node-grain census instead of a
    * pair-grain ranking. Graph: ≥2-shared-orders co-purchase
    * (q151/q168's graph).
    *
    * Scale shape: ids-only wedge join on the checkpointed slim edge
    * table (2 longs/row; wedge rows collapse through the DISTINCT
    * before the anti-join — the exact-distinct compression point),
    * one anti-join against the adjacency to cut distance-1 pairs,
    * one map-combined count per node. Exactness: pure integer counts;
    * the ratio is integer round-half-up ppm (deg ≥ 1 by
    * construction — every output node has an edge).
    */
  /** q240: k-TRUSS DECOMPOSITION at k = 6 (Cohen 2008's trusses; the
    * canonical distributed edge-cohesion primitive): the maximal
    * subgraph in which EVERY EDGE closes ≥ k−2 = 4 triangles —
    * stricter than q109's k-core (degree is a node property a hub
    * fakes; triangle support is a relationship property only a dense
    * community produces), the standard community-core/spam-ring
    * primitive between core decomposition and clique mining. Peel
    * iteratively: per-edge support via the SAME degree-oriented
    * packed-adjacency intersect kernel as q107 (each round is one
    * O(E^{3/2}) enumeration, never hub-quadratic), drop edges under
    * support, repeat to the fixpoint (early exit) with the oracle's
    * fixed 8-round horizon as the cap — the cascade here settles in
    * ≤6 rounds. Output: surviving edges with their final support.
    *
    * Scale shape per round: adjacency rebuild (one groupBy of the
    * shrinking edge set) + the intersect explode + one map-combined
    * (u,v) count; the support join is edge-keyed, ids only. Exact
    * integer counts — oracle replays the peel as a recursive CTE
    * whose per-level support is the same triangle enumeration.
    */
  def kTruss(symEdges: DataFrame, k: Int, rounds: Int = 64): DataFrame = {
    // The peel cascade's state is edge-scale and already crosses the
    // driver inside every per-round broadcast — so below the driver
    // gate the WHOLE decomposition runs driver-side (the q105/q266
    // driver-kernel rule): one collected slim edge list, oriented
    // O(αE) triangle counting and the exact queue-driven peel on
    // primitive CSR arrays (r13: the relational loop paid a ~1.5–3 s
    // scheduling floor per cascade round for drops of 268, 9 and 1
    // edges — ~20 s total where the in-memory peel is milliseconds).
    // The truss fixpoint is unique whatever the peel order, so both
    // paths are bit-identical; the distributed loop below remains the
    // >gate scale path ([[Gates.KtrussPeelEdges]], 8M UNDIRECTED edges
    // ≈ 128 MB of driver ints). r14: the driver path collects the RAW
    // symmetric rows and dedups while interning (sort+unique on
    // dense-index pairs) — the relational
    // least/greatest + DISTINCT shuffle bought nothing the in-memory
    // dedup doesn't do for free; gate on raw rows ≤ 2·maxDriver
    // (= maxDriver undirected edges on deduped-symmetric input,
    // conservative when duplicates exist).
    val spark = symEdges.sparkSession
    val maxDriver = Gates.driver(spark, Gates.KtrussPeelEdges)
    val slim = symEdges.select(col("src"), col("dst"))
    if (allLongIds(slim) && maxDriver > 0) {
      val sym = slim.localCheckpoint(false)
      val nRaw = sym.count()
      if (nRaw <= 2L * maxDriver) {
        val g = new CollectedEdges(sym, nRaw.toInt, weighted = false)
        // normalize each pair to dense-index (lo, hi), drop self-loops,
        // sort + unique — dense pairs biject to id pairs, so this is
        // EXACTLY the relational u<v DISTINCT
        val packed0 = new Array[Long](g.ss.length)
        var m = 0
        var i = 0
        while (i < g.ss.length) {
          val a = g.ss(i); val b = g.ds(i)
          if (a != b) {
            packed0(m) = (math.min(a, b).toLong << 32) |
              math.max(a, b).toLong
            m += 1
          }
          i += 1
        }
        val bp = distinctPairs(Array.tabulate(g.nN)(g.id), packed0, m)
        return driverPeel(spark, bp.ids, bp.us, bp.vs, k)
      }
    }
    val und = symEdges
      .select(least(col("src"), col("dst")).as("u"),
        greatest(col("src"), col("dst")).as("v"))
      .filter(col("u") < col("v")).distinct()
      .localCheckpoint(false)
    val scored0 = und.join(edgeSupport(und), Seq("u", "v"), "left")
      .select(col("u"), col("v"),
        coalesce(col("support"), lit(0L)).as("support"))
      .localCheckpoint(false)
    kTrussRelational(scored0, k, rounds)
  }

  /** Exact in-memory k-truss of a collected (u, v) edge table:
    * dense-index the nodes, CSR adjacency with each slice sorted by
    * neighbor, initial supports by DEGREE-ORIENTED intersect (each
    * triangle found exactly once at its two lowest-rank endpoints'
    * edge — the q107 orientation, O(αE) total, never hub-quadratic),
    * then the queue-driven cascade — pop an under-support edge,
    * merge-scan its endpoints' slices, decrement the two other edges
    * of each LIVE lost triangle, enqueue any that cross the threshold.
    * Final supports equal the triangle counts INSIDE the surviving
    * subgraph — exactly the distributed loop's output.
    */
  private[graft] def driverPeel(spark: SparkSession, ids: Array[Long],
      us: Array[Int], vs: Array[Int], k: Int): DataFrame = {
    val n = us.length
    // symmetric adjacency, each node's slice sorted by neighbor (packed
    // (nbr, edgeId) longs) — removed edges stay in the arrays and are
    // skipped via the alive flag, so a removal's triangle scan is one
    // primitive merge-scan of the two endpoint slices
    val edgeIx = Array.range(0, n)
    val (off, packed) =
      edgeSlices(ids.length, us ++ vs, edgeIx ++ edgeIx, us, vs)
    // initial supports: the degree-oriented intersect over READ-ONLY
    // adjacency, split across driver threads (r15: measured ~1 s of
    // the q240 wall single-threaded at sf0.1)
    val sup = orientedTriangles(us, vs,
      Array.tabulate(ids.length)(v => off(v + 1) - off(v)), perEdge = true)
    val alive = Array.fill(n)(true)
    var stack = new Array[Int](math.max(16, n / 4)); var top = 0
    def push(e: Int): Unit = {
      if (top == stack.length)
        stack = java.util.Arrays.copyOf(stack, stack.length * 2)
      stack(top) = e; top += 1
    }
    var i = 0
    while (i < n) { if (sup(i) < k - 2) push(i); i += 1 }
    while (top > 0) {
      top -= 1
      val e = stack(top)
      if (alive(e) && sup(e) < k - 2) {
        alive(e) = false
        val a = us(e); val b = vs(e)
        var pa = off(a); var pb = off(b)
        val ea = off(a + 1); val eb = off(b + 1)
        while (pa < ea && pb < eb) {
          val wa = (packed(pa) >>> 32).toInt
          val wb = (packed(pb) >>> 32).toInt
          if (wa < wb) pa += 1
          else if (wb < wa) pb += 1
          else {
            val e1 = packed(pa).toInt; val e2 = packed(pb).toInt
            if (alive(e1) && alive(e2)) {
              sup(e1) -= 1; sup(e2) -= 1
              if (sup(e1) < k - 2) push(e1)
              if (sup(e2) < k - 2) push(e2)
            }
            pa += 1; pb += 1
          }
        }
      }
    }
    // survivors into compact primitive arrays
    var nOut = 0
    i = 0
    while (i < n) { if (alive(i)) nOut += 1; i += 1 }
    val uOut = new Array[Long](nOut); val vOut = new Array[Long](nOut)
    val sOut = new Array[Long](nOut)
    var o = 0
    i = 0
    while (i < n) {
      if (alive(i)) {
        uOut(o) = ids(us(i)); vOut(o) = ids(vs(i)); sOut(o) = sup(i)
        o += 1
      }
      i += 1
    }
    // r15: the survivor table is EDGE-scale (677k rows at sf0.1 —
    // unlike the node-scale driver-kernel outputs), and the
    // LocalRelation Row-by-Row conversion ran single-threaded on the
    // driver (~1.8 s PER ACTION). Broadcast the primitive arrays once
    // and convert in parallel tasks instead — same rows, any order
    // (every consumer is order-free).
    val bc = spark.sparkContext.broadcast((uOut, vOut, sOut))
    import spark.implicits._
    spark.range(0, nOut.toLong, 1L,
        spark.sparkContext.defaultParallelism)
      .mapPartitions { it =>
        val (u, v, sp) = bc.value
        it.map { ixL => val ix = ixL.intValue; (u(ix), v(ix), sp(ix)) }
      }
      .toDF("u", "v", "support")
  }

  /** The distributed peel loop — the >8M-edge scale path. Round 1 pays
    * the (already computed) full triangle enumeration; rounds 2+ are
    * INCREMENTAL (r11): when D edges drop, the only triangles that
    * disappear are those CONTAINING a dropped edge — enumerate exactly
    * those, deduped by canonical triple so a triangle with 2+ dropped
    * edges decrements once, subtract from the surviving supports —
    * O(|D|·d̄) intersect work instead of O(E^{3/2}) per round.
    */
  private def kTrussRelational(scored0: DataFrame, k: Int,
      rounds: Int): DataFrame = {
    require(rounds > 0, "kTruss needs at least one peel round")
    var und = scored0.select(col("u"), col("v"))
    var sup = scored0.select(col("u"), col("v"), col("support"))
    var r = 0
    var done = false
    var lastScored: DataFrame = null
    while (r < rounds && !done) {
      val scored = und.join(sup, Seq("u", "v"), "left")
        .select(col("u"), col("v"),
          coalesce(col("support"), lit(0L)).as("support"))
        .localCheckpoint(false)
      lastScored = scored
      val dropped = scored.filter(col("support") < k - 2)
        .select(col("u"), col("v"))
      val kept = scored.filter(col("support") >= k - 2)
      val nDrop = dropped.count()
      if (nDrop == 0) done = true
      else {
        // kept/sup/delta all derive from the checkpointed `scored` —
        // one materialization per round bounds the lineage. HYBRID:
        // when most of the graph drops (the big first peel), a full
        // recount is cheaper than enumerating nearly every triangle
        // through the dedup; the incremental delta wins on the small
        // cascade rounds that follow.
        und = kept.select(col("u"), col("v"))
        sup =
          // three delta tiers (the measured sf0.1 peel drops
          // 368k/141k/9.6k/268/9/1 per round): tiny cascades broadcast
          // BOTH the dropped set and its wedges (two map-side scans of
          // the checkpointed edge table); mid-size drops broadcast only
          // `dropped` and close the triangles with a SHUFFLE join (the
          // wedge set is |D|·d̄ — too big to broadcast, still far
          // cheaper than re-enumerating all O(E^{3/2}) triangles; r13:
          // the 9.6k-drop round recounted 687k edges for 2.7 s where
          // the shuffle delta does it in ~1 s); only bulk drops
          // (>64k) re-enumerate, where the wedge volume rivals the
          // full intersect anyway
          if (nDrop > 65536L) edgeSupport(und)
          else {
            val delta = droppedTriangleDelta(
              scored.select(col("u"), col("v")), dropped,
              broadcastWedges = nDrop <= 2048L)
            kept.join(delta, Seq("u", "v"), "left")
              .select(col("u"), col("v"),
                (col("support") - coalesce(col("delta"), lit(0L)))
                  .as("support"))
          }
      }
      r += 1
    }
    if (!done)
      throw new IllegalStateException(
        s"kTruss: peel NOT at fixpoint after $rounds rounds — refusing " +
          "to return a non-truss edge set (raise `rounds`)")
    // the fixpoint round's `scored` (already checkpointed) IS the
    // output — rebuilding und⋈sup here replayed the whole lazy delta
    // chain once more (r13: ~4 s of the q240 record)
    lastScored
  }

  /** Per surviving edge, the number of DISTINCT triangles of `undOld`
    * that contain at least one `dropped` edge — the exact support loss
    * when `dropped` leaves the graph. Two plain joins on the
    * (checkpointed) edge list, NO per-round adjacency rebuild: for each
    * dropped (u,v), wedge out to u's neighbors w, semi-join (v,w)
    * against the edge set to close the triangle. Triangles dedup by
    * the sorted id triple (a triangle with 2 or 3 dropped edges is
    * enumerated once per dropped edge but must decrement once), then
    * credit each of its 3 edges (triple sorted ⇒ already u < v).
    */
  private def droppedTriangleDelta(undOld: DataFrame,
      dropped: DataFrame, broadcastWedges: Boolean): DataFrame = {
    val sym = undOld.select(col("u").as("a"), col("v").as("b"))
      .unionByName(undOld.select(col("v").as("a"), col("u").as("b")))
    // `dropped` always broadcasts (caller gates its size); the wedge
    // set broadcasts only on tiny cascades — mid-size drops produce
    // |D|·d̄ wedges, which close against the edge table via a shuffle
    // join instead (localCheckpoint: the wedge side would otherwise
    // re-run its own build on both shuffle branches)
    val wedges0 = sym.select(col("a").as("u"), col("b").as("w"))
      .join(broadcast(dropped), "u")
      .filter(col("w") =!= col("v"))
    val wedges =
      if (broadcastWedges) broadcast(wedges0) else wedges0
    val tri = sym.select(col("a").as("v"), col("b").as("w"))
      .join(wedges, Seq("v", "w"))
      .select(array_sort(array(col("u"), col("v"), col("w"))).as("t"))
      .distinct()
    val a = col("t").getItem(0)
    val b = col("t").getItem(1)
    val cc = col("t").getItem(2)
    tri
      .select(explode(array(
        struct(a.as("u"), b.as("v")),
        struct(a.as("u"), cc.as("v")),
        struct(b.as("u"), cc.as("v")))).as("e"))
      .select(col("e.u").as("u"), col("e.v").as("v"))
      .groupBy(col("u"), col("v"))
      .agg(count(lit(1)).cast("long").as("delta"))
  }

  /** Per-edge triangle support of an undirected (u < v) edge set —
    * q107's intersect kernel re-aggregated at EDGE grain (each
    * triangle credits its 3 id-normalized edges).
    */
  private def edgeSupport(und: DataFrame): DataFrame = {
    val MASK = (1L << 32) - 1
    val sym = und.select(col("u").as("src"), col("v").as("dst"))
      .unionByName(und.select(col("v").as("src"), col("u").as("dst")))
    val (adj, useBc) = triangleAdjacency(sym)
    val edges = adj
      .select(col("pku"), col("nbrs"), explode(col("nbrs")).as("pkv"))
      .filter(col("pku") < col("pkv"))
    val vSide = adj.select(col("pku").as("pkv"), col("nbrs").as("nv"))
    val a = col("pa").bitwiseAND(lit(MASK))
    val b = col("pb").bitwiseAND(lit(MASK))
    val cc = col("pc").bitwiseAND(lit(MASK))
    edges.join(if (useBc) broadcast(vSide) else vSide, "pkv")
      .select(col("pku").as("pa"), col("pkv").as("pb"),
        graft.functions.SortedIntersectAbove.intersectAbove(
          col("nbrs"), col("nv"), col("pkv")).as("ww"))
      .filter(size(col("ww")) > 0)
      .select(col("pa"), col("pb"), explode(col("ww")).as("pc"))
      .select(explode(array(
        struct(least(a, b).as("u"), greatest(a, b).as("v")),
        struct(least(a, cc).as("u"), greatest(a, cc).as("v")),
        struct(least(b, cc).as("u"), greatest(b, cc).as("v")))).as("e"))
      .select(col("e.u").as("u"), col("e.v").as("v"))
      .groupBy(col("u"), col("v"))
      .agg(count(lit(1)).cast("long").as("support"))
  }

  /** q240 entry: 6-truss of the full co-purchase graph.
    *
    * r15 (VERDICT r14 #4 + the ADVICE cheap-gate low): the driver path
    * used to checkpoint + count + collect the RAW symmetric pair
    * explode (2.39M rows at sf0.1) before peeling. Baskets are the
    * strictly smaller representation (Σ|parts| vs Σ|parts|²-ish): ONE
    * groupBy materializes the per-order part arrays, one cheap
    * aggregate over them yields the EXACT raw-pair count for the gate
    * (Σ s·(s−1) — no pair row ever exists), and the packed collect
    * ships ~4× fewer longs across the driver; pair generation + dedup
    * happen in memory exactly as the old collect path did (dense
    * (lo,hi) sort+unique ≡ the relational u<v DISTINCT). Past the
    * gate, the SAME checkpointed arrays feed the unchanged relational
    * peel via the bounded explode — the wasted fallback
    * materialization shrinks from pair-grain to order-grain.
    */
  def q240KTruss(s: SparkSession, d: String): DataFrame = {
    val k = 6
    val maxDriver = Gates.driver(s, Gates.KtrussPeelEdges)
    // r15: shared no-shuffle basket collect (the raw-pair budget is
    // Σ s·(s−1)/2 ≤ maxDriver — the old 2·maxDriver raw-row gate)
    collectBasketPairs(s, d, maxDriver) match {
      case Some(bp) => driverPeel(s, bp.ids, bp.us, bp.vs, k)
      case None => kTruss(coPurchaseRawPairs(s, d), k)
    }
  }

  def q231TwoHopReach(s: SparkSession, d: String): DataFrame = {
    // four plan consumers (deg, both wedge sides, anti-join) — cut the
    // self-join replay with one checkpoint of the slim edge table
    val e = prunedCoPurchaseEdgeDf(s, d, minCount = 2)
      .getOrElse(prunedCoPurchaseEdges(s, d, minCount = 2))
      .localCheckpoint(false)
    val deg = e.groupBy(col("src").as("node"))
      .agg(count(lit(1)).cast("long").as("deg"))
    val two = e.select(col("src").as("a"), col("dst").as("w"))
      .join(e.select(col("src").as("w"), col("dst").as("c")), "w")
      .filter(col("a") =!= col("c"))
      .select(col("a"), col("c")).distinct()
    val r2 = two
      .join(e.select(col("src").as("a"), col("dst").as("c")),
        Seq("a", "c"), "left_anti")
      .groupBy(col("a").as("node"))
      .agg(count(lit(1)).cast("long").as("reach2"))
    deg.join(r2, Seq("node"), "left")
      .select(col("node"), col("deg"),
        coalesce(col("reach2"), lit(0L)).as("reach2"))
      .withColumn("amp_ppm",
        expr("CAST((2 * 1000000 * reach2 + deg) DIV (2 * deg) AS BIGINT)"))
  }

  /** In-memory SCAN — the below-gate path of [[scanCluster]]; replays
    * the relational steps exactly: per-und-edge common-neighbor count
    * (sorted-adjacency merge), the sqrt-free σ ≥ ½ integer test, min-
    * label components over core-core ε-edges, min-cluster borders,
    * ≥2-distinct-cluster hubs.
    *
    * PRECONDITION (r15, the ADVICE note — shared with the
    * pageRank/kCore driver kernels): the collected edge list must be
    * DEDUPED and FULLY SYMMETRIC long-id input. A duplicate adjacency
    * entry would inflate the support merge-count, and a one-directional
    * edge is skipped when dense(u) > dense(v) — both silently diverge
    * from the relational src<dst spelling. Every caller satisfies it
    * by construction ([[coPurchaseEdges]]/[[prunedCoPurchaseEdges]]
    * DISTINCT + symmetrize; [[CollectedEdges.fromSym]] emits each
    * deduped pair in both orientations); the relational fallback
    * tolerates such input differently, so route any new caller with
    * weaker guarantees there.
    */
  private def scanDriver(spark: SparkSession, g: CollectedEdges)
      : DataFrame = {
    val nN = g.nN
    val (off, adj) = csr(nN, g.ss, g.ds)
    // sort each adjacency slice for the merge-intersect
    var v0 = 0
    while (v0 < nN) {
      java.util.Arrays.sort(adj, off(v0), off(v0 + 1)); v0 += 1
    }
    val deg = new Array[Long](nN)
    var i = 0
    while (i < nN) { deg(i) = off(i + 1) - off(i); i += 1 }
    // ε-test per undirected edge (u < v by DENSE index is NOT the
    // relational u < v by id — but σ is symmetric, so testing each
    // unordered pair once is identical); ε-adjacency collected as a
    // second CSR
    val epsCnt = new Array[Int](nN)
    val epsHeads = new Array[Int](nN)
    java.util.Arrays.fill(epsHeads, -1)
    var epsU = new Array[Int](1024); var epsV = new Array[Int](1024)
    var nEps = 0
    def addEps(u: Int, v: Int): Unit = {
      if (nEps == epsU.length) {
        epsU = java.util.Arrays.copyOf(epsU, nEps * 2)
        epsV = java.util.Arrays.copyOf(epsV, nEps * 2)
      }
      epsU(nEps) = u; epsV(nEps) = v; nEps += 1
    }
    var u = 0
    while (u < nN) {
      var j = off(u)
      while (j < off(u + 1)) {
        val v = adj(j)
        if (u < v) {
          // merge-count common neighbors
          var pa = off(u); var pb = off(v)
          var support = 0L
          while (pa < off(u + 1) && pb < off(v + 1)) {
            val wa = adj(pa); val wb = adj(pb)
            if (wa < wb) pa += 1
            else if (wb < wa) pb += 1
            else { support += 1; pa += 1; pb += 1 }
          }
          val s2 = support + 2
          if (4 * s2 * s2 >= (deg(u) + 1) * (deg(v) + 1)) {
            addEps(u, v)
            epsCnt(u) += 1; epsCnt(v) += 1
          }
        }
        j += 1
      }
      u += 1
    }
    val nepsOf = new Array[Long](nN)
    i = 0
    while (i < nN) { nepsOf(i) = epsCnt(i) + 1L; i += 1 }
    val isCore = new Array[Boolean](nN)
    i = 0
    while (i < nN) { isCore(i) = nepsOf(i) >= 4L; i += 1 }
    // min-label components over core-core ε-edges: union-find, then
    // the component label is the min node ID in the component
    val uf = new UnionFind
    i = 0
    while (i < nEps) {
      if (isCore(epsU(i)) && isCore(epsV(i))) uf.union(epsU(i), epsV(i))
      i += 1
    }
    val minId = new Array[Long](nN)
    java.util.Arrays.fill(minId, Long.MaxValue)
    i = 0
    while (i < nN) {
      if (isCore(i)) {
        val r = uf.find(i)
        if (g.id(i) < minId(r)) minId(r) = g.id(i)
      }
      i += 1
    }
    // cluster per core: component min id (isolated cores self-label —
    // covered: their component is themselves)
    val NoCluster = Long.MinValue
    val cluster = new Array[Long](nN)
    java.util.Arrays.fill(cluster, NoCluster)
    i = 0
    while (i < nN) {
      if (isCore(i)) cluster(i) = minId(uf.find(i))
      i += 1
    }
    // borders: non-core with an ε-edge to a core — min adjacent core
    // cluster
    val isBorder = new Array[Boolean](nN)
    val borderCl = new Array[Long](nN)
    java.util.Arrays.fill(borderCl, Long.MaxValue)
    i = 0
    while (i < nEps) {
      val a = epsU(i); val b = epsV(i)
      if (isCore(b) && !isCore(a)) {
        isBorder(a) = true
        if (cluster(b) < borderCl(a)) borderCl(a) = cluster(b)
      }
      if (isCore(a) && !isCore(b)) {
        isBorder(b) = true
        if (cluster(a) < borderCl(b)) borderCl(b) = cluster(a)
      }
      i += 1
    }
    i = 0
    while (i < nN) {
      if (isBorder(i)) cluster(i) = borderCl(i)
      i += 1
    }
    // hubs: unclassified with plain neighbors spanning ≥2 distinct
    // clusters (labeled = cores ∪ borders)
    val roles = new Array[String](nN)
    i = 0
    while (i < nN) {
      if (isCore(i)) roles(i) = "core"
      else if (isBorder(i)) roles(i) = "border"
      else {
        var c1 = NoCluster; var c2 = NoCluster
        var j = off(i)
        while (j < off(i + 1) && c2 == NoCluster) {
          val nb = adj(j)
          val cl = cluster(nb)
          if (cl != NoCluster) {
            if (c1 == NoCluster) c1 = cl
            else if (cl != c1) c2 = cl
          }
          j += 1
        }
        roles(i) = if (c2 != NoCluster) "hub" else "outlier"
      }
      i += 1
    }
    rowsDf(spark, nN, "node" -> LongType, "deg" -> LongType,
        "n_eps" -> LongType, "role" -> StringType, "cluster" -> LongType) {
      ix => Row(g.id(ix), deg(ix), nepsOf(ix), roles(ix),
        if (cluster(ix) == NoCluster || (!isCore(ix) && !isBorder(ix))) null
        else java.lang.Long.valueOf(cluster(ix)))
    }
  }

  /** q265: SCAN structural graph clustering (Xu, Yuruk, Feng & Schweiger
    * KDD 2007) over the pruned co-purchase graph — nodes cluster only
    * with neighbors whose NEIGHBORHOODS agree (structural similarity
    * σ(u,v) = |N[u]∩N[v]| / √(|N[u]||N[v]|) ≥ ε over closed
    * neighborhoods), and the nodes that DON'T cluster are classified as
    * HUBS (bridging ≥2 clusters — the q126 label-propagation communities
    * can't say this) or OUTLIERS. ε = ½, μ = 4 (the paper's defaults).
    *
    * ENGINE-EXACT, division- and sqrt-free: σ ≥ ½ iff
    * 4·(support+2)² ≥ (deg_u+1)(deg_v+1) in exact longs — the shared
    * count comes from [[edgeSupport]]'s O(E^{3/2}) packed-adjacency
    * intersect kernel (|N[u]∩N[v]| = edge triangle support + 2 for
    * adjacent u,v), never a neighborhood-pair materialization. Core =
    * ≥ μ ε-neighbors incl. self; clusters = [[minLabelComponents]] over
    * the core-core ε-edges (min-node-id labels — deterministic);
    * borders adopt the min adjacent core cluster; hubs = unclassified
    * nodes whose plain neighbors span ≥2 clusters.
    *
    * Scale shape: everything rides certified kernels — the support
    * pass (edge grain), node-scale degree/ε-count aggregates, label
    * propagation with per-round lineage cuts. No stage exceeds edge
    * grain.
    */
  def q265Scan(s: SparkSession, d: String): DataFrame =
    prunedCoPurchase(s, d, minCount = 2) match {
      case Right(g) => scanDriver(s, g)
      case Left(edges) => scanCluster(edges)
    }

  /** The SCAN kernel over ANY symmetric (src, dst) edge list — split
    * from [[q265Scan]] so the suite can differential-test it against a
    * local naive SCAN on synthetic graphs with planted ε-clusters,
    * hubs and outliers (the q109 pattern): the DuckDB closure oracle
    * dies beyond gate scale (>80 GB at sf0.1), so exactness beyond the
    * gate is suite-pinned instead (r12, the r11 ask).
    */
  private[graft] def scanCluster(symEdges: DataFrame): DataFrame = {
    val e = symEdges
      .localCheckpoint(false) // feeds degree, support, hub passes
    // r14: below the driver edge gate the whole SCAN (support
    // intersects, σ tests, core CC, border/hub classification) runs on
    // primitive arrays — the relational spelling pays ~45 jobs of
    // checkpoint/aggregate floor on a pruned graph that is node-scale
    // by construction. Bit-identical: every step is exact integer and
    // deterministic (min-label components, min border cluster); the
    // conf-gated suite differential pins driver ≡ relational.
    val slim = e.select(col("src"), col("dst"))
    driverEdgeCount(e, slim) match {
      case Some(nE) => return scanDriver(e.sparkSession,
        new CollectedEdges(slim, nE, weighted = false))
      case None =>
    }
    val und = e.filter(col("src") < col("dst"))
      .select(col("src").as("u"), col("dst").as("v"))
    val deg = e.groupBy(col("src").as("node"))
      .agg(count(lit(1)).cast("long").as("deg"))
      .localCheckpoint(false)
    val eps = und
      .join(edgeSupport(und), Seq("u", "v"), "left")
      .withColumn("support", coalesce(col("support"), lit(0L)))
      .join(deg.select(col("node").as("u"), col("deg").as("du")), "u")
      .join(deg.select(col("node").as("v"), col("deg").as("dv")), "v")
      .filter(expr("""4 * (support + 2) * (support + 2)
                      >= (du + 1) * (dv + 1)"""))
      .select(col("u"), col("v"))
      .localCheckpoint(false) // feeds ε-counts, core edges, borders
    val epsSym = eps.unionByName(
      eps.select(col("v").as("u"), col("u").as("v")))
    val nEps = epsSym.groupBy(col("u").as("node"))
      .agg((count(lit(1)) + 1L).cast("long").as("n_eps"))
    val nodes = deg.join(nEps, Seq("node"), "left")
      .withColumn("n_eps", coalesce(col("n_eps"), lit(1L)))
      .localCheckpoint(false)
    val cores = nodes.filter(col("n_eps") >= 4L).select(col("node"))
      .localCheckpoint(false)
    val coreEps = epsSym
      .join(cores.withColumnRenamed("node", "u"), "u")
      .join(cores.withColumnRenamed("node", "v"), "v")
      .select(col("u").as("src"), col("v").as("dst"))
    val cc = minLabelComponents(coreEps)
    // isolated cores (μ met through non-core ε-neighbors) label
    // themselves
    val coreLab = cores.join(cc, Seq("node"), "left")
      .select(col("node"),
        coalesce(col("component"), col("node")).as("cluster"))
      .localCheckpoint(false)
    val border = epsSym
      .join(coreLab.select(col("node").as("v"), col("cluster").as("cl")),
        "v")
      .join(cores.select(col("node").as("u")), Seq("u"), "left_anti")
      .groupBy(col("u").as("node"))
      .agg(min(col("cl")).as("cluster"))
    val labeled = coreLab
      .unionByName(border)
      .localCheckpoint(false) // feeds output AND the hub test
    val nbClusters = e.select(col("src").as("node"), col("dst").as("nb"))
      .join(labeled.select(col("node").as("nb"), col("cluster")), "nb")
      .groupBy(col("node"))
      .agg(countDistinct(col("cluster")).cast("long").as("ncl"))
    val rest = nodes.select(col("node"))
      .join(labeled.select(col("node")), Seq("node"), "left_anti")
      .join(nbClusters, Seq("node"), "left")
      .select(col("node"),
        when(coalesce(col("ncl"), lit(0L)) >= 2L, lit("hub"))
          .otherwise(lit("outlier")).as("role"),
        lit(null).cast("long").as("cluster"))
    val roles = coreLab
      .select(col("node"), lit("core").as("role"), col("cluster"))
      .unionByName(border.select(col("node"), lit("border").as("role"),
        col("cluster")))
      .unionByName(rest)
    roles.join(nodes, "node")
      .select(col("node"), col("deg"), col("n_eps"), col("role"),
        col("cluster"))
  }
}
