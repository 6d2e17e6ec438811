package graft

import graft.operators._
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan audits: the properties that decide whether these
  * operators survive a 100× scale-up — filters pushed to the parquet
  * scan, columns pruned, small dimensions broadcast, no cartesian
  * products — asserted on `.explain` output so regressions fail loudly.
  */
class PlanAuditSpec extends AnyFunSuite with SparkTestBase {

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("q02 filter reaches the parquet scan (PushedFilters)") {
    val p = plan(RelationalOps.q02Filter(spark, Sf))
    assert(p.contains("PushedFilters:"))
    assert(p.contains("EqualTo(l_returnflag,R)"), p.take(2000))
  }

  test("q01 projection prunes the scan to the 3 selected columns") {
    val p = plan(RelationalOps.q01ScanProject(spark, Sf))
    val readSchema = p.linesIterator
      .find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("o_orderkey") &&
      readSchema.contains("o_custkey") &&
      readSchema.contains("o_orderpriority"))
    assert(!readSchema.contains("o_totalprice") &&
      !readSchema.contains("o_orderdate"), readSchema)
  }

  test("dimension joins broadcast the small side, never shuffle it") {
    for (df <- Seq(RelationalOps.q20DimJoin(spark, Sf),
        RelationalOps.q09SemiJoin(spark, Sf),
        RelationalOps.q13PurgeKeys(spark, Sf),
        RelationalOps.q22UsageRate(spark, Sf))) {
      val p = plan(df)
      assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
        p.take(1500))
      assert(!p.contains("CartesianProduct"))
    }
  }

  test("q32 brute-force knn broadcasts the query set (no cartesian)") {
    val p = plan(SimilarityOps.q32KnnBruteforce(spark, Sf))
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastExchange"), p.take(1500))
    assert(!p.contains("CartesianProduct"))
  }

  test("hot-path operators stay inside WholeStageCodegen") {
    // "*(n) Op" is the whole-stage-codegen marker in compact plan
    // strings; execute first — an unexecuted AdaptiveSparkPlan prints
    // the pre-codegen plan
    for (df <- Seq(RelationalOps.q03DerivedFlag(spark, Sf),
        SimilarityOps.q34VectorOps(spark, Sf),
        DedupOps.q30Simhash(spark, Sf))) {
      df.collect() // finalize the adaptive plan on THIS queryExecution
      val p = df.queryExecution.executedPlan.toString
      assert(p.contains("WholeStageCodegen") || p.contains("*("), p.take(800))
    }
  }

  test("q36 near-dup: no cartesian product anywhere in the plan") {
    val p = plan(SimilarityOps.q36EmbedNearDup(spark, Sf))
    assert(!p.contains("CartesianProduct"), p.take(1500))
  }

  test("q36 near-dup: corpus re-attach is never a hard-coded broadcast") {
    // With auto-broadcast off, any BroadcastExchange left in the plan
    // must come from an explicit broadcast() hint — at 100 TB the
    // corpus-sized re-attach sides must go through size-gated planning,
    // never a forced broadcast (guaranteed OOM at scale).
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(key)
    try {
      spark.conf.set(key, "-1")
      val p = plan(SimilarityOps.q36EmbedNearDup(spark, Sf))
      assert(!p.contains("BroadcastExchange"), p.take(2000))
    } finally spark.conf.set(key, prev)
  }

  test("q39 as-of join: exactly one shuffle, keyed by the join key") {
    val p = plan(AsOfJoin.q39AsOfJoin(spark, Sf))
    val shuffles = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(shuffles == 1, s"$shuffles shuffles\n${p.take(1500)}")
    assert(p.contains("hashpartitioning(user_id"), p.take(1500))
  }

  test("q47 ngram count: partial aggregation before the shuffle") {
    val p = plan(TextOps.q47TopNgrams(spark, Sf))
    // map-side partial + final HashAggregate around one exchange
    assert("HashAggregate".r.findAllIn(p).length >= 2, p.take(1500))
    assert(p.contains("TakeOrderedAndProject"), p.take(1500))
  }

  test("q50 sampling runs on the heap operator, not a window sort") {
    val p = plan(TextOps.q50SamplePerGroup(spark, Sf))
    assert(p.contains("TopKPerKey"), p.take(1500))
    assert(!p.contains("Window"), p.take(1500))
  }

  test("q45 percentile ranking is range-partitioned, not per-group windowed") {
    // a PARTITION BY l_returnflag window would put a third of the table
    // through each of 3 reducers; the distributed-rank plan aggregates
    // (_part, group) totals after a range exchange
    val df = RelationalOps.q45Percentiles(spark, Sf)
    val p = plan(df)
    // DistributedRank's offset + in-slice sum invariant: both plan
    // branches must see IDENTICAL spark_partition_id() values. The
    // sorted slices are localCheckpoint'd (the r9 stress run caught
    // ReuseExchange failing on a self-join and the twice-executed
    // range exchange sampling DIFFERENT boundaries), so consumer plans
    // read the one materialized artifact — a Scan ExistingRDD — and
    // contain NO rangepartitioning exchange of their own.
    assert(p.contains("Scan ExistingRDD"), p.take(2000))
    assert(!p.contains("rangepartitioning"), p.take(2000))
    assert(p.contains("hashpartitioning(_part"), p.take(2000))
    // the range exchange itself lives in the checkpoint's plan
    import org.apache.spark.sql.functions.col
    val sliced = plan(graft.operators.DistributedRank.rangeSliced(
      Tables.lineitem(spark, Sf), Seq(col("l_returnflag")),
      Seq(col("l_extendedprice"))))
    assert(sliced.contains("rangepartitioning"), sliced.take(2000))
    // the slice pass runs over the checkpoint itself: no window keyed by
    // the slice id and no second full-row shuffle — the only hash
    // exchanges are the totals aggregate's and the offsets window's
    val grouped = spark.range(0, 20000, 1, 4)
      .withColumn("g", col("id") % 3)
    val ranked = graft.operators.DistributedRank
      .withRank(grouped, Seq("g"), Seq("id"), "rn")
    val rp = plan(ranked)
    assert(!"windowspecdefinition\\(_part#\\d+,".r.findFirstIn(rp).isDefined,
      rp.take(3000))
    assert("Exchange hashpartitioning".r.findAllIn(rp).length == 2,
      rp.take(3000))
    assert(rp.contains("BroadcastExchange"), rp.take(3000))
    val (_, _, jobs) = recording(
      ranked.write.format("noop").mode("overwrite").save())
    assert(jobs <= 6, s"$jobs jobs")
  }

  test("q62 contamination broadcasts the benchmark shingles — the corpus " +
      "is never shuffled by shingle") {
    val p = plan(DedupOps.q62Contamination(spark, Sf))
    assert(p.contains("BroadcastHashJoin"), p.take(1500))
    assert(!p.contains("SortMergeJoin"), p.take(1500))
  }

  test("q66 packing prefix-sum is range-partitioned, not per-lang windowed") {
    val p = plan(graft.operators.TextOps.q66SequencePacking(spark, Sf))
    assert(p.contains("Scan ExistingRDD"), p.take(2000)) // the checkpointed range slices
    assert(p.contains("hashpartitioning(_part"), p.take(2000))
  }

  test("q12 upsert shuffles once, keyed on the upsert key") {
    val p = plan(RelationalOps.q12UpsertLastWins(spark, Sf))
    assert(p.contains("hashpartitioning(user_id"), p.take(1500))
  }

  test("q19 top-k never globally sorts the fact table") {
    val p = plan(RelationalOps.q19RecentTopK(spark, Sf))
    // sort-limit pattern: TakeOrderedAndProject (or a local limit), not a
    // full Sort of orders
    assert(p.contains("TakeOrderedAndProject") || p.contains("GlobalLimit"),
      p.take(1500))
  }

  test("q69 hash split is one scan: no shuffle, no join") {
    val p = plan(TextOps.q69Split(spark, Sf))
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin"),
      p.take(1500))
    // the only exchange allowed is the small-file rebalance gate
    assert(!p.contains("hashpartitioning(doc_id"), p.take(1500))
  }

  test("q70 domain cap runs on the heap operator, not a window sort") {
    val p = plan(TextOps.q70DomainCap(spark, Sf))
    assert(p.contains("TopKPerKey"), p.take(1500))
    assert(!p.contains("Window"), p.take(1500))
  }

  test("q74 bigram hot list: top-k via TakeOrdered, membership via " +
      "broadcast — corpus never shuffled by bigram for the final scan") {
    val p = plan(TextOps.q74BigramCov(spark, Sf))
    assert(p.contains("TakeOrderedAndProject"), p.take(2000))
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastExchange"), p.take(2000))
    assert(!p.contains("CartesianProduct"), p.take(2000))
  }

  test("q72 sequences: heap-capped BEFORE the gather, no global sort") {
    val p = plan(RelationalOps.q72UserSeq(spark, Sf))
    assert(p.contains("hashpartitioning(user_id"), p.take(2000))
    // the 50-cap runs on the heap operator so collect_list never sees
    // an uncapped hot user; ordering happens inside array_sort per
    // group, never a Sort/Window over the events table
    assert(p.contains("TopKPerKey"), p.take(2000))
    assert(!p.contains("Window"), p.take(2000))
  }

  test("q75 semantic dedup: centroids are codegen literals (no join " +
      "at all); representative choice is the heap operator") {
    val p = plan(SimilarityOps.q75SemDedup(spark, Sf))
    assert(p.contains("TopKPerKey"), p.take(2000))
    assert(!p.contains("Join"), p.take(2000))
    assert(!p.contains("CartesianProduct"), p.take(2000))
  }

  test("q80 funnel: ONE user_id shuffle feeds all three window passes") {
    val p = plan(RelationalOps.q80Funnel(spark, Sf))
    val exchanges = p.linesIterator
      .filter(l => l.contains("Exchange hashpartitioning(user_id"))
      .size
    assert(exchanges == 1, s"$exchanges user_id exchanges:\n${p.take(2500)}")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      p.take(2000))
  }

  test("q83 outliers: medians range-partitioned, caps broadcast back " +
      "(relational path); driver path broadcasts the med/mad table") {
    // >gate (the 100 TB shape): range-partitioned rank medians
    Gates.withMode(spark, Gates.Relational) {
      val p = plan(RelationalOps.q83Outliers(spark, Sf))
      assert(p.contains("Scan ExistingRDD"), p.take(2500)) // checkpointed range slices
      assert(p.contains("BroadcastHashJoin"), p.take(2500))
      assert(!p.contains("CartesianProduct"), p.take(2500))
    }
    // ≤gate: one histogram aggregate feeds a driver walk; the fact
    // scan joins the broadcast (type, med, mad) LocalRelation
    val pd = plan(RelationalOps.q83Outliers(spark, Sf))
    assert(pd.contains("BroadcastHashJoin"), pd.take(2500))
    assert(!pd.contains("rangepartitioning"), pd.take(2500))
    assert(!pd.contains("CartesianProduct"), pd.take(2500))
  }

  test("q84 cross-corpus contamination: best-match on the heap operator, " +
      "band join never cartesian") {
    val p = plan(DedupOps.q84NearDupContam(spark, Sf))
    assert(p.contains("TopKPerKey"), p.take(2500))
    assert(!p.contains("CartesianProduct"), p.take(2500))
    // the band bucket join keys on (band_id, band_key) — ids only
    assert(p.contains("band_key"), p.take(2500))
  }

  test("q85 bloom join: footer stats size the sketch — plan build skips " +
      "the count() job the statless default would run") {
    import org.apache.spark.sql.functions.col
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    // listener events post asynchronously: after each measured build,
    // wait for the job count to go quiet before reading it
    def settled(): Int = {
      var prev = -1
      var cur = jobs.get()
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      while (cur != prev && System.nanoTime() < deadline) {
        prev = cur; Thread.sleep(300); cur = jobs.get()
      }
      cur
    }
    // materialize the input frames first so the one-time parquet
    // schema-read jobs fall outside both measured windows
    val li = graft.Tables.lineitem(spark, Sf)
      .select("l_orderkey", "l_linenumber")
    val sel = graft.Tables.orders(spark, Sf)
      .filter(col("o_orderpriority") === "1-URGENT")
      .select("o_orderkey")
    li.schema; sel.schema
    sc.addSparkListener(listener)
    try {
      BloomJoin.prefilterJoin(li, sel, "l_orderkey", "o_orderkey",
        expectedItems = graft.sources.TableStatistics
          .tableRowCount(spark, Sf, "orders"))
      val statsJobs = settled()
      BloomJoin.prefilterJoin(li, sel, "l_orderkey", "o_orderkey")
      val statlessJobs = settled() - statsJobs
      assert(statsJobs < statlessJobs,
        s"footer-stats path ran $statsJobs jobs, statless $statlessJobs — " +
          "expected the stats path to skip the count() job")
      val p = plan(BloomJoin.q85BloomJoin(spark, Sf))
      assert(p.contains("bloommightcontain"), p.take(2000))
    } finally sc.removeSparkListener(listener)
  }

  test("q88 span scrub: first-occurrence cut is the heap operator, " +
      "no Sort node anywhere") {
    val p = plan(DedupOps.q88SpanScrub(spark, Sf))
    // partial + final heap around the hash exchange on the span md5
    assert("TopKPerKey \\[".r.findAllIn(p).length == 2, p.take(2500))
    // reassembly is array_sort-within-group, never a per-doc Sort
    assert(!p.contains("Sort "), p.take(2500))
    assert(!p.contains("Window"), p.take(2500))
  }

  test("q87 quantized ANN: heap shortlist cut, queries broadcast, " +
      "corpus never broadcast") {
    val p = plan(SimilarityOps.q87QuantizedAnn(spark, Sf))
    // stage-1 cut is the heap operator (map-side partial + final),
    // not a Window sort over all candidate pairs
    assert("TopKPerKey \\[".r.findAllIn(p).length == 2, p.take(2500))
    // the <=10-row query side rides a broadcast in both stages
    assert(p.contains("BroadcastExchange"), p.take(2500))
    // no cartesian product: the qid<>nid pair join is the broadcast
    // nested loop against the tiny query side only
    assert(!p.contains("CartesianProduct"), p.take(2500))
    val bnlj = p.linesIterator.filter(_.contains("BroadcastNestedLoopJoin"))
    assert(bnlj.forall(_.contains("BuildRight")), p.take(2500))
  }

  test("q92 scd2: ONE o_custkey shuffle feeds both window passes and " +
      "the run aggregate (subset-clustering reuse)") {
    val p = plan(RelationalOps.q92Scd2(spark, Sf))
    val exchanges = p.linesIterator
      .filter(l => l.contains("Exchange hashpartitioning(o_custkey"))
      .size
    assert(exchanges == 1, s"$exchanges o_custkey exchanges:\n${p.take(2500)}")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      p.take(2000))
  }

  test("q94 sliding window: ONE user_id shuffle, RANGE frame inside it") {
    val p = plan(RelationalOps.q94SlidingWindow(spark, Sf))
    val exchanges = p.linesIterator
      .filter(l => l.contains("Exchange hashpartitioning(user_id"))
      .size
    assert(exchanges == 1, s"$exchanges user_id exchanges:\n${p.take(2500)}")
    assert(p.contains("RangeFrame"), p.take(2500))
  }

  test("q96 set-similarity join: hash equi-joins only — no nested " +
      "loop, no cartesian") {
    val p = plan(DedupOps.q96SetSimJoin(spark, Sf))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(2500))
    assert(!p.contains("CartesianProduct"), p.take(2500))
    assert(p.contains("_tok"), p.take(2500))
  }

  test("q97 incremental merge is pure aggregation — no join anywhere, " +
      "map-side partial combine before the merge shuffle") {
    val p = plan(RelationalOps.q97IncrAgg(spark, Sf))
    assert(!p.contains("Join"), p.take(2000))
    // base and delta each partial-aggregate before their exchange, and
    // the union merge is itself partial+final
    assert("HashAggregate".r.findAllIn(p).length >= 4, p.take(2000))
  }

  test("q98 point-in-time join: the as-of composition never plans an " +
      "interval containment (no nested loop, no cartesian); version " +
      "pick rides a custkey-clustered window") {
    val p = plan(RelationalOps.q98PitJoin(spark, Sf))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(2500))
    assert(!p.contains("CartesianProduct"), p.take(2500))
    assert(p.contains("hashpartitioning(custkey"), p.take(2500))
  }

  test("q103 pmi: the ranking runs on the min-count survivors — the " +
      "top-50 is a TakeOrdered, never a global sort shuffle") {
    val df = TextOps.q103Pmi(spark, Sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("TakeOrderedAndProject"), p.take(2500))
    assert(!p.contains("Exchange rangepartitioning"), p.take(2500))
    assert(!p.contains("CartesianProduct"), p.take(2500))
  }

  test("bpe encode alone is one scan, zero exchange — the merge table " +
      "never induces a join or shuffle") {
    val merges = Seq(("a", "b"), ("ab", "c"))
    val df = Tables.documents(spark, Sf)
      .filter(org.apache.spark.sql.functions.col("text").isNotNull)
      .select(graft.functions.BpeEncodeExpression.bpeEncode(
        org.apache.spark.sql.functions.split(
          org.apache.spark.sql.functions.lower(
            org.apache.spark.sql.functions.col("text")), "\\s+"),
        merges).as("sub"))
    df.collect()
    // AQE prints Final + Initial plans — audit the final section only
    val p = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    // Tables.documents' small-file rebalance gate adds one
    // repartition exchange at test scale; beyond it the encode adds
    // NOTHING: no join, no aggregate, no extra exchange
    assert(!p.contains("Join"), p.take(2000))
    assert("Exchange".r.findAllIn(p).length <= 1, p.take(2000))
    assert(p.contains("BpeEncoder(2 merges).encode("), p.take(2000))
  }

  test("q112 bm25: query terms broadcast into the posting scan — the " +
      "posting relation is never the build side; top-k is the heap " +
      "operator, never a sort") {
    val df = TextOps.q112Bm25(spark, Sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), p.take(2500))
    assert(p.contains("TopKPerKey"), p.take(2500))
    assert(!p.contains("CartesianProduct"), p.take(2500))
    assert(!p.contains("Exchange rangepartitioning"), p.take(2500))
  }

  test("q113 markov: ONE user_id shuffle; ratio window runs on the " +
      "types-squared aggregate, never a second corpus pass") {
    val p = plan(RelationalOps.q113Markov(spark, Sf))
    val userEx = p.linesIterator
      .filter(_.contains("Exchange hashpartitioning(user_id")).size
    assert(userEx == 1, s"$userEx user_id exchanges:\n${p.take(2500)}")
    assert(!p.contains("Join"), p.take(2000))
  }

  test("q114 weighted sample: per-group cut is the heap operator — no " +
      "Window, no per-group sort") {
    val p = plan(TextOps.q114WeightedSample(spark, Sf))
    assert(p.contains("TopKPerKey"), p.take(2500))
    assert(!p.contains("WindowExec") && !p.contains("Window "), p.take(2500))
    assert(!p.contains("Sort "), p.take(2500))
  }

  test("q111 lm score: model tables join the bigram table by shuffle " +
      "hash join; the only nested-loop is the broadcast vocab scalar") {
    val p = plan(TextOps.q111LmScore(spark, Sf))
    assert(!p.contains("CartesianProduct"), p.take(2500))
    // the V scalar rides a broadcast nested loop (1 row); everything
    // else must be hash equi-joins
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).length <= 1,
      p.take(2500))
    assert(!p.contains("SortMergeJoin"), p.take(2500))
  }

  test("q115 equi-depth bins: the global window runs per range slice " +
      "(partitioned by _part) — never one unpartitioned reducer") {
    val df = RelationalOps.q115EquidepthBins(spark, Sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("Scan ExistingRDD"), p.take(2500)) // checkpointed range slices
    // every Window in the plan is keyed by the slice id
    p.linesIterator.filter(_.contains("windowspecdefinition")).foreach {
      l => assert(l.contains("_part"), l)
    }
  }

  test("q117 cube: ONE Expand feeds one partial-aggregated shuffle — " +
      "the four grouping subsets never re-scan the table") {
    val p = plan(RelationalOps.q117Cube(spark, Sf))
    assert("Expand".r.findAllIn(p).length == 1, p.take(2500))
    assert("Scan parquet".r.findAllIn(p).length == 1, p.take(2500))
  }

  test("q118 incremental index: hash joins only — no sort-merge, no " +
      "cartesian; untouched blocks pass through an anti-join") {
    val p = plan(TextOps.q118IncrIndex(spark, Sf))
    assert(!p.contains("CartesianProduct"), p.take(2500))
    assert(!p.contains("SortMergeJoin"), p.take(2500))
    assert(p.contains("LeftAnti"), p.take(2500))
  }

  test("q122 skyline: the dominance window runs on the bounded " +
      "staircase, not the corpus — frontier broadcasts back") {
    val df = RelationalOps.q122Skyline(spark, Sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // the corpus-side join of the frontier must be broadcast
    assert(p.contains("BroadcastHashJoin"), p.take(2500))
    // the Window's input is the per-size aggregate (HashAggregate
    // appears below Window in the plan tree), never a corpus sort:
    // the single-partition Exchange feeding it carries ≤|sizes| rows
    val winIdx = p.indexOf("Window")
    assert(winIdx >= 0, p.take(2500))
    assert(p.indexOf("HashAggregate", winIdx) >= 0, p.take(2500))
    assert(!p.contains("CartesianProduct"))
  }

  test("q123 attribution: the touch↔purchase join is a hash equi-join " +
      "(band filter is a post-join predicate, not a cartesian)") {
    val p = plan(RelationalOps.q123Attribution(spark, Sf))
    assert(!p.contains("CartesianProduct"), p.take(2500))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(2500))
  }

  test("q124 source drift: vocab tables broadcast into the per-source " +
      "close; no cartesian anywhere") {
    val p = plan(TextOps.q124SourceDrift(spark, Sf))
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      p.take(2500))
    assert(!p.contains("CartesianProduct"), p.take(2500))
  }

  test("q125 item sim: basket pair build and count joins are " +
      "equi-joins; top-5 cut is the heap operator") {
    val df = SimilarityOps.q125ItemSim(spark, Sf)
    val p = plan(df)
    assert(!p.contains("CartesianProduct"), p.take(2500))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(2500))
    assert(p.contains("TopKPerKey"), p.take(2500))
  }

  test("q126 label propagation: per-round label table broadcasts — " +
      "the edge table is never re-shuffled for the join") {
    val edges = GraphOps.prunedCoPurchaseEdges(spark, Sf, minCount = 2)
      .localCheckpoint(false)
    val labels = edges.select(org.apache.spark.sql.functions.col("src")
        .as("node"))
      .distinct()
      .withColumn("lbl", org.apache.spark.sql.functions.col("node"))
    val p = plan(GraphOps.lpRound(edges, labels))
    assert(p.contains("BroadcastHashJoin"), p.take(2500))
    assert(p.contains("TopKPerKey"), p.take(2500))
  }

  test("graph loops past the maxBroadcastNodes gate: the rank join has " +
      "NO broadcast, and the src-bucketed edge side adds zero " +
      "exchanges (bucketed-scan partitioning)") {
    import org.apache.spark.sql.functions._
    // at production scale nothing fits a broadcast — pin the planner's
    // shape under that condition
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val table = "graft_audit_graph_edges"
    try {
      val edges = GraphOps.prunedCoPurchaseEdges(spark, Sf, minCount = 2)
        .localCheckpoint(false)
      val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("od"))
      // fallback-mode withDeg exactly as pageRank builds it
      graft.sources.TableLayout.writeBucketed(edges.join(deg, "src"),
        "src", spark.conf.get("spark.sql.shuffle.partitions").toInt, table)
      val withDeg = spark.table(table)
      val ranks = deg.select(col("src").as("node"), lit(100L).as("r"))
        .localCheckpoint(false)
      val pFb = plan(GraphOps.prRound(withDeg, ranks, 100L, bc = false))
      assert(!pFb.contains("BroadcastHashJoin") &&
        !pFb.contains("BroadcastExchange"), pFb.take(2500))
      assert(pFb.contains("SortMergeJoin") ||
        pFb.contains("ShuffledHashJoin"), pFb.take(2500))
      // exactly 2 exchanges: the rank vector meeting the bucket
      // partitioning + the contribution sum — the bucketed side NONE
      val nEx = pFb.sliding("Exchange hashpartitioning".length)
        .count(_ == "Exchange hashpartitioning")
      assert(nEx == 2, s"expected 2 exchanges, got $nEx\n" + pFb.take(2500))
      // BFS fallback round: no broadcast anywhere either
      val frontier = ranks.select(col("node").as("_f"))
      val visited = ranks.select(col("node"), lit(0L).as("hops"))
      val pBfs = plan(GraphOps.bfsRound(withDeg, frontier, visited,
        frontierBc = false, visitedBc = false))
      assert(!pBfs.contains("BroadcastHashJoin") &&
        !pBfs.contains("BroadcastExchange"), pBfs.take(2500))
      // LPA fallback round: gated label join, heap argmax intact
      val labels = ranks.select(col("node"), col("node").as("lbl"))
      val pLp = plan(GraphOps.lpRound(withDeg, labels, bc = false))
      assert(!pLp.contains("BroadcastHashJoin") &&
        !pLp.contains("BroadcastExchange"), pLp.take(2500))
      assert(pLp.contains("TopKPerKey"), pLp.take(2500))
      // broadcast mode keeps the rank join broadcast (hint overrides
      // the disabled threshold)
      val withDegBc = edges.join(broadcast(deg), "src")
        .localCheckpoint(false)
      val pBc = plan(GraphOps.prRound(withDegBc, ranks, 100L, bc = true))
      assert(pBc.contains("BroadcastHashJoin") ||
        pBc.contains("BroadcastExchange"), pBc.take(2500))
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.sql(s"DROP TABLE IF EXISTS $table")
    }
  }

  test("q135 KS / q143 U: both prefix sums ride ONE materialized range " +
      "slice artifact (checkpointed), windows keyed by the slice id") {
    for (df <- Seq(StatsOps.q135KsTest(spark, Sf),
        StatsOps.q143MannWhitney(spark, Sf))) {
      df.collect()
      val p = df.queryExecution.executedPlan.toString
      // both cumsum branches read DistributedRank's checkpointed range
      // slices (one materialization — the r9 stress fix), never a
      // re-executed range exchange of their own
      assert(p.contains("Scan ExistingRDD"), p.take(2500))
      assert(!p.contains("rangepartitioning"), p.take(2500))
      p.linesIterator.filter(_.contains("windowspecdefinition"))
        .foreach(l => assert(l.contains("_part"), l))
    }
  }

  test("q136 winnowing: per-doc selection windows are keyed by doc_id; " +
      "text never crosses a shuffle (ids+hash only)") {
    val df = DedupOps.q136WinnowRepeats(spark, Sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    p.linesIterator.filter(_.contains("windowspecdefinition"))
      .foreach(l => assert(l.contains("doc_id"), l))
    // every exchange carries fingerprints/ids, never the text column
    p.linesIterator.filter(_.contains("Exchange hashpartitioning"))
      .foreach(l => assert(!l.contains("text"), l))
  }

  test("q137 skew profile: frequency ranks are range-partitioned " +
      "slices with broadcast offsets — no global sort reducer") {
    val df = StatsOps.q137SkewProfile(spark, Sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("Scan ExistingRDD"), p.take(2500)) // checkpointed range slices
    assert(p.contains("BroadcastHashJoin"), p.take(2500))
    p.linesIterator.filter(_.contains("windowspecdefinition"))
      .foreach(l => assert(l.contains("_part"), l))
  }

  test("q138 bootstrap: the 64x explode collapses in a partial " +
      "aggregate before the shuffle (map-side combine)") {
    val df = StatsOps.q138BootstrapCi(spark, Sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // partial + final HashAggregate pairs around the rep shuffle
    assert("HashAggregate".r.findAllIn(p).size >= 4, p.take(2500))
    assert(p.contains("Generate explode"), p.take(2500))
    assert(!p.contains("CartesianProduct"), p.take(2500))
  }

  test("q140 trigram motifs: the corpus pass is checkpointed out of " +
      "the final plan; enrichment joins broadcast; heap cut") {
    val df = RelationalOps.q140TrigramMotifs(spark, Sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // the one corpus-scale window pass ran inside the localCheckpoint;
    // the final plan must touch only the bounded trigram table — no
    // corpus exchange may appear here
    assert(!p.contains("Exchange hashpartitioning(user_id"),
      "corpus re-scan leaked past the checkpoint\n" + p.take(2500))
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 3, p.take(2500))
    assert(p.contains("TakeOrderedAndProject"), p.take(2500))
  }

  test("q142 weighted median: prefix pass is range-partitioned; group " +
      "totals broadcast back") {
    val df = StatsOps.q142WeightedMedian(spark, Sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("Scan ExistingRDD"), p.take(2500)) // checkpointed range slices
    assert(p.contains("BroadcastHashJoin"), p.take(2500))
    p.linesIterator.filter(_.contains("windowspecdefinition"))
      .foreach(l => assert(l.contains("_part"), l))
  }

  test("q147 proration: the windows reuse the join's _k partitioning " +
      "and add no exchange; no unpartitioned window touches the corpus") {
    val df = RelationalOps.q147Proration(spark, Sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // every window is per-order — an empty partition spec would be the
    // single-reducer trap
    p.linesIterator.filter(_.contains("windowspecdefinition"))
      .foreach(l => assert(l.contains("_k#"), l))
    // the _k exchanges belong to the equi-join's two sides; the three
    // window passes reuse that partitioning (partition-local Sorts
    // only) and add NO exchange of their own
    val kExchanges = p.linesIterator
      .filter(l => l.contains("Exchange hashpartitioning(_k#"))
      .size
    assert(kExchanges <= 2, s"$kExchanges _k exchanges\n${p.take(2500)}")
  }

  test("q150 RRF: seed terms and vectors broadcast into both candidate " +
      "scans; no cartesian") {
    val df = SimilarityOps.q150RrfFusion(spark, Sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"), p.take(2000))
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    assert(p.contains("BroadcastNestedLoopJoin"), p.take(2000))
    assert(p.contains("TopKPerKey"), p.take(2000))
  }

  test("q151 link prediction: wedge join is a shuffle equi-join on the " +
      "middle node, existing edges leave via a hash anti-join, top-5 " +
      "is the heap cut") {
    val df = GraphOps.q151LinkPredict(spark, Sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p.take(2000))
    assert(p.contains("LeftAnti"), p.take(2000))
    assert(p.contains("TopKPerKey"), p.take(2000))
  }

  test("q152 stratified sample: ranks are range-partitioned, quotas " +
      "broadcast into the filter join, corpus never sorts globally") {
    val df = TextOps.q152StratSample(spark, Sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("Scan ExistingRDD"), p.take(2500)) // checkpointed range slices
    assert(p.contains("BroadcastHashJoin"), p.take(2500))
    // corpus-side windows are keyed by the range slice; the Hamilton
    // window may run unpartitioned but only over the bounded strata agg
    assert(!p.contains("Sort [_h"), p.take(2500))
  }

  test("q161 bitmap distinct: the aggregate partial-merges (object " +
      "agg in two phases) — the keyset never crosses the wire") {
    val df = RelationalOps.q161BitmapDistinct(spark, Sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // typed-Aggregator udafs run as ObjectHashAggregate; a partial +
    // final pair proves map-side combine of the bitmap buffers
    assert(p.contains("ObjectHashAggregate"), p.take(2500))
    assert(p.contains("bitmapdistinct"), p.take(2500))
    // the only exchange keys on event_type (the group), never user_id
    val exchanges = p.linesIterator
      .filter(_.contains("Exchange hashpartitioning")).toSeq
    assert(exchanges.nonEmpty &&
      exchanges.forall(e => e.contains("event_type") &&
        !e.contains("user_id")), exchanges.mkString("\n"))
  }

  test("q163 business days: both calendar joins broadcast — the " +
      "orders table is never exchanged") {
    val df = RelationalOps.q163BusinessDays(spark, Sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), p.take(2500))
    assert(!p.contains("CartesianProduct"), p.take(2500))
    // no shuffle keyed by any orders attribute: the fact side flows
    // scan -> broadcast-join -> broadcast-join
    val badExchange = p.linesIterator.exists(l =>
      l.contains("Exchange hashpartitioning") &&
        (l.contains("o_orderkey") || l.contains("o_orderdate")))
    assert(!badExchange, p.take(2500))
  }

  test("q177 price-volume bridge reads lineitem exactly once (both " +
      "periods from one conditional-aggregate scan)") {
    val df = RelationalOps.q177PriceVolumeMix(spark, Sf)
    df.collect()
    // count in the FINAL adaptive plan only — AQE's toString appends
    // the initial plan too, which would double every scan line
    val p = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    val lineitemScans = p.linesIterator
      .count(l => l.contains("FileScan parquet") &&
        l.contains("lineitem"))
    assert(lineitemScans == 1, s"lineitem scanned $lineitemScans times")
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
  }

  test("q170 cosine all-pairs: candidate and dot joins carry ids and " +
      "integer stats only — document text never crosses a join") {
    val df = SimilarityOps.q170CosineAllPairs(spark, Sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"), p.take(2500))
    // after the one corpus-side checkpoint, no exchange ships the raw
    // text column — only ids, tokens and integer weights shuffle
    val badExchange = p.linesIterator.exists(l =>
      l.startsWith("Exchange") && l.contains("text#"))
    assert(!badExchange, p.take(2500))
  }

  test("q181 rolling distinct: the sliding union runs on the bitmap " +
      "ARTIFACT (the checkpoint cut the one fact scan out of the " +
      "final plan); the 7-day band is an equi-free range join on the " +
      "calendar, never a fact-table re-scan") {
    val df = RelationalOps.q181RollingDistinct(spark, Sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // the events parquet scan happened exactly once, BEFORE the
    // checkpoint — the window plan reads only the artifact RDD
    assert(!p.contains("events.parquet"), p.take(2500))
    assert(p.contains("Scan ExistingRDD"), p.take(2500))
    assert(!p.contains("CartesianProduct"), p.take(2500))
  }

  test("q184 dup payments: custkey-blocked equi-join — bands are " +
      "post-join predicates, never a cartesian or range join") {
    val df = RelationalOps.q184DupPayments(spark, Sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p.take(2500))
  }

  test("q185 cohort LTV: the cumulative window runs keyed by the " +
      "cohort on the bounded grid; cohort sizes broadcast back") {
    val df = RelationalOps.q185CohortLtv(spark, Sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    p.linesIterator.filter(_.contains("windowspecdefinition"))
      .foreach(l => assert(l.contains("cym"), l))
    assert(p.contains("BroadcastHashJoin") ||
      p.contains("BroadcastExchange"), p.take(2500))
    assert(!p.contains("CartesianProduct"), p.take(2500))
  }

  test("q186/q187 embedding ops: top cut is the heap operator, no " +
      "cartesian; q186's reciprocity join is an equi-join on the " +
      "checkpointed node-scale top-1 artifact") {
    val p187 = plan(SimilarityOps.q187KnnPurity(spark, Sf))
    assert(p187.contains("TopKPerKey"), p187.take(2500))
    assert(!p187.contains("CartesianProduct"), p187.take(2500))
    // q186 checkpoints top-1 (the heap ran before the cut); the final
    // plan must be an equi self-join over the artifact RDD only
    val p186 = plan(SimilarityOps.q186MutualNn(spark, Sf))
    assert(p186.contains("Scan ExistingRDD"), p186.take(2500))
    assert(!p186.contains("CartesianProduct") &&
      !p186.contains("BroadcastNestedLoopJoin"), p186.take(2500))
    assert(!p186.contains("embeddings.parquet"),
      "corpus must not be re-scanned after the top-1 cut\n" +
        p186.take(2500))
  }

  test("q186/q187 candidate stage picks by footer row count: exact " +
      "broadcast all-pairs at gate scale, IVF cell join (no broadcast " +
      "of the corpus, no nested loop) when the threshold is exceeded") {
    // default threshold (100k) >> every tested SF → the exact stage:
    // an all-pairs BroadcastNestedLoopJoin over the broadcast corpus
    val pExact = plan(SimilarityOps.annCandidateScores(spark, Sf))
    assert(pExact.contains("BroadcastNestedLoopJoin"), pExact.take(2500))
    // force the scale path: the candidate stage must become the
    // co-partitioned cell equi-join — NO nested loop, NO cartesian
    Gates.withMode(spark, Gates.Scale) {
      val pIvf = plan(SimilarityOps.annCandidateScores(spark, Sf))
      assert(!pIvf.contains("BroadcastNestedLoopJoin") &&
        !pIvf.contains("CartesianProduct"), pIvf.take(2500))
      assert(pIvf.contains("cell"), pIvf.take(2500))
      // both consumers run on the swapped stage unchanged
      assert(SimilarityOps.q187KnnPurity(spark, Sf).count() > 0)
    }
  }

  test("q188 seasonal decomposition: the unpartitioned 7-day window " +
      "runs on the AGGREGATED daily artifact (partial aggregation " +
      "collapsed the fact scan first), seasonal means broadcast back") {
    val df = StatsOps.q188SeasonalDecomp(spark, Sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // the window's child chain must contain the day aggregate — i.e.
    // partial aggregation happened below the window, so the window
    // input is calendar-scale, not the orders scan
    assert(p.contains("partial_sum"), p.take(2500))
    assert(p.contains("BroadcastHashJoin") ||
      p.contains("BroadcastExchange"), p.take(2500))
  }

  test("q182 concentration: grouped rank is range-partitioned slices " +
      "(DistributedRank), never a per-segment single-reducer window; " +
      "moments partial-aggregate before the shuffle") {
    val df = RelationalOps.q182Concentration(spark, Sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("Scan ExistingRDD"), p.take(2500)) // checkpointed range slices
    p.linesIterator.filter(_.contains("windowspecdefinition"))
      .foreach(l => assert(l.contains("_part"), l))
    assert(p.contains("partial_sum") || p.contains("partial_count"),
      p.take(2500))
  }

  test("q189 lead-lag: the 15-row lag spine broadcasts against the " +
      "checkpointed daily artifact — the fact table is aggregated " +
      "once, never re-scanned per lag") {
    val df = StatsOps.q189LeadLag(spark, Sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastExchange"), p.take(2500))
    assert(p.contains("Scan ExistingRDD"), p.take(2500))
    assert(!p.contains("orders.parquet"),
      "fact must be behind the daily checkpoint\n" + p.take(2500))
    assert(!p.contains("CartesianProduct"), p.take(2500))
  }

  test("q190 golden record: survivorship is hash aggregates (struct " +
      "argmax), never a window over the fact table; CRM dim broadcast") {
    val df = RelationalOps.q190GoldenRecord(spark, Sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("windowspecdefinition"),
      "no fact-table window allowed\n" + p.take(2500))
    assert(p.contains("partial_min") || p.contains("partial_max"),
      p.take(2500))
    assert(p.contains("BroadcastHashJoin"), p.take(2500))
  }

  test("q191 FD discovery: every candidate scan is pruned to exactly " +
      "its two columns") {
    val p = plan(RelationalOps.q191FdDiscovery(spark, Sf))
    val schemas = p.linesIterator.filter(_.contains("ReadSchema"))
      .toSeq
    assert(schemas.nonEmpty)
    schemas.foreach { l =>
      val cols = "l_[a-z]+".r.findAllIn(l).toSet
      assert(cols.size == 2, s"scan not pruned to the pair: $l")
    }
  }

  test("q192 unpivot: melt is an Expand over the aggregate — no " +
      "shuffle multiplies with the metric count; dims broadcast") {
    val df = RelationalOps.q192Unpivot(spark, Sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("Expand"), p.take(2500))
    assert(p.contains("BroadcastHashJoin"), p.take(2500))
    // the Expand must sit ABOVE the final aggregate: exchanges appear
    // only below the aggregate, so exactly the agg shuffles exist
    val expandIdx = p.indexOf("Expand")
    assert(!p.substring(0, expandIdx).contains("Exchange hashpartitioning"),
      "no shuffle above the melt\n" + p.take(2500))
  }

  test("ssspRound: frontier broadcasts against the edge table (edges " +
      "exchange-free below the relax join); one map-combined MIN " +
      "shuffle; no cartesian") {
    import spark.implicits._
    val edges = Seq((1L, 2L, 5L), (2L, 3L, 5L)).toDF("src", "dst", "w")
      .localCheckpoint(false)
    val frontier = Seq((1L, 0L)).toDF("node", "dist")
    val dist = frontier
    val df = GraphOps.ssspRound(edges, frontier, dist,
      frontierBc = true, distBc = true)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), p.take(2500))
    assert(!p.contains("CartesianProduct"), p.take(2500))
    assert(p.contains("partial_min"), p.take(2500))
    // the ONLY hash exchange allowed is the per-dst MIN aggregate's —
    // the edge table reaches the relax join exchange-free
    p.linesIterator.filter(_.contains("Exchange hashpartitioning"))
      .foreach(l => assert(l.contains("dst"),
        "edges must not shuffle before relaxation: " + l))
  }

  test("q194 k-means: the assignment pass is shuffle-free and " +
      "join-free — centroids are inlined codegen literals over the " +
      "checkpointed lattice corpus") {
    val df = SimilarityOps.q194Kmeans(spark, Sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("Scan ExistingRDD"), p.take(2500))
    assert(!p.contains("Exchange"),
      "assignment must not shuffle the corpus\n" + p.take(2500))
    assert(!p.contains("Join"), p.take(2500))
    assert(p.contains("VectorExpressions.idot("), p.take(2500))
  }

  test("q195 Gini ranking: candidate scans prune to their columns, the " +
      "segment dim broadcasts, counts partial-aggregate") {
    val df = StatsOps.q195GiniRank(spark, Sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), p.take(2500))
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      p.take(2500))
    assert(!p.contains("CartesianProduct"), p.take(2500))
    // no orders scan may read more than target + feature (+ join key)
    p.linesIterator.filter(l => l.contains("ReadSchema") &&
        l.contains("o_orderstatus"))
      .foreach(l => assert("o_[a-z]+".r.findAllIn(l).toSet.size <= 3, l))
  }

  test("q196 interpolation: windows partition by nation (never a " +
      "single-reducer global window); the spine is the bounded " +
      "aggregate grid, not a fact-scan multiplier") {
    val df = RelationalOps.q196InterpFill(spark, Sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    p.linesIterator.filter(_.contains("windowspecdefinition"))
      .foreach(l => assert(l.contains("n_name"), l))
    assert(p.contains("Generate explode"), p.take(2500))
    assert(p.contains("BroadcastHashJoin"), p.take(2500))
  }

  test("q197 checksum: one scan, map-side-combined XOR aggregate, no " +
      "join, no window") {
    val df = RelationalOps.q197TableChecksum(spark, Sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("partial_bit_xor"), p.take(2500))
    assert(!p.contains("Join") && !p.contains("windowspecdefinition"),
      p.take(2500))
    val finalPlan = p.split("== Initial Plan ==").head
    assert(finalPlan.linesIterator.count(_.contains("FileScan parquet")) == 1,
      p.take(2500))
  }

  test("q229 epsilon-ball join: equi-join on grid cells, never a " +
      "cartesian or nested-loop product") {
    val df = SimilarityOps.q229EpsilonJoin(spark, Sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p.take(2500))
    // the candidate join must key on BOTH cell coordinates
    assert(p.contains("Join") || p.contains("HashJoin"), p.take(2500))
    assert(p.contains("gx") && p.contains("gy"), p.take(2500))
  }

  test("q231 two-hop reach: wedge join is an equi-join on the middle " +
      "node; the adjacency filter is a hash anti-join") {
    val df = GraphOps.q231TwoHopReach(spark, Sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p.take(2500))
    assert(p.contains("LeftAnti"), p.take(2500))
  }

  test("q236 interval-overlap join: candidates come from the day-cell " +
      "equi-join, never an inequality-only product") {
    val df = RelationalOps.q236IntervalOverlapJoin(spark, Sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p.take(2500))
    assert(p.contains("cell"), p.take(2500))
  }

  test("q237 count-min: the sketch build is one map-side-combined " +
      "aggregate over the scan (partial_count before the shuffle)") {
    val df = StatsOps.q237CountMin(spark, Sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("partial_count"), p.take(2500))
    assert(!p.contains("CartesianProduct"), p.take(2500))
  }
}
