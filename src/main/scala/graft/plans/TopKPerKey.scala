package graft.plans

import graft.Gates
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, GraftSqlBridge, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, Descending, Expression, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateOrdering
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, UnspecifiedDistribution}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}

/** Top-K rows per key as a first-class physical operator.
  *
  * The built-in formulation — `row_number() OVER (PARTITION BY key ORDER
  * BY ...) <= k` — shuffles EVERY row to its key's reducer and fully
  * sorts each partition. This operator keeps a size-k bounded heap per
  * key on the map side, so only ≤ k rows per (partition, key) reach the
  * shuffle — at 100 TB with small k, that's the difference between
  * shuffling terabytes and shuffling megabytes. O(n log k) per
  * partition, no sort.
  *
  * `mode` picks the retention contract of the three SQL rank families:
  *   - [[TopKMode.ExactK]] — row_number() <= k: exactly k rows, ties
  *     cut arbitrarily (deterministic only under a total ordering).
  *   - [[TopKMode.KPlusTies]] — rank() <= k: every row whose sort key
  *     is ≤ the k-th smallest retained key (counting multiplicity);
  *     the boundary group is evicted once ≥ k rows order strictly
  *     before it, so retention is k plus boundary ties.
  *   - [[TopKMode.KDistinct]] — dense_rank() <= k: every row whose
  *     sort key is among the k smallest DISTINCT keys; the greatest
  *     group is evicted once a k+1-th distinct key group exists.
  *
  * Full extension stack: logical node → planner strategy (two-phase:
  * partial map-side + final after a ClusteredDistribution shuffle) →
  * heap-based exec. Registered via the public `experimental.extraStrategies`.
  */
sealed trait TopKMode
object TopKMode {
  /** row_number contract: exactly k rows per key. */
  case object ExactK extends TopKMode
  /** rank contract: k rows plus boundary ties. */
  case object KPlusTies extends TopKMode
  /** dense_rank contract: all rows of the k smallest distinct keys. */
  case object KDistinct extends TopKMode
}

case class TopKPerKeyNode(keyExprs: Seq[Expression], order: Seq[SortOrder],
    k: Int, child: LogicalPlan, mode: TopKMode = TopKMode.ExactK)
  extends UnaryNode {
  override def output: Seq[Attribute] = child.output
  override protected def withNewChildInternal(c: LogicalPlan): LogicalPlan =
    copy(child = c)
}

object TopKPerKeyStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case TopKPerKeyNode(keys, order, k, child, mode) =>
      val mapSide = TopKPerKeyExec(keys, order, k, planLater(child),
        partial = true, mode = mode)
      TopKPerKeyExec(keys, order, k, mapSide, partial = false,
        mode = mode) :: Nil
    case _ => Nil
  }
}

case class TopKPerKeyExec(keyExprs: Seq[Expression], order: Seq[SortOrder],
    k: Int, child: SparkPlan, partial: Boolean,
    mode: TopKMode = TopKMode.ExactK)
  extends UnaryExecNode {
  override def output: Seq[Attribute] = child.output

  override def requiredChildDistribution: Seq[Distribution] =
    if (partial) Seq(UnspecifiedDistribution)
    else Seq(ClusteredDistribution(keyExprs))

  override def outputPartitioning = child.outputPartitioning

  /** Per-key retained-row state: exact top-k heap, or k-plus-ties
    * ordered groups. Both bound map-side shuffle volume; both phases
    * reuse the same container so partial→final reduction is one code
    * path.
    */
  private trait KeyState {
    def insert(row: InternalRow): Unit
    def drain: Iterator[InternalRow]
  }

  private final class HeapState(rowOrd: Ordering[InternalRow], kk: Int)
      extends KeyState {
    // max-heap under the sort order: head = worst row currently kept
    private val heap =
      scala.collection.mutable.PriorityQueue.empty[InternalRow](rowOrd)
    def insert(row: InternalRow): Unit =
      if (heap.size < kk) heap.enqueue(row.copy())
      else if (rowOrd.compare(row, heap.head) < 0) {
        heap.dequeue(); heap.enqueue(row.copy())
      }
    def drain: Iterator[InternalRow] = heap.iterator
  }

  /** rank()/dense_rank()-contract retention: ordered groups of
    * sort-equal rows. `distinctKeys = false` (rank): the greatest group
    * is dropped whenever the groups before it already hold ≥ k rows
    * (then its members' rank is > k by pigeonhole). `distinctKeys =
    * true` (dense_rank): the greatest group is dropped whenever k
    * distinct key groups order before it. A row ordering strictly after
    * the boundary when the retention budget is spent is rejected
    * outright.
    */
  private final class TiesState(rowOrd: Ordering[InternalRow], kk: Int,
      distinctKeys: Boolean) extends KeyState {
    private val cmp = new java.util.Comparator[InternalRow] {
      def compare(a: InternalRow, b: InternalRow): Int = rowOrd.compare(a, b)
    }
    private val groups = new java.util.TreeMap[
      InternalRow, scala.collection.mutable.ArrayBuffer[InternalRow]](cmp)
    private var total = 0
    private def budgetSpent: Boolean =
      if (distinctKeys) groups.size >= kk else total >= kk
    def insert(row: InternalRow): Unit = {
      if (budgetSpent && cmp.compare(row, groups.lastKey()) > 0) return
      val existing = groups.get(row)
      if (existing != null) existing += row.copy()
      else {
        val c = row.copy()
        groups.put(c, scala.collection.mutable.ArrayBuffer(c))
      }
      total += 1
      if (distinctKeys) {
        while (groups.size > kk) {
          val last = groups.lastEntry()
          total -= last.getValue.size
          groups.remove(last.getKey)
        }
      } else {
        var last = groups.lastEntry()
        while (total - last.getValue.size >= kk) {
          total -= last.getValue.size
          groups.remove(last.getKey)
          last = groups.lastEntry()
        }
      }
    }
    def drain: Iterator[InternalRow] = {
      import scala.jdk.CollectionConverters._
      groups.values().iterator().asScala.flatMap(_.iterator)
    }
  }

  override protected def doExecute(): RDD[InternalRow] = {
    val keyEs = keyExprs
    val orderEs = order
    val childOutput = child.output
    val kk = k
    val isPartial = partial
    val theMode = mode
    // Bound on map-side state: the state map grows with DISTINCT KEYS per
    // input partition, and at high key cardinality that is executor OOM.
    // Past the bound, rows of unseen keys pass through unfiltered — the
    // map-side reduction is an optimization, not a correctness
    // requirement; the final (post-shuffle) phase reduces every key
    // exactly.
    val maxKeys = math.max(1L,
      Gates.mode(conf).memory(Gates.TopKMapRows) / math.max(1, kk))
    child.execute().mapPartitions({ it =>
      val keyProj = UnsafeProjection.create(keyEs, childOutput)
      val rowOrd = GenerateOrdering.generate(orderEs, childOutput)
      val heapOrd = new Ordering[InternalRow] {
        def compare(a: InternalRow, b: InternalRow): Int = rowOrd.compare(a, b)
      }
      def newState(): KeyState = theMode match {
        case TopKMode.ExactK => new HeapState(heapOrd, kk)
        case TopKMode.KPlusTies =>
          new TiesState(heapOrd, kk, distinctKeys = false)
        case TopKMode.KDistinct =>
          new TiesState(heapOrd, kk, distinctKeys = true)
      }
      val states = scala.collection.mutable.HashMap.empty[UnsafeRow, KeyState]
      val passedThrough = it.flatMap { row =>
        val key = keyProj(row)
        states.get(key) match {
          case Some(st) => st.insert(row); Nil
          case None if isPartial && states.size >= maxKeys =>
            row.copy() :: Nil // state bound hit: defer to the final phase
          case None =>
            val st = newState()
            st.insert(row)
            states(key.copy()) = st
            Nil
        }
      }
      // ++ is lazy in its right operand: states drain only after the
      // input (and thus every state update) is exhausted
      passedThrough ++ states.valuesIterator.flatMap(_.drain)
    }, preservesPartitioning = true)
  }

  override protected def withNewChildInternal(c: SparkPlan): SparkPlan =
    copy(child = c)
}

/** User-facing API. */
object TopK {
  private def ensureStrategy(spark: SparkSession): Unit = {
    val exp = spark.experimental
    if (!exp.extraStrategies.contains(TopKPerKeyStrategy))
      exp.extraStrategies = exp.extraStrategies :+ TopKPerKeyStrategy
  }

  /** Top `k` rows per `keys` group, "top" = first under `order`
    * ((column, descending?) pairs, ties broken by later entries).
    * `withTies = true` keeps every row tying the k-th (rank()'s
    * contract — deterministic even when the ordering isn't total).
    */
  def perKey(df: DataFrame, keys: Seq[String], order: Seq[(String, Boolean)],
      k: Int, withTies: Boolean = false): DataFrame =
    perKeyMode(df, keys, order, k,
      if (withTies) TopKMode.KPlusTies else TopKMode.ExactK)

  /** All rows of the `k` best DISTINCT order values per key —
    * dense_rank()'s contract.
    */
  def perKeyDistinct(df: DataFrame, keys: Seq[String],
      order: Seq[(String, Boolean)], k: Int): DataFrame =
    perKeyMode(df, keys, order, k, TopKMode.KDistinct)

  private def perKeyMode(df: DataFrame, keys: Seq[String],
      order: Seq[(String, Boolean)], k: Int, mode: TopKMode): DataFrame = {
    val spark = df.sparkSession
    ensureStrategy(spark)
    val sortOrder = order.map { case (name, desc) =>
      SortOrder(UnresolvedAttribute.quoted(name),
        if (desc) Descending else Ascending)
    }
    val node = TopKPerKeyNode(keys.map(UnresolvedAttribute.quoted),
      sortOrder, k, df.queryExecution.analyzed, mode)
    GraftSqlBridge.ofRows(spark, node)
  }
}
