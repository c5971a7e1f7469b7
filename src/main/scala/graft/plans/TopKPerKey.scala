package graft.plans

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkEnv
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, Descending, Expression, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateOrdering
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode, UnsafeExternalRowSorter}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{StructField, StructType}
import org.apache.spark.util.collection.unsafe.sort.PrefixComparators

/** Whole-operator extension point (SURVEY §7.3 option c): per-key top-k as
  * a first-class physical operator.
  *
  * The built-in spelling — `row_number() over (partition by key order by
  * o) <= k` — plans as Exchange + FULL SORT of every partition + window +
  * filter: at 100 TB the sort is O(n log n) per partition and must
  * materialize/spill ALL rows per key before ranking. This operator keeps
  * a bounded k-row heap per key (O(n log k) comparisons, O(#keys·k)
  * memory, nothing spilled), consuming the exchange output directly with
  * NO sort — the same declared distribution (`ClusteredDistribution` on
  * the keys) lets the planner reuse any existing hash partitioning.
  *
  * Semantics: exactly the rows `row_number() <= k` would keep, PROVIDED
  * the ordering is total (callers append a unique tiebreak column, as all
  * engine queries already do for determinism). Equality with the window
  * form is proved in `TopKSpec`; the no-Sort plan shape in `PlanAuditSpec`.
  */
case class TopKPerKey(keys: Seq[Expression], order: Seq[SortOrder], k: Int,
    child: LogicalPlan) extends UnaryNode {
  require(k > 0, s"k must be positive, got $k")
  override def output: Seq[Attribute] = child.output
  override protected def withNewChildInternal(newChild: LogicalPlan): TopKPerKey =
    copy(child = newChild)
}

/** Physical operator: hash-map of bounded max-heaps (heap head = the
  * worst kept row; a new row replaces it iff it sorts strictly earlier).
  *
  * Spill safety: the heap map is O(#distinct-keys-per-partition × k) rows
  * on-heap — fine for the operator's design case (few keys, huge groups),
  * but for a high-cardinality key it would replace a sort that CAN spill
  * with a map that can't. The map is therefore byte-tracked
  * (`spark.graft.topk.spillBytes`, default 32 MB/partition, measured as
  * ESTIMATED ON-HEAP bytes: UnsafeRow payload plus per-row/per-key JVM
  * object overhead — headers, map entries, heap wrappers — which
  * dominates payload for narrow rows); past the budget the partition
  * degrades to sort-based top-k over Spark's UnsafeExternalRowSorter —
  * the held rows and the rest of the input feed a spillable
  * (key asc, order) sort, and a group-scan emits the first k rows per
  * key. Same rows either way; only the memory ceiling differs. Proved by
  * `TopKSpec` (row equality both modes); the 20M-distinct-key run under
  * a 1 GB JVM is recorded in SURVEY §8 ("spill-safe TopKPerKey").
  */
case class TopKPerKeyExec(keys: Seq[Expression], order: Seq[SortOrder], k: Int,
    child: SparkPlan) extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output
  override def outputPartitioning: Partitioning = child.outputPartitioning
  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(keys) :: Nil

  protected override def doExecute(): RDD[InternalRow] = {
    val kLocal = k
    val keysLocal = keys
    val orderLocal = order
    val childOutput = child.output
    val schema = StructType(
      childOutput.map(a => StructField(a.name, a.dataType, a.nullable)))
    val budgetBytes = conf
      .getConfString("spark.graft.topk.spillBytes", (32L << 20).toString).toLong
    child.execute().mapPartitions { iter =>
      val keyProj = UnsafeProjection.create(keysLocal, childOutput)
      val toUnsafe = UnsafeProjection.create(childOutput, childOutput)
      val ord: Ordering[InternalRow] = GenerateOrdering.generate(orderLocal, childOutput)
      val ordUnsafe: Ordering[UnsafeRow] = ord.on[UnsafeRow](identity)
      val heaps = new java.util.HashMap[InternalRow, mutable.PriorityQueue[UnsafeRow]]()
      var heldBytes = 0L
      var overBudget = false

      def asUnsafe(row: InternalRow): UnsafeRow = row match {
        case u: UnsafeRow => u
        case other => toUnsafe(other)
      }

      while (iter.hasNext && !overBudget) {
        val row = asUnsafe(iter.next())
        val key = keyProj(row)
        var heap = heaps.get(key)
        if (heap == null) {
          heap = mutable.PriorityQueue.empty[UnsafeRow](ordUnsafe)
          val keyCopy = key.copy()
          heaps.put(keyCopy, heap)
          heldBytes += keyCopy.getSizeInBytes + TopKPerKeyExec.KeyOverhead
        }
        if (heap.size < kLocal) {
          val kept = row.copy()
          heap.enqueue(kept)
          heldBytes += kept.getSizeInBytes + TopKPerKeyExec.RowOverhead
        } else if (ord.compare(row, heap.head) < 0) {
          heldBytes -= heap.dequeue().getSizeInBytes + TopKPerKeyExec.RowOverhead
          val kept = row.copy()
          heap.enqueue(kept)
          heldBytes += kept.getSizeInBytes + TopKPerKeyExec.RowOverhead
        }
        overBudget = heldBytes > budgetBytes
      }

      if (!overBudget) {
        heaps.values().iterator().asScala.flatMap(_.dequeueAll.iterator)
      } else {
        // Degrade: spillable external sort on (key asc, order), then emit
        // the first k rows of each key group. The heaps' contents are a
        // lossless subset of the input seen so far (only rows provably
        // outside the per-key top-k were dropped), so re-sorting held +
        // remaining rows reproduces exactly the window-spelling result.
        val sortOrderFull = keysLocal.map(SortOrder(_, Ascending)) ++ orderLocal
        val ordFull: Ordering[InternalRow] =
          GenerateOrdering.generate(sortOrderFull, childOutput)
        val prefixComputer = new UnsafeExternalRowSorter.PrefixComputer {
          private val zero = new UnsafeExternalRowSorter.PrefixComputer.Prefix
          override def computePrefix(row: InternalRow) = {
            zero.value = 0L; zero.isNull = false; zero
          }
        }
        val sorter = UnsafeExternalRowSorter.create(schema, ordFull,
          PrefixComparators.LONG, prefixComputer,
          SparkEnv.get.memoryManager.pageSizeBytes, false)
        val heapIt = heaps.values().iterator()
        while (heapIt.hasNext) heapIt.next().foreach(sorter.insertRow)
        heaps.clear()
        // insertRow copies record bytes into sorter pages — no row.copy()
        while (iter.hasNext) sorter.insertRow(asUnsafe(iter.next()))
        var curKey: UnsafeRow = null
        var emitted = 0
        sorter.sort().flatMap { row =>
          val key = keyProj(row)
          if (curKey == null || key != curKey) { curKey = key.copy(); emitted = 0 }
          emitted += 1
          if (emitted <= kLocal) Iterator.single(row) else Iterator.empty
        }
      }
    }
  }

  override protected def withNewChildInternal(newChild: SparkPlan): TopKPerKeyExec =
    copy(child = newChild)
}

object TopKPerKeyExec {
  /** Estimated JVM overhead per kept row beyond UnsafeRow payload (object
    * header + heap-array slot + reference).
    */
  val RowOverhead = 64L
  /** Estimated JVM overhead per distinct key (HashMap entry + key row
    * object + PriorityQueue instance with its initial backing array).
    */
  val KeyOverhead = 200L
}

/** Planner strategy mapping the logical node to its physical operator;
  * injected via `GraftExtensions.injectPlannerStrategy`.
  */
class GraftStrategies extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case TopKPerKey(keys, order, k, child) =>
      TopKPerKeyExec(keys, order, k, planLater(child)) :: Nil
    case _ => Nil
  }
}

/** DataFrame-facing API for the operator. */
object TopK {

  /** Floating-point keys are normalized (-0.0 → 0.0, any NaN bit pattern
    * → the canonical NaN) before they reach the operator, mirroring what
    * Spark's NormalizeFloatingNumbers rule does for groupBy/join/window
    * keys. Without this, ordering-equal but byte-distinct keys would (a)
    * hash to different exchange partitions, (b) occupy separate heaps in
    * heap mode, and (c) interleave in the spill-fallback's sorted stream,
    * resetting the group scan's `emitted` counter and emitting more than
    * k rows per logical key — all diverging from the window spelling.
    * `x + 0.0` is the IEEE identity except on -0.0 (where it yields +0.0);
    * the IsNaN branch pins every NaN payload to one literal.
    */
  private def normalizeKey(e: Expression): Expression = {
    import org.apache.spark.sql.catalyst.expressions.{Add, If, IsNaN, Literal}
    import org.apache.spark.sql.types.{DoubleType, FloatType}
    e.dataType match {
      case DoubleType => If(IsNaN(e), Literal(Double.NaN), Add(e, Literal(0.0)))
      case FloatType  => If(IsNaN(e), Literal(Float.NaN), Add(e, Literal(0.0f)))
      case _ => e
    }
  }

  /** Keep the first `k` rows of each key group under `order`
    * ((column, descending?) pairs — append a unique tiebreak for total
    * order). Requires a session built with `GraftExtensions` (the engine's
    * `Sessions` factories and the driver mains all are).
    */
  def perKey(df: DataFrame, keys: Seq[String], order: Seq[(String, Boolean)],
      k: Int): DataFrame = {
    val plan = Bridge.logicalPlan(df)
    def attr(n: String): Attribute = plan.output.find(_.name == n).getOrElse(
      throw new IllegalArgumentException(
        s"no column '$n' in ${plan.output.map(_.name).mkString(", ")}"))
    val sortOrder = order.map { case (n, desc) =>
      SortOrder(attr(n), if (desc) Descending else Ascending)
    }
    Bridge.ofRows(df.sparkSession,
      TopKPerKey(keys.map(n => normalizeKey(attr(n))), sortOrder, k, plan))
  }
}
