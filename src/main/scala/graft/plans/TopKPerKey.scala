package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkStrategy
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, Descending, Expression, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateOrdering
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, UnspecifiedDistribution}
import org.apache.spark.sql.execution.{SparkPlan, UnaryExecNode}

/** Per-key top-k as a first-class operator — the (c)-tier extension of the
  * build plan (custom LogicalPlan + SparkStrategy + SparkPlan): stock
  * Spark CAN express per-key top-k (`row_number` over a window + filter,
  * w1's shape) but cannot execute it efficiently — the window sorts every
  * key group in full, O(n log n) per partition plus a sort buffer of the
  * whole input, to keep k rows. This operator keeps a bounded heap per key
  * instead: O(n log k) compares, memory k·|keys| rows, and — unlike the
  * window — a PARTIAL pass before the exchange, so only ≤ k rows per
  * (partition, key) ever shuffle. At 100 TB with k=3 that turns a
  * corpus-sized sort-exchange into a keys-sized one.
  *
  * Planning shape (mirrors two-phase aggregation):
  * {{{
  *   TopKPerKeyExec(final)            requires ClusteredDistribution(keys)
  *     +- ShuffleExchange(keys)       inserted by EnsureRequirements
  *        +- TopKPerKeyExec(partial)  bounded heaps, map-side
  *           +- child
  * }}}
  * Output rows per key are NOT globally ordered (callers sort if they
  * care); the kept SET is exactly the window formulation's when the
  * ordering is total (tie-break on a unique column), which TopKSpec pins.
  */
case class TopKPerKeyNode(k: Int, keys: Seq[Expression], order: Seq[SortOrder],
                          child: LogicalPlan) extends UnaryNode {
  require(k > 0, s"k must be positive, got $k")
  override def output: Seq[Attribute] = child.output
  override protected def withNewChildInternal(newChild: LogicalPlan): TopKPerKeyNode =
    copy(child = newChild)
}

case class TopKPerKeyExec(k: Int, keys: Seq[Expression], order: Seq[SortOrder],
                          partial: Boolean, child: SparkPlan) extends UnaryExecNode {
  override def output: Seq[Attribute] = child.output

  override def requiredChildDistribution: Seq[Distribution] =
    if (partial) Seq(UnspecifiedDistribution)
    else Seq(ClusteredDistribution(keys))

  // Row pruning never moves rows: the partial phase keeps its child's
  // partitioning, the final phase keeps the exchange's hash partitioning —
  // so a downstream groupBy on the same keys reuses it shuffle-free.
  override def outputPartitioning = child.outputPartitioning

  override protected def withNewChildInternal(newChild: SparkPlan): TopKPerKeyExec =
    copy(child = newChild)

  /** Memory model: the heap map holds k rows per DISTINCT KEY seen in the
    * partition. The PARTIAL phase sees arbitrary key cardinality, so it
    * caps the map at `spark.graft.topk.maxPartialKeys` entries — over-cap
    * keys' rows PASS THROUGH unpruned (correctness-neutral: partial
    * pruning is an optimization; the final phase prunes exactly). The
    * FINAL phase holds only this hash partition's share of the key space
    * (keys/numShufflePartitions · k rows) — the same working-set bound as
    * a hash aggregation over the keys, and strictly less than the window
    * formulation's full-partition sort buffer.
    */
  override protected def doExecute(): RDD[InternalRow] = {
    val kLocal = k
    val keyExprs = keys
    val sortOrder = order
    val childOutput = child.output
    val maxPartialKeys =
      if (partial) conf.getConfString("spark.graft.topk.maxPartialKeys", "4194304").toInt
      else Int.MaxValue
    child.execute().mapPartitions { iter =>
      // Identity projection normalizes whatever row class the child emits
      // to UnsafeRow (cached relations can emit other InternalRows).
      val toUnsafe = UnsafeProjection.create(childOutput, childOutput)
      val keyProj = UnsafeProjection.create(keyExprs, childOutput)
      // ord orders "better first" (the caller's ORDER BY); the heap is a
      // worst-first priority queue so eviction peeks the current loser.
      val ord = GenerateOrdering.generate(sortOrder, childOutput)
      val worstFirst = new java.util.Comparator[UnsafeRow] {
        override def compare(a: UnsafeRow, b: UnsafeRow): Int = ord.compare(b, a)
      }
      val heaps = new java.util.HashMap[UnsafeRow, java.util.PriorityQueue[UnsafeRow]]()
      // Lazy interleaving iterator: over-cap rows are emitted as they
      // arrive (no buffering), heap contents drain after input exhausts.
      new Iterator[InternalRow] {
        private var passThrough: UnsafeRow = null
        private var drain: Iterator[UnsafeRow] = null
        private def advance(): Unit = {
          while (passThrough == null && iter.hasNext) {
            val row = toUnsafe(iter.next())
            val key = keyProj(row)
            var heap = heaps.get(key)
            if (heap == null && heaps.size < maxPartialKeys) {
              heap = new java.util.PriorityQueue[UnsafeRow](kLocal + 1, worstFirst)
              heaps.put(key.copy(), heap)
            }
            if (heap == null) passThrough = row // over cap: emit unpruned
            else if (heap.size < kLocal) heap.add(row.copy())
            else if (ord.compare(row, heap.peek()) < 0) {
              heap.poll()
              heap.add(row.copy())
            }
          }
        }
        override def hasNext: Boolean = {
          advance()
          if (passThrough != null) true
          else {
            if (drain == null && !iter.hasNext) {
              import scala.jdk.CollectionConverters._
              drain = heaps.values.asScala.iterator.flatMap(_.iterator.asScala)
            }
            drain != null && drain.hasNext
          }
        }
        override def next(): InternalRow = {
          if (!hasNext) throw new NoSuchElementException
          if (passThrough != null) { val r = passThrough; passThrough = null; r }
          else drain.next()
        }
      }
    }
  }
}

object TopKPerKeyStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case TopKPerKeyNode(k, keys, order, child) =>
      TopKPerKeyExec(k, keys, order, partial = false,
        TopKPerKeyExec(k, keys, order, partial = true, planLater(child))) :: Nil
    case _ => Nil
  }
}

object TopK {
  /** Keep the top `k` rows per key group under `orderBy` — (column name,
    * descending?) pairs, best-first; include a unique tie-break column for
    * a deterministic kept set. Plans through [[TopKPerKeyStrategy]], which
    * `graft.functions.GraftExtensions` registers.
    */
  def perKey(df: DataFrame, keyCols: Seq[String], orderBy: Seq[(String, Boolean)],
             k: Int): DataFrame = {
    val spark = df.sparkSession
      .asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val analyzed = df.queryExecution.analyzed
    def attr(name: String): Attribute = {
      val matches = analyzed.output.filter(_.name == name)
      if (matches.isEmpty) throw new IllegalArgumentException(
        s"column $name not in ${analyzed.output.map(_.name).mkString(", ")}")
      // Duplicate names would silently bind the first match — refuse.
      if (matches.size > 1) throw new IllegalArgumentException(
        s"column $name is ambiguous (${matches.size} matches) — rename inputs first")
      matches.head
    }
    val keys = keyCols.map(attr)
    val order = orderBy.map { case (name, desc) =>
      SortOrder(attr(name), if (desc) Descending else Ascending)
    }
    org.apache.spark.sql.graft.Bridge.ofRows(
      spark, TopKPerKeyNode(k, keys, order, analyzed))
  }
}
