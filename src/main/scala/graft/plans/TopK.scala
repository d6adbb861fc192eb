package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, AttributeSet, Descending, Expression, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateOrdering
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning, UnspecifiedDistribution}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}

/** Per-key top-k as a FIRST-CLASS operator: logical node → optimizer rule →
  * planner strategy → two-phase physical execution, registered through
  * `SparkSessionExtensions` ([[graft.GraftExtensions]]) — the full custom-
  * operator path for semantics Spark's built-ins only approximate.
  *
  * The built-in formulation (`row_number() OVER (PARTITION BY k ORDER BY o)
  * <= K`) SORTS every group's full row set inside each shuffle partition and
  * ships EVERY row through the exchange. This operator keeps a bounded
  * k-element heap per key, per input partition (partial phase), ships at
  * most k rows per (key, partition) through the exchange, and merges heaps
  * on the reduce side (final phase) — the aggregation-style partial/final
  * split applied to top-k, which is associative exactly like a partial sum.
  * At 100 TB the exchange carries O(keys·k·partitions), not O(rows).
  *
  * The ordering must be a TOTAL order (include a unique tiebreaker) for
  * deterministic results — same contract as every ranked query in this
  * library.
  */
object TopK {

  /** Logical marker node: "the first `k` rows of each `keys`-group under
    * `order`". Output = child output (row-preserving, row-filtering). */
  final case class TopKPerKeyNode(keys: Seq[Expression], order: Seq[SortOrder],
                                  k: Int, child: LogicalPlan) extends UnaryNode {
    require(k > 0, s"top-k needs k > 0, got $k")
    override def output: Seq[Attribute] = child.output
    override def maxRows: Option[Long] = child.maxRows
    override protected def withNewChildInternal(newChild: LogicalPlan): TopKPerKeyNode =
      copy(child = newChild)
  }

  /** A Filter over key columns only commutes with per-key top-k (it drops
    * whole groups, never reorders within one) — pushing it below the top-k
    * lets it keep sinking toward the scan, where it belongs.
    *
    * Sound only against keys that ARE bare attributes: for a derived key
    * (`a % 2`) a filter on `a` does NOT drop whole groups — it removes
    * group MEMBERS, changing which rows are the group's top-k — so the
    * old references-of-keys test (which accepted `a` because the derived
    * key referenced it) silently changed query results. */
  object PushFilterThroughTopK extends Rule[LogicalPlan] {
    override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
      case f @ Filter(cond, t: TopKPerKeyNode)
          if cond.references.subsetOf(
              AttributeSet(t.keys.collect { case a: Attribute => a }))
            && cond.deterministic =>
        t.copy(child = Filter(cond, t.child))
    }
  }

  /** Plans the logical node as partial(map-side) → [exchange inserted by
    * EnsureRequirements] → final(reduce-side). */
  object TopKStrategy extends SparkStrategy {
    override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
      case TopKPerKeyNode(keys, order, k, child) =>
        val partial = TopKPerKeyExec(keys, order, k, partial = true,
          planLater(child))
        TopKPerKeyExec(keys, order, k, partial = false, partial) :: Nil
      case _ => Nil
    }
  }

  /** Physical per-key bounded-heap top-k. `partial = true` runs on whatever
    * partitioning the child has (map-side pre-reduction); the final node
    * declares `ClusteredDistribution(keys)`, so EnsureRequirements inserts
    * the hash exchange between the two — the partial/final contract of
    * HashAggregateExec, reused for rank semantics.
    *
    * MEMORY ENVELOPE (deliberate, unspilled): each task holds one
    * ≤k-element heap per distinct key seen in its partition — O(distinct
    * keys in partition × k) copied UnsafeRows outside the
    * TaskMemoryManager, with no spill path. That is the right trade for
    * the operator's target shape (modest key cardinality per partition ×
    * huge row counts — the case where the window formulation ships and
    * sorts EVERY row); for extreme per-partition key cardinality where k
    * rows/key ≈ all rows (top-k degenerating to a full pass-through),
    * the spilling row_number window formulation is the right tool —
    * the partial phase cannot reduce what has nothing to drop. */
  final case class TopKPerKeyExec(keys: Seq[Expression], order: Seq[SortOrder],
                                  k: Int, partial: Boolean, child: SparkPlan)
      extends UnaryExecNode {
    override def output: Seq[Attribute] = child.output
    override def outputPartitioning: Partitioning = child.outputPartitioning
    override def requiredChildDistribution: Seq[Distribution] =
      if (partial) UnspecifiedDistribution :: Nil
      else ClusteredDistribution(keys) :: Nil
    override protected def withNewChildInternal(newChild: SparkPlan): TopKPerKeyExec =
      copy(child = newChild)

    override protected def doExecute(): RDD[InternalRow] = {
      val keyExprs = keys
      val sortExprs = order
      val limit = k
      val childOutput = child.output
      child.execute().mapPartitions({ iter =>
        val keyProj = UnsafeProjection.create(keyExprs, childOutput)
        val rowOrd = GenerateOrdering.generate(sortExprs, childOutput)
        // max-heap on the sort order: the queue head is the WORST retained
        // row; a new row enters only by beating it. k is a small constant,
        // so per-key memory is bounded regardless of group size.
        val worstFirst = new java.util.Comparator[UnsafeRow] {
          override def compare(a: UnsafeRow, b: UnsafeRow): Int =
            rowOrd.compare(b, a)
        }
        val heaps =
          new java.util.HashMap[UnsafeRow, java.util.PriorityQueue[UnsafeRow]]()
        iter.foreach { row =>
          val key = keyProj(row)
          var heap = heaps.get(key)
          if (heap == null) {
            heap = new java.util.PriorityQueue[UnsafeRow](limit, worstFirst)
            heaps.put(key.copy(), heap)
          }
          if (heap.size() < limit) {
            heap.add(row.asInstanceOf[UnsafeRow].copy())
          } else if (rowOrd.compare(row, heap.peek()) < 0) {
            heap.poll()
            heap.add(row.asInstanceOf[UnsafeRow].copy())
          }
        }
        import scala.jdk.CollectionConverters._
        heaps.values().iterator().asScala.flatMap(_.iterator().asScala)
      }, preservesPartitioning = true)
    }
  }

  /** DataFrame-level API: first `k` rows per `keys` group under `orderBy`
    * (`(name, ascending)` pairs; nulls-first when ascending, nulls-last when
    * descending — the window default, so results interchange with the
    * row_number formulation). Requires [[graft.GraftExtensions]] on the
    * session (injects [[TopKStrategy]]). */
  def perKey(df: DataFrame, keys: Seq[String],
             orderBy: Seq[(String, Boolean)], k: Int): DataFrame = {
    // Empty keys would reach Spark's own ClusteredDistribution(Nil)
    // require — an internals message far from this call site. Global
    // top-k is TakeOrderedAndProject (orderBy + limit), not this node.
    require(keys.nonEmpty,
      "TopK.perKey needs at least one key column; for GLOBAL top-k use " +
        "orderBy(...).limit(k) (TakeOrderedAndProject)")
    val plan = df.queryExecution.analyzed
    def attr(n: String): Attribute = plan.output.find(_.name == n).getOrElse(
      throw new IllegalArgumentException(
        s"column $n not in ${plan.output.map(_.name).mkString(", ")}"))
    // Float/double grouping keys are normalized (−0.0 → 0.0 via `+ 0.0`,
    // NaN bit patterns canonicalized via NaNvl): the custom node sits
    // outside Spark's NormalizeFloatingNumbers rule, so un-normalized
    // keys would split one logical group across exchange partitions AND
    // byte-equality HashMap buckets — up to 2k rows for the single key
    // 0.0, diverging from the row_number window formulation this
    // operator documents as interchangeable. (Emitted ROWS are the
    // child's rows, untouched — only the grouping projection normalizes.)
    import org.apache.spark.sql.catalyst.expressions.{Add, Literal, NaNvl}
    import org.apache.spark.sql.types.{DoubleType, FloatType}
    def keyExpr(n: String): Expression = {
      val a = attr(n)
      a.dataType match {
        case DoubleType => NaNvl(Add(a, Literal(0.0)), Literal(Double.NaN))
        case FloatType => NaNvl(Add(a, Literal(0.0f)), Literal(Float.NaN))
        case _ => a
      }
    }
    val order = orderBy.map { case (n, asc) =>
      SortOrder(attr(n), if (asc) Ascending else Descending)
    }
    org.apache.spark.sql.graft.Bridge.ofRows(df.sparkSession,
      TopKPerKeyNode(keys.map(keyExpr), order, k, plan))
  }
}
