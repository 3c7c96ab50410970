package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, AttributeReference, AttributeSet, Descending, Expression, GenericInternalRow, JoinedRow, RowOrdering, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.graftbridge.PlanBridge
import org.apache.spark.sql.types.IntegerType

/** Planned GROUPED TOP-K — the second whole-operator extension
  * (SURVEY.md §7.4 path (c)): keep each key group's k best rows by a
  * (desc score, asc tiebreak) order, WITHOUT sorting anything.
  *
  * The declarative formulation Spark offers —
  * `row_number() OVER (PARTITION BY key ORDER BY score DESC) <= k` —
  * must SORT every partition by (key, score) before the window runs:
  * O(n log n) comparisons and a full spill-able sort buffer for rows
  * that are then almost all thrown away. This operator declares only
  * `ClusteredDistribution(keys)` (no required ordering!) and keeps a
  * bounded k-heap per key inside one hash map per partition:
  * O(n log k) comparisons, state O(distinct-keys-in-partition × k)
  * rows — the exact aggregate-buffer footprint a hash aggregate over
  * the same keys would hold. At 100 TB with k = 3 this is the
  * difference between shuffling-then-sorting every row and one
  * hash-partitioned streaming pass. (functions/TopKBy packs the same
  * idea into an aggregate VALUE; this operator is row-preserving —
  * the survivors come out as rows with a rank column, like the window
  * formulation users already write.)
  *
  * Column NAMES (not Attributes) in the logical node, for the same
  * self-join/dedup reasons as [[AsOfJoinNode]]; `references` keeps
  * the key/order columns alive through column pruning. NULL ordering
  * follows Spark's defaults for the declared directions (DESC ⇒
  * NULLS LAST, ASC tiebreak ⇒ NULLS FIRST), and rows whose KEY is
  * null form an ordinary group, exactly like the window formulation.
  */
case class GroupedTopKNode(child: LogicalPlan, keys: Seq[String],
    score: String, tiebreak: Seq[String], k: Int,
    // a FIELD, not a body val: copy()/transform must preserve the
    // exprId or every parent referencing `rank` dangles after the
    // optimizer clones the node
    rankAttr: Attribute =
      AttributeReference("rank", IntegerType, nullable = false)())
    extends UnaryNode {
  require(k >= 1, s"k must be >= 1, got $k")

  private def byName(n: String): Option[Attribute] = {
    val exact = child.output.filter(_.name == n)
    val ci = if (exact.nonEmpty) exact
      else child.output.filter(_.name.equalsIgnoreCase(n))
    if (ci.length == 1) ci.headOption else None
  }

  def keyAttrs: Seq[Attribute] = keys.map(byName(_).get)
  def scoreAttr: Attribute = byName(score).get
  def tiebreakAttrs: Seq[Attribute] = tiebreak.map(byName(_).get)

  override lazy val resolved: Boolean = childrenResolved &&
    keys.forall(byName(_).isDefined) && byName(score).isDefined &&
    tiebreak.forall(byName(_).isDefined)

  override def output: Seq[Attribute] = child.output :+ rankAttr

  override def references: AttributeSet = AttributeSet(child.output)

  override def producedAttributes: AttributeSet = AttributeSet(rankAttr)

  override protected def withNewChildInternal(newChild: LogicalPlan)
      : GroupedTopKNode = copy(child = newChild)
}

object GroupedTopKStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case n: GroupedTopKNode =>
      GroupedTopKExec(planLater(n.child), n.keyAttrs, n.scoreAttr,
        n.tiebreakAttrs, n.k, n.rankAttr) :: Nil
    case _ => Nil
  }
}

/** Hash-partitioned bounded-heap top-k per key. One streaming pass;
  * no SortExec anywhere in this operator's subtree requirement.
  */
case class GroupedTopKExec(child: SparkPlan, keys: Seq[Attribute],
    score: Attribute, tiebreak: Seq[Attribute], k: Int,
    rankAttr: Attribute) extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output :+ rankAttr

  override def producedAttributes: AttributeSet = AttributeSet(rankAttr)

  override def requiredChildDistribution: Seq[Distribution] =
    Seq(ClusteredDistribution(keys))

  override lazy val metrics = Map(
    "numOutputRows" -> org.apache.spark.sql.execution.metric.SQLMetrics
      .createMetric(sparkContext, "number of output rows"),
    "numGroups" -> org.apache.spark.sql.execution.metric.SQLMetrics
      .createMetric(sparkContext, "number of groups"))

  protected override def doExecute(): RDD[InternalRow] = {
    val numOutputRows = longMetric("numOutputRows")
    val numGroups = longMetric("numGroups")
    val childOut = child.output
    val keyExprs = keys.map(e => e: Expression)
    // (score DESC NULLS LAST, tiebreak... ASC NULLS FIRST) — the
    // identical order row_number() OVER (... ORDER BY score DESC,
    // tie) resolves to, so the two formulations agree row-for-row
    val sortOrders = SortOrder(score, Descending) +:
      tiebreak.map(SortOrder(_, Ascending))
    val kk = k
    val outAttrs = output
    child.execute().mapPartitions({ iter =>
      val keyProj = UnsafeProjection.create(keyExprs, childOut)
      val ord: Ordering[InternalRow] =
        RowOrdering.create(sortOrders, childOut)
      // per key: rows kept best-first; worst kicked on overflow.
      // k is tiny (top-k!), so an insertion-sorted ArrayBuffer beats
      // a heap's constant factor and keeps emission order free.
      val state = new java.util.HashMap[UnsafeRow,
        scala.collection.mutable.ArrayBuffer[InternalRow]]()
      iter.foreach { row =>
        val key = keyProj(row)
        var buf = state.get(key)
        if (buf == null) {
          buf = new scala.collection.mutable.ArrayBuffer[InternalRow](
            kk + 1)
          state.put(key.copy(), buf)
        }
        if (buf.length < kk || ord.compare(row, buf.last) < 0) {
          val copy = row.copy()
          var i = buf.length
          buf += copy // placeholder slot
          while (i > 0 && ord.compare(copy, buf(i - 1)) < 0) {
            buf(i) = buf(i - 1); i -= 1
          }
          buf(i) = copy
          if (buf.length > kk) buf.remove(kk)
        }
      }
      val rankRow = new GenericInternalRow(1)
      val joined = new JoinedRow
      val outProj = UnsafeProjection.create(
        outAttrs.map(e => e: Expression), childOut :+ rankAttr)
      val it = state.entrySet().iterator()
      new Iterator[InternalRow] {
        private var cur: Iterator[InternalRow] = Iterator.empty
        override def hasNext: Boolean = {
          while (!cur.hasNext && it.hasNext) {
            val buf = it.next().getValue
            numGroups += 1
            cur = buf.iterator.zipWithIndex.map { case (r, i) =>
              rankRow.setInt(0, i + 1)
              numOutputRows += 1
              outProj(joined(r, rankRow))
            }
          }
          cur.hasNext
        }
        override def next(): InternalRow = cur.next()
      }
    }, preservesPartitioning = true)
  }

  override protected def withNewChildInternal(newChild: SparkPlan)
      : GroupedTopKExec = copy(child = newChild)
}

/** DataFrame API over the planned operator. */
object PlannedTopK {

  /** Top-`k` rows per `keys` group by (`score` DESC, `tiebreak` ASC),
    * with a 1-based `rank` column appended. Installs the strategy on
    * the session if missing.
    */
  def topKPerKey(df: DataFrame, keys: Seq[String], score: String,
      tiebreak: Seq[String], k: Int): DataFrame = {
    val spark = df.sparkSession
    PlanBridge.install(spark, GroupedTopKStrategy)
    val plan = PlanBridge.analyzed(df)
    def check(n: String): Unit = {
      val m = plan.output.count(_.name.equalsIgnoreCase(n))
      require(m >= 1, s"column $n not found")
      require(m == 1 || plan.output.exists(_.name == n),
        s"column $n is ambiguous")
    }
    (keys :+ score).foreach(check)
    tiebreak.foreach(check)
    PlanBridge.ofRows(spark,
      GroupedTopKNode(plan, keys, score, tiebreak, k))
  }
}
