package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, AttributeSet, Expression, GenericInternalRow, JoinedRow, RowOrdering, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.graftbridge.PlanBridge

/** Whole-operator extension path (SURVEY.md §7.4 path (c), the one the
  * builder prompt reserves for semantics Spark's operators can't
  * express directly): a first-class AS-OF JOIN as
  * logical node -> planner Strategy -> physical `AsOfJoinExec`.
  *
  * Contrast with `operators/AsOf.asofJoin` (union + carry-forward over
  * one window): that formulation materializes a unioned row set and
  * pays a window's full sort machinery. The planned operator instead
  * declares exactly what it needs from the engine —
  * `ClusteredDistribution` on the keys for BOTH children plus
  * (keys..., time) `requiredChildOrdering` — and then streams the two
  * co-partitioned sorted iterators through a single-pass merge with
  * O(1) state (the most recent right row per key). EnsureRequirements
  * inserts the exchanges/sorts only when the children aren't already
  * partitioned/sorted right, so an upstream bucketed or pre-sorted
  * table joins with NO extra shuffle — the property the union
  * formulation can never express.
  *
  * The logical node carries column NAMES, not Attributes: both sides
  * of an as-of join routinely share lineage (events vs events), and
  * the analyzer's relation deduplication rewrites the right child's
  * exprIds — attributes captured at construction would dangle (found
  * the hard way: ATTRIBUTE_NOT_FOUND under self-join + column
  * pruning). Names survive both dedup and pruning; `references` is
  * overridden so the optimizer keeps exactly the needed child columns,
  * and the Strategy resolves names to the (by then stable) child
  * attributes at planning time.
  *
  * Keys may be composite and of any orderable type; the merge
  * compares projected key tuples with Catalyst's natural ascending
  * ordering — the same order the engine sorts the children by, so the
  * two are consistent by construction. Key and time columns must have
  * identical types on both sides (checked at construction).
  */
case class AsOfJoinNode(left: LogicalPlan, right: LogicalPlan,
    keys: Seq[String], leftTime: String, rightTime: String,
    payload: Seq[String]) extends BinaryNode {

  /** Exact-name match first, else a UNIQUE case-insensitive match
    * (Spark's default resolution is case-insensitive); ambiguity —
    * duplicate names on one side — resolves to None so analysis
    * fails loudly instead of silently binding the first column.
    */
  private def byName(side: LogicalPlan, n: String): Option[Attribute] = {
    val exact = side.output.filter(_.name == n)
    val ci =
      if (exact.nonEmpty) exact
      else side.output.filter(_.name.equalsIgnoreCase(n))
    if (ci.length == 1) ci.headOption else None
  }

  def leftKeyAttrs: Seq[Attribute] = keys.map(byName(left, _).get)
  def rightKeyAttrs: Seq[Attribute] = keys.map(byName(right, _).get)
  def leftTimeAttr: Attribute = byName(left, leftTime).get
  def rightTimeAttr: Attribute = byName(right, rightTime).get
  def payloadAttrs: Seq[Attribute] = payload.map(byName(right, _).get)

  override lazy val resolved: Boolean = childrenResolved &&
    keys.forall(k => byName(left, k).isDefined &&
      byName(right, k).isDefined) &&
    byName(left, leftTime).isDefined &&
    byName(right, rightTime).isDefined &&
    payload.forall(byName(right, _).isDefined)

  override def output: Seq[Attribute] =
    left.output ++ payloadAttrs.map(_.withNullability(true))

  /** Column pruning must keep the key/time/payload child columns even
    * though they appear nowhere above as expressions.
    */
  override def references: AttributeSet = AttributeSet(
    leftKeyAttrs ++ rightKeyAttrs ++
      Seq(leftTimeAttr, rightTimeAttr) ++ payloadAttrs)

  override protected def withNewChildrenInternal(newLeft: LogicalPlan,
      newRight: LogicalPlan): AsOfJoinNode =
    copy(left = newLeft, right = newRight)
}

/** Plans [[AsOfJoinNode]]; injected via `GraftExtensions`
  * (injectPlannerStrategy) or `session.experimental.extraStrategies`.
  */
object AsOfJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case n: AsOfJoinNode =>
      AsOfJoinExec(planLater(n.left), planLater(n.right),
        n.leftKeyAttrs, n.rightKeyAttrs, n.leftTimeAttr,
        n.rightTimeAttr, n.payloadAttrs) :: Nil
    case _ => Nil
  }
}

/** Co-partitioned sort-merge as-of join: for each left row, the most
  * recent right row with the same key tuple and rightTime <= leftTime.
  * Single forward pass per partition, O(1) held state.
  */
case class AsOfJoinExec(left: SparkPlan, right: SparkPlan,
    leftKeys: Seq[Attribute], rightKeys: Seq[Attribute],
    leftTime: Attribute, rightTime: Attribute,
    payload: Seq[Attribute]) extends BinaryExecNode {

  override def output: Seq[Attribute] =
    left.output ++ payload.map(_.withNullability(true))

  override def requiredChildDistribution: Seq[Distribution] =
    Seq(ClusteredDistribution(leftKeys),
      ClusteredDistribution(rightKeys))

  override def requiredChildOrdering: Seq[Seq[SortOrder]] =
    Seq((leftKeys :+ leftTime).map(SortOrder(_, Ascending)),
      (rightKeys :+ rightTime).map(SortOrder(_, Ascending)))

  override def outputPartitioning = left.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = left.outputOrdering

  override lazy val metrics = Map(
    "numOutputRows" -> org.apache.spark.sql.execution.metric.SQLMetrics
      .createMetric(sparkContext, "number of output rows"),
    "numMatched" -> org.apache.spark.sql.execution.metric.SQLMetrics
      .createMetric(sparkContext, "number of matched rows"))

  protected override def doExecute(): RDD[InternalRow] = {
    val numOutputRows = longMetric("numOutputRows")
    val numMatched = longMetric("numMatched")
    val leftOut = left.output
    val rightOut = right.output
    val lks = leftKeys.map(e => e: Expression)
    val rks = rightKeys.map(e => e: Expression)
    val lt: Expression = leftTime
    val rt: Expression = rightTime
    val keyTypes = leftKeys.map(_.dataType)
    val timeType = leftTime.dataType
    val pay = payload
    val outAttrs = output
    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      val lkProj = UnsafeProjection.create(lks, leftOut)
      val rkProj = UnsafeProjection.create(rks, rightOut)
      val ltProj = UnsafeProjection.create(Seq(lt), leftOut)
      val rtProj = UnsafeProjection.create(Seq(rt), rightOut)
      val payProj = UnsafeProjection.create(pay.map(e => e: Expression),
        rightOut)
      // the SAME ascending-nulls-first order the engine sorted by
      val keyOrd = RowOrdering.createNaturalAscendingOrdering(keyTypes)
      val timeOrd =
        RowOrdering.createNaturalAscendingOrdering(Seq(timeType))
      val nullPay = new GenericInternalRow(pay.size)
      val joined = new JoinedRow
      // bind the payload slots NULLABLE: the right-side attrs are
      // non-nullable, but unmatched left rows read a null-filled
      // payload row — binding with the original nullability makes
      // codegen skip the null check and read 0 instead of NULL
      // (caught by PlannedAsOfPropertySpec)
      val outProj = UnsafeProjection.create(
        outAttrs.map(e => e: Expression),
        leftOut ++ pay.map(_.withNullability(true)))
      // right lookahead (not yet consumed into the held state)
      var rValid = false
      var rKey: InternalRow = null
      var rTs: InternalRow = null
      var rRow: InternalRow = null
      // most recent right row already consumed, and its key
      var heldValid = false
      var heldKey: InternalRow = null
      var held: InternalRow = nullPay
      def advanceRight(): Unit = {
        rValid = false
        while (!rValid && rIter.hasNext) {
          val r = rIter.next()
          val k = rkProj(r)
          val ts = rtProj(r)
          if (!k.anyNull && !ts.isNullAt(0)) {
            rKey = k.copy(); rTs = ts.copy(); rRow = r
            rValid = true
          } // null key/time can never match — skip
        }
      }
      advanceRight()
      new Iterator[InternalRow] {
        override def hasNext: Boolean = lIter.hasNext
        override def next(): InternalRow = {
          val l = lIter.next()
          val k = lkProj(l)
          val ts = ltProj(l)
          numOutputRows += 1
          if (k.anyNull || ts.isNullAt(0))
            outProj(joined(l, nullPay))
          else {
            while (rValid && {
              val c = keyOrd.compare(rKey, k)
              c < 0 || (c == 0 && timeOrd.compare(rTs, ts) <= 0)
            }) {
              if (keyOrd.compare(rKey, k) == 0) {
                held = payProj(rRow).copy() // iterator reuses rows
                heldKey = rKey
                heldValid = true
              }
              advanceRight()
            }
            val p = if (heldValid && keyOrd.compare(heldKey, k) == 0) {
              numMatched += 1
              held
            } else nullPay
            outProj(joined(l, p))
          }
        }
      }
    }
  }

  override protected def withNewChildrenInternal(newLeft: SparkPlan,
      newRight: SparkPlan): AsOfJoinExec =
    copy(left = newLeft, right = newRight)
}

/** DataFrame API over the planned operator. */
object PlannedAsOf {

  /** As-of join `left` with `right` on composite key/time columns; the
    * strategy is installed on the session if missing. Key and time
    * columns must have identical types on both sides; time must be an
    * orderable atomic type.
    */
  def asofJoin(left: DataFrame, right: DataFrame, keys: Seq[String],
      leftTime: String, rightTime: String,
      payload: Seq[String]): DataFrame = {
    val spark = left.sparkSession
    PlanBridge.install(spark, AsOfJoinStrategy)
    val lPlan = PlanBridge.analyzed(left)
    val rPlan = PlanBridge.analyzed(right)
    def attr(p: LogicalPlan, n: String): Attribute = {
      val exact = p.output.filter(_.name == n)
      val ci = if (exact.nonEmpty) exact
        else p.output.filter(_.name.equalsIgnoreCase(n))
      if (ci.length > 1) throw new IllegalArgumentException(
        s"column $n is ambiguous (${ci.length} matches)")
      ci.headOption.getOrElse(
        throw new IllegalArgumentException(s"column $n not found"))
    }
    keys.foreach { k =>
      val (la, ra) = (attr(lPlan, k), attr(rPlan, k))
      require(la.dataType == ra.dataType,
        s"asof key $k type mismatch: ${la.dataType} vs ${ra.dataType}")
    }
    require(attr(lPlan, leftTime).dataType ==
      attr(rPlan, rightTime).dataType,
      s"asof time type mismatch: ${attr(lPlan, leftTime).dataType} " +
        s"vs ${attr(rPlan, rightTime).dataType}")
    payload.foreach(attr(rPlan, _))
    PlanBridge.ofRows(spark,
      AsOfJoinNode(lPlan, rPlan, keys, leftTime, rightTime, payload))
  }

  /** Single-key convenience overload. */
  def asofJoin(left: DataFrame, right: DataFrame, key: String,
      leftTime: String, rightTime: String,
      payload: Seq[String]): DataFrame =
    asofJoin(left, right, Seq(key), leftTime, rightTime, payload)
}
