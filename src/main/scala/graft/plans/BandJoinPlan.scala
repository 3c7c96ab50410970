package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Abs, Add, Ascending, Attribute, AttributeSet, EqualTo, Expression, GreaterThanOrEqual, JoinedRow, LessThanOrEqual, Literal, RowOrdering, SortOrder, Subtract, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, Join, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution}
import org.apache.spark.sql.execution.{BinaryExecNode, FilterExec, SparkPlan, SparkStrategy}
import org.apache.spark.sql.graftbridge.PlanBridge
import org.apache.spark.sql.types.LongType

/** Planned INTERVAL (band) join — the second whole-operator extension
  * (SURVEY.md §7.4 path (c)), companion to [[AsOfJoinNode]]: for each
  * left row, every right row with the same key tuple and
  * `rightTime ∈ [leftTime − before, leftTime + after]` (inclusive).
  * Flink calls this the interval join; it is the general form behind
  * `RangeJoin.withinInterval`'s bucket-explode composition.
  *
  * Contrast with the composed operator: bucketing pays an explode
  * (×2 right-side rows), an exchange on (key, bucket) for BOTH sides
  * sized to the bucketed width, a post-filter, and a distinct to kill
  * duplicate orientations. The planned operator declares
  * `ClusteredDistribution(keys)` + (keys, time) ordering for both
  * children, and then a single forward merge sweep holds a sliding
  * buffer of right rows inside the band — bounded by band OCCUPANCY
  * (rows per key within before+after), not corpus size. Against
  * bucketed/pre-sorted inputs EnsureRequirements inserts NO exchange
  * at all, and there is no explode, no duplicate-kill distinct, and
  * no post-filter: every emitted pair is already exact.
  *
  * Same hard-won conventions as the as-of node: the logical node
  * carries column NAMES (self-join relation dedup rewrites exprIds),
  * `references` pins key/time/payload columns through column pruning,
  * and the strategy resolves names at planning time. Time columns
  * must be LongType on both sides (epoch seconds/micros — the
  * caller's choice of lattice); `before`/`after` are in the same
  * unit and must be ≥ 0.
  */
case class BandJoinNode(left: LogicalPlan, right: LogicalPlan,
    keys: Seq[String], leftTime: String, rightTime: String,
    before: Long, after: Long, payload: Seq[String],
    leftOuter: Boolean)
  extends BinaryNode {

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

  // inner: payload never null on an emitted row; left outer: an
  // unmatched left row emits once with a null-filled payload
  override def output: Seq[Attribute] =
    left.output ++ (if (leftOuter)
      payloadAttrs.map(_.withNullability(true)) else payloadAttrs)

  override def references: AttributeSet = AttributeSet(
    leftKeyAttrs ++ rightKeyAttrs ++
      Seq(leftTimeAttr, rightTimeAttr) ++ payloadAttrs)

  override protected def withNewChildrenInternal(newLeft: LogicalPlan,
      newRight: LogicalPlan): BandJoinNode =
    copy(left = newLeft, right = newRight)
}

/** Plans [[BandJoinNode]]; injected via `GraftExtensions` or
  * installed imperatively by [[PlannedBandJoin.bandJoin]].
  */
object BandJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case n: BandJoinNode =>
      BandJoinExec(planLater(n.left), planLater(n.right),
        n.leftKeyAttrs, n.rightKeyAttrs, n.leftTimeAttr,
        n.rightTimeAttr, n.before, n.after, n.payloadAttrs,
        n.leftOuter) :: Nil
    // hint = JoinHint.NONE only: a user-supplied strategy hint
    // (broadcast/merge/...) on an eligible interval join is an
    // explicit plan request — the sweep must not silently override it
    case j @ Join(l, r, Inner, Some(cond),
          org.apache.spark.sql.catalyst.plans.logical.JoinHint.NONE)
        if org.apache.spark.sql.internal.SQLConf.get
          .getConfString(BandJoinStrategy.SqlFlag, "false") == "true" =>
      BandJoinSqlMatch.matchJoin(l, r, cond) match {
        case Some((lk, rk, lt, rt, before, after, rest)) =>
          val exec = BandJoinExec(planLater(l), planLater(r),
            lk, rk, lt, rt, before, after, r.output,
            leftOuter = false)
          val out =
            if (rest.isEmpty) exec
            else FilterExec(rest.reduce(org.apache.spark.sql.catalyst
              .expressions.And), exec)
          out :: Nil
        case None => Nil
      }
    case _ => Nil
  }

  /** Opt-in flag for the plain-SQL interval-join rewrite
    * ([[BandJoinSqlMatch]]). Default OFF so installing the strategy
    * for the explicit API never changes other queries' plans; a
    * session that turns it on gets merge-sweep planning for every
    * eligible inner join (semantics-preserving — see the matcher's
    * doc), which is the production posture.
    */
  val SqlFlag = "spark.graft.sql.bandjoin"
}

/** Co-partitioned sort-merge band join. Single forward pass per
  * partition; held state = the right rows inside the band for the
  * CURRENT key (sliding buffer, evicted from the front as the left
  * time advances — bounded by per-key band occupancy).
  *
  * Safety of the two drops: a right row with key < current left key
  * can never match later (left keys only grow); a same-key right row
  * with time < leftTime − before is below every FUTURE left row's
  * lower bound too (left times only grow within a key). Rows already
  * buffered always satisfy the upper bound for later left rows of the
  * same key (they entered under an earlier, smaller leftTime + after),
  * so after front-eviction the whole buffer matches exactly — no
  * per-pair re-check needed at emit time.
  */
case class BandJoinExec(left: SparkPlan, right: SparkPlan,
    leftKeys: Seq[Attribute], rightKeys: Seq[Attribute],
    leftTime: Attribute, rightTime: Attribute,
    before: Long, after: Long, payload: Seq[Attribute],
    leftOuter: Boolean)
  extends BinaryExecNode {

  override def output: Seq[Attribute] =
    left.output ++ (if (leftOuter)
      payload.map(_.withNullability(true)) else payload)

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
    "maxBuffered" -> org.apache.spark.sql.execution.metric.SQLMetrics
      .createMetric(sparkContext,
        "buffered right rows (sum of per-task maxima)"))

  protected override def doExecute(): RDD[InternalRow] = {
    val numOutputRows = longMetric("numOutputRows")
    val maxBuffered = longMetric("maxBuffered")
    val leftOut = left.output
    val rightOut = right.output
    val lks = leftKeys.map(e => e: Expression)
    val rks = rightKeys.map(e => e: Expression)
    val lt: Expression = leftTime
    val rt: Expression = rightTime
    val keyTypes = leftKeys.map(_.dataType)
    val (bef, aft) = (before, after)
    val pay = payload
    val outer = leftOuter
    val outAttrs = output
    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      val lkProj = UnsafeProjection.create(lks, leftOut)
      val rkProj = UnsafeProjection.create(rks, rightOut)
      val ltProj = UnsafeProjection.create(Seq(lt), leftOut)
      val rtProj = UnsafeProjection.create(Seq(rt), rightOut)
      val payProj = UnsafeProjection.create(pay.map(e => e: Expression),
        rightOut)
      val keyOrd = RowOrdering.createNaturalAscendingOrdering(keyTypes)
      val joined = new JoinedRow
      // outer: bind payload slots NULLABLE or codegen skips the null
      // check on the null-filled row (the as-of join's hard lesson)
      val outProj = UnsafeProjection.create(
        outAttrs.map(e => e: Expression),
        leftOut ++ (if (outer) pay.map(_.withNullability(true))
          else pay))
      val nullPay =
        new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
          pay.size)
      // right lookahead
      var rValid = false
      var rKey: InternalRow = null
      var rTs = 0L
      var rRow: InternalRow = null
      def advanceRight(): Unit = {
        rValid = false
        while (!rValid && rIter.hasNext) {
          val r = rIter.next()
          val k = rkProj(r)
          val ts = rtProj(r)
          if (!k.anyNull && !ts.isNullAt(0)) {
            rKey = k.copy(); rTs = ts.getLong(0); rRow = r
            rValid = true
          }
        }
      }
      advanceRight()
      // sliding band buffer for the current key
      val bufTimes = new java.util.ArrayDeque[java.lang.Long]()
      val bufRows = new java.util.ArrayDeque[UnsafeRow]()
      var bufKey: InternalRow = null
      new Iterator[InternalRow] {
        private var pending: java.util.Iterator[UnsafeRow] =
          java.util.Collections.emptyIterator()
        private var curLeft: InternalRow = null
        private var emitNull = false
        private var localMax = 0L

        private def refill(): Unit = {
          while (!pending.hasNext && !emitNull && lIter.hasNext) {
            val l = lIter.next()
            val k = lkProj(l)
            val ts = ltProj(l)
            if (k.anyNull || ts.isNullAt(0)) {
              // a null key/time can never match: inner drops the row,
              // outer emits it once with a null payload
              if (outer) { curLeft = l.copy(); emitNull = true }
            } else {
              val t = ts.getLong(0)
            // saturating band edges: bef/aft >= 0 is validated, but a
            // time near Long.Max/Min would wrap t+aft / t-bef and
            // silently mis-admit or skip rows; clamping keeps the
            // mathematical band (epoch-time inputs never get close)
            val hi = { val s = t + aft; if (s < t) Long.MaxValue else s }
            val lo = { val s = t - bef; if (s > t) Long.MinValue else s }
              // key changed under the buffer -> stale rows
              if (bufKey != null && keyOrd.compare(bufKey, k) != 0) {
                bufTimes.clear(); bufRows.clear(); bufKey = null
              }
              // consume right side up to the band's upper edge
              while (rValid && {
                val c = keyOrd.compare(rKey, k)
                c < 0 || (c == 0 && rTs <= hi)
              }) {
                if (keyOrd.compare(rKey, k) == 0 && rTs >= lo) {
                  bufTimes.addLast(rTs)
                  bufRows.addLast(payProj(rRow).copy())
                  bufKey = rKey
                }
                advanceRight()
              }
              // evict below the band's lower edge
              while (!bufTimes.isEmpty && bufTimes.peekFirst() < lo) {
                bufTimes.removeFirst(); bufRows.removeFirst()
              }
              if (!bufRows.isEmpty) {
                if (bufRows.size > localMax) {
                  maxBuffered.add(bufRows.size - localMax)
                  localMax = bufRows.size
                }
                curLeft = l.copy()
                pending = bufRows.iterator()
              } else if (outer) {
                curLeft = l.copy()
                emitNull = true
              }
            }
          }
        }

        override def hasNext: Boolean = {
          if (!pending.hasNext && !emitNull) refill()
          pending.hasNext || emitNull
        }
        override def next(): InternalRow = {
          if (!pending.hasNext && !emitNull) refill()
          numOutputRows += 1
          if (emitNull) {
            emitNull = false
            outProj(joined(curLeft, nullPay))
          } else outProj(joined(curLeft, pending.next()))
        }
      }
    }
  }

  override protected def withNewChildrenInternal(newLeft: SparkPlan,
      newRight: SparkPlan): BandJoinExec =
    copy(left = newLeft, right = newRight)
}

/** Recognizes plain-SQL interval joins and hands them to
  * [[BandJoinExec]] — the rule that turns `JOIN ... ON a.k = b.k AND
  * abs(a.t - b.t) <= w` (or an explicit two-sided bound pair) from
  * the per-key nested-loop Spark's JoinSelection would produce into
  * the co-partitioned merge sweep. Installed via the same strategy,
  * so ANY session with `GraftExtensions` gets interval-join planning
  * on unmodified SQL text.
  *
  * Conservative by construction: fires only on INNER joins whose
  * condition splits into (≥1 attribute equi key) + (a complete band
  * on ONE LongType attribute pair) + arbitrary residual conjuncts
  * (kept as a post-filter — semantics identical because the band
  * join emits exactly the per-key band matches and both the equi and
  * band predicates are null-rejecting, as is the exec). Anything
  * else falls through to Spark's own planner untouched.
  */
object BandJoinSqlMatch {

  private def splitAnd(e: Expression): Seq[Expression] = e match {
    case org.apache.spark.sql.catalyst.expressions.And(a, b) =>
      splitAnd(a) ++ splitAnd(b)
    case other => Seq(other)
  }

  private def longLit(e: Expression): Option[Long] = e match {
    case Literal(v: Long, LongType) => Some(v)
    case Literal(v: Int, _) => Some(v.toLong)
    case _ => None
  }

  /** One inequality conjunct normalized to a bound on (lt, rt):
    * Some((lt, rt, c, isUpper)) meaning `rt <= lt + c` (upper) or
    * `rt >= lt − c` (lower). `leftSide` decides attribute ownership.
    */
  private def asBound(e: Expression, leftSide: AttributeSet,
      rightSide: AttributeSet): Option[(Attribute, Attribute, Long, Boolean)] = {
    // canonicalize to (small <= big)
    val le: Option[(Expression, Expression)] = e match {
      case LessThanOrEqual(a, b) => Some((a, b))
      case GreaterThanOrEqual(a, b) => Some((b, a))
      case _ => None
    }
    le.flatMap { case (lo, hi) =>
      def attrOf(x: Expression): Option[(Attribute, Long)] = x match {
        case a: Attribute => Some((a, 0L))
        case Add(a: Attribute, c, _) => longLit(c).map(v => (a, v))
        case Add(c, a: Attribute, _) => longLit(c).map(v => (a, v))
        case Subtract(a: Attribute, c, _) => longLit(c).map(v => (a, -v))
        case _ => None
      }
      (attrOf(lo), attrOf(hi)) match {
        case (Some((la, lc)), Some((ha, hc)))
            if la.dataType == LongType && ha.dataType == LongType =>
          // la + lc <= ha + hc
          if (rightSide.contains(la) && leftSide.contains(ha))
            // rt <= lt + (hc − lc)  → upper bound
            Some((ha, la, hc - lc, true))
          else if (leftSide.contains(la) && rightSide.contains(ha))
            // lt + lc <= rt + hc → rt >= lt + (lc − hc) = lt − (hc − lc)
            Some((la, ha, hc - lc, false))
          else None
        case _ => None
      }
    }
  }

  /** Returns (leftKeys, rightKeys, leftTime, rightTime, before,
    * after, residualConjuncts) when the whole condition is an
    * interval join.
    */
  def matchJoin(l: LogicalPlan, r: LogicalPlan, cond: Expression)
      : Option[(Seq[Attribute], Seq[Attribute], Attribute, Attribute,
        Long, Long, Seq[Expression])] = {
    val lset = l.outputSet
    val rset = r.outputSet
    val conjuncts = splitAnd(cond)
    val equi = scala.collection.mutable.ArrayBuffer
      .empty[(Attribute, Attribute)]
    val bounds = scala.collection.mutable.ArrayBuffer
      .empty[(Attribute, Attribute, Long, Boolean)]
    val rest = scala.collection.mutable.ArrayBuffer.empty[Expression]
    conjuncts.foreach {
      case EqualTo(a: Attribute, b: Attribute)
          if lset.contains(a) && rset.contains(b)
            && a.dataType == b.dataType =>
        equi += ((a, b))
      case EqualTo(a: Attribute, b: Attribute)
          if rset.contains(a) && lset.contains(b)
            && a.dataType == b.dataType =>
        equi += ((b, a))
      case other => matchOne(other, lset, rset, bounds, rest)
    }
    val uppers = bounds.filter(_._4).map(b => (b._1, b._2, b._3))
    val lowers = bounds.filterNot(_._4).map(b => (b._1, b._2, b._3))
    (equi.toSeq, uppers.toSeq, lowers.toSeq) match {
      case (ks, Seq((lt, rt, after)), Seq((lt2, rt2, before)))
          if ks.nonEmpty && lt == lt2 && rt == rt2 =>
        // both stored values are already the semantic before/after:
        // upper `rt <= lt + after`, lower `rt >= lt − before`
        if (before >= 0 && after >= 0)
          Some((ks.map(_._1), ks.map(_._2), lt, rt, before, after,
            rest.toSeq))
        else None
      case _ => None
    }
  }

  /** Route one non-equi conjunct: symmetric abs-band (either
    * comparison orientation), one-sided bound, or residual.
    */
  private def matchOne(e: Expression, lset: AttributeSet,
      rset: AttributeSet,
      bounds: scala.collection.mutable.ArrayBuffer[(Attribute, Attribute, Long, Boolean)],
      rest: scala.collection.mutable.ArrayBuffer[Expression]): Unit = {
    val absBand: Option[(Expression, Expression, Expression)] = e match {
      case LessThanOrEqual(Abs(Subtract(x, y, _), _), c) => Some((x, y, c))
      case GreaterThanOrEqual(c, Abs(Subtract(x, y, _), _)) => Some((x, y, c))
      case _ => None
    }
    absBand match {
      case Some((x, y, c)) =>
        (x, y, longLit(c)) match {
          case (a: Attribute, b: Attribute, Some(w))
              if w >= 0 && a.dataType == LongType
                && b.dataType == LongType
                && ((lset.contains(a) && rset.contains(b))
                  || (rset.contains(a) && lset.contains(b))) =>
            val (lt, rt) = if (lset.contains(a)) (a, b) else (b, a)
            bounds += ((lt, rt, w, true))
            bounds += ((lt, rt, w, false))
          case _ => rest += e
        }
      case None =>
        asBound(e, lset, rset) match {
          case Some(b) => bounds += b
          case None => rest += e
        }
    }
  }
}

/** DataFrame API over the planned operator. */
object PlannedBandJoin {

  /** Band join `left` with `right`: same composite key, rightTime in
    * [leftTime − before, leftTime + after], inclusive. Time columns
    * must be LongType on both sides; before/after ≥ 0 in the same
    * unit. Inner semantics — one output row per matching pair.
    */
  def bandJoin(left: DataFrame, right: DataFrame, keys: Seq[String],
      leftTime: String, rightTime: String, before: Long, after: Long,
      payload: Seq[String], leftOuter: Boolean = false): DataFrame = {
    require(before >= 0 && after >= 0,
      s"band bounds must be >= 0, got before=$before after=$after")
    val spark = left.sparkSession
    PlanBridge.install(spark, BandJoinStrategy)
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
        s"band key $k type mismatch: ${la.dataType} vs ${ra.dataType}")
    }
    require(attr(lPlan, leftTime).dataType == LongType &&
      attr(rPlan, rightTime).dataType == LongType,
      "band join time columns must be LongType on both sides")
    payload.foreach(attr(rPlan, _))
    PlanBridge.ofRows(spark,
      BandJoinNode(lPlan, rPlan, keys, leftTime, rightTime,
        before, after, payload, leftOuter))
  }
}
