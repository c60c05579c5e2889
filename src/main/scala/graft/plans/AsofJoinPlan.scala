package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, GenericInternalRow, JoinedRow, RowOrdering, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.types.{DataType, LongType, TimestampNTZType, TimestampType}

/** Native whole-operator as-of join — SURVEY §7.3 ladder step (c):
  * a custom logical node, planner strategy, and physical exec,
  * registered per-session (`GraftPlanBridge.installStrategy`) or via
  * `spark.sql.extensions=graft.GraftExtensions` on a cluster deploy.
  *
  * Semantics (identical to [[graft.ops.JoinOps.asofJoin]], certified
  * against DuckDB's native ASOF LEFT JOIN): every left row picks the
  * LATEST right row with `right.ts <= left.ts` (inclusive) within the
  * same key; left rows with no predecessor emit null right values.
  * SQL NULL semantics: a NULL in any key column or in the timestamp
  * NEVER matches — such left rows still survive (LEFT-join contract)
  * with null right values, and such right rows are skipped — exactly
  * what an equi-join predicate plus `ts >= ts` would do.
  *
  * `direction` generalizes the probe (the pandas `merge_asof`
  * direction surface; DuckDB certifies forward with its
  * `ASOF ... ON l.ts <= r.ts` form):
  *  - `backward` (default): latest right with `rts <= lts`;
  *  - `forward`: EARLIEST right with `rts >= lts` (inclusive) — the
  *    "next reading at-or-after" probe; needs NO buffered row at all,
  *    the match is the merge's current right lookahead;
  *  - `nearest`: whichever of the two candidates minimizes
  *    `|rts - lts|`, ties broken toward the BACKWARD (earlier) row —
  *    deterministic because right rows are unique per (key, ts) by the
  *    operator contract.
  * All three are the same single streaming merge with O(1) state.
  *
  * Keys: one or MORE columns of any orderable atomic type (long,
  * string, date, decimal, …) — both sides' key lists must line up
  * pairwise in type. Timestamps: LongType (epoch-micros by
  * convention), TIMESTAMP, or TIMESTAMP_NTZ — the latter two are
  * micros-backed in Tungsten rows, so the exec normalizes all three
  * to a primitive long read; no conversion pass.
  *
  * Why a physical operator beats the union+window composition: the
  * exec declares `requiredChildDistribution` (hash on keys, both
  * sides) and `requiredChildOrdering` ((keys…, ts) ascending), so
  * Catalyst plans exactly one co-partitioned exchange per side plus
  * per-partition sorts — then the join itself is a single streaming
  * two-pointer merge holding ONE buffered right row: no union row
  * blow-up, no null-tagged columns, no window machinery, no second
  * pass to drop the right-side rows. Memory per partition is O(1)
  * beyond the sort — the operator never materializes a key group.
  */
case class AsofJoinNode(
    left: LogicalPlan, right: LogicalPlan,
    leftKeys: Seq[Attribute], rightKeys: Seq[Attribute],
    leftTs: Attribute, rightTs: Attribute,
    rightVals: Seq[Attribute],
    direction: String = "backward") extends BinaryNode {
  require(AsofJoinNode.Directions(direction),
    s"asof-join: direction must be one of ${AsofJoinNode.Directions.mkString("/")}" +
      s" (got `$direction`)")
  require(leftKeys.nonEmpty && leftKeys.size == rightKeys.size,
    "asof-join: need at least one key column and equally many on both sides")
  leftKeys.zip(rightKeys).foreach { case (lk, rk) =>
    require(lk.dataType == rk.dataType,
      s"asof-join: key type mismatch ${lk.name}:${lk.dataType.simpleString}" +
        s" vs ${rk.name}:${rk.dataType.simpleString}")
    require(RowOrdering.isOrderable(lk.dataType),
      s"asof-join: key ${lk.name}:${lk.dataType.simpleString} is not orderable")
  }
  private def tsOk(dt: DataType) =
    dt == LongType || dt == TimestampType || dt == TimestampNTZType
  require(tsOk(leftTs.dataType) && tsOk(rightTs.dataType),
    "asof-join: ts columns must be LongType (epoch-micros), TIMESTAMP, " +
      s"or TIMESTAMP_NTZ — got ${leftTs.dataType.simpleString} / " +
      s"${rightTs.dataType.simpleString}")
  override def output: Seq[Attribute] =
    left.output ++ rightVals.map(_.withNullability(true))

  /** Exact cardinality model: the as-of join emits EXACTLY one row per
    * left row (left-join, unique-per-(key,ts) right contract), so the
    * output stats are the left child's scaled by the width the right
    * values add. Without this override a custom binary node falls back
    * to the product-of-children estimate — anything planned ABOVE an
    * as-of join would see a catastrophically inflated size and, e.g.,
    * refuse to broadcast a tiny enriched dimension (spec-asserted in
    * JoinOpsSpec).
    */
  override def stats: org.apache.spark.sql.catalyst.plans.logical.Statistics = {
    val l = left.stats
    val leftWidth = BigInt(math.max(1, left.output.map(_.dataType.defaultSize).sum))
    val outWidth = leftWidth + rightVals.map(_.dataType.defaultSize).sum
    org.apache.spark.sql.catalyst.plans.logical.Statistics(
      sizeInBytes = (l.sizeInBytes * outWidth / leftWidth).max(BigInt(1)),
      rowCount = l.rowCount)
  }

  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsofJoinNode =
    copy(left = newLeft, right = newRight)
}

object AsofJoinNode {
  val Directions: Set[String] = Set("backward", "forward", "nearest")
}

/** Custom optimizer rule completing the extension surface: a custom
  * logical node BLOCKS Catalyst's own predicate pushdown (the built-in
  * `PushDownPredicates` only knows built-in nodes), so a filter
  * written above an as-of join would otherwise run after the join —
  * at 100 TB that is the difference between scanning a partition and
  * scanning a table. This rule pushes every conjunct that references
  * ONLY left-side columns through the node into the left child (safe:
  * each output row is one left row plus its independently-determined
  * match, so dropping left rows never changes surviving rows'
  * matches); right-side or mixed conjuncts stay above. From the left
  * child the built-in rules take over and carry the predicate to the
  * scan — PushedFilters reach parquet, asserted in JoinOpsSpec.
  * Non-deterministic conjuncts (a `rand()` sampling filter) are NEVER
  * pushed, matching Catalyst's own `PushDownPredicates` contract —
  * moving one below the join changes how many times and against which
  * row set it evaluates.
  */
object AsofJoinPushdown
    extends org.apache.spark.sql.catalyst.rules.Rule[LogicalPlan]
    with org.apache.spark.sql.catalyst.expressions.PredicateHelper {
  import org.apache.spark.sql.catalyst.expressions.And
  import org.apache.spark.sql.catalyst.plans.logical.Filter

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case f @ Filter(cond, a: AsofJoinNode) =>
      val (pushable, rest) = splitConjunctivePredicates(cond)
        .partition(c => c.deterministic && c.references.subsetOf(a.left.outputSet))
      if (pushable.isEmpty) f
      else {
        val node = a.copy(left = Filter(pushable.reduce(And), a.left))
        rest.reduceOption(And).map(Filter(_, node)).getOrElse(node)
      }
  }
}

/** Column pruning through the custom node — the other half of what
  * Catalyst's built-in rules can't do for [[AsofJoinNode]]
  * ([[AsofJoinPushdown]] handles predicates): a Project above the
  * join that uses only SOME columns would otherwise leave both
  * children scanning everything, because the node's output is defined
  * as `left.output ++ rightVals` and `ColumnPruning` doesn't know the
  * node. This rule narrows BOTH sides to what the projection actually
  * consumes (plus the join's own keys/timestamps, which the exec
  * requires from each child): unused left columns leave the left
  * child's scan (`ReadSchema` narrows — asserted in JoinOpsSpec), and
  * unused right values drop out of `rightVals`, shrinking the merge
  * state and the shuffle row. At 100 TB this is the difference
  * between shuffling two wide tables and shuffling the three columns
  * a feature lookup actually reads.
  */
object AsofJoinPruning
    extends org.apache.spark.sql.catalyst.rules.Rule[LogicalPlan] {
  import org.apache.spark.sql.catalyst.expressions.AttributeSet
  import org.apache.spark.sql.catalyst.plans.logical.{Filter, Project}

  private def prune(
      consumed: AttributeSet, a: AsofJoinNode): Option[AsofJoinNode] = {
    val needed = consumed ++ AttributeSet(a.leftKeys ++ Seq(a.leftTs))
    val keepLeft = a.left.output.filter(needed.contains)
    // rightVals are nullable-widened in the node's output; match by id
    val keepRight = a.rightVals.filter(rv =>
      consumed.exists(_.exprId == rv.exprId))
    val neededRight = AttributeSet(a.rightKeys ++ Seq(a.rightTs) ++ keepRight)
    val keepRightChild = a.right.output.filter(neededRight.contains)
    val leftPrunable = keepLeft.length < a.left.output.length
    val rightPrunable = keepRight.length < a.rightVals.length ||
      keepRightChild.length < a.right.output.length
    if (!leftPrunable && !rightPrunable) None
    else Some(a.copy(
      left = if (leftPrunable) Project(keepLeft, a.left) else a.left,
      right =
        if (keepRightChild.length < a.right.output.length)
          Project(keepRightChild, a.right)
        else a.right,
      rightVals = keepRight))
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case p @ Project(exprs, a: AsofJoinNode) =>
      prune(AttributeSet(exprs.flatMap(_.references)), a)
        .map(n => p.copy(child = n)).getOrElse(p)
    // a residual (right-side/mixed) filter between the projection and
    // the node must keep its own references alive through the pruning
    case p @ Project(exprs, f @ Filter(cond, a: AsofJoinNode)) =>
      prune(AttributeSet(exprs.flatMap(_.references)) ++ cond.references, a)
        .map(n => p.copy(child = f.copy(child = n))).getOrElse(p)
  }
}

/** Plans [[AsofJoinNode]] to [[AsofJoinExec]]; every other node falls
  * through to the built-in strategies. */
object AsofJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsofJoinNode(l, r, lks, rks, lts, rts, rv, dir) =>
      AsofJoinExec(planLater(l), planLater(r), lks, rks, lts, rts, rv, dir) :: Nil
    case _ => Nil
  }
}

case class AsofJoinExec(
    left: SparkPlan, right: SparkPlan,
    leftKeys: Seq[Attribute], rightKeys: Seq[Attribute],
    leftTs: Attribute, rightTs: Attribute,
    rightVals: Seq[Attribute],
    direction: String = "backward") extends BinaryExecNode {

  // production observability: the same metric names the built-in joins
  // publish, plus the operator's own match rate — a feature-store
  // as-of with a low matchedRows/numOutputRows ratio is usually a
  // unit-mismatch bug (ms vs µs timestamps), visible in the SQL UI
  // without rerunning anything
  override lazy val metrics = Map(
    "numOutputRows" -> org.apache.spark.sql.execution.metric.SQLMetrics
      .createMetric(sparkContext, "number of output rows"),
    "matchedRows" -> org.apache.spark.sql.execution.metric.SQLMetrics
      .createMetric(sparkContext, "left rows with an as-of match"))

  override def output: Seq[Attribute] =
    left.output ++ rightVals.map(_.withNullability(true))

  // hash-cluster both sides on the keys (EnsureRequirements co-partitions
  // them, exactly as it does for SortMergeJoin) and sort (keys…, ts) —
  // the operator itself is then a single streaming merge pass.
  // AQE interaction: Spark 4.1's result-stage optimization DOES insert
  // coalesced AQEShuffleReads under this exec (pinned by JoinOpsSpec's
  // coalescing test; with the exec under an aggregate none were seen —
  // PERF.md, native whole-operator as-of join). Alignment of the
  // zipped partitions still holds: CoalesceShufflePartitions computes
  // ONE partition-spec list for ALL leaf shuffles of a stage and
  // applies it uniformly or not at all — the same invariant
  // SortMergeJoin's zipped children rely on — and zipPartitions fails
  // loudly on any partition-count mismatch rather than misaligning.
  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(leftKeys) :: ClusteredDistribution(rightKeys) :: Nil

  // Ascending defaults to NULLS FIRST — the merge relies on that: all
  // null-keyed/null-ts rows of a group sort before any matchable row,
  // so skipping them never strands buffered right state.
  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    leftKeys.map(SortOrder(_, Ascending)) :+ SortOrder(leftTs, Ascending),
    rightKeys.map(SortOrder(_, Ascending)) :+ SortOrder(rightTs, Ascending))

  override def outputPartitioning: Partitioning = left.outputPartitioning
  override def outputOrdering: Seq[SortOrder] =
    leftKeys.map(SortOrder(_, Ascending)) :+ SortOrder(leftTs, Ascending)

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsofJoinExec =
    copy(left = newLeft, right = newRight)

  protected override def doExecute(): RDD[InternalRow] = {
    def ordsIn(attrs: Seq[Attribute], child: Seq[Attribute]): Array[Int] = {
      val o = attrs.map(a => child.indexWhere(_.exprId == a.exprId)).toArray
      require(o.forall(_ >= 0),
        "asof-join: key/ts attributes must come from the respective child")
      o
    }
    val lKeyOrds = ordsIn(leftKeys, left.output)
    val rKeyOrds = ordsIn(rightKeys, right.output)
    val lTsOrd = ordsIn(Seq(leftTs), left.output)(0)
    val rTsOrd = ordsIn(Seq(rightTs), right.output)(0)
    val keyTypes = leftKeys.map(_.dataType)
    val rightSchema = right.output
    val leftSchema = left.output
    val lKeyAttrs = leftKeys
    val rKeyAttrs = rightKeys
    val rvAttrs = rightVals
    // bind the output projection against NULLABLE right-value attrs:
    // unmatched left rows read from an all-null row, and a
    // non-nullable binding would skip the null check and read garbage
    // zeros instead of nulls
    val rvNullable = rightVals.map(_.withNullability(true))
    val outAttrs = output
    val numOutputRows = longMetric("numOutputRows")
    val matchedRows = longMetric("matchedRows")
    // branch on a primitive inside the per-row loop, not a string
    val dirBackward = direction == "backward"
    val dirForward = direction == "forward"

    left.execute().zipPartitions(right.execute()) { (lIt, rIt) =>
      // all codegen'd artifacts are created HERE, per partition — a
      // generated projection/ordering captured on the driver would have
      // to survive serialization
      val lKeyProj = UnsafeProjection.create(lKeyAttrs, leftSchema)
      val rKeyProj = UnsafeProjection.create(rKeyAttrs, rightSchema)
      val keyOrd = RowOrdering.createNaturalAscendingOrdering(keyTypes)
      val rValProj = UnsafeProjection.create(rvAttrs, rightSchema)
      val outProj = UnsafeProjection.create(outAttrs, leftSchema ++ rvNullable)
      val joined = new JoinedRow
      val nullRight = new GenericInternalRow(rvAttrs.size)
      def anyKeyNull(row: InternalRow, ords: Array[Int]): Boolean = {
        var i = 0
        while (i < ords.length) {
          if (row.isNullAt(ords(i))) return true
          i += 1
        }
        false
      }

      new Iterator[InternalRow] {
        // one-row lookahead into the right side (null-keyed/null-ts
        // right rows are unmatchable under SQL semantics and skipped at
        // the source); `lastVals` is the latest right row at-or-before
        // the current left timestamp for the CURRENT key — the
        // operator's entire buffered state (backward/nearest; forward
        // buffers nothing: its candidate IS the lookahead row)
        private var rBuf: InternalRow = advanceRight()
        private var lastKey: InternalRow = null
        private var haveLast = false
        private var lastVals: InternalRow = null
        private var lastTs = 0L

        private def advanceRight(): InternalRow = {
          while (rIt.hasNext) {
            val r = rIt.next()
            if (!anyKeyNull(r, rKeyOrds) && !r.isNullAt(rTsOrd)) return r
          }
          null
        }

        override def hasNext: Boolean = lIt.hasNext

        override def next(): InternalRow = {
          val l = lIt.next()
          numOutputRows += 1
          if (anyKeyNull(l, lKeyOrds) || l.isNullAt(lTsOrd)) {
            // NULL never matches; the left row still survives. State is
            // untouched — these rows sort FIRST in their group (nulls
            // first), so no matchable row's merge position is affected.
            joined(l, nullRight)
            return outProj(joined)
          }
          val lk = lKeyProj(l) // reused buffer, valid until next l
          val lt = l.getLong(lTsOrd)
          if (haveLast && keyOrd.compare(lastKey, lk) != 0) {
            haveLast = false; lastVals = null
          }
          // consume right rows at-or-before the probe position. Forward
          // stops BEFORE rts == lt (inclusive forward bound) and buffers
          // nothing; backward/nearest consume through rts <= lt and keep
          // the latest same-key row. Rows of earlier keys are dead for
          // every later left row (both sides ascend by key) under all
          // directions.
          var continue = rBuf != null
          while (continue) {
            val rk = rKeyProj(rBuf) // reused buffer, valid until advance
            val c = keyOrd.compare(rk, lk)
            val consume = c < 0 || (c == 0 &&
              (if (dirForward) rBuf.getLong(rTsOrd) < lt
               else rBuf.getLong(rTsOrd) <= lt))
            if (consume) {
              if (c == 0 && !dirForward) {
                // UnsafeProjection reuses its buffer — copy the one row
                // (and its key) we retain: the only per-match-advance
                // allocations
                lastVals = rValProj(rBuf).copy()
                lastTs = rBuf.getLong(rTsOrd)
                lastKey = rk.copy()
                haveLast = true
              }
              rBuf = advanceRight()
              continue = rBuf != null
            } else continue = false
          }
          if (dirBackward) {
            if (haveLast) matchedRows += 1
            joined(l, if (haveLast) lastVals else nullRight)
            return outProj(joined)
          }
          // forward candidate: the lookahead row, iff it is same-key
          // (its ts is then >= lt by the stop condition). Used in place
          // without copying — consumed by outProj before the next
          // advance can overwrite it.
          val fwdOk = rBuf != null && keyOrd.compare(rKeyProj(rBuf), lk) == 0
          val pick: InternalRow =
            if (dirForward) { if (fwdOk) rValProj(rBuf) else null }
            else if (haveLast && fwdOk) {
              // nearest: tie goes to the BACKWARD (earlier) row —
              // deterministic under the unique-(key, ts) right contract
              if (lt - lastTs <= rBuf.getLong(rTsOrd) - lt) lastVals
              else rValProj(rBuf)
            } else if (haveLast) lastVals
            else if (fwdOk) rValProj(rBuf)
            else null
          if (pick != null) matchedRows += 1
          joined(l, if (pick != null) pick else nullRight)
          outProj(joined)
        }
      }
    }
  }
}
