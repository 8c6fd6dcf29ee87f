package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, GraftBridge, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{And, Ascending, Attribute, AttributeReference, AttributeSet, Expression, GenericInternalRow, JoinedRow, PredicateHelper, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, Filter, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.functions.col

/** SURVEY.md §5 / spark_guide "custom operator" path — a whole-operator
  * as-of join: for every left row, the latest right row of the same key
  * whose (ts, tie) is strictly before the left row's (ts, tie).
  *
  * Spark has no native as-of join; the window formulation (q_join_asof)
  * unions both streams and carries window state. This operator is the
  * direct physical form: Catalyst's EnsureRequirements co-partitions both
  * children on the key and sorts them by (key, ts, tie) — declared, not
  * hand-built — and execution is a single streaming merge per partition:
  * O(1) state (one buffered match), zero memory blowup, no window
  * machinery. At 100 TB this is one co-shuffle of each side and a linear
  * merge, the same cost shape as a sort-merge join.
  *
  * Keys/timestamps/tiebreaks must be long-backed types (bigint, timestamp,
  * timestamp_ntz) — validated at the AsOf API boundary, which also drops
  * NULL-keyed rows on both sides; the merge compares raw long values and
  * defines no NULL ordering.
  */
case class AsOfJoinPlan(
    left: LogicalPlan, right: LogicalPlan,
    leftKey: Attribute, leftTs: Attribute, leftTie: Attribute,
    rightKey: Attribute, rightTs: Attribute, rightTie: Attribute,
    tsOut: AttributeReference)
  extends BinaryNode {
  override def output: Seq[Attribute] = left.output :+ tsOut
  override def producedAttributes: AttributeSet = AttributeSet(tsOut)
  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsOfJoinPlan =
    copy(left = newLeft, right = newRight)
}

case class AsOfJoinExec(
    left: SparkPlan, right: SparkPlan,
    leftKey: Attribute, leftTs: Attribute, leftTie: Attribute,
    rightKey: Attribute, rightTs: Attribute, rightTie: Attribute,
    tsOut: AttributeReference)
  extends BinaryExecNode {

  override def output: Seq[Attribute] = left.output :+ tsOut
  override def producedAttributes: AttributeSet = AttributeSet(tsOut)

  // Declare what execution needs; EnsureRequirements inserts the exchanges
  // and sorts — nothing is hand-scheduled. Like SortMergeJoinExec, the two
  // ClusteredDistributions are declared WITHOUT a partition-count pin:
  // EnsureRequirements makes multi-child distributions co-partitioned, and
  // AQE's CoalesceShufflePartitions coalesces the shuffles feeding one
  // stage consistently, so the children stay zip-compatible while gaining
  // runtime coalescing (round 2 pinned numShufflePartitions, opting the
  // exchanges out of AQE — 32 fixed sorts however small the input).
  // zipPartitions still hard-fails on any count mismatch, and
  // AsOfPlanSpec's equality + plan-shape tests exercise exactly that.
  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(Seq(leftKey)) ::
      ClusteredDistribution(Seq(rightKey)) :: Nil
  override def requiredChildOrdering: Seq[Seq[SortOrder]] =
    Seq(
      Seq(SortOrder(leftKey, Ascending), SortOrder(leftTs, Ascending),
        SortOrder(leftTie, Ascending)),
      Seq(SortOrder(rightKey, Ascending), SortOrder(rightTs, Ascending),
        SortOrder(rightTie, Ascending)))
  override def outputPartitioning: Partitioning = left.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = left.outputOrdering

  override protected def doExecute(): RDD[InternalRow] = {
    // Bind ordinals ONCE and read via InternalRow.getLong — the round-1
    // interpreted Expression.eval here (3 boxing evals per row per side)
    // made this exec ~17× slower than the window formulation of the same
    // query. All six columns are validated long-backed (bigint/timestamp)
    // at the AsOf API boundary, so raw long reads are exact.
    def ordinal(attrs: Seq[Attribute], a: Attribute): Int = {
      val i = attrs.indexWhere(_.exprId == a.exprId)
      require(i >= 0, s"as-of attribute $a not found in child output $attrs")
      i
    }
    val lKeyOrd = ordinal(left.output, leftKey)
    val lTsOrd = ordinal(left.output, leftTs)
    val lTieOrd = ordinal(left.output, leftTie)
    val rKeyOrd = ordinal(right.output, rightKey)
    val rTsOrd = ordinal(right.output, rightTs)
    val rTieOrd = ordinal(right.output, rightTie)
    val leftOutput = left.output
    val out = output

    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      val proj = UnsafeProjection.create(out, leftOutput :+ tsOut)
      val matchRow = new GenericInternalRow(1)
      val joined = new JoinedRow
      var rHead: InternalRow = null
      var rHeadValid = false
      var lastMatchTs: Long = 0L
      var hasMatch = false
      var matchKey: Long = 0L

      def advanceRight(): Unit = {
        if (rIter.hasNext) { rHead = rIter.next(); rHeadValid = true }
        else { rHead = null; rHeadValid = false }
      }
      advanceRight()

      lIter.map { l =>
        val lk = l.getLong(lKeyOrd)
        val lt = l.getLong(lTsOrd)
        val ltie = l.getLong(lTieOrd)
        // consume all right rows strictly before (lk, lt, ltie)
        var continue = rHeadValid
        while (continue) {
          val rk = rHead.getLong(rKeyOrd)
          var rt = 0L
          val before = rk < lk || (rk == lk && {
            rt = rHead.getLong(rTsOrd)
            rt < lt || (rt == lt && rHead.getLong(rTieOrd) < ltie)
          })
          if (before) {
            if (rk == lk) {
              lastMatchTs = rt
              hasMatch = true
              matchKey = rk
            }
            advanceRight()
            continue = rHeadValid
          } else continue = false
        }
        if (hasMatch && matchKey == lk) matchRow.update(0, lastMatchTs)
        else matchRow.update(0, null)
        proj(joined(l, matchRow))
      }
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsOfJoinExec =
    copy(left = newLeft, right = newRight)
}

/** Optimizer rule: Catalyst can't reason about unknown nodes, so without
  * this a Filter above the as-of join blocks all pushdown and both children
  * scan their full inputs. Deterministic predicates over left-side columns
  * push into the left child; predicates touching ONLY the join key are
  * additionally mirrored onto the right child (sound because a right row
  * can only ever match a left row with the EQUAL key). Net effect: the
  * predicate reaches both parquet scans' PushedFilters.
  */
object PushFilterThroughAsOf extends Rule[LogicalPlan] with PredicateHelper {
  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case f @ Filter(cond, a: AsOfJoinPlan) =>
      // Only the deterministic PREFIX may move (same conservatism as
      // Catalyst's own pushdown): reordering evaluation around a
      // non-deterministic predicate would change which rows it sees.
      val (detPrefix, tail) = splitConjunctivePredicates(cond).span(_.deterministic)
      val (pushable, restPrefix) = detPrefix
        .partition(_.references.subsetOf(a.left.outputSet))
      val rest = restPrefix ++ tail
      if (pushable.isEmpty) f
      else {
        val newLeft = Filter(pushable.reduce(And), a.left)
        val keyOnly = pushable.filter(_.references == AttributeSet(a.leftKey))
        val newRight = if (keyOnly.nonEmpty) {
          val mirrored = keyOnly.map(_.transform {
            case att: Attribute if att.semanticEquals(a.leftKey) => a.rightKey
          }.asInstanceOf[Expression]).reduce(And)
          Filter(mirrored, a.right)
        } else a.right
        val pushed = a.copy(left = newLeft, right = newRight)
        if (rest.isEmpty) pushed else Filter(rest.reduce(And), pushed)
      }
  }
}

object AsOfStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsOfJoinPlan(l, r, lk, lt, ltie, rk, rt, rtie, tsOut) =>
      AsOfJoinExec(planLater(l), planLater(r), lk, lt, ltie, rk, rt, rtie,
        tsOut) :: Nil
    case _ => Nil
  }
}

/** Public API: latest prior `right` row's ts per `left` row, by key.
  * Rows with NULL key/ts/tie are dropped on both sides (the same semantics
  * an equi-join gives NULL keys; the merge has no NULL ordering). */
object AsOf {
  import org.apache.spark.sql.types.{DataType, LongType, TimestampNTZType, TimestampType}

  private val LongBacked: Set[DataType] =
    Set(LongType, TimestampType, TimestampNTZType)

  def joinLatestPrior(leftDf: DataFrame, rightDf: DataFrame,
      key: String, ts: String, tie: String, tsOutName: String): DataFrame = {
    val spark: SparkSession = leftDf.sparkSession
    val l = leftDf.filter(col(key).isNotNull && col(ts).isNotNull &&
      col(tie).isNotNull)
    // fresh exprIds on the right side so self-as-of (same source table)
    // cannot produce duplicate attribute ids across children
    val r = rightDf
      .filter(col(key).isNotNull && col(ts).isNotNull && col(tie).isNotNull)
      .select(col(key).as("__asof_key"), col(ts).as("__asof_ts"),
        col(tie).as("__asof_tie"))
    val lPlan = l.queryExecution.analyzed
    val rPlan = r.queryExecution.analyzed
    def attr(p: LogicalPlan, name: String): Attribute = {
      val matches = p.output.filter(_.name == name)
      if (matches.isEmpty)
        throw new IllegalArgumentException(s"column $name not in ${p.output}")
      if (matches.length > 1)
        throw new IllegalArgumentException(s"column $name is ambiguous in ${p.output}")
      val a = matches.head
      if (!LongBacked.contains(a.dataType))
        throw new IllegalArgumentException(
          s"as-of column $name must be a long-backed type (bigint/timestamp), got ${a.dataType.sql}")
      a
    }
    if (lPlan.output.exists(_.name == tsOutName))
      throw new IllegalArgumentException(
        s"output column $tsOutName collides with an existing left column")
    val rtAttr = attr(rPlan, "__asof_ts")
    // output carries the RIGHT side's ts values, so it takes the right type
    val tsOut = AttributeReference(tsOutName, rtAttr.dataType, nullable = true)()
    GraftBridge.ofRows(spark, AsOfJoinPlan(
      lPlan, rPlan,
      attr(lPlan, key), attr(lPlan, ts), attr(lPlan, tie),
      attr(rPlan, "__asof_key"), rtAttr, attr(rPlan, "__asof_tie"), tsOut))
  }
}
