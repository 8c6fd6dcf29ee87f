package graft.plans

import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.plans.{Cross, FullOuter, Inner, LeftOuter, RightOuter}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Generate, Join, LeafNode, LogicalPlan, Project, Repartition, RepartitionOperation, Sort, Statistics, V2WriteCommand, Window}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.adaptive.LogicalQueryStage
import org.apache.spark.sql.execution.command.DataWritingCommand
import org.apache.spark.sql.execution.datasources.WriteFiles
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.internal.SQLConf

/** Places the sort that sets a query's output order from the size of what
  * it sorts. A global `Sort` plans as a range-bounds sampling job plus a
  * range exchange. Over a child of at most
  * `spark.sql.adaptive.coalescePartitions.minPartitionSize` this rule
  * rewrites it into `Sort(global = false)` over `Repartition(1)`: the
  * child is gathered into one partition and sorted there, with no sampling
  * job. That size is the floor of AQE's coalescing target, so a range
  * exchange of such a child would itself be read by a single reducer; on
  * this side of the threshold both plans sort in one task and this one
  * skips the sampling job (which runs the child's map side a second time)
  * and the range exchange. (On 4 vCPUs, sorting a map-only and an
  * aggregated frame into the noop sink, both one-task plans beat the range
  * sort up to 4 MB; from 16 MB a coalesce lost to it by up to 30%.)
  * Everything else keeps the distributed range sort: a larger child, a child of unknown size
  * (`spark.sql.defaultSizeInBytes`), a child with a `Generate` above its
  * exchanges (Catalyst sizes an explode as its input), a sort under a
  * `Limit` (planned as `TakeOrderedAndProject`) and any sort of a
  * streaming plan.
  *
  * How the child is gathered depends on what its last stage reads:
  *  - only exchanges (a finished AQE stage, the shuffle below an aggregate
  *    or a window) and relations of at most the same size:
  *    `shuffle = false`, a coalesce. That stage runs as the one sorting
  *    task, which is what AQE would make of inputs this small anyway; no
  *    exchange is added.
  *  - a larger relation, or a repartition that spreads per-row work (a
  *    finished one included): `shuffle = true`. The map-side work stays in
  *    as many tasks as before and only its output moves to the sorting
  *    task.
  *
  * Only the output sort is placed: a global `Sort` at the plan root, under
  * projections, or under a write root (a V2 write such as the noop sink, a
  * V1 file write and its `WriteFiles`). Sorts inside a plan are left alone.
  *
  * The size is Catalyst's estimate, with one correction: Catalyst sizes
  * a join as the product of its inputs' bytes. A join whose inputs bound
  * their rows (finished stages report their row counts) emits at most
  * rows(L)·rows(R) + rows(L) + rows(R) rows, each at most one row of
  * either side, so it is sized as at most
  * (rows(R) + 1)·bytes(L) + (rows(L) + 1)·bytes(R).
  *
  * Registered twice in [[graft.GraftExtensions]]:
  *  - as an optimizer rule, where the size is Catalyst's static estimate.
  *    It decides plans whose estimate is already small (scans, filters,
  *    projections, global aggregates). A V2 relation reports its size only
  *    once its scan is built, which happens after this hook, so a child
  *    holding one counts as unknown here;
  *  - as an AQE runtime rule, where finished query stages report their
  *    real size and rows. It decides sorts above an exchange, such as a
  *    grouped aggregate over a join. AQE re-optimizes before it creates
  *    the range exchange above a finished stage, so the sampling job is
  *    never started.
  *
  * Rows come out in the same sequence under either plan: one partition
  * sorted with the same comparator is the global order. Rows that tie on
  * every sort key come out in arrival order in both, exactly as with a
  * range sort, so only a total sort key fixes a unique sequence. */
object FinalSortPlacement extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan =
    if (plan.isStreaming) plan else place(plan)

  private def place(plan: LogicalPlan): LogicalPlan = plan match {
    case s @ Sort(_, true, child, _) if small(child) =>
      gather(child).fold(s)(shuffle =>
        s.copy(global = false, child = Repartition(1, shuffle, child)))
    case p: Project => p.withNewChildren(Seq(place(p.child)))
    case w: V2WriteCommand => w.withNewQuery(place(w.query))
    case w: DataWritingCommand => w.withNewChildren(Seq(place(w.query)))
    case w: WriteFiles => w.withNewChildren(Seq(place(w.child)))
    case other => other
  }

  /** Whether gathering `p` into one partition needs an exchange (see the
    * object doc), looking down through the operators that run in its last
    * stage; None where one of them is a `Generate`, whose estimate
    * Catalyst does not scale by its fan-out. */
  private def gather(p: LogicalPlan): Option[Boolean] = p match {
    case s: LogicalQueryStage =>
      Some(s.logicalPlan.isInstanceOf[RepartitionOperation])
    case _: Aggregate | _: Window => Some(false)
    case _: RepartitionOperation => Some(true)
    case l: LeafNode => Some(l.stats.sizeInBytes > threshold)
    case _: Generate => None
    case _ => p.children.map(gather).foldLeft(Option(false))((a, b) =>
      for (x <- a; y <- b) yield x || y)
  }

  private def threshold: BigInt =
    SQLConf.get.getConf(SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_SIZE)

  private def small(child: LogicalPlan): Boolean =
    !child.exists(_.isInstanceOf[DataSourceV2Relation]) &&
      size(child) <= threshold

  /** Catalyst's size estimate of `p`, with row-bounded joins sized by their
    * bound (see the object doc). */
  private def size(p: LogicalPlan): BigInt = p.transformUp {
    case j @ Join(l, r, Inner | Cross | LeftOuter | RightOuter | FullOuter, _, _)
        if l.maxRows.isDefined && r.maxRows.isDefined =>
      val (lr, rr) = (BigInt(l.maxRows.get), BigInt(r.maxRows.get))
      SizedJoin(j.output, Statistics(
        sizeInBytes = ((rr + 1) * l.stats.sizeInBytes +
          (lr + 1) * r.stats.sizeInBytes).min(j.stats.sizeInBytes),
        rowCount = Some(lr * rr + lr + rr)))
  }.stats.sizeInBytes

  /** A join's output with its bound as statistics; only ever sized. */
  private case class SizedJoin(output: Seq[Attribute], bound: Statistics)
      extends LeafNode {
    override def computeStats(): Statistics = bound
    override def maxRows: Option[Long] =
      bound.rowCount.filter(_.isValidLong).map(_.toLong)
  }
}
