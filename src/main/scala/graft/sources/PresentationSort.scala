package graft.sources

import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionSet}
import org.apache.spark.sql.catalyst.planning.ExtractEquiJoinKeys
import org.apache.spark.sql.catalyst.plans.{Cross, Inner, LeftAnti, LeftOuter, LeftSemi}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.command.DataWritingCommand
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation, PartitioningAwareFileIndex, WriteFiles}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.execution.adaptive.{LogicalQueryStage, QueryStageExec}
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.execution.streaming.sources.MemoryPlan
import org.apache.spark.sql.execution.window.WindowExecBase
import org.apache.spark.sql.execution.GenerateExec

/** Result-sort planning from row counts: the one way a result is
  * sorted, so callers write a plain `orderBy`. A global `ORDER BY` on a
  * result frame pays a range exchange: a sampling job plus a shuffle,
  * about 0.45 s of fixed cost whatever the row count. When the sort's
  * input is known to hold at most [[MaxRows]] rows, one task sorting
  * one partition gives the same total order for a fraction of that.
  *
  * Injected twice by [[Tables.graftSession]]: as an optimizer rule and
  * as an AQE runtime optimizer rule. The row bound comes from plan
  * facts, carried up through `Project`, `Filter`, grouped `Aggregate`
  * and `Union` (the sum of its children):
  *  - static: Catalyst's `maxRows` (`LocalRelation`, `Range`, `Limit`,
  *    global aggregates), and a memory-sink table's current row count;
  *  - a parquet scan that shares the sort's stage (reached through
  *    projections, filters, unions and joins' preserved sides, never
  *    below an aggregate or window, whose exchange AQE counts exactly):
  *    the sum of its files' footer row counts, read on the driver with
  *    no job. A streaming sink's index lists only committed files;
  *  - an equi-join whose other side is distinct on its join keys, or a
  *    join with a side of at most one row: the preserved side's bound.
  *    Semi and anti joins keep the left side's bound;
  *  - at runtime, a materialized shuffle stage's exact row count
  *    (`LogicalQueryStage.maxRows`). Before the stage below the sort
  *    finishes, the range exchange's sampling job has not been
  *    submitted, so re-planning there removes both of its jobs.
  *
  * A frame with none of these (an RDD or checkpoint leaf) gets its
  * count from a `repartition` on the sort keys, which AQE then counts.
  *
  * The rule fires only on a RESULT-level global sort: the plan root, or
  * a sort directly under a root `Project` or `Repartition(1, shuffle =
  * false)`. Two writes count as results: the `noop` sink (which, like
  * `collect`, only consumes rows) and a file write of `coalesce(1)`
  * directly above the sort (Verify's dump, one file either way). It
  * never fires under a `Limit` (top-k keeps `TakeOrderedAndProject`)
  * or in any other write (a sorted multi-file write keeps its layout).
  *
  * The one partition comes from `coalesce(1)` when the operators
  * between the sort and the exchange below it are only projections,
  * filters and aggregates (cheap on bounded rows). If a window, join,
  * union or generator sits in that stage, its input is not bounded by
  * the sort's row count, so a one-partition shuffle (`Repartition(1,
  * shuffle = true)`) keeps that stage parallel.
  */
object PresentationSort extends Rule[LogicalPlan] {

  /** Rows at or below which a result sort takes the single-partition
    * path. A global orderBy pays about 0.45 s of fixed range-exchange
    * machinery (sampling pass plus sort pass, per-task setup on every
    * core) regardless of row count, while a one-task sort of up to 256k
    * rows stays well under 0.2 s. Stream match logs at sf1 (about 4.6M
    * rows) sit far above the bound and keep the distributed sort.
    */
  val MaxRows: Long = 262144L

  def apply(plan: LogicalPlan): LogicalPlan = (plan match {
    case w: V2WriteCommand if isNoopSink(w.table) =>
      result(w.query).map(w.withNewQuery)
    case c: DataWritingCommand =>
      singleFile(c.query).map(q => c.withNewChildren(Seq(q)))
    case _ => result(plan)
  }).getOrElse(plan)

  private def result(plan: LogicalPlan): Option[LogicalPlan] = plan match {
    case s: Sort => onePartition(s)
    case p @ Project(_, s: Sort) => onePartition(s).map(c => p.copy(child = c))
    case r @ Repartition(1, false, _: Sort) => singleFile(r)
    case _ => None
  }

  private def singleFile(query: LogicalPlan): Option[LogicalPlan] = query match {
    case w: WriteFiles => singleFile(w.child).map(c => w.withNewChildren(Seq(c)))
    case r @ Repartition(1, false, s: Sort) => onePartition(s).map(c => r.copy(child = c))
    case _ => None
  }

  private def isNoopSink(table: LogicalPlan): Boolean = table match {
    case r: DataSourceV2Relation => r.table.name == "noop-table"
    case _ => false
  }

  private def onePartition(s: Sort): Option[LogicalPlan] =
    if (s.global && rowBound(s.child).exists(_ <= MaxRows))
      Some(s.copy(global = false,
        child = Repartition(1, shuffle = !narrowStage(s.child), s.child)))
    else None

  /** Upper bound on the rows `p` produces (see the object doc for the
    * sources). `footers` is false below an aggregate, where a scan does
    * not share the sort's stage.
    */
  private def rowBound(p: LogicalPlan, footers: Boolean = true): Option[Long] = p match {
    case m: MemoryPlan => Some(m.sink.allData.size.toLong)
    case _: Project | _: Filter => rowBound(p.children.head, footers)
    case a: Aggregate if a.groupingExpressions.nonEmpty => rowBound(a.child, footers = false)
    case u: Union =>
      val bounds = u.children.map(rowBound(_, footers))
      if (bounds.forall(_.isDefined)) Some(bounds.flatten.sum) else None
    case j: Join => (joinBound(j, footers) ++ j.maxRows).minOption
    case l: LogicalRelation if footers => footerRows(l)
    case _ => p.maxRows
  }

  /** The preserved side's bound, for a join that cannot repeat a
    * preserved row: the other side has at most one row, or is distinct
    * on its equi-join keys.
    */
  private def joinBound(j: Join, footers: Boolean): Option[Long] = {
    val (lk, rk) = j match {
      case ExtractEquiJoinKeys(_, lk, rk, _, _, _, _, _) => (lk, rk)
      case _ => (Nil, Nil)
    }
    j.joinType match {
      case LeftSemi | LeftAnti => rowBound(j.left, footers)
      case Inner | Cross | LeftOuter if unique(j.right, rk) => rowBound(j.left, footers)
      case Inner | Cross if unique(j.left, lk) => rowBound(j.right, footers)
      case _ => None
    }
  }

  /** Whether `p` has at most one row per value of `keys`. A query stage
    * reports no distinct keys of its own, so this reads the logical
    * plan each stage stands for.
    */
  private def unique(p: LogicalPlan, keys: Seq[Expression]): Boolean = {
    def unstaged(q: LogicalPlan): LogicalPlan =
      q.transformUp { case s: LogicalQueryStage => unstaged(s.logicalPlan) }
    val u = unstaged(p)
    (p.maxRows ++ u.maxRows).exists(_ <= 1) || (keys.nonEmpty &&
      u.distinctKeys.exists(_.subsetOf(ExpressionSet(keys))))
  }

  /** Rows of a parquet scan, from the footers of the files its index
    * lists.
    */
  private def footerRows(l: LogicalRelation): Option[Long] = l.relation match {
    case r @ HadoopFsRelation(index: PartitioningAwareFileIndex, _, _, _,
        _: ParquetFileFormat, _) =>
      Some(Tables.parquetRows(r.sparkSession, index.allFiles()))
    case _ => None
  }

  /** Whether everything between the sort and the nearest exchange (or
    * leaf) below it is a projection, filter or aggregate, so funnelling
    * that stage into one task costs only bounded-row work.
    */
  private def narrowStage(p: LogicalPlan): Boolean = p match {
    case _: Project | _: Filter | _: Aggregate => narrowStage(p.children.head)
    case q: LogicalQueryStage => !aboveStages(q.physicalPlan).exists {
      case _: WindowExecBase | _: BaseJoinExec | _: GenerateExec => true
      case _ => false
    }
    case _: LeafNode => true
    case _ => false
  }

  /** The physical operators of a query stage's plan that run above its
    * materialized stages, i.e. in the same stage as the sort.
    */
  private def aboveStages(p: SparkPlan): Seq[SparkPlan] = p match {
    case _: QueryStageExec => Nil
    case _ => p +: p.children.flatMap(aboveStages)
  }
}
