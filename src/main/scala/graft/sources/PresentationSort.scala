package graft.sources

import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.command.DataWritingCommand
import org.apache.spark.sql.execution.datasources.WriteFiles
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.execution.adaptive.{LogicalQueryStage, QueryStageExec}
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.execution.streaming.sources.MemoryPlan
import org.apache.spark.sql.execution.window.WindowExecBase
import org.apache.spark.sql.execution.GenerateExec

/** Result-sort planning from row counts. A global `ORDER BY` on a
  * result frame pays a range exchange: a sampling job plus a shuffle,
  * about 0.45 s of fixed cost whatever the row count. When the sort's
  * input is known to hold at most [[Tables.PresentationSortMaxRows]]
  * rows, one task sorting one partition gives the same total order for
  * a fraction of that. This rule makes that choice inside Catalyst, so
  * callers write a plain `orderBy`.
  *
  * Injected twice by [[Tables.graftSession]]: as an optimizer rule,
  * where the bound is static (`LocalRelation`, `Range`, `Limit`, a
  * memory-sink table's current row count), and as an AQE runtime
  * optimizer rule, where a materialized shuffle stage reports its exact
  * row count (`LogicalQueryStage.maxRows`), carried up through
  * `Aggregate`, `Filter` and `Project`. Before the stage below the sort
  * finishes, the range exchange's sampling job has not been submitted,
  * so re-planning there removes both of its jobs.
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
  * filters and aggregates (cheap on bounded rows). If a window, join or
  * generator sits in that stage, its input is not bounded by the
  * sort's row count, so a one-partition shuffle (`Repartition(1,
  * shuffle = true)`) keeps that stage parallel.
  */
object PresentationSort extends Rule[LogicalPlan] {

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
    if (s.global &&
        rowBound(s.child).exists(_ <= Tables.PresentationSortMaxRows))
      Some(s.copy(global = false,
        child = Repartition(1, shuffle = !narrowStage(s.child), s.child)))
    else None

  /** Whether a plain `orderBy` over `p` leaves this rule a row count to
    * plan from: a static bound, or a top aggregate or window, whose
    * shuffle stage AQE counts at runtime. A join's runtime bound is the
    * product of its inputs' counts, and a bare scan or read-back has no
    * stage to count, so neither qualifies.
    */
  def plansOwnSort(p: LogicalPlan): Boolean = rowBound(p).isDefined || (p match {
    case _: Project | _: Filter => plansOwnSort(p.children.head)
    case _: Aggregate | _: Window => true
    case u: Union => u.children.forall(plansOwnSort)
    case _ => false
  })

  /** Upper bound on the rows `p` produces: Catalyst's `maxRows`, except
    * that a memory-sink table (which has none) reports its sink's
    * current row count, seen through the operators that cannot add
    * rows.
    */
  private def rowBound(p: LogicalPlan): Option[Long] = p match {
    case m: MemoryPlan => Some(m.sink.allData.size.toLong)
    case _: Project | _: Filter => rowBound(p.children.head)
    case a: Aggregate if a.groupingExpressions.nonEmpty => rowBound(a.child)
    case _ => p.maxRows
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
