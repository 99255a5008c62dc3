package graft.plans

import org.apache.spark.sql.catalyst.optimizer.EliminateSorts
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Repartition, Sort}
import org.apache.spark.sql.catalyst.rules.Rule

import graft.sources.TsdbStore

/** Optimizer rule dropping a fetch's one-partition gather once no sort
  * sits on it.
  *
  * Every sorted fetch-surface frame ends in `Sort ← Repartition(1)`:
  * the gather lets the final sort run in one task with no range
  * exchange, hence no boundary-sampling job re-running the scan. When
  * the frame is composed into a larger query, Spark may drop that sort
  * (a join input, an order-insensitive aggregate); the gather then
  * orders nothing and only feeds the operator above from one
  * partition. Only gathers the fetch surface tagged
  * ([[TsdbStore.FetchGather]]) are dropped, so a user's own
  * `repartition(1)` is untouched and a composed fetch plans exactly as
  * under a plain `orderBy`.
  */
object DropOrphanGathers extends Rule[LogicalPlan] {
  /** Spark drops redundant sorts in its own later batch, which injected
    * rules cannot follow; so on a plan holding a fetch gather this rule
    * runs that same sort elimination first, then drops every gather no
    * sort sits on. Plans without a fetch frame are returned untouched. */
  override def apply(plan: LogicalPlan): LogicalPlan =
    if (!plan.exists(gathered(_).isDefined)) plan
    else EliminateSorts(plan).transformUp {
      case p if !p.isInstanceOf[Sort] && p.children.exists(gathered(_).isDefined) =>
        p.withNewChildren(p.children.map(c => gathered(c).getOrElse(c)))
    }

  /** The input of a tagged gather. The shape is checked too: a rule
    * that replaces a node hands its tags to the replacement. */
  private def gathered(p: LogicalPlan): Option[LogicalPlan] = p match {
    case r: Repartition if r.numPartitions == 1 && r.shuffle &&
        r.getTagValue(TsdbStore.FetchGather).isDefined => Some(r.child)
    case _ => None
  }
}
