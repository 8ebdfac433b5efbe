package graft.plans

import org.apache.spark.sql.catalyst.plans.physical.{RangePartitioning, SinglePartition}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{SortExec, SparkPlan}
import org.apache.spark.sql.execution.exchange.{ENSURE_REQUIREMENTS, ShuffleExchangeExec}
import org.apache.spark.sql.internal.SQLConf

/** AQE query-stage preparation rule: sort a small result in one partition.
  *
  * A global sort plans as `SortExec(global) ← ShuffleExchangeExec(
  * RangePartitioning)`. Building the range bounds runs a sampling job that
  * computes the exchange's whole child stage, and then the shuffle-map job
  * computes it again. For a dashboard result of a few MB that second pass
  * is most of the query's last stage. This rule gives such an exchange
  * `SinglePartition` instead: one partition needs no bounds, so the
  * sampling job goes, and one sorted partition is the same total order.
  *
  * It fires only when the exchange was inserted to meet the sort's
  * requirement (`ENSURE_REQUIREMENTS`, so never a user `repartitionByRange`)
  * and the child's estimated size is at most
  * `spark.sql.adaptive.advisoryPartitionSizeInBytes`: one post-shuffle
  * partition's worth, the size AQE itself coalesces towards. The estimate
  * is Catalyst's, read from the child's logical link; once the stages
  * below have run, AQE re-plans with their runtime statistics, so the rule
  * decides on measured sizes. The session already trusts the same
  * estimate for its broadcast threshold ([[graft.GraftSession]]). A sort
  * above the threshold keeps its parallel range shuffle, as does any sort
  * whose child has no logical link. `TakeOrderedAndProject` (a sort under a
  * limit) has no such exchange, and plans without AQE never run the rule.
  */
object SmallSortRule extends Rule[SparkPlan] {
  override def apply(plan: SparkPlan): SparkPlan = {
    val threshold = conf.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES)
    plan.transformUp {
      case s @ SortExec(_, true,
          e @ ShuffleExchangeExec(RangePartitioning(_, n), child, ENSURE_REQUIREMENTS, _), _)
          if n > 1 && child.logicalLink.exists(_.stats.sizeInBytes <= threshold) =>
        s.withNewChildren(Seq(e.copy(outputPartitioning = SinglePartition)))
    }
  }
}
