package graft

import org.apache.spark.sql.catalyst.expressions.AttributeSet
import org.apache.spark.sql.catalyst.expressions.aggregate.Partial
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.aggregate.HashAggregateExec
import org.apache.spark.sql.execution.exchange.{REPARTITION_BY_COL, ShuffleExchangeExec}

/** Map-side combine under an explicit `repartition(keys)`.
  *
  * `df.repartition(k).groupBy(k ++ more).agg(…)` plans as
  * `Final ← Partial ← Exchange(hash k)`: the planner puts the user's
  * exchange below the whole aggregate, so every input row is shuffled
  * and the partial aggregate only combines after the shuffle. When the
  * partitioning keys are among the grouping keys, the partial's output
  * still carries them, so the same exchange can just as well run on the
  * partial's output: `Final ← Exchange(hash k) ← Partial`. Rows combine
  * per map task before the exchange (the reference's thread-local
  * partial arrays, `ETL.java:130-132`); the final aggregate's
  * `ClusteredDistribution` is still met by the same hash partitioning,
  * so no exchange is added and no hash pass is added anywhere.
  *
  * Only that shape matches: a [[HashAggregateExec]] whose aggregate
  * expressions are all `Partial` (no required child distribution),
  * directly on a `REPARTITION_BY_COL` hash exchange whose references
  * are a subset of the grouping attributes. */
object PartialAggregateBeforeRepartition extends Rule[SparkPlan] {
  override def apply(plan: SparkPlan): SparkPlan = plan.transformUp {
    case agg: HashAggregateExec if agg.requiredChildDistributionExpressions.isEmpty &&
        agg.aggregateExpressions.forall(_.mode == Partial) => agg.child match {
      case ex @ ShuffleExchangeExec(hp: HashPartitioning, child, REPARTITION_BY_COL, _)
          if hp.references.subsetOf(AttributeSet(agg.groupingExpressions.map(_.toAttribute))) =>
        ex.copy(child = agg.copy(child = child))
      case _ => agg
    }
  }
}
