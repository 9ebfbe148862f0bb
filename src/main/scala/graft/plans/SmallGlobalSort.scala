package graft.plans

import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{CoalesceExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{BroadcastQueryStageExec, ShuffleQueryStageExec}
import org.apache.spark.sql.execution.exchange.{ENSURE_REQUIREMENTS, Exchange, ShuffleExchangeExec}
import org.apache.spark.sql.internal.SQLConf

/** AQE query-stage preparation rule: a global sort whose input is
  * already known to fit one advisory partition is sorted in one task
  * (`CoalesceExec(1)`) instead of range-partitioned.
  *
  * A range exchange costs a `RangePartitioner` sampling job (which
  * recomputes the child pipeline), a shuffle map stage and a result
  * stage — for a presentation `ORDER BY` over a few MB that
  * `CoalesceShufflePartitions` would read as one partition anyway.
  * The rule fires only when every leaf under the exchange (down to the
  * next exchange) is a materialized shuffle or broadcast query stage,
  * coalescing is enabled, and the shuffle leaves' summed map output is
  * ≤ `spark.sql.adaptive.advisoryPartitionSizeInBytes`. Sorts over a
  * scan, a cached or checkpointed relation, or a larger input keep the
  * parallel range sort; so do user `repartitionByRange` exchanges
  * (their origin is not `ENSURE_REQUIREMENTS`). Pre-execution plans
  * never have materialized stages, so they are unchanged.
  *
  * The exchange is replaced, not dropped: `CoalesceExec(1)` reports
  * `SinglePartition`, which satisfies the global `SortExec`'s
  * `OrderedDistribution`, so AQE's final-stage requirement check keeps
  * the plan and the output stays totally ordered. AQE adopts the
  * re-planned stage because it has one shuffle fewer.
  */
object SmallGlobalSort extends Rule[SparkPlan] {

  override def apply(plan: SparkPlan): SparkPlan =
    if (!conf.coalesceShufflePartitionsEnabled) plan
    else plan.transformUp {
      case ShuffleExchangeExec(_: RangePartitioning, child, ENSURE_REQUIREMENTS, _)
          if stageInputBytes(child).exists(
            _ <= conf.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES)) =>
        CoalesceExec(1, child)
    }

  /** Summed map output of the shuffle stages `p` reads, or None unless
    * every leaf down to the next exchange is a materialized shuffle or
    * broadcast query stage.
    */
  private def stageInputBytes(p: SparkPlan): Option[Long] = p match {
    case s: ShuffleQueryStageExec if s.isMaterialized =>
      Some(s.mapStats.fold(0L)(_.bytesByPartitionId.sum))
    case b: BroadcastQueryStageExec if b.isMaterialized => Some(0L)
    case _: Exchange => None
    case _ if p.children.isEmpty => None
    case _ => p.children.foldLeft(Option(0L)) { (acc, c) =>
      for (a <- acc; b <- stageInputBytes(c)) yield a + b
    }
  }
}
