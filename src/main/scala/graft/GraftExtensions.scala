package graft

import graft.functions.GraftExpressions
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

/** Library packaging for the engine's native functions: injecting via
  * `SparkSessionExtensions` makes them first-class session functions —
  * present in every session derived from the builder (clones, Connect
  * planning, `spark.sql(...)` text) without the per-session
  * temp-registry call:
  *
  * {{{
  * SparkSession.builder()
  *   .withExtensions(new GraftExtensions)           // programmatic
  * // or spark.sql.extensions=graft.GraftExtensions  (config-driven)
  * }}}
  *
  * `Tables.load` still performs the temp-function registration as a
  * fallback so query builders work on sessions created without the
  * extension (e.g. the driver's own Verify/Bench sessions).
  *
  * The function list is NOT duplicated here: this injection iterates
  * `GraftExpressions.registrations` — name, usage text, and builder
  * all come from that one Seq, so the surfaces cannot drift.
  *
  * Besides the functions it injects the as-of join strategy and one AQE
  * query-stage preparation rule, [[graft.plans.SmallGlobalSort]]: a
  * global `ORDER BY` whose input is materialized query stages holding
  * at most one advisory partition (`advisoryPartitionSizeInBytes`, with
  * partition coalescing on) is sorted in one task behind a
  * `CoalesceExec(1)` instead of a sampled range shuffle. Larger sorts,
  * and sorts straight off a scan or a cached/checkpointed relation,
  * keep the parallel range sort; pre-execution plans and streaming
  * micro-batches (no AQE) are unchanged.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectPlannerStrategy(_ => graft.plans.AsOfJoin.AsOfJoinStrategy)
    e.injectQueryStagePrepRule(_ => graft.plans.SmallGlobalSort)
    GraftExpressions.registrations.foreach { r =>
      // the full 11-arg constructor (the 5-arg form is deprecated):
      // arguments/examples/note/group/since/deprecated/source all
      // empty — usage is the only doc surface these functions carry
      e.injectFunction((FunctionIdentifier(r.name),
        new ExpressionInfo("graft.functions.GraftExpressions", null, r.name,
          r.usage, "", "", "", "", "", "", ""),
        r.builder))
    }
  }
}
