package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.{BROADCAST, HintInfo, Join, JoinHint, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule

import graft.ops.Broadcasts

/** Optimizer rule that turns [[graft.ops.Broadcasts]]' per-call-site
  * discipline into an engine-level guarantee for ANY query run through a
  * session with the graft extensions: a `broadcast()` hint whose build side
  * is estimated past the configured byte threshold is stripped, so the join
  * degrades to a shuffle strategy instead of OOMing a 1000-executor job on
  * an over-eager hint (the failure mode documented on Broadcasts: the hint
  * is how V-sized probes are *supposed* to be planned until the
  * executor-memory crossover, and how they kill the job past it).
  *
  * Placement: `injectOptimizerRule` / `experimental.extraOptimizations`
  * rules run in the User Provided Optimizers batch AFTER the main
  * optimizer, so `EliminateResolvedHint` has already collapsed hint nodes
  * into `Join.hint` — the rule rewrites the per-side [[JoinHint]], not
  * `ResolvedHint` — and filters/pruning have already landed, so the
  * `sizeInBytes` estimate reflects the pruned scan, not the raw table.
  *
  * Two deliberate conservatisms:
  *  - only the BROADCAST strategy is touched (SHUFFLE_MERGE etc. carry no
  *    memory risk);
  *  - a side whose estimate equals `spark.sql.defaultSizeInBytes` is left
  *    alone — that value is the NO-STATS sentinel (RDD-backed relations
  *    without propagated stats report it, e.g. `createDataFrame(rdd,
  *    schema)` and [[graft.ops.State.loop]] frames; `localCheckpoint` itself
  *    PRESERVES stats in Spark 4), and those sides are exactly the ones
  *    [[Broadcasts.maybeBroadcast]] already sized by exact row count. The
  *    rule guards hints over stats-bearing relations; it never undoes a
  *    count-based decision it can't see.
  *
  * Registered by [[graft.functions.GraftExtensions]]
  * (`spark.sql.extensions=graft.functions.GraftExtensions` or
  * `.withExtensions`), and active in the CLI session. Threshold:
  * [[Broadcasts.MaxBytesKey]], session-configurable (PlanShapeSpec injects
  * a 1-byte cap and proves the hinted join re-plans as a shuffle join with
  * identical results).
  */
case class StripOversizedBroadcastHints(spark: SparkSession) extends Rule[LogicalPlan] {

  private def maxBytes: BigInt = BigInt(spark.conf
    .get(Broadcasts.MaxBytesKey, Broadcasts.DefaultMaxBytes.toString).toLong)

  private def noStats: BigInt = BigInt(spark.sessionState.conf.defaultSizeInBytes)

  private def strip(side: Option[HintInfo], build: LogicalPlan): Option[HintInfo] =
    side match {
      case Some(h) if h.strategy.contains(BROADCAST) &&
          build.stats.sizeInBytes > maxBytes &&
          build.stats.sizeInBytes != noStats =>
        Option(h.copy(strategy = None)).filter(_ != HintInfo())
      case other => other
    }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case j: Join if j.hint != JoinHint.NONE =>
      val l = strip(j.hint.leftHint, j.left)
      val r = strip(j.hint.rightHint, j.right)
      if (l == j.hint.leftHint && r == j.hint.rightHint) j
      else j.copy(hint = JoinHint(l, r))
  }
}
