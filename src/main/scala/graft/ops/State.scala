package graft.ops

import java.util.UUID

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, GraftInternalRows}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions.{count, lit}

/** A materialized frame: eagerly local-checkpointed, its row count (and
  * any caller metrics) observed on the checkpoint's own action, and its
  * partition count derived from that row count.
  *
  * The engine's one way to materialize iteration state (the reference's
  * per-round persist/unpersist pair, `coloring.py:126,219`) and every eager
  * one-shot memo, [[SessionCache]] entries included. Built by
  * [[State.loop]] or [[State.memo]], which share one body; round loops
  * land their states through [[State.iterate]]:
  *
  *  - an observation counts the rows, plus any extra metric columns the
  *    caller passes, and rides the checkpoint's one job — loop control
  *    reads its counts without a separate count job; a landing whose job
  *    fails frees its checkpoint;
  *  - the checkpoint is coalesced to `max(1, ceil(rows / 65536))`
  *    partitions, capped at the parent's partition count (never widened).
  *    Loop state shrinks by orders of magnitude across rounds but keeps
  *    its parent's partition count, and the fixed per-task cost of a round
  *    plan (~85 ms CPU/task measured on the truss round stages at sf0.1)
  *    then dominates every scan of a few-thousand-row frame. Coalescing an
  *    already-materialized checkpoint is a narrow dependency: no shuffle,
  *    no recompute.
  *
  * Storage is freed on purpose by [[release]], which unpersists the
  * checkpointed RDD. `DataFrame.unpersist` on a checkpointed frame is a
  * no-op (the frame is not in the cache manager), so without it the
  * blocks wait for the garbage collector. Release a loop state only after
  * the next state has landed, and never release a frame that a returned
  * plan still reads or that a [[SessionCache]] holds.
  *
  * Executor-loss posture: a local checkpoint has no lineage to recompute
  * from, so a lost checkpoint block fails the job loudly instead of
  * silently recomputing. This holds for every loop that materializes its
  * state here.
  */
final class State private (
    val df: DataFrame, val rows: Long,
    observed: Map[String, Any], checkpoint: RDD[InternalRow]) {

  /** The observed metric `name` (a caller column's alias) as a Long. A sum
    * or max over no rows reads 0. */
  def apply(name: String): Long = observed(name) match {
    case n: java.lang.Number => n.longValue
    case null => 0L
  }

  /** Unpersist the checkpointed blocks behind [[df]]. */
  def release(): Unit = checkpoint.unpersist(blocking = false)
}

object State {

  /** Rows-per-partition target. 64 Ki rows of state is far above the
    * per-task fixed-cost crossover and far below any size where
    * single-task row work matters. */
  val RowsPerPartition = 65536L

  private val RowsMetric = "graft_state_rows"

  /** Loop state. The frame is rebuilt over the checkpoint's internal rows
    * with RESET Catalyst statistics (its size estimate falls back to
    * `spark.sql.defaultSizeInBytes`). `Dataset.localCheckpoint` alone keeps
    * the source plan's estimate, so in a round loop each round's estimate
    * is a product over the previous round's and the BigInt arithmetic
    * grows until it dominates the driver (measured 70 s/round by round 13
    * of the colouring loop; flat 1 s with the reset). */
  def loop(df: DataFrame, metrics: Column*): State =
    materialize(df, metrics) { (ck, rdd, parts) =>
      GraftInternalRows.fromInternal(df.sparkSession,
        if (parts < rdd.getNumPartitions) rdd.coalesce(parts) else rdd,
        ck.schema)
    }

  /** One-shot memo, observing `metrics` as [[loop]] does. The frame KEEPS
    * the source plan's statistics, so the planner can still broadcast it
    * (q_fuzzy_join's band joins, the similarity memos); a memo is built
    * once, so its estimate cannot compound. */
  def memo(df: DataFrame, metrics: Column*): State =
    materialize(df, metrics) { (ck, rdd, parts) =>
      if (parts < rdd.getNumPartitions) ck.coalesce(parts) else ck
    }

  /** The frames one round of [[iterate]] lands besides its next state.
    * Each lives until that next state has landed. */
  final class Round private[graft] () {
    private val held = ArrayBuffer.empty[State]

    /** Land `df` through [[loop]] for the rest of this round. */
    def land(df: DataFrame, metrics: Column*): State = {
      val st = loop(df, metrics: _*)
      held += st
      st
    }

    private[graft] def release(): Unit = held.foreach(_.release())
  }

  /** The one round loop (the reference's per-round persist/unpersist
    * loop, `coloring.py:126,219`; the GraphX `Pregel` stance that only
    * observed counts leave the cluster). Before every round, the first
    * included, `done(state, rounds)` reads the current state's observed
    * metrics; the loop also stops after `cap` rounds. A round lands `step(state, rounds,
    * round)` through [[loop]] with `metrics`, then releases the frames it
    * landed through `round`, then the previous state. `init` is the
    * caller's one-shot land (it may observe metrics of its own, such as
    * Jp's Δ) and is owned from the call on: if `done`, a step or a landing
    * throws, everything held is released and the failure rethrown. Returns
    * the final state, which the caller owns, and the number of rounds run. */
  def iterate(init: State, cap: Int, metrics: Column*)(done: (State, Int) => Boolean)(
      step: (State, Int, Round) => DataFrame): (State, Int) = {
    var cur = init
    var rounds = 0
    releaseOnFailure(Seq(cur)) {
      while (!done(cur, rounds) && rounds < cap) {
        val round = new Round
        val next = try loop(step(cur, rounds, round), metrics: _*)
          finally round.release()
        cur.release()
        cur = next
        rounds += 1
      }
      (cur, rounds)
    }
  }

  /** `body`; if it throws, the states in `held` (read at the throw) are
    * released and the failure rethrown. For loops that keep several states
    * of their own. */
  def releaseOnFailure[A](held: => Iterable[State])(body: => A): A =
    try body
    catch {
      case t: Throwable =>
        held.foreach(_.release())
        throw t
    }

  private def materialize(df: DataFrame, metrics: Seq[Column])(
      layout: (DataFrame, RDD[InternalRow], Int) => DataFrame): State = {
    // A lazy checkpoint marks and persists its RDD before any job of the
    // final stage runs, so the RDD is in hand when that job fails and can
    // be freed (an eager one persists it inside the action and, on failure,
    // leaves it persisted with nothing holding it). The observation is
    // read off the plan's own metric collector once the job has run.
    val name = s"graft_state_${UUID.randomUUID()}"
    val observed = df.observe(name, count(lit(1)).as(RowsMetric), metrics: _*)
    val ck = observed.localCheckpoint(false)
    val rdd = ck.queryExecution.logical match {
      case l: LogicalRDD => l.rdd
      case other => throw new IllegalStateException(
        s"localCheckpoint planned ${other.getClass.getSimpleName}, not LogicalRDD")
    }
    try rdd.count()
    catch {
      case t: Throwable =>
        rdd.unpersist(blocking = false)
        throw t
    }
    val row = observed.queryExecution.observedMetrics(name)
    val values = row.getValuesMap[Any](row.schema.fieldNames.toSeq)
    val rows = values(RowsMetric).asInstanceOf[Long]
    val parts = math.min(rdd.getNumPartitions.toLong,
      math.max(1L, (rows + RowsPerPartition - 1) / RowsPerPartition)).toInt
    new State(layout(ck, rdd, parts), rows, values, rdd)
  }
}
