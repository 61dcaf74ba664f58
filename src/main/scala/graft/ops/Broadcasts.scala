package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.broadcast

/** Adaptive broadcast hint for V-sized probe tables (colors, degrees,
  * survivor sets, adjacency arrays) joined against E-sized edge streams —
  * the rebuild of the reference's per-round `(id → color)` broadcast
  * (`coloring.py:135-137`).
  *
  * At gate scale these tables are megabytes and an explicit `broadcast()`
  * hint keeps the E-sized side flowing through one map-side pass (AQE can
  * only discover the size after the producing shuffle finishes, and a
  * [[State.loop]] frame reports only the `defaultSizeInBytes` sentinel).
  * Past the executor-memory crossover (~10⁸ ids) the same hint is how a
  * 1000-executor job OOMs, so the hint is conditional and degrades to a
  * plain shuffle join beyond the threshold: one edges pass either way, just
  * shuffled instead of broadcast.
  *
  * The one signal is a row count the engine has already observed: a
  * [[State]]'s `rows` (the k-core peel counts survivors every round; Jp
  * states count the uncolored), a [[SessionCache]] count, or an upper bound
  * derived from one (a memo's rows bound any aggregate over it). A site
  * with no such count carries no hint, and Spark decides: the static
  * `autoBroadcastJoinThreshold` on file statistics, then adaptive execution
  * on runtime sizes. Catalyst's `sizeInBytes` is never read: through joins
  * and aggregates it runs 10²–10⁴× ahead of the real payload.
  *
  * The row threshold is session-configurable so tests can inject tiny
  * values and assert the hint actually disappears ([[PlanShapeSpec]]).
  */
object Broadcasts {

  /** Row-count threshold. 10⁸ id-sized rows ≈ 1–2 GB built hash relation —
    * the documented executor-memory crossover. */
  val MaxRowsKey = "graft.broadcast.maxRows"
  val DefaultMaxRows: Long = 100000000L

  /** Payload bound of [[maybeBroadcastSized]]: generous next to Spark's
    * 8 GB broadcast hard cap. */
  val MaxBytes: Long = 2L << 30

  private def rowsFit(df: DataFrame, rows: Long): Boolean =
    rows <= df.sparkSession.conf.get(MaxRowsKey, DefaultMaxRows.toString).toLong

  /** `broadcast(df)` when `rows`, an observed count of (or bound on) `df`'s
    * rows, is within [[MaxRowsKey]]; `df` unchanged past it. */
  def maybeBroadcast(df: DataFrame, rows: Long): DataFrame =
    if (rowsFit(df, rows)) broadcast(df) else df

  /** Two-signal gate for VARIABLE-PAYLOAD probe tables (neighbor-array
    * adjacency): `rows` alone is the wrong bound when each row carries an
    * array whose TOTAL payload grows with a different graph quantity — the
    * triangle adjacency has ≤ |V| rows but Θ(|E|) longs across its arrays,
    * so a row-only gate happily broadcasts past Spark's 8 GB hard cap and
    * the job FAILS outright instead of degrading to a shuffle join (r13
    * ADVICE). Broadcast only when BOTH the row count fits `maxRows` AND
    * the caller's exact payload estimate fits [[MaxBytes]]; either signal
    * over threshold degrades to the plain shuffle join. */
  def maybeBroadcastSized(df: DataFrame, rows: Long, payloadBytes: Long): DataFrame =
    if (rowsFit(df, rows) && payloadBytes <= MaxBytes) broadcast(df) else df
}
