package graft.color

import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.storage.StorageLevel

/** The reference-shaped greedy kernel as a raw `aggregateByKey` round loop —
  * the literal rebuild of `coloring_optimized.py:70-146`: per round, bucket
  * the uncolored candidates by their first-fit color and admit a greedy
  * independent set per bucket with map-side partial combine
  * (`aggregateByKey`, `coloring_optimized.py:120-126`; the partial/merge
  * logic lives in [[GreedyIS]]).
  *
  * Why an RDD formulation exists next to [[ColoringKernel]]'s DataFrame
  * rounds: an iterative kernel's per-round cost at a fixed graph size is
  * dominated by planning + stage fixed cost, not data volume — the same
  * reason [[GraphXKernel]] runs the deterministic Δ+1 trace below its
  * crossover. Holding the state and adjacency as co-partitioned RDDs under
  * ONE `HashPartitioner` makes every per-round join narrow (candidates ⋈
  * adjacency, updates ⋈ adjacency, state cogroup); the only shuffles left
  * per round are the color-bucket `aggregateByKey` (key space ≤ k) and the
  * two small delta repartitions — measured ~0.35 s/round vs ~1.5 s/round
  * for the same admit as Catalyst-planned DataFrame rounds at sf0.1.
  *
  * Honest scale bound, inherited from the reference's semantics: the
  * cross-partition merge of one color bucket is SERIAL (greedy admit is a
  * sequential fold), and early rounds put most candidates in bucket 0 —
  * the map-side partial greedy prunes what reaches that single reducer,
  * but a giant component still bottlenecks on it. That is the
  * `aggregateByKey` design being replayed faithfully; the deterministic
  * Jp rounds and GraphX trace (pure per-edge messaging, no per-bucket
  * fold) are the 100 TB path and the one the corpus queries take.
  *
  * Scale posture: partition count follows the same ~250k-edges/partition
  * rule as [[GraphXKernel.prepare]]; all per-vertex structures stay
  * distributed (no driver collect); the per-round state is
  * `localCheckpoint`ed — for this PARTITIONING-DEPENDENT strategy
  * (reference-faithful: the partial greedy prunes before the merge sees
  * everything) a lost cached partition must fail loudly rather than
  * recompute, because a recompute could silently admit a set inconsistent
  * with the stats already committed (same policy as the DF path's
  * every-round checkpoint, ColoringKernel round loop).
  *
  * k ≤ 64 only (used colors ride a 64-bit mask updated from each round's
  * newly-colored delta — O(E) total gather across ALL rounds, see
  * `ColoringKernel.applyWithMask`). [[ColoringKernel.tryColor]] delegates
  * here only when `ColoringKernel.greedyFits` holds and runs every other
  * greedy request on Jp.
  *
  * Both entry points hand the final colors to a caller's `land` function
  * and unpersist the last round's state once it returns, so `land` must
  * copy or fully consume the colors it is given.
  */
object GreedyRddKernel {

  /** Per-vertex round state: color (−1 uncolored, −3 infeasible), static
    * degree, used-neighbor-color bitmask. */
  private final case class GState(color: Int, deg: Int, mask: Long)

  /** Uncolored-set size at or below which a kernel round loop switches to
    * the tail-local solve (one task finishes the residual subproblem — see
    * the loop comment here and in [[GraphXKernel.tryColorOn]], which shares
    * this knob). Session-configurable; 0 disables the switch. The
    * default admits tens of thousands of vertices — milliseconds of
    * sequential CPU — and the switch additionally requires the tail's
    * DEGREE SUM under [[TailLocalSolveMaxEdges]] (tracked exactly by the
    * per-round aggregate), so a skew hub can never drag an oversized
    * adjacency into the single task: worst-case task payload is
    * ~maxEdges · 8 B of neighbor ids. */
  val TailLocalSolveRowsKey = "graft.kernel.tailLocalSolveRows"
  val DefaultTailLocalSolveRows: Long = 16384L

  /** Hard edge-volume bound for the tail-local solve (Σ deg over the
    * uncolored tail); ~8 MB of neighbor ids at the default. */
  val TailLocalSolveMaxEdges: Long = 1L << 20

  /** Attempt a k-coloring (k ≤ 64) of a symmetric, irreflexive, dedup'd
    * `(src,dst)` edge list. Returns `(land(colors), rounds)` on success. */
  def tryColor[T](
      spark: SparkSession,
      edgesDf: DataFrame,
      k: Int,
      maxRounds: Int = 200)(land: DataFrame => T): Option[(T, Int)] = {
    require(k <= 64, s"mask kernel supports k <= 64, got $k")
    run(spark, edgesDf, knownEdges = None, fixedK = Some(k), maxRounds, land)
  }

  /** Δ+1 entry for q_color_greedy: derive k = Δ+1 from the kernel's OWN
    * adjacency instead of a separate DataFrame degree pass, with the vertex
    * count and max degree read off one aggregate over the just-built
    * adjacency (that action doubles as the initial materialization the old
    * init-count performed; V is also the initial uncolored count, since an
    * edge-derived vertex set has no isolated vertices). `knownEdges` (the
    * exact count from the kernel-edge memo) sizes the partitioner, so the
    * old `raw.count` deserialization pass disappears too — r7 measured the
    * two dropped passes + the degree agg at ~1.3 s of q_color_greedy's
    * 12.5 s at sf0.1.
    *
    * Returns None when `ColoringKernel.greedyFits` rejects the derived
    * palette for the EXACT V (the same rule the strategy router applies),
    * or on a genuine stall past `maxRounds`; the caller then runs the Jp
    * rounds. */
  def colorDeltaPlusOne[T](
      spark: SparkSession,
      edgesDf: DataFrame,
      knownEdges: Long,
      maxRounds: Int = 200)(land: DataFrame => T): Option[(T, Int)] =
    run(spark, edgesDf, Some(knownEdges), fixedK = None, maxRounds, land)

  private def run[T](
      spark: SparkSession,
      edgesDf: DataFrame,
      knownEdges: Option[Long],
      fixedK: Option[Int],
      maxRounds: Int,
      land: DataFrame => T): Option[(T, Int)] = {
    import spark.implicits._

    // InternalRow extraction instead of the Dataset tuple encoder: the
    // kernel only needs two primitive longs per row, and the encoder's
    // deserializer projection was measurable against a 32-thread local
    // session (the rows are consumed immediately, so UnsafeRow reuse across
    // the iterator is safe).
    val raw = edgesDf.select(col("src"), col("dst")).queryExecution.toRdd
      .map(r => (r.getLong(0), r.getLong(1)))
    // Partition rule: ~250k edges/partition bounds per-partition memory at
    // scale (same rule as GraphXKernel.prepare), floored at 4 — at small E
    // the old min(parallelism, E/250k) collapsed to 2 partitions on a
    // 32-core local session and the round loop ran on 2 threads (r7 sweep
    // at sf0.1: rounds 6.0 s at nParts=2, 4.1 s at 4, 4.9 s at 8, 7.1 s at
    // 32 — per-round data is small, so task scheduling overtakes
    // parallelism fast). On a real cluster E/250k dominates and the floor
    // is inert.
    val e = knownEdges.getOrElse(raw.count())
    val nParts = math.max(
      math.min(4, spark.sparkContext.defaultParallelism),
      (e / 250000L).toInt)
    val part = new HashPartitioner(nParts)

    // Static adjacency, built once, co-partitioned with everything below
    // (the optimized reference ships the same projected neighbor-ids record
    // through its shuffle, coloring_optimized.py:86-90).
    val adj: RDD[(Long, Array[Long])] = raw
      .groupByKey(part)
      .mapValues(_.toArray)
      .persist(StorageLevel.MEMORY_AND_DISK)

    var state: RDD[(Long, GState)] =
      adj.mapValues(nbrs => GState(-1, nbrs.length, 0L))
    // RDD round state: outside State, which materializes DataFrames.
    state.persist(StorageLevel.MEMORY_AND_DISK).localCheckpoint()

    // One aggregate gives V (= initial uncolored: every vertex of an edge
    // list has degree ≥ 1) and Δ, materializing the adjacency cache.
    val (v, maxDeg) = adj.aggregate((0L, 0))(
      (a, kv) => (a._1 + 1L, math.max(a._2, kv._2.length)),
      (a, b) => (a._1 + b._1, math.max(a._2, b._2)))
    val k = fixedK.getOrElse(maxDeg + 1)
    if (fixedK.isEmpty && !ColoringKernel.greedyFits(spark, v, k)) {
      // Palette wider than the mask, or the serial-merge bucket ceiling:
      // reject before any round so the caller reroutes.
      state.unpersist(blocking = false)
      adj.unpersist(blocking = false)
      return None
    }

    val tailRows = spark.conf
      .get(TailLocalSolveRowsKey, DefaultTailLocalSolveRows.toString).toLong

    var rounds = 0
    var uncolored = v
    // Σ deg over the uncolored set: initially every vertex is uncolored, so
    // the sum is exactly the directed edge count; maintained by the
    // per-round aggregate afterwards. Guards the tail-local task's payload.
    var uncoloredDeg = e
    var failed = false

    while (uncolored > 0 && !failed) {
      rounds += 1
      if (rounds > maxRounds) failed = true
      else if (uncolored <= tailRows && uncoloredDeg <= TailLocalSolveMaxEdges) {
        // Tail-local solve: once the uncolored set fits one task, finishing
        // it with scheduled cluster rounds is pure overhead — each remaining
        // round moves < tailRows vertices through 3 shuffles (r7 at sf0.1:
        // rounds 5-15 each carried < 10k vertices for ~0.25 s of mostly
        // stage latency). Shuffle the residual subproblem — (id, deg, mask,
        // nbrs) for every still-uncolored vertex — into ONE partition and
        // run the greedy first-fit fold sequentially there: the exact
        // single-partition degenerate case of the bucketed rounds (the
        // admitted sets are declared partitioning-dependent, GreedyIS
        // scaladoc, so collapsing the tail to one partition is within the
        // contract; every output remains a valid coloring, infeasible
        // vertices still surface as −3). An executor task, NOT a driver
        // collect — memory is bounded by Σ deg(tail) ≤ tailRows · Δ.
        val solved: RDD[(Long, Int)] = state
          .filter(_._2.color == -1)
          .join(adj)
          .coalesce(1, shuffle = true)
          .mapPartitions { it =>
            val nodes = it.map { case (id, (st, nbrs)) => (id, st.deg, st.mask, nbrs) }
              .toArray
            // GreedyIS total order: (degree desc, id asc).
            val sorted = nodes.sortBy { case (id, deg, _, _) => (-deg, id) }
            val extra = new java.util.HashMap[Long, Long]()
            val out = new scala.collection.mutable.ArrayBuffer[(Long, Int)](sorted.length)
            sorted.foreach { case (id, _, m0, nbrs) =>
              val m = m0 | extra.getOrDefault(id, 0L)
              val free = java.lang.Long.numberOfTrailingZeros(~m)
              if (free < k) {
                var i = 0
                while (i < nbrs.length) {
                  extra.merge(nbrs(i), 1L << free, (x, y) => x | y)
                  i += 1
                }
                out += ((id, free))
              } else out += ((id, -3))
            }
            out.iterator
          }
        val updates = solved.partitionBy(part)
          .persist(StorageLevel.MEMORY_AND_DISK)
        // Every uncolored vertex was in the tail, so the next state is
        // final: colored vertices keep their color, tail vertices take the
        // local assignment; masks no longer matter.
        val next = state.cogroup(updates, part)
          .mapValues { case (vs, us) =>
            val st = vs.head
            if (us.nonEmpty) GState(us.head, st.deg, st.mask) else st
          }
        next.persist(StorageLevel.MEMORY_AND_DISK).localCheckpoint()
        val (nextUncolored, inf) = next.aggregate((0L, 0L))(
          (a, kv) => (
            a._1 + (if (kv._2.color == -1) 1L else 0L),
            a._2 + (if (kv._2.color == -3) 1L else 0L)),
          (a, b) => (a._1 + b._1, a._2 + b._2))
        updates.unpersist(blocking = false)
        state.unpersist(blocking = false)
        state = next
        if (inf > 0) failed = true
        uncolored = nextUncolored
      }
      else {
        // First-fit candidate map-side from the carried mask (O13).
        val cand = state
          .filter(_._2.color == -1)
          .mapValues { v =>
            val free = java.lang.Long.numberOfTrailingZeros(~v.mask)
            (if (free < k) free else -3, v.deg)
          }
        // Bucket by candidate color and admit a greedy IS per bucket —
        // aggregateByKey = map-side partial greedy + sorted-merge greedy,
        // the reference's centerpiece. cand⋈adj is narrow (same partitioner).
        val admitted = cand
          .filter(_._2._1 >= 0)
          .join(adj)
          .map { case (id, ((c, deg), nbrs)) => (c, CandNode(id, deg, nbrs)) }
          .aggregateByKey(GreedyIS.zero, math.min(k, nParts))(
            GreedyIS.reduce, GreedyIS.merge)
          .flatMap { case (c, seq) => seq.map(n => (n.id, c)) }
        val infeasible = cand.filter(_._2._1 == -3).map { case (id, _) => (id, -3) }
        val updates = (admitted ++ infeasible).partitionBy(part)
          .persist(StorageLevel.MEMORY_AND_DISK)
        // Delta mask gather: each newly admitted color notifies its
        // neighbors once over the whole run (updates⋈adj narrow).
        val gained = updates
          .filter(_._2 >= 0)
          .join(adj)
          .flatMap { case (_, (c, nbrs)) => nbrs.iterator.map(n => (n, 1L << c)) }
          .reduceByKey(part, _ | _)
        val next = state.cogroup(updates, gained, part)
          .mapValues { case (vs, us, gs) =>
            val v = vs.head
            GState(
              if (us.nonEmpty) us.head else v.color,
              v.deg,
              v.mask | gs.foldLeft(0L)(_ | _))
          }
        // Fail-loud materialization: localCheckpoint truncates lineage at
        // this round's action — a lost block can never recompute through
        // the partitioning-dependent admit.
        next.persist(StorageLevel.MEMORY_AND_DISK).localCheckpoint()
        val (nextUncolored, inf, nextDeg) = next.aggregate((0L, 0L, 0L))(
          (a, kv) => (
            a._1 + (if (kv._2.color == -1) 1L else 0L),
            a._2 + (if (kv._2.color == -3) 1L else 0L),
            a._3 + (if (kv._2.color == -1) kv._2.deg.toLong else 0L)),
          (a, b) => (a._1 + b._1, a._2 + b._2, a._3 + b._3))
        updates.unpersist(blocking = false)
        state.unpersist(blocking = false)
        state = next
        if (inf > 0) failed = true
        else if (nextUncolored >= uncolored) failed = rounds >= maxRounds
        uncolored = nextUncolored
        uncoloredDeg = nextDeg
      }
    }

    adj.unpersist(blocking = false)
    try
      if (failed) None
      else {
        val colors = state.map { case (id, v) => (id, v.color) }.toDF("id", "color")
        Some((land(colors), rounds))
      }
    finally state.unpersist(blocking = false)
  }
}
