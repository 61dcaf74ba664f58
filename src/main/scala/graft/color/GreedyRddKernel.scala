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
  * dominated by planning + stage fixed cost, not data volume. Holding
  * the state and adjacency as co-partitioned RDDs under ONE
  * `HashPartitioner` makes every per-round join narrow (candidates ⋈
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
  * Jp rounds (pure per-edge probes, no per-bucket fold) are the 100 TB
  * path and the one q_color_graph and q_minimal_colors take.
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
  * One run colors with the palette k = Δ+1, k ≤ 64 only: used colors ride
  * a 64-bit mask updated from each round's newly-colored delta — O(E)
  * total gather across ALL rounds, see `ColoringKernel.applyWithMask`. A
  * vertex has at most deg ≤ Δ used colors, so its first free color is
  * always below k. [[greedyFits]] decides whether a graph runs here, and
  * [[ColoringKernel.tailFits]] when its rounds hand the rest to one task.
  *
  * [[colorDeltaPlusOne]] hands the final colors to a caller's `land`
  * function and unpersists the last round's state once it returns, so
  * `land` must copy or fully consume the colors it is given.
  */
object GreedyRddKernel {

  /** Per-vertex round state: color (−1 uncolored), static degree,
    * used-neighbor-color bitmask. */
  private final case class GState(color: Int, deg: Int, mask: Long)

  /** Expected-rows-per-color-bucket bound. The GreedyIS admit reduces
    * each color bucket in ONE reducer — the merge is inherently serial per
    * bucket (the reference's own aggregateByKey shape), so the scale
    * ceiling is ~V/k rows through a single task. Session-configurable so a
    * test can inject a tiny bound and observe the switch.
    *
    * Default = the MEASURED crossover (r13, paired A/Bs on the kernel
    * graph, k = 63, canary-calm box): GreedyRdd vs Jp wall 3.9/28.3 s at
    * V/k = 317 (sf0.1), 21.7/35.4 s at 3 175 (10×), 78.2/52.4 s at 9 524
    * (30×), 567.9/110.3 s at 31 746 (100× — the serial merge was 9.7% of
    * the whole r12 leg). The reference-parity strategy wins below ~5–6 k
    * rows/bucket, Jp above; 2¹³ sits between the measured winners on the
    * conservative (reference-parity) side, so 30×-and-larger runs
    * auto-route to Jp while gate-scale corpora keep the aggregateByKey
    * shape. */
  val MaxBucketRowsKey = "graft.greedy.maxBucketRows"
  val DefaultMaxBucketRows: Long = 8192L

  /** The one greedy routing rule, for a graph of V vertices colored with
    * palette k: it runs here iff k fits the 64-bit used-color mask and the
    * expected per-bucket size V/k is within [[MaxBucketRowsKey]] — the
    * documented skew ceiling of the ≤k-key reduce, enforced in code rather
    * than by caller choice. Otherwise [[colorDeltaPlusOne]] declines and
    * the caller runs the deterministic Jp rounds. */
  private[graft] def greedyFits(spark: SparkSession, v: Long, k: Int): Boolean = {
    val maxBucket = spark.conf.get(MaxBucketRowsKey, DefaultMaxBucketRows.toString).toLong
    k <= 64 && v / math.max(k, 1) <= maxBucket
  }

  /** The Δ+1 run: k = Δ+1 comes from the kernel's OWN adjacency instead
    * of a separate DataFrame degree pass, with the vertex count and max
    * degree read off one aggregate over the just-built adjacency (that
    * action doubles as its materialization; V is also the initial
    * uncolored count, since an edge-derived vertex set has no isolated
    * vertices). `knownEdges` (the exact count of `edgesDf`) sizes the
    * partitioner — r7 measured the dropped count, deserialization and
    * degree passes at ~1.3 s of q_color_greedy's 12.5 s at sf0.1.
    *
    * Returns `(land(colors), rounds)`, or None when [[greedyFits]] rejects
    * the palette for the EXACT V; the caller then runs the Jp rounds.
    * Throws when `maxRounds` rounds leave a vertex uncolored. Whatever the
    * run persisted is freed when it returns or throws. */
  def colorDeltaPlusOne[T](
      spark: SparkSession,
      edgesDf: DataFrame,
      knownEdges: Long,
      maxRounds: Int = 200)(land: DataFrame => T): Option[(T, Int)] = {
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
    val nParts = math.max(
      math.min(4, spark.sparkContext.defaultParallelism),
      (knownEdges / 250000L).toInt)
    val part = new HashPartitioner(nParts)

    // Every RDD the run holds persisted, freed as soon as it is read for
    // the last time, and all at once if a job throws.
    val held = scala.collection.mutable.Set.empty[RDD[_]]
    def hold[R <: RDD[_]](r: R): R = {
      held += r
      r.persist(StorageLevel.MEMORY_AND_DISK)
      r
    }
    def release(r: RDD[_]): Unit = {
      r.unpersist(blocking = false)
      held -= r
    }

    try {
      // Static adjacency, built once, co-partitioned with everything below
      // (the optimized reference ships the same projected neighbor-ids
      // record through its shuffle, coloring_optimized.py:86-90).
      val adj: RDD[(Long, Array[Long])] = hold(raw.groupByKey(part).mapValues(_.toArray))

      // RDD round state: outside State, which materializes DataFrames.
      var state: RDD[(Long, GState)] =
        hold(adj.mapValues(nbrs => GState(-1, nbrs.length, 0L)))
      state.localCheckpoint()

      // One aggregate gives V (= initial uncolored: every vertex of an edge
      // list has degree ≥ 1) and Δ, materializing the adjacency cache.
      val (v, maxDeg) = adj.aggregate((0L, 0))(
        (a, kv) => (a._1 + 1L, math.max(a._2, kv._2.length)),
        (a, b) => (a._1 + b._1, math.max(a._2, b._2)))
      val k = maxDeg + 1
      // Palette wider than the mask, or the serial-merge bucket ceiling:
      // decline before any round so the caller reroutes.
      if (!greedyFits(spark, v, k)) return None

      var rounds = 0
      var uncolored = v
      // Σ deg over the uncolored set: initially every vertex is uncolored,
      // so the sum is exactly the directed edge count; maintained by the
      // per-round aggregate afterwards. Guards the tail-local task's payload.
      var uncoloredDeg = knownEdges

      while (uncolored > 0) {
        rounds += 1
        if (rounds > maxRounds) throw new IllegalStateException(
          s"GreedyRdd left $uncolored vertices uncolored after $maxRounds rounds")
        // This round's updates and next state: (updates, next).
        val (updates, next) =
          if (ColoringKernel.tailFits(spark, uncolored, uncoloredDeg)) {
            // Tail-local solve: once the uncolored set fits one task,
            // finishing it with scheduled cluster rounds is pure overhead —
            // each remaining round moves a tail-sized set through 3
            // shuffles (r7 at sf0.1: rounds 5-15 each carried < 10k
            // vertices for ~0.25 s of mostly stage latency). Shuffle the
            // residual subproblem — (id, deg, mask, nbrs) for every
            // still-uncolored vertex — into ONE partition and run the greedy
            // first-fit fold sequentially there: the exact single-partition
            // degenerate case of the bucketed rounds (the admitted sets are
            // declared partitioning-dependent, GreedyIS scaladoc, so
            // collapsing the tail to one partition is within the contract;
            // every output remains a valid coloring). An executor task, NOT
            // a driver collect — memory is bounded by the tail rule's
            // degree sum (ColoringKernel.TailLocalSolveMaxEdges).
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
                  var i = 0
                  while (i < nbrs.length) {
                    extra.merge(nbrs(i), 1L << free, (x, y) => x | y)
                    i += 1
                  }
                  out += ((id, free))
                }
                out.iterator
              }
            val updates = hold(solved.partitionBy(part))
            // Every uncolored vertex was in the tail, so the next state is
            // final: colored vertices keep their color, tail vertices take
            // the local assignment; masks no longer matter.
            (updates, state.cogroup(updates, part)
              .mapValues { case (vs, us) =>
                val st = vs.head
                if (us.nonEmpty) GState(us.head, st.deg, st.mask) else st
              })
          } else {
            // First-fit candidate map-side from the carried mask (O13).
            val cand = state
              .filter(_._2.color == -1)
              .mapValues(v => (java.lang.Long.numberOfTrailingZeros(~v.mask), v.deg))
            // Bucket by candidate color and admit a greedy IS per bucket —
            // aggregateByKey = map-side partial greedy + sorted-merge
            // greedy, the reference's centerpiece. cand⋈adj is narrow (same
            // partitioner).
            val admitted = cand
              .join(adj)
              .map { case (id, ((c, deg), nbrs)) => (c, CandNode(id, deg, nbrs)) }
              .aggregateByKey(GreedyIS.zero, math.min(k, nParts))(
                GreedyIS.reduce, GreedyIS.merge)
              .flatMap { case (c, seq) => seq.map(n => (n.id, c)) }
            val updates = hold(admitted.partitionBy(part))
            // Delta mask gather: each newly admitted color notifies its
            // neighbors once over the whole run (updates⋈adj narrow).
            val gained = updates
              .join(adj)
              .flatMap { case (_, (c, nbrs)) => nbrs.iterator.map(n => (n, 1L << c)) }
              .reduceByKey(part, _ | _)
            (updates, state.cogroup(updates, gained, part)
              .mapValues { case (vs, us, gs) =>
                val v = vs.head
                GState(
                  if (us.nonEmpty) us.head else v.color,
                  v.deg,
                  v.mask | gs.foldLeft(0L)(_ | _))
              })
          }
        // Fail-loud materialization: localCheckpoint truncates lineage at
        // this round's action — a lost block can never recompute through
        // the partitioning-dependent admit.
        hold(next).localCheckpoint()
        val (nextUncolored, nextDeg) = next.aggregate((0L, 0L))(
          (a, kv) => if (kv._2.color == -1) (a._1 + 1L, a._2 + kv._2.deg) else a,
          (a, b) => (a._1 + b._1, a._2 + b._2))
        release(updates)
        release(state)
        state = next
        uncolored = nextUncolored
        uncoloredDeg = nextDeg
      }

      release(adj)
      val colors = state.map { case (id, v) => (id, v.color) }.toDF("id", "color")
      Some((land(colors), rounds))
    } finally held.foreach(_.unpersist(blocking = false))
  }
}
