package graft.color

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.ops.State

/** The iterative graph-coloring kernel — the rebuild of the reference's
  * per-k fixpoint (`coloring.py:73-132`, `coloring_optimized.py:70-146`) and
  * outer minimal-color search (`coloring.py:212-231`), re-expressed as a
  * driver loop over declarative DataFrame rounds (SURVEY.md §3, §7 step 4).
  *
  * Per round (given palette size k):
  *   1. gather used neighbor colors — `edges ⋈ colors` + `collect_set`
  *      (the reference's broadcast color probe O10/O11, kept fully
  *      distributed: no `collectAsMap` on the driver, SURVEY.md §7 risk 5);
  *   2. first-fit candidate — the custom codegen expression
  *      `graft_first_fit(used, k)` ([[graft.functions.FirstFitColor]];
  *      O13, `coloring_optimized.py:150-166`; -3 ⇒ infeasible ⇒ the
  *      k-attempt fails, `coloring.py:104-108`);
  *   3. same-color conflict resolution between adjacent candidates
  *      (O15-O17) by priority admit;
  *   4. apply the admitted colors — left join + `coalesce`
  *      (O20, `coloring.py:121-127`).
  *
  * Strategies:
  *   - [[Strategy.Jp]] (default, the DataFrame rounds here):
  *     Jones–Plassmann-style priority admit — a node keeps its candidate iff
  *     no *adjacent* node competing for the same candidate has higher
  *     (degree, id desc-asc) priority. Pure joins, **deterministic under any
  *     partitioning**, guaranteed progress (every conflict component admits
  *     its max-priority node), and the natural 100 TB formulation: one
  *     edges-shuffle per round, no per-node adjacency arrays shuffled around.
  *   - [[Strategy.GreedyRdd]] and [[Strategy.GraphX]] delegate their rounds
  *     to [[GreedyRddKernel]] and [[GraphXKernel]].
  *
  * Driver-side control flow stays a plain Scala loop — same stance as GraphX
  * `Pregel` (SURVEY.md §4): only counts cross to the driver. Every round's
  * state goes through [[State.loop]] (SURVEY.md §7 risk 4): the checkpoint
  * truncates lineage, and its own action observes the counts the loop
  * control reads.
  */
object ColoringKernel {

  sealed trait Strategy
  object Strategy {
    case object Jp extends Strategy
    /** Delegate rounds to [[GreedyRddKernel]] — the reference-shaped
      * two-phase [[GreedyIS]] admit per color bucket, executed as a raw
      * `aggregateByKey` loop over co-partitioned RDDs. A request runs here
      * only when [[greedyFits]] holds; otherwise it runs on Jp. */
    case object GreedyRdd extends Strategy
    /** Delegate rounds to [[GraphXKernel]] (aggregateMessages message
      * passing). Same speculative first-fit + priority-admit semantics;
      * lowest per-round fixed cost (no Catalyst planning per round) —
      * bench-selected default for the corpus kernel queries (7 s vs 18 s
      * for the DataFrame rounds at sf0.1). */
    case object GraphX extends Strategy
  }

  /** A k-coloring read off the checkpoint `state` holds; `release()` frees
    * that checkpoint. */
  final case class Colored(state: State, k: Int, rounds: Int) {
    def colors: DataFrame = state.df.select(col("id"), col("color"))
    def release(): Unit = state.release()
  }

  /** Distinct vertices of a symmetric edge list. */
  private def verticesOf(edges: DataFrame): DataFrame =
    edges.select(col("src").as("id")).distinct()

  /** Expected-rows-per-color-bucket bound for greedy requests. The
    * GreedyIS admit reduces each color bucket in ONE reducer — the merge is
    * inherently serial per bucket (the reference's own aggregateByKey
    * shape), so the scale ceiling is ~V/k rows through a single task.
    * Session-configurable so a test can inject a tiny bound and observe
    * the switch.
    *
    * Default = the MEASURED crossover (r13, paired A/Bs on the kernel
    * graph, k = 63, canary-calm box): GreedyRdd vs Jp wall 3.9/28.3 s at
    * V/k = 317 (sf0.1), 21.7/35.4 s at 3 175 (10×), 78.2/52.4 s at 9 524
    * (30×), 567.9/110.3 s at 31 746 (100× — the serial merge was 9.7% of
    * the whole r12 leg). The reference-parity strategy wins below ~5–6 k
    * rows/bucket, Jp above; 2¹³ sits between the measured winners on the
    * conservative (reference-parity) side, so 30×-and-larger runs
    * auto-route to Jp while gate-scale corpora keep the aggregateByKey
    * shape. The old 4 M default never fired before the merge dominated. */
  val GreedyMaxBucketRowsKey = "graft.greedy.maxBucketRows"
  val DefaultGreedyMaxBucketRows: Long = 8192L

  /** The one routing rule for a greedy request over V vertices with
    * palette k: it runs on GreedyRdd iff k fits the 64-bit used-color mask
    * and the expected per-bucket size V/k is within
    * [[GreedyMaxBucketRowsKey]] — the documented skew ceiling of the ≤k-key
    * reduce, enforced in code rather than by caller choice. Otherwise it
    * runs on the deterministic Jp strategy. */
  private[color] def greedyFits(spark: SparkSession, v: Long, k: Int): Boolean = {
    val maxBucket = spark.conf
      .get(GreedyMaxBucketRowsKey, DefaultGreedyMaxBucketRows.toString).toLong
    k <= 64 && v / math.max(k, 1) <= maxBucket
  }

  /** Apply [[greedyFits]] to a GreedyRdd request; other strategies pass
    * through. Two-tier size signal: the free Catalyst estimate (E rows
    * upper-bound V at ~24 B per (src,dst) UnsafeRow) decides when it can;
    * only when it reads "too big" — including the unknown-stats Long.Max
    * default of RDD-backed inputs — is an exact vertex count worth one
    * job, negligible next to the run it guards. */
  private[graft] def resolveStrategy(
      spark: SparkSession, edges: DataFrame, requested: Strategy, k: Int): Strategy =
    if (requested != Strategy.GreedyRdd) requested
    else {
      val sz = edges.queryExecution.optimizedPlan.stats.sizeInBytes
      val estRows =
        if (sz > BigInt(Long.MaxValue)) Long.MaxValue else (sz / 24).toLong max 1L
      if (greedyFits(spark, estRows, k) ||
        greedyFits(spark, verticesOf(edges).count(), k)) requested
      else Strategy.Jp
    }

  /** Attempt a k-coloring of `edges` (symmetric, irreflexive `(src,dst)`).
    * `init` optionally supplies extra vertices (isolated nodes never appear
    * in an edge list). Returns None when k colors are infeasible for the
    * first-fit rule or progress stalls past `maxRounds` (SURVEY.md §7
    * risk 6).
    */
  def tryColor(
      spark: SparkSession,
      edges: DataFrame,
      k: Int,
      strategy: Strategy = Strategy.Jp,
      extraVertices: Option[DataFrame] = None,
      maxRounds: Int = 200,
      preparedBase: Option[org.apache.spark.graphx.Graph[Int, Unit]] = None)
      : Option[Colored] = {

    // A delegating kernel hands its final colors to `land` and frees its
    // last round once they are copied into a State.
    def land(df: DataFrame): State = State.loop(appendIsolated(df, extraVertices))
    def colored(result: Option[(State, Int)]): Option[Colored] =
      result.map { case (st, rounds) => Colored(st, k, rounds) }
    if (strategy == Strategy.GraphX) {
      return colored(preparedBase match {
        case Some(base) => GraphXKernel.tryColorOn(spark, base, k, maxRounds)(land)
        case None => GraphXKernel.tryColor(spark, edges, k, maxRounds)(land)
      })
    }
    if (resolveStrategy(spark, edges, strategy, k) == Strategy.GreedyRdd) {
      return colored(GreedyRddKernel.tryColor(spark, edges, k, maxRounds)(land))
    }

    graft.functions.GraftFunctions.register(spark)
    val e = edges.persist(StorageLevel.MEMORY_AND_DISK)
    // Degree once, carried in the state so rounds don't re-join it (O8/O23).
    val degree = e.groupBy(col("src")).agg(count(lit(1)).cast("int").as("deg"))

    // k ≤ 64 ⇒ the per-vertex used-color set rides the state as a 64-bit
    // mask, updated incrementally from each round's newly-colored delta
    // (see maskRound scaladoc); larger palettes fall back to the per-round
    // full regather with collect_set arrays.
    val useMask = k <= 64

    // Every state's checkpoint observes progress and feasibility together
    // (-3 is the reference's infeasible sentinel, coloring.py:53-54), so
    // the round runs one job: its checkpoint.
    def observed(df: DataFrame): State = State.loop(df,
      sum(when(col("color") === -1, 1L).otherwise(0L)).as("uncolored"),
      sum(when(col("color") === -3, 1L).otherwise(0L)).as("infeasible"))

    // O6 init: isolated vertices → color 0, everything else -1
    // (changeColorFirstIteration, coloring.py:12-17).
    val connected = verticesOf(e).withColumn("color", lit(-1))
    val isolated = extraVertices
      .map(_.select(col("id")).except(verticesOf(e)).withColumn("color", lit(0)))
    var state = observed(isolated.fold(connected)(connected.unionByName(_))
      .join(degree, col("id") === col("src"), "left_outer")
      .select(col("id"), col("color"), coalesce(col("deg"), lit(0)).as("deg"),
        lit(0L).as("used")))

    var rounds = 0
    var uncolored = state("uncolored")
    var failed = false

    val debug = sys.env.contains("GRAFT_DEBUG_ROUNDS")
    while (uncolored > 0 && !failed) {
      val tRound = System.nanoTime()
      rounds += 1
      if (rounds > maxRounds) { failed = true }
      else {
        val roundCaches = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
        val roundStates = scala.collection.mutable.ArrayBuffer.empty[State]
        val next =
          if (useMask) jpRoundMask(e, state.df, k, roundCaches, uncolored)
          else jpRound(e, state.df, k, roundStates)
        // The next state lands before anything of this round is freed.
        val landed = observed(next)
        roundCaches.foreach(_.unpersist())
        roundStates.foreach(_.release())
        state.release()
        state = landed
        if (state("infeasible") > 0) failed = true
        else if (state("uncolored") >= uncolored) {
          // No progress. Jp always colors the top-priority node of every
          // uncolored component, so a round with uncolored candidates
          // commits ≥1 color and this only fires as the bounded-round
          // backstop (risk 6).
          failed = rounds >= maxRounds
        }
        uncolored = state("uncolored")
        if (debug) println(f"[kernel] round=$rounds uncolored=$uncolored " +
          f"t=${(System.nanoTime() - tRound) / 1e9}%.2f s")
      }
    }

    e.unpersist()
    if (failed) { state.release(); None }
    else Some(Colored(state, k, rounds))
  }

  /** Isolated extra vertices never reach an edge-derived graph; append them
    * with color 0 (O6 init rule, changeColorFirstIteration). */
  private def appendIsolated(df: DataFrame, extraVertices: Option[DataFrame]): DataFrame =
    extraVertices.fold(df) { vs =>
      df.unionByName(vs.select(col("id"))
        .except(df.select(col("id")))
        .withColumn("color", lit(0)))
    }

  /** Priority = (degree desc, id asc): a strict total order (ids unique)
    * as a lexicographically comparable struct — the optimized reference's
    * resolution order (coloring_optimized.py:170-172) with the id tiebreak
    * that makes results partitioning-independent (SURVEY.md §7 risk 1). */
  private def prio(idCol: Column, degCol: Column): Column =
    struct(degCol.as("d"), (-idCol).as("ni"))

  /** First-fit over a 64-bit used-color mask, entirely from codegen'd
    * builtins: lowbit(~m) isolates the smallest free color,
    * `bit_count(lowbit−1)` is its index, ≥ k ⇒ the −3 infeasible sentinel
    * (when all 64 bits are taken, lowbit = 0 and bit_count(−1) = 64 ≥ k).
    * No join, no array allocation — the whole candidate step is map-side. */
  private def maskFirstFit(used: Column, k: Int): Column = {
    val free = bitwise_not(used)
    val idx = bit_count(free.bitwiseAND(-free) - 1)
    when(idx < k, idx.cast("int")).otherwise(lit(-3))
  }

  /** Apply a round's updates and push each newly admitted color into the
    * adjacent used masks — the incremental (delta) formulation of the
    * per-round neighbor-color gather: an edge contributes to its src's mask
    * exactly once over the whole run (the round its dst is colored), so
    * total gather work is O(E) summed over ALL rounds. The full regather it
    * replaces joined every edge against the entire colored state every
    * round — measured flat ~1 s/round at sf0.1 even with 3 uncolored
    * vertices left. `updates` is (uid, new_color) and must be persisted by
    * the caller (referenced by both the apply join and the delta). */
  private def applyWithMask(e: DataFrame, state: DataFrame, updates: DataFrame,
      updBound: Long): DataFrame = {
    val delta = updates.filter(col("new_color") >= 0)
      .select(col("uid").as("nid"), col("new_color").as("ncolor"))
    // Row-bound broadcast (the exact uncolored count): AQE's byte
    // threshold flips this probe to an E-shuffling SMJ right around the
    // 10× leg's state size (measured: the minimal-colors run's shuffle
    // grew ×42 for ×10 edges); the explicit hint keeps every round's edge
    // probe map-side until the row policy says stop (oversized hints are
    // stripped by StripOversizedBroadcastHints).
    val gained = e.join(graft.ops.Broadcasts.maybeBroadcast(delta, updBound),
        col("dst") === col("nid"))
      .groupBy(col("src"))
      .agg(bit_or(call_function("shiftleft", lit(1L), col("ncolor"))).as("gained"))
    // Color changes and mask gains are both tiny relative to the state —
    // merge them first (small ⟗ small) so the V-sized state is shuffled
    // through ONE join per round, not two.
    val chg = updates.select(col("uid").as("cid"), col("new_color"))
      .join(gained.select(col("src").as("cid"), col("gained")), Seq("cid"), "full_outer")
    state.join(graft.ops.Broadcasts.maybeBroadcast(chg, 2L * updBound),
        col("id") === col("cid"), "left_outer")
      .select(col("id"),
        coalesce(col("new_color"), col("color")).cast("int").as("color"),
        col("deg"),
        col("used").bitwiseOR(coalesce(col("gained"), lit(0L))).as("used"))
  }

  /** Mask-state speculative round (k ≤ 64): candidates fall out of the
    * carried mask map-side; only the rival check still touches the edge
    * list, and the used-mask update is delta-driven ([[applyWithMask]]).
    * Semantics identical to [[jpRound]] — colors are permanent, so the
    * incrementally-grown mask always equals the regathered set. */
  private def jpRoundMask(e: DataFrame, state: DataFrame, k: Int,
      roundCaches: scala.collection.mutable.ArrayBuffer[DataFrame],
      uncolored: Long): DataFrame = {
    val cand = state.filter(col("color") === -1)
      .select(col("id"), col("deg"), maskFirstFit(col("used"), k).as("cand"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    roundCaches += cand
    // Candidate sides carry exactly `uncolored` rows — row-bound broadcast
    // hints keep the rival probe exchange-free on the E side past AQE's
    // byte threshold (see applyWithMask's note; same ×42 shuffle signal).
    val candA = graft.ops.Broadcasts.maybeBroadcast(
      cand.select(col("id").as("a_id"), col("cand").as("a_cand"),
        col("deg").as("a_deg")), uncolored)
    val candB = graft.ops.Broadcasts.maybeBroadcast(
      cand.select(col("id").as("b_id"), col("cand").as("b_cand"),
        col("deg").as("b_deg")), uncolored)
    val rival = e
      .join(candA, col("src") === col("a_id"))
      .join(candB, col("dst") === col("b_id"))
      .filter(col("a_cand") >= 0 && col("a_cand") === col("b_cand"))
      .groupBy(col("a_id"))
      .agg(max(prio(col("b_id"), col("b_deg"))).as("rival"))
    val updates = cand
      .join(rival, col("id") === col("a_id"), "left_outer")
      .select(col("id").as("uid"),
        when(col("cand") === -3, lit(-3))
          .when(col("rival").isNull || prio(col("id"), col("deg")) > col("rival"),
            col("cand"))
          .otherwise(lit(-1)).as("new_color"))
      .filter(col("new_color") =!= -1)
      .persist(StorageLevel.MEMORY_AND_DISK)
    roundCaches += updates
    applyWithMask(e, state, updates, uncolored)
  }

  /** One speculative-coloring round (k > 64): every uncolored
    * vertex picks its first-fit candidate (O13), then keeps it iff no
    * adjacent vertex chose the same candidate with higher (degree, id)
    * priority. Two edges passes — candidate gather + rival check — converge
    * in ~O(chromatic) rounds (measured 13 rounds on the sf0.1 kernel graph
    * vs 78+ for classic local-maximum Jones–Plassmann, which serializes on
    * priority chains). Correctness: same-candidate adjacent vertices are
    * totally ordered, only the maximum keeps the color, so no conflict can
    * commit; every conflict component commits its top vertex, so progress
    * is guaranteed. No free color in [0,k) → the -3 infeasible sentinel. */
  private def jpRound(e: DataFrame, state: DataFrame, k: Int,
      roundStates: scala.collection.mutable.ArrayBuffer[State]): DataFrame = {
    // Pass A: first-fit candidate per uncolored vertex.
    val used = e
      .join(state.filter(col("color") >= 0)
        .select(col("id").as("nid"), col("color").as("ncolor")),
        col("dst") === col("nid"))
      .groupBy(col("src"))
      .agg(collect_set(col("ncolor")).as("used_arr"))
    // Materialized: Pass B references the candidate set three times (both
    // join sides + the final apply); without this the edges pass behind it
    // re-runs per reference (measured 13 s vs 2 s per round at sf0.1).
    // Custom codegen expression (graft.functions.FirstFitColor): one
    // boolean[k] pass, no intermediate arrays; NULL used → 0, full → -3.
    val cand = state.filter(col("color") === -1)
      .join(used, col("id") === col("src"), "left_outer")
      .select(col("id"), col("deg"),
        call_function("graft_first_fit", col("used_arr"), lit(k)).as("cand"))
    val candState = State.loop(cand)
    roundStates += candState
    val candM = candState.df

    // Pass B: highest rival priority per vertex among same-candidate
    // neighbors; keep the candidate iff we beat every rival.
    val candA = candM.select(col("id").as("a_id"), col("cand").as("a_cand"),
      col("deg").as("a_deg"))
    val candB = candM.select(col("id").as("b_id"), col("cand").as("b_cand"),
      col("deg").as("b_deg"))
    val rival = e
      .join(candA, col("src") === col("a_id"))
      .join(candB, col("dst") === col("b_id"))
      .filter(col("a_cand") >= 0 && col("a_cand") === col("b_cand"))
      .groupBy(col("a_id"))
      .agg(max(prio(col("b_id"), col("b_deg"))).as("rival"))
    val updates = candM
      .join(rival, col("id") === col("a_id"), "left_outer")
      .select(col("id").as("uid"),
        when(col("cand") === -3, lit(-3))
          .when(col("rival").isNull || prio(col("id"), col("deg")) > col("rival"),
            col("cand"))
          .otherwise(lit(-1)).as("new_color"))

    state.join(updates, col("id") === col("uid"), "left_outer")
      .select(col("id"),
        coalesce(col("new_color"), col("color")).cast("int").as("color"),
        col("deg"), col("used"))
  }

  /** Outer minimal-color search (O25, `coloring.py:212-231`), with the
    * reference's failed-attempt-output bug fixed (SURVEY.md §5 bug 1): the
    * returned coloring is always the last *successful* attempt.
    *
    * Scale divergence from the reference (documented): instead of starting
    * at Δ+1 and decrementing by 1 — O(Δ) full recolorings — the first
    * attempt runs at k = Δ+1 (always succeeds for first-fit), then restarts
    * from `distinct colors actually used`, which first-fit greedy makes a
    * far tighter upper bound; each success retries with k−1 until failure.
    *
    * For the DETERMINISTIC strategies (Jp, GraphX) even the retries are
    * redundant and are skipped: the per-round trace does not depend on k
    * except through the palette-exhausted sentinel (first-fit picks the
    * smallest free color regardless of k; priority admit is k-blind), so
    * the k' < k attempt replays the identical rounds until the first round
    * where the Δ+1 trace committed a color ≥ k' — at which point that
    * vertex gets −3 and the attempt fails. Hence for this kernel family,
    * tryColor(k') succeeds iff k' ≥ colors-used-at-Δ+1: one run at Δ+1
    * already witnesses the kernel's minimal k (measured: 40 s → 14 s for
    * q_minimal_colors at sf0.1 — the k−1 probe replayed all 13 rounds with
    * bit-identical uncolored counts before failing on the last one).
    * GreedyRdd keeps the descending search: its admitted sets depend on
    * partitioning (reference-faithful), so no single trace is a proof.
    */
  def minimalColors(
      spark: SparkSession,
      edges: DataFrame,
      strategy: Strategy = Strategy.Jp,
      extraVertices: Option[DataFrame] = None,
      maxAttempts: Int = 16,
      preparedBase: Option[org.apache.spark.graphx.Graph[Int, Unit]] = None)
      : Colored = {

    // GraphX attempts share one prepared base graph: the DF→RDD conversion,
    // Graph.fromEdges shuffle, and degree join run once for the whole
    // descending-k search instead of per attempt. A caller-provided base
    // (ColorQueries shares one across the kernel queries) is not unpersisted
    // here.
    val ownsBase = strategy == Strategy.GraphX && preparedBase.isEmpty
    val graphxBase =
      if (strategy == Strategy.GraphX)
        preparedBase.orElse(Some(GraphXKernel.prepare(spark, edges)))
      else None
    def attempt(k: Int): Option[Colored] =
      tryColor(spark, edges, k, strategy, extraVertices, preparedBase = graphxBase)

    try {
      val maxDeg = graphxBase.map(GraphXKernel.maxDegree).getOrElse {
        edges.groupBy(col("src")).agg(count(lit(1)).as("d"))
          .agg(max(col("d"))).head().getLong(0).toInt
      }
      val first = attempt(maxDeg + 1)
        .getOrElse(sys.error(s"k=Δ+1=${maxDeg + 1} must be colorable"))

      // The Δ+1 run's coloring already witnesses k = colors-actually-used —
      // no revalidation run needed, just relabel (first-fit never exceeds
      // the palette it was given).
      var k = usedColors(first.colors)
      if (strategy == Strategy.Jp || strategy == Strategy.GraphX) {
        // Deterministic kernel: the Δ+1 trace is the proof (scaladoc above);
        // a k−1 attempt would replay it and fail.
        first.copy(k = k)
      } else {
        var best = first.copy(k = k)
        var attempts = 0
        var done = false
        while (!done && attempts < maxAttempts && k > 1) {
          attempts += 1
          attempt(k - 1) match {
            case Some(c) =>
              val prev = best
              best = c
              k = usedColors(c.colors)
              prev.release()
            case None => done = true
          }
        }
        best.copy(k = usedColors(best.colors))
      }
    } finally if (ownsBase) graphxBase.foreach(_.unpersist(blocking = false))
  }

  /** Number of distinct colors in a complete coloring. */
  def usedColors(colors: DataFrame): Int =
    colors.filter(col("color") >= 0).select(col("color")).distinct().count().toInt

  /** O22 validation invariants (`validate_graph_coloring`,
    * `coloring.py:149-162`): (#uncolored, #conflicting edge pairs) — both
    * must be 0 for a valid coloring. */
  def validate(edges: DataFrame, colors: DataFrame): (Long, Long) = {
    // One aggregate gives the uncolored invariant AND the exact V that
    // decides the broadcast below.
    val head = colors.agg(
      count(lit(1)),
      sum(when(col("color") === -1, 1L).otherwise(0L))).head()
    val v = head.getLong(0)
    val uncolored = if (head.isNullAt(1)) 0L else head.getLong(1)
    // V-sized colors vs E-sized edges: broadcast both probes so the edge
    // list streams through one map-side pass (a checkpointed colors DF has
    // no useful stats, so AQE alone would plan sort-merge). Conditional on
    // the exact V just counted: past the executor-memory broadcast bound
    // (Broadcasts.maxRows, ~10^8 vertices) the hints drop and the same
    // joins shuffle — one edges pass either way.
    import graft.ops.Broadcasts.maybeBroadcast
    // ONE broadcast probe, aliased for both endpoints: identical child
    // plans let Spark reuse the broadcast exchange (ReusedExchange) instead
    // of building and shipping the V-sized map twice.
    val probe = maybeBroadcast(colors.select(col("id"), col("color")), v)
    val conflicts = edges.as("e")
      .join(probe.as("ca"), col("e.src") === col("ca.id"))
      .join(probe.as("cb"), col("e.dst") === col("cb.id"))
      .filter(col("ca.color") === col("cb.color"))
      .count()
    (uncolored, conflicts)
  }
}
