package graft.color

import org.apache.spark.graphx.{Edge, Graph, VertexId}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.storage.StorageLevel

/** GraphX formulation of the coloring kernel (SURVEY.md §7 step 4: the
  * `aggregateMessages` variant) — the same speculative first-fit +
  * priority-admit semantics as [[ColoringKernel]]'s default strategy, but
  * message-passing over a partitioned `Graph[VD, Unit]` instead of
  * DataFrame joins. Neighbor color gathering (the reference's broadcast
  * probe O10/O11) becomes `aggregateMessages`, with no driver hop and no
  * Catalyst planning per round — the trade is losing whole-stage codegen
  * for lower per-round fixed cost.
  *
  * Used-color messages are a 64-bit bitmask when k ≤ 64 (one `Long` OR per
  * edge instead of a `Set[Int]` allocation + union — the palette of the
  * corpus kernel graph is Δ+1 = 63, so the bench always takes this path);
  * the set-based path remains for arbitrary k.
  *
  * Determinism: identical priority order (degree desc, id asc) to the
  * DataFrame kernel, so both produce valid colorings; ColoringKernelSpec
  * cross-checks invariants on the same graphs.
  */
object GraphXKernel {

  /** color ∈ {-1 uncolored, 0.. assigned}; deg static. */
  private final case class V(color: Int, deg: Int)

  /** Session-lifetime prepared base per key (the sfDir) — the same
    * CacheManager-substitution stance as the persisted edge DFs: every
    * GraphX consumer (coloring kernel, PageRank, connected components)
    * starts from the identical built graph, so the DF→RDD conversion +
    * `Graph.fromEdges` shuffle + degree join run once per session per
    * sfDir. */
  private val prepCache = new graft.ops.SessionCache[Graph[Int, Unit]]

  def prepareCached(spark: SparkSession, key: String, edgesDf: => DataFrame): Graph[Int, Unit] =
    prepCache.getOrElseUpdate(spark, key)(prepare(spark, edgesDf))

  /** Build the static base graph once: vertex attribute = degree (O23),
    * edges + vertices cached. [[tryColorOn]] attempts share this across a
    * minimal-color search — the DF→RDD conversion, `Graph.fromEdges`
    * shuffle, and degree join all happen once instead of per attempt. */
  def prepare(spark: SparkSession, edgesDf: DataFrame): Graph[Int, Unit] = {
    val debug = sys.env.contains("GRAFT_DEBUG_ROUNDS")
    val t0 = System.nanoTime()
    // InternalRow extraction (same as GreedyRddKernel.run): the kernel only
    // needs two primitive longs per row, skipping the tuple encoder's
    // deserializer projection.
    val raw = edgesDf.select(col("src"), col("dst")).queryExecution.toRdd
      .map(r => Edge(r.getLong(0), r.getLong(1), ()))
    // Partition count proportional to edge count (~250k edges/partition,
    // the same sizing rule spark.sql.files.maxPartitionBytes applies to
    // scans): an iterative kernel launches every stage 13+ times, so task
    // count is a multiplier on fixed scheduling cost — 32 near-empty
    // partitions of a 600k-edge graph cost more in task overhead than they
    // win in parallelism, while a 100 TB edge list still gets its
    // thousands of partitions from the same rule.
    val nParts = math.min(raw.getNumPartitions,
      math.max(1, (raw.count() / 250000L).toInt))
    val edgeRdd = if (nParts < raw.getNumPartitions) raw.coalesce(nParts) else raw
    // Vertex-cut partitioning: without an explicit strategy GraphX keeps
    // the load-order cut, whose vertex replication factor grows linearly
    // with the number of edge partitions — measured at the 10× scale leg
    // as a 5× per-edge shuffle inflation on the iterative consumers
    // (pagerank 39.8 → 2124 MB for 10× edges; bench/NOTES.md r9).
    // EdgePartition2D bounds replication at 2·√P, so per-edge message
    // traffic stays flat as partitions scale out with the corpus.
    val loaded = Graph.fromEdges(edgeRdd, 0,
      StorageLevel.MEMORY_AND_DISK, StorageLevel.MEMORY_AND_DISK)
    val g0 = loaded
      .partitionBy(org.apache.spark.graphx.PartitionStrategy.EdgePartition2D)
    val base = g0.outerJoinVertices(g0.outDegrees)((_, _, d) => d.getOrElse(0))
      .cache()
    // One job materializes base's vertices and edges (the edge pass ships
    // the vertices), before attempts start mutating views. From then on
    // only base's own blocks are read, so the loaded and partitioned copies
    // the build went through are freed.
    base.edges.count()
    loaded.unpersist(blocking = false)
    g0.unpersist(blocking = false)
    if (debug) println(f"[graphx] prepare t=${(System.nanoTime() - t0) / 1e9}%.2f s")
    base
  }

  /** Max degree of a prepared base graph (initial k = Δ+1, O25). */
  def maxDegree(base: Graph[Int, Unit]): Int =
    base.vertices.map(_._2).fold(0)(math.max)

  /** One-shot attempt: build, color, drop the base. */
  def tryColor[T](
      spark: SparkSession,
      edgesDf: DataFrame,
      k: Int,
      maxRounds: Int = 200)(land: DataFrame => T): Option[(T, Int)] = {
    val base = prepare(spark, edgesDf)
    try tryColorOn(spark, base, k, maxRounds)(land)
    finally base.unpersist(blocking = false)
  }

  /** Attempt a k-coloring on a prepared base graph. On success the (id,
    * color) DataFrame is handed to `land`, and the result is
    * `(land(colors), rounds)`. The last round's graph is unpersisted once
    * `land` returns, so `land` must copy or fully consume the colors
    * (ColoringKernel copies them into a `State`). */
  def tryColorOn[T](
      spark: SparkSession,
      base: Graph[Int, Unit],
      k: Int,
      maxRounds: Int = 200)(land: DataFrame => T): Option[(T, Int)] = {
    import spark.implicits._

    var graph = base.mapVertices((_, d) => V(-1, d)).cache()

    // (deg desc, id asc) priority as an ordered pair; compare lexicographic.
    def prio(id: VertexId, deg: Int): (Int, Long) = (deg, -id)
    val ord = Ordering.Tuple2[Int, Long]

    val tailRows = spark.conf
      .get(GreedyRddKernel.TailLocalSolveRowsKey,
        GreedyRddKernel.DefaultTailLocalSolveRows.toString).toLong

    var rounds = 0
    // One aggregate seeds BOTH loop signals: the uncolored count and the
    // uncolored degree sum that guards the tail-local task's payload.
    var (uncolored, uncoloredDeg) = graph.vertices
      .map { case (_, v) => (if (v.color == -1) 1L else 0L,
        if (v.color == -1) v.deg.toLong else 0L) }
      .fold((0L, 0L))((a, b) => (a._1 + b._1, a._2 + b._2))
    var failed = false
    val debug = sys.env.contains("GRAFT_DEBUG_ROUNDS")

    while (uncolored > 0 && !failed) {
      rounds += 1
      if (rounds > maxRounds) failed = true
      else if (k <= 64 && uncolored <= tailRows &&
        uncoloredDeg <= GreedyRddKernel.TailLocalSolveMaxEdges) {
        // Tail-local replay (same stance as GreedyRddKernel's tail-local
        // solve, but STRICTER: these rounds are deterministic and the
        // DuckDB oracle replays them, so the local fixpoint must reproduce
        // the distributed rounds EXACTLY). It does, by construction: the
        // synchronous Jp round is a deterministic function of (uncolored
        // ids, degrees, used-color masks, uncolored-uncolored adjacency) —
        // all of which ship into the one task — and colored vertices never
        // change, so replaying candidate/admit/apply sequentially until
        // the fixpoint yields the identical labeling the remaining
        // scheduled rounds would. The win is the same: past this point
        // every distributed round moved < tailRows vertices through two
        // aggregateMessages stages of mostly scheduling latency (r7 at
        // sf0.1: rounds 5-13, each ~0.33 s). An executor task, not a
        // driver collect; payload bounded by the degree-sum guard.
        val tRound = System.nanoTime()
        val used = graph.aggregateMessages[Long](
          t => if (t.srcAttr.color == -1 && t.dstAttr.color >= 0 &&
            t.dstAttr.color < 64) t.sendToSrc(1L << t.dstAttr.color),
          _ | _)
        val tailAdj = graph.aggregateMessages[Array[VertexId]](
          t => if (t.srcAttr.color == -1 && t.dstAttr.color == -1)
            t.sendToSrc(Array(t.dstId)),
          _ ++ _)
        val solved = graph.vertices.filter(_._2.color == -1)
          .leftOuterJoin(used).leftOuterJoin(tailAdj)
          .map { case (id, ((v, u), a)) =>
            (id, v.deg, u.getOrElse(0L), a.getOrElse(Array.empty[VertexId]))
          }
          .coalesce(1, shuffle = true)
          .mapPartitions(it => jpLocalReplay(it, k))
        val next = graph.outerJoinVertices(solved) { (_, v, s) =>
          s.map(c => V(c, v.deg)).getOrElse(v)
        }.cache()
        val counts = next.vertices
          .map { case (_, v) => (
            if (v.color == -1) 1L else 0L,
            if (v.color == -3) 1L else 0L,
            if (v.color == -1) v.deg.toLong else 0L) }
          .fold((0L, 0L, 0L))((a, b) => (a._1 + b._1, a._2 + b._2, a._3 + b._3))
        if (counts._2 > 0) failed = true
        else if (counts._1 >= uncolored) failed = rounds >= maxRounds
        free(graph)
        graph = next
        uncolored = counts._1
        uncoloredDeg = counts._3
        if (debug) println(f"[graphx] k=$k round=$rounds (tail-local) " +
          f"uncolored=$uncolored infeasible=${counts._2} " +
          f"t=${(System.nanoTime() - tRound) / 1e9}%.2f s")
      }
      else {
        val tRound = System.nanoTime()
        // Pass A: gather used neighbor colors, pick first-fit candidate
        // (O11 + O13). Bitmask fast path for k ≤ 64.
        val withCand =
          if (k <= 64) {
            val used = graph.aggregateMessages[Long](
              t => if (t.dstAttr.color >= 0 && t.dstAttr.color < 64)
                t.sendToSrc(1L << t.dstAttr.color),
              _ | _)
            graph.outerJoinVertices(used) { (_, v, usedOpt) =>
              val cand =
                if (v.color != -1) Int.MinValue // already colored: no candidate
                else {
                  val free = java.lang.Long.numberOfTrailingZeros(~usedOpt.getOrElse(0L))
                  if (free < k) free else -3
                }
              (v, cand)
            }
          } else {
            val used = graph.aggregateMessages[Set[Int]](
              t => if (t.dstAttr.color >= 0) t.sendToSrc(Set(t.dstAttr.color)),
              _ ++ _)
            graph.outerJoinVertices(used) { (_, v, usedOpt) =>
              val cand =
                if (v.color != -1) Int.MinValue
                else {
                  val u = usedOpt.getOrElse(Set.empty[Int])
                  (0 until k).find(c => !u.contains(c)).getOrElse(-3)
                }
              (v, cand)
            }
          }
        withCand.cache()

        // Pass B: highest rival priority among same-candidate neighbors.
        val rival = withCand.aggregateMessages[(Int, Long)](
          t =>
            if (t.srcAttr._2 >= 0 && t.srcAttr._2 == t.dstAttr._2)
              t.sendToSrc(prio(t.dstId, t.dstAttr._1.deg)),
          ord.max)
        val next = withCand.outerJoinVertices(rival) { (id, vc, rivalOpt) =>
          val (v, cand) = vc
          if (v.color != -1) v
          else if (cand == -3) V(-3, v.deg)
          else if (rivalOpt.forall(r => ord.gt(prio(id, v.deg), r)))
            V(cand, v.deg)
          else v
        }.cache()

        val counts = next.vertices
          .map { case (_, v) => (
            if (v.color == -1) 1L else 0L,
            if (v.color == -3) 1L else 0L,
            if (v.color == -1) v.deg.toLong else 0L) }
          .fold((0L, 0L, 0L))((a, b) => (a._1 + b._1, a._2 + b._2, a._3 + b._3))
        if (counts._2 > 0) failed = true
        else if (counts._1 >= uncolored) failed = rounds >= maxRounds
        free(graph)
        free(withCand)
        graph = next
        uncolored = counts._1
        uncoloredDeg = counts._3
        if (debug) println(f"[graphx] k=$k round=$rounds uncolored=$uncolored " +
          f"infeasible=${counts._2} t=${(System.nanoTime() - tRound) / 1e9}%.2f s")
        // GraphX checkpointing analog: lineage stays bounded because each
        // round's vertices RDD is cached and the previous is dropped; edge
        // RDDs are reused (same partitioning) across rounds.
      }
    }

    try
      if (failed) None
      else {
        val colors = graph.vertices.map { case (id, v) => (id, v.color) }.toDF("id", "color")
        Some((land(colors), rounds))
      }
    finally free(graph)
  }

  /** Unpersist a round's graph. `Graph.unpersist` frees the vertices and
    * the replicated view's CURRENT edges, but `aggregateMessages` swaps
    * that view's edges for an uncached copy carrying shipped vertex
    * attributes, so the cached edges the graph was built with (its
    * `edges`) must be freed as well. */
  private def free(g: Graph[_, _]): Unit = {
    g.unpersist(blocking = false)
    g.edges.unpersist(blocking = false)
  }

  /** Sequential replay of the synchronous Jp rounds over the collected
    * tail: per round, every uncolored vertex takes the first-fit candidate
    * from its used mask, admits iff its (deg desc, id asc) priority beats
    * every same-candidate uncolored neighbor, and admitted colors OR into
    * the neighbors' masks — bit-identical to the distributed
    * aggregateMessages rounds (ties impossible: ids are unique). A full
    * mask yields −3 and the replay stops after that round, exactly like
    * the distributed loop's infeasible abort; the outer counts then fail
    * the attempt. Runs until fixpoint, k ≤ 64 masks only (the caller
    * gates). */
  private def jpLocalReplay(
      it: Iterator[(VertexId, Int, Long, Array[VertexId])],
      k: Int): Iterator[(VertexId, Int)] = {
    val nodes = it.toArray
    val n = nodes.length
    val idx = new java.util.HashMap[VertexId, Int](n * 2)
    var i = 0
    while (i < n) { idx.put(nodes(i)._1, i); i += 1 }
    val deg = nodes.map(_._2)
    val mask = nodes.map(_._3)
    val adj = nodes.map(_._4)
    val color = Array.fill(n)(-1)
    def beats(a: Int, b: Int): Boolean = // prio(a) > prio(b), (deg, -id)
      deg(a) > deg(b) || (deg(a) == deg(b) && nodes(a)._1 < nodes(b)._1)
    var remaining = n
    var sawInfeasible = false
    var progress = true
    while (remaining > 0 && progress && !sawInfeasible) {
      val cand = new Array[Int](n)
      i = 0
      while (i < n) {
        cand(i) =
          if (color(i) != -1) Int.MinValue
          else {
            val free = java.lang.Long.numberOfTrailingZeros(~mask(i))
            if (free < k) free else -3
          }
        if (cand(i) == -3) sawInfeasible = true
        i += 1
      }
      val admitted = scala.collection.mutable.ArrayBuffer.empty[Int]
      i = 0
      while (i < n) {
        if (color(i) == -1 && cand(i) >= 0) {
          var ok = true
          var j = 0
          val a = adj(i)
          while (ok && j < a.length) {
            val nb = idx.get(a(j))
            if (color(nb) == -1 && cand(nb) == cand(i) && beats(nb, i)) ok = false
            j += 1
          }
          if (ok) admitted += i
        }
        i += 1
      }
      // Apply -3 the way the distributed round does: it becomes the
      // vertex's color this round and the attempt aborts after it.
      if (sawInfeasible) {
        i = 0
        while (i < n) {
          if (color(i) == -1 && cand(i) == -3) { color(i) = -3; remaining -= 1 }
          i += 1
        }
      }
      progress = admitted.nonEmpty
      admitted.foreach { v =>
        color(v) = cand(v)
        remaining -= 1
        val a = adj(v)
        var j = 0
        while (j < a.length) {
          val nb = idx.get(a(j))
          if (color(nb) == -1) mask(nb) |= 1L << cand(v)
          j += 1
        }
      }
    }
    // Uncolored leftovers (stall, or the infeasible abort) stay -1: the
    // outer loop's counts see them and apply the same failure rules as the
    // distributed rounds.
    Iterator.tabulate(n)(i => (nodes(i)._1, color(i))).filter(_._2 != -1)
  }
}
