package graft.color

import scala.reflect.ClassTag

import org.apache.spark.graphx.{Edge, Graph, VertexId}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.storage.StorageLevel

import graft.ops.{SessionCache, State}

/** The engine's GraphX executions, and the one rule that picks them: the
  * Δ+1 color trace, connected components and PageRank run here, as
  * message passing over a partitioned `Graph`, on graphs within [[runs]]'s
  * crossover, and as DataFrame round loops past it. No other module
  * names GraphX.
  *
  * The color trace (SURVEY.md §7 step 4: the `aggregateMessages` variant)
  * has the same speculative first-fit + priority-admit semantics as
  * [[ColoringKernel]]'s Jp rounds. Neighbor color gathering (the
  * reference's broadcast probe O10/O11) becomes `aggregateMessages`, with
  * no driver hop and no Catalyst planning per round — the trade is losing
  * whole-stage codegen for lower per-round fixed cost.
  *
  * Used-color messages are a 64-bit bitmask when k = Δ+1 ≤ 64 (one `Long`
  * OR per edge instead of a `Set[Int]` allocation + union — the palette of
  * the corpus kernel graph is Δ+1 = 63, so the queries always take this
  * path); the set-based path serves a graph with Δ ≥ 64.
  *
  * Determinism: identical priority order (degree desc, id asc) to the
  * DataFrame kernel, so both produce the identical coloring;
  * ColoringKernelSpec compares them on the same graphs.
  */
object GraphXKernel {

  /** The crossover between the executions here and the DataFrame round
    * loops, by edge count: a graph with at most this many edges runs here.
    * Below it GraphX wins on fixed cost per round, since its rounds plan no
    * Catalyst query (the Δ+1 trace: 8.5 s against 24.7 s at 5.9M edges).
    * Above it the DataFrame rounds win, because GraphX's message bytes grow
    * with the vertex-cut replication, ~2√P in the edge partition count,
    * while the rounds' broadcast probes stay flat (the Δ+1 trace: 41.0 s
    * against 60.8 s at 17.6M edges, on the 30× ScaleUp leg; at the 10× leg
    * GraphX CC took ×29 CPU for ×10 edges). Both sides give identical
    * outputs. Session-configurable so a spec can force the DataFrame side
    * on a small graph. */
  val MaxEdgesKey = "graft.kernel.graphxMaxEdges"
  val DefaultMaxEdges: Long = 10000000L

  /** Whether a graph of `nEdges` edges runs here ([[MaxEdgesKey]]). */
  def runs(spark: SparkSession, nEdges: Long): Boolean =
    nEdges <= spark.conf.get(MaxEdgesKey, DefaultMaxEdges.toString).toLong

  /** The Δ+1 trace's round cap (SURVEY.md §7 risk 6). */
  private val MaxRounds = 200

  /** color ∈ {-1 uncolored, 0.. assigned}; deg static. */
  private final case class V(color: Int, deg: Int)

  /** Session-lifetime prepared base per sfDir — the same
    * CacheManager-substitution stance as the persisted edge DFs: the Δ+1
    * trace, PageRank and connected components start from the identical
    * built graph, so the DF→RDD conversion + `Graph.fromEdges` shuffle +
    * degree join run once per session per sfDir. */
  private val prepCache = new SessionCache[Graph[Int, Unit]]

  /** The session's prepared base of the corpus kernel graph at `sfDir`
    * ([[graft.ops.GraphOps.kernelEdges]]). */
  def kernelBase(spark: SparkSession, sfDir: String): Graph[Int, Unit] =
    prepCache.getOrElseUpdate(spark, sfDir)(
      prepare(spark, graft.ops.GraphOps.kernelEdges(spark, sfDir)))

  /** Build a static base graph: vertex attribute = degree (O23), edges +
    * vertices cached. [[kernelBase]] keeps one per session and sfDir;
    * [[free]] drops one built for a single use. */
  def prepare(spark: SparkSession, edgesDf: DataFrame): Graph[Int, Unit] = {
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
    base
  }

  /** The Δ+1 color trace on a prepared base: one run with the palette
    * k = Δ+1, Δ read off the first aggregate, which cannot fail for lack of
    * colors (a vertex has at most deg ≤ Δ used colors). Its colors land in
    * a [[State]] that observes the colors used, as the Jp rounds do; that
    * count is the minimal k of this deterministic kernel
    * ([[ColoringKernel.minimalColors]] gives the proof), and the returned
    * `k`. Every round's graph is freed, the last once the colors have
    * landed; a run that hits [[MaxRounds]] throws. */
  def deltaPlusOne(spark: SparkSession, base: Graph[Int, Unit]): ColoringKernel.Colored = {
    import spark.implicits._

    var graph = base.mapVertices((_, d) => V(-1, d)).cache()

    // (deg desc, id asc) priority as an ordered pair; compare lexicographic.
    def prio(id: VertexId, deg: Int): (Int, Long) = (deg, -id)
    val ord = Ordering.Tuple2[Int, Long]

    val tailRows = spark.conf
      .get(GreedyRddKernel.TailLocalSolveRowsKey,
        GreedyRddKernel.DefaultTailLocalSolveRows.toString).toLong

    try {
      var rounds = 0
      // One aggregate seeds the palette and BOTH loop signals: every vertex
      // starts uncolored, so it gives Δ, the uncolored count and the
      // uncolored degree sum that guards the tail-local task's payload.
      val (maxDeg, n0, deg0) = graph.vertices
        .map { case (_, v) => (v.deg, 1L, v.deg.toLong) }
        .fold((0, 0L, 0L))((a, b) => (math.max(a._1, b._1), a._2 + b._2, a._3 + b._3))
      val mask = maxDeg < 64
      var (uncolored, uncoloredDeg) = (n0, deg0)

      while (uncolored > 0) {
        rounds += 1
        if (rounds > MaxRounds) throw new IllegalStateException(
          s"GraphX left $uncolored vertices uncolored after $MaxRounds rounds")
        val (next, withCand) =
          if (mask && uncolored <= tailRows &&
            uncoloredDeg <= GreedyRddKernel.TailLocalSolveMaxEdges) {
            // Tail-local replay (same stance as GreedyRddKernel's tail-local
            // solve, but STRICTER: these rounds are deterministic and the
            // DuckDB oracle replays them, so the local fixpoint must
            // reproduce the distributed rounds EXACTLY). It does, by
            // construction: the synchronous Jp round is a deterministic
            // function of (uncolored ids, degrees, used-color masks,
            // uncolored-uncolored adjacency) — all of which ship into the
            // one task — and colored vertices never change, so replaying
            // candidate/admit/apply sequentially until the fixpoint yields
            // the identical labeling the remaining scheduled rounds would.
            // The win is the same: past this point every distributed round
            // moved < tailRows vertices through two aggregateMessages stages
            // of mostly scheduling latency (r7 at sf0.1: rounds 5-13, each
            // ~0.33 s). An executor task, not a driver collect; payload
            // bounded by the degree-sum guard.
            val used = graph.aggregateMessages[Long](
              t => if (t.srcAttr.color == -1 && t.dstAttr.color >= 0)
                t.sendToSrc(1L << t.dstAttr.color),
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
              .mapPartitions(jpLocalReplay)
            (graph.outerJoinVertices(solved) { (_, v, s) =>
              s.map(c => V(c, v.deg)).getOrElse(v)
            }.cache(), None)
          } else {
            // Pass A: gather used neighbor colors, pick first-fit candidate
            // (O11 + O13). Bitmask fast path for Δ < 64.
            val withCand =
              if (mask) {
                val used = graph.aggregateMessages[Long](
                  t => if (t.dstAttr.color >= 0) t.sendToSrc(1L << t.dstAttr.color),
                  _ | _)
                graph.outerJoinVertices(used) { (_, v, usedOpt) =>
                  val cand =
                    if (v.color != -1) Int.MinValue // already colored: no candidate
                    else java.lang.Long.numberOfTrailingZeros(~usedOpt.getOrElse(0L))
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
                      Iterator.from(0).find(c => !u.contains(c)).get
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
            (withCand.outerJoinVertices(rival) { (id, vc, rivalOpt) =>
              val (v, cand) = vc
              if (v.color == -1 && rivalOpt.forall(r => ord.gt(prio(id, v.deg), r)))
                V(cand, v.deg)
              else v
            }.cache(), Some(withCand))
          }

        val (nextUncolored, nextDeg) = next.vertices
          .map { case (_, v) => if (v.color == -1) (1L, v.deg.toLong) else (0L, 0L) }
          .fold((0L, 0L))((a, b) => (a._1 + b._1, a._2 + b._2))
        free(graph)
        withCand.foreach(free)
        // GraphX checkpointing analog: lineage stays bounded because each
        // round's vertices RDD is cached and the previous is dropped; edge
        // RDDs are reused (same partitioning) across rounds.
        graph = next
        uncolored = nextUncolored
        uncoloredDeg = nextDeg
      }

      val colors = graph.vertices.map { case (id, v) => (id, v.color) }.toDF("id", "color")
      val st = State.loop(colors, ColoringKernel.colorsUsed)
      ColoringKernel.Colored(st, st(ColoringKernel.ColorsUsed).toInt, rounds)
    } finally free(graph)
  }

  /** The one connected-components body: GraphX `connectedComponents`
    * labels every vertex of `g` with the minimum vertex id of its
    * component, and `land` gets the `(id, label)` pairs. The Pregel graph
    * stays persisted until `land` returns and is freed then, so `land`
    * copies or fully consumes the labels. */
  private def components[VD: ClassTag, ED: ClassTag, T](g: Graph[VD, ED])(
      land: RDD[(VertexId, VertexId)] => T): T = {
    val cc = g.connectedComponents()
    try land(cc.vertices) finally free(cc)
  }

  /** q_connected_components on a prepared base: (components, largest
    * component, vertices) from one job over the component sizes, whose
    * sum is the vertex count. */
  def componentSummary(base: Graph[Int, Unit]): (Long, Long, Long) =
    components(base) { labels =>
      labels.map { case (_, c) => (c, 1L) }.reduceByKey(_ + _).values
        .aggregate((0L, 0L, 0L))(
          { case ((n, big, sum), sz) => (n + 1, math.max(big, sz), sum + sz) },
          { case ((n1, b1, s1), (n2, b2, s2)) => (n1 + n2, math.max(b1, b2), s1 + s2) })
    }

  /** Component labels `(id, lbl)` of the undirected edge list `pairs`
    * (two long columns), landed as a [[State.memo]]; the graph and its
    * Pregel run are freed. */
  def componentLabels(spark: SparkSession, pairs: DataFrame): DataFrame = {
    import spark.implicits._
    val g = Graph.fromEdges(
      pairs.as[(Long, Long)].rdd.map { case (a, b) => Edge(a, b, ()) }, ())
    try components(g)(labels => State.memo(labels.toDF("id", "lbl")).df)
    finally free(g)
  }

  /** q_pagerank's 10 integer rank rounds on a prepared base — r₀ = `scale`,
    * r' = 15·scale/100 + 85·Σ r(u) div deg(u) div 100, the recurrence
    * [[graft.ops.GraphOps.qPagerank]] defines — as top-10 `(id, rank_e12)`
    * by (rank desc, id asc), landed as a [[State.memo]]. */
  def pagerank(spark: SparkSession, base: Graph[Int, Unit], scale: Long): DataFrame = {
    import spark.implicits._
    var g = base.outerJoinVertices(base.outDegrees)((_, _, d) =>
      (d.getOrElse(0), scale)).cache()
    val rounds = scala.collection.mutable.ArrayBuffer(g)
    var i = 0
    while (i < 10) {
      val contribs = g.aggregateMessages[Long](
        t => t.sendToDst(t.srcAttr._2 / t.srcAttr._1), _ + _)
      g = g.outerJoinVertices(contribs)((_, attr, c) =>
        (attr._1, 15L * scale / 100 + 85L * c.getOrElse(0L) / 100)).cache()
      rounds += g
      i += 1
    }
    // Fixed iteration count = no data-dependent control flow, so no
    // per-round driver action: the single job below evaluates the whole
    // 10-round chain (each round cached so aggregateMessages reads the
    // previous round once, not its recursive lineage), then every round
    // is freed. 10 cached V-sized vertex RDDs is the footprint trade for
    // removing 10 job launches.
    // Storage-level contract (r6 VERDICT item 5, measured): the derived
    // rounds inherit the base graph's MEMORY_AND_DISK target level (GraphX
    // propagates targetStorageLevel through outerJoinVertices; probed
    // empirically — "StorageLevel(disk, memory, deserialized)"), NOT
    // MEMORY_ONLY — so under memory pressure at 100× V the old rounds
    // SPILL to disk instead of evicting into recompute churn, and each is
    // read exactly once before it is freed. _SER was considered and
    // rejected: GraphX's columnar partitions are compact already and a
    // serialized level would charge per-round deserialization CPU for no
    // additional spill safety.
    try State.memo(g.vertices.map { case (id, (_, r)) => (id, r) }
      .toDF("id", "rank_e12")
      .orderBy(col("rank_e12").desc, col("id").asc)
      .limit(10)).df
    finally rounds.foreach(free)
  }

  /** Unpersist a graph this object built: its vertices and the edges it
    * was built with (its `edges`). `Graph.unpersist` frees the replicated
    * view's CURRENT edges instead, which `aggregateMessages` swaps for an
    * uncached copy carrying shipped vertex attributes. Every graph here is
    * cached as it is built, before any swap, so its `edges` are the only
    * cached edges it holds, and each RDD is unpersisted once: two
    * asynchronous removals of one RDD race, and the loser logs an error. */
  private[graft] def free(g: Graph[_, _]): Unit = {
    g.vertices.unpersist(blocking = false)
    g.edges.unpersist(blocking = false)
  }

  /** Sequential replay of the synchronous Jp rounds over the collected
    * tail: per round, every uncolored vertex takes the first-fit candidate
    * from its used mask, admits iff its (deg desc, id asc) priority beats
    * every same-candidate uncolored neighbor, and admitted colors OR into
    * the neighbors' masks — bit-identical to the distributed
    * aggregateMessages rounds (ties impossible: ids are unique). Runs until
    * fixpoint, masks only (the caller gates on Δ < 64). */
  private def jpLocalReplay(
      it: Iterator[(VertexId, Int, Long, Array[VertexId])]): Iterator[(VertexId, Int)] = {
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
    var progress = true
    while (remaining > 0 && progress) {
      val cand = new Array[Int](n)
      i = 0
      while (i < n) {
        cand(i) =
          if (color(i) != -1) Int.MinValue
          else java.lang.Long.numberOfTrailingZeros(~mask(i))
        i += 1
      }
      val admitted = scala.collection.mutable.ArrayBuffer.empty[Int]
      i = 0
      while (i < n) {
        if (color(i) == -1) {
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
    // Uncolored leftovers (a stall, impossible with unique ids) stay -1:
    // the outer loop's counts see them.
    Iterator.tabulate(n)(i => (nodes(i)._1, color(i))).filter(_._2 != -1)
  }
}
