package graft.color

import scala.reflect.ClassTag

import org.apache.spark.graphx.{Edge, Graph, VertexId}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.storage.StorageLevel

import graft.ops.{SessionCache, State}

/** The engine's GraphX executions, and the one rule that picks them:
  * connected components and PageRank run here, as message passing over a
  * partitioned `Graph`, on graphs within [[runs]]'s crossover, and as
  * DataFrame round loops past it. No other module names GraphX. The Δ+1
  * color trace has one execution, [[ColoringKernel]]'s Jp rounds.
  */
object GraphXKernel {

  /** The crossover between the executions here and the DataFrame round
    * loops, by edge count: a graph with at most this many edges runs here.
    * Below it GraphX wins on fixed cost per round, since its rounds plan no
    * Catalyst query. Above it the DataFrame rounds win, because GraphX's
    * message bytes grow with the vertex-cut replication, ~2√P in the edge
    * partition count, while the rounds' broadcast probes stay flat (at the
    * 10× ScaleUp leg GraphX CC took ×29 CPU for ×10 edges). Both sides give
    * identical outputs. Session-configurable so a spec can force the
    * DataFrame side on a small graph. */
  val MaxEdgesKey = "graft.kernel.graphxMaxEdges"
  val DefaultMaxEdges: Long = 10000000L

  /** Whether a graph of `nEdges` edges runs here ([[MaxEdgesKey]]). */
  def runs(spark: SparkSession, nEdges: Long): Boolean =
    nEdges <= spark.conf.get(MaxEdgesKey, DefaultMaxEdges.toString).toLong

  /** Session-lifetime prepared base per sfDir — the same
    * CacheManager-substitution stance as the persisted edge DFs: PageRank
    * and connected components start from the identical built graph, so
    * the DF→RDD conversion + `Graph.fromEdges` shuffle + degree join run
    * once per session per sfDir. */
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
    // the vertices), before the consumers start deriving views. From then on
    // only base's own blocks are read, so the loaded and partitioned copies
    // the build went through are freed.
    base.edges.count()
    loaded.unpersist(blocking = false)
    g0.unpersist(blocking = false)
    base
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
}
