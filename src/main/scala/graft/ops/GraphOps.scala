package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.color.GraphXKernel
import graft.tables.Tables

/** Graph-shaped queries over the corpus.
  *
  * The graph is derived from `lineitem` as the reference's data model demands
  * (SURVEY.md §2.3): `edges` = distinct symmetric co-purchase pairs
  * `(l_partkey_a, l_partkey_b)` of lineitems sharing an `l_orderkey`. This is
  * the capability-equivalent of the reference's JSON adjacency input
  * (`graph.py:15-28`): a `(src, dst)` edge list with both directions present.
  *
  * Scale posture: the self-join shuffles once on `l_orderkey` (the natural
  * co-partitioning key), and `distinct` is a hash aggregate on `(src, dst)` —
  * both AQE-coalesced. No driver-side materialization anywhere.
  */
object GraphOps {

  /** Double-domain width bound for q_assortativity's DECIMAL(38,0) moment
    * products (just under 10³⁸; the sums stay BIGINT — safe to ~10⁹ edges
    * at degree 10⁴ — and only the products widen, after the 10× scale leg
    * overflowed 2⁶³ on n·sxy). Session-configurable so BoundsSpec can
    * inject a tiny bound and prove the loud failure without an
    * astronomical corpus; the default is the documented headroom. */
  val AssortMaxMomentKey = "graft.assortativity.maxMoment"
  val DefaultAssortMaxMoment: Double = 1e37

  /** Symmetric deduplicated co-purchase edge list `(src, dst)`.
    *
    * Persisted: eight queries derive from this plan, and Spark's
    * CacheManager substitutes the cached relation into any later plan that
    * contains it — the self-join+distinct runs once per session per sfDir
    * instead of once per query. (Edge list ≈ vertices·avg-degree rows —
    * small relative to the fact table it comes from.) */
  def edges(spark: SparkSession, sfDir: String): DataFrame =
    edgesWithCount(spark, sfDir)._1

  /** Session-lifetime edge memo: the symmetric view plus its EXACT row
    * count. The count is a free broadcast-size signal for every V-sized
    * probe downstream (|V| ≤ |E| rows — triangle/assortativity/validate all
    * join V-sized tables against this stream), and materializing the cache
    * by counting the ordered HALF (not the union) keeps the first-touch job
    * from racing both union branches into the same unbuilt cache. */
  private val edgeCache = new SessionCache[(DataFrame, Long)]

  def edgesWithCount(spark: SparkSession, sfDir: String): (DataFrame, Long) =
    edgeCache.getOrElseUpdate(spark, sfDir) {
      val li = Tables.lineitem(spark, sfDir)
        .select(col("l_orderkey"), col("l_partkey"))
      // One hash-agg to per-order part lists + in-row pair expansion instead
      // of a self-join: the join shuffled the projected table TWICE
      // (sort-merge on l_orderkey) before the distinct's third shuffle; this
      // shape shuffles it once (partial-aggregating collect_list) and
      // expands pairs map-side (measured 2.6 s vs 4.7 s warm at sf0.1,
      // identical rows). Scale note: the per-group expansion is quadratic in
      // ORDER WIDTH (bounded at 7 lineitems here; a co-occurrence graph over
      // unbounded baskets would cap or sample the list before expanding).
      // Dedup the ORDERED pair set (src < dst) and materialize THAT half;
      // the symmetric view is a map-side union of the memo with its flip.
      // The distinct's shuffle carries half the exploded rows and the memo
      // holds half the bytes of the old symmetric layout — the flip
      // projection is free at read time. r15: the memo is a RAW
      // localCheckpoint, not a columnar persist — InMemoryRelation's
      // encode-on-build + decode-on-every-scan was the dominant consumer
      // CPU (q_argmax_seed 24.1 -> 6.8 s, q_assortativity 0.14x,
      // q_validate_coloring 0.25x on the swap). Same symmetric set (the per-order
      // expansion generates both directions, so keeping src < dst loses
      // nothing); measured 3.1 s → ~1.9 s first-touch at sf0.1.
      // r14: ONE fused pair expansion — sort the distinct part list and
      // emit exactly C(k,2) ordered (a < b) structs via the codegen
      // [[graft.functions.OrderedPairs]] pass, instead of the double
      // explode generating k² rows and filtering half away (the k-element
      // sort is trivial next to the k² explode it replaces; isolated
      // sf0.1 A/B on the memo build: 16.5 → 11.5 s CPU). Same distinct
      // canonical pair set, bit-identical downstream.
      val ordered = State.memo(li.groupBy(col("l_orderkey"))
        .agg(array_sort(array_distinct(collect_list(col("l_partkey"))))
          .as("parts"))
        .select(explode(call_function("graft_ordered_pairs", col("parts")))
          .as("p"))
        .select(col("p.a").as("src"), col("p.b").as("dst"))
        .distinct())
      val sym = ordered.df.union(
        ordered.df.select(col("dst").as("src"), col("src").as("dst")))
      (sym, 2L * ordered.rows)
    }

  /** Sparser derived graph for the iterative coloring kernel: only pairs of
    * consecutive line numbers within an order. Still symmetric + dedup'd.
    * (The full co-purchase graph at bench scale has max degree in the
    * hundreds, which makes the reference's descending-k minimal search
    * O(Δ) attempts — the consecutive-pair graph keeps the kernel's runtime
    * proportional to rounds, not to Δ².)
    */
  def kernelEdges(spark: SparkSession, sfDir: String): DataFrame =
    kernelEdgesWithCount(spark, sfDir)._1

  /** Session-lifetime kernel-edge memo, mirroring [[edgesWithCount]]: the
    * symmetric view plus its EXACT row count. Memoizing (rather than relying
    * on CacheManager plan-substitution alone) builds the plan once per
    * session per sfDir, and the count — materialized by counting the ordered
    * HALF during first touch — lets the greedy kernel size its partitioner
    * without a separate pass over the converted RDD (r7: raw.count was a
    * 0.3 s full deserialization pass charged to every q_color_greedy run). */
  private val kernelEdgeCache = new SessionCache[(DataFrame, Long)]

  /** The DIRECTED consecutive-linenumber pair stream (`fwd` in the oracle
    * CTEs) — shared by the symmetric kernel closure below and the directed
    * consumers (q_hits). Same single-shuffle shape as `edges`: per-order
    * (linenumber, partkey) lists, consecutive-linenumber pairs expanded
    * map-side by an in-row nested scan — replaces the self-join that
    * shuffled the projection twice. The nested transform is O(order-width²)
    * per row, and MUST be a full pair scan, not a zip over the sorted list:
    * (orderkey, linenumber) is NOT unique in this corpus (up to 6 rows
    * share a linenumber), and the join semantics pair every a-row with
    * every b-row at linenumber+1. */
  private[graft] def fwdPairs(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"))
    li.groupBy(col("l_orderkey"))
      .agg(collect_list(struct(col("l_linenumber").as("ln"), col("l_partkey").as("pk")))
        .as("ps"))
      .select(explode(flatten(transform(col("ps"), a =>
        filter(transform(col("ps"), b =>
          struct(a.getField("pk").as("src"), b.getField("pk").as("dst"),
            (a.getField("ln") + 1 === b.getField("ln") &&
              a.getField("pk") =!= b.getField("pk")).as("ok"))),
          p => p.getField("ok"))))).as("p"))
      .select(col("p.src"), col("p.dst"))
  }

  def kernelEdgesWithCount(spark: SparkSession, sfDir: String): (DataFrame, Long) =
    kernelEdgeCache.getOrElseUpdate(spark, sfDir) {
    val fwd = fwdPairs(spark, sfDir)
    // Memoized with the same half-size layout as `edges`: normalize each
    // consecutive pair to (least, greatest), dedup THAT half (the
    // distinct's shuffle carries half the rows), materialize it, and
    // mirror map-side at read time — the symmetric closure of fwd.
    val ordered = State.memo(fwd
      .select(least(col("src"), col("dst")).as("src"),
        greatest(col("src"), col("dst")).as("dst"))
      .distinct())
    (ordered.df.union(ordered.df.select(col("dst").as("src"), col("src").as("dst"))),
      2L * ordered.rows)
  }

  /** Session-lifetime degree memo over the co-purchase graph: the V-sized
    * `(src, degree)` table persisted plus its EXACT row count |V|.
    *
    * Two jobs in one: (a) eight queries derive degrees from the edge
    * stream — the E-sized hash-agg now runs once per session per sfDir;
    * (b) the exact |V| is the HONEST broadcast signal for every V-sized
    * probe table downstream. The r12 100× leg proved why the |E| proxy is
    * not: directed co-purchase edges crossed `graft.broadcast.maxRows`
    * (239.2 M > 10⁸) between the 30× and 100× corpora while the actual
    * V-sized tables held 2 M rows — every `maybeBroadcast(vTable, |E|)`
    * silently degraded to a shuffle join, and the graph family's shuffle
    * volume jumped ×15–25 for ×3.33 data. The "densification" the r12
    * verdict flagged was this plan-regime shift, not the data: ScaleUp
    * corpora are disjoint isomorphic replicas, so |V| and |E| scale
    * exactly linearly (proven by the manifest graph census,
    * bench/NOTES.md r13). */
  private val degCache = new SessionCache[(DataFrame, Long)]

  def degreesWithCount(spark: SparkSession, sfDir: String): (DataFrame, Long) =
    degCache.getOrElseUpdate(spark, sfDir) {
      val deg = State.memo(edges(spark, sfDir)
        .groupBy(col("src")).agg(count(lit(1)).as("degree")))
      (deg.df, deg.rows)
    }

  /** Session-lifetime EXACT vertex count of the kernel graph — the honest
    * broadcast signal for the V-sized state tables of the iterative
    * kernel-graph analytics (CC labels, BFS frontiers/settled sets, rank
    * tables). Same rationale as [[degreesWithCount]]: the |E| proxy
    * crosses the broadcast row cap roughly two decades before |V| does.
    * Reads the [[kernelAdjacencyWithCount]] memo's exact row count. */
  private[graft] def kernelVertexCount(spark: SparkSession, sfDir: String): Long =
    kernelAdjacencyWithCount(spark, sfDir)._2

  /** Session-lifetime SORTED adjacency of the kernel graph — V rows of
    * `(src, nbrs)` with `nbrs` ascending (Σ|nbrs| = |E| longs total,
    * arboricity-unbounded: this is the FULL neighborhood table, sized like
    * the edge memo it derives from). Shared by the frontier-driven BFS
    * analytics (q_sssp, q_closeness) and q_random_walk (which needs the
    * ascending order for its position-indexed next-hop).
    *
    * r14, guide §2.4: a BFS round's work should be proportional to the
    * FRONTIER, but joining the E-row edge list against a broadcast
    * frontier re-scans all |E| pair rows every round (rounds ≈ graph
    * diameter ⇒ Θ(diameter·E) scan work for Θ(K·E) useful output). With
    * the V-row array table as the stream side, a round scans |V| rows and
    * explodes ONLY the matched frontier neighborhoods — the exchange then
    * carries Σ deg(frontier) candidate rows, which telescopes to K·E
    * across ALL rounds. The memo is one row per src from a single
    * groupBy(src) shuffle. Under adaptive execution (on in every engine
    * session) its checkpoint records no partitioning, so a consumer that
    * groups or joins it on src re-shuffles it. */
  private val kernelAdjCache = new SessionCache[(DataFrame, Long)]

  private[graft] def kernelAdjacency(spark: SparkSession, sfDir: String): DataFrame =
    kernelAdjacencyWithCount(spark, sfDir)._1

  /** The memo plus its exact row count — which IS the kernel vertex count
    * (one row per distinct src of the symmetric edge list), so the
    * separate E-sized distinct the old [[kernelVertexCount]] ran folds
    * into this one build (r14: 8.7 s CPU at sf0.1). */
  private[graft] def kernelAdjacencyWithCount(
      spark: SparkSession, sfDir: String): (DataFrame, Long) =
    kernelAdjCache.getOrElseUpdate(spark, sfDir) {
      val adj = State.memo(kernelEdges(spark, sfDir)
        .groupBy(col("src"))
        .agg(array_sort(collect_list(col("dst"))).as("nbrs")))
      (adj.df, adj.rows)
    }

  /** O(23)/q_degree: vertex degree from the edge list (the session memo —
    * see [[degreesWithCount]]). */
  def degree(spark: SparkSession, sfDir: String): DataFrame =
    degreesWithCount(spark, sfDir)._1

  def qDegree(spark: SparkSession, sfDir: String): DataFrame =
    degree(spark, sfDir).orderBy(col("src"))

  /** O8/O23: mean + max degree in one aggregate. */
  def qDegreeStats(spark: SparkSession, sfDir: String): DataFrame =
    degree(spark, sfDir).agg(
      avg(col("degree")).cast("double").as("avg_degree"),
      max(col("degree")).as("max_degree"),
      count(lit(1)).as("n_vertices"))

  /** O8: argmax-by-degree seed selection, deterministic id-asc tiebreak
    * (SURVEY.md §7 risk 1 — the reference's `reduce` tiebreak is
    * encounter-order dependent, coloring.py:21-22). */
  def qArgmaxSeed(spark: SparkSession, sfDir: String): DataFrame =
    degree(spark, sfDir)
      .orderBy(col("degree").desc, col("src").asc)
      .limit(1)
      .select(col("src").as("id"), col("degree"))

  /** Deterministic stand-in coloring used by the SQL-checkable graph queries:
    * color(v) = v mod k. The iterative kernel produces the real coloring
    * (q_color_graph); this one exists so neighbor-gather / first-fit /
    * validation are DuckDB-oracle-checkable. */
  private def moduloColor(c: Column, k: Int): Column = pmod(c, lit(k)).cast("int")

  /** O11: per-vertex sorted distinct neighbor colors as an array
    * (broadcast-probe capability as an edges⋈colors join + collect_set). */
  def neighborColors(spark: SparkSession, sfDir: String): DataFrame =
    edges(spark, sfDir)
      .withColumn("ncolor", moduloColor(col("dst"), 7))
      .groupBy(col("src"))
      .agg(array_sort(collect_set(col("ncolor"))).as("neighbor_colors"))

  /** q_neighbor_colors: [[neighborColors]] with the array rendered as a
    * comma-joined string — the driver compare loads results into pandas,
    * which cannot hash array cells. */
  def qNeighborColors(spark: SparkSession, sfDir: String): DataFrame =
    neighborColors(spark, sfDir)
      .select(col("src"),
        array_join(col("neighbor_colors").cast("array<string>"), ",")
          .as("neighbor_colors"))
      .orderBy(col("src"))

  /** O13/q_first_fit: smallest color in [0, k) unused by any neighbor —
    * the kernel's first-fit rule as a pure native expression
    * (`array_min(array_except(sequence(0,k-1), used))`), no UDF.
    * Reference semantics: coloring_optimized.py:150-166. */
  def qFirstFit(spark: SparkSession, sfDir: String): DataFrame = {
    val k = 8 // neighbor colors live in [0,7): a free color always exists
    edges(spark, sfDir)
      .withColumn("ncolor", moduloColor(col("dst"), 7))
      .groupBy(col("src"))
      .agg(collect_set(col("ncolor")).as("used"))
      .select(
        col("src"),
        array_min(array_except(sequence(lit(0), lit(k - 1)), col("used")))
          .as("first_fit"))
      .orderBy(col("src"))
  }

  /** O22/q_validate_coloring: count conflicting edges for the stand-in
    * coloring via the double join edges⋈colors⋈colors
    * (reference: validate_graph_coloring, coloring.py:149-162). */
  def qValidateColoring(spark: SparkSession, sfDir: String): DataFrame = {
    val e = edges(spark, sfDir)
    val (deg, vCount) = degreesWithCount(spark, sfDir)
    // The vertex set reads off the persisted degree memo (one row per
    // distinct src — identical to e.select(src).distinct(), minus the
    // E-sized distinct shuffle).
    val colors = deg.select(col("src").as("id"))
      .withColumn("color", moduloColor(col("id"), 5))
    // Colors table is V-sized (≪ E) — broadcast both probe sides explicitly
    // so the two membership joins stay map-side over one pass of the edge
    // list instead of two sort-merge shuffles (AQE only discovers the size
    // after the distinct's shuffle finishes). Conditional on the degree
    // memo's EXACT |V| (r12's 100× leg: the |E| proxy crossed the row cap
    // at 239 M directed edges while colors held 2 M rows, so both hints
    // vanished and the query shuffled ×17.8 — the honest signal keeps the
    // broadcast regime until |V| itself reaches the crossover).
    e.join(Broadcasts.maybeBroadcast(colors.as("ca"), vCount),
        col("src") === col("ca.id"))
      .join(Broadcasts.maybeBroadcast(colors.as("cb"), vCount),
        col("dst") === col("cb.id"))
      .filter(col("ca.color") === col("cb.color"))
      .agg(count(lit(1)).as("conflicts"))
  }

  /** q_triangle_count: triangles via degree-ordered orientation — each
    * undirected edge is directed from its (degree, id)-smaller endpoint to
    * the larger, wedges are pairs of out-edges from one vertex, and a wedge
    * closes iff its two endpoints are an oriented edge. Out-degrees under
    * this orientation are bounded by graph arboricity (≈√E), so the wedge
    * join is Σ outdeg² ≪ Σ deg² of the naive a<b<c three-way join —
    * the standard scale formulation (id-ordered joins explode on hub
    * vertices; degree-ordering caps the quadratic term). Count is
    * orientation-independent, so the DuckDB oracle keeps the naive form. */
  def qTriangleCount(spark: SparkSession, sfDir: String): DataFrame = {
    // Thin reader over the session-cached total (triCache below) so the
    // oriented-intersect pipeline runs once however many queries need it.
    import spark.implicits._
    Seq(triangleTotals(spark, sfDir)._1).toDF("n_triangles")
  }

  /** Packed (degree, id) key width: id lives in the low 33 bits, degree in
    * the bits above — so ONE long comparison is the (deg, id) orientation
    * order and one bitmask recovers the id. Headroom: id < 2³³ and
    * deg < 2³⁰ (asserted per V row below — a corpus with wider ids widens
    * the shift, it must not silently truncate). */
  private val TRI_ID_BITS = 33
  private val TRI_ID_MASK = (1L << TRI_ID_BITS) - 1L

  /** Degree-ordered OUT-adjacency `(u, nbrs)` of a symmetric edge list —
    * the triangle pipeline's one derived relation, split out so
    * PlanShapeSpec can pin its physical shape: the packed (degree, id) key
    * table rides build-side onto BOTH endpoints (two conditional
    * broadcasts of the V-sized table), the orientation filter
    * `key(src) > key(dst)` runs BEFORE the shuffle, and one groupBy(dst)
    * then collects exactly N⁺(dst). Filtering pre-shuffle is the scale
    * contract: collected arrays are bounded by graph ARBORICITY (≈√E) —
    * never by max degree, so a 10⁶-degree hub materializes no 10⁶-element
    * row and the collect_list shuffle carries E/2 rows total (the
    * full-neighborhood variant this replaces collected Δ-sized rows: the
    * standard skew/OOM trap at web scale). Vertices with empty N⁺ have no
    * row — they contribute 0 triangles, and wedge totals come from the
    * degree table, so nothing is lost.
    *
    * The assert_true rides INSIDE the key expression (coalesce of a
    * NULL-on-success probe) so column pruning can't drop it: ids past 2³³
    * or degrees past 2³⁰ must fail loudly, not alias into wrong
    * triangles. */
  private[graft] def triangleAdjacency(e: DataFrame, vBound: Long): DataFrame = {
    val keyed = triangleKeys(e)
    e.join(Broadcasts.maybeBroadcast(
        keyed.select(col("kid").as("sid"), col("kkey").as("s_key")), vBound),
        col("src") === col("sid"))
      .join(Broadcasts.maybeBroadcast(
        keyed.select(col("kid").as("did"), col("kkey").as("d_key")), vBound),
        col("dst") === col("did"))
      .filter(col("s_key") > col("d_key"))
      .groupBy(col("dst"))
      .agg(collect_list(col("s_key")).as("nkeys"))
      .select(col("dst").as("u"),
        array_sort(transform(col("nkeys"),
          k => k.bitwiseAND(lit(TRI_ID_MASK)))).as("nbrs"))
  }

  /** Packed (degree, id) key per vertex — one long whose comparison IS the
    * (deg, id) orientation order; the low [[TRI_ID_BITS]] bits recover the
    * id. Shared by the adjacency build (both endpoint probes) and the
    * wedge total. */
  private def triangleKeys(e: DataFrame): DataFrame =
    e.groupBy(col("src")).agg(count(lit(1)).as("degree"))
      .select(
        col("src").as("kid"),
        col("degree"),
        (shiftleft(col("degree"), TRI_ID_BITS) + col("src") +
          coalesce(assert_true(
            col("src").between(0L, TRI_ID_MASK) &&
              col("degree") < lit(1L << (63 - TRI_ID_BITS))).cast("long"),
            lit(0L))).as("kkey"))

  private def triangleCountPipeline(spark: SparkSession, sfDir: String): (Long, Long) = {
    // r14: the scalar totals ride the SHARED triple memo instead of a
    // second, count-only adjacency+probe pipeline. Three sibling queries
    // (q_edge_jaccard, q_local_cc, q_truss) materialize [[triangleTriples]]
    // anyway, so the count-only probe duplicated the whole adjacency build
    // + intersect pass once per session (measured 22.7 s CPU at sf0.1 on
    // top of the 48.6 s triple build). T is the memo's materialization
    // count — free — and wedges come from the degree memo (identical to
    // the old per-pipeline degree agg: both are groupBy(src).count over
    // the same cached edge stream). `div` is exact: d(d−1) is even.
    val (_, total) = triangleTriplesWithCount(spark, sfDir)
    val (deg, _) = degreesWithCount(spark, sfDir)
    val wedges = deg
      .select(expr("degree * (degree - 1) div 2").as("w"))
      .agg(coalesce(sum(col("w")), lit(0L)).as("w")).head().getLong(0)
    (total, wedges)
  }

  /** Session-lifetime triangle total per sfDir — the shared triple memo
    * materializes once; q_triangle_count and q_clustering_coeff both read
    * the cached scalar (same stance as the LP/cluster caches).
    * Bench note: the memo executes inside the FIRST consumer's timed
    * region (query construction happens inside the bench timer), so
    * whichever of the triangle-family queries runs first carries the full
    * build cost. */
  private val triCache = new SessionCache[(Long, Long)]

  /** Test hook: live triangle-cache entries (GraphAnalyticsSpec pins that a
    * new session or a new sfDir RECOMPUTES instead of serving a stale
    * scalar — the cache key is the live session object plus the data dir). */
  private[graft] def triCacheEntries: Int = triCache.size

  /** (triangle total, wedge total) — both scalars from the one pipeline run. */
  private def triangleTotals(spark: SparkSession, sfDir: String): (Long, Long) =
    triCache.getOrElseUpdate(spark, sfDir)(triangleCountPipeline(spark, sfDir))

  /** The census tool's window onto [[triangleTotals]] (tools live outside
    * the `ops` package; the memo semantics are unchanged). */
  private[graft] def triangleTotalsForCensus(
      spark: SparkSession, sfDir: String): (Long, Long) =
    triangleTotals(spark, sfDir)

  /** q_clustering_coeff: global clustering coefficient — 3·triangles over
    * connected triples (wedges, Σ d(d−1)/2). BOTH scalars come from the
    * session-cached pipeline run (the wedge sum rides the same adjacency
    * build), so this query is pure driver arithmetic after the first
    * consumer. The one double divides two exact BIGINTs in a pinned
    * order, so DuckDB reproduces it bit-identically. */
  def qClusteringCoeff(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val (t, w) = triangleTotals(spark, sfDir)
    Seq((t, w, (3L * t).toDouble / w.toDouble))
      .toDF("n_triangles", "n_wedges", "global_cc")
  }

  /** Session-lifetime canonical triangle TRIPLES per sfDir — each triangle
    * once, as ID-CANONICAL (p, q, r) with p < q < r (the (deg,id)-key
    * orientation the enumeration uses is sorted away at build time: no
    * consumer needs it, and canonicalizing INSIDE the memo means the peel
    * loop's repeated scans don't re-sort per row). Three queries read these
    * rows (q_edge_jaccard explodes member edges, q_local_cc member
    * vertices, q_truss scans them as its immutable peel worklist), so the
    * adjacency build + arboricity-bounded intersect runs ONCE per session
    * per sfDir instead of once per query (measured ~5 s wall / ~80 s CPU
    * apiece at sf0.1). Persist cost: T rows of 3 longs (~triangle count —
    * 414 k at sf0.01), MEMORY_AND_DISK like the edge memo; the transient
    * adjacency is dropped once the triples are materialized. */
  private val triTriplesCache = new SessionCache[(DataFrame, Long)]

  private[graft] def triangleTriples(spark: SparkSession, sfDir: String): DataFrame =
    triangleTriplesWithCount(spark, sfDir)._1

  /** The memo plus its exact row count T (free — the memo materializes
    * with a count anyway; the totals cache reads it instead of running a
    * second count-only pipeline). */
  private[graft] def triangleTriplesWithCount(
      spark: SparkSession, sfDir: String): (DataFrame, Long) =
    triTriplesCache.getOrElseUpdate(spark, sfDir) {
      val (e, eCount) = edgesWithCount(spark, sfDir)
      val (_, vCount) = degreesWithCount(spark, sfDir)
      // The triple plan reads the adjacency twice (the exploded side and
      // the probed side): landed once, and freed once the triples land.
      // The landing keeps one partition per 64 Ki rows, but a row carries
      // a neighbor array, so the plan reads it through one hash shuffle on
      // `u` that adaptive execution sizes by bytes and both reads reuse:
      // the intersect keeps its width (one task at sf0.1 otherwise).
      val adj = State.memo(triangleAdjacency(e, vCount))
      val tri = try State.memo(triangleTriplesPlan(
        adj.df.repartition(col("u")), vCount, eCount / 2 * 8L))
      finally adj.release()
      (tri.df, tri.rows)
    }

  /** The lazy triple plan over a (degree-ordered) adjacency — split from
    * the memo so PlanShapeSpec can pin its physical shape (broadcast gate,
    * codegen intersect) and GraphAnalyticsSpec can drive literal graphs.
    *
    * Each oriented edge (u, v) — recovered by exploding N⁺(u) — yields one
    * triangle row per w ∈ N⁺(u) ∩ N⁺(v) (common out-neighbors close
    * u→v, u→w, v→w exactly once). r14 hot-path rework, guide §"per-task
    * work": the intersect is the codegen sorted-merge expression
    * `graft_sorted_intersect` — the hash-set `array_intersect` it replaces
    * built a set per row — and id-canonicalization is three scalar
    * least/greatest comparisons + an exact sum instead of
    * array_sort(array(u,v,w)) allocating a 3-array per triangle (ids are
    * < 2³³ by the adjacency's packed-key assert, so u+v+w < 2³⁵ is exact).
    * The adj broadcast carries Θ(|E|) longs across its arrays even at
    * ≤ |V| rows, so its gate takes BOTH signals: exact |V| rows AND the
    * exact |E|-derived payload against `Broadcasts.MaxBytes` — past it the
    * build degrades to a shuffle join instead of hitting Spark's 8 GB
    * broadcast hard cap (r13 ADVICE). */
  private[graft] def triangleTriplesPlan(adj: DataFrame, vCount: Long,
      adjPayloadBytes: Long): DataFrame = {
    val lo = least(col("u"), col("v"), col("w"))
    val hi = greatest(col("u"), col("v"), col("w"))
    adj
      .select(col("u"), col("nbrs").as("nu"), explode(col("nbrs")).as("v"))
      .join(Broadcasts.maybeBroadcastSized(
        adj.select(col("u").as("av"), col("nbrs").as("nv")), vCount,
        adjPayloadBytes),
        col("v") === col("av"))
      .select(col("u"), col("v"),
        explode(call_function("graft_sorted_intersect",
          col("nu"), col("nv"))).as("w"))
      .select(lo.as("p"), (col("u") + col("v") + col("w") - lo - hi).as("q"),
        hi.as("r"))
  }

  /** Session-lifetime per-edge triangle SUPPORT memo: the 3T-row member
    * explode of [[triangleTriples]] aggregated to (a, b, supp) once —
    * q_edge_jaccard ranks by it and q_truss peels from it, and before this
    * memo each ran its own identical 3T-row shuffle+agg (r13 verdict
    * item 4). Materialized (localCheckpoint) like the triple memo, ≤ E/2
    * canonical-edge rows; attribution follows the bench's alphabetical
    * rule — the first consumer in a leg pays the build. */
  private val triSupportCache = new SessionCache[DataFrame]

  private[graft] def triangleSupport(spark: SparkSession, sfDir: String): DataFrame =
    triSupportCache.getOrElseUpdate(spark, sfDir) {
      State.loop(triangleMemberEdges(triangleTriples(spark, sfDir))
        .groupBy(col("a"), col("b")).agg(count(lit(1)).as("supp"))).df
    }

  /** Canonical member edges (a, b) of a [[triangleTriples]] relation —
    * id-canonical (p,q), (p,r), (q,r), three rows per triangle. The one
    * definition all triple consumers explode through (q_edge_jaccard's
    * support agg, q_truss's peel), so a change to the triple schema can't
    * silently drift between them. */
  private[graft] def triangleMemberEdges(t: DataFrame): DataFrame =
    t.select(explode(array(
        struct(col("p").as("a"), col("q").as("b")),
        struct(col("p").as("a"), col("r").as("b")),
        struct(col("q").as("a"), col("r").as("b")))).as("m"))
      .select(col("m.a").as("a"), col("m.b").as("b"))

  /** q_edge_jaccard: link strength per co-purchase edge — the Jaccard of
    * the two endpoint neighborhoods with the edge itself removed:
    * supp / (da + db − 2 − supp), where supp = |N(a) ∩ N(b)| is the edge's
    * triangle SUPPORT (the k-truss quantity; also the "embeddedness"
    * signal recommenders rank co-purchase affinity by). Top-20 supported
    * edges, ordered (jaccard desc, a, b).
    *
    * Scale shape: support reuses the degree-ordered adjacency of
    * q_triangle_count — each triangle is found ONCE at its lowest-(deg,id)
    * vertex (arboricity-bounded intersect, never the Σd² wedge set) and
    * exploded to its 3 member edges, so the support shuffle carries 3T
    * rows; degrees ride build-side as two conditional V-sized broadcasts
    * and the top-20 is a TakeOrderedAndProject. Edges with supp = 0 can't
    * enter a positive-score top-k and are omitted by construction.
    * Determinism: the denominator (the union size) ≥ supp ≥ 1, so the
    * division is total, and jaccard divides two exact BIGINTs in pinned
    * order — both engines order by the identical double, ties broken by
    * (a, b); display rounds to 6 dp. */
  def qEdgeJaccard(spark: SparkSession, sfDir: String): DataFrame = {
    // Per-edge triangle support from the SHARED session memo (r13 verdict
    // item 4): q_truss aggregates the identical 3T-row member-edge
    // support table as its peel's base state, so the groupBy runs once
    // per session instead of once per consumer — one fewer 3T-row
    // shuffle+agg for whichever of the two runs second.
    val supp = triangleSupport(spark, sfDir)
    // Degrees from the session memo, broadcast on the EXACT |V| signal
    // (r12: the |E| proxy silently shuffled both probes at the 100× leg).
    val (deg, vCount) = degreesWithCount(spark, sfDir)
    val jac = col("supp").cast("double") /
      (col("da") + col("db") - lit(2L) - col("supp")).cast("double")
    supp
      .join(Broadcasts.maybeBroadcast(
        deg.select(col("src").as("a_id"), col("degree").as("da")), vCount),
        col("a") === col("a_id"))
      .join(Broadcasts.maybeBroadcast(
        deg.select(col("src").as("b_id"), col("degree").as("db")), vCount),
        col("b") === col("b_id"))
      .orderBy(jac.desc, col("a"), col("b")).limit(20)
      .select(col("a"), col("b"), col("supp"), col("da"), col("db"),
        round(jac, 6).as("jaccard"))
  }

  /** DuckDB oracle for [[qEdgeJaccard]]: naive canonical triangle
    * enumeration (x < y < z) exploded to member edges — fine at oracle
    * scale; the ORDER BY uses the same unrounded integer-ratio double. */
  def edgeJaccardOracleSql(): String =
    s"""WITH edges AS ($edgesSql),
       |canon AS (SELECT src, dst FROM edges WHERE src < dst),
       |tri AS (
       |  SELECT e1.src AS x, e1.dst AS y, e2.dst AS z
       |  FROM canon e1 JOIN canon e2 ON e2.src = e1.dst
       |  JOIN canon e3 ON e3.src = e1.src AND e3.dst = e2.dst),
       |edges3 AS (
       |  SELECT x AS a, y AS b FROM tri
       |  UNION ALL SELECT x AS a, z AS b FROM tri
       |  UNION ALL SELECT y AS a, z AS b FROM tri),
       |supp AS (SELECT a, b, count(*) AS supp FROM edges3 GROUP BY a, b),
       |deg AS (SELECT src, count(*) AS degree FROM edges GROUP BY src)
       |SELECT s.a, s.b, s.supp, da.degree AS da, db.degree AS db,
       |  round(CAST(s.supp AS DOUBLE) /
       |        (da.degree + db.degree - 2 - s.supp), 6) AS jaccard
       |FROM supp s JOIN deg da ON da.src = s.a JOIN deg db ON db.src = s.b
       |ORDER BY CAST(s.supp AS DOUBLE) /
       |         (da.degree + db.degree - 2 - s.supp) DESC, s.a, s.b
       |LIMIT 20""".stripMargin

  /** q_local_cc: per-VERTEX clustering coefficient — the local cousin of
    * q_clustering_coeff's global ratio: lcc(v) = 2·t(v) / (d(v)·(d(v)−1))
    * for d(v) ≥ 2, where t(v) is the number of triangles containing v.
    * Top-20 vertices by (lcc desc, id) — the "how clique-like is this
    * part's co-purchase neighborhood" ranking.
    *
    * Scale shape: t(v) reuses the degree-ordered adjacency of
    * q_triangle_count — each triangle found ONCE at its lowest-(deg,id)
    * vertex (arboricity-bounded intersect, never the Σd² wedge set) and
    * exploded to its 3 member VERTICES, so the per-vertex agg shuffles 3T
    * rows; the degree table rides build-side on the exact V-row signal and
    * the top-20 is a TakeOrderedAndProject. The join is LEFT from the
    * degree side so triangle-free vertices keep lcc = 0 (they only surface
    * when fewer than 20 vertices close any triangle).
    * Determinism: lcc divides two exact BIGINTs in pinned order, so both
    * engines order by the identical double, ties broken by id; display
    * rounds to 6 dp. */
  def qLocalCc(spark: SparkSession, sfDir: String): DataFrame = {
    val tri = triangleTriples(spark, sfDir)
    val perV = tri
      .select(explode(array(col("p"), col("q"), col("r"))).as("tid"))
      .groupBy(col("tid")).agg(count(lit(1)).as("n_tri"))
    val (degAll, vCount) = degreesWithCount(spark, sfDir)
    val deg = degAll.filter(col("degree") >= 2)
    val lcc = (col("n_tri") * lit(2L)).cast("double") /
      (col("degree") * (col("degree") - lit(1L))).cast("double")
    deg
      .join(Broadcasts.maybeBroadcast(perV, vCount),
        col("src") === col("tid"), "left_outer")
      .select(col("src").as("id"), col("degree"),
        coalesce(col("n_tri"), lit(0L)).as("n_tri"))
      .orderBy(lcc.desc, col("id")).limit(20)
      .select(col("id"), col("degree"), col("n_tri"), round(lcc, 6).as("lcc"))
  }

  /** DuckDB oracle for [[qLocalCc]]: naive canonical triangle enumeration
    * (x < y < z) exploded to member vertices; the ORDER BY uses the same
    * unrounded integer-ratio double as the Spark side. */
  def localCcOracleSql(): String =
    s"""WITH edges AS ($edgesSql),
       |canon AS (SELECT src, dst FROM edges WHERE src < dst),
       |tri AS (
       |  SELECT e1.src AS x, e1.dst AS y, e2.dst AS z
       |  FROM canon e1 JOIN canon e2 ON e2.src = e1.dst
       |  JOIN canon e3 ON e3.src = e1.src AND e3.dst = e2.dst),
       |verts AS (
       |  SELECT x AS id FROM tri
       |  UNION ALL SELECT y AS id FROM tri
       |  UNION ALL SELECT z AS id FROM tri),
       |pv AS (SELECT id, count(*) AS n_tri FROM verts GROUP BY id),
       |deg AS (SELECT src AS id, count(*) AS degree FROM edges
       |        GROUP BY src HAVING count(*) >= 2)
       |SELECT d.id, d.degree, coalesce(pv.n_tri, 0) AS n_tri,
       |  round(CAST(coalesce(pv.n_tri, 0) * 2 AS DOUBLE) /
       |        CAST(d.degree * (d.degree - 1) AS DOUBLE), 6) AS lcc
       |FROM deg d LEFT JOIN pv ON pv.id = d.id
       |ORDER BY CAST(coalesce(pv.n_tri, 0) * 2 AS DOUBLE) /
       |         CAST(d.degree * (d.degree - 1) AS DOUBLE) DESC, d.id
       |LIMIT 20""".stripMargin

  /** [[qTruss]] threshold: surviving edges need ≥ TRUSS_K − 2 triangles
    * whose edges all survive too. */
  val TRUSS_K = 4

  /** q_truss: k-truss decomposition — the EDGE-grade cousin of q_kcore:
    * iteratively drop edges supported by fewer than k−2 surviving
    * triangles until fixpoint; the survivors are the k-truss, the standard
    * denser-than-core community backbone (every truss edge sits in ≥ k−2
    * triangles of the truss itself).
    *
    * Scale shape: the triangle incidence list is built ONCE from the same
    * degree-ordered adjacency as q_triangle_count (each triangle found at
    * its lowest-(deg,id) vertex — never the Σd² wedge set) and then only
    * SHRINKS: each round is one 3T-row explode + hash-agg for support, and
    * three semi-joins that keep triangles whose member edges all survive
    * (the alive set rides build-side on its exact count — past the row cap
    * they degrade to shuffle semi-joins). Alive sets shrink monotonically
    * (triangles only disappear ⇒ supports only fall), so equal counts in
    * consecutive rounds IS the fixpoint — the same convergence contract as
    * the k-core peel, with the same loud 64-round guard. Output: surviving
    * canonical edges with their final in-truss support, ordered (a, b). */
  /** Item cap for the truss peel's Bloom prefilter (session conf,
    * [[BloomMaxItemsKey]]). The round's filter is built driver-side and
    * embedded as a plan LITERAL (~1.8 bytes/item at 0.1% FPP), so an
    * ungated build over a 10⁹-edge removal round would ship a ~1.8 GB
    * literal with every task binary. Default 32 M items ≈ 58 MB literal —
    * comfortably under broadcast-relation scale; past it the round uses
    * the exact semi joins alone (the pre-r14 shape: correct, one extra
    * memo scan, no driver-side blow-up). */
  val BloomMaxItemsKey = "graft.truss.bloomMaxItems"
  val DefaultBloomMaxItems: Long = 32000000L

  /** One peel round's candidate set: the triple memo restricted to
    * triangles that MIGHT touch this round's removed edges. Below the
    * [[BloomMaxItemsKey]] cap this is the single-scan Bloom prefilter
    * (FPs re-verified by the exact semi joins downstream); past the cap
    * it is the memo unchanged — factored out so PlanShapeSpec can pin
    * both shapes by injecting the conf. */
  private[graft] def trussRoundCandidates(
      tri: DataFrame, removedNew: DataFrame, nNew: Long): DataFrame = {
    val conf = tri.sparkSession.conf
    val maxItems =
      conf.get(BloomMaxItemsKey, DefaultBloomMaxItems.toString).toLong
    if (nNew > maxItems) tri
    else {
      val bloomBytes = {
        val bf = removedNew.select(xxhash64(col("a"), col("b")).as("k"))
          .stat.bloomFilter("k", math.max(nNew, 64L), 0.001)
        val bos = new java.io.ByteArrayOutputStream()
        bf.writeTo(bos)
        bos.toByteArray
      }
      def hit(x: Column, y: Column): Column =
        call_function("graft_bloom_contains", lit(bloomBytes), xxhash64(x, y))
      tri.filter(
        hit(col("p"), col("q")) || hit(col("p"), col("r")) ||
          hit(col("q"), col("r")))
    }
  }

  def qTruss(spark: SparkSession, sfDir: String): DataFrame = {
    // The memo is already id-canonical (p < q < r) — member edges are the
    // shared [[triangleMemberEdges]] explode the support agg groups by.
    val tri = triangleTriples(spark, sfDir)
    def memberEdges(t: DataFrame): DataFrame = triangleMemberEdges(t)
    // DELTA peel over an IMMUTABLE worklist: supports are aggregated once,
    // then maintained incrementally. The triple table is never rewritten —
    // it stays the session memo, and each round's work is (a) three
    // broadcast semi joins to find triangles touching this round's removed
    // edges, (b) three broadcast anti joins against the ACCUMULATED removed
    // set so a triangle killed in an earlier round isn't subtracted twice,
    // and (c) a small-side aggregate of the freshly-dead triangles' member
    // edges. Per-round shuffle is proportional to the DELTA, never to T.
    // The E-sized base support table is the session's [[triangleSupport]]
    // memo (q_edge_jaccard reads the same table); rounds touch only
    // DELTA-sized state: lostAcc (edges that lost ≥ 1 triangle so far,
    // ≤ 3·cumulative-dead rows) and removedAll (peeled edges). Current
    // supports are always the lazy map-side expression supp0 − lostAcc
    // (lostAcc rides build-side), so no round rewrites the E-row table.
    // Monotonicity makes the final filter self-contained: supports only
    // fall, so "supp0 − lostAcc ≥ K−2 at the fixpoint" is exactly the
    // truss edge set — removed edges need no separate exclusion.
    val supp0 = triangleSupport(spark, sfDir)
    def currentSupp(lostAcc: State): DataFrame =
      if (lostAcc == null) supp0
      else supp0.join(Broadcasts.maybeBroadcast(lostAcc.df, lostAcc.rows),
          Seq("a", "b"), "left_outer")
        .select(col("a"), col("b"),
          (col("supp") - coalesce(col("lost"), lit(0L))).as("supp"))
    // Its own loop, not State.iterate: a round carries lostAcc and the
    // peeled set beside its frontier. The result reads supp0 and lostAcc
    // only, so the peeled sets are released at the end, and lostAcc too
    // if the peel fails.
    var lostAcc: State = null
    // removedAll stays a LAZY flat union of the per-round removedNew
    // checkpoints: its consumers only ever build broadcast hash relations
    // from it, so re-checkpointing the growing union bought nothing.
    val peeled = scala.collection.mutable.ArrayBuffer.empty[State]
    def removedAll: DataFrame = peeled.map(_.df).reduce(_.union(_))
    def nAll: Long = peeled.map(_.rows).sum
    var removedNew = State.loop(
      supp0.filter(col("supp") < TRUSS_K - 2).select(col("a"), col("b")))
    var candState: Option[State] = None
    try State.releaseOnFailure(Option(lostAcc) ++ candState) {
      var rounds = 0
      while (removedNew.rows > 0 && rounds < 64) {
        rounds += 1
        val remB = Broadcasts.maybeBroadcast(removedNew.df, removedNew.rows)
        def onEdge(t: DataFrame, edges: DataFrame, x: Column, y: Column,
            joinType: String): DataFrame =
          t.join(edges, x === col("a") && y === col("b"), joinType)
        // Bloom pre-filter over this round's removed edges:
        // ONE scan of the memo with three codegen bloom probes instead of
        // three full-scan broadcast semi joins. False positives only add
        // rows to the small candidate set; the EXACT semi joins below
        // re-verify every candidate, so `touch` is bit-identical to the
        // join-only formulation. The prefilter is GATED on nNew: the
        // filter is a driver literal shipped with every task binary, so
        // past the item cap the round reads the memo directly. The
        // candidates are landed because the three semi-join branches
        // below each re-scan them, and the count sizes their layout.
        val candidates = trussRoundCandidates(tri, removedNew.df, removedNew.rows)
        candState = if (candidates eq tri) None else Some(State.loop(candidates))
        val cand = candState.fold(tri)(_.df)
        // Triangles touching a newly-removed edge (the distinct on the
        // (p,q,r) key collapses triangles matched via two removed edges),
        // minus those already dead from an earlier round's removal.
        val touch = onEdge(cand, remB, col("p"), col("q"), "left_semi")
          .union(onEdge(cand, remB, col("p"), col("r"), "left_semi"))
          .union(onEdge(cand, remB, col("q"), col("r"), "left_semi"))
          .distinct()
        // `dead` has exactly one consumer (the lostNew aggregate), so it
        // rides inside lostAcc's one job.
        val dead =
          if (peeled.isEmpty) touch
          else {
            val allB = Broadcasts.maybeBroadcast(removedAll, nAll)
            onEdge(onEdge(onEdge(touch, allB, col("p"), col("q"), "left_anti"),
              allB, col("p"), col("r"), "left_anti"),
              allB, col("q"), col("r"), "left_anti")
          }
        val lostNew = memberEdges(dead).groupBy(col("a"), col("b"))
          .agg(count(lit(1)).as("lost"))
        val lostNext = State.loop(
          if (lostAcc == null) lostNew
          else lostAcc.df.union(lostNew).groupBy(col("a"), col("b"))
            .agg(sum(col("lost")).as("lost")))
        candState.foreach(_.release())
        candState = None
        if (lostAcc != null) lostAcc.release()
        lostAcc = lostNext
        peeled += removedNew
        // Newly-below-threshold edges: map-side over supp0 with both small
        // tables build-side (an edge already removed stays below
        // threshold, so the anti join against removedAll isolates this
        // round's drops).
        removedNew = State.loop(
          currentSupp(lostAcc)
            .filter(col("supp") < TRUSS_K - 2)
            .join(Broadcasts.maybeBroadcast(removedAll, nAll),
              Seq("a", "b"), "left_anti")
            .select(col("a"), col("b")))
      }
      if (removedNew.rows > 0) sys.error(
        "qTruss: peel did not reach a fixpoint within 64 rounds — not a k-truss")
    } finally (peeled += removedNew).foreach(_.release())
    currentSupp(lostAcc).filter(col("supp") >= TRUSS_K - 2)
      .orderBy(col("a"), col("b"))
  }

  /** DuckDB replay of [[qTruss]]: the peel unrolled as chained CTEs over
    * the naive triangle enumeration. `rounds` must cover convergence at the
    * oracle's scale (sf0.01 stabilizes after 2 shrinking rounds; sf0.1 and
    * its disjoint-replica ScaleUp legs peel for 7 removal rounds — the 6
    * the default previously allowed tripped the guard at 10×; extra rounds
    * are cheap no-op filters at the fixpoint) — the guard errors if the
    * last two alive sets differ. */
  def trussOracleSql(rounds: Int = 12): String = {
    val sb = new StringBuilder
    sb.append(
      s"""WITH edges AS ($edgesSql),
         |canon AS (SELECT src AS a, dst AS b FROM edges WHERE src < dst),
         |t0 AS MATERIALIZED (
         |  SELECT e1.a AS x, e1.b AS y, e2.b AS z
         |  FROM canon e1 JOIN canon e2 ON e2.a = e1.b
         |  JOIN canon e3 ON e3.a = e1.a AND e3.b = e2.b)""".stripMargin)
    for (r <- 0 until rounds) sb.append(
      s""",
         |s$r AS MATERIALIZED (
         |  SELECT a, b, count(*) AS supp FROM (
         |    SELECT x AS a, y AS b FROM t$r
         |    UNION ALL SELECT x AS a, z AS b FROM t$r
         |    UNION ALL SELECT y AS a, z AS b FROM t$r)
         |  GROUP BY a, b HAVING count(*) >= ${TRUSS_K - 2}),
         |t${r + 1} AS MATERIALIZED (
         |  SELECT t.x, t.y, t.z FROM t$r t
         |  JOIN s$r e1 ON e1.a = t.x AND e1.b = t.y
         |  JOIN s$r e2 ON e2.a = t.x AND e2.b = t.z
         |  JOIN s$r e3 ON e3.a = t.y AND e3.b = t.z)""".stripMargin)
    sb.append(
      s""",
         |guard AS (
         |  SELECT CASE
         |    WHEN (SELECT count(*) FROM s${rounds - 1}) <>
         |         (SELECT count(*) FROM s${rounds - 2})
         |      THEN error('truss oracle: not converged in $rounds unrolled rounds at this scale — raise rounds')
         |    ELSE 0 END AS ok)
         |SELECT s.a, s.b, s.supp FROM s${rounds - 1} s, guard g WHERE g.ok = 0
         |ORDER BY s.a, s.b""".stripMargin)
    sb.toString
  }

  /** q_assortativity: degree assortativity — the Pearson correlation of
    * endpoint degrees over the DIRECTED symmetric edge list. Symmetry makes
    * the two marginals identical, so the sqrt cancels and
    * r = (n·Σxy − (Σx)²) / (n·Σx² − (Σx)²) is a ratio of exact BIGINTs —
    * one pinned double division at the end, DuckDB-bit-identical.
    * Headroom: n·Σxy < 2⁶³ holds to ~10⁹ edges at max-degree ~10³; past
    * that, rescale degrees by a power of two first (q_pagerank's rule).
    * Scale shape: the V-sized degree table rides build-side into the edge
    * stream twice (conditional broadcasts), then one partial+final agg. */
  def qAssortativity(spark: SparkSession, sfDir: String): DataFrame = {
    val edgesDf = edges(spark, sfDir)
    // Degrees from the session memo, broadcast on the EXACT |V| signal.
    // r12's 100× leg isolated this query as the worst row (×33 CPU,
    // ×16 shuffle for ×3.33 data): the |E|-count proxy crossed the
    // broadcast row cap (239 M > 10⁸) while the degree table held 2 M
    // rows, so BOTH probes degraded to sort-merge joins over the E-sized
    // stream — three E shuffles plus sorts where the intended plan is one
    // map-side pass with two broadcast-hash probes.
    val (deg, vCount) = degreesWithCount(spark, sfDir)
    val e = edgesDf
      .join(Broadcasts.maybeBroadcast(
        deg.select(col("src").as("du_id"), col("degree").as("du")), vCount),
        col("src") === col("du_id"))
      .join(Broadcasts.maybeBroadcast(
        deg.select(col("src").as("dv_id"), col("degree").as("dv")), vCount),
        col("dst") === col("dv_id"))
    // Zero-variance guard (r5 ADVICE): on a degree-REGULAR graph the
    // denominator n·Σx² − (Σx)² is exactly 0 and Spark's IEEE division
    // would emit NaN where DuckDB's division-by-zero emits NULL — so the
    // correlation is undefined-as-NULL on both engines, explicitly.
    // Overflow loudness (r5 ADVICE): DuckDB raises on BIGINT overflow but
    // Scala Long wraps silently, desynchronizing the engines past the
    // documented ~10⁹-edge headroom. A double-domain width check on the
    // one-row aggregate (riding inside the numerator via coalesce so
    // pruning can't drop it) fails loudly on the Spark side too.
    // coalesce-to-true: on an EMPTY edge set the sums are NULL and no
    // overflow is possible — the assert must pass (NULL input would raise),
    // leaving the NULL-row output both engines produce for the degenerate
    // graph.
    val momentBound = spark.conf
      .get(AssortMaxMomentKey, DefaultAssortMaxMoment.toString).toDouble
    val widthOk = assert_true(coalesce(
      col("n_dir_edges").cast("double") * col("sxy").cast("double") < momentBound &&
        col("sx").cast("double") * col("sx").cast("double") < momentBound &&
        col("n_dir_edges").cast("double") * col("sxx").cast("double") < momentBound,
      lit(true)),
      lit("qAssortativity: moment products exceed the DECIMAL(38,0) " +
        "headroom — rescale degrees"))
    // The assert rides inside DEN, not num (r6 ADVICE): the zero-variance
    // CaseWhen evaluates den on every row but short-circuits num away on
    // the den = 0 branch — which includes the case where den WRAPPED to
    // exactly 0, precisely when the loudness guard must fire. Adding the
    // coalesced NULL keeps den's value bit-identical.
    // Moment PRODUCTS widen to exact DECIMAL(38,0) (the 10× scale leg hit
    // 2⁶³ on n·sxy at ~2.3e7 directed edges: the sums are safe longs but
    // their products are not). DuckDB mirrors with HUGEINT; both engines
    // then round the identical exact integer to the nearest double.
    val d38 = "decimal(38,0)"
    val num = (col("n_dir_edges").cast(d38) * col("sxy").cast(d38) -
      col("sx").cast(d38) * col("sx").cast(d38)).cast("double")
    val den = (col("n_dir_edges").cast(d38) * col("sxx").cast(d38) -
      col("sx").cast(d38) * col("sx").cast(d38))
      .cast("double") + coalesce(widthOk.cast("double"), lit(0d))
    e.agg(
      count(lit(1)).as("n_dir_edges"),
      sum(col("du")).as("sx"),
      sum(col("du") * col("dv")).as("sxy"),
      sum(col("du") * col("du")).as("sxx"))
      .select(col("n_dir_edges"), col("sx"), col("sxy"), col("sxx"),
        when(den === 0d, lit(null).cast("double"))
          .otherwise(num / den).as("assortativity"))
  }

  /** Core order for [[qKcore]]: 18 peels in 3 rounds at sf0.001 (core 185)
    * and 6 rounds at sf0.01 (core 1853) — deep enough to exercise the
    * iteration, non-empty at every gate scale. */
  private[ops] val KCORE_K = 18

  /** q_kcore: k-core decomposition by iterative peeling — repeatedly drop
    * vertices with in-subgraph degree < k until fixpoint; the surviving
    * (id, core_deg) rows are the k-core. The graph-quality primitive a
    * web-scale data pipeline uses to isolate densely-connected regions
    * (link-spam cores, community seeds) before expensive per-node work.
    *
    * Scale shape (delta peel): degrees are aggregated ONCE, then
    * MAINTAINED by subtraction — each round probes the V-row adjacency
    * memo with this round's removed vertices only, and the V-sized
    * (vid, deg) state absorbs the per-neighbor removal counts. The
    * fixpoint needs NO final pass: the maintained degree IS the
    * in-subgraph degree (each removed vertex is subtracted from each
    * neighbor exactly once, in the round after it drops, so
    * deg(v) = |N(v) ∩ active| is an invariant). The removal set's exact
    * count is already on the driver (it drives the fixpoint test), so it
    * doubles as the broadcast-size signal: a huge round-1 removal set
    * degrades to a shuffle join, later rounds broadcast a shrinking set.
    * The rounds run on [[State.iterate]] (V-row state). DuckDB oracle: the
    * peel unrolled as chained CTEs with a convergence-guard (fixpoint must
    * be reached within the unrolled rounds or the oracle errors loudly —
    * the round count is measured at a scale, not a semantic constant). */
  def qKcore(spark: SparkSession, sfDir: String): DataFrame = {
    // Initial degrees and the per-round removal probe both ride the shared
    // V-row [[kernelAdjacency]] memo. A round's delta is the neighbor
    // multiset of THIS round's removed vertices — joining the broadcast
    // removed set into the array table scans |V| rows and explodes only
    // matched neighborhoods (Σ deg(removed) ≤ E telescoped across ALL
    // rounds, symmetric graph).
    val (adj, _) = kernelAdjacencyWithCount(spark, sfDir)
    // Each state checkpoint OBSERVES its own below-threshold count, so the
    // next round's removal count is known when the checkpoint lands: one
    // job per round.
    val below = sum(when(col("deg") < KCORE_K, 1L).otherwise(0L)).as("nb")
    val (core, _) = State.iterate(
        State.loop(adj.select(col("src").as("vid"),
          size(col("nbrs")).cast("long").as("deg")), below),
        64, below)((cur, _) => cur("nb") == 0L) { (cur, _, _) =>
      // Lazy: evaluated inside the next checkpoint's broadcast build over
      // the already-checkpointed state — no standalone job.
      val removed = cur.df.filter(col("deg") < KCORE_K).select(col("vid"))
      val delta = adj
        .join(Broadcasts.maybeBroadcast(
          removed.select(col("vid").as("rv")), cur("nb")),
          col("src") === col("rv"))
        .select(explode(col("nbrs")).as("src"))
        .groupBy(col("src")).agg(count(lit(1)).as("rem_n"))
      cur.df.filter(col("deg") >= KCORE_K)
        .join(delta, col("vid") === col("src"), "left")
        .select(col("vid"),
          (col("deg") - coalesce(col("rem_n"), lit(0L))).as("deg"))
    }
    // Mirror the oracle's convergence-guard policy: the DuckDB replay errors
    // loudly when its unrolled rounds don't reach the fixpoint, so a
    // round-capped engine run must not silently return a non-fixpoint set.
    if (core("nb") != 0L) {
      core.release()
      sys.error("qKcore: peel did not reach a fixpoint within 64 rounds — not a k-core")
    }
    core.df.select(col("vid").as("id"), col("deg").as("core_deg"))
      .orderBy(col("id"))
  }

  /** DuckDB replay of [[qKcore]]: the peel unrolled as chained CTEs.
    * `rounds` must cover convergence at the oracle's scale (sf0.01 peels in
    * 6; extra rounds are no-ops at the fixpoint) — the guard asserts the
    * last two rounds are identical, erroring otherwise. */
  def kcoreOracleSql(rounds: Int = 10): String = {
    val sb = new StringBuilder
    sb.append(s"WITH $kernelEdgesCtes,\n")
    sb.append("e0 AS MATERIALIZED (SELECT src, dst FROM e)")
    for (r <- 0 until rounds) sb.append(
      s""",
         |k$r AS MATERIALIZED (
         |  SELECT src FROM e$r GROUP BY src HAVING count(*) >= $KCORE_K),
         |e${r + 1} AS MATERIALIZED (
         |  SELECT t.src, t.dst FROM e$r t
         |  JOIN k$r a ON a.src = t.src
         |  JOIN k$r b ON b.src = t.dst)""".stripMargin)
    sb.append(
      s""",
         |guard AS (
         |  SELECT CASE
         |    WHEN (SELECT count(*) FROM e$rounds) <> (SELECT count(*) FROM e${rounds - 1})
         |      THEN error('kcore oracle: not converged in $rounds unrolled rounds at this scale — raise rounds')
         |    ELSE 0 END AS ok)
         |SELECT t.src AS id, count(*) AS core_deg
         |FROM e$rounds t, guard g WHERE g.ok = 0
         |GROUP BY t.src ORDER BY id""".stripMargin)
    sb.toString
  }

  /** Synchronous label-propagation rounds (a semantic constant of
    * q_label_prop, not a convergence bound — both engines run exactly
    * this many). */
  private val LP_ROUNDS = 4

  /** q_label_prop: community detection by synchronous label propagation
    * over the co-order graph — label₀(v) = v; each round every vertex
    * adopts the most frequent label among its neighbors, ties broken by
    * smallest label. Exactly [[LP_ROUNDS]] synchronous rounds, so the
    * result is a pure function of the graph: GraphX's `LabelPropagation`
    * has the same recurrence but breaks frequency ties by message REDUCE
    * ORDER (nondeterministic across partitionings), which would make the
    * query un-oracle-checkable — the deterministic tiebreak is the
    * cross-engine contract (SURVEY §8 determinism-as-architecture).
    *
    * Scale shape per round: the V-sized label table joins the static
    * E-sized edge stream build-side (conditional broadcast, same signal as
    * the k-core peel — past ~10⁸ vertices it degrades to a shuffle join on
    * src); the modal label then takes TWO hash-aggs — count over
    * (dst, label), then max(struct(c, -label)) over dst — both
    * partial-aggregatable map-side, instead of a sort-window rank (the
    * argmax never materializes a per-vertex sorted neighborhood). Labels
    * are checkpointed per round (truncates the 4-round lineage; V rows).
    * DuckDB oracle: the same recurrence unrolled as chained CTEs with a
    * row_number tiebreak — readable SQL over the same edge set. */
  def qLabelProp(spark: SparkSession, sfDir: String): DataFrame =
    labelPropLabels(spark, sfDir)._2.orderBy(col("id"))

  /** Session-lifetime cache of the converged LP label table per sfDir —
    * the same materialized-view stance as [[ColorQueries]]' Δ+1 trace: the
    * recurrence is deterministic, and both q_label_prop and q_modularity
    * start from the identical 4-round result, so the round loop runs once
    * per session and both queries read the checkpointed labels. */
  private val lpCache = new SessionCache[(DataFrame, DataFrame, Long)]

  /** Runs the [[LP_ROUNDS]]-round synchronous recurrence once per
    * (session, sfDir); returns (symmetric edge stream, final labels,
    * broadcast ROW BOUND for V-sized tables). The bound is the degree
    * memo's EXACT |V| — r12's 100× leg proved the previous |E|-count
    * proxy wrong in practice, not just conservative: at 239 M directed
    * edges it crossed `Broadcasts.DefaultMaxRows` while the label table
    * held 2 M rows, so every round's label join degraded to a shuffle of
    * the E-sized stream (q_label_prop shuffle ×24.9 for ×3.33 data). */
  private[graft] def labelPropLabels(
      spark: SparkSession, sfDir: String): (DataFrame, DataFrame, Long) =
    lpCache.getOrElseUpdate(spark, sfDir)({
      val (eRaw, _) = edgesWithCount(spark, sfDir)
      val (deg, vCount) = degreesWithCount(spark, sfDir)
      val e = eRaw.select(col("src"), col("dst"))
      // The packing-width probe reads max(id) off the V-sized degree memo
      // (symmetric edges ⇒ every endpoint appears as src) instead of
      // re-scanning the E-sized edge stream (r14: 6.1 s CPU → noise).
      val maxId = deg.agg(coalesce(max(col("src")), lit(0L))).head().getLong(0)
      (e, labelPropOver(spark, e, vCount, Some(maxId)), vCount)
    })

  /** The [[LP_ROUNDS]]-round loop over an arbitrary symmetric edge set —
    * split from [[labelPropLabels]] so BoundsSpec can drive it with
    * injected wide vertex ids. Picks the argmax packing ONCE, plan-time:
    * labels only ever take values from the initial vertex-id set and
    * per-(dst,label) counts are ≤ vBound (callers pass |V| or |E|; a
    * count is a neighbor subset, ≤ degree < |V| ≤ |E|), so `max id ≤
    * 2³²−1 ∧ vBound < 2³¹` proves the 32-bit lanes safe for EVERY round; past
    * either bound the rounds run the DECIMAL(38,0) wide packing instead
    * of assert-failing (r7 VERDICT item 6). The max-id probe is one
    * tiny agg over the cached edge memo, paid once per session. */
  private[graft] def labelPropOver(
      spark: SparkSession, e: DataFrame, vBound: Long,
      knownMaxId: Option[Long] = None): DataFrame = {
    val maxId = knownMaxId.getOrElse(
      e.agg(coalesce(max(greatest(col("src"), col("dst"))), lit(0L)))
        .head().getLong(0))
    val wide = maxId > LP_MAX_L || vBound >= (1L << 31)
    // The rounds re-read the edges through one State.memo with the
    // row-count layout. The checkpoint records no hash layout, so each
    // round's aggregate exchanges its map-side partial-aggregate output
    // only.
    val edgeMemo = State.memo(e)
    try {
      // Round 1 in closed form: labels₀(v) = v is the identity, so every
      // neighbor label of dst is distinct — all candidate counts are
      // exactly 1 and the (count, smallest-label) argmax degenerates to
      // min(neighbor id). One E-scan agg replaces the join + double-agg
      // round over an all-distinct (dst,label) table, the most expensive
      // round of the loop precisely because nothing collapses yet. Exact
      // for the wide path too: the argmax is over (c=1, label), packing
      // never enters.
      val first = State.loop(
        edgeMemo.df.groupBy(col("dst")).agg(min(col("src")).as("label"))
          .select(col("dst").as("id"), col("label")))
      State.iterate(first, LP_ROUNDS - 1)((_, _) => false) { (labels, _, _) =>
        labelPropRound(edgeMemo.df, labels.df, vBound, wide)
      }._1.df
    } finally edgeMemo.release()
  }

  /** q_modularity: Newman modularity of the q_label_prop communities —
    * the quality metric that turns community detection into a measurable
    * pipeline stage: Q = intra/m − Σ_c d_c²/(4m²) over the undirected
    * co-purchase graph (m undirected edges, d_c = degree mass of
    * community c).
    *
    * Determinism: everything up to the final row is exact BIGINT
    * (intra-edge count, degree sums, Σd_c² — bounded by (2m)² < 2⁶³ for
    * m < 1.5·10⁹ undirected edges; past that, compute Σd_c² in units of
    * 2m like q_pagerank rescales). The one double, Q itself, is two IEEE
    * divisions and a subtraction in a pinned evaluation order, so DuckDB
    * reproduces it bit-identically — no transcendentals.
    *
    * Scale shape: labels join the edge stream build-side (conditional
    * broadcast, row bound = the degree memo's exact |V|, see
    * [[labelPropLabels]]); intra-edge count and
    * degree-mass are partial-aggregatable hash-aggs; the three one-row
    * aggregates cross-join at the end. No window, no sort, no driver
    * loop beyond the shared LP rounds. */
  def qModularity(spark: SparkSession, sfDir: String): DataFrame = {
    val (e, labels, vCount) = labelPropLabels(spark, sfDir)
    val lSrc = Broadcasts.maybeBroadcast(
      labels.select(col("id").as("src_id"), col("label").as("src_label")), vCount)
    val lDst = Broadcasts.maybeBroadcast(
      labels.select(col("id").as("dst_id"), col("label").as("dst_label")), vCount)
    val intra = e.filter(col("src") < col("dst"))
      .join(lSrc, col("src") === col("src_id"))
      .join(lDst, col("dst") === col("dst_id"))
      .filter(col("src_label") === col("dst_label"))
      .agg(count(lit(1)).as("intra_edges"))
    val dc = degreesWithCount(spark, sfDir)._1
      .join(lSrc, col("src") === col("src_id"))
      .groupBy(col("src_label")).agg(sum(col("degree")).as("d_c"))
    val sums = dc.agg(count(lit(1)).as("n_communities"),
      sum(col("d_c") * col("d_c")).as("sum_dc_sq"))
    // m = |undirected edges| is already on the driver: the edge memo's
    // exact symmetric count over 2 (r14 — the previous shape re-scanned
    // the E-sized stream just to count its ordered half).
    val mVal = edgesWithCount(spark, sfDir)._2 / 2L
    val mDf = spark.range(1).select(lit(mVal).as("m"))
    intra.crossJoin(broadcast(mDf)).crossJoin(broadcast(sums))
      .select(col("n_communities"), col("m"), col("intra_edges"), col("sum_dc_sq"),
        (col("intra_edges").cast("double") / col("m").cast("double") -
          col("sum_dc_sq").cast("double") /
            (lit(4L) * col("m") * col("m")).cast("double")).as("modularity"))
  }

  /** 2³²−1: the largest label the narrow packed argmax can hold. */
  private[graft] val LP_MAX_L = 4294967295L

  /** One synchronous round of [[qLabelProp]]: (id, label) → (id, label').
    * Split out so PlanShapeSpec can pin the round's physical shape (the
    * loop checkpoints each round, so the final query plan shows only the
    * last materialization, not the round body). */
  private[graft] def labelPropRound(e: DataFrame, labels: DataFrame,
      vBound: Long, wide: Boolean = false): DataFrame = {
    // The modal-label argmax packs (count, smallest-label tiebreak) into
    // ONE BIGINT: max(struct) has no mutable hash buffer, so Spark plans
    // it as a SortAggregate that SORTS the candidate table every round —
    // a plain long max keeps both aggs HashAggregates: each exchanges
    // only its map-side partial output, and nothing sorts. Packing is
    // exact: packed = c·2³² + (2³²−1 − label), monotone in (c asc, label
    // desc-negated), so max(packed) ≡ max(struct(c, −label)). Headroom
    // c < 2³¹ and label < 2³² is PROVEN plan-time by [[labelPropOver]]
    // (labels ⊆ initial ids, c ≤ vBound); past it the rounds run `wide` —
    // the same monotone packing in DECIMAL(38,0) 64-bit lanes, still a
    // HashAggregate (fixed-width decimal has a mutable hash buffer),
    // trading ~2× agg-buffer width for unbounded-id correctness. The
    // in-plan asserts stay as defense-in-depth on each path's own bound.
    val counts = e
      .join(Broadcasts.maybeBroadcast(labels, vBound), col("src") === col("id"))
      .groupBy(col("dst"), col("label"))
      .agg(count(lit(1)).as("c"))
    if (!wide) {
      counts
        .groupBy(col("dst"))
        .agg(max(
          col("c") * lit(4294967296L) + (lit(LP_MAX_L) - col("label")) +
            coalesce(assert_true(
              col("label").between(0L, LP_MAX_L) && col("c") < lit(2147483648L),
              lit("labelPropRound: label or count past the 32-bit packing " +
                "headroom — widen the packed argmax")).cast("long"), lit(0L)))
          .as("p"))
        .select(col("dst").as("id"),
          (lit(LP_MAX_L) - col("p") % lit(4294967296L)).as("label"))
    } else {
      // Wide lanes: packed = c·2⁶⁴ + (2⁶⁴−1 − label) in DECIMAL(38,0).
      // Fits for c < 2⁶² (c·2⁶⁴ < 8.5e37 < 10³⁸−1) and any non-negative
      // Long label; monotone in (c asc, label desc) exactly as the narrow
      // form, so max ≡ argmax(count, min label).
      val two64 = lit(BigDecimal(2).pow(64).bigDecimal)
      val max64 = lit((BigDecimal(2).pow(64) - 1).bigDecimal)
      counts
        .groupBy(col("dst"))
        .agg(max(
          col("c").cast("decimal(38,0)") * two64 + (max64 - col("label")) +
            coalesce(assert_true(
              col("label") >= 0L && col("c") < lit(1L << 62),
              lit("labelPropRound: count past the wide packing headroom"))
              .cast("decimal(38,0)"), lit(java.math.BigDecimal.ZERO)))
          .as("p"))
        .select(col("dst").as("id"),
          (max64 - col("p") % two64).cast("long").as("label"))
    }
  }

  /** DuckDB replay of [[qLabelProp]]: the synchronous recurrence unrolled
    * as chained CTEs, modal-label tiebreak via row_number
    * (count DESC, label ASC) — same result as the engine's struct-max. */
  def labelPropOracleSql(rounds: Int = LP_ROUNDS): String =
    labelPropCtes(rounds) + s"\nSELECT id, label FROM l$rounds ORDER BY id"

  /** The shared CTE prefix: edges + l0..l{rounds} of the LP recurrence. */
  private def labelPropCtes(rounds: Int): String = {
    val sb = new StringBuilder
    sb.append(s"WITH edges AS MATERIALIZED ($edgesSql),\n")
    sb.append("l0 AS (SELECT DISTINCT src AS id, src AS label FROM edges)")
    for (r <- 1 to rounds) sb.append(
      s""",
         |c$r AS (
         |  SELECT e.dst AS id, l.label, count(*) AS c
         |  FROM edges e JOIN l${r - 1} l ON l.id = e.src
         |  GROUP BY e.dst, l.label),
         |l$r AS MATERIALIZED (
         |  SELECT id, label FROM (
         |    SELECT id, label,
         |      row_number() OVER (PARTITION BY id ORDER BY c DESC, label ASC) AS rn
         |    FROM c$r) WHERE rn = 1)""".stripMargin)
    sb.toString
  }

  /** DuckDB replay of [[qModularity]]: the LP CTE chain, then the same
    * exact-BIGINT intra/degree-mass aggregates and the same pinned
    * double-expression for Q (sums CAST back to BIGINT — DuckDB widens
    * group sums to HUGEINT, the q_pack_sequences trap). */
  def modularityOracleSql(rounds: Int = LP_ROUNDS): String =
    labelPropCtes(rounds) +
      s""",
         |und AS (SELECT src, dst FROM edges WHERE src < dst),
         |mm AS (SELECT count(*) AS m FROM und),
         |intra AS (
         |  SELECT count(*) AS intra_edges
         |  FROM und e JOIN l$rounds a ON e.src = a.id
         |  JOIN l$rounds b ON e.dst = b.id
         |  WHERE a.label = b.label),
         |dc AS (
         |  SELECT l.label, CAST(sum(d.degree) AS BIGINT) AS d_c
         |  FROM (SELECT src, count(*) AS degree FROM edges GROUP BY src) d
         |  JOIN l$rounds l ON d.src = l.id GROUP BY l.label),
         |s AS (SELECT count(*) AS n_communities,
         |             CAST(sum(d_c * d_c) AS BIGINT) AS sum_dc_sq FROM dc)
         |SELECT s.n_communities, mm.m, intra.intra_edges, s.sum_dc_sq,
         |  CAST(intra.intra_edges AS DOUBLE) / CAST(mm.m AS DOUBLE) -
         |  CAST(s.sum_dc_sq AS DOUBLE) / CAST(4 * mm.m * mm.m AS DOUBLE)
         |    AS modularity
         |FROM intra CROSS JOIN mm CROSS JOIN s""".stripMargin

  /** q_connected_components: min-id label propagation to fixpoint over the
    * kernel graph; summary row (component count + largest size + vertex
    * count) so the output is deterministic and small. GraphX
    * `connectedComponents` runs it below the [[GraphXKernel.runs]]
    * crossover and the declarative [[ccDfRounds]] above it; both converge
    * to the identical labeling — the minimum vertex id per component — so
    * the summary matches either side. */
  def qConnectedComponents(spark: SparkSession, sfDir: String): DataFrame = {
    val (e, nEdges) = kernelEdgesWithCount(spark, sfDir)
    if (GraphXKernel.runs(spark, nEdges)) {
      import spark.implicits._
      val (nComp, maxSize, nVerts) =
        GraphXKernel.componentSummary(GraphXKernel.kernelBase(spark, sfDir))
      Seq((nComp, maxSize, nVerts)).toDF("n_components", "largest_component", "n_vertices")
    }
    // Past the crossover the declarative rounds' V-sized label table is
    // bounded by the EXACT kernel |V| (the |E| proxy crosses the broadcast
    // cap ~two decades before |V| does — the r12 100× regime shift).
    else ccDfRounds(spark, e, kernelVertexCount(spark, sfDir))
  }

  /** Past-crossover execution of [[qConnectedComponents]]: declarative
    * min-label rounds with a pointer-doubling shortcut, run to a detected
    * fixpoint. Each round is (1) a neighbor-min gather — the edge memo
    * (one [[State.memo]] with the row-count layout) joins the
    * (conditionally broadcast) label table on src and aggregates
    * `min(label)` per dst, the [[rankRounds]] round shape — then (2) one
    * pointer-doubling hop `l(v) ← l(l(v))` (a V-sized self-join; labels
    * are always vertex ids, so the parent lookup always hits), which cuts
    * convergence from diameter rounds to O(log d) on high-diameter
    * graphs. Labels are monotone non-increasing, bounded below by each
    * component's minimum id, and only ever move within a component, so
    * the fixpoint labeling is the component-minimum id everywhere —
    * exactly GraphX `connectedComponents` — and `changed == 0` after a
    * prop+shortcut round implies the propagation alone is at fixpoint
    * (the shortcut can never undo a propagation step: both are
    * non-increasing). The fixpoint test rides the round's already-
    * materialized V-sized table, so each round is two V-bounded jobs
    * over the edge memo. */
  private[graft] def ccDfRounds(spark: SparkSession, e: DataFrame,
      vBound: Long): DataFrame = {
    val labels = ccLabelsDf(spark, e, vBound).df
    val sizes = labels.groupBy(col("lbl")).agg(count(lit(1)).as("sz"))
    sizes.agg(count(lit(1)).as("n_components"),
      max(col("sz")).as("largest_component"),
      sum(col("sz")).as("n_vertices"))
  }

  /** The fixpoint labeling behind [[ccDfRounds]]: the final round's state,
    * whose `(id, lbl)` columns give `lbl` = the minimum vertex id of `id`'s
    * component. `e` must be a symmetric edge list. Reusable by any
    * consumer that needs component membership rather than the summary
    * (the dedup cluster graph is the other CC call site in the library);
    * a caller that copies the labels out releases the state. */
  private[graft] def ccLabelsDf(spark: SparkSession, e: DataFrame,
      vBound: Long): State = {
    val edgeMemo = State.memo(e)
    try {
      val first = State.loop(
        e.select(col("src").as("id")).distinct()
          .select(col("id"), col("id").as("lbl")))
      // No cap: labels only fall, bounded below by each component's min id.
      State.iterate(first, Int.MaxValue,
          sum(when(col("lbl") =!= col("old_lbl"), 1L).otherwise(0L)).as("changed"))(
          (labels, rounds) => rounds > 0 && labels("changed") == 0) { (labels, _, round) =>
        val nbrMin = edgeMemo.df.join(
            Broadcasts.maybeBroadcast(
              labels.df.select(col("id").as("cid"), col("lbl").as("clbl")), vBound),
            col("src") === col("cid"))
          .groupBy(col("dst")).agg(min(col("clbl")).as("nm"))
        val hop = round.land(
          labels.df.join(nbrMin, col("id") === col("dst"), "left_outer")
            .select(col("id"), col("lbl").as("old_lbl"),
              least(col("lbl"), coalesce(col("nm"), col("lbl"))).as("hop_lbl")))
        val parent = hop.df.select(col("id").as("pid"), col("hop_lbl").as("plbl"))
        hop.df.join(Broadcasts.maybeBroadcast(parent, vBound),
            col("hop_lbl") === col("pid"))
          .select(col("id"), col("old_lbl"), col("plbl").as("lbl"))
      }._1
    } finally edgeMemo.release()
  }

  /** q_sssp: BFS hop distances from a deterministic seed (the minimum
    * vertex id) over the kernel graph — the classic single-source
    * shortest-path analytic in its unweighted form, completing the
    * standard graph-analytics set alongside pagerank/CC/triangles/k-core.
    * The one-seed run of [[bfsLayers]]. Output: (id, dist) for every
    * vertex reachable from the seed, ordered by id. */
  def qSssp(spark: SparkSession, sfDir: String): DataFrame = {
    // The adjacency memo also supplies the min-id seed: a V-row scan,
    // never the E-row pair list.
    val (adj, _) = kernelAdjacencyWithCount(spark, sfDir)
    val seed = adj.agg(min(col("src"))).head().getLong(0)
    bfsLayers(adj, spark.range(1)
        .select(lit(seed).as("seed"), lit(seed).as("id"), lit(0L).as("dist")))
      .select(col("id"), col("dist"))
      .orderBy(col("id"))
  }

  /** Keyed BFS: hop distances `(seed, id, dist)` from every row of `seeds`
    * (`(seed, id = seed, dist = 0)`) over the V-row adjacency `adj`
    * `(src, nbrs)`, as the union of its layers. Level-synchronous frontier
    * rounds ([[bfsRound]]): only frontier-matched neighborhoods explode,
    * so per-round scan work is O(V) array rows, and BFS settles each
    * (seed, vertex) once, so TOTAL candidate volume across all rounds is
    * O(seeds·E). Each layer is landed once and the layers are
    * flat-unioned at the end.
    *
    * Its own loop, not [[State.iterate]]: every layer is kept, because the
    * layers are the output. They are released only if a round fails. */
  private def bfsLayers(adj: DataFrame, seeds: DataFrame): DataFrame = {
    val layers = scala.collection.mutable.ArrayBuffer.empty[State]
    State.releaseOnFailure(layers) {
      var frontier = State.loop(seeds)
      layers += frontier
      var prev: State = null
      while (frontier.rows > 0) {
        val check =
          if (prev == null) frontier.df.select(col("seed"), col("id"))
          else frontier.df.select(col("seed"), col("id"))
            .union(prev.df.select(col("seed"), col("id")))
        val next = State.loop(bfsRound(adj, frontier.df, frontier.rows, check,
          frontier.rows + (if (prev == null) 0L else prev.rows)))
        if (next.rows > 0) layers += next else next.release()
        prev = frontier
        frontier = next
      }
    }
    layers.map(_.df).reduce(_.union(_))
  }

  /** One [[bfsLayers]] round: explode the frontier-matched neighborhoods
    * of the V-row adjacency, min-reduce per (seed, candidate), and
    * anti-join `check`, the last two layers' `(seed, id)` keys. On an
    * undirected graph a neighbor of a distance-r vertex has distance in
    * {r−1, r, r+1}, so a candidate is already settled iff it sits in one
    * of those two layers. Broadcast bounds are the exact counts the loop
    * already holds: `reached` (the frontier) and `checkCount`, so a small
    * frontier stays broadcast at any |V|. */
  private[graft] def bfsRound(adj: DataFrame, frontier: DataFrame,
      reached: Long, check: DataFrame, checkCount: Long): DataFrame =
    adj.join(
        Broadcasts.maybeBroadcast(
          frontier.select(col("seed").as("fs"), col("id").as("fid"),
            col("dist").as("fd")),
          reached),
        col("src") === col("fid"))
      .select(col("fs"), explode(col("nbrs")).as("dst"), col("fd"))
      .groupBy(col("fs"), col("dst"))
      .agg((min(col("fd")) + lit(1L)).as("nd"))
      .join(Broadcasts.maybeBroadcast(check, checkCount),
        col("fs") === col("seed") && col("dst") === col("id"), "left_anti")
      .select(col("fs").as("seed"), col("dst").as("id"), col("nd").as("dist"))

  /** Number of BFS sources for [[qCloseness]] — fixed, deterministic (the
    * K lowest vertex ids), so the oracle can name the same seed set. */
  val CLOSENESS_SOURCES = 4

  /** q_closeness: landmark closeness centrality — exact BFS from the
    * [[CLOSENESS_SOURCES]] lowest vertex ids, one output row per seed:
    * (seed, n_reached, total_dist, closeness = n_reached / total_dist).
    * This is the standard scale posture for closeness at web size: exact
    * all-pairs is Θ(V·E), so production engines report it for a fixed
    * landmark set (or estimate via sampled seeds — same machinery, more
    * seeds).
    *
    * Scale shape: one [[bfsLayers]] run with all K seeds, keyed by
    * (seed, id), over the shared V-row [[kernelAdjacency]] memo.
    * Determinism: closeness divides two exact BIGINTs in pinned order —
    * bit-identical on both engines, no rounding needed. */
  def qCloseness(spark: SparkSession, sfDir: String): DataFrame = {
    // adj has one row per distinct vertex, so the K lowest ids read off a
    // V-row scan, not an E-row distinct.
    val (adj, _) = kernelAdjacencyWithCount(spark, sfDir)
    val seeds = adj.select(col("src"))
      .orderBy(col("src")).limit(CLOSENESS_SOURCES)
      .select(col("src").as("seed"), col("src").as("id"),
        lit(0L).as("dist"))
    val dist = bfsLayers(adj, seeds)
    // n_reached excludes the seed itself (dist 0 contributes nothing to
    // the sum); seeds come from the edge stream, so total_dist ≥ 1 and
    // the division is total.
    dist.groupBy(col("seed"))
      .agg((count(lit(1)) - lit(1L)).as("n_reached"),
        sum(col("dist")).as("total_dist"))
      .select(col("seed"), col("n_reached"), col("total_dist"),
        (col("n_reached").cast("double") / col("total_dist").cast("double"))
          .as("closeness"))
      .orderBy(col("seed"))
  }

  /** DuckDB oracle for [[qCloseness]]: the multi-source min-plus recurrence
    * unrolled as chained CTEs with the same convergence `error()` guard as
    * [[ssspOracleSql]]. */
  def closenessOracleSql(rounds: Int = 24): String = {
    val sb = new StringBuilder
    sb.append(s"WITH $kernelEdgesCtes,\n")
    sb.append(
      s"""seeds AS MATERIALIZED (
         |  SELECT src AS seed FROM (SELECT DISTINCT src FROM e ORDER BY src
         |    LIMIT $CLOSENESS_SOURCES)),
         |d0 AS MATERIALIZED (
         |  SELECT seed, seed AS id, CAST(0 AS BIGINT) AS dist FROM seeds)""".stripMargin)
    for (i <- 1 to rounds) sb.append(
      s""",
         |d$i AS MATERIALIZED (
         |  SELECT seed, id, min(dist) AS dist FROM (
         |    SELECT seed, id, dist FROM d${i - 1}
         |    UNION ALL
         |    SELECT d.seed, e.dst AS id, d.dist + 1 AS dist
         |    FROM e JOIN d${i - 1} d ON e.src = d.id) u
         |  GROUP BY seed, id)""".stripMargin)
    sb.append(
      s""",
         |guard AS (
         |  SELECT CASE WHEN (SELECT count(*) FROM d$rounds a
         |                    LEFT JOIN d${rounds - 1} b
         |                      ON b.seed = a.seed AND b.id = a.id AND b.dist = a.dist
         |                    WHERE b.id IS NULL) > 0
         |    THEN error('closeness oracle: BFS not converged in $rounds unrolled rounds — raise rounds')
         |    ELSE 0 END AS ok)
         |SELECT seed, count(*) - 1 AS n_reached,
         |  CAST(sum(dist) AS BIGINT) AS total_dist,
         |  CAST(count(*) - 1 AS DOUBLE) / CAST(CAST(sum(dist) AS BIGINT) AS DOUBLE)
         |    AS closeness
         |FROM d$rounds, guard g WHERE g.ok = 0
         |GROUP BY seed ORDER BY seed""".stripMargin)
    sb.toString
  }

  /** Fixed-point rank scale of [[qPagerank]] and [[qPpr]]. */
  private val RANK_SCALE = 1000000000000L

  /** q_pagerank: 10 PageRank iterations over the kernel graph, in INTEGER
    * arithmetic — ranks are scaled by 1e12 and contributions use truncating
    * division, so every round is exact and order-independent (Long
    * addition commutes, unlike the float sums of
    * `staticPageRank` whose last-ulp depends on message arrival order).
    * That determinism is what makes the query DuckDB-oracle-checkable
    * ([[pagerankOracleSql]] replays the same recurrence as 10 chained CTEs).
    * Semantics: r₀ = 1.0, r' = 0.15 + 0.85·Σ r(u)/deg(u) — the
    * `staticPageRank` recurrence, in fixed-point. Headroom: a vertex's
    * incoming sum is bounded by the total mass ≈ V·SCALE (a star graph
    * attains it), so 85·V·SCALE must stay < 2⁶³ — V ≤ ~10⁵ at SCALE=1e12;
    * for larger graphs drop SCALE a decade per 10× vertices. Top-10 by
    * (rank desc, id asc). GraphX runs it below the [[GraphXKernel.runs]]
    * crossover and the declarative [[pagerankDfRounds]] above it; both run
    * the identical integer recurrence, so the result is bit-identical
    * either side. */
  def qPagerank(spark: SparkSession, sfDir: String): DataFrame = {
    val (e, nEdges) = kernelEdgesWithCount(spark, sfDir)
    if (GraphXKernel.runs(spark, nEdges))
      GraphXKernel.pagerank(spark, GraphXKernel.kernelBase(spark, sfDir), RANK_SCALE)
    // Past the crossover the rank table is V-sized: bound it by the exact
    // kernel |V|, not |E| (the r12 100× broadcast-regime shift).
    else pagerankDfRounds(spark, e, kernelVertexCount(spark, sfDir))
  }

  /** The SAME 10-round integer recurrence as declarative DataFrame rounds —
    * the past-crossover execution of [[qPagerank]]: [[rankRounds]] with
    * r₀ = SCALE and teleport 15·SCALE/100 on every vertex. Ranks are
    * BIT-IDENTICAL to [[GraphXKernel.pagerank]] and the oracle replay. */
  private[graft] def pagerankDfRounds(spark: SparkSession, e: DataFrame,
      vBound: Long): DataFrame =
    rankRounds(e, e.groupBy(col("src")).agg(count(lit(1)).as("deg"))
      .select(col("src").as("id"), lit(RANK_SCALE).as("r"), col("deg"),
        lit(15L * RANK_SCALE / 100).as("tele")), vBound)

  /** The 10 integer rank rounds shared by [[pagerankDfRounds]] and
    * [[pprOver]]: r'(v) = tele(v) + (85·Σ r(u) div deg(u)) div 100, from an
    * initial `(id, r, deg, tele)` frame. Each round joins the V-sized rank
    * table into the edge memo (one [[State.memo]] with the row-count
    * layout) as a row-bound broadcast and aggregates the contributions per
    * dst, so per-round traffic has no vertex-cut replication term (the
    * [[GraphXKernel.runs]] crossover). Truncating `div` and Long
    * sums are order-independent, so every round is exact. Top-10 by
    * (rank desc, id). */
  private def rankRounds(e: DataFrame, init: DataFrame, vBound: Long): DataFrame = {
    val edgeMemo = State.memo(e)
    try {
      State.iterate(State.loop(init), 10)((_, _) => false) { (ranks, _, _) =>
        val contribs = edgeMemo.df.join(
            Broadcasts.maybeBroadcast(
              ranks.df.select(col("id").as("cid"), expr("r div deg").as("contrib")),
              vBound),
            col("src") === col("cid"))
          .groupBy(col("dst"))
          .agg(sum(col("contrib")).as("c"))
        ranks.df.select(col("id"), col("deg"), col("tele"))
          .join(contribs, col("id") === col("dst"), "left_outer")
          .select(col("id"),
            (col("tele") + expr("(85 * coalesce(c, 0)) div 100")).as("r"),
            col("deg"), col("tele"))
      }._1.df.select(col("id"), col("r").as("rank_e12"))
        .orderBy(col("rank_e12").desc, col("id").asc)
        .limit(10)
    } finally edgeMemo.release()
  }

  /** [[qPpr]] seed-set size: teleportation is restricted to the
    * PPR_SEEDS lowest vertex ids (fixed and deterministic so the oracle
    * names the same set). */
  val PPR_SEEDS = 4

  /** q_ppr: PERSONALIZED PageRank — the same fixed-point integer
    * recurrence as [[qPagerank]] but with the teleport mass restricted to
    * a seed set: r₀(v) = SCALE·[v ∈ S], r'(v) = [v ∈ S]·(15·SCALE/100/|S|)
    * + (85·Σ r(u) div deg(u)) div 100. The result ranks vertices by
    * proximity to the seeds — the standard "related items" / seeded-
    * relevance analytic (co-purchase neighborhoods around the seed parts
    * here). Top-10 by (rank desc, id).
    *
    * Scale shape: the [[rankRounds]] that [[pagerankDfRounds]] runs, with
    * r₀ and the teleport term on the seeds only. Integer arithmetic keeps
    * every round exact and order-independent (the determinism that makes
    * the query oracle-checkable); headroom: total mass is bounded by
    * ~(|S|+1)·SCALE — tighter than global PageRank's V·SCALE, so the
    * 2⁶³ bound holds at ANY vertex count (the global variant's SCALE
    * derating note does not apply). */
  def qPpr(spark: SparkSession, sfDir: String): DataFrame = {
    val e = kernelEdges(spark, sfDir)
    // Rank table is V-sized: bound by the exact kernel |V| (r12 regime shift).
    pprOver(spark, e, kernelVertexCount(spark, sfDir))
  }

  /** The [[qPpr]] rounds over any symmetric edge list — split out so the
    * spec can drive a literal graph against a driver-side replay of the
    * integer recurrence. */
  private[graft] def pprOver(spark: SparkSession, e: DataFrame,
      vBound: Long): DataFrame = {
    val base = e.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    val seeds = base.select(col("src")).orderBy(col("src"))
      .limit(PPR_SEEDS).select(col("src").as("sid"))
    val seeded = col("sid").isNotNull
    rankRounds(e,
      base.join(broadcast(seeds), col("src") === col("sid"), "left_outer")
        .select(col("src").as("id"),
          when(seeded, lit(RANK_SCALE)).otherwise(lit(0L)).as("r"), col("deg"),
          when(seeded, lit(15L * RANK_SCALE / 100 / PPR_SEEDS)).otherwise(lit(0L))
            .as("tele")),
      vBound)
  }

  /** DuckDB oracle for [[qPpr]]: the personalized integer recurrence
    * unrolled as 10 chained CTEs (`//` = truncating division on
    * non-negative BIGINTs, matching Scala `Long./` and Spark `div`). */
  def pprOracleSql(iters: Int = 10): String = {
    val tele = 15L * RANK_SCALE / 100 / PPR_SEEDS
    val sb = new StringBuilder
    sb.append(s"WITH $kernelEdgesCtes,\n")
    sb.append("verts AS MATERIALIZED (SELECT DISTINCT src AS id FROM e),\n")
    sb.append("deg AS MATERIALIZED (SELECT src AS id, count(*) AS d FROM e GROUP BY src),\n")
    sb.append(s"seeds AS MATERIALIZED (SELECT id FROM verts ORDER BY id LIMIT $PPR_SEEDS),\n")
    sb.append(
      s"""r0 AS MATERIALIZED (
         |  SELECT v.id, CAST(CASE WHEN s.id IS NOT NULL THEN $RANK_SCALE ELSE 0 END
         |    AS BIGINT) AS r
         |  FROM verts v LEFT JOIN seeds s ON s.id = v.id)""".stripMargin)
    for (i <- 1 to iters) sb.append(
      s""",
         |r$i AS MATERIALIZED (
         |  SELECT v.id,
         |    CAST(CASE WHEN s.id IS NOT NULL THEN $tele ELSE 0 END +
         |      (85 * coalesce(c.c, 0)) // 100 AS BIGINT) AS r
         |  FROM verts v LEFT JOIN seeds s ON s.id = v.id
         |  LEFT JOIN (
         |    SELECT e.dst, sum(r.r // d.d) AS c
         |    FROM e JOIN r${i - 1} r ON r.id = e.src JOIN deg d ON d.id = e.src
         |    GROUP BY e.dst) c ON c.dst = v.id)""".stripMargin)
    sb.append(
      s"""
         |SELECT id, r AS rank_e12 FROM r$iters
         |ORDER BY rank_e12 DESC, id LIMIT 10""".stripMargin)
    sb.toString
  }

  /** [[qGraphSample]] per-vertex neighbor fanout. */
  val SAMPLE_FANOUT = 3

  /** q_graph_sample: deterministic neighbor-fanout sampling — for each
    * vertex keep min(F, deg) neighbors ranked by md5(src:dst), the
    * GraphSAGE-style neighborhood subsampling a graph-learning pipeline
    * runs before feature aggregation. Hash-ranked selection instead of an
    * RNG keeps the sample a pure function of the edge set: reproducible
    * across runs, partitionings, and engines (the DuckDB oracle replays
    * the identical ranking). Output: the sampled adjacency for the
    * vertices with id ≤ 500 (an output bound, not a sampling bound — each
    * vertex's window is independent, so the filter commutes with the
    * ranking and Catalyst pushes it below the window's shuffle).
    *
    * Scale shape: one hash exchange on src + in-partition sort — the
    * plain windowed shape; at web scale the same expression runs
    * unfiltered and feeds the training loader, the per-vertex state never
    * exceeding F rows after the rank filter. */
  def qGraphSample(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val hk = md5(concat(col("src").cast("string"), lit(":"),
      col("dst").cast("string")))
    val w = Window.partitionBy(col("src")).orderBy(col("hk"))
    edges(spark, sfDir)
      .filter(col("src") <= 500)
      .select(col("src"), col("dst"), hk.as("hk"))
      .select(col("src"), col("dst"), row_number().over(w).as("rnk"))
      .filter(col("rnk") <= SAMPLE_FANOUT)
      .orderBy(col("src"), col("rnk"))
  }

  /** DuckDB oracle for [[qGraphSample]]: identical md5 ranking. */
  def graphSampleOracleSql(): String =
    s"""WITH edges AS ($edgesSql),
       |h AS (SELECT src, dst,
       |        md5(CAST(src AS VARCHAR) || ':' || CAST(dst AS VARCHAR)) AS hk
       |      FROM edges WHERE src <= 500)
       |SELECT src, dst, rnk FROM (
       |  SELECT src, dst,
       |    CAST(row_number() OVER (PARTITION BY src ORDER BY hk) AS INT) AS rnk
       |  FROM h) t
       |WHERE rnk <= $SAMPLE_FANOUT ORDER BY src, rnk""".stripMargin

  /** Walk length (steps beyond the start node) for [[qRandomWalk]]. */
  val WALK_STEPS = 6

  /** Start-node sampling modulus for [[qRandomWalk]]: walks start from every
    * vertex with `src % 101 == 0` — deterministic, ~1% of vertices. */
  val WALK_START_MOD = 101L

  /** q_random_walk: deterministic hash-seeded random walks over the kernel
    * graph — the sequence-generation primitive behind node2vec/DeepWalk
    * style graph-embedding training data. Each sampled start vertex owns
    * one walk; at step s the walk at node v moves to
    * `nbrs(v)[ hash60(walk_id:s) mod deg(v) ]` where `nbrs` is the
    * ascending neighbor list and hash60 is the house 60-bit md5 prefix —
    * a pure function of (walk_id, step), so the full walk set is replayable
    * by the oracle and across cluster sizes. Dead-end nodes end the walk.
    * Output: (walk_id, step, node) for steps 0..[[WALK_STEPS]].
    *
    * Scale shape: the neighbor-array table is built with ONE shuffle and
    * memoized; each round joins the (walk_id, node) frontier — never
    * larger than the start sample — against it, broadcast below the row
    * bound and a shuffle join past it (the checkpoint records no
    * partitioning, so both sides shuffle). Rounds are fixed at
    * [[WALK_STEPS]], not data-dependent. Determinism: next-hop is
    * position-indexed into a sorted array by an exact integer hash; no
    * floats anywhere. */
  def qRandomWalk(spark: SparkSession, sfDir: String): DataFrame = {
    // The sorted V-row neighbor table is the shared session memo:
    // q_sssp/q_closeness read the same relation, so the E-sized
    // collect_list shuffle runs once per session.
    val nbrs = kernelAdjacency(spark, sfDir)
    val starts = nbrs.select(col("src"))
      .filter(pmod(col("src"), lit(WALK_START_MOD)) === 0L)
      .select(col("src").as("walk_id"), lit(0).as("step"),
        col("src").as("node"))
    // Its own loop, not State.iterate: every step is kept, because the
    // steps are the output (a flat union of the landed steps). They are
    // released only if a round fails.
    val steps = scala.collection.mutable.ArrayBuffer.empty[State]
    State.releaseOnFailure(steps) {
      steps += State.loop(starts)
      val nStarts = steps.head.rows
      for (s <- 0 until WALK_STEPS) {
        val h = conv(substring(md5(concat(col("walk_id").cast("string"),
          lit(":"), lit(s).cast("string"))), 1, 15), 16, 10).cast("long")
        steps += State.loop(
          nbrs.join(
              Broadcasts.maybeBroadcast(
                steps.last.df.select(col("walk_id"), col("node")), nStarts),
              col("node") === col("src"))
            .select(col("walk_id"), lit(s + 1).as("step"),
              element_at(col("nbrs"),
                (h % size(col("nbrs"))).cast("int") + 1).as("node")))
      }
    }
    steps.map(_.df).reduce(_.union(_)).orderBy(col("walk_id"), col("step"))
  }

  /** DuckDB oracle for [[qRandomWalk]]: the same walk recurrence unrolled
    * [[WALK_STEPS]] times over list-aggregated neighbor arrays, with the
    * house 60-bit md5 hash equivalence
    * (`('0x'||substr(md5(x),1,15))::BIGINT` == Spark's conv form). */
  def randomWalkOracleSql(): String = {
    val sb = new StringBuilder
    sb.append(s"WITH $kernelEdgesCtes,\n")
    sb.append(
      s"""nb AS MATERIALIZED (
         |  SELECT src, list(dst ORDER BY dst) AS l, count(*) AS deg
         |  FROM e GROUP BY src),
         |w0 AS MATERIALIZED (
         |  SELECT src AS walk_id, CAST(0 AS INT) AS step, src AS node
         |  FROM nb WHERE src % $WALK_START_MOD = 0)""".stripMargin)
    for (s <- 0 until WALK_STEPS) sb.append(
      s""",
         |w${s + 1} AS MATERIALIZED (
         |  SELECT w.walk_id, CAST(${s + 1} AS INT) AS step,
         |    nb.l[1 + CAST(('0x' || substr(md5(
         |      CAST(w.walk_id AS VARCHAR) || ':$s'), 1, 15))::BIGINT
         |      % nb.deg AS INT)] AS node
         |  FROM w$s w JOIN nb ON nb.src = w.node)""".stripMargin)
    sb.append("\nSELECT walk_id, step, node FROM (")
    sb.append((0 to WALK_STEPS).map(s => s"SELECT * FROM w$s")
      .mkString(" UNION ALL "))
    sb.append(") u ORDER BY walk_id, step")
    sb.toString
  }

  /** HITS rounds for [[qHits]]. */
  val HITS_ROUNDS = 8

  /** q_hits: HITS hubs & authorities over the DIRECTED consecutive-pair
    * kernel graph (direction matters for HITS — the symmetric closure
    * would collapse hubs onto authorities). The mutual recurrence
    * a(v) = Σ h(u) over in-edges, h(v) = Σ a(w) over out-edges runs in
    * exact integer arithmetic with the [[qPcaPower]] normalization trick:
    * after each half-round, values right-shift by
    * `max(bitlength(max) − 21, 0)` — a deterministic, cross-engine-
    * replayable stand-in for the float L2 normalization (monotone, so
    * ranking is preserved; both engines' `>>` agree). Top-10 by
    * (authority desc, id).
    *
    * Scale shape: the directed edge list is one [[State.memo]] with the
    * row-count layout, read by both gather directions; each of the
    * [[HITS_ROUNDS]] rounds joins the V-sized score table in as a
    * conditional broadcast and aggregates per dst (authorities) and per
    * src (hubs) — the [[rankRounds]] shape with two alternating
    * directions. Per-round shift maxima ride on the gather's OWN
    * materializing action as an `Observation` metric (map-side max, no
    * extra job), and the shift itself is a lazy projection applied where
    * the scores are next consumed, so each half-round is exactly ONE job.
    * Integer headroom: values ≤ 2²¹ post-shift, so a gather sum stays
    * < 2⁶³ for in/out-degree < 2⁴¹. */
  def qHits(spark: SparkSession, sfDir: String): DataFrame = {
    val ef = State.memo(fwdPairs(spark, sfDir).distinct())
    // Its own loop, not State.iterate: a round lands the a/h pair, and the
    // output reads both. They are released only if a round fails.
    var verts: State = null
    var h: State = null
    var a: State = null
    try State.releaseOnFailure(Seq(verts, h, a).filter(_ != null)) {
      verts = State.loop(
        ef.df.select(col("src").as("id"))
          .union(ef.df.select(col("dst").as("id"))).distinct())
      val vBound = verts.rows
      // Shift of an observed pre-shift max; max over an empty gather
      // reads 0 (matches the old coalesce(max, 0)).
      def shiftFrom(st: State): Int =
        math.max(java.lang.Long.toBinaryString(st("m")).length - 21, 0)
      h = State.loop(verts.df.select(col("id"), lit(1048576L).as("h")))
      // sa/sh: shifts PENDING on a/h — applied lazily where next consumed.
      var sa = 0
      var sh = 0
      for (_ <- 1 to HITS_ROUNDS) {
        val aNext = State.loop(
          ef.df.join(
              Broadcasts.maybeBroadcast(
                h.df.select(col("id").as("hid"),
                  call_function("shiftright", col("h"), lit(sh)).as("hv")),
                vBound),
              col("src") === col("hid"))
            .groupBy(col("dst")).agg(sum(col("hv")).as("a"))
            .select(col("dst").as("id"), col("a")),
          max(col("a")).as("m"))
        if (a != null) a.release()
        a = aNext
        sa = shiftFrom(a)
        val hNext = State.loop(
          ef.df.join(
              Broadcasts.maybeBroadcast(
                a.df.select(col("id").as("aid"),
                  call_function("shiftright", col("a"), lit(sa)).as("av")),
                vBound),
              col("dst") === col("aid"))
            .groupBy(col("src")).agg(sum(col("av")).as("h"))
            .select(col("src").as("id"), col("h")),
          max(col("h")).as("m"))
        h.release()
        h = hNext
        sh = shiftFrom(h)
      }
      verts.df
        .join(a.df.select(col("id").as("aid"),
            call_function("shiftright", col("a"), lit(sa)).as("a")),
          col("id") === col("aid"), "left_outer")
        .join(h.df.select(col("id").as("hid"),
            call_function("shiftright", col("h"), lit(sh)).as("h")),
          col("id") === col("hid"), "left_outer")
        .select(col("id"), coalesce(col("a"), lit(0L)).as("auth"),
          coalesce(col("h"), lit(0L)).as("hub"))
        .orderBy(col("auth").desc, col("id").asc)
        .limit(10)
    } finally ef.release()
  }


  /** DuckDB oracle for [[qHits]]: the same integer HITS recurrence
    * unrolled, with the [[pcaPowerOracleSql]] shift equivalence
    * (`length(bin(max))` / arithmetic `>>` match the Spark side). */
  def hitsOracleSql(rounds: Int = HITS_ROUNDS): String = {
    val sb = new StringBuilder
    sb.append(
      """WITH fwd AS MATERIALIZED (
        |  SELECT a.l_partkey AS src, b.l_partkey AS dst
        |  FROM lineitem a JOIN lineitem b
        |    ON a.l_orderkey = b.l_orderkey
        |   AND a.l_linenumber + 1 = b.l_linenumber
        |   AND a.l_partkey <> b.l_partkey),
        |ef AS MATERIALIZED (SELECT DISTINCT src, dst FROM fwd),
        |verts AS MATERIALIZED (SELECT DISTINCT id FROM (
        |  SELECT src AS id FROM ef UNION ALL SELECT dst AS id FROM ef)),
        |h0 AS (SELECT id, CAST(1048576 AS BIGINT) AS h FROM verts)""".stripMargin)
    for (i <- 1 to rounds) sb.append(
      s""",
         |a${i}_raw AS MATERIALIZED (
         |  SELECT e.dst AS id, CAST(sum(h.h) AS BIGINT) AS a
         |  FROM ef e JOIN h${i - 1} h ON h.id = e.src GROUP BY e.dst),
         |sa$i AS (SELECT greatest(length(bin(coalesce(max(a), 0))) - 21, 0) AS s
         |  FROM a${i}_raw),
         |a$i AS (SELECT id, a >> (SELECT s FROM sa$i) AS a FROM a${i}_raw),
         |h${i}_raw AS MATERIALIZED (
         |  SELECT e.src AS id, CAST(sum(a.a) AS BIGINT) AS h
         |  FROM ef e JOIN a$i a ON a.id = e.dst GROUP BY e.src),
         |sh$i AS (SELECT greatest(length(bin(coalesce(max(h), 0))) - 21, 0) AS s
         |  FROM h${i}_raw),
         |h$i AS (SELECT id, h >> (SELECT s FROM sh$i) AS h FROM h${i}_raw)""".stripMargin)
    sb.append(
      s"""
         |SELECT v.id AS id, coalesce(a.a, 0) AS auth, coalesce(h.h, 0) AS hub
         |FROM verts v
         |LEFT JOIN a$rounds a ON a.id = v.id
         |LEFT JOIN h$rounds h ON h.id = v.id
         |ORDER BY auth DESC, v.id LIMIT 10""".stripMargin)
    sb.toString
  }

  /** q_edges_build: the edge list itself, ordered for the oracle. */
  def qEdgesBuild(spark: SparkSession, sfDir: String): DataFrame =
    edges(spark, sfDir).orderBy(col("src"), col("dst"))

  /** Shared oracle CTE text for the derived edge list. */
  val edgesSql: String =
    """SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
      |FROM lineitem a JOIN lineitem b
      |  ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey""".stripMargin

  /** Oracle CTE prelude for the symmetric consecutive-pair kernel edge list
    * ([[kernelEdges]]) — `fwd` then `e`, referenced by the iterative oracles
    * below. */
  private[ops] val kernelEdgesCtes: String =
    """fwd AS MATERIALIZED (
      |  SELECT a.l_partkey AS src, b.l_partkey AS dst
      |  FROM lineitem a JOIN lineitem b
      |    ON a.l_orderkey = b.l_orderkey
      |   AND a.l_linenumber + 1 = b.l_linenumber
      |   AND a.l_partkey <> b.l_partkey),
      |e AS MATERIALIZED (SELECT DISTINCT src, dst FROM (
      |  SELECT src, dst FROM fwd UNION ALL SELECT dst AS src, src AS dst FROM fwd))""".stripMargin

  /** DuckDB oracle for q_connected_components: min-label propagation
    * unrolled as chained CTEs. The sf0.01 kernel graph converges in 4
    * rounds (measured); 8 doubles the margin. Converged labels = min vertex
    * id per component — exactly GraphX `connectedComponents` — and only
    * label-agnostic aggregates are compared. */
  def ccOracleSql(rounds: Int = 8): String = {
    val sb = new StringBuilder
    sb.append(s"WITH $kernelEdgesCtes,\n")
    sb.append("l0 AS MATERIALIZED (SELECT DISTINCT src AS id, src AS lbl FROM e)")
    for (i <- 1 to rounds) sb.append(
      s""",
         |l$i AS MATERIALIZED (
         |  SELECT l.id, least(l.lbl, coalesce(min(n.lbl), l.lbl)) AS lbl
         |  FROM l${i - 1} l LEFT JOIN e ON e.src = l.id LEFT JOIN l${i - 1} n ON n.id = e.dst
         |  GROUP BY l.id, l.lbl)""".stripMargin)
    // Convergence guard: rounds is measured at sf0.01 (4 + margin); at a
    // larger-diameter corpus the truncated propagation would silently split
    // components and the gate would report a false engine mismatch. Label
    // propagation is converged iff the last round changed no label — error()
    // loudly otherwise (lazily evaluated in CASE).
    sb.append(
      s""",
         |guard AS (
         |  SELECT CASE WHEN (SELECT count(*) FROM l$rounds a
         |                    JOIN l${rounds - 1} b ON b.id = a.id AND b.lbl <> a.lbl) > 0
         |    THEN error('cc oracle: label propagation not converged in $rounds unrolled rounds — raise rounds')
         |    ELSE 0 END AS ok),
         |comps AS (SELECT lbl, count(*) AS sz FROM l$rounds GROUP BY lbl)
         |SELECT count(*) AS n_components, max(sz) AS largest_component,
         |       CAST((SELECT count(*) FROM l$rounds) AS BIGINT) AS n_vertices
         |FROM comps, guard g WHERE g.ok = 0""".stripMargin)
    sb.toString
  }

  /** DuckDB oracle for q_sssp: min-plus BFS unrolled as chained CTEs with
    * the [[ccOracleSql]] convergence-guard pattern. The min-plus fixpoint
    * over an unweighted symmetric edge list IS the BFS hop distance;
    * `rounds` must cover the seed's eccentricity (the sf0.01 kernel graph
    * settles well inside 24) and the guard `error()`s loudly if the last
    * round still changed any row, so a larger-diameter corpus can never
    * silently report truncated distances as an engine mismatch. */
  def ssspOracleSql(rounds: Int = 24): String = {
    val sb = new StringBuilder
    sb.append(s"WITH $kernelEdgesCtes,\n")
    sb.append("d0 AS MATERIALIZED (SELECT min(src) AS id, CAST(0 AS BIGINT) AS dist FROM e)")
    for (i <- 1 to rounds) sb.append(
      s""",
         |d$i AS MATERIALIZED (
         |  SELECT id, min(dist) AS dist FROM (
         |    SELECT id, dist FROM d${i - 1}
         |    UNION ALL
         |    SELECT e.dst AS id, d.dist + 1 AS dist
         |    FROM e JOIN d${i - 1} d ON e.src = d.id) u
         |  GROUP BY id)""".stripMargin)
    sb.append(
      s""",
         |guard AS (
         |  SELECT CASE WHEN (SELECT count(*) FROM d$rounds a
         |                    LEFT JOIN d${rounds - 1} b ON b.id = a.id AND b.dist = a.dist
         |                    WHERE b.id IS NULL) > 0
         |    THEN error('sssp oracle: BFS not converged in $rounds unrolled rounds — raise rounds')
         |    ELSE 0 END AS ok)
         |SELECT id, dist FROM d$rounds, guard g WHERE g.ok = 0
         |ORDER BY id""".stripMargin)
    sb.toString
  }

  /** DuckDB oracle for q_pagerank: the same integer recurrence as
    * [[qPagerank]], unrolled as 10 chained CTEs (`//` = truncating division
    * on positive BIGINTs, matching Scala `Long./`). */
  def pagerankOracleSql(iters: Int = 10): String = {
    val sb = new StringBuilder
    sb.append(s"WITH $kernelEdgesCtes,\n")
    sb.append("deg AS MATERIALIZED (SELECT src AS id, count(*) AS d FROM e GROUP BY src),\n")
    sb.append("r0 AS MATERIALIZED (SELECT DISTINCT src AS id, CAST(1000000000000 AS BIGINT) AS r FROM e)")
    for (i <- 1 to iters) sb.append(
      s""",
         |r$i AS MATERIALIZED (
         |  SELECT e.dst AS id,
         |    CAST(150000000000 + (85 * sum(r.r // d.d)) // 100 AS BIGINT) AS r
         |  FROM e JOIN r${i - 1} r ON r.id = e.src JOIN deg d ON d.id = e.src
         |  GROUP BY e.dst)""".stripMargin)
    sb.append(
      s"""
         |SELECT id, r AS rank_e12 FROM r$iters
         |ORDER BY rank_e12 DESC, id LIMIT 10""".stripMargin)
    sb.toString
  }
}
