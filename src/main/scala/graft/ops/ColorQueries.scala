package graft.ops

import org.apache.spark.graphx.Graph
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.color.{ColoringKernel, GraphXKernel}
import graft.color.ColoringKernel.Strategy

/** Driver-contract wrappers for the iterative coloring kernel
  * (q_color_graph / q_minimal_colors — SURVEY.md §2.3, no SQL oracle; the
  * correctness contract is the invariant set: zero uncolored, zero
  * conflicting edges, colors ≤ Δ+1, deterministic output).
  */
object ColorQueries {

  private def kernelBase(spark: SparkSession, d: String): Graph[Int, Unit] =
    GraphXKernel.prepareCached(spark, d, GraphOps.kernelEdges(spark, d))

  /** Session-lifetime cache of the Δ+1 GraphX trace per sfDir — the same
    * materialized-view stance as [[GraphXKernel.prepareCached]] and the
    * persisted edge DFs: the kernel is deterministic, q_color_graph and
    * q_minimal_colors both start from the identical Δ+1 run (the
    * minimal-colors scaladoc proves that run already witnesses minimal k),
    * so the 13-round trace is computed once per session and both queries
    * read the checkpointed result. */
  private val deltaTraceCache = new SessionCache[ColoringKernel.Colored]

  /** Strategy crossover for the Δ+1 trace, by kernel-graph edge count.
    * GraphX wins below it on per-round fixed cost (no Catalyst planning
    * per round: 8.5 s vs 24.7 s at 5.9M edges); the DataFrame Jp rounds
    * win above it because their per-round traffic has no vertex-cut
    * replication term — GraphX message bytes grow ~2√P with the edge
    * partition count while the Jp rounds' broadcast probes stay flat
    * (41.0 s vs 60.8 s at 17.6M edges, measured on the 30× ScaleUp leg).
    * Same deterministic coloring either side — the oracle replay is
    * strategy-independent. Session-configurable so the spec can force the
    * crossover on a small graph. */
  val GraphxMaxEdgesKey = "graft.kernel.graphxMaxEdges"
  val DefaultGraphxMaxEdges: Long = 10000000L

  private def deltaPlusOneTrace(spark: SparkSession, d: String): ColoringKernel.Colored =
    deltaTraceCache.getOrElseUpdate(spark, d)({
      val debug = sys.env.contains("GRAFT_DEBUG_ROUNDS")
      def timed[T](label: String)(f: => T): T = {
        val t0 = System.nanoTime()
        val r = f
        if (debug) println(f"[trace] $label t=${(System.nanoTime() - t0) / 1e9}%.2f s")
        r
      }
      val (edges, nEdges) = GraphOps.kernelEdgesWithCount(spark, d)
      val graphxMax = spark.conf
        .get(GraphxMaxEdgesKey, DefaultGraphxMaxEdges.toString).toLong
      if (nEdges <= graphxMax) {
        val base = timed("kernelBase")(kernelBase(spark, d))
        val k = timed("maxDegree")(GraphXKernel.maxDegree(base) + 1)
        timed("tryColor")(ColoringKernel
          .tryColor(spark, edges, k, Strategy.GraphX, preparedBase = Some(base))
          .getOrElse(sys.error("Δ+1 coloring cannot fail")))
      } else {
        // Past the crossover: Δ from a one-pass degree agg (no GraphX base
        // build), then the DataFrame Jp rounds.
        val k = timed("maxDegree")(edges
          .groupBy(col("src")).agg(count(lit(1)).as("deg"))
          .agg(coalesce(max(col("deg")), lit(0L))).head().getLong(0).toInt + 1)
        timed("tryColor")(ColoringKernel
          .tryColor(spark, edges, k, Strategy.Jp)
          .getOrElse(sys.error("Δ+1 coloring cannot fail")))
      }
    })

  /** Full first-fit coloring of the consecutive-co-purchase graph at
    * k = Δ+1 (always feasible). Output `(id, color, n_colors)` ordered by
    * id; deterministic (bench-selected GraphX strategy — same semantics as
    * Jp, message-passing execution). */
  def qColorGraph(spark: SparkSession, d: String): DataFrame = {
    val result = deltaPlusOneTrace(spark, d)
    result.colors
      .withColumn("n_colors", lit(ColoringKernel.usedColors(result.colors)))
      .orderBy(col("id"))
  }

  /** Reference-shaped variant: same kernel driven by the GreedyIS
    * partial/merge admit (the aggregateByKey design), executed as the
    * co-partitioned RDD round loop ([[graft.color.GreedyRddKernel]] — the
    * literal `aggregateByKey` with map-side combine).
    * Output restricted to the validation invariants so the nondeterministic
    * admitted sets (reference-faithful) don't break result hashing. */
  def qColorGreedy(spark: SparkSession, d: String): DataFrame = {
    val debug = sys.env.contains("GRAFT_DEBUG_ROUNDS")
    def timed[T](label: String)(f: => T): T = {
      val t0 = System.nanoTime()
      val r = f
      if (debug) println(f"[greedy-q] $label t=${(System.nanoTime() - t0) / 1e9}%.2f s")
      r
    }
    val (edges, eCount) = timed("edges-memo")(GraphOps.kernelEdgesWithCount(spark, d))
    def validate(colors: DataFrame) = timed("validate")(ColoringKernel.validate(edges, colors))
    // Fast path: the kernel derives k = Δ+1 from its own adjacency (one
    // aggregate; no separate degree pass) and applies the greedy routing
    // rule with the exact V. None → the strategy router (Jp past the mask
    // or the bucket bound). Either way the colors are validated before
    // their storage is freed.
    val ((uncolored, conflicts), rounds) = timed("fast-path")(graft.color.GreedyRddKernel
      .colorDeltaPlusOne(spark, edges, eCount)(validate)).getOrElse {
      val maxDeg = edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
        .agg(max(col("deg"))).head().getLong(0).toInt
      val r = ColoringKernel
        .tryColor(spark, edges, maxDeg + 1, Strategy.GreedyRdd)
        .getOrElse(sys.error("Δ+1 coloring cannot fail"))
      try (validate(r.colors), r.rounds) finally r.release()
    }
    import spark.implicits._
    Seq((uncolored, conflicts, rounds.toLong > 0))
      .toDF("uncolored", "conflicts", "converged")
  }

  /** Minimal-color search (O25) on the kernel graph; single summary row.
    * For the deterministic GraphX/Jp kernel the Δ+1 trace IS the minimal-k
    * witness (ColoringKernel.minimalColors scaladoc: a k−1 attempt replays
    * the identical rounds and fails), so this reads the shared session
    * trace — minimal_k = distinct colors used — and revalidates it. */
  def qMinimalColors(spark: SparkSession, d: String): DataFrame = {
    val debug = sys.env.contains("GRAFT_DEBUG_ROUNDS")
    def timed[T](label: String)(f: => T): T = {
      val t0 = System.nanoTime()
      val r = f
      if (debug) println(f"[minimal] $label t=${(System.nanoTime() - t0) / 1e9}%.2f s")
      r
    }
    val edges = GraphOps.kernelEdges(spark, d)
    val best = timed("trace")(deltaPlusOneTrace(spark, d))
    val minimalK = timed("usedColors")(ColoringKernel.usedColors(best.colors))
    val (uncolored, conflicts) = timed("validate")(ColoringKernel.validate(edges, best.colors))
    import spark.implicits._
    Seq((minimalK.toLong, uncolored, conflicts))
      .toDF("minimal_k", "uncolored", "conflicts")
  }

  /** DuckDB oracle for q_color_graph: the speculative-JP kernel unrolled as
    * chained CTEs — the rounds are fully deterministic (first-fit candidate
    * over colored neighbors; admit iff (deg, −id) beats every same-candidate
    * uncolored neighbor; ties impossible), so SQL can replay them exactly.
    *
    *  - `rounds` must cover convergence at the oracle's scale: sf0.01
    *    converges in 13 (measured); extra rounds are no-ops at the fixpoint,
    *    so 16 is margin, not semantics.
    *  - The first-fit search only probes colors `0..deg(v)` (some color in
    *    that range is always free, and k = Δ+1 > deg(v) caps nothing), so
    *    the unrolled SQL never needs the infeasible (−3) branch; `series`
    *    just bounds the probe table and must exceed Δ (61 at sf0.01).
    */
  def colorGraphOracleSql(rounds: Int = 16, series: Int = 128): String =
    coloringCtes(rounds, series) +
      s"""
         |SELECT l.id, l.color,
         |  CAST((SELECT count(DISTINCT color) FROM lab$rounds WHERE color >= 0) AS INT) AS n_colors
         |FROM lab$rounds l, guard g WHERE g.ok = 0 ORDER BY l.id""".stripMargin

  /** DuckDB oracle for q_minimal_colors (GraphX/Jp strategy): the Δ+1 trace
    * IS the minimal-k witness (ColoringKernel.minimalColors scaladoc — a
    * k−1 attempt would replay the same deterministic rounds and fail), so
    * minimal_k = distinct colors of the same unrolled replay, and the
    * uncolored/conflict invariants are recomputed from the final labels. */
  def minimalColorsOracleSql(rounds: Int = 16, series: Int = 128): String =
    coloringCtes(rounds, series) +
      s"""
         |SELECT
         |  CAST((SELECT count(DISTINCT color) FROM lab$rounds WHERE color >= 0) AS BIGINT) AS minimal_k,
         |  CAST((SELECT count(*) FROM lab$rounds WHERE color = -1) AS BIGINT) AS uncolored,
         |  CAST((SELECT count(*) FROM e
         |        JOIN lab$rounds a ON a.id = e.src
         |        JOIN lab$rounds b ON b.id = e.dst AND b.color = a.color) AS BIGINT) AS conflicts
         |FROM guard WHERE ok = 0""".stripMargin

  private def coloringCtes(rounds: Int, series: Int): String = {
    val sb = new StringBuilder
    sb.append(s"WITH ${GraphOps.kernelEdgesCtes},\n")
    sb.append(s"deg AS MATERIALIZED (SELECT src AS id, count(*) AS deg FROM e GROUP BY src),\n")
    sb.append(s"ser AS (SELECT unnest(range(0, $series)) AS c),\n")
    sb.append("lab0 AS MATERIALIZED (SELECT DISTINCT src AS id, -1 AS color FROM e)")
    for (r <- 0 until rounds) sb.append(
      s""",
         |used$r AS MATERIALIZED (
         |  SELECT DISTINCT e.src AS id, l.color FROM e
         |  JOIN lab$r l ON l.id = e.dst WHERE l.color >= 0),
         |cand$r AS MATERIALIZED (
         |  SELECT v.id, min(CASE WHEN u.id IS NULL THEN g.c END) AS cand
         |  FROM (SELECT id FROM lab$r WHERE color = -1) v
         |  JOIN deg d ON d.id = v.id
         |  CROSS JOIN ser g
         |  LEFT JOIN used$r u ON u.id = v.id AND u.color = g.c
         |  WHERE g.c <= d.deg
         |  GROUP BY v.id),
         |riv$r AS MATERIALIZED (
         |  SELECT ca.id, count(*) AS n
         |  FROM cand$r ca
         |  JOIN e ON e.src = ca.id
         |  JOIN cand$r cb ON cb.id = e.dst AND cb.cand = ca.cand
         |  JOIN deg da ON da.id = ca.id
         |  JOIN deg db ON db.id = e.dst
         |  WHERE (db.deg, -e.dst) > (da.deg, -ca.id)
         |  GROUP BY ca.id),
         |lab${r + 1} AS MATERIALIZED (
         |  SELECT l.id,
         |    CAST(CASE WHEN l.color <> -1 THEN l.color
         |              WHEN rv.id IS NULL THEN c.cand
         |              ELSE -1 END AS INT) AS color
         |  FROM lab$r l
         |  LEFT JOIN cand$r c ON c.id = l.id
         |  LEFT JOIN riv$r rv ON rv.id = l.id)""".stripMargin)
    // Convergence guard: the unrolled round count and probe-series bound are
    // measured AT A SCALE (sf0.01: 13 rounds, Δ=61) — at any other corpus
    // the replay could stop short or truncate the first-fit probe and the
    // gate would report a false engine mismatch. The guard turns that into
    // a loud oracle-side error (DuckDB error() is lazily evaluated in CASE):
    //   - fixpoint: every vertex colored by lab{rounds} (a JP trace is
    //     converged exactly when nothing is left uncolored);
    //   - series must exceed the max first-fit probe index (deg(v) ≤ Δ).
    sb.append(
      s""",
         |guard AS (
         |  SELECT CASE
         |    WHEN (SELECT count(*) FROM lab$rounds WHERE color = -1) > 0
         |      THEN error('coloring oracle: not converged in $rounds unrolled rounds at this scale — raise rounds')
         |    WHEN (SELECT max(deg) FROM deg) >= $series
         |      THEN error('coloring oracle: series=$series does not exceed max degree — raise series')
         |    ELSE 0 END AS ok)""".stripMargin)
    sb.toString
  }

  /** DuckDB oracle for q_color_greedy: the query's OUTPUT is its invariant
    * row — (uncolored = 0, conflicts = 0, converged = true), computed by
    * the Spark side from the actual GreedyIS coloring via
    * ColoringKernel.validate. The admitted sets themselves are partitioning-
    * dependent (reference-faithful, GreedyIS scaladoc), so the contract is
    * exactly these invariants, and the oracle asserts them as constants. */
  val colorGreedyOracleSql: String =
    """SELECT CAST(0 AS BIGINT) AS uncolored, CAST(0 AS BIGINT) AS conflicts,
      |       true AS converged""".stripMargin
}
