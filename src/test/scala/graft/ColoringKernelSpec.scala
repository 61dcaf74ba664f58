package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.color.{CandNode, ColoringKernel, GreedyIS, GreedyRddKernel}
import graft.color.ColoringKernel.Strategy
import graft.model.{GraphIO, RandomGraph}
import graft.ops.State

/** Invariant-based tests for the iterative kernel (SURVEY.md §5): a valid
  * coloring has zero uncolored nodes, zero adjacent-equal-color pairs, and
  * uses ≤ Δ+1 colors; results are deterministic under a fixed seed. Plus
  * GreedyIS partial/merge laws and format-parity IO on the reference fixture.
  */
class ColoringKernelSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.get
  import spark.implicits._

  /** Number of distinct colors in a complete coloring. */
  private def usedColors(colors: DataFrame): Int =
    colors.filter(col("color") >= 0).select(col("color")).distinct().count().toInt

  /** A `strategy` run on `edges` of max degree `maxDeg` is a valid coloring
    * whose k, the colors it used, is at most Δ+1. */
  private def check(edges: DataFrame, maxDeg: Int, strategy: Strategy): Unit = {
    val result = ColoringKernel.minimalColors(spark, edges, strategy)
    try {
      val (uncolored, conflicts) = ColoringKernel.validate(edges, result.colors)
      assert(uncolored === 0, "all nodes colored")
      assert(conflicts === 0, "no adjacent equal colors")
      assert(result.k === usedColors(result.colors))
      assert(result.k <= maxDeg + 1)
    } finally result.release()
  }

  for (n <- Seq(10L, 200L, 2000L);
       strat <- Seq(Strategy.Jp, Strategy.GreedyRdd)) {
    test(s"valid coloring: n=$n maxDeg=5 strategy=$strat") {
      check(RandomGraph.edges(spark, n, 5, seed = 42), 5, strat)
    }
  }

  test("Jp colors a palette past 64 validly, and a greedy request runs the same Jp rounds") {
    // Δ = 80: the palette passes one 64-bit mask word, which the greedy
    // kernel declines.
    val edges = RandomGraph.edges(spark, 300L, 80, seed = 7)
    val maxDeg = edges.groupBy("src").count().agg(max("count")).head().getLong(0).toInt
    assert(maxDeg + 1 > 64, s"Δ = $maxDeg")
    check(edges, maxDeg, Strategy.Jp)
    // The greedy kernel declines a palette past the mask, and a greedy
    // request colors via the same Jp rounds.
    check(edges, maxDeg, Strategy.GreedyRdd)
    def labels(strategy: Strategy): Set[(Long, Int)] = {
      val r = ColoringKernel.minimalColors(spark, edges, strategy)
      try r.colors.as[(Long, Int)].collect().toSet finally r.release()
    }
    assert(labels(Strategy.GreedyRdd) === labels(Strategy.Jp))
  }

  test("GreedyRdd distributed rounds stay valid with the tail-local solve off") {
    // Every small-graph case above now finishes in the tail-local task
    // (V ≤ the 16384 default), so this case pins the distributed round loop
    // itself: disable the switch and re-check the invariants end-to-end.
    spark.conf.set(ColoringKernel.TailLocalSolveRowsKey, "0")
    try check(RandomGraph.edges(spark, 2000L, 5, seed = 42), 5, Strategy.GreedyRdd)
    finally spark.conf.unset(ColoringKernel.TailLocalSolveRowsKey)
  }

  test("greedy requests auto-route to Jp past the per-bucket scale bound") {
    val edges = RandomGraph.edges(spark, 200, 5, seed = 42)
    val v = edges.select("src").distinct().count()
    // The default bound fits this graph (V/k far under it)...
    assert(GreedyRddKernel.greedyFits(spark, v, 6))
    // ...a palette past the 64-bit mask never fits...
    assert(!GreedyRddKernel.greedyFits(spark, v, 65))
    // ...an injected tiny bound makes the kernel decline, and an end-to-end
    // greedy request still yields a valid coloring via Jp rounds.
    spark.conf.set(GreedyRddKernel.MaxBucketRowsKey, "1")
    try {
      assert(!GreedyRddKernel.greedyFits(spark, v, 6))
      assert(GreedyRddKernel.colorDeltaPlusOne(spark, edges, edges.count())(_.count()).isEmpty)
      check(edges, 5, Strategy.GreedyRdd)
    } finally spark.conf.unset(GreedyRddKernel.MaxBucketRowsKey)
    // The DEFAULT bound (2^13, the r13 measured crossover) must fire at
    // the 100x ScaleUp shape — kernel graph V = 2e6, k = 63 → V/k =
    // 31 746 > 8192 — and must NOT fire at gate scale (V = 2e4 → 317).
    assert(2000000L / 63 > GreedyRddKernel.DefaultMaxBucketRows)
    assert(20000L / 63 <= GreedyRddKernel.DefaultMaxBucketRows)
  }

  test("q_color_greedy runs the Jp Δ+1 rounds when the greedy kernel declines") {
    // A 1-row bucket bound makes every palette too coarse for the greedy
    // kernel, so the query takes its fallback.
    val s2 = spark.newSession()
    s2.conf.set(GreedyRddKernel.MaxBucketRowsKey, "1")
    val got = graft.ops.ColorQueries.qColorGreedy(s2, Corpus.dir("sf0.001")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSeq
    assert(got === Seq((0L, 0L, true)))
  }

  test("Jp coloring is deterministic across partitionings") {
    val edges = RandomGraph.edges(spark, 500, 6, seed = 7)
    def run(parts: Int): Seq[(Long, Int)] = {
      val r = ColoringKernel.minimalColors(spark, edges.repartition(parts))
      try r.colors.orderBy("id").as[(Long, Int)].collect().toSeq finally r.release()
    }
    assert(run(2) === run(11))
  }

  /** A sequential replay of the synchronous Jp rounds over neighbor color
    * sets, independent of the kernel's masks, broadcasts and tail task and
    * valid at any Δ: per round every uncolored vertex takes its first free
    * color and keeps it iff no uncolored neighbor with the same candidate
    * has a higher (degree, id asc) priority. Degree counts edge rows, as
    * the kernel's round 0 does. */
  private def jpReplay(edges: DataFrame): Map[Long, Int] = {
    val rows = edges.as[(Long, Long)].collect()
    val deg = rows.groupMapReduce(_._1)(_ => 1)(_ + _)
    val nbrs = rows.groupMap(_._1)(_._2).view.mapValues(_.distinct).toMap
    def beats(a: Long, b: Long) = deg(a) > deg(b) || (deg(a) == deg(b) && a < b)
    var color = Map.empty[Long, Int]
    var uncolored = deg.keySet
    while (uncolored.nonEmpty) {
      val cand = uncolored.iterator.map { v =>
        val used = nbrs(v).flatMap(color.get).toSet
        v -> Iterator.from(0).find(c => !used.contains(c)).get
      }.toMap
      val kept = cand.filter { case (v, c) =>
        !nbrs(v).exists(u => cand.get(u).contains(c) && beats(u, v))
      }
      assert(kept.nonEmpty, "the replay stalled")
      color ++= kept
      uncolored --= kept.keys
    }
    color
  }

  /** The Jp labels, k, rounds and final mask words on `edges`, with the
    * tail-local round's row bound at `tailRows` (None: the default). */
  private def jpLabels(edges: DataFrame, tailRows: Option[String] = None)
      : (Map[Long, Int], Int, Int, Int) = {
    tailRows.foreach(spark.conf.set(ColoringKernel.TailLocalSolveRowsKey, _))
    try {
      val r = ColoringKernel.minimalColors(spark, edges)
      try (r.colors.as[(Long, Int)].collect().toMap, r.k, r.rounds,
        r.state.df.columns.count(_.startsWith("used")))
      finally r.release()
    } finally spark.conf.unset(ColoringKernel.TailLocalSolveRowsKey)
  }

  /** The symmetric edges of an `m`-clique on ids `from` until `from + m`. */
  private def clique(m: Long, from: Long = 0L): DataFrame =
    spark.range(from, from + m).select(col("id").as("src"))
      .crossJoin(spark.range(from, from + m).select(col("id").as("dst")))
      .filter(col("src") =!= col("dst"))

  test("Jp scheduled and tail rounds give a sequential Jp replay's coloring at any degree") {
    // The 300-vertex graph has Δ ≥ 64 (and colors with fewer than 64); in
    // the 64-clique the last vertex's first free color is 63, the top bit
    // of its one mask word. Each runs once with every round scheduled (tail
    // off) and once at the default bound, where these graphs finish in one
    // tail task.
    for ((name, edges) <- Seq(
        "n=2000" -> RandomGraph.edges(spark, 2000L, 6, 33L),
        "n=500" -> RandomGraph.edges(spark, 500L, 40, 5L),
        "n=300" -> RandomGraph.edges(spark, 300L, 80, 7L),
        "64-clique" -> clique(64))) {
      val expected = jpReplay(edges)
      for (tail <- Seq(Some("0"), None)) {
        val (labels, k, _, _) = jpLabels(edges, tail)
        assert(labels === expected, s"$name tail=$tail: labels differ")
        assert(k === expected.values.max + 1, s"$name tail=$tail")
      }
    }
  }

  test("the Jp mask widens with the colors used, never with Δ") {
    // A 5,000-leaf star (Δ = 5,000) needs two colors and one mask word.
    val leaves = spark.range(1, 5001).select(lit(0L).as("a"), col("id").as("b"))
    val star = leaves.select(col("a").as("src"), col("b").as("dst"))
      .union(leaves.select(col("b").as("src"), col("a").as("dst")))
    for (tail <- Seq(Some("0"), None)) {
      val (_, k, _, words) = jpLabels(star, tail)
      assert(k === 2 && words === 1, s"tail=$tail: k=$k on $words words")
    }
    // A 130-clique beside a random graph needs 130 colors: its scheduled
    // rounds reach three words and still replay sequential Jp.
    val edges = State.memo(
      RandomGraph.edges(spark, 20000L, 10, 1L).unionByName(clique(130, 20000L)))
    try {
      val expected = jpReplay(edges.df)
      val (labels, k, _, words) = jpLabels(edges.df, Some("0"))
      assert(k === 130 && words === 3, s"k=$k on $words words")
      assert(labels === expected)
    } finally edges.release()
  }

  test("Jp tail-local round produces a valid coloring (n=500, maxDeg=6)") {
    // The whole graph fits the default tail bound: round 1 is the tail.
    val edges = RandomGraph.edges(spark, 500, 6, seed = 21)
    val r = ColoringKernel.minimalColors(spark, edges)
    try {
      assert(r.rounds === 1)
      assert(ColoringKernel.validate(edges, r.colors) === ((0L, 0L)))
      assert(r.k === usedColors(r.colors))
      assert(r.k <= 7)
    } finally r.release()
  }

  test("Jp tail-local replay is bit-identical to the distributed mask rounds") {
    // The Jp rounds are deterministic and oracle-replayed, so the tail task
    // may not change a single label: from round 1 (the default bound), from
    // a state with masks already set (a bound the first rounds pass), and
    // never (0).
    val edges = RandomGraph.edges(spark, 2000, 6, seed = 33)
    val (whole, k1, r1, _) = jpLabels(edges)
    val (late, k2, r2, _) = jpLabels(edges, Some("500"))
    val (distributed, k3, r3, _) = jpLabels(edges, Some("0"))
    assert(whole === distributed && late === distributed,
      "tail-local replay diverged from the distributed Jp rounds")
    assert(k1 === k3 && k2 === k3)
    assert(r1 === 1 && r1 < r2 && r2 < r3, s"rounds $r1, $r2, $r3")
  }

  test("an edge-free input colors every vertex 0 with k = 1 on every strategy") {
    val edges = Seq.empty[(Long, Long)].toDF("src", "dst")
    val vertices = spark.range(10).toDF("id")
    for (strategy <- Seq(Strategy.Jp, Strategy.GreedyRdd)) {
      val best = ColoringKernel.minimalColors(spark, edges, strategy, Some(vertices))
      try {
        assert(best.k === 1, s"$strategy")
        assert(best.colors.as[(Long, Int)].collect().toSet ===
          (0L until 10L).map(_ -> 0).toSet, s"$strategy")
      } finally best.release()
    }
  }

  test("Jp minimalColors reads k off its state: the colors used, at max degree below and past 64") {
    // Δ = 6 keeps the palette within one 64-bit mask word; Δ past 63 lets
    // it pass one. The extra vertices past the edge ids are isolated.
    for ((n, d) <- Seq((2000L, 6), (300L, 80)); extra <- Seq(false, true)) {
      val edges = RandomGraph.edges(spark, n, d, seed = 7)
      val maxDeg = edges.groupBy("src").count().agg(max("count")).head().getLong(0)
      assert((maxDeg + 1 > 64) === (d > 64), s"n=$n: Δ = $maxDeg")
      val vertices = if (extra) Some(spark.range(n + 20).toDF("id")) else None
      val best = ColoringKernel.minimalColors(spark, edges, Strategy.Jp, vertices)
      try assert(best.k === usedColors(best.colors), s"n=$n extra=$extra")
      finally best.release()
    }
    val empty = ColoringKernel.minimalColors(spark, Seq.empty[(Long, Long)].toDF("src", "dst"))
    try assert(empty.k === 0 && empty.colors.count() === 0) finally empty.release()
  }

  test("minimalColors returns a valid coloring no worse than first-fit") {
    val edges = RandomGraph.edges(spark, 300, 5, seed = 3)
    val best = ColoringKernel.minimalColors(spark, edges, Strategy.Jp)
    val (uncolored, conflicts) = ColoringKernel.validate(edges, best.colors)
    assert(uncolored === 0 && conflicts === 0)
    assert(best.k <= 6)
  }

  test("isolated vertices get color 0 (O6 init rule)") {
    val edges = Seq((0L, 1L), (1L, 0L)).toDF("src", "dst")
    val vertices = Seq(0L, 1L, 2L, 3L).toDF("id")
    val r = ColoringKernel.minimalColors(spark, edges, Strategy.Jp, Some(vertices))
    val m = try r.colors.as[(Long, Int)].collect().toMap finally r.release()
    assert(m(2) === 0 && m(3) === 0)
    assert(m(0) !== m(1))
    assert(r.k === 2)
  }

  test("GreedyIS admits a maximal independent set within a bucket") {
    // Path graph 0-1-2-3-4, all in one bucket, equal degrees except ends.
    val nodes = Seq(
      CandNode(0, 1, Array(1)), CandNode(1, 2, Array(0, 2)),
      CandNode(2, 2, Array(1, 3)), CandNode(3, 2, Array(2, 4)),
      CandNode(4, 1, Array(3)))
    val admitted = GreedyIS.finish(nodes.foldLeft(GreedyIS.zero)(GreedyIS.reduce)).toSet
    // Independent: no two admitted adjacent.
    for (n <- nodes if admitted(n.id); nb <- n.nbrs) assert(!admitted(nb))
    // Maximal: every non-admitted node has an admitted neighbor.
    for (n <- nodes if !admitted(n.id)) assert(n.nbrs.exists(admitted))
  }

  test("GreedyIS merge law: merge(a,b) result is an independent set and merge with zero is identity") {
    val a = Seq(CandNode(1, 3, Array(2, 5)), CandNode(4, 2, Array(3)))
      .foldLeft(GreedyIS.zero)(GreedyIS.reduce)
    val b = Seq(CandNode(2, 4, Array(1, 3)), CandNode(6, 1, Array(7)))
      .foldLeft(GreedyIS.zero)(GreedyIS.reduce)
    assert(GreedyIS.merge(a, GreedyIS.zero) === a)
    assert(GreedyIS.merge(GreedyIS.zero, b) === b)
    val merged = GreedyIS.finish(GreedyIS.merge(a, b)).toSet
    val byId = (Seq(CandNode(1, 3, Array(2, 5)), CandNode(4, 2, Array(3)),
      CandNode(2, 4, Array(1, 3)), CandNode(6, 1, Array(7)))).map(c => c.id -> c).toMap
    for (id <- merged; nb <- byId(id).nbrs) assert(!merged(nb))
  }

  test("reference graph.json round-trip: read, color, valid, ≤ Δ+1 colors") {
    val nodes = GraphIO.readNodes(spark, getClass.getResource("/graph.json").getPath)
    assert(nodes.count() === 10)
    val edges = GraphIO.edges(nodes)
    // Edge list symmetric by construction.
    val asym = edges.select($"src", $"dst")
      .except(edges.select($"dst".as("src"), $"src".as("dst")))
    assert(asym.isEmpty)
    val best = ColoringKernel.minimalColors(
      spark, edges, Strategy.Jp, Some(nodes.select("id")))
    val (uncolored, conflicts) = ColoringKernel.validate(edges, best.colors)
    assert(uncolored === 0 && conflicts === 0)
    // The 10-node fixture is 3-colorable in practice (SURVEY.md §5).
    assert(best.k <= 4)
  }

  test("RandomGraph: symmetric, irreflexive, degree-capped, seed-deterministic") {
    val e1 = RandomGraph.edges(spark, 400, 4, seed = 11)
    assert(e1.filter($"src" === $"dst").isEmpty)
    val asym = e1.except(e1.select($"dst".as("src"), $"src".as("dst")))
    assert(asym.isEmpty)
    val maxDeg = e1.groupBy("src").count().agg(max("count")).head().getLong(0)
    assert(maxDeg <= 4)
    val e2 = RandomGraph.edges(spark, 400, 4, seed = 11)
    assert(e1.except(e2).isEmpty && e2.except(e1).isEmpty)
    val e3 = RandomGraph.edges(spark, 400, 4, seed = 12)
    assert(e1.except(e3).count() > 0)
  }
}
