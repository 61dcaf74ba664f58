package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.color.{CandNode, ColoringKernel, GreedyIS}
import graft.color.ColoringKernel.Strategy
import graft.model.{GraphIO, RandomGraph}

/** Invariant-based tests for the iterative kernel (SURVEY.md §5): a valid
  * coloring has zero uncolored nodes, zero adjacent-equal-color pairs, and
  * uses ≤ Δ+1 colors; results are deterministic under a fixed seed. Plus
  * GreedyIS partial/merge laws and format-parity IO on the reference fixture.
  */
class ColoringKernelSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.get
  import spark.implicits._

  private def check(edges: DataFrame, maxDeg: Int, strategy: Strategy): Unit = {
    val result = ColoringKernel.tryColor(spark, edges, maxDeg + 1, strategy)
      .getOrElse(fail("Δ+1 coloring must succeed"))
    val (uncolored, conflicts) = ColoringKernel.validate(edges, result.colors)
    assert(uncolored === 0, "all nodes colored")
    assert(conflicts === 0, "no adjacent equal colors")
    assert(ColoringKernel.usedColors(result.colors) <= maxDeg + 1)
    result.release()
  }

  for (n <- Seq(10L, 200L, 2000L);
       strat <- Seq(Strategy.Jp, Strategy.GreedyRdd)) {
    test(s"valid coloring: n=$n maxDeg=5 strategy=$strat") {
      check(RandomGraph.edges(spark, n, 5, seed = 42), 5, strat)
    }
  }

  test("legacy collect_set path (k > 64) still colors validly") {
    // k <= 64 rounds ride the 64-bit used mask; palettes past 64 fall back
    // to the per-round regather with collect_set arrays — keep it covered.
    val edges = RandomGraph.edges(spark, 500L, 6, seed = 11)
    check(edges, 70, Strategy.Jp)
    // A greedy request past the mask runs on the same Jp rounds.
    assert(ColoringKernel.resolveStrategy(spark, edges, Strategy.GreedyRdd, 70)
      === Strategy.Jp)
    check(edges, 69, Strategy.GreedyRdd)
  }

  test("GreedyRdd distributed rounds stay valid with the tail-local solve off") {
    // Every small-graph case above now finishes in the tail-local task
    // (V ≤ the 16384 default), so this case pins the distributed round loop
    // itself: disable the switch and re-check the invariants end-to-end.
    spark.conf.set(graft.color.GreedyRddKernel.TailLocalSolveRowsKey, "0")
    try check(RandomGraph.edges(spark, 2000L, 5, seed = 42), 5, Strategy.GreedyRdd)
    finally spark.conf.unset(graft.color.GreedyRddKernel.TailLocalSolveRowsKey)
  }

  test("GreedyRdd reports palette exhaustion as None (-3 sentinel path)") {
    // A triangle needs 3 colors; k=2 must fail loudly, not stall.
    val edges = Seq((0L, 1L), (1L, 0L), (1L, 2L), (2L, 1L), (0L, 2L), (2L, 0L))
      .toDF("src", "dst")
    assert(ColoringKernel.tryColor(spark, edges, 2, Strategy.GreedyRdd).isEmpty)
    assert(ColoringKernel.tryColor(spark, edges, 3, Strategy.GreedyRdd).isDefined)
  }

  test("greedy requests auto-route to Jp past the per-bucket scale bound") {
    val edges = RandomGraph.edges(spark, 200, 5, seed = 42)
    // Defaults keep the requested strategy (V/k far under the bound)...
    assert(ColoringKernel.resolveStrategy(spark, edges, Strategy.GreedyRdd, 6)
      === Strategy.GreedyRdd)
    assert(ColoringKernel.resolveStrategy(spark, edges, Strategy.Jp, 6)
      === Strategy.Jp)
    // ...a palette past the 64-bit mask routes to Jp under any bound...
    assert(ColoringKernel.resolveStrategy(spark, edges, Strategy.GreedyRdd, 65)
      === Strategy.Jp)
    // ...an injected tiny bound flips the greedy request to Jp, and an
    // end-to-end greedy request still yields a valid coloring via Jp rounds.
    spark.conf.set(ColoringKernel.GreedyMaxBucketRowsKey, "1")
    try {
      assert(ColoringKernel.resolveStrategy(spark, edges, Strategy.GreedyRdd, 6)
        === Strategy.Jp)
      check(edges, 5, Strategy.GreedyRdd)
    } finally spark.conf.unset(ColoringKernel.GreedyMaxBucketRowsKey)
    // The DEFAULT bound (2^13, the r13 measured crossover) must fire at
    // the 100x ScaleUp shape — kernel graph V = 2e6, k = 63 → V/k =
    // 31 746 > 8192 — and must NOT fire at gate scale (V = 2e4 → 317).
    assert(2000000L / 63 > ColoringKernel.DefaultGreedyMaxBucketRows)
    assert(20000L / 63 <= ColoringKernel.DefaultGreedyMaxBucketRows)
  }

  test("Jp coloring is deterministic across partitionings") {
    val edges = RandomGraph.edges(spark, 500, 6, seed = 7)
    def run(parts: Int): Seq[(Long, Int)] = {
      val r = ColoringKernel
        .tryColor(spark, edges.repartition(parts), 7, Strategy.Jp).get
      val out = r.colors.orderBy("id").as[(Long, Int)].collect().toSeq
      r.release()
      out
    }
    assert(run(2) === run(11))
  }

  test("minimalColors returns a valid coloring no worse than first-fit") {
    val edges = RandomGraph.edges(spark, 300, 5, seed = 3)
    val best = ColoringKernel.minimalColors(spark, edges, Strategy.Jp, maxAttempts = 3)
    val (uncolored, conflicts) = ColoringKernel.validate(edges, best.colors)
    assert(uncolored === 0 && conflicts === 0)
    assert(best.k <= 6)
  }

  test("isolated vertices get color 0 (O6 init rule)") {
    val edges = Seq((0L, 1L), (1L, 0L)).toDF("src", "dst")
    val vertices = Seq(0L, 1L, 2L, 3L).toDF("id")
    val r = ColoringKernel.tryColor(spark, edges, 2, Strategy.Jp, Some(vertices)).get
    val m = r.colors.as[(Long, Int)].collect().toMap
    assert(m(2) === 0 && m(3) === 0)
    assert(m(0) !== m(1))
    r.release()
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
      spark, edges, Strategy.Jp, Some(nodes.select("id")), maxAttempts = 4)
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
