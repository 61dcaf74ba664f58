package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.color.{ColoringKernel, GraphXKernel}
import graft.model.RandomGraph

/** The GraphX message-passing kernel satisfies the same invariants as the
  * DataFrame kernel on the same graphs. */
class GraphXKernelSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.get

  test("GraphX kernel produces a valid coloring (n=500, maxDeg=6)") {
    val edges = RandomGraph.edges(spark, 500, 6, seed = 21)
    val ((uncolored, conflicts), used) = GraphXKernel.tryColor(spark, edges, k = 7) {
      colors => (ColoringKernel.validate(edges, colors), ColoringKernel.usedColors(colors))
    }.getOrElse(fail("Δ+1 must succeed"))._1
    assert(uncolored === 0 && conflicts === 0)
    assert(used <= 7)
  }

  test("tail-local replay is bit-identical to the distributed rounds") {
    // The Jp rounds are deterministic and oracle-replayed, so the
    // tail-local solve may not change a single label. Run the same graph
    // with the switch on (default — a 2000-vertex graph tail-solves after
    // round 1's signals) and off, and require identical (id, color) sets.
    val edges = RandomGraph.edges(spark, 2000, 6, seed = 33)
    def labels(): Seq[(Long, Int)] =
      GraphXKernel.tryColor(spark, edges, k = 7) {
        _.orderBy("id").collect().map(r => (r.getLong(0), r.getInt(1))).toSeq
      }.getOrElse(fail("Δ+1 must succeed"))._1
    val withTail = labels()
    spark.conf.set(graft.color.GreedyRddKernel.TailLocalSolveRowsKey, "0")
    val distributed = try labels()
    finally spark.conf.unset(graft.color.GreedyRddKernel.TailLocalSolveRowsKey)
    assert(withTail === distributed,
      "tail-local replay diverged from the distributed Jp rounds")
  }

  test("GraphX kernel fails cleanly when k is infeasible") {
    import spark.implicits._
    // K4 needs 4 colors; k=3 must return None.
    val vs = Seq(0L, 1L, 2L, 3L)
    val edges = (for (a <- vs; b <- vs if a != b) yield (a, b)).toDF("src", "dst")
    assert(GraphXKernel.tryColor(spark, edges, k = 3)(_.count()).isEmpty)
    assert(GraphXKernel.tryColor(spark, edges, k = 4)(_.count()).isDefined)
  }
}
