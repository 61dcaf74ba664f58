package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.color.{ColoringKernel, GraphXKernel}
import graft.model.RandomGraph

/** The GraphX message-passing kernel satisfies the same invariants as the
  * DataFrame kernel on the same graphs. */
class GraphXKernelSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.get

  /** `use` of the Δ+1 trace on a base built from `edges`; the trace and the
    * base are freed afterwards. */
  private def trace[T](edges: DataFrame)(use: ColoringKernel.Colored => T): T = {
    val base = GraphXKernel.prepare(spark, edges)
    try {
      val r = GraphXKernel.deltaPlusOne(spark, base)
      try use(r) finally r.release()
    } finally GraphXKernel.free(base)
  }

  test("GraphX kernel produces a valid coloring (n=500, maxDeg=6)") {
    val edges = RandomGraph.edges(spark, 500, 6, seed = 21)
    val ((uncolored, conflicts), k, used) = trace(edges) { r =>
      (ColoringKernel.validate(edges, r.colors), r.k,
        r.colors.select(col("color")).distinct().count())
    }
    assert(uncolored === 0 && conflicts === 0)
    assert(k === used)
    assert(k <= 7)
  }

  test("tail-local replay is bit-identical to the distributed rounds") {
    // The Jp rounds are deterministic and oracle-replayed, so the
    // tail-local solve may not change a single label. Run the same graph
    // with the switch on (default — a 2000-vertex graph tail-solves after
    // round 1's signals) and off, and require identical (id, color) sets.
    val edges = RandomGraph.edges(spark, 2000, 6, seed = 33)
    def labels(): Seq[(Long, Int)] =
      trace(edges) {
        _.colors.orderBy("id").collect().map(r => (r.getLong(0), r.getInt(1))).toSeq
      }
    val withTail = labels()
    spark.conf.set(graft.color.GreedyRddKernel.TailLocalSolveRowsKey, "0")
    val distributed = try labels()
    finally spark.conf.unset(graft.color.GreedyRddKernel.TailLocalSolveRowsKey)
    assert(withTail === distributed,
      "tail-local replay diverged from the distributed Jp rounds")
  }
}
