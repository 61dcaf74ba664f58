package graft.tools

import graft.color.ColoringKernel
import graft.color.ColoringKernel.Strategy
import graft.model.RandomGraph
import graft.ops.State

/** Replays the reference's published timing grid (modifikacije.pdf p.2:
  * (nodes, maxDegree) → total minimal-color-search seconds) against this
  * engine, one shared session (the reference's timings likewise exclude
  * interpreter startup — they time the search, coloring.py:233-234).
  * Prints one line per config for BASELINE comparison. */
object BaselineGrid {
  def main(args: Array[String]): Unit = {
    val spark = graft.Session.local()
    val grid = Seq((10, 3), (10, 5), (20, 3), (20, 5), (50, 3), (50, 5),
      (100, 5), (100, 10), (200, 5), (200, 10))
    grid.foreach { case (n, d) =>
      val t0 = System.nanoTime()
      val edges = State.memo(RandomGraph.edges(spark, n.toLong, d, seed = 42))
      val best = ColoringKernel.minimalColors(spark, edges.df, Strategy.Jp)
      val (unc, conf) = ColoringKernel.validate(edges.df, best.colors)
      best.release()
      edges.release()
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"[grid] nodes=$n%3d maxDeg=$d%2d k=${best.k}%2d " +
        f"uncolored=$unc conflicts=$conf t=$sec%6.2f s")
    }
    spark.stop()
  }
}
