package graft

import org.apache.spark.sql.SparkSession

import graft.color.ColoringKernel
import graft.color.ColoringKernel.Strategy
import graft.model.{GraphIO, RandomGraph}
import graft.ops.State

/** CLI entry point — the reference's surface (O26, `coloring.py:165-187`;
  * README.md:60-66): load a JSON graph or generate a random one, run the
  * minimal-color search, optionally write the generated graph and the
  * coloring in the reference's JSON formats.
  *
  * Flags (same names as the reference):
  *   --input PATH            reference-format JSON graph
  *   --node-count N          generate: number of nodes
  *   --max-degree D          generate: max degree (default 5)
  *   --seed S                generate: RNG seed (default 42)
  *   --output-graph PATH     write the (generated) graph as JSON
  *   --output-coloring PATH  write the coloring as JSON
  *   --strategy jp|greedy    kernel strategy (default jp); greedy runs
  *                           the GreedyRdd rounds while the palette fits
  *                           the 64-bit mask and the bucket bound
  *                           (`graft.greedy.maxBucketRows`), Jp otherwise
  */
object Coloring {

  /** Run summary: minimal k plus the validation invariants (CliSpec asserts
    * on these; main prints them). */
  final case class Summary(k: Int, uncolored: Long, conflicts: Long)

  private[graft] def parse(args: Array[String]): Map[String, String] =
    args.sliding(2, 2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap

  /** The CLI body on a caller-owned session — `main` wraps it with session
    * lifecycle so the test suite can drive the full flag surface on the
    * shared session without `spark.stop()` tearing it down. */
  private[graft] def run(spark: SparkSession, opts: Map[String, String]): Summary = {
    val strategy = opts.get("strategy") match {
      case None | Some("jp") => Strategy.Jp
      case Some("greedy") => Strategy.GreedyRdd
      case Some(other) =>
        throw new IllegalArgumentException(s"--strategy is jp or greedy, not $other")
    }
    val (edges, vertices, nodesOpt) = opts.get("input") match {
      case Some(path) =>
        val nodes = GraphIO.readNodes(spark, path)
        (GraphIO.edges(nodes), GraphIO.vertices(nodes).select("id"), Some(nodes))
      case None =>
        val n = opts.getOrElse("node-count", "100").toLong
        val maxDeg = opts.getOrElse("max-degree", "5").toInt
        val seed = opts.getOrElse("seed", "42").toLong
        val nodes = RandomGraph.nodes(spark, n, maxDeg, seed)
        (RandomGraph.edges(spark, n, maxDeg, seed), nodes.select("id"), Some(nodes))
    }
    nodesOpt.zip(opts.get("output-graph")).foreach { case (nodes, p) =>
      GraphIO.writeGraph(nodes, p)
    }

    // One edge memo serves the search and the validation, so neither
    // re-runs the generator or the JSON read.
    val e = State.memo(edges)
    try {
      val best = ColoringKernel.minimalColors(spark, e.df, strategy, Some(vertices))
      try {
        val (uncolored, conflicts) = ColoringKernel.validate(e.df, best.colors)
        opts.get("output-coloring").foreach(GraphIO.writeColoring(best.colors, _))
        Summary(best.k, uncolored, conflicts)
      } finally best.release()
    } finally e.release()
  }

  def main(args: Array[String]): Unit = {
    val spark = Session.local()
    try {
      val t0 = System.nanoTime()
      val s = run(spark, parse(args))
      println(s"Minimal colors found: ${s.k} (uncolored=${s.uncolored} conflicts=${s.conflicts})")
      println(f"Total execution time: ${(System.nanoTime() - t0) / 1e9}%.2f sec")
    } finally spark.stop()
  }
}
