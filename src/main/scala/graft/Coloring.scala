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
  *   --strategy jp|greedy    kernel strategy (default jp); greedy is one
  *                           GreedyRdd Δ+1 run, k the colors it used, and
  *                           Jp past the 64-bit mask or the bucket bound
  *                           (`graft.greedy.maxBucketRows`)
  *
  * An unknown flag, a flag without a value or a bare token throws
  * `IllegalArgumentException` before any work.
  */
object Coloring {

  /** Run summary: minimal k plus the validation invariants (CliSpec asserts
    * on these; main prints them). */
  final case class Summary(k: Int, uncolored: Long, conflicts: Long)

  private val Flags =
    Set("input", "node-count", "max-degree", "seed", "output-graph", "output-coloring", "strategy")

  /** `opts`, once every key is a known flag. */
  private def known(opts: Map[String, String]): Map[String, String] = {
    (opts.keySet -- Flags).headOption.foreach(k =>
      throw new IllegalArgumentException(s"unknown flag --$k"))
    opts
  }

  private[graft] def parse(args: Array[String]): Map[String, String] = {
    @annotation.tailrec
    def pairs(rest: List[String], acc: Map[String, String]): Map[String, String] =
      rest match {
        case Nil => acc
        case flag :: _ if !flag.startsWith("--") =>
          throw new IllegalArgumentException(s"unexpected argument $flag")
        case flag :: value :: tail if !value.startsWith("--") =>
          pairs(tail, acc + (flag.drop(2) -> value))
        case flag :: _ => throw new IllegalArgumentException(s"$flag expects a value")
      }
    known(pairs(args.toList, Map.empty))
  }

  /** The CLI body on a caller-owned session — `main` wraps it with session
    * lifecycle so the test suite can drive the full flag surface on the
    * shared session without `spark.stop()` tearing it down. */
  private[graft] def run(spark: SparkSession, opts: Map[String, String]): Summary = {
    val strategy = known(opts).get("strategy") match {
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
    val opts = parse(args)
    val spark = Session.local()
    try {
      val t0 = System.nanoTime()
      val s = run(spark, opts)
      println(s"Minimal colors found: ${s.k} (uncolored=${s.uncolored} conflicts=${s.conflicts})")
      println(f"Total execution time: ${(System.nanoTime() - t0) / 1e9}%.2f sec")
    } finally spark.stop()
  }
}
