package graft

import org.apache.spark.sql.functions.{col, max, size}
import org.scalatest.funsuite.AnyFunSuite

import graft.model.GraphIO

/** Drives the CLI surface (O26 — same flag names as the reference's
  * coloring.py) end to end through [[Coloring.run]]: flag parsing, both
  * input modes (reference-format JSON and seeded generation), both JSON
  * sinks, strategy selection, and the printed invariants.
  */
class CliSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.get

  test("flag parsing matches the reference's --key value convention") {
    val opts = Coloring.parse(Array(
      "--input", "g.json", "--output-coloring", "c.json", "--strategy", "greedy"))
    assert(opts === Map(
      "input" -> "g.json", "output-coloring" -> "c.json", "strategy" -> "greedy"))
  }

  test("reference fixture in, coloring JSON out (the reference's main flow)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_cli")
    val out = dir.resolve("colors.json").toString
    val s = Coloring.run(spark, Map(
      "input" -> getClass.getResource("/graph.json").getPath,
      "output-coloring" -> out))
    assert(s.uncolored === 0 && s.conflicts === 0)
    assert(s.k <= 4) // the 10-node fixture colors in <= 4 (SURVEY.md §5)
    // The sink is the reference's array-of-objects format: read it back as
    // multiline JSON and check one (id, color) row per input node.
    val coloring = spark.read.option("multiLine", value = true).json(out)
    assert(coloring.count() === 10)
    assert(coloring.columns.sorted.toSeq === Seq("color", "id"))
  }

  test("past the collect ceiling the coloring sink routes to the distributed layout") {
    val dir = java.nio.file.Files.createTempDirectory("graft_cli_big")
    val g = dir.resolve("graph.json").toString
    val c = dir.resolve("colors.json").toString
    // A 50-node generated graph with the ceiling injected at 10 rows: both
    // sinks must come out as DIRECTORIES of JSON-lines parts (the scale
    // layout), not driver-collected single files.
    spark.conf.set(GraphIO.MaxCollectRowsKey, "10")
    try {
      val s = Coloring.run(spark, Map(
        "node-count" -> "50", "max-degree" -> "4", "seed" -> "11",
        "output-graph" -> g, "output-coloring" -> c))
      assert(s.uncolored === 0 && s.conflicts === 0)
      assert(java.nio.file.Files.isDirectory(java.nio.file.Paths.get(c)),
        "coloring sink past the ceiling must be the distributed directory layout")
      assert(java.nio.file.Files.isDirectory(java.nio.file.Paths.get(g)),
        "graph sink past the ceiling must be the distributed directory layout")
      // Same records: JSON-lines parts read back to one (id, color) row per
      // node, every color assigned.
      val coloring = spark.read.json(c)
      assert(coloring.count() === 50)
      assert(coloring.columns.sorted.toSeq === Seq("color", "id"))
      val nodes = spark.read.json(g)
      assert(nodes.count() === 50)
    } finally spark.conf.unset(GraphIO.MaxCollectRowsKey)
  }

  test("--strategy greedy colors the reference fixture end to end") {
    val path = getClass.getResource("/graph.json").getPath
    val maxDeg = GraphIO.readNodes(spark, path)
      .agg(max(size(col("neighbors")))).head().getInt(0)
    val s = Coloring.run(spark, Map("input" -> path, "strategy" -> "greedy"))
    assert(s.uncolored === 0 && s.conflicts === 0)
    assert(s.k <= maxDeg + 1)
  }

  test("a run with both sinks leaves no new persisted RDD") {
    val dir = java.nio.file.Files.createTempDirectory("graft_cli_free")
    def persisted = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val before = persisted
    val s = Coloring.run(spark, Map(
      "node-count" -> "40", "max-degree" -> "4", "seed" -> "5",
      "output-graph" -> dir.resolve("graph.json").toString,
      "output-coloring" -> dir.resolve("colors.json").toString))
    assert(s.uncolored === 0 && s.conflicts === 0)
    assert((persisted -- before).isEmpty, s"left persisted: ${persisted -- before}")
  }

  test("generate mode writes a graph readable by the reference format reader") {
    val dir = java.nio.file.Files.createTempDirectory("graft_cli_gen")
    val g = dir.resolve("graph.json").toString
    val c = dir.resolve("colors.json").toString
    val s = Coloring.run(spark, Map(
      "node-count" -> "30", "max-degree" -> "4", "seed" -> "7",
      "output-graph" -> g, "output-coloring" -> c, "strategy" -> "graphx"))
    assert(s.uncolored === 0 && s.conflicts === 0)
    assert(s.k >= 1 && s.k <= 5) // first-fit never exceeds maxDeg+1
    // Round-trip: the written graph re-reads through GraphIO and re-colors
    // to the same k (generation and IO are deterministic under the seed).
    val nodes = GraphIO.readNodes(spark, g)
    assert(nodes.count() === 30)
    val s2 = Coloring.run(spark, Map("input" -> g))
    assert(s2.k === s.k && s2.uncolored === 0 && s2.conflicts === 0)
  }
}
