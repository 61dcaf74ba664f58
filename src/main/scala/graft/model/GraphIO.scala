package graft.model

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.ops.State

/** Reference node record: id / adjacency-by-id / color (-1 = uncolored).
  * Mirrors the reference's wire format (`node.py:8-13`), never its in-memory
  * object-reference adjacency (`node.py:4`) — see SURVEY.md §1.4.
  */
case class NodeRow(id: Long, neighbors: Array[Long], color: Int)

/** Format-parity IO for the reference's graph JSON files.
  *
  * Input graphs are single pretty-printed multiline JSON arrays of
  * `{"id": int, "neighbors": [int], "color": int}` (`graph.py:10-12`,
  * `indent=4`); coloring output is a JSON array of `{"id": int, "color": int}`
  * (`coloring.py:238-241`).
  */
object GraphIO {

  val graphSchema: StructType = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("neighbors", ArrayType(LongType, containsNull = false), nullable = false),
    StructField("color", IntegerType, nullable = false)))

  /** Read a reference-format graph file → nodes DF `(id, neighbors, color)`. */
  def readNodes(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(graphSchema).option("multiLine", value = true).json(path)

  /** Vertices view `(id, color)`. */
  def vertices(nodes: DataFrame): DataFrame = nodes.select(col("id"), col("color"))

  /** Symmetric edges view `(src, dst)` from the embedded adjacency.
    * The reference format already stores both directions (`graph.py:40-41`);
    * union with the flip + distinct makes the invariant hold even for
    * hand-written asymmetric inputs.
    */
  def edges(nodes: DataFrame): DataFrame = {
    val e = nodes.select(col("id").as("src"), explode(col("neighbors")).as("dst"))
    e.union(e.select(col("dst").as("src"), col("src").as("dst")))
      .filter(col("src") =!= col("dst"))
      .distinct()
  }

  /** Write nodes back in the reference's pretty-printed array-of-objects
    * format. Driver-side single-file write — format parity only, for graphs
    * that fit the reference's own use (its sink is a driver `json.dump`,
    * `coloring.py:240-241`). Past [[MaxCollectRowsKey]] rows it routes to
    * [[writeGraphDistributed]] automatically, like [[writeColoring]].
    */
  def writeGraph(nodes: DataFrame, path: String): Unit = {
    // Materialized for the routing decision: the row count and the write
    // read the same (possibly expensive) plan — e.g. the CLI's generate
    // mode — and without the memo the generator would run twice.
    val slim = State.memo(nodes.select(col("id"), col("neighbors"), col("color")))
    try {
      val n = slim.rows
      val ceiling = maxCollectRows(nodes)
      if (n > ceiling) {
        logLayoutRouting("writeGraph", path, n, ceiling)
        slim.df.write.mode("overwrite").json(path)
      } else {
        val rows = slim.df.orderBy(col("id")).collect()
        val body = rows.map { r =>
          val nbrs = r.getSeq[Long](1).mkString(", ")
          s"""    {\n        "id": ${r.getLong(0)},\n        "neighbors": [$nbrs],\n        "color": ${r.getInt(2)}\n    }"""
        }.mkString("[\n", ",\n", "\n]")
        java.nio.file.Files.writeString(java.nio.file.Paths.get(path), body)
      }
    } finally slim.release()
  }

  /** Scale path: distributed JSON-lines write of the full node records. */
  def writeGraphDistributed(nodes: DataFrame, path: String): Unit =
    nodes.select(col("id"), col("neighbors"), col("color"))
      .write.mode("overwrite").json(path)

  /** Row-count ceiling for the driver-collect single-file writers; above it
    * [[writeColoring]] routes to the distributed JSON-lines layout
    * automatically (r5 verdict item 7: the reference's one-file contract is
    * a driver `json.dump` — honoring it past driver memory would OOM, so
    * the contract is bounded, not absolute). Session-configurable so tests
    * can exercise the routing with tiny graphs. */
  val MaxCollectRowsKey = "graft.io.maxCollectRows"
  val DefaultMaxCollectRows: Long = 1000000L

  /** Past the ceiling, the single-file reference layout silently became a
    * directory of JSON-lines parts — announce the routing (r6 ADVICE) so a
    * consumer of the reference format learns which layout was written from
    * the log rather than the filesystem. */
  private def logLayoutRouting(
      op: String, path: String, rows: Long, ceiling: Long): Unit =
    System.err.println(
      s"[graft.io] $op: $rows rows exceeds the $ceiling-row single-file " +
        s"ceiling; writing DISTRIBUTED JSON-lines parts to directory $path")

  private def maxCollectRows(df: DataFrame): Long =
    df.sparkSession.conf
      .get(MaxCollectRowsKey, DefaultMaxCollectRows.toString).toLong

  /** Write a coloring `(id, color)` as the reference's output JSON array —
    * the reference's one-file driver-side contract (`coloring.py:240-241`)
    * for graphs within [[MaxCollectRowsKey]]; ABOVE the ceiling the write
    * routes to [[writeColoringDistributed]] instead of collecting V rows
    * onto the driver (the path then holds a directory of JSON-lines parts,
    * same records). The row count rides the memo's own checkpoint job. */
  def writeColoring(colors: DataFrame, path: String): Unit = {
    // Materialized for the same two-reads reason as [[writeGraph]] — the
    // kernel happens to hand over checkpointed colors today, but this
    // routine must not rely on its callers' caching.
    val slim = State.memo(colors.select(col("id"), col("color")))
    try {
      val n = slim.rows
      val ceiling = maxCollectRows(colors)
      if (n > ceiling) {
        logLayoutRouting("writeColoring", path, n, ceiling)
        slim.df.write.mode("overwrite").json(path)
      } else {
        val rows = slim.df.orderBy(col("id")).collect()
        val body = rows.map { r =>
          s"""    {\n        "id": ${r.getLong(0)},\n        "color": ${r.getInt(1)}\n    }"""
        }.mkString("[\n", ",\n", "\n]")
        java.nio.file.Files.writeString(java.nio.file.Paths.get(path), body)
      }
    } finally slim.release()
  }

  /** Scale path: distributed JSON-lines write of the same records. */
  def writeColoringDistributed(colors: DataFrame, path: String): Unit =
    colors.select(col("id"), col("color")).write.mode("overwrite").json(path)
}
