package graft

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.scalatest.funsuite.AnyFunSuite

import graft.color.{ColoringKernel, GraphXKernel}
import graft.color.ColoringKernel.Strategy
import graft.functions.GraftFunctions
import graft.ops.Sketches

/** One session builder, and the graft functions registered where queries
  * start: a session that never called `GraftFunctions.register` still runs
  * the corpus queries and the colouring kernel. */
class SessionSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.get

  private def has(s: org.apache.spark.sql.SparkSession, fn: String): Boolean =
    s.sessionState.functionRegistry.functionExists(FunctionIdentifier(fn))

  test("SparkSession.builder appears in src/main only in Session") {
    assert(SourceScan.callers("SparkSession.builder") === Set("Session.scala"))
  }

  test("GraftFunctions.register is called in src/main only where sessions and queries start") {
    assert(SourceScan.callers("GraftFunctions.register(") === Set("Session.scala", "Tables.scala"))
  }

  test("registration is idempotent") {
    val s = spark.newSession()
    GraftFunctions.register(s)
    GraftFunctions.register(s)
    val d = s.sql("SELECT graft_sqdist_long(array(1L, 5L), array(4L, 1L))").head().getLong(0)
    assert(d === 25L)
  }

  test("the README's Scale knobs table lists exactly the graft conf keys src/main reads") {
    import scala.jdk.CollectionConverters._
    val readme = java.nio.file.Files.readAllLines(java.nio.file.Paths.get("README.md")).asScala
    val row = "^\\| `(graft\\.[^`]+)` \\|".r
    val documented = readme.dropWhile(!_.startsWith("## Scale knobs")).drop(1)
      .takeWhile(!_.startsWith("## ")).flatMap(l => row.findFirstMatchIn(l).map(_.group(1))).toSet
    val read = SourceScan.literals("graft\\.[A-Za-z0-9_.]+")
    assert(read.nonEmpty)
    assert(documented === read,
      s"undocumented: ${read -- documented}; documented but unread: ${documented -- read}")
  }

  test("broadcast hints and greedy routing read no Catalyst size estimate") {
    assert(SourceScan.callers("optimizedPlan.stats") === Set.empty)
    val calls = SourceScan.argCounts("maybeBroadcast")
    assert(calls.nonEmpty)
    assert(calls.forall(_._2 == 2), s"maybeBroadcast calls without a row count: " +
      calls.filter(_._2 != 2))
  }

  test("GraphX is named in src/main only by GraphXKernel, which reads the crossover key in one function") {
    assert(SourceScan.callers("org.apache.spark.graphx") === Set("GraphXKernel.scala"))
    assert(SourceScan.callers("\"" + GraphXKernel.MaxEdgesKey + "\"") === Set("GraphXKernel.scala"))
    // The key's definition and its one read.
    assert(SourceScan.counts("MaxEdgesKey") === Map("GraphXKernel.scala" -> 2))
    assert(SourceScan.counts("conf.get(MaxEdgesKey") === Map("GraphXKernel.scala" -> 1))
    // ColoringKernel has no GraphX strategy and no base graph parameter.
    assert(scala.util.Try(Class.forName("graft.color.ColoringKernel$Strategy$GraphX$")).isFailure)
    assert(Class.forName("graft.color.ColoringKernel$Strategy$Jp$") != null)
    assert(SourceScan.callers("preparedBase") === Set.empty)
  }

  test("the Δ+1 colour trace has one execution, and the tail rule one conf read") {
    // GraphX holds no colouring code, and the colouring queries run the Jp
    // rounds without naming it.
    for (token <- Seq("deltaPlusOne", "jpLocalReplay"))
      assert(!SourceScan.callers(token).contains("GraphXKernel.scala"), token)
    assert(!SourceScan.callers("GraphXKernel").contains("ColorQueries.scala"))
    // The key's definition and its one read, in ColoringKernel.tailFits.
    assert(SourceScan.callers("\"graft.kernel.tailLocalSolveRows\"") === Set("ColoringKernel.scala"))
    assert(SourceScan.counts("TailLocalSolveRowsKey") === Map("ColoringKernel.scala" -> 2))
    assert(SourceScan.counts("conf.get(TailLocalSolveRowsKey") === Map("ColoringKernel.scala" -> 1))
  }

  test("every colouring run is one Δ+1 run: no palette attempt, no -3 sentinel") {
    val color = "src/main/scala/graft/color"
    assert(SourceScan.callers("-3", color) === Set.empty)
    for (token <- Seq("tryColor", "resolveStrategy", "maxAttempts"))
      assert(SourceScan.callers(token, color) === Set.empty, token)
    // The greedy bucket bound is read only by the kernel it bounds.
    assert(SourceScan.callers("\"graft.greedy.maxBucketRows\"") === Set("GreedyRddKernel.scala"))
    assert(SourceScan.callers("MaxBucketRowsKey") === Set("GreedyRddKernel.scala"))
  }

  test("Jp has one round body: no regather, collect_set or graft_first_fit") {
    val color = "src/main/scala/graft/color"
    for (token <- Seq("graft_first_fit", "collect_set", "jpRound(", "useMask"))
      assert(SourceScan.callers(token, color) === Set.empty, token)
    assert(SourceScan.callers("FirstFitColor") === Set.empty)
  }

  test("a fresh session runs q_kmv_distinct (graft_kmv_kmin) with no register call") {
    val s2 = spark.newSession()
    assert(!has(s2, "graft_kmv_kmin"))
    val got = Sketches.qKmvDistinct(s2, Corpus.dir("sf0.001")).collect()
    assert(got.nonEmpty)
    assert(got === Sketches.qKmvDistinct(spark, Corpus.dir("sf0.001")).collect())
  }

  test("a fresh session runs a Jp search with a palette past 64 and registers no graft function") {
    import org.apache.spark.sql.functions.{col, lit}
    val s2 = spark.newSession()
    def graftFunctions = s2.sessionState.functionRegistry.listFunction()
      .map(_.funcName).filter(_.startsWith("graft_"))
    assert(graftFunctions.isEmpty)
    // A 70-leaf star: a Δ + 1 = 71 palette, past one 64-bit mask word.
    val leaves = s2.range(1, 71).select(lit(0L).as("a"), col("id").as("b"))
    val edges = leaves.select(col("a").as("src"), col("b").as("dst"))
      .union(leaves.select(col("b").as("src"), col("a").as("dst")))
    val best = ColoringKernel.minimalColors(s2, edges, Strategy.Jp)
    try {
      assert(best.k === 2)
      assert(ColoringKernel.validate(edges, best.colors) === ((0L, 0L)))
    } finally best.release()
    assert(graftFunctions.isEmpty)
  }
}
