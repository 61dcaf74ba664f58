package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, sum, when}
import org.scalatest.funsuite.AnyFunSuite

import graft.color.{ColoringKernel, GraphXKernel, GreedyRddKernel}
import graft.color.ColoringKernel.Strategy
import graft.model.RandomGraph
import graft.ops.State

/** Pins the iteration-state materializer: observed counts, the
  * count-adaptive layout, the two statistics policies, and storage that is
  * freed on purpose. */
class StateSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.get

  private def persisted: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  private def frame(rows: Long, parts: Int): DataFrame =
    spark.range(0, rows, 1, parts).toDF("id")

  test("rows and caller metrics ride the checkpoint and match count()") {
    val df = frame(1000, 4).withColumn("odd", col("id") % 2)
    val st = State.loop(df, sum(when(col("odd") === 1, 1L).otherwise(0L)).as("n_odd"))
    try {
      assert(st.rows === df.count())
      assert(st.rows === st.df.count())
      assert(st("n_odd") === 500L)
    } finally st.release()
    // A sum over no rows reads 0.
    val empty = State.loop(frame(0, 2), sum(col("id")).as("s"))
    try assert(empty.rows === 0L && empty("s") === 0L)
    finally empty.release()
  }

  test("partition count is min(parent, max(1, ceil(rows / 65536))), never widened") {
    val per = State.RowsPerPartition
    for ((rows, parts) <- Seq((10L, 3), (3 * per + 1, 8), (5 * per, 2), (2 * per, 2))) {
      val expected = math.min(parts.toLong, math.max(1L, (rows + per - 1) / per)).toInt
      for (st <- Seq(State.loop(frame(rows, parts)), State.memo(frame(rows, parts)))) {
        try {
          assert(st.df.rdd.getNumPartitions === expected, s"rows=$rows parent=$parts")
          assert(st.df.rdd.getNumPartitions <= parts)
          assert(st.df.count() === rows)
        } finally st.release()
      }
    }
  }

  test("loop state resets statistics; a memo keeps the source estimate") {
    def size(df: DataFrame): BigInt = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val src = frame(1000, 4)
    val loop = State.loop(src)
    val memo = State.memo(src)
    try {
      assert(size(loop.df) === BigInt(spark.sessionState.conf.defaultSizeInBytes))
      assert(size(memo.df) === size(src))
      assert(size(memo.df) < BigInt(spark.sessionState.conf.defaultSizeInBytes))
    } finally { loop.release(); memo.release() }
  }

  test("release() unpersists the checkpointed RDD") {
    val before = persisted
    val st = State.loop(frame(100, 2))
    val added = persisted -- before
    assert(added.size === 1, s"expected one checkpointed RDD, got $added")
    st.release()
    assert((persisted & added).isEmpty, "released checkpoint still persisted")
  }

  for (graphx <- Seq(true, false)) {
    test(s"ccClusters leaves only its returned checkpoint persisted (graphx=$graphx)") {
      import spark.implicits._
      val edges = Seq((1L, 2L), (2L, 3L), (5L, 6L), (7L, 8L), (8L, 9L), (1L, 9L))
        .toDF("doc_a", "doc_b")
      val before = persisted
      // 0 routes every pair graph to the DataFrame label rounds.
      if (!graphx) spark.conf.set(GraphXKernel.MaxEdgesKey, "0")
      val cc = try graft.llm.Dedup.ccClusters(spark, edges)
      finally spark.conf.unset(GraphXKernel.MaxEdgesKey)
      val left = persisted -- before
      assert(left.size <= 1, s"ccClusters left persisted RDDs: $left")
      assert(cc.collect().map(r => (r.getLong(0), r.getLong(1))).toSet ===
        Set((1L, 1L), (2L, 1L), (3L, 1L), (7L, 1L), (8L, 1L), (9L, 1L), (5L, 5L), (6L, 5L)))
    }
  }

  test("iterate releases a round's frames, then the previous state, only after the next state lands") {
    import org.apache.spark.sql.functions.udf
    val base = persisted
    // Evaluated inside each landing job, on this JVM (local mode): the
    // RDDs still persisted while the next state lands.
    val probe = udf { (id: Long) =>
      StateSpec.atLanding.add(
        org.apache.spark.SparkContext.getOrCreate().getPersistentRDDs.keySet.toSet)
      id
    }
    var read = Set.empty[Int]
    val (last, rounds) = State.iterate(State.loop(frame(8, 1)), 3)({ (_, r) =>
      val live = persisted -- base
      assert(live.size === 1, s"after round $r only the new state may be live: $live")
      assert((live & read).isEmpty)
      assert(r == 0 || !StateSpec.atLanding.isEmpty, "the probe ran in no landing")
      assert(StateSpec.atLanding.asScala.forall(read.subsetOf(_)),
        s"round $r released what its landing read")
      StateSpec.atLanding.clear()
      false
    }) { (st, _, round) =>
      val stIds = persisted -- base
      val extra = round.land(st.df.select(col("id")))
      read = stIds ++ (persisted -- base -- stIds)
      assert(read.size === 2)
      st.df.join(extra.df, "id").select(probe(col("id")).as("id"))
    }
    try {
      assert(rounds === 3)
      assert(last.df.count() === 8L)
      assert((persisted -- base).size === 1)
    } finally last.release()
    assert((persisted -- base).isEmpty)
  }

  test("iterate tests done before round 1 and stops at the cap") {
    val init = State.loop(frame(10, 1))
    var steps = 0
    val (same, none) = State.iterate(init, 5)((_, _) => true) { (st, _, _) =>
      steps += 1
      st.df
    }
    assert(none === 0 && steps === 0 && (same eq init))
    var tested = Vector.empty[Int]
    val (last, rounds) = State.iterate(same, 2)({ (_, r) => tested :+= r; false }) {
      (st, _, _) => steps += 1; st.df
    }
    try assert(rounds === 2 && steps === 2 && tested === Vector(0, 1, 2))
    finally last.release()
  }

  test("a step that throws in round 2 leaves nothing persisted") {
    val before = persisted
    val err = intercept[IllegalStateException] {
      State.iterate(State.loop(frame(10, 1)), 5)((_, _) => false) { (st, r, round) =>
        round.land(st.df)
        if (r == 1) throw new IllegalStateException("boom")
        st.df
      }
    }
    assert(err.getMessage === "boom")
    assert((persisted -- before).isEmpty, s"left persisted: ${persisted -- before}")
  }

  test("a landing that throws in round 2 leaves the states iterate held released") {
    import org.apache.spark.sql.functions.udf
    val boom = udf { (id: Long) =>
      if (id >= 0) throw new IllegalStateException("boom")
      id
    }
    val before = persisted
    var held = Set.empty[Int]
    intercept[Exception] {
      State.iterate(State.loop(frame(10, 1)), 5)((_, _) => false) { (st, r, round) =>
        round.land(st.df)
        held ++= persisted -- before
        if (r == 1) st.df.select(boom(col("id")).as("id")) else st.df
      }
    }
    assert(held.size === 4, s"two states and two round frames: $held")
    // The failed landing's own checkpoint is freed too.
    assert((persisted -- before).isEmpty, s"left persisted: ${persisted -- before}")
  }

  test("State.loop is called only by the one-shot lands and the named loops") {
    // GraphOps: the triangle support memo, the initial states of the
    // k-core, label-prop, CC and rank loops, and the loops that keep their
    // own states (truss 4, BFS 2, random walk 2, HITS 4). ColoringKernel:
    // the greedy kernel's final land and Jp's round 0.
    assert(SourceScan.counts("State.loop(") ===
      Map("GraphOps.scala" -> 17, "ColoringKernel.scala" -> 2))
  }

  test("localCheckpoint is called in src/main only by State and its two named exceptions") {
    // Sketches: a lazy memo (no construction-time job); GreedyRddKernel:
    // RDD round state.
    assert(SourceScan.callers("localCheckpoint(") === Set("State.scala", "Sketches.scala", "GreedyRddKernel.scala"))
  }

  test("persist and cache are called in src/main only by the named RDD and graph sites") {
    // Similarity's one persisted frame; the GraphX and GreedyRdd kernels'
    // graphs and RDD rounds.
    val expected = Set("Similarity.scala", "GraphXKernel.scala", "GreedyRddKernel.scala")
    assert(SourceScan.callers(".persist(") ++ SourceScan.callers(".cache()") === expected)
  }

  /** Runs `color` on a 300-vertex graph with the tail-local row bound at
    * `tailRows` and checks that only the returned colors' own checkpoint is
    * left persisted until they are released; returns the rounds run. */
  private def freesEveryRound(tailRows: String)(
      color: DataFrame => ColoringKernel.Colored): Int = {
    val edges = RandomGraph.edges(spark, 300, 6, 5L)
    val before = persisted
    spark.conf.set(ColoringKernel.TailLocalSolveRowsKey, tailRows)
    val r = try color(edges)
    finally spark.conf.unset(ColoringKernel.TailLocalSolveRowsKey)
    assert(r.rounds > 1)
    val left = persisted -- before
    assert(left.size <= 1, s"rounds left persisted RDDs: $left")
    assert(ColoringKernel.validate(edges, r.colors) === ((0L, 0L)))
    r.release()
    assert((persisted -- before).isEmpty)
    r.rounds
  }

  for (strat <- Seq(Strategy.Jp, Strategy.GreedyRdd)) {
    test(s"a $strat minimalColors run frees every round's storage") {
      // The kernels would finish a graph this small in one tail-local
      // round; switch that off so every round is a scheduled one.
      freesEveryRound("0")(ColoringKernel.minimalColors(spark, _, strat))
    }
  }

  test("a Jp minimalColors run with the tail-local round frees every round's storage") {
    // A bound under the vertex count: mask rounds first, then the tail,
    // which ends the run in fewer rounds than the scheduled rounds take.
    val jp = ColoringKernel.minimalColors(spark, _: DataFrame, Strategy.Jp)
    assert(freesEveryRound("150")(jp) < freesEveryRound("0")(jp))
  }

  test("a GreedyRdd run whose edge job throws leaves nothing persisted") {
    import org.apache.spark.sql.functions.udf
    val boom = udf { (id: Long) =>
      if (id >= 0) throw new IllegalStateException("boom")
      id
    }
    val edges = RandomGraph.edges(spark, 300, 6, 5L)
    val n = edges.count()
    val before = persisted
    // The first job over the edges is the kernel's own, after it has
    // persisted its adjacency and round-0 state.
    intercept[Exception] {
      GreedyRddKernel.colorDeltaPlusOne(spark,
        edges.select(boom(col("src")).as("src"), col("dst")), knownEdges = n)(_.count())
    }
    assert((persisted -- before).isEmpty, s"left persisted: ${persisted -- before}")
  }

  test("q_connected_components and q_pagerank leave only their returned checkpoint persisted") {
    val s2 = spark.newSession()
    val sf = Corpus.dir("sf0.001")
    // The session's kernel edges and GraphX base, which both queries read.
    val base = persisted
    GraphXKernel.kernelBase(s2, sf)
    val session = persisted -- base
    assert(session.nonEmpty)
    val before = persisted
    graft.ops.GraphOps.qConnectedComponents(s2, sf).collect()
    assert(persisted -- before === Set.empty, "connected components left storage")
    assert(graft.ops.GraphOps.qPagerank(s2, sf).count() === 10L)
    val left = persisted -- before
    assert(left.size <= 1, s"pagerank left persisted RDDs: $left")
    // An outer-joined graph can share an EdgeRDD with the graph it was
    // built from: freeing the query's graphs must keep the session's base.
    assert(session.subsetOf(persisted), s"freed session storage: ${session -- persisted}")
  }

  test("a Jp run leaves a caller's checkpointed edges persisted and frees only its own storage") {
    val base = persisted
    val edges = RandomGraph.edges(spark, 300, 6, 5L).localCheckpoint()
    val caller = persisted -- base
    assert(caller.size === 1)
    // A tail bound under the vertex count: mask rounds and the tail round
    // both read the caller's edges.
    spark.conf.set(ColoringKernel.TailLocalSolveRowsKey, "150")
    try {
      val r = ColoringKernel.minimalColors(spark, edges, Strategy.Jp)
      assert(r.rounds > 1)
      // Only the returned colors' own checkpoint may remain.
      assert((persisted -- base -- caller).size <= 1)
      r.release()
      assert(persisted -- base === caller, "the caller's checkpoint must stay persisted")
    } finally {
      spark.conf.unset(ColoringKernel.TailLocalSolveRowsKey)
      caller.foreach(id => spark.sparkContext.getPersistentRDDs(id).unpersist())
    }
  }
}

object StateSpec {
  /** What [[StateSpec]]'s landing probe saw persisted, one set per row. */
  val atLanding = new java.util.concurrent.ConcurrentLinkedQueue[Set[Int]]()
}
