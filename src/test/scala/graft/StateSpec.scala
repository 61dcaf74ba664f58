package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, sum, when}
import org.scalatest.funsuite.AnyFunSuite

import graft.color.ColoringKernel
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

  test("a Jp minimalColors run frees every round's storage") {
    val edges = RandomGraph.edges(spark, 300, 6, 5L)
    val before = persisted
    val r = ColoringKernel.minimalColors(spark, edges, Strategy.Jp)
    assert(r.rounds > 1)
    // Only the returned colors' own checkpoint may remain.
    val left = persisted -- before
    assert(left.size <= 1, s"rounds left persisted RDDs: $left")
    assert(ColoringKernel.validate(edges, r.colors) === ((0L, 0L)))
    r.release()
    assert((persisted -- before).isEmpty)
  }
}
