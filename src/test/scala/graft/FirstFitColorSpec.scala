package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.GraftFunctions

/** The custom Catalyst expression `graft_first_fit` (eval + codegen paths)
  * agrees with the composed built-in formulation and the reference rule. */
class FirstFitColorSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.get

  test("scalar semantics via SQL (codegen path)") {
    val rows = spark.sql(
      """SELECT graft_first_fit(array(0, 1, 3), 5) AS a,
        |       graft_first_fit(CAST(array() AS ARRAY<INT>), 3) AS b,
        |       graft_first_fit(CAST(NULL AS ARRAY<INT>), 3) AS c,
        |       graft_first_fit(array(0, 1, 2), 3) AS d,
        |       graft_first_fit(array(7, -1, 0), 3) AS e""".stripMargin)
      .head()
    assert(rows.getInt(0) === 2) // smallest free
    assert(rows.getInt(1) === 0) // empty used
    assert(rows.getInt(2) === 0) // null used = no colored neighbors
    assert(rows.getInt(3) === -3) // palette exhausted
    assert(rows.getInt(4) === 1) // out-of-range used values ignored
  }

  test("agrees with the composed built-in expression on corpus data") {
    import spark.implicits._
    val k = 8
    val used = graft.ops.GraphOps.neighborColors(spark, Corpus.dir("sf0.001"))
    val both = used.select(
      col("src"),
      call_function("graft_first_fit", col("neighbor_colors"), lit(k)).as("custom"),
      coalesce(
        array_min(array_except(sequence(lit(0), lit(k - 1)), col("neighbor_colors"))),
        lit(-3)).as("composed"))
    assert(both.filter($"custom" =!= $"composed").isEmpty)
  }

  test("registration is idempotent") {
    val s = spark.newSession()
    GraftFunctions.register(s)
    GraftFunctions.register(s)
    assert(s.sql("SELECT graft_first_fit(array(1), 2)").head().getInt(0) === 0)
  }
}
