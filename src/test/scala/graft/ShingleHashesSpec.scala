package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.llm.TextStats

/** The custom `graft_shingle_hashes` expression (eval + codegen paths)
  * agrees with the composed built-in formulation it replaces:
  * sorted distinct xxhash64 of the space-joined word n-grams. */
class ShingleHashesSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.get

  test("scalar semantics via SQL (codegen path)") {
    val r = spark.sql(
      """SELECT graft_shingle_hashes(array('a','b','c','a','b'), 3) AS h3,
        |       graft_shingle_hashes(array('a','b'), 3) AS short,
        |       graft_shingle_hashes(CAST(array() AS ARRAY<STRING>), 2) AS empty,
        |       array_sort(array_distinct(transform(
        |         array('a b c', 'b c a', 'c a b'), s -> xxhash64(s)))) AS expected3
        |""".stripMargin).head()
    assert(r.getSeq[Long](0) === r.getSeq[Long](3)) // same hashes as builtin
    assert(r.getSeq[Long](1).isEmpty) // fewer than n tokens
    assert(r.getSeq[Long](2).isEmpty)
  }

  test("agrees with the composed HOF formulation on corpus documents") {
    val docs = graft.tables.Tables.documents(spark, Corpus.dir("sf0.001"))
    val toks = TextStats.tokens(col("text"))
    val composed = array_sort(array_distinct(
      transform(TextStats.shingles(toks, 3), s => xxhash64(s))))
    val both = docs.select(
      call_function("graft_shingle_hashes", toks, lit(3)).as("custom"),
      composed.as("expected"))
    assert(both.filter(col("custom") =!= col("expected")).isEmpty,
      "custom expression must equal sorted-distinct xxhash64 over string shingles")
  }

  test("graft_simhash agrees with the composed HOF simhash on corpus documents") {
    val docs = graft.tables.Tables.documents(spark, Corpus.dir("sf0.001"))
    val toks = TextStats.tokens(col("text"))
    val both = docs.select(
      call_function("graft_simhash", toks).as("custom"),
      graft.llm.Dedup.simhash(toks).as("expected"))
    assert(both.filter(col("custom") =!= col("expected")).isEmpty,
      "custom simhash must equal the composed aggregate-HOF formulation")
  }

  test("md5LowerLE column expr matches the JVM little-endian lower-64 value") {
    val r = spark.range(1).select(
      graft.llm.Dedup.md5LowerLE(lit("abc")).as("h")).head().getLong(0)
    assert(r === graft.functions.SimHash64.md5LowerLE("abc".getBytes("UTF-8")))
    // DuckDB md5_number_lower('abc') = 8250560606382298838 (verified against
    // duckdb 1.0.0) — the oracle-side anchor value.
    assert(r === 8250560606382298838L)
  }

  test("graft_minhash_sig matches the per-shingle md5 double-hash family") {
    // Direct Scala reference: shingles of ("x","y","z","x") with n=2 are
    // "x y", "y z", "z x"; h1/h2 = 28-bit hex substrings of md5.
    def h12(s: String): (Long, Long) = {
      val d = java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      val hex = d.map(b => f"${b & 0xFF}%02x").mkString
      (java.lang.Long.parseLong(hex.substring(0, 7), 16),
        java.lang.Long.parseLong(hex.substring(7, 14), 16))
    }
    val shingles = Seq("x y", "y z", "z x").map(h12)
    val expected = (0 until 8).map { j =>
      shingles.map { case (h1, h2) => (h1 + j * h2) % (1L << 28) }.min
    }
    val got = spark.sql(
      "SELECT graft_minhash_sig(array('x','y','z','x'), 2, 8) AS sig")
      .head().getSeq[Long](0)
    assert(got === expected)
    assert(spark.sql("SELECT graft_minhash_sig(array('a'), 2, 4) AS sig")
      .head().getSeq[Long](0).isEmpty)
  }

  test("graft_sorted_intersect equals array_intersect on sorted arrays") {
    val df = spark.sql(
      """SELECT graft_sorted_intersect(array(1L,3L,5L,7L), array(3L,4L,5L,9L)) AS a,
        |       graft_sorted_intersect(array(1L,2L), CAST(array() AS ARRAY<LONG>)) AS b,
        |       graft_sorted_intersect(array(1L,2L,3L), array(1L,2L,3L)) AS c""".stripMargin)
      .head()
    assert(df.getSeq[Long](0) === Seq(3L, 5L) && df.getSeq[Long](1).isEmpty &&
      df.getSeq[Long](2) === Seq(1L, 2L, 3L))
  }
}
