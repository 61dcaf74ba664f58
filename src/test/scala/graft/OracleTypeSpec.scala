package graft

import org.scalatest.funsuite.AnyFunSuite
import scala.sys.process._

/** Automated oracle OUTPUT-TYPE sweep (r5 verdict item 6, closing the r4
  * hash-sensitivity class for good): every `SparkEntry.oracleSql` query is
  * DESCRIBEd in DuckDB over the sf0.001 views and every output column must
  * be a type both engines render identically through the driver compare —
  * {BIGINT, INTEGER, DOUBLE, VARCHAR, DATE, TIMESTAMP, BOOLEAN}. A future
  * oracle emitting HUGEINT/DECIMAL (DuckDB's silent sum/avg widenings)
  * fails HERE, with `sbt test`, before the driver gate can trip on it.
  *
  * The sweep shells out to the driver-side python3+duckdb (the oracle
  * engine itself — the same binary the gate uses); the test cancels, not
  * passes, where that interpreter is unavailable.
  */
class OracleTypeSpec extends AnyFunSuite {

  test("every oracle emits only driver-compare-stable output types") {
    val probe = scala.util.Try("python3 -c \"import duckdb\"".!).getOrElse(1)
    assume(probe == 0, "python3+duckdb (the oracle engine) not available")
    val json = java.nio.file.Files.createTempFile("oracle_sql", ".json")
    java.nio.file.Files.writeString(json, Verify.oracleSqlJson)
    val out = new StringBuilder
    val code = Seq("python3", "tools/check_types.py",
      Corpus.dir("sf0.001"), json.toString)
      .!(ProcessLogger(l => out.append(l).append('\n')))
    assert(code == 0, s"type sweep reported violations:\n$out")
    assert(out.toString.contains(s"${SparkEntry.oracleSql.size} oracles swept"),
      s"sweep must cover every declared oracle:\n$out")
  }
}
