package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

/** The suites read only the checkout. */
class CorpusSpec extends AnyFunSuite {

  test("every test corpus is inside the checkout") {
    for (scale <- Seq("sf0.001", "sf0.01")) {
      val dir = Paths.get(Corpus.dir(scale))
      assert(dir.startsWith(Paths.get("").toAbsolutePath), s"$dir")
      assert(Files.exists(dir.resolve("lineitem.parquet")), s"$dir has no lineitem")
    }
  }

  test("no test literal points into the root user's home directory") {
    assert(SourceScan.callers("/" + "root/", "src/test") === Set.empty)
  }
}
