package graft

import java.nio.file.Paths

/** The test corpora, all inside the checkout: sf0.001 is the benchmark's
  * fixed corpus, read in place, and sf0.01 a test resource. */
object Corpus {
  private val roots = Map("sf0.001" -> "perfbench/corpus", "sf0.01" -> "src/test/resources")

  /** Absolute path of the `scale` corpus directory (`sf0.001` or `sf0.01`). */
  def dir(scale: String): String = Paths.get(roots(scale), scale).toAbsolutePath.toString
}
