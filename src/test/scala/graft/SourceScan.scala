package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

/** Source checks for the specs that pin where a call may appear. */
object SourceScan {

  /** The files under `root` whose code (comments skipped) contains `token`. */
  def callers(token: String, root: String = "src/main"): Set[String] =
    counts(token, root).keySet

  /** Per file under `root`, the number of code lines (comments skipped)
    * that contain `token`; files with none are left out. */
  def counts(token: String, root: String = "src/main"): Map[String, Int] = {
    val files = Files.walk(Paths.get(root)).iterator.asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(files.nonEmpty)
    files.map { f =>
      f.getFileName.toString -> Files.readAllLines(f).asScala.count { l =>
        val code = l.trim
        !code.startsWith("*") && !code.startsWith("/*") &&
          code.split("//", 2)(0).contains(token)
      }
    }.filter(_._2 > 0).toMap
  }
}
