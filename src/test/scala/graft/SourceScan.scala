package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

/** Source checks for the specs that pin where a call may appear. */
object SourceScan {

  /** The src/main files whose code (comments skipped) contains `token`. */
  def callers(token: String): Set[String] = {
    val files = Files.walk(Paths.get("src/main")).iterator.asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(files.nonEmpty)
    files.filter { f =>
      Files.readAllLines(f).asScala.exists { l =>
        val code = l.trim
        !code.startsWith("*") && !code.startsWith("/*") &&
          code.split("//", 2)(0).contains(token)
      }
    }.map(_.getFileName.toString).toSet
  }
}
