package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

/** Source checks for the specs that pin where a call may appear. */
object SourceScan {

  /** Per `.scala` file under `root`, its code lines: comment lines and
    * `//` tails dropped. */
  private def codeLines(root: String): Seq[(String, Seq[String])] = {
    val files = Files.walk(Paths.get(root)).iterator.asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(files.nonEmpty)
    files.map { f =>
      f.getFileName.toString -> Files.readAllLines(f).asScala.toSeq.flatMap { l =>
        val code = l.trim
        if (code.startsWith("*") || code.startsWith("/*")) None
        else Some(code.split("//", 2)(0))
      }
    }
  }

  /** The files under `root` whose code (comments skipped) contains `token`. */
  def callers(token: String, root: String = "src/main"): Set[String] =
    counts(token, root).keySet

  /** Per file under `root`, the number of code lines (comments skipped)
    * that contain `token`; files with none are left out. */
  def counts(token: String, root: String = "src/main"): Map[String, Int] =
    codeLines(root).map { case (f, lines) => f -> lines.count(_.contains(token)) }
      .filter(_._2 > 0).toMap

  /** Every string literal under `root` (comments skipped) that matches
    * `pattern` whole. */
  def literals(pattern: String, root: String = "src/main"): Set[String] = {
    val lit = ("\"(" + pattern + ")\"").r
    codeLines(root).flatMap(_._2).flatMap(l => lit.findAllMatchIn(l).map(_.group(1))).toSet
  }

  /** Per call of `name(` under `root` (comments skipped), its file and its
    * top-level argument count; a call may span lines. */
  def argCounts(name: String, root: String = "src/main"): Seq[(String, Int)] =
    codeLines(root).flatMap { case (f, lines) =>
      val code = lines.mkString("\n")
      s"\\b${java.util.regex.Pattern.quote(name)}\\(".r.findAllMatchIn(code).map { m =>
        var depth = 1
        var args = 1
        var i = m.end
        while (depth > 0) {
          code(i) match {
            case '(' | '[' | '{' => depth += 1
            case ')' | ']' | '}' => depth -= 1
            case ',' if depth == 1 => args += 1
            case _ =>
          }
          i += 1
        }
        f -> args
      }
    }
}
