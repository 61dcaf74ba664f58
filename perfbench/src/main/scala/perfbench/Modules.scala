package perfbench

/** The engine's query-defining objects, and which of them defines each key of
  * `SparkEntry.queries`. A query is matched to the object that has a public
  * `q…(SparkSession, String)` method whose name equals the key once case and
  * underscores are ignored (`q_window_leadlag` ↔ `qWindowLeadLag`). */
object Modules {

  val classes: Seq[(String, String)] = Seq(
    "Relational" -> "graft.ops.Relational",
    "Skew" -> "graft.ops.Skew",
    "SinkQueries" -> "graft.sources.SinkQueries",
    "Sketches" -> "graft.ops.Sketches",
    "EventAnalytics" -> "graft.ops.EventAnalytics",
    "GraphOps" -> "graft.ops.GraphOps",
    "ColorQueries" -> "graft.ops.ColorQueries",
    "StreamQueries" -> "graft.ops.StreamQueries",
    "TextStats" -> "graft.llm.TextStats",
    "Dedup" -> "graft.llm.Dedup",
    "Similarity" -> "graft.llm.Similarity",
    "Tokenizer" -> "graft.llm.Tokenizer",
    "Multimodal" -> "graft.llm.Multimodal",
    "Linkage" -> "graft.ops.Linkage",
  )

  private def key(s: String): String = s.replace("_", "").toLowerCase

  /** Query key → module name. Fails unless every key maps to exactly one
    * module, so no query's work goes unattributed. */
  def attribute(keys: Iterable[String]): Map[String, String] = {
    val defined: Seq[(String, String)] = classes.flatMap { case (module, cls) =>
      Class.forName(cls + "$").getMethods.toSeq
        .filter { m =>
          val ps = m.getParameterTypes
          m.getName.startsWith("q") && ps.length == 2 && ps(1) == classOf[String] &&
            ps(0).getSimpleName == "SparkSession"
        }
        .map(m => key(m.getName) -> module)
        .distinct
    }
    val byKey = defined.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
    val bad = keys.toSeq.sorted.flatMap { q =>
      byKey.getOrElse(key(q), Nil) match {
        case Seq(_) => None
        case Seq() => Some(s"$q: no module defines it")
        case ms => Some(s"$q: defined by ${ms.mkString(", ")}")
      }
    }
    require(bad.isEmpty, s"query attribution failed: ${bad.mkString("; ")}")
    keys.map(q => q -> byKey(key(q)).head).toMap
  }
}
