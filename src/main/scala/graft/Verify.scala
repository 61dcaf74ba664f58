package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {

  /** JSON string escape: backslash, quote, and ALL control chars (<0x20)
    * — a tab or CR in builder-authored SQL would otherwise make the
    * driver's json.load fail and silently zero the round's correctness. */
  private def q(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** The full `SparkEntry.oracleSql` map as a JSON object — shared by the
    * driver dump below and OracleTypeSpec's DuckDB type sweep. */
  def oracleSqlJson: String = SparkEntry.oracleSql
    .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")

  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // Optional 3rd+ args: restrict to the named queries (dev fast path).
    val only: Set[String] = args.drop(2).toSet
    // Same exclusion hatch as Bench (GRAFT_BENCH_SKIP): a skipped query
    // writes no result dir, so the oracle checker reports it MISSING —
    // loud, never silently green.
    val skip = sys.env.get("GRAFT_BENCH_SKIP")
      .map(_.split(",").toSet).getOrElse(Set.empty[String])
    skip.toSeq.sorted.foreach(q => System.err.println(s"[verify] SKIPPED $q (GRAFT_BENCH_SKIP)"))
    val spark = Session.local()
    // ScaleUp corpora carry a manifest — prove this regeneration IS the
    // corpus the committed artifacts measured (no-op on driver testdata).
    graft.tables.Manifest.verifyIfPresent(spark, sfDir)
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => (only.isEmpty || only(name)) && !skip(name) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), oracleSqlJson)
    spark.stop()
  }
}
