package graft.tools

import java.nio.file.{Files, Paths}

/** Plan-evidence dumper (optimization-round deliverable): writes
  * `df.explain("formatted")` output for each named SparkEntry query to
  * `<outDir>/<name>.txt` so before/after plan claims are checkable without
  * running Spark (`plans/r14/` in the repo).
  *
  * Usage: `runMain graft.tools.PlanDump <outDir> q_a q_b ...`
  * (data dir from SPARK_GRAFT_SF_DIR, default sf0.1).
  *
  * Note on iterative queries (truss/closeness/sssp/kcore/...): building the
  * DataFrame runs the driver fixpoint loop, so the dumped plan is the FINAL
  * result plan; per-round plan shapes are captured in the round's notes from
  * event-log profiles instead.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: PlanDump <outDir> <query> [query ...]")
    val outDir = Paths.get(args.head)
    Files.createDirectories(outDir)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.Session.local()
    args.tail.foreach { name =>
      val fn = graft.SparkEntry.queries(name)
      val plan = fn(spark, sfDir).queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      Files.write(outDir.resolve(s"$name.txt"), plan.getBytes("UTF-8"))
      println(s"[plandump] wrote ${outDir.resolve(s"$name.txt")}")
    }
    spark.stop()
  }
}
