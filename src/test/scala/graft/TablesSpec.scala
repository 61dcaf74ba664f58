package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.TimestampType
import org.scalatest.funsuite.AnyFunSuite

import graft.tables.Tables

/** The events loader's writer-schema tolerance (r8 VERDICT item 1): the
  * corpus has shipped `ts` both as INT64 TIMESTAMP(NANOS) — which Spark
  * loads as a raw long under the legacy conf — and as plain micros
  * timestamps. Both must come back as the session-zoned TimestampType with
  * the same instant values. */
class TablesSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.get

  test("events absorbs the micros-timestamp writer schema (driver corpus)") {
    val df = Tables.events(spark, Corpus.dir("sf0.001"))
    assert(df.schema("ts").dataType === TimestampType)
    assert(df.limit(1).count() === 1L)
  }

  test("events absorbs an INT64-nanos writer schema via the long branch") {
    import spark.implicits._
    // A writer that emits raw INT64 nanos (what the legacy conf turns
    // TIMESTAMP(NANOS) into): 2024-01-02T03:04:05.123456789 UTC.
    val nanos = 1704164645123456789L
    val dir = Files.createTempDirectory("graft_events_nanos").toString
    Seq((1L, nanos, 7L, "click", 1.5, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val df = Tables.events(spark, dir)
    assert(df.schema("ts").dataType === TimestampType)
    val got = df.select(unix_micros(col("ts"))).head().getLong(0)
    // nanos div 1000 — the same truncation DuckDB applies.
    assert(got === nanos / 1000L)
  }

  test("spread repartitions a small scan and leaves shuffling plans unchanged") {
    val docs = Tables.documents(spark, Corpus.dir("sf0.001"))
    val par = spark.sparkContext.defaultParallelism
    assert(par > 1, "the test session must have more than one core")
    // A one-file scan and a narrow projection of it are spread.
    for (scan <- Seq(docs, docs.select(col("doc_id"), col("text"))))
      assert(Tables.spread(scan).rdd.getNumPartitions === par)
    // Aggregates, joins and repartitions over the scan are returned as is.
    val shuffling = Seq(
      docs.groupBy(col("lang")).count(),
      docs.join(docs.select(col("doc_id")), "doc_id"),
      docs.repartition(3),
      Tables.spread(docs))
    for (df <- shuffling) assert(Tables.spread(df) eq df, df.queryExecution.analyzed)
  }
}
