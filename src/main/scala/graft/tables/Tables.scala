package graft.tables

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join, RepartitionOperation}
import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

import graft.functions.GraftFunctions

/** Loaders for the driver's Parquet corpus (`/root/testdata/sf*`).
  *
  * Every query in the library takes `(SparkSession, sfDir)` and resolves its
  * inputs here, so the scan always goes through `spark.read.parquet` — filters
  * and projections placed on top are pushed into the vectorized Parquet reader
  * by Catalyst (visible as `PushedFilters`/`ReadSchema` in `.explain`).
  * The read also registers the graft expression library
  * ([[graft.functions.GraftFunctions]]) on the session, so any session —
  * a fresh `newSession()` included — can run every query.
  */
object Tables {
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    GraftFunctions.register(spark)
    spark.read.parquet(s"$sfDir/$name.parquet")
  }

  def region(spark: SparkSession, d: String): DataFrame    = table(spark, d, "region")
  def nation(spark: SparkSession, d: String): DataFrame    = table(spark, d, "nation")
  def customer(spark: SparkSession, d: String): DataFrame  = table(spark, d, "customer")
  def supplier(spark: SparkSession, d: String): DataFrame  = table(spark, d, "supplier")
  def part(spark: SparkSession, d: String): DataFrame      = table(spark, d, "part")
  def orders(spark: SparkSession, d: String): DataFrame    = table(spark, d, "orders")
  def lineitem(spark: SparkSession, d: String): DataFrame  = table(spark, d, "lineitem")
  /** The corpus has shipped `events.ts` under two different writer schemas:
    * INT64 TIMESTAMP(NANOS) (rejected by the vectorized reader unless read as
    * a raw long via the legacy conf) and plain `timestamp[us]` (read as
    * TIMESTAMP_NTZ). A production engine must absorb either, so branch on the
    * type that actually loaded rather than assuming one writer:
    *   - LongType        → footer declared nanos; truncate to micros, the same
    *                       truncation DuckDB applies, so oracles line up.
    *   - TIMESTAMP_NTZ / → already micros; cast to the session-zoned
    *     TimestampType     TimestampType (sessions run UTC, so the wall-clock
    *                       reinterpretation is identity and DuckDB's naive
    *                       read matches).
    * The legacy conf is set before the read so the nanos footer never fails
    * schema conversion; it is a no-op for non-nanos files. */
  def events(spark: SparkSession, d: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = table(spark, d, "events")
    raw.schema("ts").dataType match {
      case LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType | TimestampType =>
        raw.withColumn("ts", col("ts").cast(TimestampType))
      case other =>
        throw new IllegalStateException(
          s"events.ts loaded as unsupported type $other; expected INT64 nanos or a timestamp")
    }
  }
  def documents(spark: SparkSession, d: String): DataFrame = table(spark, d, "documents")
  def embeddings(spark: SparkSession, d: String): DataFrame = table(spark, d, "embeddings")

  /** Spread a (typically single-file) scan across the session's cores.
    *
    * A parquet table smaller than `files.maxPartitionBytes` arrives as ONE
    * scan task, and every downstream map-side stage that never shuffles
    * (token explodes, per-doc folds, the ×4 CMS explode of q_heavy_hitters)
    * then runs on one core with the other 31 idle — measured wall ≈ cpu with
    * 0 shuffle at every SF (r9 verdict item 4). The fix is one round-robin
    * exchange of the INPUT rows — cheap precisely when it fires, because it
    * only fires when the scan is small — after which the explode-heavy
    * consumers run full-width. No-op when the scan already yields at least
    * `defaultParallelism` partitions, i.e. at real (100 TB) scale this is
    * never an extra shuffle.
    *
    * The width probe reads the FILE-RELATION leaves of `df`'s ANALYZED
    * plan and estimates the scan's split count as
    * ceil(bytes / files.maxPartitionBytes) — r15: the previous probe
    * forced a full `executedPlan` (optimizer + physical planning) per
    * call just to count partitions, ~tens of ms of driver latency on
    * nearly every corpus query's construction. The estimate errs only
    * on file-packing boundaries (openCostInBytes), where the decision
    * is a wash: a scan near `defaultParallelism` splits doesn't need
    * spreading either way.
    * Constraint (enforced by the fallbacks below, not just convention):
    * spread must wrap raw table scans / narrow projections only — a plan
    * that aggregates, joins or repartitions, or whose leaves are not file
    * relations, is returned UNCHANGED, because repartitioning an
    * already-shuffled relation is never the intent of this helper. */
  def spread(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    val par = spark.sparkContext.defaultParallelism
    val maxSplit = spark.sessionState.conf.filesMaxPartitionBytes
    val plan = df.queryExecution.analyzed
    val shuffled = plan.exists {
      case _: Aggregate | _: Join | _: RepartitionOperation => true
      case _ => false
    }
    val scanBytes = plan.collect {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        l.relation.sizeInBytes
    }
    val estParts = scanBytes.map(b => math.max(1L, (b + maxSplit - 1) / maxSplit))
    if (!shuffled && estParts.nonEmpty && estParts.sum < par) df.repartition(par) else df
  }
}
