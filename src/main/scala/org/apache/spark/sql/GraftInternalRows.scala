package org.apache.spark.sql

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types.StructType

/** Internal-row bridge for [[graft.ops.State.loop]].
  *
  * Loop state needs a lineage-truncated frame (localCheckpoint) with
  * RESET Catalyst stats (`Dataset.localCheckpoint` alone preserves the
  * source plan's sizeInBytes). The public reset path
  * `createDataFrame(ck.rdd, schema)` pays two per-row conversions on every
  * downstream scan: `Dataset.rdd` deserializes InternalRow → external Row,
  * and `createDataFrame` re-encodes Row → InternalRow.
  *
  * `SparkSession.internalCreateDataFrame` (private[sql], hence this
  * shim's package) builds the same stats-reset LogicalRDD directly over
  * the checkpointed INTERNAL rows, exactly the mechanics
  * `Dataset.checkpoint` itself uses, with no conversion on either side.
  */
object GraftInternalRows {

  /** Wrap an internal-row RDD as a DataFrame with RESET stats (a fresh
    * LogicalRDD — sizeInBytes falls back to the session default instead
    * of compounding the source plan's estimate). */
  def fromInternal(spark: SparkSession, rdd: RDD[InternalRow],
      schema: StructType): DataFrame = spark match {
    case s: classic.SparkSession => s.internalCreateDataFrame(rdd, schema)
    case other => throw new IllegalStateException(
      s"GraftInternalRows needs a classic SparkSession, got ${other.getClass}")
  }
}
