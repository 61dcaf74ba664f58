package perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order-independent digest of a query result: row count plus the sum and
  * the xor (both mod 2^64) of one 64-bit hash per row over every output
  * column, columns taken in name order.
  *
  * The timed action of a corpus operation computes it. Unlike `count()`, it
  * reads every column, and it executes the query's own physical plan (its
  * final sort included) through `toRdd`, so Catalyst cannot prune work the
  * query's user would pay for. Floating-point values are hashed as text with
  * ten significant digits, so summation-order noise in the last bits does
  * not change the digest; map entries are hashed in sorted order. */
final case class Digest(rows: Long, sum: Long, xor: Long) {
  def show: String = f"$rows%d ${sum}%016x ${xor}%016x"
}

object Digest {

  def parse(s: String): Digest = s.trim.split("\\s+") match {
    case Array(r, s1, x) =>
      Digest(r.toLong, java.lang.Long.parseUnsignedLong(s1, 16),
        java.lang.Long.parseUnsignedLong(x, 16))
    case _ => sys.error(s"bad digest line: $s")
  }

  private def needs(t: DataType): Boolean = t match {
    case DoubleType | FloatType | _: MapType => true
    case a: ArrayType => needs(a.elementType)
    case s: StructType => s.fields.exists(f => needs(f.dataType))
    case _ => false
  }

  private def norm(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType => format_string("%.9e", c.cast(DoubleType))
    case a: ArrayType if needs(a.elementType) => transform(c, x => norm(x, a.elementType))
    case s: StructType if needs(s) =>
      struct(s.fields.toIndexedSeq.map(f => norm(c.getField(f.name), f.dataType).as(f.name)): _*)
    case m: MapType =>
      array_sort(transform(map_entries(c), e => to_json(struct(
        norm(e.getField("key"), m.keyType).as("k"),
        norm(e.getField("value"), m.valueType).as("v")))))
    case _ => c
  }

  /** Runs the query and digests its output; also returns the execution,
    * whose tracker holds the action's planning time. */
  def of(df: DataFrame): (Digest, QueryExecution) = {
    val types = df.schema.fields.map(_.dataType)
    val order = df.schema.fields.indices.sortBy(i => df.schema.fields(i).name)
    val renamed = df.toDF(types.indices.map(i => s"c$i"): _*)
    val hashed = renamed.select(
      xxhash64(order.map(i => norm(renamed.col(s"c$i"), types(i))): _*).as("h"))
    val qe = hashed.queryExecution
    val (n, s, x) = qe.toRdd.map(_.getLong(0)).aggregate((0L, 0L, 0L))(
      (a, h) => (a._1 + 1, a._2 + h, a._3 ^ h),
      (a, b) => (a._1 + b._1, a._2 + b._2, a._3 ^ b._3))
    (Digest(n, s, x), qe)
  }
}
