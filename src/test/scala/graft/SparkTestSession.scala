package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites (Spark startup is ~5s; suites
  * reuse it). Eight cores: the plan-shape specs assume 8 shuffle
  * partitions. */
object SparkTestSession {
  lazy val get: SparkSession = Session.local(8)
}
