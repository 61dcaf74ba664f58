package graft

import org.apache.spark.sql.SparkSession

import graft.functions.GraftFunctions

/** The one way this project starts Spark: every main and the test suites
  * build their session here, as the reference runs everything in one
  * `SparkSession.builder` session (coloring.py:190-198). */
object Session {

  /** `SPARK_GRAFT_CPUS`, or else every core the JVM sees (the reference's
    * `local[*]`). */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** Shuffle, spill and broadcast codec. On the 30× q_dedup_ngram A/B
    * (bench/NOTES.md r11) zstd wrote 0.31× lz4's shuffle bytes and 0.33× its
    * peak shuffle disk at +1.3% wall / +0.2% CPU. */
  val Codec = "zstd"

  /** `local[cpus]` with one shuffle partition per core, UTC session time,
    * no UI, WARN logging and the graft expression library registered. */
  def local(cpus: Int = Session.cpus): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.io.compression.codec", Codec)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    GraftFunctions.register(spark)
    spark
  }
}
