package graft.tools

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery}

import graft.streaming.{Event, StreamPipelines}

/** Streaming THROUGHPUT probe (r13 verdict item 7): the streaming family's
  * semantics are proven against the real incremental engine in
  * StreamingSpec, and its leg rows ride the batch analogs — this tool adds
  * the current-engine NUMBER: events/sec through a real
  * MemoryStream→stateful-transform→sink execution at corpus scale, plus
  * the state-rows and watermark-lag observables that decide whether a
  * stateful pipeline is healthy at 100 TB/day (unbounded state growth or a
  * runaway watermark lag is the streaming failure mode — wall time alone
  * can't show it).
  *
  * Method: the corpus `events` table is read ORDERED BY (ts, event_id)
  * (arrival order = event time, the realistic watermark regime), capped at
  * `--cap` rows (default 1M — the whole 10× table), fed through a
  * MemoryStream in `--batch`-sized triggers (processAllAvailable between
  * adds, so each trigger is measured drained), against three
  * representative state shapes:
  *   - `tumbling`  — windowed hash-agg, watermark-evicted (Update mode);
  *   - `dedup`     — dropDuplicates key state within the watermark;
  *   - `sessions`  — flatMapGroupsWithState custom session state.
  * Per pipeline it prints one JSON line: total events, wall seconds,
  * events/sec, max observed state rows, final watermark lag vs the max
  * event time. Results land in bench/NOTES.md (r14).
  *
  * Usage: runMain graft.tools.StreamProbe [sfDir] [--cap N] [--batch N]
  */
object StreamProbe {

  def main(args: Array[String]): Unit = {
    val argv = args.toBuffer
    def opt(name: String, default: Long): Long = {
      val i = argv.indexOf(name)
      if (i >= 0) { val v = argv(i + 1).toLong; argv.remove(i, 2); v }
      else default
    }
    val cap = opt("--cap", 1000000L)
    val batch = opt("--batch", 100000L).toInt
    val sfDir = argv.headOption.getOrElse("/tmp/graft-sf1.0")
    val spark = graft.Session.local()
    import spark.implicits._

    // Arrival order = event-time order: the watermark advances monotonically
    // and state eviction engages exactly as it would on a live ingest.
    val events: Array[Event] = graft.tables.Tables.events(spark, sfDir)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
        col("value").cast("double").as("value"))
      .orderBy(col("ts"), col("event_id"))
      .limit(cap.toInt)
      .as[Event].collect()
    val maxTs = events.map(_.ts.getTime).max
    println(s"[probe] corpus=$sfDir events=${events.length} " +
      s"batch=$batch cpus=${graft.Session.cpus}")

    def run(name: String)(start: MemoryStream[Event] => StreamingQuery): Unit = {
      implicit val sqlCtx = spark.sqlContext
      val source = MemoryStream[Event]
      val query = start(source)
      var maxState = 0L
      val t0 = System.nanoTime()
      try {
        var i = 0
        while (i < events.length) {
          source.addData(events.slice(i, math.min(i + batch, events.length)))
          query.processAllAvailable()
          // recentProgress, not lastProgress: processAllAvailable can run
          // several triggers (including a final no-data finalize whose
          // state is already evicted) — the peak matters.
          for (p <- query.recentProgress if p.stateOperators.nonEmpty)
            maxState = math.max(maxState,
              p.stateOperators.map(_.numRowsTotal).max)
          i += batch
        }
        val wall = (System.nanoTime() - t0) / 1e9
        // Watermark lag vs the max event time actually fed — how far
        // eviction trails the head of the stream at the end of the run.
        val wmLagSec = Option(query.lastProgress)
          .flatMap(p => Option(p.eventTime.get("watermark")))
          .map(w => (maxTs - Timestamp.valueOf(
            w.replace("T", " ").replace("Z", "")).getTime) / 1000.0)
          .getOrElse(-1.0)
        println(f"""{"probe":"$name","events":${events.length},""" +
          f""""wall_sec":$wall%.1f,"events_per_sec":${events.length / wall}%.0f,""" +
          f""""max_state_rows":$maxState,"final_watermark_lag_sec":$wmLagSec%.1f}""")
      } finally query.stop()
    }

    run("tumbling") { src =>
      StreamPipelines.tumbling(src.toDF(), watermark = "15 minutes")
        .writeStream.format("noop").outputMode(OutputMode.Update).start()
    }
    run("dedup") { src =>
      StreamPipelines.dedupStream(src.toDF(), watermark = "15 minutes")
        .writeStream.format("noop").outputMode(OutputMode.Append).start()
    }
    run("sessions") { src =>
      // EventTimeTimeout requires a watermark on the input stream.
      StreamPipelines.sessionizeWithState(
          src.toDF().withWatermark("ts", "15 minutes").as[Event])
        .writeStream.format("noop").outputMode(OutputMode.Append).start()
    }
    spark.stop()
  }
}
