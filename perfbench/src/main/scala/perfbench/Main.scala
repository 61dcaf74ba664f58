package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBus
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.rules.RuleExecutor
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.color.ColoringKernel
import graft.model.RandomGraph
import graft.ops.GraphOps

/** One benchmark run: set up, run timed passes until `--seconds` is used,
  * check every output, and write the result JSON to `--result`.
  *
  * Closed loop, one client: the main thread issues one operation at a time
  * on `local[4]`. Each pass runs in a fresh SparkContext (and so a fresh
  * session: the engine's memos are keyed on the session), preceded by its
  * own set-up. The first pass is preceded by two extra set-up cycles, so the
  * set-up median always has at least three samples.
  *
  * Usage: perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *          --root DIR --scratch DIR --result FILE [--break-digest QUERY]
  *        perfbench.Main record CORPUS_DIR OUT_FILE
  */
object Main {

  val Cores = 4
  val MinPasses = 1
  private def now: Long = System.nanoTime()
  private def secs(ns: Long): Double = ns / 1e9

  // ---------------------------------------------------------------- workloads

  sealed trait Workload { def name: String; def corpus: String }
  /** Engine queries on a committed corpus, checked against recorded digests. */
  final case class Corpus(name: String, corpus: String, queries: Seq[String])
      extends Workload
  /** `minimalColors` on a seeded `RandomGraph`, the reference CLI's surface. */
  final case class Color(name: String, nodes: Long, maxDegree: Int) extends Workload {
    val corpus = ""
  }

  /** The queries the benchmark may run, sorted. It leaves out `SinkQueries`,
    * whose sinks are a fixed directory outside the working tree, because the
    * benchmark writes only inside its checkout. */
  def localQueries(modules: Map[String, String]): Seq[String] =
    SparkEntry.queries.keys.toSeq.sorted.filterNot(q => modules(q) == "SinkQueries")

  /** The suite's queries, in sorted order: a fixed cross-section with at
    * least one query of every module that has local queries, and roughly
    * each module's share of the 158 local queries for the large ones
    * (Relational 4, TextStats 3, GraphOps 3, Dedup 2, Similarity 2). The
    * list is written out, so the work stays the same when the engine adds,
    * removes or renames a query. */
  val SuiteQueries: Seq[String] = Seq(
    "q_active_users",         // EventAnalytics
    "q_agg_salted",           // Skew
    "q_ann_recall",           // Similarity
    "q_bpe_encode",           // Tokenizer
    "q_chisq_drift",          // TextStats
    "q_color_greedy",         // ColorQueries
    "q_conditional_agg",      // Relational
    "q_connected_components", // GraphOps
    "q_dedup_exact",          // Dedup
    "q_dedup_url",            // Dedup
    "q_fuzzy_join",           // Linkage
    "q_heavy_hitters",        // Sketches
    "q_join_range",           // Relational
    "q_lang_id",              // TextStats
    "q_multimodal",           // Multimodal
    "q_pagerank",             // GraphOps
    "q_pivot",                // Relational
    "q_sim_topk",             // Similarity
    "q_stream_neardup",       // StreamQueries
    "q_tfidf",                // TextStats
    "q_triangle_count",       // GraphOps
    "q_window_cume",          // Relational
  )

  val workloads: Seq[Workload] = Seq(
    Corpus("suite-sf0.001", "sf0.001", SuiteQueries),
    Color("color-rg100k", 100000L, 10),
  )

  // ---------------------------------------------------------------- records

  final case class OpRec(name: String, module: String, buildS: Double, actionS: Double,
      error: Option[String], wrong: Option[String]) {
    def latencyS: Double = buildS + actionS
    def failed: Boolean = error.nonEmpty || wrong.nonEmpty
  }

  final case class PassRec(traced: Boolean, setupS: Double, wallS: Double, cpuS: Double,
      stealFrac: Double, ops: Seq[OpRec], layer: Map[String, Double])

  // ---------------------------------------------------------------- helpers

  def median(xs: Seq[Double]): Double = percentile(xs, 0.5)

  /** Linear interpolation between closest ranks. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else {
      val r = p * (s.size - 1)
      val lo = math.floor(r).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (r - lo)
    }
  }

  /** Length of the union of [start, end] intervals, clipped to [from, to]. */
  def unionMs(spans: Seq[(Long, Long)], from: Long, to: Long): Long = {
    var covered = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    spans.map { case (s, e) => (math.max(s, from), math.min(e, to)) }
      .filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
        if (s > curE) {
          if (curE > curS) covered += curE - curS
          curS = s; curE = e
        } else curE = math.max(curE, e)
      }
    if (curE > curS) covered += curE - curS
    covered
  }

  def jstr(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
  } + "\""

  def peakRssMb: Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(0.0)

  /** (steal, total) jiffies of all CPUs of the host, from `/proc/stat`.
    * Steal is time the hypervisor gave this machine's CPUs to other guests;
    * a pass with much of it ran slower for reasons outside the program. */
  def cpuJiffies: (Long, Long) = {
    val f = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+")
      .drop(1).take(8).map(_.toLong)
    (f(7), f.sum)
  }

  def readDigests(p: Path): Map[String, Digest] =
    Files.readAllLines(p, UTF_8).asScala.map(_.trim).filter(_.nonEmpty)
      .map { l => val (q, rest) = l.span(_ != ' '); q -> Digest.parse(rest) }.toMap

  def newSpark(scratch: Path): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.io.compression.codec", "zstd")
      .config("spark.local.dir", scratch.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", scratch.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  // ---------------------------------------------------------------- record mode

  /** Writes one digest line for every local query of a corpus. Run it only
    * on code whose outputs passed the DuckDB oracle (`graft.Verify` +
    * `tools/check_oracle.py`) on the same corpus. */
  def record(corpusDir: String, out: String, scratch: Path): Unit = {
    val names = localQueries(Modules.attribute(SparkEntry.queries.keys))
    val spark = newSpark(scratch)
    val lines = names.map { q =>
      val d = Digest.of(SparkEntry.queries(q)(spark, corpusDir))._1
      println(s"[record] $q ${d.show}")
      s"$q ${d.show}"
    }
    spark.stop()
    Files.write(Paths.get(out), (lines.mkString("\n") + "\n").getBytes(UTF_8))
  }

  // ---------------------------------------------------------------- run

  def main(args: Array[String]): Unit = {
    if (args.headOption.contains("record")) {
      record(args(1), args(2), Paths.get(sys.props("java.io.tmpdir")))
      return
    }
    val opts = args.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def opt(k: String): String = opts.getOrElse(k, sys.error(s"missing --$k"))
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val root = Paths.get(opt("root"))
    val scratch = Paths.get(opt("scratch"))
    val corpora = root.resolve("perfbench").resolve("corpus")
    val modules = Modules.attribute(SparkEntry.queries.keys)
    val w = workloads.find(_.name == opt("workload"))
      .getOrElse(sys.error(s"unknown workload ${opt("workload")}"))
    val expected: Map[String, Digest] = w match {
      case c: Corpus =>
        val unknown = c.queries.filterNot(SparkEntry.queries.contains)
        require(unknown.isEmpty,
          s"${c.name}: the engine no longer declares ${unknown.mkString(", ")}")
        val m = readDigests(root.resolve("perfbench").resolve("expected")
          .resolve(s"${c.corpus}.digests"))
        val missing = c.queries.filterNot(m.contains)
        require(missing.isEmpty,
          s"${c.name}: no expected digest recorded for ${missing.mkString(", ")}")
        opts.get("break-digest").fold(m) { q =>
          require(c.queries.contains(q), s"--break-digest: $q is not a query of ${c.name}")
          m.updated(q, m(q).copy(rows = m(q).rows + 1))
        }
      case _ => Map.empty
    }
    val corpusDir = if (w.corpus.isEmpty) "" else corpora.resolve(w.corpus).toString
    // Set-up's first query reads a copy of sf0.001 in the scratch directory:
    // the engine's memos are keyed on (session, directory), so it builds
    // nothing a timed operation reuses, whatever the workload's corpus.
    val warmDir = scratch.resolve("warmup-sf0.001")
    Files.createDirectories(warmDir)
    Files.list(corpora.resolve("sf0.001")).iterator().asScala
      .foreach(f => Files.copy(f, warmDir.resolve(f.getFileName)))

    val spans = mutable.ArrayBuffer.empty[String]
    // Span times are epoch milliseconds, as are Spark's job event times.
    val epochOffsetNs = System.currentTimeMillis() * 1000000L - now
    def ms(ns: Long): Long = (ns + epochOffsetNs) / 1000000L
    def span(kind: String, id: String, parent: String, name: String, t0: Long, t1: Long): Unit =
      spans += s"""{"span":${jstr(kind)},"id":${jstr(id)},"parent":${jstr(parent)},"name":${jstr(name)},"start_ms":${ms(t0)},"end_ms":${ms(t1)}}"""

    final class Ctx(val spark: SparkSession, val probe: Probe, val plans: Option[PlanProbe],
        val setupS: Double, val input: Option[(DataFrame, DataFrame)], val genS: Double)

    val jvmStartNs = now - (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) * 1000000L
    def setUp(t0: Long, traced: Boolean): Ctx = {
      val spark = newSpark(scratch)
      val probe = new Probe(traced)
      spark.sparkContext.addSparkListener(probe)
      val plans = if (traced) Some(new PlanProbe) else None
      plans.foreach(spark.listenerManager.register)
      // A fresh session's first query pays its lazy initialization.
      Digest.of(GraphOps.qDegree(spark, warmDir.toString))
      val g0 = now
      val input = w match {
        case c: Color =>
          val edges = RandomGraph.edges(spark, c.nodes, c.maxDegree, seed).localCheckpoint()
          edges.count()
          Some((edges, spark.range(c.nodes).toDF("id")))
        case _ => None
      }
      val genS = secs(now - g0)
      PerfbenchBus.drain(spark.sparkContext)
      probe.take()
      plans.foreach(_.take())
      new Ctx(spark, probe, plans, secs(now - t0), input, genS)
    }

    val setups = mutable.ArrayBuffer.empty[Double]
    val passes = mutable.ArrayBuffer.empty[PassRec]

    /** One pass in a fresh context, after its own set-up. */
    def runPass(idx: Int, traced: Boolean): PassRec = {
      val ctx = setUp(now, traced)
      setups += ctx.setupS
      val spark = ctx.spark
      val sc = spark.sparkContext
      val passId = s"p$idx"

      val compiles = mutable.Map.empty[String, Long]
      val rule0 = RuleExecutor.getCurrentMetrics()
      val cg0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      var digestActions = 0L
      var digestPlanMs = 0L
      val digests = mutable.ArrayBuffer.empty[(String, Digest)]
      var colored: Option[ColoringKernel.Colored] = None

      val jiffies0 = cpuJiffies
      val t0 = now
      val ops = w match {
        case c: Corpus => c.queries.map { q =>
          val opId = s"$passId/$q"
          sc.setLocalProperty(Probe.OpKey, opId)
          val cgA = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
          val a = now
          var b = a
          val err =
            try {
              val df = SparkEntry.queries(q)(spark, corpusDir)
              b = now
              val (d, qe) = Digest.of(df)
              digestActions += 1
              if (traced) digestPlanMs += qe.tracker.phases.values.map(_.durationMs).sum
              digests += ((q, d))
              None
            } catch {
              case e: Throwable =>
                if (b == a) b = now
                Some(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
            }
          val e = now
          sc.setLocalProperty(Probe.OpKey, null)
          compiles(opId) = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - cgA
          if (traced) {
            span("op", opId, passId, q, a, e)
            span("build", s"$opId/build", opId, q, a, b)
            span("action", s"$opId/action", opId, q, b, e)
          }
          OpRec(q, modules(q), secs(b - a), secs(e - b), err, None)
        }
        case c: Color =>
          val (edges, vertices) = ctx.input.get
          val opId = s"$passId/minimalColors"
          sc.setLocalProperty(Probe.OpKey, opId)
          val a = now
          val err =
            try {
              colored = Some(ColoringKernel.minimalColors(spark, edges,
                ColoringKernel.Strategy.Jp, Some(vertices)))
              None
            } catch {
              case e: Throwable =>
                Some(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
            }
          val e = now
          sc.setLocalProperty(Probe.OpKey, null)
          if (traced) {
            span("op", opId, passId, "minimalColors", a, e)
            span("action", s"$opId/action", opId, "minimalColors", a, e)
          }
          Seq(OpRec("minimalColors", "ColoringKernel", 0.0, secs(e - a), err, None))
      }
      val t1 = now
      val jiffies1 = cpuJiffies
      val stealFrac = (jiffies1._1 - jiffies0._1).toDouble /
        math.max(1L, jiffies1._2 - jiffies0._2)
      val rule1 = RuleExecutor.getCurrentMetrics()
      val cg1 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val compileMeanMs = CodegenMetrics.METRIC_COMPILATION_TIME.getSnapshot.getMean
      val retainedBytes = sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
      PerfbenchBus.drain(sc)
      val (tot, byOp, jobs, (blocks, blockBytes)) = ctx.probe.take()
      val (engineActions, enginePlanMs) = ctx.plans.map(_.take()).getOrElse((0L, 0L))
      if (traced) {
        span("pass", passId, "", w.name, t0, t1)
        jobs.foreach(j => spans +=
          s"""{"span":"job","id":"$passId/job${j.jobId}","parent":${jstr(j.op)},"name":"job ${j.jobId}","start_ms":${j.startMs},"end_ms":${j.endMs}}""")
      }

      // ---- output checks, outside the timed region
      val wrong = mutable.Map.empty[String, String]
      digests.foreach { case (q, d) =>
        expected.get(q) match {
          case None => wrong(q) = "no expected digest recorded"
          case Some(exp) if d != exp => wrong(q) = s"digest ${d.show} != expected ${exp.show}"
          case _ =>
        }
      }
      var validateS = 0.0
      w match {
        case c: Color => colored.foreach { cr =>
          val (edges, _) = ctx.input.get
          val v0 = now
          val (uncolored, conflicts) = ColoringKernel.validate(edges, cr.colors)
          validateS = secs(now - v0)
          val maxDeg = edges.groupBy(col("src")).count().agg(max(col("count"))).head().getLong(0)
          if (uncolored != 0 || conflicts != 0 || cr.k > maxDeg + 1 || cr.k > c.maxDegree + 1)
            wrong("minimalColors") =
              s"uncolored=$uncolored conflicts=$conflicts colors=${cr.k} max_degree=$maxDeg"
        }
        case _ =>
      }
      val checked = ops.map(o => o.copy(wrong = wrong.get(o.name)))

      val wallS = secs(t1 - t0)
      val layer: Map[String, Double] = if (!traced) Map.empty else {
        val passStartMs = ms(t0)
        val passEndMs = ms(t1)
        val inJobS = unionMs(jobs.map(j => (j.startMs, j.endMs)), passStartMs, passEndMs) / 1e3
        val rules = rule1 - rule0
        val nCompiles = (cg1 - cg0).toDouble
        val runS = tot.runMs / 1e3
        val mb = 1024.0 * 1024.0
        val perModule = Modules.classes.map(_._1).filterNot(_ == "SinkQueries").flatMap { m =>
          val mine = checked.filter(_.module == m)
          val ids = mine.map(o => s"$passId/${o.name}")
          val cs = ids.flatMap(byOp.get)
          Seq(
            s"$m.build_s" -> mine.map(_.buildS).sum,
            s"$m.action_s" -> mine.map(_.actionS).sum,
            s"$m.jobs" -> cs.map(_.jobs).sum.toDouble,
            s"$m.exec_cpu_s" -> cs.map(_.cpuNs).sum / 1e9,
            s"$m.compiles" -> ids.map(compiles.getOrElse(_, 0L)).sum.toDouble)
        }
        val colorJobs = byOp.get(s"$passId/minimalColors").map(_.jobs).getOrElse(0L)
        val rounds = colored.map(_.rounds).getOrElse(0)
        Map(
          "sched.jobs" -> tot.jobs.toDouble,
          "sched.stages" -> tot.stages.toDouble,
          "sched.tasks" -> tot.tasks.toDouble,
          "sched.in_job_s" -> inJobS,
          "sched.driver_only_s" -> (wallS - inJobS),
          "catalyst.actions" -> (engineActions + digestActions).toDouble,
          "catalyst.rule_s" -> rules.time / 1e9,
          "catalyst.rule_runs" -> rules.numRuns.toDouble,
          "catalyst.effective_rule_runs" -> rules.numEffectiveRuns.toDouble,
          "catalyst.planning_s" -> (enginePlanMs + digestPlanMs) / 1e3,
          "codegen.compiles" -> nCompiles,
          "codegen.compile_s" -> nCompiles * compileMeanMs / 1e3,
          "exec.run_s" -> runS,
          "exec.gc_s" -> tot.gcMs / 1e3,
          "exec.slot_busy_frac" -> runS / (Cores * wallS),
          "shuffle.write_mb" -> tot.shuffleWriteBytes / mb,
          "shuffle.read_mb" -> tot.shuffleReadBytes / mb,
          "shuffle.fetch_wait_s" -> tot.fetchWaitMs / 1e3,
          "spill.disk_mb" -> tot.spillDiskBytes / mb,
          "tables.input_mb" -> tot.inputBytes / mb,
          "tables.input_rows" -> tot.inputRows.toDouble,
          "storage.blocks_written" -> blocks.toDouble,
          "storage.written_mb" -> blockBytes / mb,
          "storage.retained_mb" -> retainedBytes / mb,
          "color.rounds" -> rounds.toDouble,
          "color.jobs_per_round" -> (if (rounds > 0) colorJobs.toDouble / rounds else 0.0),
          "color.validate_s" -> validateS,
          "color.colors_used" -> colored.map(_.k.toDouble).getOrElse(0.0),
          "model.gen_s" -> ctx.genS,
          "host.steal_frac" -> stealFrac,
        ) ++ perModule
      }
      spark.stop()
      checked.filter(_.failed).foreach(o => System.err.println(
        s"[perfbench] FAILED ${o.name}: ${o.error.orElse(o.wrong).getOrElse("")}"))
      PassRec(traced, ctx.setupS, wallS, tot.cpuNs / 1e9, stealFrac, checked, layer)
    }

    // ---- set-up cycles, then passes. The first cycle counts from JVM start
    // and is also reported alone (per-layer `setup.cold_s`); two are stopped
    // at once, so the set-up median has three samples at least. The median
    // is what `setup_s` reports: a single cold cycle varies too much from run
    // to run to carry a bound. Untraced: another pass starts only while it is expected to end
    // within --seconds of timed work. Traced: pass 1 (traced) gives the
    // per-layer metrics, as it is the pass an untraced run measures; pass 3
    // (traced) against pass 2 (untraced) gives the tracing overhead.
    def report(p: PassRec, label: String): Unit = {
      println(f"[perfbench] $label: set-up ${p.setupS}%.3f s, wall ${p.wallS}%.3f s, executor cpu ${p.cpuS}%.3f s, host steal ${p.stealFrac * 100}%.1f%%, ${p.ops.size} ops, ${p.ops.count(_.failed)} failed")
      p.ops.foreach(o => println(f"[perfbench]   ${o.name}%-24s build ${o.buildS}%7.3f s  action ${o.actionS}%7.3f s"))
    }
    Seq[() => Long](() => jvmStartNs, () => now).foreach { t0 =>
      val c = setUp(t0(), traced = false)
      setups += c.setupS
      c.spark.stop()
    }
    var timed = 0.0
    var idx = 0
    def needMore: Boolean =
      if (trace) passes.size < 3
      else passes.size < MinPasses || timed + passes.last.wallS <= seconds
    while (needMore) {
      idx += 1
      val p = runPass(idx, traced = trace && idx % 2 == 1)
      passes += p
      timed += p.wallS
      report(p, s"pass $idx${if (p.traced) " (traced)" else ""}")
    }

    // ---- result
    val allOps = passes.flatMap(_.ops)
    val failed = allOps.count(_.failed)
    val lat = allOps.map(_.latencyS)
    val metrics: Seq[(String, Double, String)] =
      if (!trace) Seq(
        ("setup_s", median(setups.toSeq), "s"),
        ("wall_s", median(passes.map(_.wallS).toSeq), "s"),
        ("op_p50_s", percentile(lat.toSeq, 0.5), "s"),
        ("op_p90_s", percentile(lat.toSeq, 0.9), "s"),
        ("exec_cpu_s", median(passes.map(_.cpuS).toSeq), "s"))
      else {
        val layer = passes.head.layer
        val overhead = passes(2).wallS / passes(1).wallS - 1.0
        layer.keys.toSeq.sorted.map(k => (k, layer(k), Units.of(k))) ++
          Seq(("mem.peak_rss_mb", peakRssMb, "MB"), ("trace.overhead_frac", overhead, "frac"),
            ("setup.cold_s", setups.head, "s"))
      }
    println(s"[perfbench] workload ${w.name}, seed $seed, ${passes.size} passes, " +
      s"${allOps.size} ops ($failed failed), ${setups.size} set-ups, " +
      s"${lat.size} latency samples, " +
      f"host steal ${median(passes.map(_.stealFrac).toSeq) * 100}%.1f%% of CPU time (median of passes)")
    metrics.foreach { case (k, v, u) => println(f"[perfbench] $k%-30s $v%14.6f $u") }
    if (trace) {
      val tp = scratch.resolve("traces").resolve(s"${w.name}-seed$seed.jsonl")
      Files.createDirectories(tp.getParent)
      Files.write(tp, spans.mkString("", "\n", "\n").getBytes(UTF_8))
      println(s"[perfbench] spans written to $tp")
    }
    val metricJson = metrics.map { case (k, v, u) =>
      s"""${jstr(k)}:{"value":${if (v.isNaN || v.isInfinite) "0" else v.toString},"unit":${jstr(u)}}"""
    }.mkString("{", ",", "}")
    val json = s"""{"correct":${failed == 0},"attempted":${allOps.size},"failed":$failed,"metrics":$metricJson}"""
    Files.write(Paths.get(opt("result")), json.getBytes(UTF_8))
    if (failed > 0) sys.exit(1)
  }
}

/** Unit of each per-layer metric, by its name. */
object Units {
  def of(k: String): String =
    if (k.endsWith("_s")) "s"
    else if (k.endsWith("_mb")) "MB"
    else if (k.endsWith("_frac")) "frac"
    else if (k.endsWith("jobs_per_round")) "jobs/round"
    else "count"
}
