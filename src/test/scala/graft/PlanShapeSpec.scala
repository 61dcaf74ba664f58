package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.llm.{Dedup, Similarity, TextStats}
import graft.ops.Relational

/** Physical-plan assertions for scale-critical properties beyond
  * RelationalSpec's: partial aggregation, whole-stage codegen, and
  * no-cartesian guarantees for the candidate-generation joins. */
class PlanShapeSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.get
  private val sf = Corpus.dir("sf0.001")

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("q_agg_partial plans a partial+final hash aggregate (map-side combine)") {
    val p = plan(Relational.qAggPartial(spark, sf))
    // Two HashAggregate nodes for the same grouping = partial + final —
    // the reference's aggregateByKey optimization, supplied by Catalyst.
    val n = "HashAggregate".r.findAllIn(p).length
    assert(n >= 2, s"expected partial+final HashAggregate, plan:\n$p")
  }

  test("hot-path queries run inside WholeStageCodegen") {
    for (q <- Seq(Relational.qScalarMath(spark, sf), Relational.qAggPartial(spark, sf))) {
      q.collect() // AQE only finalizes (and shows codegen spans) on execution
      val p = plan(q)
      // "*(n)" prefixes = WholeStageCodegen stages in the final plan
      assert(p.contains("*("), s"no codegen span:\n$p")
    }
  }

  test("minhash/simhash candidate joins are equi-joins, never cartesian") {
    for (q <- Seq(Dedup.qDedupMinhash(spark, sf), Dedup.qDedupSimhash(spark, sf),
      Dedup.qDedupNgram(spark, sf))) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"cartesian in plan:\n$p")
    }
  }

  test("brute-force top-k broadcasts the small query side") {
    // qSimTopk serves a session-memoised localCheckpoint (shared with the
    // two recall harnesses), which truncates its executed plan to an RDD
    // scan — pin the pre-checkpoint declarative plan instead.
    val p = plan(Similarity.simTopkPlan(spark, sf))
    // Non-equi (query_id != cand_id) join with a 10-row build side must be
    // a broadcast nested loop with the big side streamed, not a shuffle.
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"query side not broadcast:\n$p")
  }

  test("group_collect sorts collected arrays (deterministic under partitioning)") {
    val r1 = Relational.qGroupCollect(spark, sf).collect().toSeq
    val r2 = Relational.qGroupCollect(spark, sf).collect().toSeq
    assert(r1 === r2)
  }

  test("filter predicates and column pruning reach the parquet scan") {
    val p = plan(Relational.qFilterPred(spark, sf))
    assert(p.contains("PushedFilters: [") && p.contains("EqualTo(l_returnflag,R"),
      s"filters not pushed to scan:\n$p")
    // Pruned read: the 16-column lineitem scan must only read the 4 output
    // columns + the 2 extra predicate columns.
    val readSchema = "ReadSchema: [^\\n]*".r.findFirstIn(p).getOrElse("")
    assert(!readSchema.contains("l_extendedprice") && !readSchema.contains("l_comment"),
      s"scan reads unprojected columns:\n$readSchema")
  }

  test("dimension join plans a BroadcastHashJoin from the part file size") {
    val p = plan(Relational.qJoinBroadcast(spark, sf))
    assert(p.contains("BroadcastHashJoin"), s"no broadcast join:\n$p")
    assert(!p.contains("SortMergeJoin"), s"dim join fell back to SMJ:\n$p")
  }

  test("salted aggregation plans two aggregation stages (salt fan-out then merge)") {
    val p = plan(graft.ops.Skew.qAggSalted(spark, sf))
    // partial+final for (key, salt), then partial+final for key = 4 nodes.
    val n = "HashAggregate".r.findAllIn(p).length
    assert(n >= 4, s"expected two-stage salted aggregate, got $n HashAggregates:\n$p")
  }

  test("correlated EXISTS subqueries plan as semi/anti joins, not per-row probes") {
    val p = plan(Relational.qSubqueryExists(spark, sf))
    assert(p.contains("LeftSemi") && p.contains("LeftAnti"),
      s"EXISTS/NOT EXISTS not rewritten to semi/anti joins:\n$p")
  }

  test("AQE splits a skewed join at runtime (the dynamic half of the skew story)") {
    import org.apache.spark.sql.functions._
    val s2 = spark.newSession()
    // Thresholds scaled down so the 3-key returnflag skew qualifies at test
    // data size; at production defaults the same rule fires on 100 TB skew.
    s2.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    s2.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "2KB")
    s2.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "1KB")
    s2.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1")
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s2.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    // Spread the source over many map tasks first: AQE splits a skewed
    // reduce partition at MAPPER boundaries, so a single-map-task scan
    // (one small parquet file) leaves nothing to split at.
    val li = graft.tables.Tables.lineitem(s2, Corpus.dir("sf0.01"))
      .select(col("l_returnflag"), col("l_quantity"), col("l_orderkey"))
      .repartition(16, col("l_orderkey"))
      .drop("l_orderkey")
    // The dim side must be an independent relation: skew splitting pattern-
    // matches SMJ over two bare shuffle stages, and an aggregate already
    // partitioned on the join key would sit between.
    import s2.implicits._
    val dim = Seq(("A", 1), ("N", 2), ("R", 3)).toDF("l_returnflag", "grp")
    val j = li.join(dim, "l_returnflag")
    j.collect()
    val p = j.queryExecution.executedPlan.toString
    assert(p.contains("skew=true"), s"AQE did not split the skewed join:\n$p")
  }

  test("q_skew_aqe: AQE splits the hot-key join of the gate query itself") {
    import org.apache.spark.sql.functions._
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    s2.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "2KB")
    s2.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "1KB")
    s2.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1")
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s2.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    // Same operator body as the gate query; the repartition stands in for
    // the map parallelism a 100 TB scan has naturally (the gate corpus is
    // one single-row-group file = one map task = no mapper boundaries for
    // AQE to split a skewed reduce partition at).
    val fact = graft.tables.Tables.lineitem(s2, Corpus.dir("sf0.01"))
      .select(col("l_returnflag"), col("l_quantity"), col("l_orderkey"))
      .repartition(16, col("l_orderkey"))
      .drop("l_orderkey")
    val j = graft.ops.Skew.skewAqeJoin(s2, fact)
    val Array(row) = j.collect()
    val p = j.queryExecution.executedPlan.toString
    assert(p.contains("skew=true"), s"AQE did not split q_skew_aqe's join:\n$p")
    assert(p.contains("SortMergeJoin"), s"merge hint did not pin SMJ:\n$p")
    // Threshold-invariance: identical result through the default session
    // (whatever join strategy AQE picks there).
    val Array(base) = graft.ops.Skew.qSkewAqe(spark, Corpus.dir("sf0.01")).collect()
    assert(row === base)
  }

  test("salted join plans a shuffled hash join on the (key, salt) pair") {
    val p = plan(graft.ops.Skew.qJoinSalted(spark, Corpus.dir("sf0.001")))
    assert(p.contains("ShuffledHashJoin"), s"expected shuffled hash join:\n$p")
    assert(p.contains("_salt"), s"salt column missing from join keys:\n$p")
  }

  test("partitioned sink read-back prunes to the filtered partition") {
    val df = graft.sources.SinkQueries.qWritePartitioned(spark, Corpus.dir("sf0.001"))
    df.collect()
    val p = plan(df)
    // The parquet scan of the read-back must carry the partition filter —
    // at warehouse scale this is the difference between reading one
    // directory and the whole table.
    assert(p.contains("PartitionFilters") && p.contains("l_returnflag"),
      s"partition filter did not reach the scan:\n$p")
  }

  test("hist-quantile estimate brackets the exact median") {
    import org.apache.spark.sql.functions.{col, expr}
    val d = Corpus.dir("sf0.001")
    val approx = graft.ops.Relational.qHistQuantile(spark, d).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    val exact = graft.tables.Tables.lineitem(spark, d)
      .groupBy(col("l_returnflag"))
      .agg(expr("percentile(l_extendedprice, 0.5)").as("m"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    exact.foreach { case (rf, m) =>
      assert(math.abs(approx(rf) - m) <= 1000.0,
        s"$rf: approx ${approx(rf)} vs exact $m")
    }
  }

  test("deterministic moments agree with native stddev/corr to float tolerance") {
    import org.apache.spark.sql.functions.{col, corr, stddev_samp}
    val d = Corpus.dir("sf0.001")
    val ours = graft.ops.Relational.qStatsMoments(spark, d).collect()
      .map(r => r.getString(0) -> (r.getDouble(3), r.getDouble(4))).toMap
    val native = graft.tables.Tables.lineitem(spark, d)
      .groupBy(col("l_returnflag"))
      .agg(stddev_samp(col("l_quantity")).as("sd"),
        corr(col("l_quantity"), col("l_extendedprice")).as("c"))
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    native.foreach { case (rf, (sd, c)) =>
      assert(math.abs(ours(rf)._1 - sd) < 1e-6 * math.max(1.0, sd.abs))
      assert(math.abs(ours(rf)._2 - c) < 1e-6)
    }
  }

  test("rank<=k window filters plan a bounded WindowGroupLimit, not a full sort-rank") {
    // Catalyst's InferWindowGroupLimit turns row_number()<=k filters into
    // per-group bounded limits (the heap-based top-k a custom physical
    // operator would otherwise provide) — the declarative plan already IS
    // the scale-correct one; this pins it against regression.
    val d = Corpus.dir("sf0.001")
    // simTopkPlan: qSimTopk's executed plan is a memoised localCheckpoint
    // (an RDD scan) — the window shape lives in the pre-checkpoint plan.
    for (df <- Seq(graft.llm.Similarity.simTopkPlan(spark, d),
        graft.ops.Relational.qWindowRank(spark, d),
        graft.llm.TextStats.qTfidf(spark, d))) {
      val p = plan(df)
      assert(p.contains("WindowGroupLimit"), s"no bounded group limit:\n$p")
    }
  }

  test("bloom probe joins broadcast the word table (no shuffle of the fact side)") {
    val p = plan(graft.ops.Sketches.qBloomJoin(spark, sf))
    val n = "BroadcastHashJoin".r.findAllIn(p).length
    assert(n >= 3, s"expected 3 broadcast joins (2 word probes + exact), got $n:\n$p")
    assert(!p.contains("SortMergeJoin"), s"bloom probe shuffled the fact side:\n$p")
  }

  test("redaction is a pure projection over the scan (no shuffle before the sort)") {
    val p = plan(graft.llm.TextStats.qRedact(spark, sf))
    assert(!p.contains("HashAggregate") && !p.contains("SortMergeJoin"),
      s"redaction plan grew non-projection operators:\n$p")
  }

  test("bucketed join reads co-located buckets with NO exchange on either side") {
    import graft.sources.SinkQueries
    SinkQueries.qJoinBucketed(spark, sf).collect() // writes the bucketed tables
    // Force the SMJ path (AQE would broadcast these small sides) to prove
    // the bucketed distribution is what eliminates the shuffle.
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val p = plan(SinkQueries.bucketedJoinPlan(spark, sf))
      assert(p.contains("SortMergeJoin"), s"expected SMJ over bucketed scans:\n$p")
      // Plans print top-down: everything from the SMJ line to the end is the
      // join subtree (its two bucketed scan sides) — that region must hold
      // no Exchange; the aggregation ABOVE the join shuffles as usual.
      val joinSubtree = p.substring(p.indexOf("SortMergeJoin"))
      assert(!joinSubtree.contains("Exchange"),
        s"bucketed join still shuffles a side:\n$p")
      assert(p.contains("SelectedBucketsCount"), s"scan is not bucket-aware:\n$p")
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.unset("spark.sql.adaptive.enabled")
    }
  }

  test("column profiling runs all distinct-counts in ONE scan (Expand, not N passes)") {
    val p = plan(Relational.qProfile(spark, sf))
    val scans = "Scan parquet".r.findAllIn(p).length
    assert(scans == 1, s"profile should scan lineitem once, found $scans scans:\n$p")
    assert(p.contains("Expand"), s"multi-distinct agg did not lower to Expand:\n$p")
  }

  test("sequence packing windows are sharded, never a single global partition") {
    val p = plan(graft.llm.TextStats.qPackSequences(spark, sf))
    assert(p.contains("Window"), s"no window in packing plan:\n$p")
    assert(!p.contains("SinglePartition"),
      s"cumulative window collapsed to one partition — packing would serialize:\n$p")
  }

  test("decontaminate probes the eval-gram set by hash equi-join, never cartesian") {
    val p = plan(Dedup.qDecontaminate(spark, sf))
    assert(!p.contains("CartesianProduct"), s"cartesian in plan:\n$p")
    // The probe key is the 8-byte shingle hash — gram strings never join.
    assert(p.contains("shingle"), s"inverted-index key missing:\n$p")
  }

  test("round-7 dedup/scoring additions stay index joins, never cartesian") {
    // Containment: the candidate join must ride the inverted shingle index;
    // incremental: both probes (digest + band) are equi-joins; semantic:
    // within-cell pairing is an equi-join on cell; lm_score: the scoring
    // join probes the vocab hash table. The one sanctioned non-equi join
    // is lm_score's 1-row total cross join (broadcast, O(vocab) work).
    for ((name, q) <- Seq(
      "containment" -> Dedup.qDedupContainment(spark, sf),
      "incremental" -> Dedup.qDedupIncremental(spark, sf),
      "semantic" -> Similarity.qDedupSemantic(spark, sf))) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"cartesian in $name plan:\n$p")
      assert(!p.contains("BroadcastNestedLoopJoin"),
        s"non-equi join in $name plan:\n$p")
    }
    val lm = plan(TextStats.qLmScore(spark, sf))
    assert(!lm.contains("CartesianProduct"), s"cartesian in lm_score plan:\n$lm")
    // The E-sized scoring probe joins on tok (hash or broadcast-hash).
    assert("(BroadcastHashJoin|ShuffledHashJoin|SortMergeJoin).*\\btok\\b".r
      .findFirstIn(lm.replaceAll("\n", " ")).isDefined ||
      lm.contains("tok"), s"vocab probe key missing:\n$lm")
  }

  test("dup-fraction: equi-join on shingle, partial aggs, no cartesian") {
    val q = Dedup.qDedupFraction(spark, sf)
    q.collect() // finalize AQE
    val p = plan(q)
    assert(!p.contains("CartesianProduct"), s"cartesian in plan:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"non-equi join:\n$p")
    // The index→df join probes on the 8-byte shingle hash. The plan is
    // declarative — at this scale AQE builds the tiny df side broadcast;
    // at corpus scale the same plan exceeds the threshold and degrades to
    // a shuffle join co-partitioned with the df groupBy's exchange.
    val flat = p.replaceAll("\n", " ")
    assert("(BroadcastHashJoin|ShuffledHashJoin|SortMergeJoin) \\[shingle".r
      .findFirstIn(flat).isDefined, s"shingle equi-join missing:\n$p")
    // Both hash-aggs (df count, per-doc rollup) combine map-side.
    assert("partial_count".r.findAllIn(p).nonEmpty &&
      "partial_sum".r.findAllIn(p).nonEmpty,
      s"missing partial aggregation:\n$p")
  }

  test("label-prop round: broadcast label join + hash-agg argmax, no sort window") {
    import org.apache.spark.sql.functions.col
    val e = graft.ops.GraphOps.edges(spark, sf).select(col("src"), col("dst"))
    val l0 = e.select(col("src").as("id")).distinct()
      .select(col("id"), col("id").as("label"))
    val p = plan(graft.ops.GraphOps.labelPropRound(e, l0, 100))
    // V-sized labels build-side into the E-sized stream...
    assert(p.contains("BroadcastHashJoin"), s"labels not broadcast:\n$p")
    // ...and the modal-label pick is partial-aggregatable HashAggregates
    // (count over (dst,label), then max(struct) over dst) — a Window would
    // sort every vertex's neighborhood instead.
    assert(!p.contains("Window"), s"sort-window argmax crept in:\n$p")
    val n = "HashAggregate".r.findAllIn(p).length
    assert(n >= 4, s"expected two partial+final agg pairs, plan:\n$p")
  }

  test("triangle adjacency: broadcast key probes + pre-shuffle orientation; probe broadcasts adj") {
    import org.apache.spark.sql.functions.col
    val (e, nV) = graft.ops.GraphOps.edgesWithCount(spark, sf)
    val adj = graft.ops.GraphOps.triangleAdjacency(
      e.select(col("src"), col("dst")), nV)
    val pa = plan(adj)
    // The packed (deg,id) key table is V-sized and must ride build-side
    // into the E-sized edge stream on BOTH endpoints — a SortMergeJoin
    // here would shuffle the edges on top of the groupBy(dst).
    val nBcast = "BroadcastHashJoin".r.findAllIn(pa).length
    assert(nBcast >= 2, s"both key probes must broadcast:\n$pa")
    assert(!pa.contains("SortMergeJoin"), s"edge stream shuffled for the key join:\n$pa")
    // The orientation predicate must run BEFORE the collect_list shuffle
    // so collected arrays are arboricity-bounded N+, never a hub's full
    // Δ-sized neighborhood. Catalyst folds it into the dst-side broadcast
    // join's condition — assert that predicate sits BELOW the collect_list
    // aggregate in the tree (larger line index = deeper).
    val lines = pa.linesIterator.toIndexedSeq
    val predIdx = lines.indexWhere(l =>
      l.contains("s_key") && l.contains("> d_key"))
    val aggIdx = lines.indexWhere(_.contains("collect_list"))
    assert(aggIdx >= 0 && predIdx > aggIdx,
      s"orientation predicate must evaluate below the collect_list agg (pre-shuffle):\n$pa")
    // No window, no cartesian.
    assert(!pa.contains("Window") && !pa.contains("CartesianProduct"), pa)
    // The triple build broadcasts the V-sized adjacency into the exploded
    // edge stream and intersects with the codegen sorted-merge expression.
    val pp = plan(graft.ops.GraphOps.triangleTriplesPlan(adj, nV, nV * 4L))
    assert(pp.contains("BroadcastHashJoin"), s"adjacency not broadcast:\n$pp")
    assert(!pp.contains("SortMergeJoin") && !pp.contains("CartesianProduct"), pp)
    assert(pp.contains("graft_sorted_intersect"),
      s"codegen sorted-intersect expression missing from the triple build:\n$pp")
    // (array_sort still appears once in the plan — the adjacency build's
    // neighbor-array sort; the per-TRIANGLE 3-array sort is what moved to
    // least/greatest scalars.)
    assert(!pp.contains("array_intersect"),
      s"per-row hash-set intersect crept back into the triple build:\n$pp")
    // The adjacency's byte signal is the SECOND gate (r13 ADVICE): at the
    // same |V| row count, an |E|-derived payload past MaxBytes must drop
    // the broadcast (degrade to a shuffle join) — adj rows carry Θ(|E|)
    // longs in their arrays, and a row-only gate would sail past Spark's
    // 8 GB broadcast hard cap and fail the job outright.
    // Assert on the LOGICAL hint, not the physical operator: at spec data
    // sizes Spark's own autoBroadcastJoinThreshold still picks a broadcast
    // join for the tiny relation, which is fine — the contract under test
    // is that OUR hint disappears (on a real graph past the threshold the
    // relation is over the auto threshold too and the join shuffles).
    def nHints(d: org.apache.spark.sql.DataFrame): Int =
      d.queryExecution.analyzed.collect {
        case h: org.apache.spark.sql.catalyst.plans.logical.ResolvedHint => h
      }.size
    val okHints = nHints(graft.ops.GraphOps.triangleTriplesPlan(adj, nV, nV * 4L))
    val overHints = nHints(graft.ops.GraphOps.triangleTriplesPlan(
      adj, nV, graft.ops.Broadcasts.MaxBytes + 1L))
    assert(overHints == okHints - 1,
      s"oversized adjacency payload must drop exactly the build-side hint: " +
        s"ok=$okHints over=$overHints")
  }

  test("truss bloom prefilter is gated on the round's removal count") {
    // The round's Bloom filter is a driver-built plan LITERAL (~1.8 B/item
    // at 0.1% FPP) — past graft.truss.bloomMaxItems the round must fall
    // back to the exact semi joins over the full memo instead of shipping
    // a multi-GB literal with every task binary (r14 verdict item 5).
    import org.apache.spark.sql.functions.col
    val tri = graft.ops.GraphOps.triangleTriples(spark, sf)
    val removed = tri.select(col("p").as("a"), col("q").as("b")).limit(4)
    val below = graft.ops.GraphOps.trussRoundCandidates(tri, removed, 4L)
    assert(plan(below).contains("graft_bloom_contains"),
      s"bloom prefilter missing below the item cap:\n${plan(below)}")
    spark.conf.set(graft.ops.GraphOps.BloomMaxItemsKey, "2")
    try {
      val over = graft.ops.GraphOps.trussRoundCandidates(tri, removed, 4L)
      assert(!plan(over).contains("graft_bloom_contains"),
        s"bloom literal built past the item cap:\n${plan(over)}")
    } finally spark.conf.unset(graft.ops.GraphOps.BloomMaxItemsKey)
  }

  test("bm25 explodes only query-term hits, not the corpus token stream") {
    // Inspect the pre-checkpoint hit stream (the tf checkpoint truncates
    // qBm25's executed plan at a Scan ExistingRDD): the array filter must
    // sit INSIDE the Generate's input — an explode of the raw token array
    // would make the exploded relation corpus-token-sized instead of
    // |Q|-bounded per document.
    import org.apache.spark.sql.functions.col
    val docs = graft.tables.Tables.documents(spark, sf)
      .select(col("doc_id"), col("text"))
    val p = plan(graft.llm.TextStats.bm25Hits(docs))
    val gen = p.linesIterator.find(_.contains("Generate explode"))
      .getOrElse(fail(s"no Generate node:\n$p"))
    assert(gen.contains("filter("),
      s"explode input is the unfiltered token array:\n$p")
    // And the full query never degrades to a cartesian.
    assert(!plan(graft.llm.TextStats.qBm25(spark, sf)).contains("CartesianProduct"))
  }

  test("modularity: broadcast label joins + hash aggs, no window, no cartesian on data") {
    graft.ops.GraphOps.qModularity(spark, sf).collect()
    val p = plan(graft.ops.GraphOps.qModularity(spark, sf))
    // V-sized label tables ride build-side into the E-sized edge stream at
    // gate scale; the three one-row summaries meet in broadcast loop joins
    // (fine — single-row sides), never a data-sized cartesian.
    assert(p.contains("BroadcastHashJoin"), s"labels not broadcast:\n$p")
    assert(!p.contains("Window"), s"sort-window crept in:\n$p")
    val n = "HashAggregate".r.findAllIn(p).length
    assert(n >= 4, s"expected partial+final agg pairs, plan:\n$p")
  }

  test("k-core delta peel: fixpoint output is pure maintained state, no edge pass") {
    val core = graft.ops.GraphOps.qKcore(spark, sf)
    assert(core.count() > 0)
    // The delta peel maintains (vid, deg) by subtraction, so the returned
    // plan must be the materialized V-sized state + presentation sort —
    // NO join and NO edge scan (the pre-r7 shape re-aggregated every
    // surviving edge in a final pass; that pass is gone by design).
    val p = plan(core)
    assert(!p.contains("Join"), s"fixpoint output re-joined the edges:\n$p")
    assert(!p.contains("FileScan"), s"fixpoint output rescanned input:\n$p")
  }

  test("adaptive broadcast hint drops past the configured thresholds") {
    import org.apache.spark.sql.functions.col
    import graft.ops.Broadcasts
    val s2 = spark.newSession()
    // Disable the auto-broadcast size rule so any BroadcastHashJoin in the
    // plan can only come from the hint under test.
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val big = s2.range(0, 1000).toDF("src")
    val probe = s2.range(0, 100).toDF("vid")
    def joined(p: org.apache.spark.sql.DataFrame): String =
      big.join(p, col("src") === col("vid")).queryExecution.executedPlan.toString
    // Exact-rows signal: under the bound → hinted broadcast; past it → the
    // same join degrades to a shuffle.
    assert(joined(Broadcasts.maybeBroadcast(probe, 100)).contains("BroadcastHashJoin"))
    assert(!joined(Broadcasts.maybeBroadcast(probe, Broadcasts.DefaultMaxRows + 1))
      .contains("BroadcastHashJoin"))
  }

  test("the hint follows observed rows, not a size estimate past 2 GiB") {
    import org.apache.spark.sql.functions.col
    import graft.ops.{Broadcasts, State}
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val big = s2.range(0, 1000).toDF("src")
    // A loop state's statistics are reset, so Catalyst sizes its 100 rows
    // at the defaultSizeInBytes sentinel.
    val side = State.loop(s2.range(0, 100).toDF("vid"))
    try {
      val estimate = side.df.queryExecution.optimizedPlan.stats.sizeInBytes
      assert(estimate > BigInt(2L << 30), s"estimate $estimate")
      assert(side.rows === 100L)
      val p = big.join(Broadcasts.maybeBroadcast(side.df, side.rows),
        col("src") === col("vid")).queryExecution.executedPlan.toString
      assert(p.contains("BroadcastHashJoin"), p)
    } finally side.release()
  }

  test("qValidateColoring degrades V-sized probes to shuffle joins past the row cap") {
    // The query now carries the edge memo's EXACT row bound, so the ROW
    // cap (not the plan-estimate byte cap) is the active threshold.
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s2.conf.set(graft.ops.Broadcasts.MaxRowsKey, "1")
    val p = graft.ops.GraphOps.qValidateColoring(s2, sf)
      .queryExecution.executedPlan.toString
    assert(!p.contains("BroadcastHashJoin"), s"hint survived the row cap:\n$p")
    // At default thresholds the same plan keeps its broadcast probes (the
    // gate-scale fast path).
    val s3 = spark.newSession()
    s3.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val p2 = graft.ops.GraphOps.qValidateColoring(s3, sf)
      .queryExecution.executedPlan.toString
    assert(p2.contains("BroadcastHashJoin"), s"hint missing at defaults:\n$p2")
  }

  test("state sessionizer plans ONE user_id shuffle into the typed state operator") {
    val df = graft.ops.StreamQueries.qStreamSessionState(spark, sf)
    val p = plan(df)
    // Batch lowers flatMapGroupsWithState to MapGroups over a single
    // hash-partitioned exchange on the grouping key — the per-user fold
    // never reshuffles; the only other exchange is the output orderBy's
    // range partitioning.
    assert(p.contains("MapGroups") || p.contains("FlatMapGroupsWithState"),
      s"typed state operator missing:\n$p")
    val hashExchanges = "hashpartitioning".r.findAllIn(p).length
    assert(hashExchanges == 1,
      s"expected exactly one hash exchange (user_id), got $hashExchanges:\n$p")
  }

  test("custom hash expressions run inside WholeStageCodegen") {
    import org.apache.spark.sql.functions._
    val df = graft.tables.Tables.documents(spark, sf)
      .select(col("doc_id"),
        call_function("graft_minhash_sig",
          graft.llm.TextStats.tokens(col("text")), lit(3), lit(32)).as("sig"),
        call_function("graft_simhash",
          graft.llm.TextStats.tokens(col("text"))).as("sh"))
    df.collect()
    val p = plan(df)
    assert(p.contains("*("), s"expression stage not codegen'd:\n$p")
  }

  test("global rank-k windows are group-limited map-side (localTopK prune)") {
    // Spark's InferWindowGroupLimit only fires on windows with a non-empty
    // partitionSpec, so a bare global row_number ≤ k filter moves the WHOLE
    // input to one partition. Relational.localTopK ranks within
    // spark_partition_id groups first — pin that both rank-k consumers
    // plan the WindowGroupLimit pair (Partial before the shuffle, Final
    // after) so the single-partition sort only ever sees ≤ P·k survivors.
    for ((name, df) <- Seq(
      "q_heavy_hitters" -> graft.ops.Sketches.qHeavyHitters(spark, sf),
      "q_bm25" -> graft.llm.TextStats.qBm25(spark, sf))) {
      val p = plan(df)
      val n = "WindowGroupLimit".r.findAllIn(p).length
      assert(n >= 2, s"$name: expected partial+final WindowGroupLimit, got $n:\n$p")
    }
  }

  test("r11 analytics ops: no cartesian anywhere; 1-row attaches broadcast") {
    // The only cross joins in these plans attach 1-row totals/codebooks —
    // they must plan as BroadcastNestedLoop (build side = the single row),
    // never CartesianProduct (both sides streamed P×Q).
    for ((name, df) <- Seq(
      "q_assoc_rules" -> graft.ops.EventAnalytics.qAssocRules(spark, sf),
      "q_ks_drift" -> graft.llm.TextStats.qKsDrift(spark, sf),
      "q_chisq_drift" -> graft.llm.TextStats.qChisqDrift(spark, sf),
      "q_token_budget" -> graft.llm.TextStats.qTokenBudget(spark, sf),
      "q_k_anonymity" -> Relational.qKAnonymity(spark, sf),
      "q_user_paths" -> graft.ops.EventAnalytics.qUserPaths(spark, sf),
      "q_silhouette" -> Similarity.qSilhouette(spark, sf))) {
      val p = plan(df)
      assert(!p.contains("CartesianProduct"), s"$name cartesian:\n$p")
    }
  }

  test("q_dp_count: one map-side-combined agg, in-row noise, no join") {
    val p = plan(Relational.qDpCount(spark, sf))
    assert("HashAggregate".r.findAllIn(p).length >= 2,
      s"expected partial+final HashAggregate:\n$p")
    assert(!p.contains("Join"), s"noise must be in-row scalar work:\n$p")
  }

  test("q_silhouette scores against centroid literals — no corpus-sized join") {
    // The L centroids ride into the plan as literals (the kmeans codebook
    // stance); the only joins allowed are the L-row card/rival attach.
    val p = plan(Similarity.qSilhouette(spark, sf))
    assert(!p.contains("SortMergeJoin"),
      s"corpus-sized shuffle join in silhouette:\n$p")
  }

  test("q_assoc_rules: marginal joins broadcast under maybeBroadcast") {
    val p = plan(graft.ops.EventAnalytics.qAssocRules(spark, sf))
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
      s"marginals not broadcast at test scale:\n$p")
  }

  /** A 200-vertex random graph's edges and a landed all-uncolored round
    * state whose used masks differ, so the candidates do too (an all-zero
    * mask folds every candidate to the constant 0). */
  private def jpInput() = {
    import org.apache.spark.sql.functions.{col, count, lit, pmod}
    val e = graft.model.RandomGraph.edges(spark, 200, 5, seed = 42)
    val state = graft.ops.State.loop(
      e.groupBy(col("src").as("id")).agg(count(lit(1)).cast("int").as("deg"))
        .select(col("id"), lit(-1).as("color"), col("deg"),
          pmod(col("id"), lit(4L)).as("used")))
    (e, state)
  }

  /** One Jp mask round over `jpInput`, and its admit. A mask round
    * runs its admit inside the plan that lands its next state, so the admit
    * is rebuilt here, with the round's broadcast side, on the round's
    * candidates. */
  private def jpMaskRound(e: org.apache.spark.sql.DataFrame,
      state: org.apache.spark.sql.DataFrame) = {
    import graft.color.ColoringKernel
    val round = ColoringKernel.jpRoundMask(e, state, 200, 0)
    val cand = ColoringKernel.maskCandidates(state)
    val side = graft.ops.Broadcasts.maybeBroadcast(_: org.apache.spark.sql.DataFrame, 200L)
    (round, ColoringKernel.admit(cand, ColoringKernel.beaten(e, cand, side), side))
  }

  /** Every operator of `df`'s executed plan, adaptive query stages
    * included; a reused exchange is one leaf. */
  private def executedOps(df: org.apache.spark.sql.DataFrame) = {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    df.collect()
    new AdaptiveSparkPlanHelper {}.collect(df.queryExecution.executedPlan) { case p => p }
  }

  /** The key count of each BroadcastHashJoin among `ops`. */
  private def broadcastJoinKeyCounts(ops: Seq[org.apache.spark.sql.execution.SparkPlan]): Seq[Int] =
    ops.collect {
      case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => j.leftKeys.size
    }

  test("Jp rounds admit by a hash-aggregated beaten test, never a SortAggregate") {
    import graft.color.ColoringKernel
    val (e, state) = jpInput()
    try {
      // A one-word mask round's admit, and a whole round whose 64 colors
      // used widen the mask to two words. A max(struct(deg, -id)) admit
      // plans a sorting SortAggregate per round (no hash buffer for a
      // struct); the beaten-id distinct must not.
      for ((name, round) <- Seq(
        "one-word" -> jpMaskRound(e, state.df)._2,
        "two-word" -> ColoringKernel.jpRoundMask(e, state.df, 200, 64))) {
        val p = plan(round)
        assert(p.contains("a_cand"), s"$name round: no candidate test:\n$p")
        assert("HashAggregate\\(keys=\\[a_id".r.findFirstIn(p).isDefined,
          s"$name round: beaten ids not hash-aggregated:\n$p")
        assert(!p.contains("SortAggregate"), s"$name round sorts to aggregate:\n$p")
      }
      assert(ColoringKernel.jpRoundMask(e, state.df, 200, 64).columns.toSeq ===
        Seq("id", "color", "deg", "used", "used1"))
    } finally state.release()
  }

  test("a Jp mask round plans no InMemoryRelation and no SortMergeJoin") {
    val (e, state) = jpInput()
    try {
      val (round, admit) = jpMaskRound(e, state.df)
      for ((name, df) <- Seq("round" -> round, "admit" -> admit)) {
        val p = plan(df)
        assert(p.contains("a_cand"), s"$name: no candidate test:\n$p")
        assert(!p.contains("InMemoryRelation") && !p.contains("InMemoryTableScan"),
          s"$name reads a columnar cache:\n$p")
        assert(!p.contains("SortMergeJoin"), s"$name plans a sort-merge join:\n$p")
      }
    } finally state.release()
  }

  test("a Jp mask round and validate probe broadcasts on one key, and reuse each") {
    import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
    import org.apache.spark.sql.functions.{col, lit, pmod}
    import graft.color.ColoringKernel
    val (e, state) = jpInput()
    try {
      val round = jpMaskRound(e, state.df)._1
      // A two-color labelling: about half the edges conflict.
      val conflicts = ColoringKernel.conflictPairs(e,
        state.df.select(col("id"), pmod(col("id"), lit(2)).cast("int").as("color")), 200L)
      // Both endpoints probe one broadcast of the candidates (the colors),
      // and the round's second read of its updates reuses the first.
      for ((name, df, probed) <- Seq(("round", round, "cand"), ("validate", conflicts, "color"))) {
        val ops = executedOps(df)
        val keys = broadcastJoinKeyCounts(ops)
        assert(keys.nonEmpty && keys.forall(_ == 1),
          s"$name: broadcast join key counts $keys\n${df.queryExecution.executedPlan}")
        val built = ops.collect {
          case b: BroadcastExchangeExec if b.output.exists(_.name.endsWith(probed)) => b
        }
        assert(built.size === 1,
          s"$name: $probed broadcast ${built.size} times\n${df.queryExecution.executedPlan}")
      }
    } finally state.release()
  }

  test("Jp round 0 plans no join and one aggregate, with and without extra vertices") {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join}
    import graft.color.ColoringKernel
    val e = graft.ops.State.memo(graft.model.RandomGraph.edges(spark, 200, 5, seed = 42))
    try {
      for (extra <- Seq(None, Some(spark.range(0, 250).toDF("id")))) {
        val round0 = ColoringKernel.roundZero(e.df, extra)
        val opt = round0.queryExecution.optimizedPlan
        assert(opt.collect { case j: Join => j }.isEmpty, s"extra=$extra joins:\n$opt")
        assert(opt.collect { case a: Aggregate => a }.size === 1,
          s"extra=$extra: not one aggregate:\n$opt")
        assert(!plan(round0).contains("Join"), s"extra=$extra joins:\n${plan(round0)}")
      }
    } finally e.release()
  }
}
