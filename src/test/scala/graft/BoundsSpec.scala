package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.llm.TextStats
import graft.ops.{Broadcasts, GraphOps}

/** Executable headroom bounds (r6 VERDICT item 6): every documented scale
  * guard must fail LOUDLY just past its bound — assert/exception, never a
  * silent wrap into wrong results. One case per documented rule:
  *
  *  - triangle packed (deg, id) keys: id < 2³³ (data-injected — an
  *    oversized vertex id trips the in-plan assert);
  *  - q_assortativity BIGINT moment width (conf-injected bound — a 10⁹-edge
  *    corpus is not synthesizable in a spec, so the threshold is
  *    session-configurable and the default IS the documented 9.2e18);
  *  - q_bm25 fixed-point idf headroom (conf-injected, same reasoning —
  *    the real bound is N ≈ 10¹⁰ docs);
  *  - broadcast row threshold: the hint must actually disappear past the
  *    bound (the PlanShapeSpec pins the full-plan version; this is the
  *    unit case on the helper itself).
  *
  * The GraphIO single-file ceiling (graft.io.maxCollectRows) is covered by
  * CliSpec's oversize-routing cases; the GreedyRdd 64-bit color mask by
  * ColoringKernelSpec's Δ = 80 case, where the greedy kernel declines a
  * Δ+1 past 64 and the run is the Jp one.
  */
class BoundsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.get
  private val sf = Corpus.dir("sf0.001")

  /** assert_true failures surface as a SparkException (or runtime subclass)
    * whose message chain carries the assert text — walk the causes. */
  private def messageChain(t: Throwable): String = {
    val sb = new StringBuilder
    var cur: Throwable = t
    var depth = 0
    while (cur != null && depth < 10) {
      sb.append(Option(cur.getMessage).getOrElse("")).append(" | ")
      cur = cur.getCause
      depth += 1
    }
    sb.toString
  }

  test("triangle packed key fails loudly on an id past 2^33") {
    import spark.implicits._
    val big = 1L << 33 // == TRI_ID_MASK + 1, first id the pack cannot hold
    val e = Seq((big, 1L), (1L, big), (1L, 2L), (2L, 1L), (2L, big), (big, 2L))
      .toDF("src", "dst")
    val ex = intercept[Exception] {
      GraphOps.triangleAdjacency(e, vBound = 10L).collect()
    }
    assert(messageChain(ex).contains("not true") ||
      messageChain(ex).toLowerCase.contains("assert"),
      s"expected the packed-key assert, got: ${messageChain(ex)}")
  }

  test("triangle packed key accepts the id exactly AT the bound") {
    import spark.implicits._
    val edge = (1L << 33) - 1L // largest representable id — must NOT trip
    val e = Seq((edge, 1L), (1L, edge)).toDF("src", "dst")
    assert(GraphOps.triangleAdjacency(e, vBound = 10L).collect().nonEmpty)
  }

  test("q_assortativity fails loudly past the injected moment bound") {
    spark.conf.set(GraphOps.AssortMaxMomentKey, "1.0")
    try {
      val ex = intercept[Exception] {
        GraphOps.qAssortativity(spark, sf).collect()
      }
      assert(messageChain(ex).contains("qAssortativity"),
        s"expected the width assert, got: ${messageChain(ex)}")
    } finally spark.conf.unset(GraphOps.AssortMaxMomentKey)
    // And the documented default passes on the same corpus.
    assert(GraphOps.qAssortativity(spark, sf).collect().length === 1)
  }

  test("q_bm25 fails loudly past the injected corpus-size bound") {
    spark.conf.set(TextStats.Bm25MaxDocsKey, "1")
    try {
      val ex = intercept[Exception] {
        TextStats.qBm25(spark, sf).collect()
      }
      assert(messageChain(ex).contains("qBm25"),
        s"expected the idf-headroom assert, got: ${messageChain(ex)}")
    } finally spark.conf.unset(TextStats.Bm25MaxDocsKey)
    assert(TextStats.qBm25(spark, sf).collect().nonEmpty)
  }

  test("q_pca_power past the vector-count crossover is bit-identical (wide path)") {
    // Below the crossover: the fast single-long column sum.
    val narrow = graft.llm.Similarity.qPcaPower(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(narrow.length === 64)
    // Force the segmented DECIMAL(38,0) second level on the same corpus:
    // integer addition is associative, so the wide regrouped accumulation
    // must reproduce the narrow result EXACTLY — not approximately.
    spark.conf.set(graft.llm.Similarity.PcaMaxVecsKey, "1")
    try {
      val wide = graft.llm.Similarity.qPcaPower(spark, sf).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(wide === narrow)
    } finally spark.conf.unset(graft.llm.Similarity.PcaMaxVecsKey)
  }

  test("broadcast hint disappears past the row threshold") {
    import spark.implicits._
    val df = (1 to 10).toDF("x")
    spark.conf.set(Broadcasts.MaxRowsKey, "5")
    try {
      def hasHint(d: org.apache.spark.sql.DataFrame): Boolean =
        d.queryExecution.analyzed.collect {
          case h: org.apache.spark.sql.catalyst.plans.logical.ResolvedHint => h
        }.nonEmpty
      assert(hasHint(Broadcasts.maybeBroadcast(df, rows = 5L)))
      assert(!hasHint(Broadcasts.maybeBroadcast(df, rows = 6L)))
    } finally spark.conf.unset(Broadcasts.MaxRowsKey)
  }

  test("BFS round broadcasts on the exact frontier count, not |V|") {
    // r14 verdict item 6: with the row cap BELOW the vertex count but
    // ABOVE the frontier size, the frontier hint must SURVIVE (the old
    // |V|-proxy bound dropped it every round at huge |V| even when the
    // frontier was a handful of rows), and a frontier past the cap must
    // still drop it (degrade to a shuffle join, never an OOM).
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val adj = Seq((0L, Array(1L, 2L)), (1L, Array(0L)), (2L, Array(0L)),
      (3L, Array(4L)), (4L, Array(3L)), (5L, Array(6L)), (6L, Array(5L)))
      .toDF("src", "nbrs")
    val frontier = Seq((0L, 0L, 0L)).toDF("seed", "id", "dist")
    val check = frontier.select(col("seed"), col("id"))
    def nHints(d: org.apache.spark.sql.DataFrame): Int =
      d.queryExecution.analyzed.collect {
        case h: org.apache.spark.sql.catalyst.plans.logical.ResolvedHint => h
      }.size
    spark.conf.set(Broadcasts.MaxRowsKey, "3") // < |V| = 7, > frontier = 1
    try {
      val round = graft.ops.GraphOps.bfsRound(adj, frontier, 1L, check, 1L)
      assert(nHints(round) == 2,
        s"frontier + settled-check hints must survive a small frontier at |V| over the cap, got ${nHints(round)}")
      val over = graft.ops.GraphOps.bfsRound(adj, frontier, 4L, check, 4L)
      assert(nHints(over) == 0,
        s"hints must drop for a frontier past the cap, got ${nHints(over)}")
    } finally spark.conf.unset(Broadcasts.MaxRowsKey)
  }

  test("semantic dedup sub-buckets a degenerate all-one-cell corpus") {
    import spark.implicits._
    // Adversarial corpus: 64 IDENTICAL unit vectors in ONE cell — the
    // uncapped compare is 64²/2 pairs; with cap=8 the cell splits into 8
    // md5 sub-buckets and each vector only compares within its own.
    val v = Array.tabulate(4)(i => if (i == 0) 1.0 else 0.0)
    val bucketed = (0L until 64L).map(id => (id, v, 0))
      .toDF("vec_id", "v", "cell")
    val cap = 8
    val out = graft.llm.Similarity.dedupSemanticOver(bucketed, cap)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getInt(3))).toSeq
    assert(out.length === 64)
    // Re-derive the sub-bucket rule (md5 first-8-hex mod ⌈64/8⌉ = 8) and
    // check every decision against it: keeper ⇔ smallest id in its
    // sub-bucket; dup_of = that smallest id otherwise.
    def subOf(id: Long): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
        .take(4).map(b => f"${b & 0xFF}%02x").mkString
      java.lang.Long.parseLong(hex, 16) % 8L
    }
    val minOfSub = (0L until 64L).groupBy(subOf).map { case (s, ids) => (s, ids.min) }
    out.foreach { case (id, dupOf, keep) =>
      val expectMin = minOfSub(subOf(id))
      if (id == expectMin) assert(keep === 1 && dupOf === -1L, s"id=$id")
      else assert(keep === 0 && dupOf === expectMin, s"id=$id")
    }
    // The guard bounds the quadratic term: no sub-bucket exceeds ~2·cap
    // under the md5 spread on this corpus (the complexity envelope).
    assert(minOfSub.size > 1)
    val sizes = (0L until 64L).groupBy(subOf).values.map(_.size)
    assert(sizes.max <= 2 * cap, s"sub-bucket sizes: $sizes")
    // Cap OFF (default, above the cell size): exact SemDedup semantics —
    // everything is a dup of vector 0.
    val exact = graft.llm.Similarity
      .dedupSemanticOver(bucketed, graft.llm.Similarity.DefaultSemDedupCellCap)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getInt(3))).toSeq
    exact.foreach { case (id, dupOf, keep) =>
      if (id == 0L) assert(keep === 1 && dupOf === -1L)
      else assert(keep === 0 && dupOf === 0L)
    }
  }

  test("dedup spans on an all-identical corpus: one full-coverage span per doc") {
    import spark.implicits._
    // The adversarial dup-density extreme: 50 byte-identical docs — every
    // window occurs 50x, so every position is marked and the spans must
    // merge into ONE per doc covering all tokens (frac exactly 1.0). The
    // W-per-marked-window coverage bound means this worst case explodes
    // 50·(40−8+1)·8 rows, linear in corpus tokens — not corpus².
    val text = (1 to 40).map(i => s"tok$i").mkString(" ")
    val docs = (0L until 50L).map(i => (i, text)).toDF("doc_id", "text")
    val out = graft.llm.Dedup.dedupSpansOver(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5)))
    assert(out.length === 50)
    out.foreach { case (_, n, wins, spans, cov, frac) =>
      assert(n === 40L && wins === 33L && spans === 1L && cov === 40L &&
        frac === 1.0)
    }
  }

  test("ngram pairs collapse identical shingle sets: 64-fold dup corpus joins 1 rep, emits C(64,2)") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // The all-identical extreme the r9 verdict flagged: pair emission on a
    // dup-dense corpus grows with dup-multiplicity². The identical-set
    // collapse must run the shingle self-join on ONE representative per
    // distinct set (not 64² bucket rows) and only the Ω(output) member
    // expansion stays quadratic — all C(64,2) pairs at jaccard exactly 1.0.
    val text = (1 to 20).map(i => s"w$i").mkString(" ")
    val docs = (0L until 64L).map(i => (i, text)).toDF("doc_id", "text")
    val out = graft.llm.Dedup.ngramJaccardPairsOf(docs, n = 3, threshold = 0.2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(out.length === 64 * 63 / 2)
    assert(out.forall { case (a, b, j) => a < b && j === 1.0 })
    // Mixed corpus: a second distinct class (near-dup of the first — one
    // trailing token differs) exercises the CROSS-class expansion: every
    // (classA, classB) member pair carries the rep-level exact jaccard.
    val text2 = text + " extra"
    val mixed = ((0L until 4L).map(i => (i, text)) ++
      (10L until 14L).map(i => (i, text2))).toDF("doc_id", "text")
    val m = graft.llm.Dedup.ngramJaccardPairsOf(mixed, n = 3, threshold = 0.2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    // 18 trigrams in A, 19 in B, 18 shared -> jaccard 18/19.
    val cross = m.filter { case (a, b, _) => a < 10 && b >= 10 }
    val intra = m.filterNot { case (a, b, _) => a < 10 && b >= 10 }
    assert(cross.length === 16 && cross.forall(_._3 === 18.0 / 19.0))
    assert(intra.length === 2 * (4 * 3 / 2) && intra.forall(_._3 === 1.0))
  }

  test("ngram spanning edge set: identical components to all-pairs, linear edge volume, both paths") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // The q_dedup_ngram bounded-default contract (r13 verdict item 3): the
    // edgesOnly spanning set (class stars + rep pairs) must yield EXACTLY
    // the connected components of the all-pairs output while emitting
    // fewer edges on a dup-dense corpus. Corpus: class A (4 identical),
    // class B (3 identical, near-dup of A via one trailing token), class
    // D (2 identical, unrelated text — an intra-only cluster), and a
    // pair-free singleton G (must appear in NEITHER labeling).
    val textA = (1 to 20).map(i => s"w$i").mkString(" ")
    val textB = textA + " extra"
    val textD = (1 to 15).map(i => s"z$i").mkString(" ")
    val textG = (1 to 12).map(i => s"u$i").mkString(" ")
    val docs = ((0L until 4L).map(i => (i, textA)) ++
      (10L until 13L).map(i => (i, textB)) ++
      (20L until 22L).map(i => (i, textD)) ++
      Seq((30L, textG))).toDF("doc_id", "text")
    def ccOf(edges: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      graft.llm.Dedup.ccClusters(spark, edges)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val pairs = graft.llm.Dedup.ngramJaccardPairsOf(docs, n = 3, threshold = 0.2)
      .select(col("doc_a"), col("doc_b"))
    val edges = graft.llm.Dedup.ngramClusterEdges(docs, n = 3, threshold = 0.2)
    // Linear vs quadratic: stars (3+2+1) + one rep pair = 7 edges, vs
    // C(7,2) cross+intra A∪B pairs + C(2,2) D pairs = 21 + 1 = 22.
    assert(edges.count() === 7L, "spanning set must be stars + rep pairs")
    assert(pairs.count() === 22L)
    val expected = ccOf(pairs)
    assert(ccOf(edges) === expected)
    // Expected shape: A∪B one cluster rep 0 (7 members), D rep 20, no G.
    assert(expected.map(_._1) === Set(0L, 1L, 2L, 3L, 10L, 11L, 12L, 20L, 21L))
    assert(expected.count(_._2 === 0L) === 7 && expected.count(_._2 === 20L) === 2)
    // Doc-level path parity: force-disable the collapse (fraction > 1.0)
    // — edgesOnly then returns the thresholded pairs themselves, and the
    // components still agree.
    spark.conf.set(graft.llm.Dedup.CollapseMinDupFracKey, "2.0")
    try {
      val e2 = graft.llm.Dedup.ngramClusterEdges(docs, n = 3, threshold = 0.2)
      assert(e2.count() === 22L, "doc path emits the pairs as edges")
      assert(ccOf(e2) === expected)
    } finally spark.conf.unset(graft.llm.Dedup.CollapseMinDupFracKey)
  }

  test("containment pairs run on the rep-collapsed engine: dup classes, asymmetry, staged parity") {
    import spark.implicits._
    // r11 verdict item 2: containment inherited the replica-quadratic
    // Σ C(df,2) join the ngram collapse already killed. Replica corpus of
    // two near-dup classes (B = A + one trailing token): intra-class pairs
    // come from the closed form (containment = jaccard = 1.0 without
    // scoring), cross-class pairs inherit the rep-level asymmetric scores —
    // A's 16 5-grams all inside B's 17 ⇒ containment exactly 1.0 with
    // jaccard 16/17 — and a staged-pass replay emits the identical set.
    val text = (1 to 20).map(i => s"w$i").mkString(" ")
    val docs = ((0L until 8L).map(i => (i, text)) ++
      (10L until 14L).map(i => (i, text + " extra"))).toDF("doc_id", "text")
    def run(): Set[(Long, Long, Double, Double)] =
      graft.llm.Dedup.containmentPairs(docs, n = 5, threshold = 0.5)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
        .toSet
    val single = run()
    val cross = single.filter { case (a, b, _, _) => a < 10 && b >= 10 }
    val intra = single -- cross
    assert(cross.size === 8 * 4 &&
      cross.forall(p => p._3 === 1.0 && p._4 === 16.0 / 17.0))
    assert(intra.size === (8 * 7 / 2) + (4 * 3 / 2) &&
      intra.forall(p => p._3 === 1.0 && p._4 === 1.0))
    spark.conf.set(graft.llm.Dedup.NgramPassBytesKey, "64")
    val staged = try run() finally
      spark.conf.unset(graft.llm.Dedup.NgramPassBytesKey)
    assert(staged === single)
    // Path parity (r12 adaptive routing): forcing the doc-level path
    // (fraction > 1.0 is the explicit force-doc override — this corpus's
    // concentrated dup mass would otherwise trip the Σ C(m_c,2) guard)
    // must emit the identical pair set the rep-collapse path produced
    // above — both single-shot AND under the staged-pass disk bound (the
    // doc-level stagedPairs slices by hash(doc_id), a different slicing
    // than the rep path's rep_id — r12 ADVICE wanted it pinned too).
    spark.conf.set(graft.llm.Dedup.CollapseMinDupFracKey, "1.01")
    val (docPath, docStaged) = try {
      val dp = run()
      spark.conf.set(graft.llm.Dedup.NgramPassBytesKey, "64")
      val ds = try run() finally
        spark.conf.unset(graft.llm.Dedup.NgramPassBytesKey)
      (dp, ds)
    } finally spark.conf.unset(graft.llm.Dedup.CollapseMinDupFracKey)
    assert(docPath === single)
    assert(docStaged === single)
  }

  test("classPairsOf concentration guard: sub-fraction corpus with one huge dup class routes rep-collapse") {
    import spark.implicits._
    // 3 identical copies in one class + 60 distinct docs: dup fraction
    // 2/63 ≈ 0.032 < 0.05 default, but Σ C(m_c,2) = 3 pairs ≤ 63 docs —
    // still doc-level. Grow the class to 12 copies: fraction 11/71 ≈ 0.15
    // crosses anyway; instead pin the guard in ISOLATION by raising the
    // fraction threshold so only the multiplicity signal can route:
    // 12-copy class gives Σ C(m_c,2) = 66 > 71 docs? No — 66 ≤ 71. Use a
    // 14-copy class: C(14,2) = 91 > 73 total docs, fraction 13/73 ≈ 0.18
    // < the injected 0.5 threshold — ONLY the concentration guard fires.
    val uniq = (0L until 59L).map(i =>
      (100L + i, (1 to 12).map(j => s"u${i}w$j").mkString(" ")))
    val dupText = (1 to 12).map(j => s"dw$j").mkString(" ")
    val docs = ((0L until 14L).map(i => (i, dupText)) ++ uniq)
      .toDF("doc_id", "text")
    spark.conf.set(graft.llm.Dedup.CollapseMinDupFracKey, "0.5")
    val pairs = try
      graft.llm.Dedup.ngramJaccardPairsOf(docs, n = 3, threshold = 0.9)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    finally spark.conf.unset(graft.llm.Dedup.CollapseMinDupFracKey)
    // The identical class must surface all C(14,2) intra pairs at exactly
    // 1.0 whichever engine ran — the routing is a plan choice, not a
    // semantic one; this pins the guard path end-to-end.
    assert(pairs.size === 14 * 13 / 2)
    assert(pairs.forall { case (a, b, j) => a < b && b < 14L && j === 1.0 })
  }

  test("ngram staged passes partition the pair space exactly: multi-pass == single-pass") {
    import spark.implicits._
    // Three near-dup classes with distinct sizes so cross-class pairs carry
    // three different exact jaccards; smaller-rep hash bucketing must
    // reassemble the identical thresholded pair set.
    val base = (1 to 24).map(i => s"w$i").mkString(" ")
    val docs = ((0L until 3L).map(i => (i, base)) ++
      (10L until 13L).map(i => (i, base + " xa")) ++
      (20L until 23L).map(i => (i, base + " xa xb"))).toDF("doc_id", "text")
    def run(): Set[(Long, Long, Double)] =
      graft.llm.Dedup.ngramJaccardPairsOf(docs, n = 3, threshold = 0.2)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val single = run()
    spark.conf.set(graft.llm.Dedup.NgramPassBytesKey, "64")
    val staged = try run() finally
      spark.conf.unset(graft.llm.Dedup.NgramPassBytesKey)
    assert(staged === single)
    assert(single.size === (3 * 9) + (3 * 3))  // 3 class-pairs ×9 cross + 3×C(3,2) intra
    // Pass-count arithmetic: 1 inside the budget, ceil above it, capped.
    import graft.llm.Dedup.ngramPasses
    assert(ngramPasses(0L, 8L << 30) === 1)
    assert(ngramPasses((8L << 30) / 16, 8L << 30) === 1)
    assert(ngramPasses((8L << 30) / 16 + 1, 8L << 30) === 2)
    assert(ngramPasses(Long.MaxValue / 32, 8L << 30) === 64)
  }

  test("labelPropOver wide DECIMAL path matches narrow on a shifted-isomorphic graph") {
    import spark.implicits._
    // Two triangles plus a bridge — enough structure that the 4-round
    // recurrence does real tiebreaking — symmetrized both directions.
    val base = Seq((0L, 1L), (1L, 2L), (2L, 0L), (3L, 4L), (4L, 5L),
      (5L, 3L), (2L, 3L))
    val sym = base.flatMap { case (a, b) => Seq((a, b), (b, a)) }
    val vBound = sym.size.toLong
    val narrow = GraphOps.labelPropOver(spark, sym.toDF("src", "dst"), vBound)
      .orderBy("id").as[(Long, Long)].collect().toSeq
    // Shifting every id past 2³²−1 forces the wide branch (maxId probe)
    // and is a label-prop isomorphism: the recurrence only compares ids,
    // so labels must be the narrow labels shifted by the same offset.
    val off = 1L << 32
    val shifted = sym.map { case (a, b) => (a + off, b + off) }
    val wide = GraphOps.labelPropOver(spark, shifted.toDF("src", "dst"), vBound)
      .orderBy("id").as[(Long, Long)].collect().toSeq
    assert(wide === narrow.map { case (i, l) => (i + off, l + off) })
  }

  test("labelPropRound argmax stays a HashAggregate on BOTH packings") {
    import spark.implicits._
    // The wide DECIMAL(38,0) packing must not regress to a SortAggregate:
    // fixed-width decimal has a mutable hash buffer, so both lanes plan
    // hash-based partial+final aggs.
    val e = Seq((0L, 1L), (1L, 0L)).toDF("src", "dst").repartition(col("dst"))
    val labels = Seq((0L, 0L), (1L, 1L)).toDF("id", "label")
    for (wide <- Seq(false, true)) {
      val p = GraphOps.labelPropRound(e, labels, vBound = 2L, wide = wide)
        .queryExecution.executedPlan.toString
      assert(p.contains("HashAggregate"), s"wide=$wide plan:\n$p")
      assert(!p.contains("SortAggregate"),
        s"wide=$wide argmax regressed to a sort aggregate:\n$p")
    }
  }
}
