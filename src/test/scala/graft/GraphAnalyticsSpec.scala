package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.ops.GraphOps

/** Hand-computed invariants for the GraphX-backed analytics queries (no SQL
  * oracle: iterative). */
class GraphAnalyticsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.get
  private val sf = Corpus.dir("sf0.001")

  test("label propagation: vertex-complete, labels are vertex ids, collapses communities, deterministic") {
    import org.apache.spark.sql.functions._
    val out = GraphOps.qLabelProp(spark, sf).collect()
    val verts = GraphOps.qDegree(spark, sf).select(col("src")).collect()
      .map(_.getLong(0)).toSet
    assert(out.map(_.getLong(0)).toSet === verts, "output must cover the vertex set exactly")
    val labels = out.map(_.getLong(1)).toSet
    assert(labels.subsetOf(verts), "every label is a seed vertex id")
    // 4 synchronous rounds on the dense co-order graph must merge labels
    // (the recurrence is contractive on connected regions).
    assert(labels.size < verts.size, "propagation collapsed no labels")
    // Pure function of the graph: an independent second run is identical.
    val again = GraphOps.qLabelProp(spark, sf).collect()
    assert(out.map(r => (r.getLong(0), r.getLong(1))).toSeq ===
      again.map(r => (r.getLong(0), r.getLong(1))).toSeq)
  }

  test("modularity: components re-derived from labels + raw edges; Q in (-1, 1)") {
    import org.apache.spark.sql.functions._
    val row = GraphOps.qModularity(spark, sf).collect() match {
      case Array(r) => r
      case rs => fail(s"expected one row, got ${rs.length}")
    }
    val (nComm, m, intra, sumDcSq, q) =
      (row.getLong(0), row.getLong(1), row.getLong(2), row.getLong(3), row.getDouble(4))
    // Independent replay from the raw symmetric edge list + the LP labels.
    val edges = GraphOps.edges(spark, sf).select(col("src"), col("dst")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val label = GraphOps.qLabelProp(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val und = edges.filter { case (s, d) => s < d }
    assert(m === und.length.toLong)
    assert(intra === und.count { case (s, d) => label(s) == label(d) }.toLong)
    val dC = edges.groupBy { case (s, _) => label(s) }
      .map { case (_, es) => es.length.toLong }
    assert(nComm === dC.size.toLong)
    assert(sumDcSq === dC.map(d => d * d).sum)
    val expectQ = intra.toDouble / m.toDouble -
      sumDcSq.toDouble / (4L * m * m).toDouble
    assert(q === expectQ)
    assert(q > -1.0 && q < 1.0)
    // Degenerate witness: one community swallowing a connected graph gives
    // intra = m and Σd_c² = 4m², so Q = 0 exactly — that's what 4 LP rounds
    // produce on the tiny sf0.001 co-order graph. Larger scales split.
    if (nComm > 1) assert(q > 0.0, "multi-community LP beats the null model")
    else assert(q === 0.0, "single community ⇒ Q = 0 exactly")
  }

  test("clustering coefficient: wedges and cc re-derived from raw edges") {
    import org.apache.spark.sql.functions._
    val row = GraphOps.qClusteringCoeff(spark, sf).head()
    val (t, w, cc) = (row.getLong(0), row.getLong(1), row.getDouble(2))
    val deg = GraphOps.edges(spark, sf).select(col("src")).collect()
      .map(_.getLong(0)).groupBy(identity).map(_._2.length.toLong)
    assert(w === deg.map(d => d * (d - 1) / 2).sum)
    assert(t === GraphOps.qTriangleCount(spark, sf).head().getLong(0))
    assert(cc === (3L * t).toDouble / w.toDouble)
    assert(cc > 0.0 && cc <= 1.0)
  }

  test("assortativity: integer sums re-derived from raw edges; |r| < 1") {
    import org.apache.spark.sql.functions._
    val row = GraphOps.qAssortativity(spark, sf).head()
    val (n, sx, sxy, sxx, r) = (row.getLong(0), row.getLong(1),
      row.getLong(2), row.getLong(3), row.getDouble(4))
    val edges = GraphOps.edges(spark, sf).select(col("src"), col("dst"))
      .collect().map(rr => (rr.getLong(0), rr.getLong(1)))
    val deg = edges.groupBy(_._1).map { case (v, es) => v -> es.length.toLong }
    assert(n === edges.length.toLong)
    assert(sx === edges.map { case (u, _) => deg(u) }.sum)
    assert(sxy === edges.map { case (u, v) => deg(u) * deg(v) }.sum)
    assert(sxx === edges.map { case (u, _) => deg(u) * deg(u) }.sum)
    assert(r === (n * sxy - sx * sx).toDouble / (n * sxx - sx * sx).toDouble)
    assert(math.abs(r) < 1.0)
  }

  test("k-core: every surviving vertex keeps >= k neighbors inside the core") {
    import org.apache.spark.sql.functions._
    val core = graft.ops.GraphOps.qKcore(spark, sf)
    val n = core.count()
    assert(n > 0, "18-core must be non-empty at sf0.001")
    val minDeg = core.agg(min(col("core_deg"))).head().getLong(0)
    assert(minDeg >= 18, s"core contains a vertex with core_deg $minDeg < 18")
  }

  test("connected components: counts partition the vertex set") {
    val row = GraphOps.qConnectedComponents(spark, sf).head()
    val (nComp, largest, nVerts) = (row.getLong(0), row.getLong(1), row.getLong(2))
    assert(nComp >= 1 && largest >= 1 && largest <= nVerts)
    assert(nComp <= nVerts)
    // deterministic
    assert(GraphOps.qConnectedComponents(spark, sf).head() === row)
  }

  test("pagerank: top-10 deterministic, ranks positive descending") {
    val r1 = GraphOps.qPagerank(spark, sf).collect()
    val r2 = GraphOps.qPagerank(spark, sf).collect()
    assert(r1.toSeq === r2.toSeq)
    assert(r1.length === 10)
    val ranks = r1.map(_.getLong(1)).toSeq
    assert(ranks.forall(_ > 0) && ranks === ranks.sorted.reverse)
  }

  test("session caches: a new sfDir and a new session recompute, never serve a stale scalar") {
    // Two sfDirs in ONE session: distinct cache keys, distinct totals —
    // Verify (fresh session per gate) can never cross scales, and a
    // long-lived session mixing scales reads the right scalar for each.
    val t1 = GraphOps.qTriangleCount(spark, sf).head().getLong(0)
    val entriesAfterFirst = GraphOps.triCacheEntries
    val sfBig = Corpus.dir("sf0.01")
    val t2 = GraphOps.qTriangleCount(spark, sfBig).head().getLong(0)
    assert(GraphOps.triCacheEntries === entriesAfterFirst + 1,
      "second sfDir must occupy its own cache slot")
    assert(t1 !== t2, "different scales must not share a cached total")
    // A NEW session on the SAME sfDir: own cache slot (recomputed), and —
    // the pipeline being deterministic — the same value.
    val s2 = spark.newSession()
    val t1b = GraphOps.qTriangleCount(s2, sf).head().getLong(0)
    assert(GraphOps.triCacheEntries === entriesAfterFirst + 2,
      "a fresh session must recompute into its own slot, not reuse another session's")
    assert(t1b === t1, "deterministic pipeline: same data, same total")
  }

  test("q_color_graph: a fresh session recomputes the identical coloring") {
    val first = graft.ops.ColorQueries.qColorGraph(spark, sf)
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSeq
    // A fresh session recomputes the session-cached trace. The Jp rounds
    // are deterministic, so the coloring must be IDENTICAL row for row.
    val again = graft.ops.ColorQueries.qColorGraph(spark.newSession(), sf)
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSeq
    assert(again === first)
  }

  test("pagerank strategy crossover: DataFrame rounds bit-identical to GraphX") {
    val viaGraphX = GraphOps.qPagerank(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val s2 = spark.newSession()
    s2.conf.set(graft.color.GraphXKernel.MaxEdgesKey, "1")
    try {
      val viaDf = GraphOps.qPagerank(s2, sf)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      // Same fixed-point integer recurrence on both sides — not just the
      // same top-10 ids, the same exact rank_e12 values.
      assert(viaDf === viaGraphX)
    } finally s2.conf.unset(graft.color.GraphXKernel.MaxEdgesKey)
  }

  test("sssp: hop distances re-derived by driver-side BFS from the same edges") {
    val edges = GraphOps.kernelEdges(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val adj = edges.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val seed = edges.map(_._1).min
    val dist = scala.collection.mutable.Map(seed -> 0L)
    var frontier = Seq(seed)
    while (frontier.nonEmpty) {
      frontier = frontier.flatMap(v => adj.getOrElse(v, Array.empty[Long]))
        .distinct.filterNot(dist.contains)
      val d = dist.values.max + 1L
      frontier.foreach(v => dist(v) = d)
    }
    val got = GraphOps.qSssp(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    assert(got.map(_._1).toSeq === got.map(_._1).sorted.toSeq, "ordered by id")
    assert(got.toMap === dist.toMap)
  }

  test("cc strategy crossover: DataFrame min-label rounds match GraphX summary") {
    val viaGraphX = GraphOps.qConnectedComponents(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val s2 = spark.newSession()
    s2.conf.set(graft.color.GraphXKernel.MaxEdgesKey, "1")
    try {
      val viaDf = GraphOps.qConnectedComponents(s2, sf)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      // Both strategies converge to the identical labeling (component-min
      // vertex id), so the whole summary row must match exactly.
      assert(viaDf === viaGraphX)
    } finally s2.conf.unset(graft.color.GraphXKernel.MaxEdgesKey)
  }

  test("cc DataFrame rounds: component-min labeling on a seeded random graph") {
    import spark.implicits._
    // Drive ccDfRounds directly on a graph whose components are known from
    // a driver-side union-find, including a high-diameter path component
    // (exercises the pointer-doubling shortcut past one-hop propagation).
    val rnd = new scala.util.Random(7)
    val half = Seq.tabulate(60)(_ => (rnd.nextInt(40).toLong, rnd.nextInt(40).toLong))
      .filter { case (a, b) => a != b } ++
      (100L to 140L).map(i => (i, i + 1)) // 42-vertex path, diameter 41
    val sym = (half ++ half.map(_.swap)).distinct
    val e = sym.toDF("src", "dst")
    val got = GraphOps.ccDfRounds(spark, e, sym.size.toLong)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).head
    // Oracle: union-find over the same edges.
    val ids = sym.flatMap(t => Seq(t._1, t._2)).distinct
    val parent = scala.collection.mutable.Map(ids.map(i => i -> i): _*)
    def find(x: Long): Long = if (parent(x) == x) x else { val r = find(parent(x)); parent(x) = r; r }
    sym.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b)); if (ra != rb) parent(ra) = rb
    }
    val comps = ids.groupBy(find).values.map(_.size.toLong)
    assert(got === ((comps.size.toLong, comps.max, ids.size.toLong)))
  }

  test("edge jaccard: support equals brute-force common-neighbor count, formula holds") {
    import org.apache.spark.sql.functions._
    val top = GraphOps.qEdgeJaccard(spark, sf).collect()
    assert(top.nonEmpty, "the co-purchase graph has supported edges")
    val e = GraphOps.edges(spark, sf)
    // Brute-force common-neighbor counts for ordered pairs: wedge join at
    // the shared neighbor (fine at sf0.001 where the spec runs).
    val common = e.as("x").join(e.as("y"),
        col("x.dst") === col("y.dst") && col("x.src") < col("y.src"))
      .groupBy(col("x.src").as("a"), col("y.src").as("b"))
      .agg(count(lit(1)).as("supp"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val deg = e.groupBy(col("src")).agg(count(lit(1)).as("d"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val edgeSet = e.filter(col("src") < col("dst"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    top.foreach { r =>
      val (a, b, supp, da, db, jac) = (r.getLong(0), r.getLong(1),
        r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5))
      assert(a < b, "pairs are canonical")
      assert(edgeSet((a, b)), s"($a,$b) must be an actual edge")
      assert(supp === common((a, b)), s"support mismatch on ($a,$b)")
      assert(da === deg(a) && db === deg(b))
      val expect = math.rint(supp.toDouble / (da + db - 2 - supp) * 1e6) / 1e6
      assert(math.abs(jac - expect) < 1e-12, s"jaccard formula on ($a,$b)")
    }
    // Descending order with deterministic tiebreak — checked on the
    // UNROUNDED ratio the ORDER BY uses (the displayed 6-dp value can tie
    // where the sort key doesn't).
    val keys = top.map { r =>
      val (supp, da, db) = (r.getLong(2), r.getLong(3), r.getLong(4))
      (supp.toDouble / (da + db - 2 - supp), r.getLong(0), r.getLong(1))
    }
    keys.sliding(2).foreach { case Array((j1, a1, b1), (j2, a2, b2)) =>
      assert(j1 > j2 || (j1 == j2 && (a1 < a2 || (a1 == a2 && b1 < b2))))
    case _ => ()
    }
  }

  test("truss: fixpoint supports re-derived from the surviving subgraph") {
    import org.apache.spark.sql.functions.col
    val rows = GraphOps.qTruss(spark, sf).collect()
    assert(rows.nonEmpty, "the co-purchase graph has a 4-truss")
    val edges = rows.map(r => (r.getLong(0), r.getLong(1))).toSet
    val supp = rows.map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // Survivors are canonical original edges.
    val orig = GraphOps.edges(spark, sf).filter(col("src") < col("dst"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(edges.subsetOf(orig))
    // Re-derive each survivor's support INSIDE the truss subgraph and check
    // the fixpoint contract: reported support is the in-truss triangle
    // count and clears the threshold (one more peel round is a no-op).
    val adj = scala.collection.mutable.Map[Long, Set[Long]]()
      .withDefaultValue(Set.empty)
    edges.foreach { case (a, b) => adj(a) = adj(a) + b; adj(b) = adj(b) + a }
    edges.foreach { case (a, b) =>
      assert(a < b, "pairs are canonical")
      val common = (adj(a) intersect adj(b)).size.toLong
      assert(common === supp((a, b)), s"in-truss support mismatch on ($a,$b)")
      assert(common >= GraphOps.TRUSS_K - 2)
    }
  }

  test("triangle adjacency+probe == brute force on seeded random graphs (incl. hubs and regular)") {
    import spark.implicits._
    // The packed-key orientation is the riskiest rewrite of round 6 —
    // sweep it against the O(V^3) definition on adversarial small graphs:
    // random Erdős–Rényi, a star (hub with empty-N+ spokes), a clique
    // (degree-REGULAR: orientation falls back to pure id order), and a
    // disjoint union of triangles.
    val rng = new scala.util.Random(1234)
    def er(n: Int, p: Double): Seq[(Long, Long)] =
      for { a <- 0 until n; b <- a + 1 until n if rng.nextDouble() < p }
        yield (a.toLong, b.toLong)
    val star = (1 to 12).map(i => (0L, i.toLong))
    val clique = for { a <- 0 until 7; b <- a + 1 until 7 } yield (a.toLong, b.toLong)
    val triUnion = Seq((0L,1L),(1L,2L),(0L,2L),(10L,11L),(11L,12L),(10L,12L))
    val cases = Seq(er(25, 0.25), er(40, 0.15), er(30, 0.5),
      star.map(t => (t._1, t._2)), clique, triUnion)
    for ((und, i) <- cases.zipWithIndex) {
      val undDistinct = und.distinct
      val brute = {
        val es = undDistinct.toSet
        def has(a: Long, b: Long) = es.contains((a min b, a max b))
        val vs = undDistinct.flatMap(e => Seq(e._1, e._2)).distinct.sorted
        (for { a <- vs; b <- vs if a < b && has(a, b); c <- vs
               if b < c && has(b, c) && has(a, c) } yield 1).size.toLong
      }
      val sym = undDistinct ++ undDistinct.map(e => (e._2, e._1))
      val df = sym.toDF("src", "dst")
      val adj = graft.ops.GraphOps.triangleAdjacency(df, sym.size.toLong)
      val got = graft.ops.GraphOps
        .triangleTriplesPlan(adj, sym.size.toLong, sym.size.toLong * 4L)
        .count()
      assert(got === brute, s"case $i: pipeline $got != brute $brute")
    }
  }

  test("triangle count: positive on the co-purchase graph and matches brute force on a literal graph") {
    import spark.implicits._
    assert(GraphOps.qTriangleCount(spark, sf).head().getLong(0) > 0)
    // K4 has 4 triangles; verify the join shape on a literal symmetric graph.
    val vs = Seq(0L, 1L, 2L, 3L)
    val k4 = (for (a <- vs; b <- vs if a != b) yield (a, b)).toDF("src", "dst")
    val canon = k4.filter($"src" < $"dst")
    val e1 = canon.select($"src".as("a"), $"dst".as("b"))
    val e2 = canon.select($"src".as("b2"), $"dst".as("c"))
    val e3 = canon.select($"src".as("a3"), $"dst".as("c3"))
    val n = e1.join(e2, $"b" === $"b2")
      .join(e3, $"a" === $"a3" && $"c" === $"c3").count()
    assert(n === 4)
  }

  test("ppr: integer recurrence replayed driver-side on a seeded literal graph") {
    import spark.implicits._
    val rnd = new scala.util.Random(23)
    val half = Seq.tabulate(80)(_ => (rnd.nextInt(30).toLong, rnd.nextInt(30).toLong))
      .filter { case (a, b) => a != b }.distinct
    val sym = (half ++ half.map(_.swap)).distinct
    val e = sym.toDF("src", "dst")
    val got = GraphOps.pprOver(spark, e, sym.size.toLong).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    // Driver-side replay of the exact integer recurrence.
    val SCALE = 1000000000000L
    val tele = 15L * SCALE / 100 / GraphOps.PPR_SEEDS
    val verts = sym.map(_._1).distinct.sorted
    val deg = sym.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val seeds = verts.take(GraphOps.PPR_SEEDS).toSet
    var r = verts.map(v => v -> (if (seeds(v)) SCALE else 0L)).toMap
    for (_ <- 1 to 10) {
      val c = sym.groupBy(_._2).view.mapValues(
        _.map { case (u, _) => r(u) / deg(u) }.sum).toMap
      r = verts.map(v =>
        v -> ((if (seeds(v)) tele else 0L) + 85L * c.getOrElse(v, 0L) / 100L)).toMap
    }
    val expect = r.toSeq.sortBy { case (v, rv) => (-rv, v) }.take(10)
    assert(got.toSeq === expect)
    // Personalization sanity: every seed outranks the global minimum and
    // total mass stays bounded by (|S|+1)·SCALE.
    assert(r.values.sum <= (GraphOps.PPR_SEEDS + 1).toLong * SCALE)
  }

  test("graph sample: md5-ranked fanout re-derived driver-side; never exceeds min(F, deg)") {
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    val edges = GraphOps.edges(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val expect = edges.filter(_._1 <= 500).groupBy(_._1).toSeq.flatMap {
      case (src, es) =>
        es.map(_._2).sortBy(d => md5hex(s"$src:$d"))
          .take(GraphOps.SAMPLE_FANOUT).zipWithIndex
          .map { case (dst, i) => (src, dst, i + 1) }
    }.sortBy { case (s, _, r) => (s, r) }
    val got = GraphOps.qGraphSample(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(got.toSeq === expect)
    val deg = edges.groupBy(_._1).view.mapValues(_.size).toMap
    got.groupBy(_._1).foreach { case (s, rows) =>
      assert(rows.length === math.min(GraphOps.SAMPLE_FANOUT, deg(s)))
    }
  }

  test("hits: integer hub/authority recurrence replayed driver-side") {
    val fwd = GraphOps.fwdPairs(spark, sf).distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val verts = (fwd.map(_._1) ++ fwd.map(_._2)).distinct.sorted
    var h = verts.map(_ -> 1048576L).toMap
    var a = Map.empty[Long, Long]
    def shift(vs: Iterable[Long]): Int = {
      val m = if (vs.isEmpty) 0L else vs.max
      math.max(java.lang.Long.toBinaryString(m).length - 21, 0)
    }
    for (_ <- 1 to GraphOps.HITS_ROUNDS) {
      val aRaw = fwd.groupBy(_._2).map { case (d, es) =>
        d -> es.map(e => h.getOrElse(e._1, 0L)).sum }
      val sa = shift(aRaw.values)
      a = aRaw.map { case (k, v) => k -> (v >> sa) }
      val hRaw = fwd.groupBy(_._1).map { case (s, es) =>
        s -> es.map(e => a.getOrElse(e._2, 0L)).sum }
      val sh = shift(hRaw.values)
      h = hRaw.map { case (k, v) => k -> (v >> sh) }
    }
    val expect = verts
      .map(v => (v, a.getOrElse(v, 0L), h.getOrElse(v, 0L)))
      .sortBy { case (id, auth, _) => (-auth, id) }
      .take(10)
    val got = GraphOps.qHits(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq === expect.toSeq)
    assert(got.head._2 > 0, "top authority must be positive")
  }

  test("random walk: hash-seeded walks replayed driver-side step by step") {
    def hash60(s: String): Long =
      java.lang.Long.parseLong(
        java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
          .map("%02x".format(_)).mkString.substring(0, 15), 16)
    val edges = GraphOps.kernelEdges(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val adj = edges.groupBy(_._1).view
      .mapValues(_.map(_._2).distinct.sorted.toIndexedSeq).toMap
    val expect = adj.keys.toSeq.filter(_ % GraphOps.WALK_START_MOD == 0)
      .sorted.flatMap { start =>
        var node = start
        var alive = true
        (start, 0, start) +: (0 until GraphOps.WALK_STEPS).flatMap { s =>
          if (!alive) None
          else adj.get(node) match {
            case Some(ns) =>
              node = ns((hash60(s"$start:$s") % ns.size).toInt)
              Some((start, s + 1, node))
            case None =>
              alive = false
              None
          }
        }
      }
    val got = GraphOps.qRandomWalk(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    assert(got.toSeq === expect)
    assert(got.nonEmpty, "the start sample must be non-empty at sf0.001")
    // Every emitted hop is a real edge.
    val eset = edges.toSet
    got.groupBy(_._1).values.foreach { w =>
      w.sortBy(_._2).sliding(2).foreach {
        case Array((_, _, a), (_, _, b)) => assert(eset.contains((a, b)))
        case _ =>
      }
    }
  }

  test("local cc: top-20 re-derived brute force (per-vertex triangles, pinned tie order)") {
    val top = GraphOps.qLocalCc(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(top.length === 20)
    val edges = GraphOps.edges(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val nbrs = edges.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val deg = nbrs.view.mapValues(_.size.toLong).toMap
    // t(v) = half the closed wedges centered anywhere counting v — count
    // triangles containing v directly: unordered neighbor pairs of v that
    // are themselves adjacent.
    val tri = nbrs.map { case (v, ns) =>
      val s = ns.toSeq.sorted
      v -> (for { i <- s.indices; j <- (i + 1) until s.size
                  if nbrs(s(i)).contains(s(j)) } yield 1).size.toLong
    }
    val expect = deg.toSeq.filter(_._2 >= 2).map { case (v, d) =>
      val t = tri.getOrElse(v, 0L)
      val lcc = (t * 2L).toDouble / (d * (d - 1L)).toDouble
      (v, d, t, lcc)
    }.sortBy { case (v, _, _, lcc) => (-lcc, v) }.take(20)
      .map { case (v, d, t, lcc) =>
        (v, d, t, BigDecimal(lcc).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble) }
    assert(top.toSeq === expect)
  }

  test("closeness: per-seed reach and distance sums re-derived by driver-side BFS") {
    val got = GraphOps.qCloseness(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(got.length === GraphOps.CLOSENESS_SOURCES)
    val edges = GraphOps.kernelEdges(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val adj = edges.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val seeds = edges.map(_._1).distinct.sorted.take(GraphOps.CLOSENESS_SOURCES)
    val expect = seeds.map { seed =>
      val dist = scala.collection.mutable.Map(seed -> 0L)
      var frontier = Seq(seed)
      while (frontier.nonEmpty) {
        frontier = frontier.flatMap(v => adj.getOrElse(v, Array.empty[Long]))
          .distinct.filterNot(dist.contains)
        val d = dist.values.max + 1L
        frontier.foreach(v => dist(v) = d)
      }
      val total = dist.values.sum
      (seed, dist.size.toLong - 1L, total, (dist.size - 1).toDouble / total.toDouble)
    }
    assert(got.toSeq === expect.toSeq)
  }
}
