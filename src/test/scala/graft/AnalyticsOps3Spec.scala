package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.llm.{Similarity, TextStats}
import graft.ops.{EventAnalytics, Relational}

/** Driver-side brute-force replicas of the third round-11 analytics batch
  * (KS drift, k-anonymity ladder, association rules, label silhouette,
  * MMR selection) on the sf0.001 corpus — each op's distributed plan must
  * match an independent literal re-computation exactly, including every
  * fixed-point truncation and the IEEE fold order of the cosine path. */
class AnalyticsOps3Spec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.get
  private val sf = Corpus.dir("sf0.001")

  private def wsTokens(text: String): Array[String] =
    text.split("\\s+").filter(_.nonEmpty)

  /** Spark's round()/DuckDB's round(): HALF_UP decimal rounding. */
  private def r6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  test("ks_drift: exact integer KS numerator matches a cumulative replica") {
    val docs = graft.tables.Tables.documents(spark, sf)
      .select("text", "lang").collect()
      .map(r => (wsTokens(r.getString(0)).length.toLong, r.getString(1) == TextStats.KsSliceLang))
    val nA = docs.count(_._2).toLong
    val nB = docs.size - nA
    val xs = docs.map(_._1).distinct.sorted
    var cumA = 0L; var cumB = 0L
    var bestD = -1L; var bestX = -1L
    xs.foreach { x =>
      cumA += docs.count(d => d._1 == x && d._2)
      cumB += docs.count(d => d._1 == x && !d._2)
      val dn = math.abs(cumA * nB - cumB * nA)
      if (dn > bestD) { bestD = dn; bestX = x }
    }
    val got = TextStats.qKsDrift(spark, sf).collect()(0)
    assert(got.getLong(0) === nA)
    assert(got.getLong(1) === nB)
    assert(got.getLong(2) === bestX)
    assert(got.getLong(3) === bestD)
    assert(got.getLong(4) ===
      (BigInt(bestD) * 1000000 / (BigInt(nA) * nB)).toLong)
    assert(got.getDouble(5) === bestD.toDouble / nA.toDouble / nB.toDouble)
  }

  test("k_anonymity: the generalization ladder matches a literal replay") {
    val rows = graft.tables.Tables.customer(spark, sf)
      .select("c_nationkey", "c_mktsegment", "c_acctbal").collect()
      .map(r => (r.getInt(0).toLong, r.getString(1),
        math.floor(r.getDouble(2) / 1000).toLong, r.getDouble(2)))
    val K = Relational.KAnonK
    val g0 = rows.groupBy(r => (r._1, r._2, r._3))
    val pub0 = g0.filter(_._2.length >= K).map { case ((n, s, b), g) =>
      (0, n, s, b, g.length.toLong, g.map(_._4).distinct.length.toLong)
    }.toSeq
    val res0 = g0.filter(_._2.length < K).values.flatten.toSeq
    val g1 = res0.groupBy(r => (r._1, r._2))
    val pub1 = g1.filter(_._2.size >= K).map { case ((n, s), g) =>
      (1, n, s, -1L, g.size.toLong, g.map(_._4).distinct.size.toLong)
    }.toSeq
    val res1 = g1.filter(_._2.size < K).values.flatten.toSeq
    val pub2 =
      if (res1.nonEmpty)
        Seq((2, -1L, "*", -1L, res1.size.toLong,
          res1.map(_._4).distinct.size.toLong))
      else Seq.empty
    val expect = (pub0 ++ pub1 ++ pub2)
      .sortBy { case (l, n, s, b, _, _) => (l, n, s, b) }
    val got = Relational.qKAnonymity(spark, sf).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getString(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    assert(got.toSeq === expect)
  }

  test("assoc_rules: support/confidence/lift match a basket replica") {
    val b = graft.tables.Tables.lineitem(spark, sf)
      .select("l_orderkey", "l_partkey").collect()
      .map(r => (r.getLong(0), r.getLong(1))).distinct
    val n = b.map(_._1).distinct.length.toLong
    val c1 = b.groupBy(_._2).map { case (pk, g) => pk -> g.length.toLong }
    val pairs = b.groupBy(_._1).values.toSeq.flatMap { basket =>
      val pks = basket.map(_._2).sorted
      for (i <- pks.indices; j <- (i + 1) until pks.length)
        yield (pks(i), pks(j))
    }
    val expect = pairs.groupBy(identity).toSeq
      .map { case ((a, c), g) => (a, c, g.length.toLong) }
      .filter(_._3 >= EventAnalytics.AssocMinSup)
      .map { case (a, c, sup) =>
        val ca = c1(a); val cc = c1(c)
        (a, c, sup, ca, cc, n, sup * 1000000 / ca, sup * 1000000 / cc,
          (BigInt(sup) * n * 1000000 / (BigInt(ca) * cc)).toLong)
      }
      .sortBy { case (a, c, _, _, _, _, _, _, l) => (-l, a, c) }
      .take(EventAnalytics.AssocTopK)
      .zipWithIndex.map { case (t, i) => (t, i + 1) }
    val got = EventAnalytics.qAssocRules(spark, sf).collect()
      .map(r => ((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7),
        r.getLong(8)), r.getInt(9)))
    assert(got.toSeq === expect)
  }

  /** Quantize like the plans do: Spark round() is HALF_UP on doubles. */
  private def q6(x: Double): Long =
    BigDecimal(x * 1e6).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong

  private lazy val vecs: Array[(Long, Int, Array[Double])] =
    graft.tables.Tables.embeddings(spark, sf)
      .selectExpr("vec_id", "label", "CAST(embedding AS ARRAY<DOUBLE>)")
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getSeq[Double](2).toArray))
      .sortBy(_._1)

  test("silhouette: exact-integer centroid silhouette matches brute force") {
    val sv = vecs.map { case (id, lab, v) => (id, lab, v.map(q6)) }
    val cents = sv.groupBy(_._2).map { case (lab, g) =>
      val n = g.length.toLong
      lab -> Array.tabulate(Similarity.DIMS)(j => g.map(_._3(j)).sum / n)
    }
    def d2(a: Array[Long], b: Array[Long]): BigInt =
      a.indices.map(i => BigInt(a(i) - b(i)) * (a(i) - b(i))).sum
    val scored = sv.map { case (id, lab, s) =>
      val a2 = d2(s, cents(lab))
      val (bl, b2) = cents.toSeq.filter(_._1 != lab)
        .map { case (l, c) => (l, d2(s, c)) }
        .minBy { case (l, dd) => (dd, l) }
      val s2 = ((b2 - a2) * 1000000 / (a2 max b2 max BigInt(1))).toLong
      (id, lab, a2, b2, bl, s2)
    }
    val expect = scored.groupBy(_._2).toSeq.map { case (lab, g) =>
      val rival = g.groupBy(_._5).toSeq
        .maxBy { case (l, gg) => (gg.length, -l) }._1
      (lab, g.length.toLong, g.count(_._6 > 0).toLong,
        g.map(_._3).sum.toString,
        g.map(_._3).sum.toDouble / g.length / 1e12,
        g.map(_._6).sum / g.length, rival)
    }.sortBy(_._1)
    val got = Similarity.qSilhouette(spark, sf).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getString(3),
        r.getDouble(4), r.getLong(5), r.getInt(6)))
    // mean_a2 goes DECIMAL→string→double on the oracle path; compare the
    // Spark column against BigInt.toDouble (both nearest-double of the
    // exact integer).
    assert(got.toSeq === expect)
  }

  test("chisq_drift: exact rational per-bin contributions match brute force") {
    val docs = graft.tables.Tables.documents(spark, sf)
      .select("text", "lang").collect()
      .map(r => (math.min(wsTokens(r.getString(0)).length.toLong /
        TextStats.ChisqBinWidth, TextStats.ChisqBins - 1),
        r.getString(1) == TextStats.KsSliceLang))
    val nA = docs.count(_._2).toLong
    val nB = docs.size - nA
    val N = nA + nB
    val expect = docs.groupBy(_._1).toSeq.sortBy(_._1).map { case (bin, g) =>
      val ca = g.count(_._2).toLong
      val cb = g.size - ca
      val ni = ca + cb
      def contrib(o: Long, slice: Long): Long =
        (BigInt(o * N - ni * slice).pow(2) * 1000000 /
          (BigInt(ni) * slice * N)).toLong
      (bin, ca, cb, nA, nB,
        (BigInt(ni) * nA * 1000000 / N).toLong,
        contrib(ca, nA) + contrib(cb, nB))
    }
    val got = TextStats.qChisqDrift(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6)))
    assert(got.toSeq === expect)
  }

  test("user_paths: session path mining matches an ordered replica") {
    val evs = graft.tables.Tables.events(spark, sf)
      .selectExpr("user_id", "unix_micros(ts)", "event_id", "event_type")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    val sessions = evs.groupBy(_._1).values.toSeq.flatMap { g =>
      val sorted = g.sortBy(e => (e._2, e._3))
      val sessIds = sorted.scanLeft((0L, Option.empty[Long])) {
        case ((sid, prev), e) =>
          val isNew = prev.isEmpty ||
            e._2 - prev.get > graft.ops.EventAnalytics.SessionGapUs
          (if (isNew) sid + 1 else sid, Some(e._2))
      }.tail.map(_._1)
      sorted.zip(sessIds).groupBy { case (e, sid) => (e._1, sid) }.values
        .map { ses =>
          val types = ses.sortBy { case (e, _) => (e._2, e._3) }
            .map(_._1._4).take(graft.ops.EventAnalytics.PathMaxLen)
          (ses.head._1._1, types.mkString(">"))
        }
    }
    val expect = sessions.groupBy(_._2).toSeq
      .map { case (p, g) =>
        (p, g.size.toLong, g.map(_._1).distinct.size.toLong)
      }
      .sortBy { case (p, n, _) => (-n, p) }
      .take(graft.ops.EventAnalytics.PathTopK)
      .zipWithIndex.map { case ((p, n, u), i) => (p, n, u, i + 1) }
    val got = graft.ops.EventAnalytics.qUserPaths(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getInt(3)))
    assert(got.toSeq === expect)
  }

  test("schema_drift: mergeSchema read matches the by-name union replica") {
    val li = graft.tables.Tables.lineitem(spark, sf)
      .select("l_linenumber", "l_quantity", "l_extendedprice").collect()
      .map(r => (r.getInt(0), r.getDouble(1), r.getDouble(2)))
      .filter(r => r._1 == 1 || r._1 == 2)
    def dsum(xs: Seq[Double]): Double =
      xs.map(x => BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP))
        .sum.toDouble
    val expect = li.groupBy(_._1 == 2).toSeq.map { case (hasPrice, g) =>
      (hasPrice, g.length.toLong, dsum(g.map(_._2).toSeq),
        if (hasPrice) dsum(g.map(_._3).toSeq) else null)
    }.sortBy(_._1)
    val got = graft.sources.SinkQueries.qSchemaDrift(spark, sf).collect()
      .map(r => (r.getBoolean(0), r.getLong(1), r.getDouble(2),
        if (r.isNullAt(3)) null else r.getDouble(3)))
    assert(got.toSeq === expect)
  }

  test("dp_count: the two-sided geometric noise matches a bit-level replica") {
    val mask = (1L << 60) - 1
    def h60(s: String): Long = java.lang.Long.parseLong(md5x(s).take(15), 16)
    def geom(seed: String, key: String): Long = {
      val y = mask - h60(s"$seed:$key")
      if (y == 0L) 60L else 60L - (64 - java.lang.Long.numberOfLeadingZeros(y))
    }
    val evs = graft.tables.Tables.events(spark, sf)
      .select("event_type").collect().map(_.getString(0))
    val expect = evs.groupBy(identity).toSeq.sortBy(_._1).map { case (t, g) =>
      val noise = geom("dp1", t) - geom("dp2", t)
      (t, g.length.toLong, noise, g.length + noise)
    }
    val got = Relational.qDpCount(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq === expect)
    // the mechanism draws BOTH signs somewhere on this corpus or the
    // geometric construction is degenerate
    assert(got.exists(_._3 != 0L))
  }

  test("dp_count: a caller secret seed switches to the release shape") {
    // r11 ADVICE: under a non-default seed the output must carry ONLY
    // (event_type, noisy_n) — never the raw count or the noise — and the
    // noise must differ from the public gate seed's draw somewhere.
    val gate = Relational.qDpCount(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(3)).toMap
    spark.conf.set(Relational.DpSeedKey, "spec-secret-9f3a")
    try {
      val rel = Relational.qDpCount(spark, sf)
      assert(rel.columns.toSeq === Seq("event_type", "noisy_n"))
      val got = rel.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(got.keySet === gate.keySet)
      assert(got.exists { case (k, v) => gate(k) != v },
        "secret seed drew the identical noise everywhere")
    } finally spark.conf.unset(Relational.DpSeedKey)
  }

  private def md5x(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  test("ann_recall: recall table is consistent with the two oracle-checked pipelines") {
    val truth = Similarity.qSimTopk(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1)
    val approx = Similarity.qSimLsh(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1)
    val expect = truth.toSeq.sortBy(_._1).map { case (q, ts) =>
      val hits = ts.count(t => approx.getOrElse(q, Array.empty).contains(t))
      (q, ts.length.toLong, hits.toLong, hits.toLong * 1000000 / ts.length)
    }
    val got = Similarity.qAnnRecall(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq === expect)
    assert(got.forall(r => r._3 <= r._2))
  }

  test("token_budget: TTR-weighted capped allocation matches brute force") {
    val docs = graft.tables.Tables.documents(spark, sf)
      .select("source", "text").collect()
      .map(r => (r.getString(0), r.getString(1)))
    val src = docs.groupBy(_._1).toSeq.sortBy(_._1).map { case (s, g) =>
      val toks = g.flatMap(d => wsTokens(d._2.toLowerCase))
      (s, toks.length.toLong, toks.distinct.length.toLong)
    }
    val tokTotal = src.map(_._2).sum
    val withW = src.map { case (s, t, dt) => (s, t, dt, dt * 1000000 / t) }
    val wtTotal = withW.map { case (_, t, _, w) => BigInt(w) * t }.sum
    val expect = withW.map { case (s, t, dt, w) =>
      val alloc = math.min(t * TextStats.TokenMaxEpochs,
        (BigInt(tokTotal) * TextStats.TokenBudgetX * w * t / wtTotal).toLong)
      (s, t, dt, w, alloc, alloc * 1000000 / t)
    }
    val got = TextStats.qTokenBudget(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    assert(got.toSeq === expect)
    assert(expect.forall { case (_, t, _, _, alloc, _) =>
      alloc <= t * TextStats.TokenMaxEpochs
    })
  }

  test("mmr_select: the greedy rounds match an IEEE-faithful replica") {
    /** CosineSim's exact fold: left-to-right double sums, then
      * dot / (sqrt(na) * sqrt(nb)). */
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
      }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    val qv = vecs.find(_._1 == 0L).get._3
    val cands = vecs.filter(_._1 != 0L)
      .map { case (id, _, v) => (id, v, cos(v, qv)) }
    val sel = scala.collection.mutable.ArrayBuffer.empty[(Long, Array[Double], Double, Double)]
    for (_ <- 1 to Similarity.MmrK) {
      val pick = cands.filter(c => !sel.exists(_._1 == c._1))
        .map { case (id, v, rel) =>
          val ms = if (sel.isEmpty) 0.0 else sel.map(s => cos(v, s._2)).max
          (id, v, rel, ms)
        }
        .minBy { case (id, _, rel, ms) => (-(rel - ms), id) }
      sel += pick
    }
    val expect = sel.toSeq.zipWithIndex.map { case ((id, _, rel, ms), i) =>
      (i + 1, id, r6(rel), r6(ms), r6(rel - ms))
    }
    val got = Similarity.qMmrSelect(spark, sf).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2), r.getDouble(3),
        r.getDouble(4)))
    assert(got.toSeq === expect)
  }
}
