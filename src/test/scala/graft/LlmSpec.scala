package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.llm.{Dedup, Multimodal, Similarity, TextStats}

/** Unit tests for the LLM-pipeline operators: dedup recall on planted
  * near-duplicates, similarity-search exactness, text-stat correctness on
  * hand-computed examples, multimodal plumbing invariants. */
class LlmSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.get
  private val sf = Corpus.dir("sf0.001")

  test("ann_recall_ivf: recall is monotone in nprobe and every variant is graded") {
    // r13 verdict item 6: the IVF probe sets are NESTED in nprobe (cells
    // ranked by the same exact integer d2 the assignment uses), so per
    // query recall@5 must be non-decreasing across nprobe 1 -> 2 -> 4.
    // PQ is graded against the same truth; its recall is just bounded.
    val rows = Similarity.qAnnRecallIvf(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(4)))
    val byVariant = rows.groupBy(_._1).map { case (v, rs) =>
      v -> rs.map(t => t._2 -> t._3).toMap
    }
    assert(byVariant.keySet ===
      Set("ivf_nprobe1", "ivf_nprobe2", "ivf_nprobe4", "pq"))
    val qids = byVariant("ivf_nprobe1").keySet
    assert(qids === (0L until 10L).toSet)
    for (q <- qids) {
      val r1 = byVariant("ivf_nprobe1")(q)
      val r2 = byVariant("ivf_nprobe2")(q)
      val r4 = byVariant("ivf_nprobe4")(q)
      assert(r1 <= r2 && r2 <= r4,
        s"query $q: recall not monotone in nprobe ($r1, $r2, $r4)")
      for (r <- Seq(r1, r2, r4, byVariant("pq")(q)))
        assert(r >= 0L && r <= 1000000L)
    }
  }

  test("tokens / shingles / fingerprint on a literal example") {
    import spark.implicits._
    val df = Seq((1L, "a b c d e f")).toDF("doc_id", "text")
    val sh = df.select(TextStats.shingles(TextStats.tokens(col("text")), 5).as("s"))
      .head().getSeq[String](0)
    assert(sh === Seq("a b c d e", "b c d e f"))
  }

  test("dedup_url: per-domain dup mass matches an independent string-parse replica") {
    // Brute-force replica: re-derive the synthetic urls and canonicalize
    // with hand-written string parsing (substring/split — deliberately not
    // the engine's regex formulation), then aggregate driver-side.
    def rawUrl(id: Long, src: String): String = {
      val c = id / 100
      val scheme = (id % 3) match {
        case 0 => "https"; case 1 => "HTTPS"; case _ => "Https" }
      val host0 =
        if (id % 2 == 0) s"$src.example.com"
        else s"${src.toUpperCase}.EXAMPLE.com"
      val host = if (id % 7 == 0) host0 + ":443" else host0
      val path = s"/docs/$c" + (if (id % 2 == 1) "/" else "")
      val track = (id % 3) match {
        case 1 => "utm_source=feed&"; case 2 => s"fbclid=x$id&"; case _ => "" }
      val qs = if (id % 2 == 0) s"${track}id=$c&v=2" else s"v=2&${track}id=$c"
      val frag = if (id % 4 == 0) s"#sec$id" else ""
      s"$scheme://$host$path?$qs$frag"
    }
    def canon(u: String): String = {
      val nf = u.split("#", 2)(0)
      val Array(sch0, rest) = nf.split("://", 2)
      val scheme = sch0.toLowerCase
      val (auth, pq) = rest.indexWhere(ch => ch == '/' || ch == '?') match {
        case -1 => (rest, "")
        case i => (rest.substring(0, i), rest.substring(i))
      }
      var host = auth.toLowerCase
      if (scheme == "https" && host.endsWith(":443")) host = host.dropRight(4)
      if (scheme == "http" && host.endsWith(":80")) host = host.dropRight(3)
      val (path, qs) = pq.split("\\?", 2) match {
        case Array(p) => (p, "")
        case Array(p, q) => (p, q)
      }
      val pathN =
        if (path.length > 1 && path.endsWith("/")) path.dropRight(1) else path
      val kept = qs.split("&").filter(p => p.nonEmpty &&
        !p.matches("(utm_[^=]*|fbclid|gclid)=.*")).sorted.mkString("&")
      scheme + "://" + host + pathN + (if (kept.isEmpty) "" else "?" + kept)
    }
    val docs = graft.tables.Tables.documents(spark, sf)
      .select("doc_id", "source").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val byCanon = docs.map { case (id, src) => canon(rawUrl(id, src)) }
      .groupBy(identity).toSeq.map { case (cu, g) =>
        (cu.drop(cu.indexOf("://") + 3).takeWhile(ch => ch != '/' && ch != '?'),
          g.length.toLong)
      }.toSeq
    val expect = byCanon.groupBy(_._1).toSeq.sortBy(_._1).map { case (dom, g) =>
      val nUrls = g.map(_._2).sum
      val nCanon = g.length.toLong
      (dom, nUrls, nCanon, nUrls - nCanon, g.map(_._2).max,
        (nUrls - nCanon).toDouble / nUrls.toDouble)
    }
    val got = Dedup.qDedupUrl(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5))).toSeq
    assert(got === expect)
    // the derivation must actually produce dup mass to normalize away
    assert(got.exists(_._4 > 0L))
  }

  test("simhash: identical texts match, unrelated texts differ") {
    import spark.implicits._
    val df = Seq(
      (1L, "spark catalyst tungsten codegen shuffle"),
      (2L, "spark catalyst tungsten codegen shuffle"),
      (3L, "entirely different words here now okay")).toDF("doc_id", "text")
    val hashes = df.select(col("doc_id"), Dedup.simhash(TextStats.tokens(col("text"))).as("h"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(hashes(1L) === hashes(2L))
    assert(java.lang.Long.bitCount(hashes(1L) ^ hashes(3L)) > 3)
  }

  test("minhash signature family is bit-identical to the oracle construction") {
    import spark.implicits._
    // Pure-Scala replica of the DuckDB oracle CTEs (Dedup.minhashVpCtes):
    // tokenize on \s+, 3-gram shingles space-joined, h1/h2 = md5 hex
    // substr(1,7)/(8,7) as 28-bit ints, sig_j = min over shingles of
    // (h1 + j·h2) mod 2^28. Element-wise equality against the engine's
    // graft_minhash_sig closes the r5 shared-recall ADVICE structurally:
    // with identical signatures, band membership (8 equal slots) is
    // decided the same on both sides, and only a 64-bit band-KEY collision
    // (engine's compaction) could ever diverge — see the contract comment
    // at the oracle.
    def oracleSig(text: String, k: Int): Array[Long] = {
      val toks = text.split("\\s+").filter(_.nonEmpty)
      val shingles =
        if (toks.length < 3) Array.empty[String]
        else (0 to toks.length - 3).map(i => toks.slice(i, i + 3).mkString(" ")).toArray
      val sig = Array.fill(k)(Long.MaxValue)
      val md = java.security.MessageDigest.getInstance("MD5")
      shingles.foreach { s =>
        val hex = md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
        val h1 = java.lang.Long.parseLong(hex.substring(0, 7), 16)
        val h2 = java.lang.Long.parseLong(hex.substring(7, 14), 16)
        var j = 0
        while (j < k) {
          val v = (h1 + j * h2) % (1L << 28)
          if (v < sig(j)) sig(j) = v
          j += 1
        }
      }
      sig
    }
    val texts = Seq(
      "the quick brown fox jumps over the lazy dog near the river bank",
      "the quick brown fox jumps over the lazy dog near the old mill",
      "completely different content with no overlap at all whatsoever here",
      "unicode tokens räv Über ☃ snowman mixed in with ascii words too")
    val engine = texts.toDF("text")
      .select(call_function("graft_minhash_sig",
        TextStats.tokens(col("text")), lit(3), lit(32)).as("sig"))
      .as[Seq[Long]].collect()
    texts.zip(engine).foreach { case (t, e) =>
      assert(e.toArray.sameElements(oracleSig(t, 32)),
        s"signature family diverged from the oracle construction for: $t")
    }
  }

  test("minhash LSH finds planted near-duplicates") {
    import spark.implicits._
    // Build a tiny corpus dir-free: monkey layer — use ngramJaccardPairs
    // over a temp view is not possible (Dedup reads Tables.documents), so
    // test the building blocks directly.
    val base = "the quick brown fox jumps over the lazy dog again and again today"
    val near = base.replace("today", "tomorrow")
    val far = "completely unrelated content about databases and query optimizers"
    val docs = Seq((0L, base), (1L, near), (2L, far)).toDF("doc_id", "text")
    val sh = docs.select(col("doc_id"),
      array_distinct(TextStats.shingles(TextStats.tokens(col("text")), 2)).as("sh"))
    val sig = sh.select(col("doc_id"),
      Dedup.minhashSignature(transform(col("sh"), s => xxhash64(s)), 32).as("sig"))
    val sigs = sig.collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    def agreement(a: Seq[Long], b: Seq[Long]) = a.zip(b).count { case (x, y) => x == y } / 32.0
    assert(agreement(sigs(0L), sigs(1L)) > 0.5, "near-dup signatures mostly agree")
    assert(agreement(sigs(0L), sigs(2L)) < 0.2, "unrelated signatures disagree")
  }

  test("cosine: exact values on unit vectors; fused expr == composed HOF form") {
    import spark.implicits._
    val df = Seq((Array(1.0, 0.0), Array(0.0, 1.0)), (Array(1.0, 1.0), Array(1.0, 1.0)))
      .toDF("a", "b")
    val cs = df.select(Similarity.cosine(col("a"), col("b")).as("c"))
      .collect().map(_.getDouble(0))
    assert(math.abs(cs(0)) < 1e-12 && math.abs(cs(1) - 1.0) < 1e-12)
    // The fused codegen expression must be BIT-identical to the composed
    // dot/(norm·norm) HOF form on real embeddings (same IEEE fold order).
    val e = graft.tables.Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .limit(50)
    val composed = Similarity.dot(col("a.v"), col("b.v")) /
      (sqrt(Similarity.dot(col("a.v"), col("a.v"))) *
        sqrt(Similarity.dot(col("b.v"), col("b.v"))))
    val both = e.as("a").join(e.as("b"), col("a.vec_id") < col("b.vec_id"))
      .select(Similarity.cosine(col("a.v"), col("b.v")).as("fused"),
        composed.as("hof"))
      .collect()
    assert(both.nonEmpty)
    both.foreach(r => assert(
      java.lang.Double.doubleToLongBits(r.getDouble(0)) ==
        java.lang.Double.doubleToLongBits(r.getDouble(1)),
      s"fused ${r.getDouble(0)} != composed ${r.getDouble(1)}"))
  }

  test("brute-force top-k is exact and deterministic") {
    val r1 = Similarity.qSimTopk(spark, sf).collect()
    val r2 = Similarity.qSimTopk(spark, sf).collect()
    assert(r1.toSeq === r2.toSeq)
    assert(r1.length === 50) // 10 queries × top-5
    // ranks are 1..5 per query and cosine non-increasing within a query
    r1.groupBy(_.getLong(0)).foreach { case (_, rows) =>
      val sorted = rows.sortBy(_.getInt(2))
      assert(sorted.map(_.getInt(2)).toSeq === (1 to 5))
      val coss = sorted.map(_.getDouble(3)).toSeq
      assert(coss === coss.sorted.reverse)
    }
  }

  test("LSH top-k neighbors are a subset of candidates with exact cosines") {
    val exact = Similarity.qSimTopk(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(3)).toMap
    val lsh = Similarity.qSimLsh(spark, sf).collect()
    assert(lsh.nonEmpty)
    // Any (query, cand) the LSH path reports with a cosine that the exact
    // top-5 also contains must agree on the value.
    lsh.foreach { r =>
      exact.get((r.getLong(0), r.getLong(1))).foreach { c =>
        assert(math.abs(c - r.getDouble(3)) < 1e-9)
      }
    }
  }

  test("exact dedup groups identical normalized text") {
    import spark.implicits._
    val norm = regexp_replace(lower(trim(lit("  A  b   C "))), "\\s+", " ")
    assert(Seq(1).toDF("x").select(norm).head().getString(0) === "a b c")
    val res = Dedup.qDedupExact(spark, sf)
    assert(res.agg(sum("n_copies")).head().getLong(0) ===
      graft.tables.Tables.documents(spark, sf).count())
  }

  test("mix weights: quotas feasible, exactly met, realized mixture within 1/T of target") {
    val targets = Map("en" -> 4000L, "de" -> 1500L, "es" -> 1500L,
      "fr" -> 1500L, "zh" -> 1500L)
    val rows = TextStats.qMixWeights(spark, sf).collect()
    assert(rows.nonEmpty)
    val total = rows.map(_.getLong(3)).sum
    rows.foreach { r =>
      val (lang, nIn, quota, nKept) =
        (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))
      assert(nKept === quota, s"$lang quota not exactly met")
      assert(quota <= nIn, s"$lang quota exceeds availability")
      // Each floor loses < 1 doc and the realized total loses < #langs, so
      // every realized share sits within ~#langs+1 docs of target.
      assert(math.abs(nKept.toDouble / total - targets(lang) / 10000.0) <=
        (targets.size + 1).toDouble / total, s"$lang realized share off target")
    }
  }

  test("repetition signals: hand-computed on literal docs") {
    import spark.implicits._
    // "x x x x y": top word 4/5; bigrams (xx,xx,xx,xy) top 3/4;
    // trigrams (xxx,xxx,xxy) -> xxx duplicated, 2 of 3 occurrences.
    val rows = TextStats.repetitionProjection(
      Seq((1L, "x x x x y"), (2L, "a b c d e f")).toDF("doc_id", "text"))
      .orderBy(col("doc_id")).collect()
    val r1 = rows(0)
    assert(r1.getLong(1) === 5L)
    assert(r1.getDouble(2) === 4.0 / 5)
    assert(r1.getDouble(3) === 3.0 / 4)
    assert(r1.getDouble(4) === 2.0 / 3)
    assert(r1.getInt(5) === 1)
    val r2 = rows(1)
    assert(r2.getDouble(2) === 1.0 / 6 && r2.getDouble(4) === 0.0)
    assert(r2.getInt(5) === 1) // 1/6 > 0.15: short docs flag on top-word easily
  }

  test("repetition signals: randomized brute-force cross-check incl. guard paths") {
    import spark.implicits._
    // Small alphabet forces collisions; lengths 0-12 hit the n=0/1/2 guards.
    val rnd = new scala.util.Random(42)
    val docs = (1L to 40L).map { i =>
      val n = rnd.nextInt(13)
      (i, Seq.fill(n)(('a' + rnd.nextInt(4)).toChar.toString).mkString(" "))
    }
    val got = TextStats.repetitionProjection(docs.toDF("doc_id", "text"))
      .orderBy(col("doc_id")).collect()
    def topMult(gs: Seq[String]): Long =
      if (gs.isEmpty) 0L else gs.groupBy(identity).values.map(_.size).max.toLong
    docs.zip(got).foreach { case ((id, text), r) =>
      val w = text.split("\\s+").filter(_.nonEmpty).toSeq
      val bi = w.sliding(2).filter(_.size == 2).map(_.mkString(" ")).toSeq
      val tri = w.sliding(3).filter(_.size == 3).map(_.mkString(" ")).toSeq
      val dupTri = tri.groupBy(identity).values.collect {
        case g if g.size >= 2 => g.size.toLong
      }.sum
      assert(r.getLong(0) === id && r.getLong(1) === w.size.toLong)
      assert(r.getDouble(2) === (if (w.isEmpty) 0.0 else topMult(w).toDouble / w.size))
      assert(r.getDouble(3) === (if (w.size < 2) 0.0 else topMult(bi).toDouble / (w.size - 1)))
      assert(r.getDouble(4) === (if (w.size < 3) 0.0 else dupTri.toDouble / (w.size - 2)))
    }
  }

  test("decontaminate: train-only rows, counts re-derived from string 5-grams") {
    import spark.implicits._
    val out = Dedup.qDecontaminate(spark, sf).collect()
    assert(out.nonEmpty)
    // Independent re-derivation on 5-gram STRINGS (the query counts 64-bit
    // shingle hashes): per-doc distinct gram sets via TextStats.shingles.
    val docs = graft.tables.Tables.documents(spark, sf)
      .select(col("doc_id"),
        array_distinct(TextStats.shingles(TextStats.tokens(col("text")), 5)).as("g"))
      .as[(Long, Seq[String])].collect().toMap
    val isEval = (id: Long) => {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
      (java.lang.Long.parseLong(md.take(4).map("%02x".format(_)).mkString, 16) % 100) < 10
    }
    val evalGrams = docs.collect { case (id, g) if isEval(id) => g.toSet }
      .foldLeft(Set.empty[String])(_ ++ _)
    out.foreach { r =>
      val (id, nShared, flag) = (r.getLong(0), r.getLong(1), r.getInt(2))
      assert(!isEval(id), s"eval doc $id leaked into the train-side output")
      assert((docs(id).toSet & evalGrams).size === nShared)
      assert(flag === (if (nShared >= 8) 1 else 0))
    }
  }

  test("PQ: ADC equals exact distance when every vector is its own centroid") {
    import spark.implicits._
    // 16 vectors with DISTINCT subvectors in every subspace (i ≢ i' mod 17
    // keeps the linear pattern collision-free over ids 0..15): with n = k,
    // Lloyd assigns every subvector to its own seed centroid at d² = 0 and
    // the codebook is a fixpoint, so the asymmetric distance must equal the
    // exact fixed-point squared distance for every (query, candidate) pair.
    def vec(i: Int): Array[Double] =
      Array.tabulate(Similarity.DIMS)(j => ((i * 7 + j * 3) % 17 - 8) * 0.25)
    val df = (0 until 16).map(i => (i.toLong, vec(i))).toDF("vec_id", "v")
    val got = Similarity.pqOver(df).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(3)).toMap
    def s(i: Int): Array[Long] = vec(i).map(x => math.round(x * 1e6))
    def d2(a: Array[Long], b: Array[Long]): Long =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    val expect = for {
      q <- 0 until 10
      ranked = (0 until 16).filter(_ != q)
        .map(c => (d2(s(q), s(c)), c.toLong)).sorted.take(5)
      (d, c) <- ranked
    } yield (q.toLong, c) -> d
    assert(expect.size === 50)
    expect.foreach { case (k, d) =>
      assert(got.get(k).contains(d), s"pair $k: expected adist $d, got ${got.get(k)}")
    }
  }

  test("PQ on the corpus: deterministic, full rank sets, adist non-decreasing") {
    val r1 = Similarity.qSimPq(spark, sf).collect()
    val r2 = Similarity.qSimPq(spark, sf).collect()
    assert(r1.toSeq === r2.toSeq)
    assert(r1.length === 50)
    r1.groupBy(_.getLong(0)).foreach { case (_, rows) =>
      val sorted = rows.sortBy(_.getInt(2))
      assert(sorted.map(_.getInt(2)).toSeq === (1 to 5))
      val dists = sorted.map(_.getLong(3)).toSeq
      assert(dists === dists.sorted, "adist must be non-decreasing in rank")
      assert(dists.forall(_ >= 0L))
    }
  }

  test("IVF top-k: valid ranks, exact cosines, cell-restricted candidates") {
    val ivf = Similarity.qSimIvf(spark, sf).collect()
    assert(ivf.nonEmpty)
    val exact = Similarity.qSimTopk(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(3)).toMap
    ivf.foreach { r =>
      assert(r.getInt(2) >= 1 && r.getInt(2) <= 5)
      exact.get((r.getLong(0), r.getLong(1))).foreach { c =>
        assert(math.abs(c - r.getDouble(3)) < 1e-9)
      }
    }
  }

  test("IVF multi-probe: recall vs brute force is monotone in nprobe") {
    // True top-5 pairs from the exact scan; recall(np) = fraction of them
    // the IVF probe recovers. Probed cells are ranked by the same exact
    // integer d2 for every nprobe, so candidate sets are NESTED — a true
    // neighbor found at nprobe=k cannot be lost at nprobe=k+1 (only a
    // higher-cosine candidate could displace it, and that candidate would
    // itself be a true top-5 member).
    val truth = Similarity.qSimTopk(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    def recall(np: Int): Double = {
      spark.conf.set(Similarity.IvfNprobeKey, np.toString)
      try {
        val got = Similarity.qSimIvf(spark, sf).collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
        (truth & got).size.toDouble / truth.size
      } finally spark.conf.unset(Similarity.IvfNprobeKey)
    }
    val r1 = recall(1); val r2 = recall(2); val r4 = recall(4)
    assert(r1 <= r2 && r2 <= r4, s"recall not monotone: $r1, $r2, $r4")
    assert(r4 > 0.0)
    // All 16 cells probed = every candidate scanned = exact recall.
    assert(recall(Similarity.IVF_CELLS) === 1.0)
  }

  test("ivfCellCount: 16 below the knee, then next-pow2 of N/target") {
    import Similarity.ivfCellCount
    assert(ivfCellCount(0L) === 16)
    assert(ivfCellCount(2000L) === 16)
    assert(ivfCellCount(16L * 65536L) === 16)
    assert(ivfCellCount(16L * 65536L + 1L) === 32)
    assert(ivfCellCount(1L << 26) === 1024)
    // monotone in N
    val samples = Seq(1L, 1000L, 1L << 20, 1L << 24, 1L << 30, 1L << 40)
    assert(samples.map(ivfCellCount) === samples.map(ivfCellCount).sorted)
  }

  test("tfidf: top-3 per doc, scores non-increasing, idf monotone in df") {
    val rows = TextStats.qTfidf(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getLong(0)).foreach { case (_, rs) =>
      val byRank = rs.sortBy(_.getInt(4))
      assert(byRank.map(_.getInt(4)).toSeq == (1 to byRank.length))
      assert(byRank.length <= 3)
      // ranked by (score desc, term asc)
      assert(byRank.sliding(2).forall {
        case Array(a, b) =>
          a.getLong(3) > b.getLong(3) ||
            (a.getLong(3) == b.getLong(3) && a.getString(1) < b.getString(1))
        case _ => true
      })
    }
  }

  test("bm25: top-10 re-derived from raw text by independent integer replay") {
    // Recompute the whole fixed-point pipeline in plain Scala from the raw
    // corpus and require the query's top-10 (doc, n_terms, tf_total, score,
    // rank) to match exactly — exercises idf, the length norm, and the
    // truncating-division order, not just monotonicity.
    val docs = graft.tables.Tables.documents(spark, sf)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).split("\\s+").filter(_.nonEmpty))
    val terms = TextStats.BM25_TERMS.toSet
    val nDocs = docs.length.toLong
    val tokTotal = docs.map(_._2.length.toLong).sum
    val avgdlX1000 = tokTotal * 1000L / nDocs
    val tf = docs.flatMap { case (id, toks) =>
      toks.filter(terms).groupBy(identity).map { case (t, xs) =>
        (id, toks.length.toLong, t, xs.length.toLong) }
    }
    val dfreq = tf.groupBy(_._3).map { case (t, xs) => t -> xs.length.toLong }
    val perDoc = tf.groupBy(_._1).map { case (id, rows) =>
      val score = rows.map { case (_, dl, t, f) =>
        (nDocs * 1000000L / dfreq(t)) * f * 2200L /
          (f * 1000L + 300L + 900000L * dl / avgdlX1000)
      }.sum
      (id, rows.length.toLong, rows.map(_._4).sum, score)
    }.toSeq
    val expect = perDoc.sortBy { case (id, _, _, s) => (-s, id) }.take(10)
    val got = TextStats.qBm25(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getInt(4)))
    assert(got.length === expect.length)
    got.zip(expect).zipWithIndex.foreach { case (((gId, gN, gTf, gS, gR), (eId, eN, eTf, eS)), i) =>
      assert(gR === i + 1)
      assert((gId, gN, gTf, gS) === ((eId, eN, eTf, eS)), s"rank ${i + 1}")
    }
  }

  test("corpus card: per-source masses re-derived from raw text, index from the sums") {
    val card = graft.llm.Dedup.qCorpusCard(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7), r.getDouble(8)))
      .toMap
    val stops = Set("the", "a", "of", "and", "is")
    val docs = graft.tables.Tables.documents(spark, sf)
      .select("doc_id", "source", "text").collect()
      .map { r =>
        val text = r.getString(2)
        val toks = text.split("\\s+").filter(_.nonEmpty)
        (r.getLong(0), r.getString(1), toks.length.toLong, text.length.toLong,
          math.min(text.length, 500).toLong,
          text.count(c => "!\"#$%&'()*+,-./:;<=>?@[\\]^_`{|}~".contains(c)).toLong,
          toks.count(stops).toLong)
      }
    val clustered = graft.llm.Dedup.qDedupCluster(spark, sf).collect()
      .map(_.getLong(0)).toSet
    val bySource = docs.groupBy(_._2)
    assert(card.keySet === bySource.keySet)
    for ((src, members) <- bySource) {
      val (nDocs, tokT, charT, lenT, punctT, stopT, nDups, qIdx) = card(src)
      assert(nDocs === members.length.toLong, src)
      assert(tokT === members.map(_._3).sum, src)
      assert(charT === members.map(_._4).sum, src)
      assert(lenT === members.map(_._5).sum, src)
      assert(punctT === members.map(_._6).sum, src)
      assert(stopT === members.map(_._7).sum, src)
      assert(nDups === members.count(m => clustered(m._1)).toLong, src)
      val expectIdx = lenT.toDouble / (nDocs * 500L).toDouble * 0.5 +
        (1.0 - punctT.toDouble / charT.toDouble) * 0.25 +
        stopT.toDouble / tokT.toDouble * 0.25
      assert(qIdx === expectIdx, src)
    }
  }

  test("dedup-canonical: keeper is the max-quality member of its cluster") {
    val clusters = Dedup.qDedupCluster(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    val quality = TextStats.qQualityScore(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getDouble(4)).toMap
    val byCluster = clusters.groupBy(_._2)
    val out = Dedup.qDedupCanonical(spark, sf).collect()
    assert(out.map(_.getLong(0)).toSet === byCluster.keySet)
    out.foreach { r =>
      val (rep, keep, q, n) = (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))
      val members = byCluster(rep).map(_._1)
      assert(members.contains(keep) && n === members.length.toLong)
      val best = members.map(quality).max
      assert(q === best, s"cluster $rep kept quality $q, best is $best")
      // doc_id-asc tiebreak among equal-quality members
      assert(keep === members.filter(m => quality(m) == best).min)
    }
  }

  test("dedup-cluster strategy crossover: DataFrame min-label rounds match GraphX") {
    val viaGraphX = Dedup.qDedupCluster(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    // A fresh session recomputes the session-cached cluster table; the
    // injected 1-pair bound forces the declarative CC rounds. Both label
    // components with the minimum doc_id, so rows must match exactly.
    val s2 = spark.newSession()
    s2.conf.set(graft.color.GraphXKernel.MaxEdgesKey, "1")
    try {
      val viaDf = Dedup.qDedupCluster(s2, sf).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(viaDf === viaGraphX)
    } finally s2.conf.unset(graft.color.GraphXKernel.MaxEdgesKey)
  }

  test("dedup-cluster: reps are component minima consistent with the pairs") {
    val pairs = Dedup.minhashVerifiedPairs(spark, sf)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val cluster = Dedup.qDedupCluster(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // every paired doc is clustered; pair endpoints agree; rep <= member
    pairs.foreach { case (a, b) =>
      assert(cluster(a) === cluster(b))
      assert(cluster(a) <= math.min(a, b))
    }
    // every rep is itself a member mapping to itself
    cluster.values.foreach(rep => assert(cluster(rep) === rep))
  }

  test("containment catches subset duplication that Jaccard misses") {
    import spark.implicits._
    // Doc 1 (8 tokens, 4 5-gram shingles) is fully embedded in doc 2
    // (38 tokens, 34 shingles): containment = 1.0 but jaccard = 4/34 —
    // far below the q_dedup_ngram 0.2 threshold.
    val small = "a b c d e f g h"
    val big = small + " " + (1 to 30).map(i => s"u$i").mkString(" ")
    val pairs = Dedup.containmentPairs(
      Seq((1L, small), (2L, big), (3L, "totally different words only here"))
        .toDF("doc_id", "text"), n = 5, threshold = 0.5).collect()
    assert(pairs.length === 1)
    val p = pairs.head
    assert((p.getLong(0), p.getLong(1)) === (1L, 2L))
    assert(p.getDouble(2) === 1.0)
    assert(p.getDouble(3) === 4.0 / 34)
    assert(p.getDouble(3) < 0.2)
    // And on the corpus: containment dominates jaccard on every pair.
    val corpus = Dedup.qDedupContainment(spark, sf).collect()
    assert(corpus.nonEmpty)
    corpus.foreach { r =>
      assert(r.getDouble(2) >= 0.5 && r.getDouble(2) >= r.getDouble(3))
    }
  }

  test("duplicate-ngram fraction: copies score 1, unique docs 0, short docs NULL") {
    import spark.implicits._
    val shared = "a b c d e f g h"
    val rows = Dedup.dupFraction(Seq(
      (1L, shared),                              // exact 5-gram copy of doc 2
      (2L, shared),
      (3L, "only unique words appear in this document text"),
      (4L, "too short")                          // < 5 tokens: no shingles
    ).toDF("doc_id", "text")).collect()
    val byId = rows.map(r => r.getLong(0) ->
      (r.getLong(1), r.getLong(2), if (r.isNullAt(3)) None else Some(r.getDouble(3)))).toMap
    assert(byId(1L) === ((4L, 4L, Some(1.0))))   // all 4 shingles shared
    assert(byId(2L) === ((4L, 4L, Some(1.0))))
    assert(byId(3L) === ((4L, 0L, Some(0.0))))   // 8 tokens -> 4 unique shingles
    assert(byId(4L) === ((0L, 0L, None)))        // unshingleable: NULL fraction
    // Corpus sanity: fractions are in [0,1] and n_dup never exceeds n_sh.
    val corpus = Dedup.qDedupFraction(spark, sf).collect()
    assert(corpus.nonEmpty)
    corpus.filter(!_.isNullAt(3)).foreach { r =>
      assert(r.getLong(2) <= r.getLong(1))
      assert(r.getDouble(3) >= 0.0 && r.getDouble(3) <= 1.0)
    }
  }

  test("power iteration finds the dominant axis of literal vectors") {
    import spark.implicits._
    // 20 vectors lying exactly on axis 1 (±magnitudes): the Gramian is
    // diag(c, 0, …, 0), so the fixed-point iteration must converge to e1
    // EXACTLY — component 1 at the 2^20..2^21 renorm scale, all others 0.
    val rows = (0 until 20).map { i =>
      val a = Array.fill(64)(0.0)
      a(0) = if (i % 2 == 0) 0.5 else -0.25
      (i.toLong, a)
    }
    val v = Similarity.pcaPower(spark, rows.toDF("vec_id", "embedding"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(v(1L) >= (1L << 20) && v(1L) < (1L << 21),
      s"axis-1 component off renorm scale: ${v(1L)}")
    (2L to 64L).foreach(j => assert(v(j) === 0L, s"component $j nonzero"))
    // Corpus sanity: 64 components, renorm keeps max |v| on scale.
    val corpus = Similarity.qPcaPower(spark, sf).collect()
    assert(corpus.length === 64)
    val mx = corpus.map(r => math.abs(r.getLong(1))).max
    assert(mx >= (1L << 20) && mx < (1L << 21), s"max |v| off scale: $mx")
  }

  test("incremental dedup: statuses consistent with the batch/corpus split") {
    val isBatch = (id: Long) => {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
      val hex = md.map("%02x".format(_)).mkString.substring(0, 8)
      java.lang.Long.parseLong(hex, 16) % 100 < 20
    }
    val rows = Dedup.qDedupIncremental(spark, sf).collect()
    val nBatch = graft.tables.Tables.documents(spark, sf)
      .collect().map(_.getAs[Long]("doc_id")).count(isBatch)
    assert(rows.length === nBatch)
    rows.foreach { r =>
      val (id, status, matchId, nNear) =
        (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))
      assert(isBatch(id), s"doc $id in output but not in the batch cut")
      status match {
        case "new" => assert(matchId === -1L && nNear === 0L)
        case "near" =>
          assert(matchId >= 0L && nNear > 0L)
          assert(!isBatch(matchId), s"near match $matchId is a batch doc")
        case "exact" =>
          assert(matchId >= 0L && !isBatch(matchId))
        case other => fail(s"unknown status $other")
      }
    }
    // The near set must equal the cross (batch, corpus) restriction of the
    // symmetric verified-pair table — the oracle-equivalence argument.
    val vp = Dedup.minhashVerifiedPairs(spark, sf)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val crossNear = vp.flatMap { case (a, b) =>
      if (isBatch(a) && !isBatch(b)) Some(a -> b)
      else if (isBatch(b) && !isBatch(a)) Some(b -> a)
      else None
    }.groupBy(_._1).map { case (k, v) => k -> (v.map(_._2).min, v.length) }
    val nearRows = rows.filter(_.getString(1) == "near")
      .map(r => r.getLong(0) -> (r.getLong(2), r.getLong(3).toInt)).toMap
    assert(nearRows === crossNear)
  }

  test("quality filter verdict recomposes from the three signal queries") {
    val quality = TextStats.qQualityScore(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getDouble(4)).toMap
    val rep = TextStats.qRepetition(spark, sf).collect()
      .map(r => r.getLong(0) -> ((r.getDouble(2), r.getDouble(4)))).toMap
    val lang = TextStats.qLangId(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val nTok = TextStats.qTextStats(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val rows = TextStats.qQualityFilter(spark, sf).collect()
    assert(rows.length === nTok.size)
    rows.foreach { r =>
      val (id, n, pred, verdict) =
        (r.getLong(0), r.getLong(1), r.getString(2), r.getString(3))
      assert(n === nTok(id) && pred === lang(id))
      val (twf, dtf) = rep(id)
      val expected =
        if (n < 20) "too_short"
        else if (pred != "en") "non_english"
        else if (twf > 0.15 || dtf > 0.05) "repetitive"
        else if (quality(id) < 0.5) "low_quality"
        else "kept"
      assert(verdict === expected, s"doc $id")
    }
    assert(rows.map(_.getString(3)).distinct.length >= 3,
      "verdict mix degenerate at this scale")
  }

  test("semantic dedup decision re-derived brute-force from raw embeddings") {
    val emb = graft.tables.Tables.embeddings(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    val rows = Similarity.qDedupSemantic(spark, sf).collect()
    assert(rows.length === emb.size)
    val cellOf = rows.map(r => r.getLong(0) -> r.getInt(1)).toMap
    rows.foreach { r =>
      val (id, cell, dupOf, keep, nMatches) =
        (r.getLong(0), r.getInt(1), r.getLong(2), r.getInt(3), r.getLong(4))
      // Re-derive the within-cell prior matches from the raw vectors (the
      // threshold margin at this scale is ≥ 8.5e-4, far above any summation
      // -order noise between this loop and the codegen fold).
      val matches = cellOf.keys.filter(o =>
        o < id && cellOf(o) == cell && cos(emb(o), emb(id)) >= Similarity.SEMANTIC_TAU)
      if (matches.isEmpty) {
        assert(keep === 1 && dupOf === -1L && nMatches === 0L, s"vec $id")
      } else {
        assert(keep === 0 && dupOf === matches.min && nMatches === matches.size,
          s"vec $id")
      }
    }
    // Non-degenerate: the corpus actually exercises both branches.
    assert(rows.exists(_.getInt(3) === 0) && rows.count(_.getInt(3) === 1) > 400)
  }

  test("lm score: integer surprisal re-derived from raw text") {
    val docs = graft.tables.Tables.documents(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        r.getAs[String]("text").split("\\s+").filter(_.nonEmpty).toSeq).toMap
    val counts = docs.values.flatten.groupBy(identity).map { case (t, o) => t -> o.size.toLong }
    val total = counts.values.sum
    // floor(log2(total / c)) = 63 - leadingZeros of the integer quotient
    def sp(t: String): Long = 63L - java.lang.Long.numberOfLeadingZeros(total / counts(t))
    val rows = TextStats.qLmScore(spark, sf).collect()
    assert(rows.length === docs.count(_._2.nonEmpty))
    rows.foreach { r =>
      val (id, n, ts, avg) =
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))
      val toks = docs(id)
      assert(n === toks.size.toLong)
      val expected = toks.map(sp).sum
      assert(ts === expected, s"doc $id")
      assert(avg === expected.toDouble / toks.size)
    }
    // The score separates docs: rare-token docs sit above common-token docs.
    assert(rows.map(_.getDouble(3)).distinct.length > 10)
  }

  test("multimodal: batch extract preserves rows, schema, and determinism") {
    val media = Multimodal.mediaTable(spark, sf)
    val feats = Multimodal.extractFeatures(media)
    assert(feats.count() === media.count())
    // histogram sums to payload byte count; only videos sample frames
    val bad = feats.filter(f =>
      f.histogram.sum != f.n_bytes ||
        (f.media_type != "video" && f.sampled_frames.nonEmpty) ||
        (f.media_type == "video" && f.sampled_frames.isEmpty))
    assert(bad.isEmpty)
    // resize never exceeds maxSide
    assert(feats.filter(f => f.out_width > 32 || f.out_height > 32).isEmpty)
    val s1 = Multimodal.qMultimodal(spark, sf).collect().toSeq
    val s2 = Multimodal.qMultimodal(spark, sf).collect().toSeq
    assert(s1 === s2)
  }

  test("dedup spans: per-doc masks re-derived by a driver-side rolling scan") {
    val W = Dedup.SPAN_W
    val docs = graft.tables.Tables.documents(spark, sf)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val toks = docs.map { case (id, t) =>
      id -> t.split("\\s+").filter(_.nonEmpty).toSeq
    }.toMap
    // Global window multiset over the WINDOW TEXT (md5 in the query is a
    // pure transport encoding; equality of digests == equality of text).
    val wins = toks.toSeq.flatMap { case (id, ts) =>
      (0 to ts.length - W).map(i => (id, i + 1, ts.slice(i, i + W).mkString(" ")))
    }
    val counts = wins.groupBy(_._3).view.mapValues(_.size).toMap
    val marked = wins.filter(w => counts(w._3) >= 2)
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    val expect = marked.toSeq.map { case (id, ps) =>
      val spans = 1 + ps.sliding(2).count {
        case Seq(a, b) => b - a > W
        case _ => false
      }
      val covered = ps.flatMap(p => p until p + W).distinct.size
      (id, toks(id).length.toLong, ps.size.toLong, spans.toLong, covered.toLong,
        covered.toDouble / toks(id).length.toDouble)
    }.sortBy(_._1)
    val got = Dedup.qDedupSpans(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5)))
    assert(got.toSeq === expect)
    // The corpus plants cross-doc duplicates: the mask must be non-trivial
    // and never exceed the doc.
    assert(got.nonEmpty)
    assert(got.forall { case (_, n, _, _, dup, frac) =>
      dup <= n && frac > 0.0 && frac <= 1.0 })
  }

  test("outlier embed: exact integer centroid-distance ranking re-derived brute force") {
    val vecs = graft.tables.Tables.embeddings(spark, sf)
      .selectExpr("vec_id", "label", "CAST(embedding AS ARRAY<DOUBLE>) AS v")
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getSeq[Double](2).toArray))
    val q = vecs.map { case (id, l, v) =>
      (id, l, v.map(x => math.floor(x * Similarity.OUTLIER_SCALE).toLong)) }
    val n = q.length.toLong
    val dims = q.head._3.length
    val s = Array.tabulate(dims)(j => q.map(_._3(j)).sum)
    val scored = q.map { case (id, l, qs) =>
      val score = qs.indices.map { j =>
        val d = BigInt(n * qs(j) - s(j)); d * d
      }.sum
      (id, l, score)
    }
    val expect = scored.sortBy { case (id, _, sc) => (-sc, id) }
      .take(Similarity.OUTLIER_TOPK)
      .map { case (id, l, sc) =>
        (id, l, sc.toString,
          sc.toDouble / n.toDouble / n.toDouble /
            (Similarity.OUTLIER_SCALE * Similarity.OUTLIER_SCALE).toDouble)
      }
    val got = Similarity.qOutlierEmbed(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getDouble(3)))
    assert(got.toSeq === expect.toSeq)
    // Monotone: exact integer score order implies dist2 order (ties aside).
    val scores = got.map(t => BigInt(t._3)).toSeq
    assert(scores === scores.sortBy(x => x).reverse)
  }

  /** Per-document (n_tok, n_punct) replicated in plain Scala — the shared
    * input of the skyline and priority-sampling replicas. */
  private def docMetrics(): Array[(Long, Long, Long)] =
    graft.tables.Tables.documents(spark, sf).select("doc_id", "text").collect()
      .map { r =>
        val text = r.getString(1)
        val nTok = text.split("\\s+").count(_.nonEmpty).toLong
        val nPunct = (text.length - text.replaceAll("\\p{Punct}", "").length).toLong
        (r.getLong(0), nTok, nPunct)
      }

  test("skyline: survivors are exactly the non-dominated set (O(n*m) dominance replay)") {
    val m = docMetrics()
    // q dominates p: >= on tokens, <= on punct, strict somewhere.
    def dominated(p: (Long, Long, Long)) = m.exists { q =>
      q._1 != p._1 && q._2 >= p._2 && q._3 <= p._3 &&
        (q._2 > p._2 || q._3 < p._3)
    }
    val expect = m.filterNot(dominated)
      .sortBy { case (id, nTok, _) => (-nTok, id) }
    val got = TextStats.qSkyline(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq === expect.toSeq)
    assert(got.nonEmpty)
    // The front is a strict staircase: tokens strictly descending implies
    // punct strictly descending too (ties on tokens share one punct level).
    val byTok = got.map(t => (t._2, t._3)).distinct.sortBy(-_._1)
    byTok.sliding(2).foreach {
      case Array((t1, p1), (t2, p2)) => assert(t1 > t2 && p1 > p2)
      case _ =>
    }
  }

  test("priority sampling: exact integer w/u priorities, top-k by (priority, id)") {
    val md = java.security.MessageDigest.getInstance("MD5")
    val expect = docMetrics().map { case (id, nTok, _) =>
      val hex = md.digest(id.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      val u = java.lang.Long.parseLong(hex.substring(0, 15), 16) + 1L
      val w = nTok + 1L
      (id, w, (w * 1099511627776L) / u)
    }.sortBy { case (id, _, pr) => (-pr, id) }
      .take(TextStats.PrioritySampleK)
    val got = TextStats.qSamplePriority(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq === expect.toSeq)
  }

  test("distributed k-means: cluster cards match a driver-side Lloyd replica exactly") {
    val vecs = graft.tables.Tables.embeddings(spark, sf)
      .selectExpr("vec_id", "CAST(embedding AS ARRAY<DOUBLE>) AS v").collect()
      .map { r =>
        // Spark round() = BigDecimal.valueOf(d).setScale(0, HALF_UP).
        val q = r.getSeq[Double](1).map(x =>
          BigDecimal(x * 1e6).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong).toArray
        (r.getLong(0), q)
      }.sortBy(_._1)
    val dims = vecs.head._2.length
    def d2(a: Array[Long], b: Array[Long]): BigInt =
      (0 until dims).map { j => val d = BigInt(a(j) - b(j)); d * d }.sum
    var cents: Array[(Int, Array[Long])] =
      vecs.filter(_._1 < Similarity.KMEANS_K).map { case (id, q) => (id.toInt, q) }
    def assign(q: Array[Long]): Int =
      cents.map { case (c, cs) => (d2(q, cs), c) }.minBy(identity)._2
    for (_ <- 0 until Similarity.KMEANS_ITERS) {
      val byCell = vecs.groupBy { case (_, q) => assign(q) }
      cents = cents.map { case (c, old) =>
        byCell.get(c) match {
          case Some(members) =>
            (c, Array.tabulate(dims)(j =>
              members.map(_._2(j)).sum / members.length.toLong))
          case None => (c, old)
        }
      }
    }
    val expect = vecs.groupBy { case (_, q) => assign(q) }.toSeq
      .map { case (c, members) =>
        val inertia = members.map { case (_, q) => d2(q, cents.find(_._1 == c).get._2) }.sum
        (c, members.length.toLong, inertia.toString,
          inertia.toDouble / members.length.toDouble / 1e12)
      }.sortBy(_._1)
    val got = Similarity.qClusterKmeans(spark, sf).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getString(2), r.getDouble(3)))
    assert(got.toSeq === expect)
    assert(got.map(_._2).sum === vecs.length.toLong)
  }
}
