package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.llm.{Similarity, TextStats}

/** Driver-side brute-force replicas of the second round-11 curation batch
  * (DSIR importance weighting, char-entropy quality, PMI collocations,
  * content-defined chunking, reciprocal-rank fusion) on the sf0.001
  * corpus — each op's distributed plan must match an independent, literal
  * re-computation exactly, including every fixed-point truncation. */
class CurationOps2Spec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.get
  private val sf = Corpus.dir("sf0.001")

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  private def h32(s: String): Long =
    java.lang.Long.parseLong(md5hex(s).substring(0, 8), 16)

  /** length(bin(x)) − 1 for non-negative x (bin(0) = "0" → 0). */
  private def ilog2(x: Long): Long =
    if (x <= 0L) 0L else 63L - java.lang.Long.numberOfLeadingZeros(x)

  private lazy val docs: Array[(Long, String, String)] =
    graft.tables.Tables.documents(spark, sf)
      .select("doc_id", "text", "lang").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).sortBy(_._1)

  private def letterWords(text: String): Array[String] =
    "[a-z]+".r.findAllIn(text.toLowerCase).toArray

  private def wsTokens(text: String): Array[String] =
    text.split("\\s+").filter(_.nonEmpty)

  test("dsir: hashed-unigram importance weights match brute force") {
    val B = TextStats.DsirBuckets.toLong
    val toks = docs.flatMap { case (id, t, lang) =>
      letterWords(t).map(w => (id, lang, h32(w) % B))
    }
    val db = toks.groupBy(identity).map { case ((id, lang, b), g) =>
      (id, lang, b, g.length.toLong)
    }.toSeq
    val nr = db.map(_._4).sum
    val nt = db.collect { case (_, "en", _, n) => n }.sum
    val wt = db.groupBy(_._3).map { case (b, g) =>
      val cr = g.map(_._4).sum
      val ct = g.collect { case (_, "en", _, n) => n }.sum
      b -> (ilog2(((ct + 1) * 1000000000L) / (nt + B))
        - ilog2(((cr + 1) * 1000000000L) / (nr + B)))
    }
    val expect = db.groupBy(d => (d._1, d._2)).toSeq
      .map { case ((id, lang), g) =>
        (id, lang, g.map(_._4).sum, g.map(d => d._4 * wt(d._3)).sum)
      }
      .sortBy { case (id, _, _, lw) => (-lw, id) }
      .take(TextStats.DsirTopK)
      .zipWithIndex.map { case ((id, lang, nf, lw), i) => (id, lang, nf, lw, i + 1) }
    val got = TextStats.qDsir(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3), r.getInt(4)))
    assert(got.toSeq === expect)
  }

  test("char_entropy: integer code lengths match a code-point replica") {
    val expect = docs.filter(_._2.nonEmpty).map { case (id, t, _) =>
      val cps = t.codePoints.toArray
        .map(cp => new String(Character.toChars(cp)))
      val k = cps.groupBy(identity).map { case (_, g) => g.length.toLong }
      val n = cps.length.toLong
      val bits = k.map(c => c * ilog2(n / c)).sum
      (id, n, k.size.toLong, bits, bits.toDouble / n)
    }.sortBy(_._1).toSeq
    val got = TextStats.qCharEntropy(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
    assert(got.toSeq === expect)
  }

  test("pmi: top collocations match a BigInt brute force") {
    val bigrams = docs.flatMap { case (_, t, _) =>
      val w = letterWords(t); w.zip(w.drop(1))
    }
    val c2 = bigrams.groupBy(identity).map { case (k, g) => (k, g.length.toLong) }
    val c1 = c2.groupBy(_._1._1).map { case (w1, g) => (w1, g.values.sum) }
    val cR = c2.groupBy(_._1._2).map { case (w2, g) => (w2, g.values.sum) }
    val nBi = c2.values.sum
    val expect = c2.toSeq
      .collect { case ((w1, w2), c12) if c12 >= TextStats.PmiMinCount =>
        val pmi = (BigInt(c12) * nBi * 1000000 / (BigInt(c1(w1)) * cR(w2))).toLong
        (w1, w2, c12, c1(w1), cR(w2), pmi)
      }
      .sortBy { case (w1, w2, _, _, _, p) => (-p, w1, w2) }
      .take(TextStats.PmiTopK)
      .zipWithIndex.map { case ((w1, w2, c12, a, b, p), i) =>
        (w1, w2, c12, a, b, p, i + 1)
      }
    val got = TextStats.qPmi(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getInt(6)))
    assert(got.toSeq === expect)
  }

  test("cdc_chunk: hash-boundary chunks and occurrence counts match brute force") {
    val chunks = docs.flatMap { case (id, t, _) =>
      val toks = wsTokens(t)
      if (toks.isEmpty) Array.empty[(Long, Long, String, Long)]
      else {
        val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, String, Long)]
        var chunkId = 0L
        var cur = scala.collection.mutable.ArrayBuffer.empty[String]
        for (tok <- toks) {
          cur += tok
          if (h32(tok) % TextStats.CdcMask == 0L) {
            out += ((id, chunkId, md5hex(cur.mkString(" ")), cur.length.toLong))
            chunkId += 1; cur = scala.collection.mutable.ArrayBuffer.empty[String]
          }
        }
        if (cur.nonEmpty)
          out += ((id, chunkId, md5hex(cur.mkString(" ")), cur.length.toLong))
        out.toArray
      }
    }
    val occ = chunks.groupBy(_._3).map { case (h, g) => (h, g.length.toLong) }
    val expect = chunks.map { case (id, cid, h, n) => (id, cid, h, n, occ(h)) }
      .sortBy(c => (c._1, c._2)).toSeq
    val got = TextStats.qCdcChunk(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3), r.getLong(4)))
    assert(got.toSeq === expect)
  }

  test("bpe_encode: per-doc token totals match a canonical greedy merge replica") {
    // Train the merge table exactly as CurationOpsSpec's bpe_train replica.
    var wf: Map[List[String], Long] = docs.toSeq
      .flatMap { case (_, t, _) => letterWords(t) }
      .groupBy(identity).map { case (w, g) => (w.map(_.toString).toList, g.size.toLong) }
    def mergeWord(syms: List[String], l: String, r: String): List[String] = {
      val out = scala.collection.mutable.ListBuffer.empty[String]
      for (s <- syms) {
        if (out.nonEmpty && out.last == l && s == r) {
          out.remove(out.length - 1); out += (l + r)
        } else out += s
      }
      out.toList
    }
    val merges = scala.collection.mutable.ListBuffer.empty[(String, String)]
    for (_ <- 1 to graft.llm.Tokenizer.BpeMerges) {
      val counts = scala.collection.mutable.Map.empty[(String, String), Long]
      for ((syms, f) <- wf; Seq(a, b) <- syms.sliding(2))
        counts((a, b)) = counts.getOrElse((a, b), 0L) + f
      val ((l, r), _) = counts.toSeq.minBy { case ((a, b), n) => (-n, a + " " + b) }
      merges += ((l, r))
      wf = wf.toSeq.map { case (syms, f) => (mergeWord(syms, l, r), f) }
        .groupBy(_._1).map { case (s, g) => (s, g.map(_._2).sum) }
    }
    def encodeLen(word: String): Long =
      merges.foldLeft(word.map(_.toString).toList) { case (syms, (l, r)) =>
        mergeWord(syms, l, r)
      }.length.toLong
    val expect = docs.toSeq.flatMap { case (id, t, _) =>
      val w = letterWords(t)
      if (w.isEmpty) None
      else {
        val nWords = w.length.toLong
        val nChars = w.map(_.length.toLong).sum
        val nTok = w.map(encodeLen).sum
        Some((id, nWords, nChars, nTok, nChars.toDouble / nTok))
      }
    }.sortBy(_._1)
    val got = graft.llm.Tokenizer.qBpeEncode(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
    assert(got.toSeq === expect)
  }

  test("rank_fusion: RRF of BM25 and cosine rankings matches brute force") {
    // Lexical leg — the exact qBm25 fixed-point chain.
    val perDoc = docs.map { case (id, t, _) => (id, wsTokens(t)) }
    val nDocs = perDoc.length.toLong
    val tokTotal = perDoc.map(_._2.length.toLong).sum
    val hits = perDoc.map { case (id, toks) =>
      (id, toks.length.toLong,
        toks.filter(TextStats.BM25_TERMS.contains(_))
          .groupBy(identity).map { case (term, g) => (term, g.length.toLong) })
    }.filter(_._3.nonEmpty)
    val df = hits.flatMap(_._3.keys).groupBy(identity)
      .map { case (term, g) => (term, g.length.toLong) }
    val lexScores = hits.map { case (id, dl, tf) =>
      val s = tf.map { case (term, f) =>
        ((nDocs * 1000000L) / df(term)) * f * 2200L /
          (f * 1000L + 300L + (900000L * dl) / ((tokTotal * 1000L) / nDocs))
      }.sum
      (id, s)
    }
    val lexRank = lexScores.sortBy { case (id, s) => (-s, id) }
      .take(Similarity.RrfDepth).zipWithIndex
      .map { case ((id, _), i) => (id, i + 1L) }.toMap
    // Semantic leg — exact cosine to query vector 0, the CosineSim loop.
    val emb = graft.tables.Tables.embeddings(spark, sf)
      .select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray.map(_.toDouble)))
    val qv = emb.find(_._1 == 0L).get._2
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
      }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    val semRank = emb.filter(_._1 != 0L)
      .map { case (id, v) => (id, cos(qv, v)) }
      .sortBy { case (id, c) => (-c, id) }
      .take(Similarity.RrfDepth).zipWithIndex
      .map { case ((id, _), i) => (id, i + 1L) }.toMap
    val expect = (lexRank.keySet ++ semRank.keySet).toSeq
      .map { id =>
        val rrf = lexRank.get(id).map(r => 1000000000L / (Similarity.RrfK + r)).getOrElse(0L) +
          semRank.get(id).map(r => 1000000000L / (Similarity.RrfK + r)).getOrElse(0L)
        (id, lexRank.get(id), semRank.get(id), rrf)
      }
      .sortBy { case (id, _, _, rrf) => (-rrf, id) }
      .take(Similarity.RrfTopK)
      .zipWithIndex.map { case ((id, l, s, r), i) => (id, l, s, r, i + 1) }
    val got = Similarity.qRankFusion(spark, sf).collect()
      .map(r => (r.getLong(0),
        if (r.isNullAt(1)) None else Some(r.getLong(1)),
        if (r.isNullAt(2)) None else Some(r.getLong(2)),
        r.getLong(3), r.getInt(4)))
    assert(got.toSeq === expect)
  }
}
