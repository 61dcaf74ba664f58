package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.llm.{Similarity, TextStats, Tokenizer}
import graft.ops.Linkage

/** Driver-side brute-force replicas of the round-11 curation operators
  * (BPE training, bigram LM, shuffle-shard, record linkage, hard-negative
  * mining) on the sf0.001 corpus — each op's distributed plan must match an
  * independent, literal re-computation exactly. The BPE replica applies the
  * CANONICAL greedy left-to-right merge over symbol lists, independently
  * verifying qBpeTrain's two-pass-replace rendering of it. */
class CurationOpsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.get
  private val sf = Corpus.dir("sf0.001")

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  private def h60(s: String): Long =
    java.lang.Long.parseLong(md5hex(s).substring(0, 15), 16)

  private lazy val docs: Array[(Long, String)] =
    graft.tables.Tables.documents(spark, sf)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)

  private def letterWords(text: String): Array[String] =
    "[a-z]+".r.findAllIn(text.toLowerCase).toArray

  test("bpe_train: merge table matches a canonical greedy left-to-right replica") {
    var wf: Map[List[String], Long] = docs.toSeq
      .flatMap { case (_, t) => letterWords(t) }
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
    val expect = scala.collection.mutable.ListBuffer.empty[(Int, String, String, Long)]
    for (rank <- 1 to Tokenizer.BpeMerges) {
      val counts = scala.collection.mutable.Map.empty[(String, String), Long]
      for ((syms, f) <- wf; Seq(a, b) <- syms.sliding(2))
        counts((a, b)) = counts.getOrElse((a, b), 0L) + f
      val ((l, r), c) = counts.toSeq.minBy { case ((a, b), n) => (-n, a + " " + b) }
      expect += ((rank, s"$l $r", l + r, c))
      wf = wf.toSeq.map { case (syms, f) => (mergeWord(syms, l, r), f) }
        .groupBy(_._1).map { case (s, g) => (s, g.map(_._2).sum) }
    }
    val got = Tokenizer.qBpeTrain(spark, sf).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
    assert(got.toSeq === expect.toSeq)
    assert(got.length === Tokenizer.BpeMerges)
  }

  test("ngram_lm: argmax successors and smoothed probabilities match brute force") {
    val bigrams = docs.flatMap { case (_, t) =>
      val w = letterWords(t); w.zip(w.drop(1))
    }
    val c2 = bigrams.groupBy(identity).map { case (k, g) => (k, g.length.toLong) }
    val c1 = c2.groupBy(_._1._1).map { case (w1, g) => (w1, g.values.sum) }
    val vocab = c2.keys.map(_._2).toSet.size.toLong
    val expect = c1.toSeq.sortBy { case (w1, n) => (-n, w1) }
      .take(TextStats.NgramLmTopContexts)
      .map { case (w1, n) =>
        val (w2, c) = c2.collect { case ((a, b), k) if a == w1 => (b, k) }
          .toSeq.minBy { case (b, k) => (-k, b) }
        (w1, w2, c, n, ((c + 1) * 1000000L) / (n + vocab))
      }
    val got = TextStats.qNgramLm(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(got.toSeq === expect)
  }

  test("shuffle_shard: shard cards match the hash-order replica") {
    val ordered = docs.map { case (id, t) =>
      (id, t.split("\\s+").count(_.nonEmpty).toLong, h60(id.toString))
    }.sortBy { case (id, _, h) => (h, id) }
    val expect = ordered.zipWithIndex
      .groupBy { case (_, pos) => pos.toLong / TextStats.ShardDocs }
      .toSeq.sortBy(_._1)
      .map { case (shard, g) =>
        (shard, g.length.toLong, g.map(_._1._2).sum, g.map(_._1._1).sum)
      }
    val got = TextStats.qShuffleShard(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq === expect)
    assert(got.map(_._2).sum === docs.length.toLong)
  }

  test("fuzzy_join: best master and match count equal the all-pairs replica") {
    val customers = graft.tables.Tables.customer(spark, sf)
      .select("c_custkey", "c_name").collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    def corrupt(key: Long, name: String): String = {
      val h = h60(key.toString)
      val p = (h % 9 + 10).toInt // 1-based position in the full name
      val d = ((h / 9) % 10).toString
      name.substring(0, p - 1) + d + name.substring(p)
    }
    def lev(a: String, b: String): Int = {
      val dp = Array.tabulate(a.length + 1)(i => i)
      for (j <- 1 to b.length) {
        var prev = dp(0); dp(0) = j
        for (i <- 1 to a.length) {
          val t = dp(i)
          dp(i) = math.min(math.min(dp(i) + 1, dp(i - 1) + 1),
            prev + (if (a(i - 1) == b(j - 1)) 0 else 1))
          prev = t
        }
      }
      dp(a.length)
    }
    val expect = customers.map { case (k, name) =>
      val dn = corrupt(k, name)
      val matches = customers.map { case (mk, mn) => (mk, lev(dn, mn)) }
        .filter(_._2 <= 1)
      val (bk, bd) = matches.minBy { case (mk, d) => (d, mk) }
      (k, bk, bd, matches.length.toLong)
    }
    val got = Linkage.qFuzzyJoin(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3)))
    assert(got.toSeq === expect.toSeq)
    assert(got.length === customers.length)
  }

  test("hard_negatives: top positive / hardest negative match brute-force cosines") {
    val embs = graft.tables.Tables.embeddings(spark, sf)
      .selectExpr("vec_id", "CAST(embedding AS ARRAY<DOUBLE>) AS v", "label")
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray, r.getInt(2)))
      .sortBy(_._1)
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    def r6(d: Double): Double =
      BigDecimal(d).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val expect = embs.filter(_._1 < Similarity.HardNegQueries).map { case (qid, qv, ql) =>
      val scored = embs.filter(_._1 != qid)
        .map { case (cid, cv, cl) => (cid, cos(qv, cv), cl == ql) }
      val pos = scored.filter(_._3).minBy { case (cid, c, _) => (-c, cid) }
      val neg = scored.filterNot(_._3).minBy { case (cid, c, _) => (-c, cid) }
      (qid, ql, pos._1, r6(pos._2), neg._1, r6(neg._2))
    }
    val got = Similarity.qHardNegatives(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3),
        r.getLong(4), r.getDouble(5)))
    assert(got.toSeq === expect.toSeq)
  }

  test("classify_quality: hashed-ngram linear scores match the literal replica") {
    // Independent re-computation of the whole inference: whitespace
    // tokens, unigram+bigram features, 2^18 hash buckets, derived weights
    // w(b) = h60("w:"+b) % 2001 - 1000, exact Long dot product.
    val expect = docs.map { case (id, text) =>
      val toks = text.split("\\s+").filter(_.nonEmpty)
      val feats = toks ++ toks.sliding(2).filter(_.length == 2).map(_.mkString(" "))
      val score = feats.map(f =>
        h60("w:" + (h60(f) % 262144L).toString) % 2001L - 1000L).sum
      val mean = if (feats.nonEmpty) Some(score.toDouble / feats.length) else None
      (id, feats.length.toLong, score, mean, score > 0L)
    }
    val got = TextStats.qClassifyQuality(spark, sf).collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getDouble(3)), r.getBoolean(4)))
    assert(got.toSeq === expect.toSeq)
    // The derived weights must actually split the corpus: a degenerate
    // all-keep / all-drop outcome would make the op untestable as a filter.
    assert(got.exists(_._5) && got.exists(!_._5))
  }
}
