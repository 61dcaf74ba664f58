package graft.llm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.color.GraphXKernel
import graft.ops.State
import graft.tables.Tables

/** Deduplication operators over `documents` (north-star LLM-pipeline
  * surface): exact hash dedup, n-gram Jaccard near-dup, MinHash+LSH,
  * SimHash, and embedding-cosine near-dup.
  *
  * Scale design: every variant is shuffle-bounded by (shingle → doc) or
  * (bucket → doc) inverted-index joins — candidate generation never goes
  * all-pairs. The MinHash signatures, bands, and SimHash bit votes are all
  * native column expressions (codegen'd), so signature computation is a
  * map-only stage over the corpus.
  */
object Dedup {

  private def toks(text: Column): Column = TextStats.tokens(text)

  /** q_dedup_exact: exact duplicate grouping on normalized text (lowercase,
    * collapsed whitespace), keyed by md5. One hash-groupBy — the canonical
    * 100 TB exact-dedup shape (key is a 128-bit digest, never the text). */
  def qDedupExact(spark: SparkSession, d: String): DataFrame = {
    val norm = regexp_replace(lower(trim(col("text"))), "\\s+", " ")
    Tables.spread(Tables.documents(spark, d))
      .select(col("doc_id"), md5(norm).as("content_key"))
      .groupBy(col("content_key"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
      .orderBy(col("keep_id"))
  }

  /** The raw synthetic URL of a document — DETERMINISTIC from
    * (doc_id, source) so the DuckDB oracle replays it bit-for-bit: scheme
    * and host case noise, an explicit :443 port, `utm_*` and `fbclid`
    * tracking params, the two surviving params (`id` keyed to the page class
    * doc_id div 100, a constant `v=2`) in both orders, trailing slashes and
    * fragments. Sources cycle with doc_id % 20, so within every block of
    * 100 doc_ids each source contributes 5 raw urls to one canonical page, so [[canonicalUrl]] has real dup mass to find. */
  private[graft] def syntheticUrl: Column = {
    val cls = expr("doc_id div 100").cast("string")
    val did = col("doc_id").cast("string")
    val scheme = when(pmod(col("doc_id"), lit(3)) === 0, "https")
      .when(pmod(col("doc_id"), lit(3)) === 1, "HTTPS").otherwise("Https")
    val host0 = when(pmod(col("doc_id"), lit(2)) === 0,
      concat(col("source"), lit(".example.com")))
      .otherwise(concat(upper(col("source")), lit(".EXAMPLE.com")))
    val host = when(pmod(col("doc_id"), lit(7)) === 0,
      concat(host0, lit(":443"))).otherwise(host0)
    val path = concat(lit("/docs/"), cls,
      when(pmod(col("doc_id"), lit(2)) === 1, "/").otherwise(""))
    val track = when(pmod(col("doc_id"), lit(3)) === 1, lit("utm_source=feed&"))
      .when(pmod(col("doc_id"), lit(3)) === 2, concat(lit("fbclid=x"), did, lit("&")))
      .otherwise(lit(""))
    val qs = when(pmod(col("doc_id"), lit(2)) === 0,
      concat(track, lit("id="), cls, lit("&v=2")))
      .otherwise(concat(lit("v=2&"), track, lit("id="), cls))
    val frag = when(pmod(col("doc_id"), lit(4)) === 0,
      concat(lit("#sec"), did)).otherwise(lit(""))
    concat(scheme, lit("://"), host, path, lit("?"), qs, frag)
  }

  /** URL canonicalization — the operator proper, a pure in-row function
    * that never looks at how the url was built: drop the fragment,
    * lowercase scheme and host, strip the scheme's default port, strip a
    * trailing slash (non-root paths), drop `utm_*`/`fbclid`/`gclid`
    * tracking params and sort the survivors. */
  private[graft] def canonicalUrl(u: Column): Column = {
    val noFrag = regexp_replace(u, "#.*$", "")
    val scheme = lower(regexp_extract(noFrag, "^([^:/?#]+)://", 1))
    val host = lower(regexp_extract(noFrag, "^[^:/?#]+://([^/?#]+)", 1))
    val hostNoPort = when(scheme === "https", regexp_replace(host, ":443$", ""))
      .when(scheme === "http", regexp_replace(host, ":80$", ""))
      .otherwise(host)
    val path = regexp_extract(noFrag, "^[^:/?#]+://[^/?#]+([^?#]*)", 1)
    val pathNorm = when(length(path) > 1, regexp_replace(path, "/$", ""))
      .otherwise(path)
    val qs = regexp_extract(noFrag, "\\?([^#]*)", 1)
    val kept = array_join(array_sort(filter(split(qs, "&"),
      p => !p.rlike("^(utm_[^=]*|fbclid|gclid)=") && p =!= lit(""))), "&")
    concat(scheme, lit("://"), hostNoPort, pathNorm,
      when(kept === "", lit("")).otherwise(concat(lit("?"), kept)))
  }

  /** q_dedup_url: canonical-URL dedup — the FIRST dedup pass a crawl
    * pipeline runs, before any content dedup: raw URLs differing only in
    * scheme/host case, default port, tracking parameters, query-param
    * order, trailing slash or fragment are the same page. The corpus has
    * no url column, so [[syntheticUrl]] derives one deterministically from
    * (doc_id, source) — the oracle replays the derivation, and the
    * operator is [[canonicalUrl]], which normalizes without knowing the
    * construction. Output: per-domain dup mass — raw url count, canonical
    * page count, dup_mass = urls a crawler would skip, the largest dup
    * class, and the dup fraction.
    *
    * Scale shape: derivation + normalization are in-row codegen string
    * work; the class group shuffles (short domain, 128-bit md5 of the
    * canonical url) — never the url string, the [[qDedupExact]] stance —
    * and the domain rollup is domain-cardinality rows. */
  def qDedupUrl(spark: SparkSession, d: String): DataFrame = {
    val canon = canonicalUrl(syntheticUrl)
    Tables.spread(Tables.documents(spark, d))
      .select(regexp_extract(canon, "^https?://([^/:?#]+)", 1).as("domain"),
        md5(canon).as("ck"))
      .groupBy(col("domain"), col("ck"))
      .agg(count(lit(1)).as("n"))
      .groupBy(col("domain"))
      .agg(sum(col("n")).as("n_urls"), count(lit(1)).as("n_canonical"),
        max(col("n")).as("max_class"))
      .select(col("domain"), col("n_urls"), col("n_canonical"),
        (col("n_urls") - col("n_canonical")).as("dup_mass"), col("max_class"),
        ((col("n_urls") - col("n_canonical")).cast("double") /
          col("n_urls").cast("double")).as("dup_frac"))
      .orderBy(col("domain"))
  }

  /** Inverted index (shingle-hash, doc_id), distinct per doc. The shingle
    * is the custom codegen expression [[graft.functions.ShingleHashes]] —
    * distinct 64-bit hashes straight from the token array, so the index
    * shuffles 8-byte longs, never shingle strings. */
  private def shingleIndex(spark: SparkSession, d: String, n: Int): DataFrame =
    shingleIndexOf(Tables.documents(spark, d), n)

  private def shingleIndexOf(docs: DataFrame, n: Int): DataFrame = {
    // Tables.spread BEFORE the shingle explode: a single-file documents
    // scan pins ONE partition, and because callers materialize the
    // index (freezing the layout), the inverted-index SELF-JOIN then runs
    // as one serial task. This was the r9 "q_dedup_ngram 30× stall" —
    // wall 1560 s / cpu 7 s was a lone straggler computing the entire
    // 1.25 B-row join single-threaded (jstack: one RUNNABLE worker in the
    // join+agg codegen stage, 31 idle), not spill or session death; the
    // task never ended, so its CPU was never attributed.
    Tables.spread(docs)
      .select(col("doc_id"),
        explode(call_function("graft_shingle_hashes", toks(col("text")), lit(n)))
          .as("shingle"))
  }

  /** q_dedup_ngram: exact n-gram Jaccard near-dup pairs via the inverted
    * index — pairs sharing ≥1 trigram, scored |A∩B| / |A∪B|, kept above
    * `threshold`. The join is on `shingle` (co-partitioned by the shuffle),
    * so cost is Σ bucket² over shingle buckets, not corpus² — and shingle
    * order n is the knob that keeps buckets small (trigrams over this
    * corpus: avg df ≈ 10 vs ≈ 275 for bigrams ⇒ ~26× fewer join rows).
    * Shingles are compared by 64-bit hash (collision-free at any realistic
    * per-document shingle count; the DuckDB oracle compares the strings
    * themselves and the jaccard values hash-match). */
  def ngramJaccardPairs(spark: SparkSession, d: String, n: Int, threshold: Double): DataFrame =
    ngramJaccardPairsOf(Tables.documents(spark, d), n, threshold,
      memoKey = Some(s"$d|jaccard@$threshold"))

  /** graft.ngram.passBytes: disk budget (bytes of estimated pre-aggregation
    * join rows) above which the exact n-gram self-join runs as sequential
    * staged passes instead of one shot. Default 8 GiB. */
  val NgramPassBytesKey = "graft.ngram.passBytes"

  /** Bytes per pre-aggregation join row (two BIGINT rep ids); deliberately
    * the RAW width — spill compression is not guaranteed headroom. */
  private val NgramPassRowBytes = 16L

  /** Staged passes are a disk lever, not a parallelism lever — past 64 the
    * per-pass b-side re-shuffle dominates and the budget knob should move. */
  private val NgramMaxPasses = 64

  /** Pass count for the staged exact join: 1 while the estimated join fits
    * the budget, else ceil(rows·16B / budget) capped at [[NgramMaxPasses]]. */
  private[graft] def ngramPasses(estPairRows: Long, passBytes: Long): Int = {
    val need = math.ceil(estPairRows.toDouble * NgramPassRowBytes / math.max(1L, passBytes))
    math.min(NgramMaxPasses.toDouble, math.max(1.0, need)).toInt
  }

  /** [[ngramJaccardPairs]] core over any (doc_id, text) relation.
    *
    * IDENTICAL-SET COLLAPSE (the dup-dense bound, r9 verdict item 2): the
    * quadratic inverted-index join runs on one REPRESENTATIVE per distinct
    * shingle SET, not per document. Docs group by a digest of their sorted
    * hash set; the rep-level pair table then expands through two member
    * joins — cross-class member pairs inherit the rep jaccard exactly
    * (identical sets ⟹ identical intersections), intra-class pairs are
    * jaccard 1.0 by definition. Exact same output set, but on a corpus with
    * duplicate mass m per distinct set the join cost drops m² → 1 per
    * shingle bucket, leaving only the Ω(output) expansion quadratic (which
    * no algorithm honoring the all-pairs output contract can avoid).
    * BoundsSpec drives the 64-identical-docs corpus through this path.
    *
    * STAGED PASSES (the bounded-disk bound, r11 100× leg): a single-shot
    * self-join materializes its whole Σ C(df,2) pre-aggregation row volume
    * as shuffle spill at once — 63 GB on disk mid-join at the 100× leg's
    * watchdog kill, quadratic in per-class replica count, past what this
    * box holds. When the exact Σ C(df,2) estimate (one linear agg over the
    * index) exceeds `graft.ngram.passBytes`, the join runs as K sequential
    * passes, pass i restricting the SMALLER-rep side to
    * hash(rep_id) mod K == i. Every unordered pair lands in exactly the
    * pass owning its smaller member — and ALL its shared shingles land in
    * that same pass, so per-pass counts are complete and the K thresholded
    * pass outputs partition the single-shot result exactly. The jaccard
    * threshold is applied INSIDE each pass, so only output-sized slices
    * materialize; peak disk is ~1/K of the one-shot join at the cost of
    * re-shuffling the b-side index K times (CPU-linear, disk-bounded —
    * the right trade on a disk-limited executor). */
  private[graft] def ngramJaccardPairsOf(docs: DataFrame, n: Int,
      threshold: Double, memoKey: Option[String] = None): DataFrame =
    classPairsOf(docs, n, scoreCols = Seq("jaccard"),
      intraScore = Seq(lit(1.0).as("jaccard")),
      score = s => s
        .withColumn("jaccard", col("shared").cast("double") /
          (col("size_a") + col("size_b") - col("shared")))
        .filter(col("jaccard") >= threshold),
      memoKey = memoKey)

  /** graft.ngram.collapseMinDupFrac: exact-duplicate document fraction (by
    * the commutative class census) below which [[classPairsOf]] skips the
    * rep-collapse machinery and self-joins the doc-level index directly.
    * Default 0.05 — the rep overhead is ~2/3 of the whole query when
    * nothing collapses (bench/NOTES r12). The fraction is not the only
    * routing signal: a corpus under the fraction but with dup mass
    * CONCENTRATED in large identical-set classes still routes to the
    * collapse when the exact intra-class pair count Σ C(m_c, 2) exceeds
    * the corpus size — the quadratic term the doc path would re-pay
    * dominates regardless of the global fraction (r12 ADVICE). */
  val CollapseMinDupFracKey = "graft.ngram.collapseMinDupFrac"

  /** The shared ADAPTIVE pair engine behind [[ngramJaccardPairsOf]] and
    * [[containmentPairs]]. One corpus scan builds the doc-level inverted
    * index (distinct 64-bit shingle hashes — the index shuffles 8-byte
    * longs, never strings); a cheap class census then routes:
    *
    *  - **doc-level path** (exact-dup mass below
    *    `graft.ngram.collapseMinDupFrac`): the classic inverted-index
    *    self-join straight over documents. The rep machinery would be pure
    *    overhead here — measured 11.2 s vs 6.7 s at the 30× ScaleUp leg,
    *    whose replica mutation means NOTHING collapses (bench/NOTES r12).
    *  - **rep-collapse path** (dup-dense corpora — the r9 verdict class):
    *    identical shingle SETS group under one representative before the
    *    quadratic join, so duplicate mass m per distinct set costs 1, not
    *    m², per shingle bucket; member pairs expand back through
    *    output-sized joins (cross-class pairs inherit the rep scores
    *    exactly; intra-class pairs take the closed-form `intraScore`).
    *    BoundsSpec drives the 64-identical-docs corpus through this path.
    *
    * The census key is COMMUTATIVE — (xor h, xor rehash(h), count) per
    * doc, no array materialization — so identical sets always agree on it and a
    * collision can only OVERESTIMATE dup mass: routing noise, never a
    * correctness risk (the rep path re-keys with the injective 128-bit
    * sorted-array digests). Both paths share the STAGED-PASS disk bound
    * (r11 100× leg): when the exact Σ C(df,2) pre-aggregation estimate
    * exceeds `graft.ngram.passBytes`, the self-join runs as K sequential
    * passes, pass i restricting the SMALLER-id side to
    * hash(id) mod K == i — every unordered pair lands in exactly the pass
    * owning its smaller member with ALL its shared shingles, so the K
    * thresholded pass outputs partition the single-shot result exactly,
    * and peak disk is ~1/K at the cost of re-shuffling the b-side index
    * K times (measured nearly free: 223 vs 215 s at the 100× leg).
    *
    * `score` receives the candidate frame carrying (shared, size_a,
    * size_b) plus path-specific id columns; it must ADD the `scoreCols`
    * columns and apply the threshold filter, leaving ids intact.
    * `intraScore` gives the score columns of an IDENTICAL-set pair
    * (shared = size_a = size_b ⇒ jaccard and containment are both exactly
    * 1.0 — any measure routed through this engine must satisfy that
    * closed form, and its threshold must be ≤ 1 so intra pairs always
    * survive).
    */
  /** Session-lifetime memo of the pair engine's corpus-derived stages,
    * keyed by the caller-supplied `memoKey` (sfDir + shingle order +
    * measure tag — see the d-level entry points). Two memo levels:
    *
    *  - `ngramBaseCache`: the per-doc shingle-set checkpoint plus its
    *    class census, keyed on the full `memoKey` plus n — so shared only
    *    by invocations with the same (corpus, measure tag, threshold, n):
    *    q_dedup_ngram and q_dedup_ngram_pairs (`jaccard@0.2`, n=3) share
    *    it, while q_dedup_containment (`containment@0.5`) builds its own.
    *  - `ngramPairsCache`: the THRESHOLD-VERIFIED pair table (doc-level
    *    or rep-level, pre-expansion) — the quadratic inverted-index
    *    self-join itself, shared when two queries ask the identical
    *    (corpus, n, measure, threshold): q_dedup_ngram (spanning edges)
    *    and q_dedup_ngram_pairs (full expansion) diverge only AFTER this
    *    table (r15; r14 verdict item 4).
    *
    * Values are session-keyed checkpointed frames recomputed from parquet
    * on every fresh session — the SessionCache stance, no cross-run state. */
  private val ngramBaseCache =
    new graft.ops.SessionCache[(DataFrame, org.apache.spark.sql.Row)]
  private val ngramPairsCache = new graft.ops.SessionCache[DataFrame]

  private[graft] def classPairsOf(docs: DataFrame, n: Int,
      scoreCols: Seq[String], intraScore: Seq[Column],
      score: DataFrame => DataFrame, edgesOnly: Boolean = false,
      memoKey: Option[String] = None): DataFrame = {
    val spark = docs.sparkSession
    // One scan, NO shuffle: per-doc distinct shingle-hash ARRAY (already
    // sorted by the expression) + the census key folded IN-ROW. XOR folds,
    // not sums: shingle hashes span the full 64-bit range, so sums
    // overflow (an ANSI-mode error); xor of the hash and of an independent
    // re-hash never can, stays commutative, and keeps the
    // can-only-overestimate-dups property. Everything downstream derives
    // from this one checkpoint: explode for the index, xxhash64 of the
    // array for the rep path's injective set keys.
    def buildBase() = {
      val b = State.memo(Tables.spread(docs)
        .select(col("doc_id"),
          call_function("graft_shingle_hashes", toks(col("text")), lit(n))
            .as("sh"))
        .filter(size(col("sh")) > 0)
        .select(col("doc_id"), col("sh"),
          size(col("sh")).cast("long").as("n_sh"),
          call_function("graft_xor_probe", col("sh")).as("p"))
        .select(col("doc_id"), col("sh"), col("n_sh"),
          col("p.p1").as("p1"), col("p.p2").as("p2"))).df
      // Class census with MULTIPLICITY moments, not just the distinct count:
      // the global dup FRACTION alone misroutes a corpus whose dup mass sits
      // just under the threshold but concentrated in one huge identical-set
      // class — the doc path would re-pay that class's m² self-join
      // (r12 ADVICE). Σ C(m_c, 2) is the EXACT intra-class pair count the
      // doc path would emit; when it exceeds the linear corpus size the
      // quadratic term dominates regardless of the fraction, so the
      // rep-collapse (m²→1) pays for itself.
      val c = b.groupBy(col("p1"), col("p2"), col("n_sh"))
        .agg(count(lit(1)).as("m"))
        .agg(coalesce(sum(col("m")), lit(0L)).as("nd"), count(lit(1)).as("nc"),
          coalesce(sum(col("m") * (col("m") - lit(1))), lit(0L)).as("ip2"))
        .head()
      (b, c)
    }
    val (base, census) = memoKey match {
      case Some(k) => ngramBaseCache.getOrElseUpdate(spark, s"$k#n=$n")(buildBase())
      case None => buildBase()
    }
    val idx = base.select(col("doc_id"), explode(col("sh")).as("shingle"))
    val (nDocs, nCls) = (census.getLong(0), census.getLong(1))
    val intraPairs = census.getLong(2) / 2
    val dupFrac = if (nDocs == 0L) 0.0 else (nDocs - nCls).toDouble / nDocs
    val minDupFrac = spark.conf.get(CollapseMinDupFracKey, "0.05").toDouble
    val passBytes = spark.conf
      .get(NgramPassBytesKey, (8L << 30).toString).toLong

    // Staged-pass driver shared by both paths: `slice` scores one a-side
    // slice of `pairIdx` against the full b-side; `idCol` is the join id.
    def stagedPairs(pairIdx: DataFrame, idCol: String,
        slice: DataFrame => DataFrame): DataFrame = {
      // Exact pre-aggregation row count of the self-join: Σ C(df,2) —
      // one linear agg over the checkpoint-backed index, the only
      // reliable spill predictor (a linear projection undershoots because
      // spill is quadratic in replica count — the r11 100× kill).
      val estPairRows = pairIdx.groupBy(col("shingle"))
        .agg(count(lit(1)).as("df"))
        .agg(coalesce(sum(col("df") * (col("df") - lit(1))), lit(0L)).as("n2"))
        .head().getLong(0) / 2 // SQL `/` is DOUBLE division — halve exactly here
      val passes = ngramPasses(estPairRows, passBytes)
      if (passes <= 1) slice(pairIdx)
      else {
        System.err.println(s"[ngram] staged exact join: $estPairRows pre-agg" +
          s" pair rows over budget $passBytes B — $passes sequential passes")
        val parts = Seq.newBuilder[DataFrame]
        var i = 0
        while (i < passes) {
          // The previous pass's memo truncated its lineage; a GC
          // lets ContextCleaner reclaim that pass's join/agg shuffle files
          // before this one writes its own — bounded PEAK disk is the whole
          // point of staging (the default periodic-GC interval is far
          // longer than a pass).
          if (i > 0) System.gc()
          val s = pairIdx.filter(
            pmod(xxhash64(col(idCol)), lit(passes.toLong)) === lit(i.toLong))
          parts += State.memo(slice(s)).df
          i += 1
        }
        parts.result().reduce(_.unionByName(_))
      }
    }

    // Memoized threshold-verified pair table (see ngramPairsCache above):
    // the quadratic self-join runs once per (corpus, n, measure) per
    // session; consumers that diverge only in the post-join expansion
    // (spanning edges vs full member pairs) read the checkpoint.
    def memoPairs(path: String)(build: => DataFrame): DataFrame =
      memoKey match {
        case Some(k) => ngramPairsCache
          .getOrElseUpdate(spark, s"$k#n=$n#$path")(State.memo(build).df)
        case None => build
      }

    // Doc-level iff BOTH dup signals are small: the global fraction AND
    // the exact intra-class pair mass Σ C(m_c,2) (concentration guard,
    // r12 ADVICE). A configured fraction > 1.0 force-disables the
    // collapse outright — the parity-test hook, and the documented escape
    // hatch for corpora where the census itself is suspect.
    if (minDupFrac > 1.0 || (dupFrac < minDupFrac && intraPairs <= nDocs)) {
      // DOC-LEVEL PATH: no arrays, no rep joins, no intra expansion —
      // identical-set doc pairs flow through the join and score exactly
      // 1.0 on their own. The census counted the base's nDocs rows.
      val sizes = graft.ops.Broadcasts.maybeBroadcast(
        base.select(col("doc_id"), col("n_sh")), nDocs)
      def scoreSlice(a: DataFrame): DataFrame = score(a.as("a")
        .join(idx.as("b"),
          col("a.shingle") === col("b.shingle") &&
            col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .agg(count(lit(1)).as("shared"))
        .join(sizes.select(col("doc_id"), col("n_sh").as("size_a")),
          col("doc_a") === col("doc_id"))
        .drop("doc_id")
        .join(sizes.select(col("doc_id"), col("n_sh").as("size_b")),
          col("doc_b") === col("doc_id"))
        .drop("doc_id"))
        .select(col("doc_a") +: col("doc_b") +: scoreCols.map(col): _*)
      val docPairs = memoPairs("doc")(stagedPairs(idx, "doc_id", scoreSlice))
      // On the doc path the thresholded pairs ARE the minimal edge set —
      // no class structure exists to span more cheaply.
      if (edgesOnly) docPairs.select(col("doc_a"), col("doc_b")) else docPairs
    } else {
      // REP-COLLAPSE PATH. The set key is 128 BITS — TWO independent
      // xxhash64 passes over the sorted array (the second salted by a
      // prefixed literal): equality of keys must imply equality of sets at
      // 10⁹+-distinct-set scale, where a single 64-bit digest's birthday
      // bound would silently merge different sets and emit wrong pairs.
      // The arrays in `base` are already sorted (the expression sorts), so
      // the keys hash straight off the checkpoint — no collect_list
      // rebuild, no second array checkpoint. `members` is checkpointed
      // small (keys + id, no arrays): it feeds three joins below.
      val keyed = base.select(col("doc_id"), col("sh"),
        xxhash64(col("sh")).as("sk1"),
        xxhash64(lit(0x9e3779b97f4a7c15L), col("sh")).as("sk2"))
      val members = State.memo(keyed.select(col("sk1"), col("sk2"), col("doc_id"))).df
      val reps = State.memo(keyed
        .groupBy(col("sk1"), col("sk2"))
        .agg(min(struct(col("doc_id"), col("sh"))).as("r"))
        .select(col("sk1"), col("sk2"), col("r.doc_id").as("rep_id"),
          col("r.sh").as("sh")))
      val ridx = reps.df.select(col("rep_id"), explode(col("sh")).as("shingle"))
      // Per-rep set sizes, one row per rep — broadcast both verification
      // joins on the memo's observed rows (degrades to shuffle joins past
      // the threshold).
      val sizes = graft.ops.Broadcasts.maybeBroadcast(
        reps.df.select(col("rep_id"), size(col("sh")).cast("long").as("n_sh"),
          col("sk1"), col("sk2")), reps.rows)
      def scoreSlice(a: DataFrame): DataFrame = score(a.as("a")
        .join(ridx.as("b"),
          col("a.shingle") === col("b.shingle") &&
            col("a.rep_id") < col("b.rep_id"))
        .groupBy(col("a.rep_id").as("rep_a"), col("b.rep_id").as("rep_b"))
        .agg(count(lit(1)).as("shared"))
        .join(sizes.select(col("rep_id"), col("n_sh").as("size_a"),
            col("sk1").as("ka1"), col("sk2").as("ka2")),
          col("rep_a") === col("rep_id"))
        .drop("rep_id")
        .join(sizes.select(col("rep_id"), col("n_sh").as("size_b"),
            col("sk1").as("kb1"), col("sk2").as("kb2")),
          col("rep_b") === col("rep_id"))
        .drop("rep_id"))
        .select(col("ka1") +: col("ka2") +: col("kb1") +: col("kb2") +:
          scoreCols.map(col): _*)
      val repPairs = memoPairs("rep")(stagedPairs(ridx, "rep_id", scoreSlice))
      if (edgesOnly) {
        // SPANNING EDGE SET, not all pairs (r13 verdict item 3): for
        // CLUSTER consumers the member expansion below is pure waste — a
        // class of m identical docs is a clique whose C(m,2) edges connect
        // exactly what the (m−1)-edge star rep→member connects, and a
        // verified rep pair (A,B) connects everything the |A|·|B| cross
        // pairs connect once both stars are present (members carry their
        // rep's exact shingle set, so cross-member jaccard IS the rep
        // jaccard). Connected components are therefore IDENTICAL to the
        // all-pairs graph (LlmSpec pins this on both engine paths) while
        // the edge volume drops from replica-QUADRATIC to LINEAR:
        // |repPairs| + Σ(m−1). reps are class-min doc_ids, so doc_a <
        // doc_b holds on both edge kinds and the union stays distinct
        // (the ccLabelsDf edge contract).
        val repIds = reps.df.select(col("sk1"), col("sk2"), col("rep_id"))
        val crossEdges = repPairs
          .join(repIds.select(col("sk1").as("ka1"), col("sk2").as("ka2"),
            col("rep_id").as("doc_a")), Seq("ka1", "ka2"))
          .join(repIds.select(col("sk1").as("kb1"), col("sk2").as("kb2"),
            col("rep_id").as("doc_b")), Seq("kb1", "kb2"))
          .select(col("doc_a"), col("doc_b"))
        val starEdges = members
          .join(repIds, Seq("sk1", "sk2"))
          .filter(col("doc_id") =!= col("rep_id"))
          .select(col("rep_id").as("doc_a"), col("doc_id").as("doc_b"))
        return crossEdges.unionByName(starEdges)
      }
      // Cross-class expansion: every member of A × every member of B, doc
      // ids normalized to doc_a < doc_b. Two equi joins sized by the OUTPUT.
      val cross = repPairs
        .join(members.select(col("sk1").as("ka1"), col("sk2").as("ka2"),
          col("doc_id").as("id_a")), Seq("ka1", "ka2"))
        .join(members.select(col("sk1").as("kb1"), col("sk2").as("kb2"),
          col("doc_id").as("id_b")), Seq("kb1", "kb2"))
        .select(least(col("id_a"), col("id_b")).as("doc_a") +:
          greatest(col("id_a"), col("id_b")).as("doc_b") +:
          scoreCols.map(col): _*)
      // Intra-class pairs: identical sets — every score measure is exactly
      // 1.0 (≥ any threshold ≤ 1), supplied by the caller's intraScore.
      val intra = members.as("x")
        .join(members.as("y"),
          col("x.sk1") === col("y.sk1") && col("x.sk2") === col("y.sk2") &&
            col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("doc_a") +: col("y.doc_id").as("doc_b") +:
          intraScore: _*)
      cross.unionByName(intra)
    }
  }

  /** q_dedup_ngram_pairs: the exact all-pairs OUTPUT contract — every
    * verified pair materialized and ordered. The profile/audit tool, NOT
    * the default pipeline row: its output is replica-QUADRATIC by
    * definition (a class of m near-identical docs emits C(m,2) rows), so
    * on dup-dense corpora the row itself grows faster than the data
    * (measured 3.33× data → 11.2× CPU at the r13 100× leg). Production
    * flows take [[qDedupNgram]] below. */
  def qDedupNgramPairs(spark: SparkSession, d: String): DataFrame =
    ngramJaccardPairs(spark, d, n = 3, threshold = 0.2)
      .orderBy(col("doc_a"), col("doc_b"))

  /** Linear spanning edge set of the trigram-jaccard near-dup graph —
    * same connected components as the all-pairs output of
    * [[ngramJaccardPairs]] (see the edgesOnly note in [[classPairsOf]]). */
  private[graft] def ngramClusterEdges(docs: DataFrame, n: Int,
      threshold: Double, memoKey: Option[String] = None): DataFrame =
    classPairsOf(docs, n, scoreCols = Seq("jaccard"),
      intraScore = Seq(lit(1.0).as("jaccard")),
      score = s => s
        .withColumn("jaccard", col("shared").cast("double") /
          (col("size_a") + col("size_b") - col("shared")))
        .filter(col("jaccard") >= threshold),
      edgesOnly = true, memoKey = memoKey)

  /** q_dedup_ngram: the PRODUCTION n-gram dedup row (r13 verdict item 3) —
    * threshold-verified trigram-jaccard pairs feeding the cluster/keeper
    * composition: connected components over the near-dup graph, then one
    * surviving doc per cluster by quality (argmax, doc_id-asc tiebreak).
    * Output per cluster: (cluster_rep, keep_id, keep_quality, n_members) —
    * the [[qDedupCanonical]] schema on the n-gram measure.
    *
    * Scale shape: this is the row that replaces the exact all-pairs
    * contract in the default surface. Clustering only needs CONNECTIVITY,
    * so the pair engine emits its linear spanning edge set (class stars +
    * rep pairs — identical components, proven in LlmSpec) instead of the
    * replica-quadratic member expansion; CC and the keeper window are then
    * output-sized. The quadratic row survives as the opt-in
    * [[qDedupNgramPairs]] profile tool. */
  def qDedupNgram(spark: SparkSession, d: String): DataFrame = {
    // Same memo key as [[qDedupNgramPairs]] (identical corpus, n, measure,
    // threshold): the two queries share the verified pair table and
    // diverge only in the post-join expansion.
    val edges = ngramClusterEdges(Tables.documents(spark, d),
      n = 3, threshold = 0.2, memoKey = Some(s"$d|jaccard@0.2"))
    keeperOf(spark, d, ccClusters(spark, edges))
  }

  /** [[qDedupSpans]] window width in tokens. */
  val SPAN_W = 8

  /** q_dedup_spans: SPAN-level exact-substring duplication accounting —
    * the removal-mask statistics of "exact substring dedup" (Lee et al.
    * 2022-style): every [[SPAN_W]]-token window whose text occurs ≥ 2
    * times in the corpus marks its token range as duplicated; per doc,
    * report the marked-window count, the number of MAXIMAL merged spans,
    * the union token coverage, and the duplicated fraction. Where the
    * pair queries (q_dedup_ngram/containment) say WHICH docs overlap,
    * this says WHERE — the per-token mask a pipeline actually cuts.
    *
    * Scale shape: windows are generated in-row (one `transform` over the
    * token array — no posexplode-then-window shuffle) and shuffle as
    * 32-byte md5 digests, never text — the exact-dedup stance. The
    * global count is one digest hash-agg; marked positions come back via
    * a semi join on the digest (inverted-index posture, Σ bucket² never
    * corpus²). Span merging is a per-doc lag window on marked positions
    * (positions per doc ≤ token count), and coverage explodes W rows per
    * MARKED window only — bounded by W · duplicated volume, not corpus
    * volume. Determinism: counts and a pinned-order BIGINT ratio. */
  def qDedupSpans(spark: SparkSession, d: String): DataFrame =
    dedupSpansOver(Tables.spread(Tables.documents(spark, d)))

  /** The [[qDedupSpans]] core over any (doc_id, text) relation — split out
    * so BoundsSpec can drive the degenerate all-identical corpus (every
    * window duplicated ⇒ one full-coverage span per doc, and the coverage
    * explode stays bounded at W rows per marked window). */
  private[graft] def dedupSpansOver(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val W = SPAN_W
    val toks = docs
      .select(col("doc_id"), TextStats.tokens(col("text")).as("ts"))
      .select(col("doc_id"), size(col("ts")).cast("long").as("n_tokens"), col("ts"))
    val wins = toks.filter(col("n_tokens") >= W)
      .select(col("doc_id"), col("n_tokens"),
        explode(transform(sequence(lit(1L), col("n_tokens") - (W - 1)),
          i => struct(i.as("pos"),
            md5(concat_ws(" ", slice(col("ts"), i, lit(W)))).as("dg")))).as("w"))
      .select(col("doc_id"), col("n_tokens"), col("w.pos").as("pos"), col("w.dg").as("dg"))
    val dup = wins.groupBy(col("dg")).agg(count(lit(1)).as("c"))
      .filter(col("c") >= 2).select(col("dg"))
    val marked = wins.join(dup, Seq("dg"), "left_semi")
    val byPos = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val spans = marked
      .withColumn("prev", lag(col("pos"), 1).over(byPos))
      .withColumn("is_begin",
        (col("prev").isNull || col("pos") - col("prev") > W).cast("long"))
      .groupBy(col("doc_id"), col("n_tokens"))
      .agg(count(lit(1)).as("n_dup_windows"), sum(col("is_begin")).as("n_spans"))
    val covered = marked
      .select(col("doc_id"),
        explode(sequence(col("pos"), col("pos") + (W - 1))).as("p"))
      .groupBy(col("doc_id")).agg(countDistinct(col("p")).as("dup_tokens"))
    spans.join(covered, "doc_id")
      .select(col("doc_id"), col("n_tokens"), col("n_dup_windows"),
        col("n_spans"), col("dup_tokens"),
        (col("dup_tokens").cast("double") / col("n_tokens").cast("double"))
          .as("dup_frac"))
      .orderBy(col("doc_id"))
  }

  /** DuckDB oracle for [[qDedupSpans]]: same window digests, duplicate
    * filter, lag-based span begins, and range-union coverage. */
  def dedupSpansOracleSql(): String = {
    val W = SPAN_W
    s"""WITH toks AS (
       |  SELECT doc_id,
       |    list_filter(string_split_regex(text, '\\s+'), t -> len(t) > 0) AS ts
       |  FROM documents),
       |tn AS (SELECT doc_id, len(ts) AS n_tokens, ts FROM toks
       |       WHERE len(ts) >= $W),
       |w AS (
       |  SELECT doc_id, n_tokens, i AS pos,
       |    md5(array_to_string(ts[i:i+${W - 1}], ' ')) AS dg
       |  FROM tn, unnest(range(1, n_tokens - $W + 2)) AS g(i)),
       |dup AS (SELECT dg FROM w GROUP BY dg HAVING count(*) >= 2),
       |m AS (SELECT w.* FROM w JOIN dup USING (dg)),
       |sp AS (
       |  SELECT doc_id, n_tokens, pos,
       |    CASE WHEN lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) IS NULL
       |           OR pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) > $W
       |         THEN 1 ELSE 0 END AS is_begin
       |  FROM m),
       |a AS (
       |  SELECT doc_id, n_tokens, count(*) AS n_dup_windows,
       |    CAST(sum(is_begin) AS BIGINT) AS n_spans
       |  FROM sp GROUP BY doc_id, n_tokens),
       |cov AS (
       |  SELECT doc_id, count(DISTINCT p) AS dup_tokens FROM
       |    (SELECT doc_id, unnest(range(pos, pos + $W)) AS p FROM m)
       |  GROUP BY doc_id)
       |SELECT a.doc_id, a.n_tokens, a.n_dup_windows, a.n_spans,
       |  cov.dup_tokens,
       |  CAST(cov.dup_tokens AS DOUBLE) / CAST(a.n_tokens AS DOUBLE) AS dup_frac
       |FROM a JOIN cov USING (doc_id) ORDER BY a.doc_id""".stripMargin
  }

  /** q_dedup_containment: asymmetric near-dup pairs by n-gram CONTAINMENT —
    * `shared / min(|A|, |B|)` over word-5-gram shingle sets. Jaccard
    * penalizes size mismatch (a page quoted inside a 10× larger page has
    * jaccard ≈ 0.1 but containment ≈ 1.0), so containment is the measure a
    * dedup pipeline adds to catch subset/quote duplication; the ≥ 0.5
    * threshold keeps pairs where at least half of the smaller document is
    * shared. Output carries both measures so the asymmetry is visible.
    *
    * Scale shape: identical inverted-index posture to [[qDedupNgram]] —
    * candidate pairs come from the (shingle-hash → doc) index join
    * (Σ bucket², never corpus²), and 5-grams are strictly rarer than
    * trigrams, so buckets are smaller than the Jaccard variant's. Docs
    * under 5 tokens have no shingles and drop out of the index (no pairs),
    * matching the oracle's empty-list CASE. */
  def qDedupContainment(spark: SparkSession, d: String): DataFrame =
    containmentPairs(Tables.documents(spark, d), n = 5, threshold = 0.5,
      memoKey = Some(s"$d|containment@0.5"))
      .orderBy(col("doc_a"), col("doc_b"))

  /** The [[qDedupContainment]] core over any (doc_id, text) relation —
    * split out so LlmSpec can prove the asymmetric catch on literal docs
    * (a small doc embedded in a large one: containment 1.0, jaccard ≪
    * the Jaccard dedup threshold).
    *
    * Runs on the shared [[classPairsOf]] engine (r11 verdict item 2): the
    * inverted-index self-join collapses identical shingle SETS to one
    * representative first — identical sets score containment = jaccard =
    * 1.0 in closed form, and cross-class member pairs inherit the
    * rep-level scores exactly — so a replica-heavy corpus costs
    * Σ C(df,2) over DISTINCT sets, not documents (the 100× leg measured
    * 28.9× CPU for 3.33× data on the un-collapsed join), and past
    * [[NgramPassBytesKey]] the join runs as disk-bounded staged passes. */
  private[graft] def containmentPairs(
      docs: DataFrame, n: Int, threshold: Double,
      memoKey: Option[String] = None): DataFrame =
    classPairsOf(docs, n, scoreCols = Seq("containment", "jaccard"),
      intraScore = Seq(lit(1.0).as("containment"), lit(1.0).as("jaccard")),
      score = s => s
        .withColumn("containment",
          col("shared").cast("double") / least(col("size_a"), col("size_b")))
        .withColumn("jaccard", col("shared").cast("double") /
          (col("size_a") + col("size_b") - col("shared")))
        .filter(col("containment") >= threshold),
      memoKey = memoKey)

  /** q_dedup_fraction: per-document duplicate-n-gram fraction — for every
    * document, the fraction of its DISTINCT word-5-grams that also appear
    * in at least one other document. This is the corpus-level duplication
    * signal the pairwise queries don't give: a quality-filter input
    * (MassiveText/Dolma drop documents whose duplicate-gram fraction is
    * high — boilerplate, templated, or mirrored content) that needs no
    * pair enumeration at all. Documents too short to shingle (< 5 tokens)
    * report n_sh = 0 and a NULL fraction.
    *
    * Scale shape: the inverted index (8-byte shingle hashes) shuffles once
    * on `shingle` for the document-frequency hash-agg, and the index→df
    * join is on that same key, so the exchange introduced by the groupBy is
    * REUSED by the join (co-partitioned — no second index shuffle); the
    * per-doc rollup then shuffles doc-id-keyed longs. Nothing is
    * corpus²: every relation is Σ|doc shingles| rows of longs. The df
    * table is corpus-sized so it is NOT broadcast — co-partition beats a
    * conditional hint that would always be past threshold at scale. */
  def qDedupFraction(spark: SparkSession, d: String): DataFrame =
    dupFraction(Tables.documents(spark, d))

  /** The [[qDedupFraction]] core over any (doc_id, text) relation — split
    * out so LlmSpec can prove the signal on literal docs (a doc sharing
    * every shingle with a copy scores 1.0; a unique doc scores 0.0; a
    * short doc reports 0 shingles and NULL). */
  private[graft] def dupFraction(docs: DataFrame): DataFrame = {
    val idx = State.memo(shingleIndexOf(docs, n = 5)).df
    // Document frequency per shingle; index rows are distinct (doc,
    // shingle) pairs, so count(*) IS the distinct-doc count.
    val df = idx.groupBy(col("shingle")).agg(count(lit(1)).as("df"))
    val perDoc = idx
      .join(df, "shingle")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_sh"),
        sum(when(col("df") >= 2, 1L).otherwise(0L)).as("n_dup"))
    docs
      .select(col("doc_id"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_sh"), lit(0L)).as("n_sh"),
        coalesce(col("n_dup"), lit(0L)).as("n_dup"),
        when(col("n_sh").isNotNull,
          col("n_dup").cast("double") / col("n_sh")).as("dup_frac"))
      .orderBy(col("doc_id"))
  }

  /** q_decontaminate: benchmark decontamination — flag training documents
    * that share word-5-grams with an evaluation set, the standard pre-train
    * hygiene pass (the eval side here is the same deterministic md5-bucket
    * 10% cut as q_sample_hash, standing in for a held-out benchmark).
    * Output: every train doc with ≥1 shared 5-gram, its distinct-shared
    * count, and a flag at the ≥8-gram contamination threshold.
    *
    * Scale shape: one shingle scan feeds both sides; the eval side
    * collapses to a DISTINCT gram-hash set (benchmark-sized — in a real
    * pipeline a few MB, here corpus-proportional so the broadcast is
    * conditional, bounded by the index memo's observed rows), and the
    * train side inner-joins it on the 8-byte hash —
    * an inverted-index probe, never gram strings and never all-pairs. The
    * per-doc distinct-count is a plain count(*) because the index is
    * already distinct per (doc, shingle). The DuckDB oracle replays it on
    * gram STRINGS (same counts absent 64-bit collisions — the
    * q_dedup_ngram contract). */
  def qDecontaminate(spark: SparkSession, d: String): DataFrame = {
    // One materialized index serves the eval and train branches (else the
    // shingle hashing + explode runs twice).
    val idx = State.memo(shingleIndex(spark, d, n = 5))
    val isEval = pmod(
      conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10).cast("long"),
      lit(100L)) < 10
    val evalGrams = graft.ops.Broadcasts.maybeBroadcast(
      idx.df.filter(isEval).select(col("shingle")).distinct(), idx.rows)
    idx.df.filter(!isEval)
      .join(evalGrams, "shingle")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shared"))
      .withColumn("contaminated", (col("n_shared") >= 8).cast("int"))
      .orderBy(col("doc_id"))
  }

  /** q_dedup_incremental: dedup an INCOMING BATCH against an existing
    * corpus — the production shape of dedup at 100 TB: the standing corpus
    * is never re-paired against itself; each new crawl/delivery probes the
    * corpus's signature index and only the batch side is new work. The
    * batch is the deterministic md5-bucket 20% cut of `documents` (same
    * construction as q_sample_hash), the corpus is the remaining 80%.
    *
    * Per batch document: `status` = 'exact' (normalized-md5 match in the
    * corpus) | 'near' (MinHash band collision with a corpus doc, verified
    * trigram Jaccard ≥ 0.2 — the [[qDedupMinhash]] contract) | 'new';
    * `match_id` = the smallest matching corpus doc (−1 when new);
    * `n_near_matches` = verified corpus matches. Exact beats near, so a
    * byte-identical copy reports its content twin even if it also band-
    * collides.
    *
    * Scale shape: both probes are asymmetric index joins — the exact probe
    * is a hash join on 16-byte digests, the near probe joins batch band
    * rows against corpus band rows on (band_id, band_hash) so candidate
    * cost is Σ(batch_bucket × corpus_bucket), never batch × corpus; shingle
    * sets are re-attached only to verified-candidate pairs. Within-batch
    * duplicates are out of scope by design (they are q_dedup_exact /
    * q_dedup_minhash over the batch alone). The DuckDB oracle replays the
    * full-corpus verified-pair pipeline and keeps the cross split — band
    * collision and Jaccard don't depend on which side a doc is on, so the
    * symmetric pair set filtered to (batch, corpus) pairs equals the
    * asymmetric probe's result. */
  def qDedupIncremental(spark: SparkSession, d: String): DataFrame = {
    val k = 32
    val bands = 4
    val rowsPerBand = k / bands
    val isBatch = pmod(
      conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10).cast("long"),
      lit(100L)) < 20
    // One materialized signature table for both probes (normalized content
    // key + shingle hash set + MinHash signature + side flag) — the same
    // single-scan stance as minhashVerifiedPairs.
    val base = State.memo(Tables.spread(Tables.documents(spark, d))
      .select(col("doc_id"),
        md5(regexp_replace(lower(trim(col("text"))), "\\s+", " ")).as("content_key"),
        call_function("graft_shingle_hashes", toks(col("text")), lit(3)).as("sh"),
        call_function("graft_minhash_sig", toks(col("text")), lit(3), lit(k)).as("sig"),
        isBatch.as("is_batch"))).df
    val banded = base
      .filter(size(col("sh")) > 0)
      .select(col("doc_id"), col("is_batch"),
        explode(transform(sequence(lit(0), lit(bands - 1)),
          b => struct(b.as("band_id"),
            xxhash64(slice(col("sig"), b * rowsPerBand + 1, lit(rowsPerBand)))
              .as("band_hash")))).as("band"))
      .select(col("doc_id"), col("is_batch"),
        col("band.band_id"), col("band.band_hash"))
    val candidates = banded.filter(col("is_batch")).as("q")
      .join(banded.filter(!col("is_batch")).as("c"),
        col("q.band_id") === col("c.band_id") &&
          col("q.band_hash") === col("c.band_hash"))
      .select(col("q.doc_id").as("batch_id"), col("c.doc_id").as("corpus_id"))
      .distinct()
    val sides = base.select(col("doc_id"), col("sh"))
    val near = candidates
      .join(sides.select(col("doc_id"), col("sh").as("sh_q")), col("batch_id") === col("doc_id"))
      .drop("doc_id")
      .join(sides.select(col("doc_id"), col("sh").as("sh_c")), col("corpus_id") === col("doc_id"))
      .drop("doc_id")
      .withColumn("inter", size(array_intersect(col("sh_q"), col("sh_c"))))
      .filter(col("inter").cast("double") /
        (size(col("sh_q")) + size(col("sh_c")) - col("inter")) >= 0.2)
      .groupBy(col("batch_id"))
      .agg(min(col("corpus_id")).as("near_match"),
        count(lit(1)).as("n_near_matches"))
    val exact = base.filter(col("is_batch"))
      .select(col("doc_id").as("batch_id"), col("content_key"))
      .join(base.filter(!col("is_batch"))
        .select(col("content_key"), col("doc_id").as("cid")), "content_key")
      .groupBy(col("batch_id"))
      .agg(min(col("cid")).as("exact_match"))
    base.filter(col("is_batch")).select(col("doc_id"))
      .join(exact, col("doc_id") === exact("batch_id"), "left_outer")
      .drop("batch_id")
      .join(near, col("doc_id") === near("batch_id"), "left_outer")
      .drop("batch_id")
      .select(col("doc_id"),
        when(col("exact_match").isNotNull, lit("exact"))
          .when(col("near_match").isNotNull, lit("near"))
          .otherwise(lit("new")).as("status"),
        coalesce(col("exact_match"), col("near_match"), lit(-1L)).as("match_id"),
        coalesce(col("n_near_matches"), lit(0L)).as("n_near_matches"))
      .orderBy(col("doc_id"))
  }

  /** MinHash signature over PRE-HASHED shingles (`hashes` =
    * `transform(sh, xxhash64)`): the k hash functions re-hash the 64-bit
    * base value with the function index as seed material — hashing 8-byte
    * longs k times is far cheaper than hashing the shingle STRINGS k times
    * for the same collision behavior (and stays in ANSI-safe arithmetic).
    * Callers must materialize the base-hash column before this
    * (CollapseProject would otherwise inline the string hashing back into
    * every lambda). */
  def minhashSignature(hashes: Column, k: Int): Column =
    transform(sequence(lit(0), lit(k - 1)),
      i => array_min(transform(hashes, h => xxhash64(h, i))))

  /** q_dedup_minhash: MinHash(k=32) + LSH banding (4 bands × 8 rows —
    * band-collision probability j⁸ keeps the candidate set near-dup-only
    * even on this homogeneous corpus).
    * Candidates = pairs sharing any band hash; verified with the exact
    * n-gram Jaccard of their shingle sets. Output: verified near-dup pairs
    * with estimated (signature-agreement) and exact Jaccard.
    * DuckDB-oracle-checked: the signature family is the md5 double-hash of
    * [[graft.functions.MinhashSig]], reproducible in SQL; band membership
    * is hash-agnostic (8 equal signature values), so the xxhash64 band KEY
    * below is just a compact bucket id and the oracle's string keys select
    * the same pairs. */
  def qDedupMinhash(spark: SparkSession, d: String): DataFrame =
    minhashVerifiedPairs(spark, d).orderBy(col("doc_a"), col("doc_b"))

  /** Session-lifetime caches: the verified pair table feeds three queries
    * (q_dedup_minhash, q_dedup_cluster, q_dedup_canonical) and the cluster
    * table two — the deterministic signature→band→verify pipeline runs
    * once per (session, sfDir) and consumers read the checkpointed result,
    * the same materialized-view stance as [[graft.ops.GraphOps]]' LP labels
    * and [[graft.ops.ColorQueries]]' Δ+1 trace. */
  private val pairsCache = new graft.ops.SessionCache[DataFrame]
  private val clusterCache = new graft.ops.SessionCache[DataFrame]

  /** Banded MinHash signature rows `(band_id, band_hash, doc_id, shingles)`
    * for an arbitrary `(doc_id, text)` frame — the SAME signature/banding
    * expressions [[minhashVerifiedPairs]] uses (so batch and the streaming
    * [[graft.streaming.StreamPipelines.neardupStream]] state machine see
    * identical buckets). Shingle hash sets ride along for the exact-Jaccard
    * verify step. Docs with no shingles (< 3 tokens) produce no rows.
    * `docs`' session must have the graft functions ([[graft.Session.local]]
    * and every [[graft.tables.Tables]] read register them). */
  def bandRows(docs: DataFrame, k: Int = 32, bands: Int = 4): DataFrame = {
    val rowsPerBand = k / bands
    docs
      .select(col("doc_id"),
        call_function("graft_shingle_hashes", toks(col("text")), lit(3)).as("shingles"),
        call_function("graft_minhash_sig", toks(col("text")), lit(3), lit(k)).as("sig"))
      .filter(size(col("shingles")) > 0)
      .select(col("doc_id"), col("shingles"),
        explode(transform(sequence(lit(0), lit(bands - 1)),
          b => struct(b.cast("int").as("band_id"),
            xxhash64(slice(col("sig"), b * rowsPerBand + 1, lit(rowsPerBand)))
              .as("band_hash")))).as("band"))
      .select(col("band.band_id"), col("band.band_hash"),
        col("doc_id"), col("shingles"))
  }

  /** MinHash+LSH candidate generation + exact-Jaccard verification (shared
    * by [[qDedupMinhash]] and [[qDedupCluster]]); returns the verified pair
    * table (doc_a < doc_b, jaccard ≥ 0.2) unordered. */
  def minhashVerifiedPairs(spark: SparkSession, d: String): DataFrame =
    pairsCache.getOrElseUpdate(spark, d)(
      State.memo(minhashVerifiedPairsUncached(spark, d)).df)

  private def minhashVerifiedPairsUncached(spark: SparkSession, d: String): DataFrame = {
    val k = 32
    val bands = 4
    val rowsPerBand = k / bands
    // One materialized signature table: distinct shingle hashes (exact
    // verify sets) + the k-function md5 signature, both single codegen'd
    // expressions over the token array (the transform/slice/concat_ws HOF
    // composition they replace ran interpreted, ~7 s at sf0.1; and without
    // the checkpoint the self-join + verify joins below re-evaluate the
    // expressions once per plan reference — measured 131 s vs 10 s at
    // sf0.1). At cluster scale this is the persisted signature table every
    // LSH pipeline builds first. Exact-jaccard verification runs on the
    // hash sets (order-insensitive; same values as string sets absent
    // 64-bit collisions).
    // spread: signature computation is the heavy map stage and the
    // checkpoint freezes the layout — see shingleIndexOf.
    val docs = State.memo(Tables.spread(Tables.documents(spark, d))
      .select(col("doc_id"),
        call_function("graft_shingle_hashes", toks(col("text")), lit(3)).as("sh"),
        call_function("graft_minhash_sig", toks(col("text")), lit(3), lit(k)).as("sig"))
      .filter(size(col("sh")) > 0)).df
    // (band_id, band_hash) buckets; join within buckets for candidates.
    // Band buckets carry only (doc_id, band) — signatures and shingle sets
    // are re-attached per side AFTER candidate dedup, so the quadratic part
    // of the join shuffles 16 bytes per row, not 32-long signatures.
    val banded = docs.select(col("doc_id"),
      explode(transform(sequence(lit(0), lit(bands - 1)),
        b => struct(b.as("band_id"),
          xxhash64(slice(col("sig"), b * rowsPerBand + 1, lit(rowsPerBand))).as("band_hash"))))
        .as("band"))
      .select(col("doc_id"), col("band.band_id"), col("band.band_hash"))
    val candidates = banded.as("a")
      .join(banded.as("b"),
        col("a.band_id") === col("b.band_id") &&
          col("a.band_hash") === col("b.band_hash") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    // Verify candidates exactly (join back signatures + shingle sets).
    val sides = docs.select(col("doc_id"), col("sig"), col("sh"))
    val withSets = candidates
      .join(sides.select(col("doc_id"), col("sig").as("sig_a"), col("sh").as("sh_a")),
        col("doc_a") === col("doc_id"))
      .drop("doc_id")
      .join(sides.select(col("doc_id"), col("sig").as("sig_b"), col("sh").as("sh_b")),
        col("doc_b") === col("doc_id"))
      .drop("doc_id")
    withSets
      .withColumn("est_jaccard",
        aggregate(zip_with(col("sig_a"), col("sig_b"), (x, y) => (x === y).cast("int")),
          lit(0), (acc, x) => acc + x).cast("double") / k)
      .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))))
      .select(col("doc_a"), col("doc_b"), col("est_jaccard"),
        (col("inter").cast("double") /
          (size(col("sh_a")) + size(col("sh_b")) - col("inter"))).as("jaccard"))
      .filter(col("jaccard") >= 0.2)
  }

  /** q_dedup_cluster: the full dedup-pipeline shape — near-dup PAIRS are
    * not yet a dedup decision; transitively-connected docs must collapse to
    * one cluster with a canonical keeper (the RefinedWeb/SlimPajama
    * pipeline step). Verified MinHash pairs become an undirected graph
    * whose connected components ([[ccClusters]]) label every member with
    * the minimum doc_id of its component — deterministic, and the scale
    * path for a pair graph too big for driver-side union-find. Output: one
    * row per clustered doc, (doc_id, cluster_rep). */
  def qDedupCluster(spark: SparkSession, d: String): DataFrame =
    clusterTable(spark, d).orderBy(col("doc_id"))

  /** Unordered (doc_id, cluster_rep) table, computed once per session. */
  private def clusterTable(spark: SparkSession, d: String): DataFrame =
    clusterCache.getOrElseUpdate(spark, d)(
      ccClusters(spark, minhashVerifiedPairs(spark, d)))

  /** Connected-component labels (doc_id, cluster_rep = min member id) of
    * an undirected (doc_a, doc_b) edge list — the shared clustering core
    * of [[qDedupCluster]]/[[qDedupCanonical]] (MinHash pairs) and
    * [[qDedupNgram]] (the n-gram spanning edge set). GraphX runs it below
    * the [[GraphXKernel.runs]] crossover, by pair count, and the
    * declarative [[graft.ops.GraphOps.ccLabelsDf]] min-label rounds above
    * it. The pair table is memoized for the decision count and the one
    * pass that consumes it, then dropped. */
  private[graft] def ccClusters(spark: SparkSession, edges: DataFrame): DataFrame = {
    val pairsState = State.memo(edges.select(col("doc_a"), col("doc_b")))
    val (pairs, nPairs) = (pairsState.df, pairsState.rows)
    try {
      if (GraphXKernel.runs(spark, nPairs)) {
        GraphXKernel.componentLabels(spark, pairs)
          .select(col("id").as("doc_id"), col("lbl").as("cluster_rep"))
      } else {
        // Pairs carry doc_a < doc_b and are distinct, so the symmetric
        // union is duplicate-free — exactly the edge-list contract
        // ccLabelsDf requires.
        val sym = pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
          .union(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
        val labels = graft.ops.GraphOps.ccLabelsDf(spark, sym, 2L * nPairs)
        try State.memo(labels.df
          .select(col("id").as("doc_id"), col("lbl").as("cluster_rep"))).df
        finally labels.release()
      }
    } finally pairsState.release() // both branches checkpoint before this
  }

  /** q_dedup_canonical: the dedup DECISION — which copy survives. Min-id
    * keepers ([[qDedupExact]]/[[qDedupCluster]]) are arbitrary; production
    * pipelines keep the BEST member of each near-dup cluster. Composition:
    * MinHash+LSH clusters ([[qDedupCluster]]) joined with the quality
    * composite ([[TextStats.qQualityScore]]), survivor = argmax quality
    * with doc_id-asc tiebreak. Output per cluster: representative, kept
    * doc, its quality, member count.
    *
    * Scale shape: the cluster table is |near-dup docs| rows (orders of
    * magnitude below the corpus), quality is a map-side projection over
    * the same docs; the argmax windows partition by cluster (bounded by
    * cluster size). Cross-engine exactness: the quality doubles are
    * exact-integer-ratio arithmetic (q_quality_score hash-matches), so
    * the DESC-quality rank agrees bit for bit. */
  def qDedupCanonical(spark: SparkSession, d: String): DataFrame =
    keeperOf(spark, d, clusterTable(spark, d))

  /** The keeper decision over any (doc_id, cluster_rep) labeling: one
    * surviving doc per cluster, argmax quality with doc_id-asc tiebreak —
    * shared by [[qDedupCanonical]] (MinHash clusters) and [[qDedupNgram]]
    * (n-gram clusters). Cross-engine exactness: the quality doubles are
    * exact-integer-ratio arithmetic (q_quality_score hash-matches), so the
    * DESC-quality rank agrees bit for bit; windows partition by cluster
    * (bounded by cluster size, never corpus size). */
  private def keeperOf(spark: SparkSession, d: String,
      clusters: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byCluster = Window.partitionBy(col("cluster_rep"))
    clusters
      .join(TextStats.qQualityScore(spark, d).select(col("doc_id"), col("quality")),
        "doc_id")
      .withColumn("rn", row_number()
        .over(byCluster.orderBy(col("quality").desc, col("doc_id"))))
      .withColumn("n_members", count(lit(1)).over(byCluster))
      .filter(col("rn") === 1)
      .select(col("cluster_rep"), col("doc_id").as("keep_id"),
        col("quality").as("keep_quality"), col("n_members"))
      .orderBy(col("cluster_rep"))
  }

  /** q_corpus_card: the per-source corpus datasheet — the governance
    * accounting a curation pipeline publishes with a dataset: per `source`,
    * document count, token mass, quality mass, and how many documents sit
    * in a near-dup cluster. Composes three session-cached assets (token
    * counts from the scan, the quality composite, the MinHash cluster
    * table), so the card costs one |docs|-sized join tree + a
    * |sources|-sized hash-agg on top of pipelines that already ran.
    *
    * Determinism: every per-source mass is an exact BIGINT sum of exact
    * per-doc integers (tokens, chars, capped length credit, punctuation
    * hits, stopword hits, dup membership); the one double, the composite
    * `quality_index`, is derived from those INTEGER SUMS in a pinned
    * evaluation order (the q_modularity recipe) — NOT by summing per-doc
    * quality doubles, whose 4-decimal DECIMAL casts the two engines round
    * differently on arbitrary-precision values. Scale shape: doc-keyed
    * hash joins (dup membership is |near-dup docs| ≪ corpus, left-joined),
    * partial+final agg on `source` — no window, no sort beyond the
    * |sources|-row output.
    *
    * Dup membership comes from the DISTINCT ENDPOINTS of the verified
    * near-dup pair memo, NOT from the CC cluster labeling (r12 verdict
    * item 5): the card never reads `cluster_rep`, and the CC vertex set
    * equals the endpoint set by construction, so skipping the
    * connected-components build drops its iterative label shuffles from
    * the card's first-consumer bill (13.9 GB at the r12 100× leg) while
    * q_dedup_cluster/canonical still build CC when they run. The distinct
    * is one partial-aggregated pass over the (session-checkpointed) pair
    * table — linear output, |near-dup docs| rows. */
  def qCorpusCard(spark: SparkSession, d: String): DataFrame = {
    val toks = TextStats.tokens(col("text"))
    val stopList = array(Seq("the", "a", "of", "and", "is").map(lit): _*)
    val docs = Tables.spread(Tables.documents(spark, d)).select(
      col("doc_id"), col("source"),
      size(toks).cast("long").as("n_tok"),
      length(col("text")).cast("long").as("n_chars"),
      least(length(col("text")), lit(500)).cast("long").as("len_credit"),
      (length(col("text")) -
        length(regexp_replace(col("text"), "\\p{Punct}", "")))
        .cast("long").as("n_punct"),
      size(filter(toks, t => array_contains(stopList, t))).cast("long").as("n_stop"))
    val dups = minhashVerifiedPairs(spark, d)
      .select(explode(array(col("doc_a"), col("doc_b"))).as("doc_id"))
      .distinct()
      .select(col("doc_id"), lit(1L).as("is_dup"))
    docs
      .join(dups, Seq("doc_id"), "left")
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tok")).as("tok_total"),
        sum(col("n_chars")).as("char_total"),
        sum(col("len_credit")).as("len_credit_total"),
        sum(col("n_punct")).as("punct_total"),
        sum(col("n_stop")).as("stop_total"),
        sum(coalesce(col("is_dup"), lit(0L))).as("n_dup_docs"))
      .withColumn("quality_index",
        col("len_credit_total").cast("double") / (col("n_docs") * 500L).cast("double") * 0.5 +
          (lit(1.0) - col("punct_total").cast("double") / col("char_total").cast("double")) * 0.25 +
          col("stop_total").cast("double") / col("tok_total").cast("double") * 0.25)
      .orderBy(col("source"))
  }

  /** DuckDB replay of [[qCorpusCard]]: the cluster oracle nested like
    * [[dedupCanonicalOracleSql]], exact-integer per-doc masses (group sums
    * CAST back to BIGINT — the HUGEINT trap), and the identical pinned
    * double expression for quality_index over the integer sums. */
  def corpusCardOracleSql(): String =
    s"""WITH clusters AS (
       |${dedupClusterOracleSql()}
       |),
       |pd AS (
       |  SELECT doc_id, source,
       |    CAST(len(list_filter(string_split_regex(text, '\\s+'),
       |      x -> len(x) > 0)) AS BIGINT) AS n_tok,
       |    CAST(length(text) AS BIGINT) AS n_chars,
       |    CAST(least(length(text), 500) AS BIGINT) AS len_credit,
       |    CAST(length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g'))
       |      AS BIGINT) AS n_punct,
       |    CAST(len(list_filter(list_filter(string_split_regex(text, '\\s+'),
       |      x -> len(x) > 0), x -> list_contains(['the','a','of','and','is'], x)))
       |      AS BIGINT) AS n_stop
       |  FROM documents),
       |agg AS (
       |  SELECT p.source, count(*) AS n_docs,
       |    CAST(sum(p.n_tok) AS BIGINT) AS tok_total,
       |    CAST(sum(p.n_chars) AS BIGINT) AS char_total,
       |    CAST(sum(p.len_credit) AS BIGINT) AS len_credit_total,
       |    CAST(sum(p.n_punct) AS BIGINT) AS punct_total,
       |    CAST(sum(p.n_stop) AS BIGINT) AS stop_total,
       |    CAST(sum(CASE WHEN c.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_dup_docs
       |  FROM pd p LEFT JOIN clusters c USING (doc_id)
       |  GROUP BY p.source)
       |SELECT source, n_docs, tok_total, char_total, len_credit_total,
       |  punct_total, stop_total, n_dup_docs,
       |  CAST(len_credit_total AS DOUBLE) / CAST(n_docs * 500 AS DOUBLE) * 0.5 +
       |  (1.0 - CAST(punct_total AS DOUBLE) / CAST(char_total AS DOUBLE)) * 0.25 +
       |  CAST(stop_total AS DOUBLE) / CAST(tok_total AS DOUBLE) * 0.25
       |    AS quality_index
       |FROM agg ORDER BY source""".stripMargin

  /** DuckDB replay of [[qDedupCanonical]]: the full cluster oracle as a
    * nested-WITH CTE, the q_quality_score composite verbatim (identical
    * evaluation order keeps the doubles bit-identical), argmax via
    * row_number. */
  def dedupCanonicalOracleSql(): String =
    keeperOracleSql(dedupClusterOracleSql())

  /** DuckDB replay of [[qDedupNgram]]: the rep-collapsed trigram-jaccard
    * replay (same CTEs as the q_dedup_ngram_pairs oracle) reduced to the
    * SPANNING edge set (rep pairs + class stars — identical components,
    * see [[classPairsOf]] edgesOnly), then min-label propagation and the
    * quality keeper. 8 LP rounds (vs the MinHash replay's 6): star
    * topology adds one hop between co-class members, and extra rounds are
    * linear joins guarded by the convergence check either way. */
  def dedupNgramOracleSql(rounds: Int = 8): String = {
    val edgeCtes =
      """WITH t AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0) AS toks
        |  FROM documents),
        |ds AS (
        |  SELECT doc_id,
        |    CASE WHEN len(toks) >= 3 THEN list_sort(list_distinct(
        |      list_transform(range(1, len(toks) - 1), i -> array_to_string(toks[i:i+2], ' '))))
        |    ELSE [] END AS sh
        |  FROM t),
        |dk AS MATERIALIZED (
        |  SELECT doc_id, md5(array_to_string(sh, chr(10))) AS k, len(sh) AS n_sh
        |  FROM ds WHERE len(sh) > 0),
        |reps AS MATERIALIZED (
        |  SELECT k, min(doc_id) AS rep, any_value(n_sh) AS n_sh FROM dk GROUP BY k),
        |ridx AS MATERIALIZED (
        |  SELECT r.k, unnest(d.sh) AS shingle
        |  FROM reps r JOIN ds d ON d.doc_id = r.rep),
        |rshared AS (
        |  SELECT a.k AS ka, b.k AS kb, count(*) AS shared
        |  FROM ridx a JOIN ridx b ON a.shingle = b.shingle AND a.k < b.k
        |  GROUP BY 1, 2),
        |rpairs AS MATERIALIZED (
        |  SELECT ka, kb
        |  FROM rshared JOIN reps ra ON ka = ra.k JOIN reps rb ON kb = rb.k
        |  WHERE CAST(shared AS DOUBLE) / (ra.n_sh + rb.n_sh - shared) >= 0.2),
        |ve AS MATERIALIZED (
        |  SELECT least(ra.rep, rb.rep) AS doc_a, greatest(ra.rep, rb.rep) AS doc_b
        |  FROM rpairs JOIN reps ra ON ka = ra.k JOIN reps rb ON kb = rb.k
        |  UNION ALL
        |  SELECT r.rep AS doc_a, d.doc_id AS doc_b
        |  FROM dk d JOIN reps r ON d.k = r.k WHERE d.doc_id <> r.rep)""".stripMargin
    keeperOracleSql(lpClustersSql(edgeCtes, "ve", rounds))
  }

  /** Quality-keeper tail over any clusters subquery returning
    * `(doc_id, cluster_rep)` — the [[qDedupCanonical]]/[[qDedupNgram]]
    * output contract: one row per cluster,
    * (cluster_rep, keep_id, keep_quality, n_members). */
  private def keeperOracleSql(clustersSql: String): String =
    s"""WITH clusters AS (
       |$clustersSql
       |),
       |qt AS (
       |  SELECT doc_id, text,
       |    list_filter(string_split_regex(text, '\\s+'), x -> len(x) > 0) AS toks
       |  FROM documents),
       |qm AS (
       |  SELECT doc_id,
       |    CAST(length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')) AS DOUBLE)
       |      / length(text) AS punct_ratio,
       |    CAST(len(list_filter(toks, x -> list_contains(['the','a','of','and','is'], x))) AS DOUBLE)
       |      / len(toks) AS stop_ratio,
       |    least(CAST(length(text) AS DOUBLE) / 500.0, 1.0) AS length_score
       |  FROM qt),
       |qual AS (
       |  SELECT doc_id,
       |    length_score * 0.5 + (1.0 - punct_ratio) * 0.25 + stop_ratio * 0.25 AS quality
       |  FROM qm),
       |ranked AS (
       |  SELECT c.cluster_rep, c.doc_id, q.quality,
       |    row_number() OVER (PARTITION BY c.cluster_rep
       |      ORDER BY q.quality DESC, c.doc_id) AS rn,
       |    count(*) OVER (PARTITION BY c.cluster_rep) AS n_members
       |  FROM clusters c JOIN qual q USING (doc_id))
       |SELECT cluster_rep, doc_id AS keep_id, quality AS keep_quality,
       |  CAST(n_members AS BIGINT) AS n_members
       |FROM ranked WHERE rn = 1 ORDER BY cluster_rep""".stripMargin

  /** Little-endian lower 64 bits of md5 (DuckDB `md5_number_lower`), built
    * from builtin exprs: per-byte conv of the hex digest, OR-shifted LE.
    * Reference formulation for the spec cross-check of
    * [[graft.functions.SimHash64.md5LowerLE]]. */
  def md5LowerLE(s: Column): Column =
    (0 to 7).map { i =>
      call_function("shiftleft",
        conv(substring(md5(s), 17 + 2 * i, 2), 16, 10).cast("long"), lit(8 * i))
    }.reduce(_ bitwiseOR _)

  /** 64-bit SimHash from the token multiset: for each bit position, the bit
    * is 1 iff the weighted vote Σ(±1 per token hash bit) is positive.
    * Composed-HOF reference formulation kept for the spec cross-check; the
    * query path uses the codegen [[graft.functions.SimHash64]] expression
    * (identical values — same md5-LE token hashes, same vote rule). */
  def simhash(tokens: Column): Column = {
    val hashes = transform(tokens, t => md5LowerLE(t))
    aggregate(
      sequence(lit(0), lit(63)),
      lit(0L),
      (acc, bit) => {
        val vote = aggregate(hashes, lit(0),
          (v, h) => v + when(call_function("shiftright", h, bit).bitwiseAND(1) === 1, 1).otherwise(-1))
        acc.bitwiseOR(when(vote > 0, call_function("shiftleft", lit(1L), bit)).otherwise(0L))
      })
  }

  /** q_dedup_simhash: SimHash near-dup — band the 64-bit fingerprint into
    * 4×16-bit chunks (any identical chunk → candidate; guarantees recall for
    * Hamming distance ≤ 3), verify with popcount of the XOR.
    * DuckDB-oracle-checked: the oracle rebuilds the same fingerprint from
    * `md5_number_lower` bit votes, never materializing a 64-bit integer —
    * it compares per-chunk values and sums per-chunk popcounts. */
  def qDedupSimhash(spark: SparkSession, d: String): DataFrame = {
    // Materialized for the same multi-reference reason as qDedupMinhash;
    // spread for the same single-file-scan reason as shingleIndexOf.
    val docs = State.memo(Tables.spread(Tables.documents(spark, d))
      .select(col("doc_id"),
        call_function("graft_simhash", toks(col("text"))).as("sh"))).df
    val banded = docs.select(col("doc_id"), col("sh"),
      explode(transform(sequence(lit(0), lit(3)),
        b => struct(b.as("chunk_id"),
          call_function("shiftright", col("sh"), b * 16).bitwiseAND(0xFFFFL).as("chunk")))).as("c"))
      .select(col("doc_id"), col("sh"), col("c.chunk_id"), col("c.chunk"))
    // Hamming-verify BEFORE the distinct: both fingerprints ride the join
    // output, so the ≤3 filter is map-side — the dropDuplicates exchange
    // then carries only VERIFIED near pairs instead of every band-collision
    // candidate (the 30× leg shuffled 11.6 GB of candidates, dup-mass²;
    // verified pairs are orders smaller). Same output set: hamming is a
    // function of the pair, so dedup-after-filter keeps one row per pair.
    banded.as("a")
      .join(banded.as("b"),
        col("a.chunk_id") === col("b.chunk_id") && col("a.chunk") === col("b.chunk") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        bit_count(col("a.sh").bitwiseXOR(col("b.sh"))).as("hamming"))
      .filter(col("hamming") <= 3)
      .dropDuplicates("doc_a", "doc_b")
      .select(col("doc_a"), col("doc_b"), col("hamming").cast("int").as("hamming"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** q_dedup_embed: embedding-cosine near-dup via random-hyperplane LSH —
    * 8 signature bits over the 64-dim embeddings (hash-derived deterministic
    * hyperplanes), candidates within a bucket, verified cosine above
    * threshold. (This synthetic corpus has no true near-dups — max pairwise
    * cosine ≈ 0.51 — so the threshold is 0.3 to exercise the verify path;
    * a production near-dup filter would use ≥ 0.95.) Brute-force equivalent
    * is Similarity.bruteForceTopK; LlmSpec cross-checks against it. */
  def qDedupEmbed(spark: SparkSession, d: String): DataFrame = {
    val emb = Tables.spread(Tables.embeddings(spark, d))
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val bucketed = emb.withColumn("bucket", Similarity.hyperplaneBucket(col("v"), bits = 8))
    val pairs = bucketed.as("a")
      .join(bucketed.as("b"),
        col("a.bucket") === col("b.bucket") && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"),
        Similarity.cosine(col("a.v"), col("b.v")).as("cos"))
    pairs.filter(col("cos") >= 0.3)
      .select(col("id_a"), col("id_b"), round(col("cos"), 4).as("cos"))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** DuckDB oracle for q_dedup_cluster: the same MinHash band/verify CTEs
    * as q_dedup_minhash produce the verified pair list, then min-label
    * propagation unrolled `rounds` times collapses components —
    * `cluster_rep` = min doc_id, exactly GraphX `connectedComponents`. A
    * convergence guard errors loudly (lazy `error()` in CASE) if the
    * unrolled depth ever stops covering the pair-graph diameter at some
    * other scale. */
  /** Shared oracle CTE prefix: tokenize → shingle-hash → 32-fn signature →
    * 4-band buckets → candidates → exact-Jaccard verified pairs `vp`
    * (doc_a < doc_b, jaccard ≥ 0.2). Used by [[dedupClusterOracleSql]],
    * [[dedupCanonicalOracleSql]] (via cluster) and
    * [[streamNeardupOracleSql]].
    *
    * SHARED-RECALL CONTRACT (r5 ADVICE, closed r6/r7): the engine's
    * signature family IS this SQL's family — [[graft.functions.MinhashSig]]
    * replays md5-hex-substring h1/h2 with the (h1 + j·h2) mod 2^28
    * double-hash bit-identically (LlmSpec "minhash signature family is
    * bit-identical to the oracle construction" pins element-wise equality
    * against a pure-Scala replica of these CTEs). Band membership is 8
    * equal signature slots on both sides; the ONE residual asymmetry is
    * the band KEY encoding — the engine compacts each slice to
    * xxhash64(slice) while the oracle string_aggs the slot values — so
    * divergence requires two UNEQUAL slices colliding in a 64-bit hash
    * (≈ 4·2⁻⁶⁴ per pair), and even then the spurious engine candidate
    * must ALSO pass the exact ≥ 0.2 Jaccard verify to reach the output.
    * No same-family recall assumption remains.
    *
    * ORACLE-SIDE SCALE (r11, 100× gate): `shared` is computed over CAND
    * pairs only — `cand ⋈ idx ⋈ idx`, never the all-pairs inverted-index
    * self-join. The downstream `vp` inner-joins `shared` to `cand`, so
    * pairs outside `cand` were always discarded (and cand pairs with zero
    * common shingles fail jaccard ≥ 0.2 either way) — identical output,
    * but the replay's pre-aggregation volume drops from Σ C(df,2) (the
    * quantity that grows quadratically in per-class replica count and
    * spilled DuckDB past this box's disk at the 100× corpus) to
    * Σ_{cand} |sh_a ∩ sh_b|, which is candidate-bounded. */
  private def minhashVpCtes: String =
    """WITH t AS (
      |  SELECT doc_id,
      |    list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0) AS toks
      |  FROM documents),
      |sh AS (
      |  SELECT doc_id, md5(s) AS d FROM (
      |    SELECT doc_id, unnest(
      |      CASE WHEN len(toks) >= 3 THEN
      |        list_transform(range(1, len(toks) - 1), i -> array_to_string(toks[i:i+2], ' '))
      |      ELSE [] END) AS s
      |    FROM t)),
      |hp AS (
      |  SELECT doc_id,
      |    CAST(('0x' || substr(d, 1, 7)) AS BIGINT) AS h1,
      |    CAST(('0x' || substr(d, 8, 7)) AS BIGINT) AS h2
      |  FROM sh),
      |hl AS MATERIALIZED (
      |  SELECT doc_id, list(h1 * 268435456 + h2) AS cs FROM hp GROUP BY doc_id),
      |sig AS MATERIALIZED (
      |  SELECT doc_id, j, list_min(list_transform(cs,
      |    c -> (c // 268435456 + j * (c % 268435456)) % 268435456)) AS mh
      |  FROM hl CROSS JOIN (SELECT unnest(range(0, 32)) AS j)),
      |bands AS MATERIALIZED (
      |  SELECT doc_id, j // 8 AS band_id, string_agg(mh, ',' ORDER BY j) AS bkey
      |  FROM sig GROUP BY doc_id, j // 8),
      |cand AS MATERIALIZED (
      |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      |  FROM bands a JOIN bands b
      |    ON a.band_id = b.band_id AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
      |idx AS MATERIALIZED (
      |  SELECT doc_id, unnest(list_distinct(
      |    CASE WHEN len(toks) >= 3 THEN
      |      list_transform(range(1, len(toks) - 1), i -> array_to_string(toks[i:i+2], ' '))
      |    ELSE [] END)) AS shingle
      |  FROM t),
      |sizes AS MATERIALIZED (SELECT doc_id, count(*) AS n_sh FROM idx GROUP BY doc_id),
      |shared AS MATERIALIZED (
      |  SELECT c.doc_a, c.doc_b, count(*) AS shared
      |  FROM cand c
      |  JOIN idx ia ON ia.doc_id = c.doc_a
      |  JOIN idx ib ON ib.doc_id = c.doc_b AND ib.shingle = ia.shingle
      |  GROUP BY 1, 2),
      |vp AS MATERIALIZED (
      |  SELECT c.doc_a, c.doc_b
      |  FROM cand c
      |  JOIN shared s ON s.doc_a = c.doc_a AND s.doc_b = c.doc_b
      |  JOIN sizes sa ON sa.doc_id = c.doc_a
      |  JOIN sizes sb ON sb.doc_id = c.doc_b
      |  WHERE CAST(s.shared AS DOUBLE) / (sa.n_sh + sb.n_sh - s.shared) >= 0.2)""".stripMargin

  /** DuckDB replay of [[qDedupIncremental]]: the full-corpus verified-pair
    * prefix (band collision + Jaccard are side-agnostic, so the symmetric
    * pair set restricted to cross (batch, corpus) pairs equals the engine's
    * asymmetric probe), plus a normalized-md5 exact probe, composed into
    * the per-batch-doc status row. */
  def dedupIncrementalOracleSql(): String =
    minhashVpCtes +
      """,
        |bkt AS (
        |  SELECT doc_id,
        |    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 < 20
        |      AS is_batch
        |  FROM documents),
        |cross_near AS (
        |  SELECT CASE WHEN ba.is_batch THEN vp.doc_a ELSE vp.doc_b END AS batch_id,
        |         CASE WHEN ba.is_batch THEN vp.doc_b ELSE vp.doc_a END AS corpus_id
        |  FROM vp
        |  JOIN bkt ba ON ba.doc_id = vp.doc_a
        |  JOIN bkt bb ON bb.doc_id = vp.doc_b
        |  WHERE ba.is_batch <> bb.is_batch),
        |near AS (
        |  SELECT batch_id, min(corpus_id) AS near_match, count(*) AS n_near
        |  FROM cross_near GROUP BY batch_id),
        |nk AS (
        |  SELECT b2.doc_id,
        |    md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS content_key,
        |    b2.is_batch
        |  FROM documents JOIN bkt b2 USING (doc_id)),
        |ex AS (
        |  SELECT b.doc_id AS batch_id, min(c.doc_id) AS exact_match
        |  FROM nk b JOIN nk c ON c.content_key = b.content_key AND NOT c.is_batch
        |  WHERE b.is_batch GROUP BY 1)
        |SELECT d.doc_id,
        |  CASE WHEN e.exact_match IS NOT NULL THEN 'exact'
        |       WHEN n.near_match IS NOT NULL THEN 'near'
        |       ELSE 'new' END AS status,
        |  coalesce(e.exact_match, n.near_match, -1) AS match_id,
        |  coalesce(n.n_near, 0) AS n_near_matches
        |FROM bkt d
        |LEFT JOIN ex e ON e.batch_id = d.doc_id
        |LEFT JOIN near n ON n.batch_id = d.doc_id
        |WHERE d.is_batch ORDER BY d.doc_id""".stripMargin

  /** DuckDB replay of [[graft.ops.StreamQueries.qStreamNeardup]]: the
    * verified-pair prefix, then the online dedup decision — doc_id IS
    * arrival order, so "first matching prior doc" = min(doc_a). */
  def streamNeardupOracleSql(): String =
    minhashVpCtes +
      """,
        |agg AS (
        |  SELECT doc_b AS doc_id, min(doc_a) AS dup_of,
        |    count(*) AS n_earlier_matches
        |  FROM vp GROUP BY doc_b)
        |SELECT doc_id, dup_of, n_earlier_matches FROM agg ORDER BY doc_id""".stripMargin

  def dedupClusterOracleSql(rounds: Int = 6): String =
    lpClustersSql(minhashVpCtes, "vp", rounds)

  /** Min-label propagation over any (doc_a, doc_b) edge relation: appends
    * the symmetric edge CTE, `rounds` LP rounds, and the convergence guard
    * (a non-converged round ERRORS loudly instead of emitting wrong
    * labels) to `edgeCtes`, returning `(doc_id, cluster_rep)` ordered by
    * doc_id. Shared by the MinHash cluster replay and the n-gram cluster
    * replay. */
  private def lpClustersSql(edgeCtes: String, edgeRel: String,
      rounds: Int): String = {
    val sb = new StringBuilder
    sb.append(edgeCtes)
    sb.append(
      s""",
        |ce AS MATERIALIZED (
        |  SELECT doc_a AS src, doc_b AS dst FROM $edgeRel
        |  UNION ALL SELECT doc_b AS src, doc_a AS dst FROM $edgeRel),
        |cl0 AS MATERIALIZED (SELECT DISTINCT src AS id, src AS lbl FROM ce)""".stripMargin)
    for (i <- 1 to rounds) sb.append(
      s""",
         |cl$i AS MATERIALIZED (
         |  SELECT l.id, least(l.lbl, coalesce(min(n.lbl), l.lbl)) AS lbl
         |  FROM cl${i - 1} l LEFT JOIN ce ON ce.src = l.id
         |  LEFT JOIN cl${i - 1} n ON n.id = ce.dst
         |  GROUP BY l.id, l.lbl)""".stripMargin)
    sb.append(
      s""",
         |guard AS (
         |  SELECT CASE WHEN (SELECT count(*) FROM cl$rounds a
         |                    JOIN cl${rounds - 1} b ON b.id = a.id AND b.lbl <> a.lbl) > 0
         |    THEN error('dedup-cluster oracle: label propagation not converged in $rounds rounds — raise rounds')
         |    ELSE 0 END AS ok)
         |SELECT l.id AS doc_id, l.lbl AS cluster_rep
         |FROM cl$rounds l, guard g WHERE g.ok = 0 ORDER BY doc_id""".stripMargin)
    sb.toString
  }

  val oracles: Map[String, String] = Map(
    "q_dedup_spans" -> dedupSpansOracleSql(),
    "q_dedup_cluster" -> dedupClusterOracleSql(),
    "q_dedup_canonical" -> dedupCanonicalOracleSql(),
    "q_corpus_card" -> corpusCardOracleSql(),
    "q_dedup_exact" ->
      """SELECT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS content_key,
        |  min(doc_id) AS keep_id, count(*) AS n_copies
        |FROM documents GROUP BY 1 ORDER BY keep_id""".stripMargin,
    // Replays syntheticUrl's deterministic derivation, then the same
    // canonicalization (fragment, case, default port, tracking params,
    // param sort, trailing slash) and the same two-level rollup.
    "q_dedup_url" ->
      """WITH u AS (
        |  SELECT
        |    (CASE doc_id % 3 WHEN 0 THEN 'https' WHEN 1 THEN 'HTTPS' ELSE 'Https' END)
        |    || '://'
        |    || (CASE WHEN doc_id % 2 = 0 THEN source || '.example.com'
        |             ELSE upper(source) || '.EXAMPLE.com' END)
        |    || (CASE WHEN doc_id % 7 = 0 THEN ':443' ELSE '' END)
        |    || '/docs/' || CAST(doc_id // 100 AS VARCHAR)
        |    || (CASE WHEN doc_id % 2 = 1 THEN '/' ELSE '' END)
        |    || '?'
        |    || (CASE WHEN doc_id % 2 = 0
        |          THEN (CASE doc_id % 3 WHEN 1 THEN 'utm_source=feed&'
        |                WHEN 2 THEN 'fbclid=x' || CAST(doc_id AS VARCHAR) || '&'
        |                ELSE '' END)
        |            || 'id=' || CAST(doc_id // 100 AS VARCHAR) || '&v=2'
        |          ELSE 'v=2&'
        |            || (CASE doc_id % 3 WHEN 1 THEN 'utm_source=feed&'
        |                WHEN 2 THEN 'fbclid=x' || CAST(doc_id AS VARCHAR) || '&'
        |                ELSE '' END)
        |            || 'id=' || CAST(doc_id // 100 AS VARCHAR) END)
        |    || (CASE WHEN doc_id % 4 = 0 THEN '#sec' || CAST(doc_id AS VARCHAR)
        |        ELSE '' END) AS url
        |  FROM documents),
        |p AS (
        |  SELECT
        |    lower(regexp_extract(nf, '^([^:/?#]+)://', 1)) AS scheme,
        |    lower(regexp_extract(nf, '^[^:/?#]+://([^/?#]+)', 1)) AS host,
        |    regexp_extract(nf, '^[^:/?#]+://[^/?#]+([^?#]*)', 1) AS path,
        |    regexp_extract(nf, '\?([^#]*)', 1) AS qs
        |  FROM (SELECT regexp_replace(url, '#.*$', '') AS nf FROM u)),
        |n AS (
        |  SELECT scheme || '://'
        |    || (CASE WHEN scheme = 'https' THEN regexp_replace(host, ':443$', '')
        |             WHEN scheme = 'http' THEN regexp_replace(host, ':80$', '')
        |             ELSE host END)
        |    || (CASE WHEN length(path) > 1 THEN regexp_replace(path, '/$', '')
        |        ELSE path END)
        |    || (CASE WHEN kept = '' THEN '' ELSE '?' || kept END) AS canon
        |  FROM (SELECT scheme, host, path,
        |          array_to_string(list_sort(list_filter(string_split(qs, '&'),
        |            x -> NOT regexp_matches(x, '^(utm_[^=]*|fbclid|gclid)=')
        |              AND x <> '')), '&') AS kept
        |        FROM p)),
        |g AS (
        |  SELECT regexp_extract(canon, '^https?://([^/:?#]+)', 1) AS domain,
        |    md5(canon) AS ck, count(*) AS n
        |  FROM n GROUP BY 1, 2)
        |SELECT domain, CAST(sum(n) AS BIGINT) AS n_urls,
        |  count(*) AS n_canonical,
        |  CAST(sum(n) - count(*) AS BIGINT) AS dup_mass,
        |  CAST(max(n) AS BIGINT) AS max_class,
        |  CAST(sum(n) - count(*) AS DOUBLE) / CAST(sum(n) AS DOUBLE) AS dup_frac
        |FROM g GROUP BY domain ORDER BY domain""".stripMargin,
    "q_decontaminate" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0) AS toks
        |  FROM documents),
        |idx AS (
        |  SELECT doc_id, unnest(list_distinct(
        |    CASE WHEN len(toks) >= 5 THEN
        |      list_transform(range(1, len(toks) - 3), i -> array_to_string(toks[i:i+4], ' '))
        |    ELSE [] END)) AS shingle
        |  FROM t),
        |ev AS (
        |  SELECT DISTINCT shingle FROM idx
        |  WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 < 10)
        |SELECT i.doc_id, count(*) AS n_shared,
        |  CAST(count(*) >= 8 AS INT) AS contaminated
        |FROM idx i JOIN ev USING (shingle)
        |WHERE CAST(('0x' || substr(md5(CAST(i.doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 >= 10
        |GROUP BY i.doc_id ORDER BY doc_id""".stripMargin,
    // ORACLE-SIDE SCALE (r11): the replay adopts the ENGINE's own
    // rep-collapse — identical distinct-shingle SETS group under one
    // representative (key = md5 of the newline-joined sorted set; tokens
    // cannot contain whitespace, so the encoding is injective) BEFORE the
    // quadratic inverted-index join, then qualifying rep pairs expand back
    // to member pairs (cross-class at the rep-level jaccard — same sets ⇒
    // same shared/sizes ⇒ bit-identical double — intra-class at exactly
    // 1.0). Output-identical to the all-pairs form (parity-run at sf0.01
    // and sf0.1); pre-aggregation volume drops from Σ df² over DOCS to
    // Σ df² over DISTINCT SETS — the same m²→1 collapse per dup-class
    // that made the engine side 100×-feasible.
    "q_dedup_ngram" -> dedupNgramOracleSql(),
    "q_dedup_ngram_pairs" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0) AS toks
        |  FROM documents),
        |ds AS (
        |  SELECT doc_id,
        |    CASE WHEN len(toks) >= 3 THEN list_sort(list_distinct(
        |      list_transform(range(1, len(toks) - 1), i -> array_to_string(toks[i:i+2], ' '))))
        |    ELSE [] END AS sh
        |  FROM t),
        |dk AS MATERIALIZED (
        |  SELECT doc_id, md5(array_to_string(sh, chr(10))) AS k, len(sh) AS n_sh
        |  FROM ds WHERE len(sh) > 0),
        |reps AS MATERIALIZED (
        |  SELECT k, min(doc_id) AS rep, any_value(n_sh) AS n_sh FROM dk GROUP BY k),
        |ridx AS MATERIALIZED (
        |  SELECT r.k, unnest(d.sh) AS shingle
        |  FROM reps r JOIN ds d ON d.doc_id = r.rep),
        |rshared AS (
        |  SELECT a.k AS ka, b.k AS kb, count(*) AS shared
        |  FROM ridx a JOIN ridx b ON a.shingle = b.shingle AND a.k < b.k
        |  GROUP BY 1, 2),
        |rpairs AS MATERIALIZED (
        |  SELECT ka, kb, CAST(shared AS DOUBLE) / (ra.n_sh + rb.n_sh - shared) AS jaccard
        |  FROM rshared JOIN reps ra ON ka = ra.k JOIN reps rb ON kb = rb.k
        |  WHERE CAST(shared AS DOUBLE) / (ra.n_sh + rb.n_sh - shared) >= 0.2),
        |cross_pairs AS (
        |  SELECT least(x.doc_id, y.doc_id) AS doc_a,
        |         greatest(x.doc_id, y.doc_id) AS doc_b, p.jaccard
        |  FROM rpairs p JOIN dk x ON x.k = p.ka JOIN dk y ON y.k = p.kb),
        |intra_pairs AS (
        |  SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, 1.0 AS jaccard
        |  FROM dk x JOIN dk y ON x.k = y.k AND x.doc_id < y.doc_id)
        |SELECT doc_a, doc_b, jaccard FROM cross_pairs
        |UNION ALL SELECT doc_a, doc_b, jaccard FROM intra_pairs
        |ORDER BY doc_a, doc_b""".stripMargin,
    // Same rep-collapsed inverted-index replay as q_dedup_ngram on 5-gram
    // strings (identical sets ⇒ containment = jaccard = 1.0; cross-class
    // pairs inherit the rep-level doubles exactly — same arithmetic on the
    // same integers), with the containment (shared / min-size) measure
    // alongside jaccard. Output-identical to the per-document all-pairs
    // form; pre-aggregation volume drops Σ df² over docs → over distinct
    // sets, matching the engine's classPairsOf collapse.
    "q_dedup_containment" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0) AS toks
        |  FROM documents),
        |ds AS (
        |  SELECT doc_id,
        |    CASE WHEN len(toks) >= 5 THEN list_sort(list_distinct(
        |      list_transform(range(1, len(toks) - 3), i -> array_to_string(toks[i:i+4], ' '))))
        |    ELSE [] END AS sh
        |  FROM t),
        |dk AS MATERIALIZED (
        |  SELECT doc_id, md5(array_to_string(sh, chr(10))) AS k, len(sh) AS n_sh
        |  FROM ds WHERE len(sh) > 0),
        |reps AS MATERIALIZED (
        |  SELECT k, min(doc_id) AS rep, any_value(n_sh) AS n_sh FROM dk GROUP BY k),
        |ridx AS MATERIALIZED (
        |  SELECT r.k, unnest(d.sh) AS shingle
        |  FROM reps r JOIN ds d ON d.doc_id = r.rep),
        |rshared AS (
        |  SELECT a.k AS ka, b.k AS kb, count(*) AS shared
        |  FROM ridx a JOIN ridx b ON a.shingle = b.shingle AND a.k < b.k
        |  GROUP BY 1, 2),
        |rpairs AS MATERIALIZED (
        |  SELECT ka, kb,
        |    CAST(shared AS DOUBLE) / least(ra.n_sh, rb.n_sh) AS containment,
        |    CAST(shared AS DOUBLE) / (ra.n_sh + rb.n_sh - shared) AS jaccard
        |  FROM rshared JOIN reps ra ON ka = ra.k JOIN reps rb ON kb = rb.k
        |  WHERE CAST(shared AS DOUBLE) / least(ra.n_sh, rb.n_sh) >= 0.5),
        |cross_pairs AS (
        |  SELECT least(x.doc_id, y.doc_id) AS doc_a,
        |         greatest(x.doc_id, y.doc_id) AS doc_b, p.containment, p.jaccard
        |  FROM rpairs p JOIN dk x ON x.k = p.ka JOIN dk y ON y.k = p.kb),
        |intra_pairs AS (
        |  SELECT x.doc_id AS doc_a, y.doc_id AS doc_b,
        |    1.0 AS containment, 1.0 AS jaccard
        |  FROM dk x JOIN dk y ON x.k = y.k AND x.doc_id < y.doc_id)
        |SELECT doc_a, doc_b, containment, jaccard FROM cross_pairs
        |UNION ALL SELECT doc_a, doc_b, containment, jaccard FROM intra_pairs
        |ORDER BY doc_a, doc_b""".stripMargin,
    // String-shingle replay of the engine's 64-bit hashed index (the
    // q_dedup_ngram recall argument: a collision-free hash leaves every
    // per-shingle document count identical, so the fractions match).
    "q_dedup_fraction" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0) AS toks
        |  FROM documents),
        |idx AS (
        |  SELECT doc_id, unnest(list_distinct(
        |    CASE WHEN len(toks) >= 5 THEN
        |      list_transform(range(1, len(toks) - 3), i -> array_to_string(toks[i:i+4], ' '))
        |    ELSE [] END)) AS shingle
        |  FROM t),
        |freq AS (SELECT shingle, count(*) AS df FROM idx GROUP BY shingle),
        |per_doc AS (
        |  SELECT i.doc_id, count(*) AS n_sh,
        |    CAST(sum(CASE WHEN f.df >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup
        |  FROM idx i JOIN freq f ON i.shingle = f.shingle
        |  GROUP BY i.doc_id)
        |SELECT d.doc_id,
        |  coalesce(p.n_sh, 0) AS n_sh,
        |  coalesce(p.n_dup, 0) AS n_dup,
        |  CASE WHEN p.n_sh IS NOT NULL
        |    THEN CAST(p.n_dup AS DOUBLE) / p.n_sh END AS dup_frac
        |FROM documents d LEFT JOIN per_doc p ON d.doc_id = p.doc_id
        |ORDER BY d.doc_id""".stripMargin,
    "q_dedup_incremental" -> dedupIncrementalOracleSql(),
    // Replays MinhashSig's md5 double-hash family: one md5 per shingle
    // instance, h1/h2 from hex substrings, (h1 + j·h2) mod 2^28, min per
    // function j. Bands compare the 8 raw signature values (string key —
    // hash-agnostic, same pairs as the Spark side's xxhash64 bucket id).
    "q_dedup_minhash" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0) AS toks
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id, md5(s) AS d FROM (
        |    SELECT doc_id, unnest(
        |      CASE WHEN len(toks) >= 3 THEN
        |        list_transform(range(1, len(toks) - 1), i -> array_to_string(toks[i:i+2], ' '))
        |      ELSE [] END) AS s
        |    FROM t)),
        |hp AS (
        |  SELECT doc_id,
        |    CAST(('0x' || substr(d, 1, 7)) AS BIGINT) AS h1,
        |    CAST(('0x' || substr(d, 8, 7)) AS BIGINT) AS h2
        |  FROM sh),
        |hl AS (
        |  SELECT doc_id, list(h1 * 268435456 + h2) AS cs FROM hp GROUP BY doc_id),
        |sig AS (
        |  SELECT doc_id, j, list_min(list_transform(cs,
        |    c -> (c // 268435456 + j * (c % 268435456)) % 268435456)) AS mh
        |  FROM hl CROSS JOIN (SELECT unnest(range(0, 32)) AS j)),
        |bands AS (
        |  SELECT doc_id, j // 8 AS band_id, string_agg(mh, ',' ORDER BY j) AS bkey
        |  FROM sig GROUP BY doc_id, j // 8),
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM bands a JOIN bands b
        |    ON a.band_id = b.band_id AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
        |est AS (
        |  SELECT c.doc_a, c.doc_b,
        |    sum(CASE WHEN sa.mh = sb.mh THEN 1 ELSE 0 END) / 32.0 AS est_jaccard
        |  FROM cand c
        |  JOIN sig sa ON sa.doc_id = c.doc_a
        |  JOIN sig sb ON sb.doc_id = c.doc_b AND sb.j = sa.j
        |  GROUP BY c.doc_a, c.doc_b),
        |idx AS (
        |  SELECT doc_id, unnest(list_distinct(
        |    CASE WHEN len(toks) >= 3 THEN
        |      list_transform(range(1, len(toks) - 1), i -> array_to_string(toks[i:i+2], ' '))
        |    ELSE [] END)) AS shingle
        |  FROM t),
        |sizes AS (SELECT doc_id, count(*) AS n_sh FROM idx GROUP BY doc_id),
        |shared AS (
        |  SELECT c.doc_a, c.doc_b, count(*) AS shared
        |  FROM cand c
        |  JOIN idx ia ON ia.doc_id = c.doc_a
        |  JOIN idx ib ON ib.doc_id = c.doc_b AND ib.shingle = ia.shingle
        |  GROUP BY 1, 2)
        |SELECT e.doc_a, e.doc_b, e.est_jaccard,
        |  CAST(s.shared AS DOUBLE) / (sa.n_sh + sb.n_sh - s.shared) AS jaccard
        |FROM est e
        |JOIN shared s ON s.doc_a = e.doc_a AND s.doc_b = e.doc_b
        |JOIN sizes sa ON sa.doc_id = e.doc_a
        |JOIN sizes sb ON sb.doc_id = e.doc_b
        |WHERE CAST(s.shared AS DOUBLE) / (sa.n_sh + sb.n_sh - s.shared) >= 0.2
        |ORDER BY e.doc_a, e.doc_b""".stripMargin,
    // Replays SimHash64: md5_number_lower per token (multiset — duplicates
    // vote), ±1 votes per bit, bit set iff vote > 0; fingerprints kept as
    // 4×16-bit chunk values (BIGINT-safe), hamming = Σ chunk popcounts.
    "q_dedup_simhash" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0) AS toks
        |  FROM documents),
        |tl AS (
        |  SELECT doc_id, list_transform(toks, x -> md5_number_lower(x)) AS hs
        |  FROM t WHERE len(toks) > 0),
        |votes AS (
        |  SELECT doc_id, b, list_sum(list_transform(hs,
        |    h -> CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END)) AS v
        |  FROM tl CROSS JOIN (SELECT unnest(range(0, 64)) AS b)),
        |chunks AS (
        |  SELECT doc_id, b // 16 AS chunk_id,
        |    CAST(sum(CASE WHEN v > 0 THEN 1 << (b % 16) ELSE 0 END) AS BIGINT) AS chunk
        |  FROM votes GROUP BY doc_id, b // 16),
        |pairs AS (
        |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM chunks a JOIN chunks b
        |    ON a.chunk_id = b.chunk_id AND a.chunk = b.chunk AND a.doc_id < b.doc_id),
        |ham AS (
        |  SELECT p.doc_a, p.doc_b,
        |    CAST(sum(bit_count(xor(ca.chunk, cb.chunk))) AS INT) AS hamming
        |  FROM pairs p
        |  JOIN chunks ca ON ca.doc_id = p.doc_a
        |  JOIN chunks cb ON cb.doc_id = p.doc_b AND cb.chunk_id = ca.chunk_id
        |  GROUP BY p.doc_a, p.doc_b)
        |SELECT doc_a, doc_b, hamming FROM ham
        |WHERE hamming <= 3 ORDER BY doc_a, doc_b""".stripMargin,
    // Same inlined ±1 hyperplane literals as the Spark plan; bucket bits
    // from exact integer projections, cosine via list_cosine_similarity.
    "q_dedup_embed" ->
      s"""WITH e AS (
         |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |b AS (
         |  SELECT vec_id, v, ${Similarity.hyperplaneBucketSql("v")} AS bucket FROM e),
         |pairs AS (
         |  SELECT a.vec_id AS id_a, b2.vec_id AS id_b,
         |    list_cosine_similarity(a.v, b2.v) AS cos
         |  FROM b a JOIN b b2 ON a.bucket = b2.bucket AND a.vec_id < b2.vec_id)
         |SELECT id_a, id_b, round(cos, 4) AS cos FROM pairs
         |WHERE cos >= 0.3 ORDER BY id_a, id_b""".stripMargin,
  )
}
