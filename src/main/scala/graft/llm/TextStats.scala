package graft.llm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ops.State
import graft.tables.Tables

/** Text-analysis operators over `documents` (north-star LLM-pipeline surface,
  * SURVEY.md §2.2): token counting, quality scoring, language ID, document
  * fingerprinting. Everything is native column expressions (codegen'd — no
  * UDFs), so the same plan scales from the 500-doc corpus to a 100 TB crawl:
  * per-row scalar work, no shuffle except the final presentation ORDER BY.
  */
object TextStats {

  /** q_bm25's fixed-point headroom: idf ≤ 10⁶·N and idf·tf·2200 must stay
    * under 2⁶³, which holds to N ≈ 10¹⁰ docs at tf ≤ 400. Enforced with an
    * in-plan assert on the corpus count; session-configurable so
    * BoundsSpec can prove the loud failure at test scale. */
  val Bm25MaxDocsKey = "graft.bm25.maxDocs"
  val DefaultBm25MaxDocs: Long = 10000000000L

  /** Whitespace tokens of `text` (empty strings dropped). */
  def tokens(text: Column): Column =
    filter(split(text, "\\s+"), t => length(t) > 0)

  /** BPE-ish lexer tokens: runs of letters, runs of digits, or single
    * non-alphanumeric marks — the classic pre-tokenizer split. */
  def lexTokens(text: Column): Column =
    regexp_extract_all(text, lit("[a-z]+|[A-Z]+|[0-9]+|[^a-zA-Z0-9\\s]"), lit(0))

  /** Word n-gram shingles as space-joined strings; empty when the document
    * has fewer than n tokens. */
  def shingles(toks: Column, n: Int): Column =
    when(size(toks) >= n,
      transform(sequence(lit(1), size(toks) - (n - 1)),
        i => concat_ws(" ", slice(toks, i, lit(n)))))
      .otherwise(array().cast("array<string>"))

  /** q_sample_hash: deterministic 10% sample of `documents` by md5 bucket
    * of the key — the reproducible sampling/train-val-split primitive a
    * training pipeline needs (`df.sample()` depends on partitioning and
    * has no cross-engine twin; a key-hash cut is stable under reshuffles,
    * re-runs, and engines, and composes into disjoint splits by bucket
    * range). Same md5 family as q_approx_distinct. */
  def qSampleHash(spark: SparkSession, d: String): DataFrame = {
    val bucket = pmod(
      conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10).cast("long"),
      lit(100L))
    Tables.documents(spark, d)
      .filter(bucket < 10)
      .select(col("doc_id"), col("lang"), col("n_chars"))
      .orderBy(col("doc_id"))
  }

  /** q_text_stats: per-document token counts + quality components. All
    * ratios divide exact integers, so Spark and DuckDB produce bit-identical
    * doubles. */
  def qTextStats(spark: SparkSession, d: String): DataFrame = {
    val docs = Tables.spread(Tables.documents(spark, d))
    val toks = tokens(col("text"))
    val nTok = size(toks).cast("long")
    val nDistinct = size(array_distinct(toks)).cast("long")
    val sumLen = aggregate(transform(toks, t => length(t).cast("long")),
      lit(0L), (acc, x) => acc + x)
    docs.select(
      col("doc_id"),
      nTok.as("n_tokens"),
      size(lexTokens(col("text"))).cast("long").as("n_lex_tokens"),
      nDistinct.as("n_distinct"),
      (nDistinct.cast("double") / nTok).as("distinct_ratio"),
      (sumLen.cast("double") / nTok).as("avg_token_len"),
      length(col("text")).cast("long").as("n_chars"))
      .orderBy(col("doc_id"))
  }

  /** q_vocab: exact corpus vocabulary over the BPE-ish lexer tokens — the
    * term/document-frequency table a tokenizer build (or any BPE training
    * pass) starts from. Scale posture: explode → one hash-agg with map-side
    * partial combine, then a GLOBAL rank with no single-partition stage:
    * the vocab is total-ordered by a range exchange and the rank is
    * partition offset + local position via `zipWithIndex` — identical to a
    * global `row_number` window, but every stage holds at most one
    * partition of the vocabulary (a web-scale corpus's typo/noise vocab is
    * NOT small; the old global-window shape moved it all to one task).
    * zipWithIndex is the one RDD hop the house style permits: the offset
    * table needs per-partition counts, which no Catalyst window can
    * express without first clustering by a partition id — a second full
    * shuffle. Rank ties are impossible (tok is unique after the agg), so
    * the rank is deterministic regardless of where range boundaries land. */
  def qVocab(spark: SparkSession, d: String): DataFrame = {
    val counts = Tables.spread(Tables.documents(spark, d))
      .select(col("doc_id"), explode(lexTokens(col("text"))).as("tok"))
      .groupBy(col("tok"))
      .agg(count(lit(1)).as("tf"), countDistinct(col("doc_id")).as("df"))
    val sorted = counts
      .repartitionByRange(col("tf").desc, col("tok").asc)
      .sortWithinPartitions(col("tf").desc, col("tok").asc)
    val schema = sorted.schema
      .add("rank", org.apache.spark.sql.types.IntegerType, nullable = false)
    spark.createDataFrame(
      sorted.rdd.zipWithIndex.map { case (r, i) =>
        org.apache.spark.sql.Row.fromSeq(r.toSeq :+ (i + 1L).toInt) },
      schema)
      .orderBy(col("rank"))
  }

  /** q_redact: PII scrubbing — the content-transform stage every
    * training-data pipeline runs before anything else sees the text.
    * Two standard moves on the quasi-identifier column: masking (digit
    * runs → `<NUM>` via `regexp_replace`, with the hit count kept for
    * audit) and pseudonymization (a deterministic md5 surrogate, so the
    * same identity maps to the same token across tables and runs without
    * storing a lookup). Pure map-side codegen'd expressions — scales as a
    * projection, no shuffle at any corpus size. */
  def qRedact(spark: SparkSession, d: String): DataFrame =
    Tables.customer(spark, d).select(
      col("c_custkey"),
      regexp_replace(col("c_name"), "[0-9]+", "<NUM>").as("redacted"),
      size(regexp_extract_all(col("c_name"), lit("[0-9]+"), lit(0)))
        .cast("long").as("n_hits"),
      substring(md5(col("c_name")), 1, 12).as("pseudonym"))
      .orderBy(col("c_custkey"))

  /** q_sample_stratified: exact per-stratum reproducible split — ⌈n/5⌉
    * documents per language, selected by md5 order (so membership is a pure
    * function of doc_id: stable across runs, partitionings, and engines —
    * same contract as [[qSampleHash]], plus the exact per-group quota that
    * plain hash-bucket sampling only hits in expectation). The quota uses
    * integer arithmetic `(n+4) div 5`, never `ceil(n·0.2)` — float quotas
    * can straddle an integer differently per engine. One window pass per
    * stratum (rank + count over the lang partition); output is the
    * per-stratum accounting with an id checksum proving exact membership. */
  def qSampleStratified(spark: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val hk = conv(substring(md5(col("doc_id").cast("string")), 1, 7), 16, 10)
      .cast("long")
    val byLang = Window.partitionBy(col("lang"))
    Tables.documents(spark, d)
      .select(col("doc_id"), col("lang"), hk.as("hk"))
      .withColumn("rn", row_number().over(byLang.orderBy(col("hk"), col("doc_id"))))
      .withColumn("n", count(lit(1)).over(byLang))
      .filter(col("rn") <= expr("(n + 4) div 5"))
      .groupBy(col("lang"))
      .agg(max(col("n")).as("n_docs"), count(lit(1)).as("n_train"),
        sum(col("doc_id")).as("id_checksum"))
      .orderBy(col("lang"))
  }

  /** q_mix_weights: deterministic data mixing to a target language
    * mixture — THE pretraining corpus-composition op: given target weights
    * (basis points, summing to 10000), find the largest total corpus T
    * whose per-language needs fit the available counts
    * (T = minₗ ⌊n_l·10⁴/w_l⌋), derive exact integer quotas
    * ⌊w_l·T/10⁴⌋ ≤ n_l, and keep each language's quota by md5 order —
    * the same reproducible, partitioning-independent selection contract
    * as [[qSampleStratified]], but mixture-driven instead of
    * fixed-fraction. Output: per-language accounting (available, quota,
    * kept, id checksum proving exact membership).
    *
    * Scale shape: pass 1 is a language-cardinality aggregate (tiny — the
    * quota table is ≤ #languages rows, broadcast); pass 2 ranks within
    * each language by hash key. The per-language rank window is the exact
    * -quota price (the dominant language is one sorted partition); at
    * corpus scale where a ±ε mixture suffices, the same quotas drive
    * md5-BUCKET thresholds (`bucket < ⌊10⁴·quota/n_l⌋` — pure map-side,
    * quota in expectation), or the window shards like q_pack_sequences.
    * All arithmetic is integer (`div`), so both engines agree exactly. */
  def qMixWeights(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val targets = Seq(
      ("en", 4000L), ("de", 1500L), ("es", 1500L), ("fr", 1500L), ("zh", 1500L))
    val w = broadcast(targets.toDF("lang", "w_bp")) // fixed-size literal
    val hk = conv(substring(md5(col("doc_id").cast("string")), 1, 7), 16, 10)
      .cast("long")
    val docs = Tables.documents(spark, d)
      .select(col("doc_id"), col("lang"), hk.as("hk"))
    val withW = docs.groupBy(col("lang")).agg(count(lit(1)).as("n_in"))
      .join(w, "lang")
    val tTotal = withW.agg(min(expr("(n_in * 10000) div w_bp")).as("t_total"))
    // Quota table: ≤ #languages rows (bounded by the target literal).
    val quotas = broadcast(withW.crossJoin(broadcast(tTotal))
      .select(col("lang"), col("n_in"),
        expr("(w_bp * t_total) div 10000").as("quota")))
    docs
      .withColumn("rn", row_number()
        .over(Window.partitionBy(col("lang")).orderBy(col("hk"), col("doc_id"))))
      .join(quotas, "lang")
      .filter(col("rn") <= col("quota"))
      .groupBy(col("lang"))
      .agg(max(col("n_in")).as("n_in"), max(col("quota")).as("quota"),
        count(lit(1)).as("n_kept"), sum(col("doc_id")).as("id_checksum"))
      .orderBy(col("lang"))
  }

  /** q_pack_sequences: contiguous sequence packing — assign documents to
    * fixed-token-budget training sequences (budget 512) by running token
    * offset, sharded so the cumulative window parallelizes (shard =
    * doc_id div 100: at corpus scale each shard packs independently —
    * exactly how production packers shard, since packing order only needs
    * to be deterministic, not global). bin = starting-offset div budget,
    * all integer arithmetic. Output: per (shard, bin) sequence accounting
    * (docs packed, tokens filled, id range) — the step between chunking
    * and batch assembly in a training-data pipeline. */
  def qPackSequences(spark: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val budget = 512
    val docs = Tables.documents(spark, d)
      .select(col("doc_id"), expr("doc_id div 100").as("shard"),
        size(tokens(col("text"))).cast("long").as("n_tok"))
    val w = Window.partitionBy(col("shard")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs
      .withColumn("cum", sum(col("n_tok")).over(w))
      .withColumn("bin", expr(s"(cum - n_tok) div $budget"))
      .groupBy(col("shard"), col("bin"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("tok_total"),
        min(col("doc_id")).as("first_doc"), max(col("doc_id")).as("last_doc"))
      .orderBy(col("shard"), col("bin"))
  }

  /** Stopword marker lists per language for the n-gram/stopword-hit
    * language-ID heuristic. Tiny on purpose: broadcast-joined, never
    * shuffled with the documents. */
  val langMarkers: Seq[(String, String)] = Seq(
    "en" -> "the", "en" -> "a", "en" -> "of", "en" -> "and", "en" -> "is",
    "es" -> "el", "es" -> "la", "es" -> "de", "es" -> "y", "es" -> "es",
    "de" -> "der", "de" -> "die", "de" -> "das", "de" -> "und", "de" -> "ist",
    "fr" -> "le", "fr" -> "les", "fr" -> "des", "fr" -> "et", "fr" -> "est")

  /** q_lang_id: predict language as argmax of stopword hits (deterministic
    * tie-break: most hits, then alphabetical language; zero hits → "und").
    * The marker table is broadcast (20 rows); the per-doc explode is the
    * only row expansion and collapses straight back in the partial agg. */
  def qLangId(spark: SparkSession, d: String): DataFrame =
    Tables.documents(spark, d)
      .join(predLangBest(spark, d), Seq("doc_id"), "left_outer")
      .select(col("doc_id"), coalesce(col("pred_lang"), lit("und")).as("pred_lang"),
        col("lang").as("labeled_lang"))
      .orderBy(col("doc_id"))

  /** The [[qLangId]] core — best marker-hit language per document (docs
    * with zero marker hits are absent; consumers coalesce to 'und').
    * Shared with [[qQualityFilter]] so both queries decide language the
    * same way. The marker table is 20 rows — unconditionally broadcast. */
  private def predLangBest(spark: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    val markers = langMarkers.toDF("cand_lang", "marker")
    val hits = Tables.spread(Tables.documents(spark, d))
      .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
      .join(broadcast(markers), col("tok") === col("marker"))
      .groupBy(col("doc_id"), col("cand_lang"))
      .agg(count(lit(1)).as("hits"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("hits").desc, col("cand_lang").asc)
    hits
      .withColumn("r", row_number().over(w))
      .filter(col("r") === 1)
      .select(col("doc_id"), col("cand_lang").as("pred_lang"))
  }

  /** q_fingerprint: document fingerprint = lexicographic min of md5 over
    * word 5-gram shingles (winnowing-style rolling fingerprint; md5 so the
    * DuckDB oracle computes identical digests). Short docs (<5 tokens) get
    * the md5 of the whole normalized text. */
  def qFingerprint(spark: SparkSession, d: String): DataFrame = {
    val toks = tokens(col("text"))
    val sh = shingles(toks, 5)
    Tables.documents(spark, d)
      .select(col("doc_id"),
        when(size(sh) > 0, array_min(transform(sh, s => md5(s))))
          .otherwise(md5(concat_ws(" ", toks))).as("fingerprint"))
      .orderBy(col("doc_id"))
  }

  /** q_quality_score: composite document quality from length, punctuation,
    * and stopword ratios (the classic crawl-filtering heuristics). Every
    * ratio divides exact integers and the weights are dyadic, so Spark and
    * DuckDB produce bit-identical doubles. */
  def qQualityScore(spark: SparkSession, d: String): DataFrame = {
    val toks = tokens(col("text"))
    val nTok = size(toks).cast("double")
    val nChars = length(col("text")).cast("double")
    val punct = (length(col("text")) -
      length(regexp_replace(col("text"), "\\p{Punct}", ""))).cast("double")
    val stopList = array(Seq("the", "a", "of", "and", "is").map(lit): _*)
    val stops = size(filter(toks, t => array_contains(stopList, t))).cast("double")
    val lengthScore = least(nChars / 500.0, lit(1.0))
    val punctRatio = punct / nChars
    val stopRatio = stops / nTok
    // spread: a single-file scan would run the regex/token folds one-task
    // (bench count() prunes them, but Verify materializes every row).
    Tables.spread(Tables.documents(spark, d))
      .select(col("doc_id"),
        punctRatio.as("punct_ratio"),
        stopRatio.as("stop_ratio"),
        lengthScore.as("length_score"),
        (lengthScore * 0.5 + (lit(1.0) - punctRatio) * 0.25 + stopRatio * 0.25)
          .as("quality"))
      .orderBy(col("doc_id"))
  }

  /** Hashed-feature bucket count for [[qClassifyQuality]] (2¹⁸ — the
    * fastText default order of magnitude). */
  private val ClassifyBuckets = 262144L

  /** q_classify_quality: LEARNED quality-classifier inference — the
    * standard fastText/CCNet-style linear filter stage every production
    * curation pipeline runs between perplexity scoring (q_lm_score) and
    * heuristic filtering (q_quality_filter): hash word unigram+bigram
    * features into 2¹⁸ buckets, dot the count vector with a weight
    * vector, keep documents scoring positive.
    *
    * The weight vector here is DERIVED (weight(b) = house-hash(b) mod
    * 2001 − 1000 ∈ [−1000, 1000]) rather than trained — the planeSigns /
    * dp-seed stance: a deterministic stand-in makes the mechanism
    * DuckDB-replayable bit-for-bit, and production swaps in trained
    * weights as a broadcast array lookup with the identical plan shape.
    *
    * Scale shape: the ENTIRE inference is in-row — features, bucketing,
    * and the dot product all fold inside one `aggregate` higher-order
    * expression over the token array, so the plan is a single map-side
    * projection with ZERO shuffle (the final orderBy is presentation).
    * This is the shape a 100 TB inference pass wants: no explode of
    * per-token rows, no per-doc feature table, whole-stage codegen
    * end-to-end. Exactness: score is an exact BIGINT sum (|score| ≤
    * 1000·n_features); mean_w divides the two exact integers in pinned
    * order, NULL for token-free documents on both engines. */
  def qClassifyQuality(spark: SparkSession, d: String): DataFrame = {
    def h60(c: Column): Column =
      conv(substring(md5(c), 1, 15), 16, 10).cast("long")
    val toks = tokens(col("text"))
    val bigrams = zip_with(
      slice(toks, lit(1), greatest(size(toks) - 1, lit(0))),
      slice(toks, lit(2), greatest(size(toks) - 1, lit(0))),
      (a, b) => concat(a, lit(" "), b))
    val feats = concat(toks, bigrams)
    def weight(f: Column): Column =
      h60(concat(lit("w:"),
        (h60(f) % lit(ClassifyBuckets)).cast("string"))) % 2001L - 1000L
    Tables.spread(Tables.documents(spark, d))
      .select(col("doc_id"),
        size(feats).cast("long").as("n_features"),
        aggregate(feats, lit(0L), (acc, f) => acc + weight(f)).as("score"))
      .select(col("doc_id"), col("n_features"), col("score"),
        when(col("n_features") > 0L,
          col("score").cast("double") / col("n_features").cast("double"))
          .as("mean_w"),
        (col("score") > 0L).as("keep"))
      .orderBy(col("doc_id"))
  }

  /** q_chunking: overlapping token-window chunks (width 50, stride 40 — the
    * training-data chunking shape). One row per chunk with a compact md5 of
    * the chunk text; chunk count = ⌈(n−width)/stride⌉+1 via integer
    * arithmetic so both engines agree exactly. Short docs → one chunk. */
  def qChunking(spark: SparkSession, d: String): DataFrame = {
    val width = 50
    val stride = 40
    val toks = tokens(col("text"))
    val n = size(toks)
    val nChunks = when(n <= width, lit(1))
      .otherwise((n - (width - stride + 1)).cast("long") / stride + 1)
    Tables.documents(spark, d)
      .select(col("doc_id"), toks.as("toks"), n.as("n"),
        explode(sequence(lit(0L), nChunks.cast("long") - 1)).as("chunk_id"))
      .select(col("doc_id"), col("chunk_id"),
        md5(concat_ws(" ",
          slice(col("toks"), (col("chunk_id") * stride + 1).cast("int"), lit(width))))
          .as("chunk_hash"),
        least(lit(width), col("n") - col("chunk_id").cast("int") * stride)
          .as("n_chunk_tokens"))
      .orderBy(col("doc_id"), col("chunk_id"))
  }

  /** Max run length over a SORTED string array = the max multiplicity of
    * any element — one left-to-right fold, no per-row map allocation. */
  private def maxRun(sorted: Column): Column =
    aggregate(sorted,
      struct(lit("").as("prev"), lit(0L).as("run"), lit(0L).as("best")),
      (acc, x) => {
        val run = when(x === acc.getField("prev"), acc.getField("run") + 1L)
          .otherwise(lit(1L))
        struct(x.as("prev"), run.as("run"),
          greatest(acc.getField("best"), run).as("best"))
      },
      acc => acc.getField("best"))

  /** Occurrences belonging to runs of length ≥ 2 in a SORTED string array
    * (= Σ multiplicity over elements with multiplicity ≥ 2): a run
    * reaching length 2 retro-credits both members, further extensions one
    * each. */
  private def dupOccurrences(sorted: Column): Column =
    aggregate(sorted,
      struct(lit("").as("prev"), lit(0L).as("run"), lit(0L).as("dup")),
      (acc, x) => {
        val isSame = x === acc.getField("prev")
        val run = when(isSame, acc.getField("run") + 1L).otherwise(lit(1L))
        val dup = acc.getField("dup") +
          when(isSame, when(acc.getField("run") === 1L, lit(2L)).otherwise(lit(1L)))
            .otherwise(lit(0L))
        struct(x.as("prev"), run.as("run"), dup.as("dup"))
      },
      acc => acc.getField("dup"))

  /** The [[qRepetition]] projection over any (doc_id, text) relation —
    * split out so LlmSpec can hand-check the signals on literal rows. */
  private[graft] def repetitionProjection(docs: DataFrame): DataFrame = {
    val toksC = tokens(col("text"))
    val n = size(toksC).cast("long")
    docs
      .select(col("doc_id"), n.as("n_tokens"),
        maxRun(array_sort(toksC)).as("topw"),
        maxRun(array_sort(shingles(toksC, 2))).as("topb"),
        dupOccurrences(array_sort(shingles(toksC, 3))).as("dupt"))
      .select(col("doc_id"), col("n_tokens"),
        when(col("n_tokens") > 0,
          col("topw").cast("double") / col("n_tokens")).otherwise(0.0)
          .as("top_word_frac"),
        when(col("n_tokens") >= 2,
          col("topb").cast("double") / (col("n_tokens") - 1)).otherwise(0.0)
          .as("top_bigram_frac"),
        when(col("n_tokens") >= 3,
          col("dupt").cast("double") / (col("n_tokens") - 2)).otherwise(0.0)
          .as("dup_trigram_frac"))
      .withColumn("flagged",
        (col("top_word_frac") > 0.15 || col("dup_trigram_frac") > 0.05).cast("int"))
  }

  /** q_repetition: Gopher-style repetition signals per document — the
    * quality-filter family [[qQualityScore]]'s length/punct/stopword
    * composite does not cover: fraction of tokens taken by the most
    * frequent token, by the most frequent bigram, and the fraction of
    * trigram occurrences that are duplicated within the document (the
    * boilerplate/template detector every large corpus filter runs).
    *
    * Scale shape: ENTIRELY map-side. Each signal is a sorted-array
    * run-length fold inside the row (max run of the sorted gram array =
    * max multiplicity) — the corpus token stream is never exploded or
    * shuffled, unlike the vocab/heavy-hitter CORPUS-level aggregates
    * where a shuffle is inherent. The only shuffle is the presentation
    * ORDER BY. All ratios are exact-integer divisions, so both engines
    * produce bit-identical doubles and the >0.15/>0.05 flag thresholds
    * compare identically (thresholds sit at the corpus p90, flagging the
    * repetitive tail). The DuckDB oracle derives the same counts the
    * readable way — unnest + GROUP BY multiplicity — same values. */
  def qRepetition(spark: SparkSession, d: String): DataFrame =
    repetitionProjection(Tables.spread(Tables.documents(spark, d)))
      .orderBy(col("doc_id"))

  /** q_quality_filter: the composed KEEP/DROP decision a corpus filter
    * actually ships — every signal query ([[qQualityScore]],
    * [[qRepetition]], [[qLangId]]) feeds a per-document verdict with the
    * FIRST failing rule in a fixed priority order: `too_short`
    * (< 20 tokens) → `non_english` (marker-predicted language ≠ en) →
    * `repetitive` (the q_repetition flag thresholds) → `low_quality`
    * (composite quality < 0.5) → `kept`. One row per document so the
    * decision is auditable per doc, not just in aggregate.
    *
    * Scale shape: every signal except language is computed IN-ROW in one
    * map-side projection (the q_repetition sorted-run folds and the
    * q_quality_score ratio arithmetic — the token stream never shuffles);
    * language adds the one marker-join aggregate (20-row broadcast), and
    * the verdict is a single V-sized left join between the two. All
    * threshold comparisons are on bit-identical doubles (exact-integer
    * divisions and dyadic weights — the established q_quality_score /
    * q_repetition cross-engine contract), so the CASE branches identically
    * in DuckDB. */
  def qQualityFilter(spark: SparkSession, d: String): DataFrame = {
    val toksC = tokens(col("text"))
    val n = size(toksC).cast("long")
    val nChars = length(col("text")).cast("double")
    val punctRatio = (length(col("text")) -
      length(regexp_replace(col("text"), "\\p{Punct}", ""))).cast("double") / nChars
    val stopList = array(Seq("the", "a", "of", "and", "is").map(lit): _*)
    val stopRatio = size(filter(toksC, t => array_contains(stopList, t))).cast("double") /
      size(toksC).cast("double")
    val lengthScore = least(nChars / 500.0, lit(1.0))
    val quality = lengthScore * 0.5 + (lit(1.0) - punctRatio) * 0.25 + stopRatio * 0.25
    val sig = Tables.documents(spark, d)
      .select(col("doc_id"), n.as("n_tokens"),
        when(n > 0, maxRun(array_sort(toksC)).cast("double") / n).otherwise(0.0)
          .as("top_word_frac"),
        when(n >= 3, dupOccurrences(array_sort(shingles(toksC, 3))).cast("double") / (n - 2))
          .otherwise(0.0).as("dup_trigram_frac"),
        quality.as("quality"))
    sig.join(predLangBest(spark, d), Seq("doc_id"), "left_outer")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("pred_lang"), lit("und")).as("pred_lang"),
        when(col("n_tokens") < 20, lit("too_short"))
          .when(coalesce(col("pred_lang"), lit("und")) =!= "en", lit("non_english"))
          .when(col("top_word_frac") > 0.15 || col("dup_trigram_frac") > 0.05,
            lit("repetitive"))
          .when(col("quality") < 0.5, lit("low_quality"))
          .otherwise(lit("kept")).as("verdict"))
      .orderBy(col("doc_id"))
  }

  /** q_lm_score: language-model quality scoring — the CCNet/KenLM filter
    * stage of a pretraining pipeline, integerized so both engines agree
    * bit-exactly: train a unigram LM on the corpus itself (token counts c,
    * total mass T) and score every document by its mean token SURPRISAL,
    * with surprisal(t) = ⌊log₂(T ÷ c(t))⌋ computed as
    * `length(bin(T div c)) − 1` — pure integer arithmetic, no
    * transcendentals (the q_tfidf integer-idf stance; a float log₂ would
    * differ in ulps across engines). High mean surprisal = rare-token-heavy
    * (gibberish / OCR noise), low = boilerplate; the production filter cuts
    * both tails.
    *
    * Scale shape: one exploded-token hash-agg trains the LM (vocab-sized
    * output, partial-aggregated); T rides a 1-row broadcast cross join so
    * the plan stays one lazy pipeline (no driver-side scalar action); the
    * scoring join probes the vocab table — no count of it is held, so Spark
    * decides its broadcast (the vocab is Heaps-law sublinear in the
    * corpus) — and the per-doc sum is a second partial hash-agg. The mean
    * is exact-integer ÷ exact-integer in one IEEE division. */
  def qLmScore(spark: SparkSession, d: String): DataFrame = {
    val tok = Tables.spread(Tables.documents(spark, d))
      .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
    val counts = tok.groupBy(col("tok")).agg(count(lit(1)).as("c"))
    val total = counts.agg(sum(col("c")).as("t"))
    val vocabScores = counts.crossJoin(broadcast(total))
      .select(col("tok"),
        (length(bin(col("t").cast("long") / col("c"))) - 1).cast("long").as("sp"))
    tok.join(vocabScores, "tok")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"), sum(col("sp")).as("total_surprisal"))
      .select(col("doc_id"), col("n_tokens"), col("total_surprisal"),
        (col("total_surprisal").cast("double") / col("n_tokens"))
          .as("avg_surprisal"))
      .orderBy(col("doc_id"))
  }

  /** q_tfidf: top-3 terms per document by TF-IDF — the relevance-scoring /
    * keyword-extraction primitive of a text pipeline. IDF uses the exact
    * rational form `(N·10⁶) div df` (truncating integer division on both
    * engines) instead of `ln(N/df)`: a monotone transform preserves the
    * ranking while keeping every score an exact BIGINT, so the oracle
    * hash-matches bit for bit (Java's `Math.log` and libm need not agree in
    * the last ulp). Scale shape: one explode + two hash aggregations
    * (term-frequency, then document-frequency over the tf table — already
    * one row per (doc, term)), a broadcast of the single-row corpus count,
    * and a per-doc top-k window. */
  def qTfidf(spark: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.spread(Tables.documents(spark, d))
    // tf feeds BOTH the document-frequency agg and the scoring join —
    // materialize it once or the explode+hash-agg runs twice (the whole
    // cost of this query at bench scale).
    val tf = State.memo(docs
      .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf")))
    // df table is vocabulary-sized (≪ tf) — broadcast the scoring join.
    // Vocabulary GROWS with the corpus (web-scale text → 10⁸+ terms), so
    // the hint is conditional on tf's observed rows, an upper bound on the
    // vocabulary: past the row threshold it degrades to a shuffle join on
    // term (graft.ops.Broadcasts scaladoc).
    val dfreq = graft.ops.Broadcasts.maybeBroadcast(
      tf.df.groupBy(col("term")).agg(count(lit(1)).as("df")), tf.rows)
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("term").asc)
    tf.df.join(dfreq, "term")
      .crossJoin(broadcast(nDocs))
      .select(col("doc_id"), col("term"), col("tf"),
        (col("tf") * expr("(n_docs * 1000000) div df")).as("score"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .select(col("doc_id"), col("term"), col("tf"), col("score"),
        col("rank").cast("int").as("rank"))
      .orderBy(col("doc_id"), col("rank"))
  }

  /** The fixed retrieval query for [[qBm25]] — literal terms, so the scan
    * can drop non-matching tokens BEFORE the explode (see below). */
  private[graft] val BM25_TERMS = Seq("spark", "hash", "window", "merge", "vector")

  /** q_bm25: BM25 relevance ranking of `documents` against a fixed 5-term
    * query — the retrieval-scoring step of a RAG / data-curation pipeline,
    * one level up from [[qTfidf]]'s raw tf·idf (adds tf saturation and
    * document-length normalization, k1=1.2 b=0.75).
    *
    * Determinism: the whole score is fixed-point BIGINT — idf is the same
    * `(N·10⁶) div df` family as q_tfidf, the length norm is
    * `300 + (900000·dl) div avgdl_x1000` (= 1000·k1·(1-b+b·dl/avgdl)), and
    * the per-term score `(idf·tf·2200) div (tf·1000 + norm)` (2200 = 1000·
    * tf·(k1+1)/tf scale). No log, no float division — DuckDB replays it
    * exactly. Headroom: idf ≤ 10⁶·N for a df=1 term, ×tf×2200 must stay
    * < 2⁶³ — fine to N ≈ 10¹⁰ docs with tf ≤ 400; larger corpora drop the
    * idf scale a decade per 10× docs (same rule as q_pagerank's SCALE).
    *
    * Scale shape: the token stream is length-filtered INSIDE the array
    * before the explode (`filter(toks, isin)`), so the exploded relation
    * carries only query-term hits (|Q|-bounded per doc), not the corpus
    * token stream; dl rides along with the hit rows from the same scan;
    * corpus stats (N, Σdl) are one separate count/sum aggregate scan;
    * the 5-row df table and 1-row corpus stats are broadcast; the only
    * wide exchange is the (doc_id,term) hash-agg on the filtered stream.
    * Top-10 by (score desc, doc_id) — WindowGroupLimit caps the rank at
    * partition level before the final single-partition sort. */
  /** The (doc_id, dl, term) query-term hit stream of [[qBm25]], split out
    * so PlanShapeSpec can pin its shape (the tf checkpoint below truncates
    * the executed plan at a Scan ExistingRDD): the array filter sits
    * INSIDE the explode, keeping the generated relation |Q|-bounded per
    * document instead of corpus-token-sized. */
  private[graft] def bm25Hits(docs: DataFrame): DataFrame = {
    val toks = tokens(col("text"))
    docs.select(
      col("doc_id"),
      size(toks).cast("long").as("dl"),
      explode(filter(toks, t => t.isInCollection(BM25_TERMS))).as("term"))
  }

  /** The full per-document BM25 score table of [[qBm25]] — factored out so
    * [[Similarity.qRankFusion]] can rank the same scores to depth 50
    * (qBm25 itself keeps only the top 10). */
  private[graft] def bm25Scored(spark: SparkSession, d: String): DataFrame = {
    val docs = Tables.spread(Tables.documents(spark, d))
    val tf = State.memo(bm25Hits(docs)
      .groupBy(col("doc_id"), col("dl"), col("term"))
      .agg(count(lit(1)).as("tf"))).df // feeds both the df agg and the scoring join
    // One row per query term.
    val dfreq = graft.ops.Broadcasts.maybeBroadcast(
      tf.groupBy(col("term")).agg(count(lit(1)).as("df")), BM25_TERMS.size)
    // The documented fixed-point headroom (scaladoc above: idf·tf·2200
    // < 2⁶³ to N ≈ 10¹⁰ docs) is enforced, not just documented: the assert
    // rides inside n_docs (NULL-on-success + coalesce, the triangle-key
    // pattern) so a corpus past the bound fails loudly instead of wrapping
    // the BIGINT score. Conf-injectable so BoundsSpec can trip it.
    val maxDocs = spark.conf
      .get(Bm25MaxDocsKey, DefaultBm25MaxDocs.toString).toLong
    val stats = docs.agg(
        count(lit(1)).as("n_docs_raw"),
        sum(size(tokens(col("text"))).cast("long")).as("tok_total"))
      .select(
        (col("n_docs_raw") + coalesce(
          assert_true(col("n_docs_raw") < lit(maxDocs),
            lit("qBm25: corpus exceeds the fixed-point idf headroom " +
              s"($maxDocs docs) — drop the idf scale a decade per 10x docs"))
            .cast("long"),
          lit(0L))).as("n_docs"),
        col("tok_total"))
    tf.join(dfreq, "term")
      .crossJoin(broadcast(stats))
      .select(col("doc_id"), col("term"), col("tf"), col("dl"),
        expr("""((n_docs * 1000000) div df) * tf * 2200 div
               |(tf * 1000 + 300 + (900000 * dl) div ((tok_total * 1000) div n_docs))
               |""".stripMargin.replace("\n", " ")).as("term_score"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_terms"),
        sum(col("tf")).as("tf_total"),
        sum(col("term_score")).as("score"))
  }

  def qBm25(spark: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val scored = bm25Scored(spark, d)
    val w = Window.orderBy(col("score").desc, col("doc_id").asc)
    // Map-side prune before the global top-10 ranking (Relational
    // .localTopK): the single-partition window sees ≤ P·10 doc rows,
    // never the corpus-sized per-doc score table.
    graft.ops.Relational.localTopK(scored, 10,
      col("score").desc, col("doc_id").asc)
      .withColumn("rank", row_number().over(w).cast("int"))
      .filter(col("rank") <= 10)
      .orderBy(col("rank"))
  }

  /** q_skyline: 2-D Pareto front (dominance skyline) over documents — the
    * multi-criteria curation primitive: keep every document no other
    * document beats on BOTH axes (more tokens AND less punctuation, one
    * strictly). The classic skyline operator (Börzsönyi et al., ICDE'01)
    * re-expressed as two hash-aggs and one tiny window instead of the
    * textbook quadratic NOT EXISTS self-join:
    *
    *   p survives  ⟺  p.n_punct = min(n_punct | n_tok = p.n_tok)
    *               ∧  p.n_punct < min(n_punct | n_tok > p.n_tok)
    *
    * Scale shape: the per-document metrics are an in-row map stage; the
    * per-level minima partial-aggregate to ≤|distinct n_tok| rows (bounded
    * by the longest DOCUMENT, not the corpus — unlike a per-key global
    * rank); the running strict-min window runs over that level table only,
    * and levels broadcast back for the survivor filter. No corpus-sized
    * shuffle, sort, or self-join anywhere — the same answer the O(n²)
    * dominance join defines. Ties on both axes are mutually non-dominating
    * and all survive (the standard skyline contract). */
  def qSkyline(spark: SparkSession, d: String): DataFrame = {
    val m = Tables.spread(Tables.documents(spark, d))
      .select(col("doc_id"),
        size(tokens(col("text"))).cast("long").as("n_tok"),
        (length(col("text")) -
          length(regexp_replace(col("text"), "\\p{Punct}", "")))
          .cast("long").as("n_punct"))
    val lvl = m.groupBy(col("n_tok")).agg(min(col("n_punct")).as("lvl_min"))
    // Unpartitioned window over the LEVEL table: ≤ max-tokens-per-doc rows
    // regardless of corpus size (documented single-partition exception, the
    // q_vocab stance does not apply — this never grows with the corpus).
    val w = Window.orderBy(col("n_tok").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val lvls = lvl.withColumn("strict_min", min(col("lvl_min")).over(w))
    m.join(broadcast(lvls), Seq("n_tok"))
      .filter(col("n_punct") === col("lvl_min") &&
        (col("strict_min").isNull || col("n_punct") < col("strict_min")))
      .select(col("doc_id"), col("n_tok"), col("n_punct"))
      .orderBy(col("n_tok").desc, col("doc_id"))
  }

  /** q_sample_priority's sample size. */
  val PrioritySampleK = 1000

  /** q_sample_priority: weighted sampling without replacement by PRIORITY
    * SAMPLING (Duffield–Lund–Thorup, JACM'07): item i gets priority
    * qᵢ = wᵢ/uᵢ with uᵢ uniform in (0,1]; the top-k priorities form a
    * weight-biased sample with unbiased subset-sum estimators. The
    * deterministic, cross-engine-exact rendering: u = 60-bit md5 hash + 1
    * (the house hash family), and the priority is the exact integer
    * ⌊w·2⁴⁰ ÷ u⌋ — both engines truncate identically, ties break by
    * doc_id, so the sample is a pure function of the corpus. w = n_tok+1
    * (long docs proportionally likelier, +1 keeps empty docs sampleable);
    * w·2⁴⁰ stays < 2⁶³ for any document under 2²³ tokens.
    *
    * Scale shape: in-row map work (tokenize, hash, one integer divide),
    * then TakeOrdered(k) — per-partition top-k partials, never a global
    * sort. The one data-sized cost is the token count already paid by
    * every text query. */
  def qSamplePriority(spark: SparkSession, d: String): DataFrame = {
    val u = conv(substring(md5(col("doc_id").cast("string")), 1, 15), 16, 10)
      .cast("long") + lit(1L)
    Tables.spread(Tables.documents(spark, d))
      .select(col("doc_id"),
        (size(tokens(col("text"))) + 1).cast("long").as("w"),
        u.as("u"))
      .select(col("doc_id"), col("w"),
        expr("(w * 1099511627776) div u").as("priority"))
      .orderBy(col("priority").desc, col("doc_id"))
      .limit(PrioritySampleK)
  }

  /** q_ngram_lm's presentation size: the top contexts by occurrence count. */
  val NgramLmTopContexts = 30

  /** q_ngram_lm: a bigram language model trained from the corpus — the
    * classic cheap LM a data pipeline fits for perplexity-style quality
    * filtering (the trained counterpart of [[qLmScore]]'s fixed scorer).
    * Counts are exact: c(w1,w2) over adjacent lowercase letter-run token
    * pairs, c(w1) as the context marginal, add-one smoothing over the
    * successor vocabulary, and the conditional probability rendered in
    * 1e6 fixed point — `((c+1)·10⁶) div (c(w1)+V)` — so both engines
    * compute the identical integer (headroom: c ≤ 9.2×10¹² occurrences of
    * one bigram before the multiply leaves the Long range — ~46 % of a
    * 100 TB corpus's tokens on a single bigram; loud under ANSI
    * arithmetic, unreachable in practice). Output: for each of the
    * [[NgramLmTopContexts]] highest-marginal contexts, the argmax next
    * token with its count and smoothed probability.
    *
    * Scale shape: one corpus-sized explode into a map-side-combined hash
    * agg (the bigram table), everything after is bigram-table-sized — a
    * second hash agg for marginals, a per-context window (partitions are
    * successor-fan-out sized, never corpus-sized), a 1-row scalar attach
    * for V. The bigram table is materialized once and feeds all three
    * consumers. */
  def qNgramLm(spark: SparkSession, d: String): DataFrame = {
    val ts = regexp_extract_all(lower(col("text")), lit("[a-z]+"), lit(0))
    val bg = Tables.spread(Tables.documents(spark, d))
      .select(ts.as("ts"))
      .select(explode(when(size(col("ts")) >= 2,
        transform(sequence(lit(1), size(col("ts")) - 1),
          i => struct(element_at(col("ts"), i).as("w1"),
            element_at(col("ts"), i + 1).as("w2"))))
        .otherwise(array().cast("array<struct<w1:string,w2:string>>")))
        .as("b"))
      .select(col("b.w1"), col("b.w2"))
    val c2 = State.memo(bg.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c"))).df
    val c1 = c2.groupBy(col("w1")).agg(sum(col("c")).as("n"))
    val vocabDf = c2.agg(countDistinct(col("w2")).as("vocab"))
    val w = Window.partitionBy(col("w1")).orderBy(col("c").desc, col("w2").asc)
    c2.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1).drop("rn")
      .join(c1, "w1")
      .crossJoin(broadcast(vocabDf))
      .select(col("w1"), col("w2"), col("c"), col("n"),
        expr("((c + 1) * 1000000) div (n + vocab)").as("p_x1e6"))
      .orderBy(col("n").desc, col("w1").asc)
      .limit(NgramLmTopContexts)
  }

  /** q_shuffle_shard's shard capacity (documents per shard). */
  val ShardDocs = 64

  /** q_shuffle_shard: the deterministic global shuffle + fixed-size
    * sharding every training run performs before reading a corpus — each
    * document's position is its rank in (md5(doc_id), doc_id) order (a
    * pure function of the corpus: stable across runs, partitionings, and
    * engines), and shards are consecutive [[ShardDocs]]-document slices of
    * that order. Output is the per-shard manifest card (doc count, token
    * total, id checksum proving exact membership).
    *
    * Scale shape: the global rank reuses [[qVocab]]'s machinery — a range
    * exchange on the hash order plus `zipWithIndex` partition offsets —
    * so no stage ever holds more than one partition of the corpus (a
    * global `row_number` window would move everything to one task). The
    * range sort IS the product here: at 100 TB this is the one shuffle
    * the workload genuinely requires. */
  def qShuffleShard(spark: SparkSession, d: String): DataFrame = {
    val h = conv(substring(md5(col("doc_id").cast("string")), 1, 15), 16, 10)
      .cast("long")
    val docs = Tables.spread(Tables.documents(spark, d))
      .select(col("doc_id"), size(tokens(col("text"))).cast("long").as("n_tok"),
        h.as("h"))
    val sorted = docs
      .repartitionByRange(col("h").asc, col("doc_id").asc)
      .sortWithinPartitions(col("h").asc, col("doc_id").asc)
    val schema = sorted.schema
      .add("pos", org.apache.spark.sql.types.LongType, nullable = false)
    spark.createDataFrame(
      sorted.rdd.zipWithIndex.map { case (r, i) =>
        org.apache.spark.sql.Row.fromSeq(r.toSeq :+ i) },
      schema)
      .groupBy(expr(s"pos div $ShardDocs").as("shard"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("tok_total"),
        sum(col("doc_id")).as("id_checksum"))
      .orderBy(col("shard"))
  }

  /** q_dsir's hashed-feature space (buckets), selection size, and the
    * fixed-point probability scale. Resolution headroom: a bucket
    * probability renders as `((c+1)·10⁹) div (N+B)`, which stays ≥ 1 (and
    * the ⌊log₂⌋ weights stay informative) while the per-side token mass N
    * is below ~10⁹·c̄ — past that, raise the scale a decade per 10× tokens
    * (the q_pagerank SCALE rule). */
  val DsirBuckets = 256
  val DsirTopK = 100
  private val DsirScale = 1000000000L

  /** q_dsir: hashed n-gram importance resampling (Xie et al., "Data
    * Selection for Language Models via Importance Resampling",
    * NeurIPS'23) — the data-selection step that picks raw-corpus documents
    * whose hashed-feature distribution looks like a TARGET domain. Target
    * here = the `lang='en'` slice; features = lowercase letter-run
    * unigrams hashed into [[DsirBuckets]] buckets (the paper's hashed
    * n-gram generative model with n=1). Both bucket models are add-one
    * smoothed and rendered in 10⁹ fixed point, and the per-bucket log
    * ratio uses the house integer ⌊log₂⌋ (`length(bin(x))−1`, the
    * q_lm_score surprisal family) so the document importance weight
    * logw(d) = Σ_b n_b(d)·(⌊log₂ p̂_target(b)⌋ − ⌊log₂ p̂_raw(b)⌋) is exact
    * BIGINT arithmetic on both engines. Output: the [[DsirTopK]] documents
    * a resampler would keep, ranked by (logw desc, doc_id).
    *
    * Scale shape: ONE corpus token explode feeds a (doc, bucket) hash agg
    * (map-side combine collapses repeated tokens); the global bucket
    * models are a ≤[[DsirBuckets]]-row conditional aggregate of that table
    * (target mass via a lang filter inside the sum), broadcast back as a
    * 256-row weight table; the per-doc fold is a second hash agg; the
    * top-k is map-side pruned (localTopK) before the single-partition
    * rank. No corpus-sized shuffle beyond the one (doc,bucket) agg. */
  def qDsir(spark: SparkSession, d: String): DataFrame = {
    val toks = regexp_extract_all(lower(col("text")), lit("[a-z]+"), lit(0))
    val bucket = pmod(
      conv(substring(md5(col("tok")), 1, 8), 16, 10).cast("long"),
      lit(DsirBuckets.toLong))
    val db = State.memo(Tables.spread(Tables.documents(spark, d))
      .select(col("doc_id"), col("lang"), explode(toks).as("tok"))
      .select(col("doc_id"), col("lang"), bucket.as("b"))
      .groupBy(col("doc_id"), col("lang"), col("b"))
      .agg(count(lit(1)).as("n"))).df // feeds the bucket models AND the scoring join
    val model = db.groupBy(col("b"))
      .agg(sum(col("n")).as("cr"),
        sum(when(col("lang") === "en", col("n")).otherwise(lit(0L))).as("ct"))
    val mass = db.agg(sum(col("n")).as("nr"),
      sum(when(col("lang") === "en", col("n")).otherwise(lit(0L))).as("nt"))
    // ⌊log₂⌋ of the two fixed-point bucket probabilities; the weight is
    // their difference. 256 rows — always broadcast.
    val weights = model.crossJoin(broadcast(mass))
      .select(col("b"),
        ((length(bin(expr(s"((ct + 1) * $DsirScale) div (nt + $DsirBuckets)"))) - 1)
          - (length(bin(expr(s"((cr + 1) * $DsirScale) div (nr + $DsirBuckets)"))) - 1))
          .cast("long").as("w"))
    val scored = db.join(broadcast(weights), "b")
      .groupBy(col("doc_id"))
      .agg(max(col("lang")).as("lang"), sum(col("n")).as("n_feat"),
        sum(col("n") * col("w")).as("logw"))
    val rw = Window.orderBy(col("logw").desc, col("doc_id").asc)
    graft.ops.Relational.localTopK(scored, DsirTopK,
      col("logw").desc, col("doc_id").asc)
      .withColumn("rank", row_number().over(rw).cast("int"))
      .filter(col("rank") <= DsirTopK)
      .orderBy(col("rank"))
  }

  /** q_char_entropy: per-document character-distribution entropy — the
    * cheap gibberish/boilerplate signal a crawl filter computes next to
    * [[qQualityScore]] (low bits/char = repetitive boilerplate, high =
    * random noise; the compression-ratio proxy without a compressor).
    * Integerized: per character class c with count k in a doc of n chars,
    * the house ⌊log₂⌋ code length is `length(bin(n div k)) − 1`, and
    * total_bits = Σ k·⌊log₂(n div k)⌋ is exact BIGINT on both engines;
    * bits_per_char is ONE IEEE division of two exact integers (the
    * q_lm_score avg_surprisal pattern). Documents with empty text are
    * skipped (no character distribution to measure — documented contract).
    *
    * Scale shape: in-row position expansion → one (doc, char) hash agg
    * (map-side combine collapses repeats before the exchange) → one
    * per-doc agg. Nothing wider than the corpus char stream, no window. */
  def qCharEntropy(spark: SparkSession, d: String): DataFrame = {
    // The char stream never leaves the row: graft_char_counts walks the
    // code points once and emits one row per char CLASS (alphabet-bounded
    // per doc). The old composed form (transform(sequence) → explode →
    // (doc, ch) hash agg + per-doc window) materialized one exploded row
    // per CHARACTER of the corpus — 167 M rows and a reproducible 8.6×
    // CPU-per-row blowup at the 100× leg (NOTES r11 cont. 5); this shape
    // is one scan, one alphabet-sized explode, zero windows (n is just
    // length(text)), and the same exact integers downstream.
    Tables.spread(Tables.documents(spark, d))
      .filter(length(col("text")) > 0)
      .select(col("doc_id"), length(col("text")).cast("long").as("n"),
        explode(call_function("graft_char_counts", col("text"))).as("c"))
      .select(col("doc_id"), col("n"), col("c.k").as("k"))
      .groupBy(col("doc_id"))
      .agg(max(col("n")).as("n_chars_counted"),
        count(lit(1)).as("distinct_chars"),
        sum(col("k") * (length(bin(expr("n div k"))) - 1)).as("total_bits"))
      .select(col("doc_id"), col("n_chars_counted"), col("distinct_chars"),
        col("total_bits"),
        (col("total_bits").cast("double") / col("n_chars_counted"))
          .as("bits_per_char"))
      .orderBy(col("doc_id"))
  }

  /** q_pmi's support floor and output size. */
  val PmiMinCount = 5
  val PmiTopK = 50

  /** q_pmi: top collocations by pointwise mutual information — the
    * collocation-mining statistic (Church & Hanks '90) a tokenizer/vocab
    * design pass runs over a corpus ("new york"-style units that deserve
    * one token). PMI = log p(w1,w2)/(p(w1)·p(w2)) over adjacent-bigram
    * events; since log is monotone the RANKING only needs the exact
    * rational `(c₁₂·N·10⁶) div (c₁·c₂)` — computed in DECIMAL(38,0)
    * (HUGEINT on DuckDB) so the triple product never wraps (c₁₂·N·10⁶ ≤
    * 10³⁰ at a 10¹² bigram corpus, headroom to 10³⁸), with the quotient
    * back in BIGINT (≤ 10⁶·N/[[PmiMinCount]] — Long-safe to N ≈ 4.6×10¹⁶
    * bigrams). The [[PmiMinCount]] support floor is the standard guard
    * against hapax pairs dominating (PMI's known low-count bias).
    *
    * Scale shape: the one corpus-sized stage is the bigram explode into a
    * map-side-combined hash agg ([[qNgramLm]]'s shape); marginals are
    * bigram-table-sized aggs joined back (conditional broadcast — the
    * marginal tables are vocabulary-sized, bounded by the bigram memo's
    * observed rows); the top-k is map-side pruned before the
    * single-partition rank. */
  def qPmi(spark: SparkSession, d: String): DataFrame = {
    val ts = regexp_extract_all(lower(col("text")), lit("[a-z]+"), lit(0))
    val bg = Tables.spread(Tables.documents(spark, d))
      .select(ts.as("ts"))
      .select(explode(when(size(col("ts")) >= 2,
        transform(sequence(lit(1), size(col("ts")) - 1),
          i => struct(element_at(col("ts"), i).as("w1"),
            element_at(col("ts"), i + 1).as("w2"))))
        .otherwise(array().cast("array<struct<w1:string,w2:string>>")))
        .as("b"))
      .select(col("b.w1"), col("b.w2"))
    // c2 feeds both marginals and the scoring join.
    val c2 = State.memo(bg.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12")))
    val left = graft.ops.Broadcasts.maybeBroadcast(
      c2.df.groupBy(col("w1")).agg(sum(col("c12")).as("c1")), c2.rows)
    val right = graft.ops.Broadcasts.maybeBroadcast(
      c2.df.groupBy(col("w2")).agg(sum(col("c12")).as("c2")), c2.rows)
    val total = c2.df.agg(sum(col("c12")).as("n_bi"))
    val scored = c2.df.filter(col("c12") >= PmiMinCount)
      .join(left, "w1").join(right, "w2")
      .crossJoin(broadcast(total))
      .select(col("w1"), col("w2"), col("c12"), col("c1"), col("c2"),
        expr("""(CAST(c12 AS DECIMAL(38,0)) * n_bi * 1000000)
               | div (CAST(c1 AS DECIMAL(38,0)) * c2)"""
          .stripMargin.replace("\n", " ")).as("pmi_x1e6"))
    val rw = Window.orderBy(col("pmi_x1e6").desc, col("w1").asc, col("w2").asc)
    graft.ops.Relational.localTopK(scored, PmiTopK,
      col("pmi_x1e6").desc, col("w1").asc, col("w2").asc)
      .withColumn("rank", row_number().over(rw).cast("int"))
      .filter(col("rank") <= PmiTopK)
      .orderBy(col("rank"))
  }

  /** q_cdc_chunk's boundary modulus: a token closes its chunk when its
    * 32-bit md5 prefix ≡ 0 (mod 16) — expected chunk length 16 tokens. */
  val CdcMask = 16L

  /** q_cdc_chunk: content-defined chunking — the shift-resistant
    * deduplication primitive (Rabin fingerprint boundaries; the
    * FastCDC/LBFS family, here at word granularity): a chunk boundary
    * falls AFTER every token whose hash ≡ 0 (mod [[CdcMask]]), so
    * inserting or deleting text moves only the chunks it touches — unlike
    * [[qChunking]]'s fixed windows, where one inserted word re-hashes
    * every downstream chunk. Output: one row per chunk with its md5 and
    * the corpus-wide occurrence count of that exact chunk (the dedup
    * signal). Empty documents produce no chunks.
    *
    * Scale shape: boundary flags are in-row md5s inside the token array;
    * the running boundary count (= chunk id) is a per-DOCUMENT window —
    * partitions are document-length-bounded, never corpus-sized; chunk
    * reassembly is one (doc, chunk) hash agg ordering tokens inside the
    * group; the occurrence count is a chunk-table-sized agg shuffled on
    * the 128-bit digest (uniform — no skew). */
  def qCdcChunk(spark: SparkSession, d: String): DataFrame = {
    // Tokens never leave the row: graft_cdc_chunks splits the token array
    // at the md5 boundaries in one fused pass, so the plan explodes one
    // row per CHUNK (≈ 1/16th of the tokens) instead of one per token,
    // and drops the per-doc running-sum window AND the
    // array_sort(collect_list) reassembly agg that pushed cpu/row
    // superlinear at the 100× leg (NOTES r11 cont. 5-6). chunk_id is the
    // split position — identical to the old running boundary count.
    val chunks = State.memo(Tables.spread(Tables.documents(spark, d))
      .select(col("doc_id"),
        posexplode(call_function("graft_cdc_chunks", tokens(col("text"))))
          .as(Seq("chunk_id", "c")))
      .select(col("doc_id"), col("chunk_id").cast("long").as("chunk_id"),
        md5(col("c.chunk")).as("chunk_hash"),
        col("c.n").as("n_chunk_tokens"))).df // feeds the occurrence agg AND the final join
    val occ = chunks.groupBy(col("chunk_hash"))
      .agg(count(lit(1)).as("n_occurrences"))
    chunks.join(occ, "chunk_hash")
      .select(col("doc_id"), col("chunk_id"), col("chunk_hash"),
        col("n_chunk_tokens"), col("n_occurrences"))
      .orderBy(col("doc_id"), col("chunk_id"))
  }

  /** q_ks_drift's target slice: the distribution-shift test compares this
    * language's documents against the rest of the corpus. */
  val KsSliceLang = "en"

  /** q_ks_drift: exact two-sample Kolmogorov–Smirnov distance between the
    * token-count distributions of two corpus slices (here [[KsSliceLang]]
    * vs the rest) — the drift test a pipeline runs between two crawl
    * snapshots or corpus mixtures before retraining. D = max_x
    * |F_A(x) − F_B(x)| is computed EXACTLY as the integer numerator
    * max |cumA(x)·n_B − cumB(x)·n_A| over the observed support, so both
    * engines agree bit-for-bit on the statistic, its argmax location
    * (ties to the smallest x), and the 10⁶ fixed-point rendering; the
    * IEEE `ks` column divides last in pinned order. Long headroom:
    * cum·n ≤ n_A·n_B — safe to ~3×10⁹ docs per slice; the fixed-point
    * quotient goes through DECIMAL(38,0)/HUGEINT like [[qPmi]].
    *
    * Scale shape: one corpus-sized stage (the in-row token count into a
    * map-side-combined hash agg on x); the CDF window runs over the
    * VALUE-DOMAIN table — distinct token counts, bounded by the longest
    * document, never corpus-sized (the [[qCharEntropy]] alphabet-bounded
    * stance); the argmax is a 1-row TakeOrdered. */
  def qKsDrift(spark: SparkSession, d: String): DataFrame = {
    val cnt = Tables.spread(Tables.documents(spark, d))
      .select(size(tokens(col("text"))).cast("long").as("x"),
        (col("lang") === KsSliceLang).as("in_a"))
      .groupBy(col("x"))
      .agg(count(when(col("in_a"), 1)).as("ca"),
        count(when(!col("in_a"), 1)).as("cb"))
    val tot = cnt.agg(sum(col("ca")).as("n_a"), sum(col("cb")).as("n_b"))
    val w = Window.orderBy(col("x"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cnt
      .withColumn("cum_a", sum(col("ca")).over(w))
      .withColumn("cum_b", sum(col("cb")).over(w))
      .crossJoin(broadcast(tot))
      .select(col("x"), col("n_a"), col("n_b"),
        abs(col("cum_a") * col("n_b") - col("cum_b") * col("n_a")).as("d_num"))
      .orderBy(col("d_num").desc, col("x").asc)
      .limit(1)
      .select(col("n_a"), col("n_b"), col("x").as("at_x"), col("d_num"),
        expr("""CAST((CAST(d_num AS DECIMAL(38,0)) * 1000000)
               | div (CAST(n_a AS DECIMAL(38,0)) * n_b) AS BIGINT)"""
          .stripMargin.replace("\n", " ")).as("ks_x1e6"),
        (col("d_num").cast("double") / col("n_a").cast("double") /
          col("n_b").cast("double")).as("ks"))
  }

  /** q_chisq_drift's binning: 10 fixed-width token-count bins of
    * [[ChisqBinWidth]] tokens, the last one open-ended. */
  val ChisqBinWidth = 32L
  val ChisqBins = 10L

  /** q_chisq_drift: the binned complement of [[qKsDrift]] — a two-sample
    * chi-square homogeneity table between the [[KsSliceLang]] slice and
    * the rest, with PER-BIN attribution (KS reports only the worst
    * deviation point; drift triage wants to know WHICH length bins moved).
    * Everything is an exact rational: expected counts E = n_bin·n_slice/N
    * and contributions (O−E)²/E are rendered in 10⁶ fixed point via the
    * algebraic form (O·N − n_bin·n_slice)²·10⁶ div (n_bin·n_slice·N) —
    * DECIMAL(38,0)/HUGEINT keeps the squared numerator exact to
    * corpus ≈ 10⁸ docs (headroom: (O·N)² ≤ 10³², ×10⁶ ≤ 10³⁸), so both
    * engines agree bit-for-bit on every cell.
    *
    * Scale shape: one corpus-sized stage (in-row token count + bin into a
    * map-side-combined hash agg); everything downstream is 10 rows. */
  def qChisqDrift(spark: SparkSession, d: String): DataFrame = {
    val cnt = Tables.spread(Tables.documents(spark, d))
      .select(size(tokens(col("text"))).cast("long").as("n_tok"),
        (col("lang") === KsSliceLang).as("in_a"))
      // Column `/` on longs is DOUBLE division in Spark — bin with `div`
      // (the q_fuzzy_join lesson, SURVEY §15.6).
      .select(least(expr(s"n_tok div $ChisqBinWidth"), lit(ChisqBins - 1))
        .cast("long").as("bin"), col("in_a"))
      .groupBy(col("bin"))
      .agg(count(when(col("in_a"), 1)).as("ca"),
        count(when(!col("in_a"), 1)).as("cb"))
    val tot = cnt.agg(sum(col("ca")).as("n_a"), sum(col("cb")).as("n_b"))
    def contrib(o: String, slice: String): Column =
      expr(s"""CAST((CAST($o * (n_a + n_b) - (ca + cb) * $slice AS DECIMAL(38,0))
              | * ($o * (n_a + n_b) - (ca + cb) * $slice) * 1000000)
              | div (CAST(ca + cb AS DECIMAL(38,0)) * $slice * (n_a + n_b))
              | AS BIGINT)""".stripMargin.replace("\n", " "))
    cnt.crossJoin(broadcast(tot))
      .select(col("bin"), col("ca"), col("cb"), col("n_a"), col("n_b"),
        expr("""CAST((CAST(ca + cb AS DECIMAL(38,0)) * n_a * 1000000)
               | div (n_a + n_b) AS BIGINT)"""
          .stripMargin.replace("\n", " ")).as("exp_a_x1e6"),
        (contrib("ca", "n_a") + contrib("cb", "n_b")).as("contrib_x1e6"))
      .orderBy(col("bin"))
  }

  /** q_token_budget's plan constants: the training budget as a multiple of
    * the corpus, and the per-source epoch ceiling (the repetition cap of
    * the data-constrained-scaling literature — Muennighoff et al. '23 puts
    * the useful-repetition knee near 4 epochs; 8 is the hard stop). */
  val TokenBudgetX = 4L
  val TokenMaxEpochs = 8L

  /** q_token_budget: the training-run data planner — given per-source
    * token inventories and a global budget of [[TokenBudgetX]]× the
    * corpus, allocate tokens per source proportionally to a quality
    * weight (here type-token ratio — lexical diversity, the cheap
    * quality proxy) × inventory, capped at [[TokenMaxEpochs]] epochs of
    * any one source; report the per-source allocation and its epoch
    * factor (Σ alloc vs the budget is the stranded leftover — the signal
    * to crawl more of the capped sources). One-shot allocation — the
    * honest primitive under a cap (iterative water-filling redistributes
    * the leftover but hides that it existed). All arithmetic exact:
    * weights and epoch factors in 10⁶ fixed point, the allocation share
    * through DECIMAL(38,0)/HUGEINT (B·w·tok ≤ 10³⁰ at a 10¹²-token
    * corpus — headroom to 10³⁸).
    *
    * Scale shape: one corpus-sized (source, token) distinct-ish hash agg
    * (the vocab shape) for the type-token weights; the plan itself is
    * source-domain-sized arithmetic under a broadcast totals row. */
  def qTokenBudget(spark: SparkSession, d: String): DataFrame = {
    val tok = Tables.spread(Tables.documents(spark, d))
      .select(col("source"), explode(tokens(lower(col("text")))).as("tok"))
    val src = State.memo(tok.groupBy(col("source")) // feeds the totals AND the plan
      .agg(count(lit(1)).as("tokens"),
        countDistinct(col("tok")).as("distinct_tokens"))
      .withColumn("ttr_x1e6", expr("distinct_tokens * 1000000 div tokens"))).df
    val tot = src.agg(sum(col("tokens")).as("tok_total"),
      sum(col("ttr_x1e6").cast("decimal(38,0)") * col("tokens"))
        .as("wt_total"))
    src.crossJoin(broadcast(tot))
      .select(col("source"), col("tokens"), col("distinct_tokens"),
        col("ttr_x1e6"),
        least(col("tokens") * TokenMaxEpochs,
          expr(s"""CAST((CAST(tok_total AS DECIMAL(38,0)) * $TokenBudgetX
                  | * ttr_x1e6 * tokens) div wt_total AS BIGINT)"""
            .stripMargin.replace("\n", " "))).as("alloc_tokens"))
      .withColumn("epochs_x1e6", expr("alloc_tokens * 1000000 div tokens"))
      .orderBy(col("source"))
  }

  val oracles: Map[String, String] = Map(
    "q_token_budget" ->
      s"""WITH tk AS (
         |  SELECT source,
         |    unnest(list_filter(string_split_regex(lower(text), '\\s+'),
         |                       x -> len(x) > 0)) AS tok
         |  FROM documents),
         |src AS MATERIALIZED (
         |  SELECT source, count(*) AS tokens,
         |    count(DISTINCT tok) AS distinct_tokens,
         |    (count(DISTINCT tok) * 1000000) // count(*) AS ttr_x1e6
         |  FROM tk GROUP BY source),
         |tot AS (
         |  SELECT CAST(sum(tokens) AS BIGINT) AS tok_total,
         |    CAST(sum(CAST(ttr_x1e6 AS HUGEINT) * tokens) AS HUGEINT)
         |      AS wt_total
         |  FROM src)
         |SELECT source, tokens, distinct_tokens, ttr_x1e6,
         |  least(tokens * $TokenMaxEpochs,
         |    CAST((CAST(tok_total AS HUGEINT) * $TokenBudgetX * ttr_x1e6
         |          * tokens) // wt_total AS BIGINT)) AS alloc_tokens,
         |  (least(tokens * $TokenMaxEpochs,
         |    CAST((CAST(tok_total AS HUGEINT) * $TokenBudgetX * ttr_x1e6
         |          * tokens) // wt_total AS BIGINT)) * 1000000) // tokens
         |    AS epochs_x1e6
         |FROM src, tot ORDER BY source""".stripMargin,
    "q_chisq_drift" ->
      s"""WITH t AS (
         |  SELECT least(CAST(len(list_filter(string_split_regex(text, '\\s+'),
         |                                    x -> len(x) > 0)) AS BIGINT)
         |               // $ChisqBinWidth, ${ChisqBins - 1}) AS bin,
         |    (lang = '$KsSliceLang') AS in_a
         |  FROM documents),
         |cnt AS (
         |  SELECT bin, count(*) FILTER (WHERE in_a) AS ca,
         |    count(*) FILTER (WHERE NOT in_a) AS cb
         |  FROM t GROUP BY bin),
         |tot AS (SELECT CAST(sum(ca) AS BIGINT) AS n_a,
         |               CAST(sum(cb) AS BIGINT) AS n_b FROM cnt)
         |SELECT bin, ca, cb, n_a, n_b,
         |  CAST((CAST(ca + cb AS HUGEINT) * n_a * 1000000) // (n_a + n_b)
         |    AS BIGINT) AS exp_a_x1e6,
         |  CAST(
         |    (CAST(ca * (n_a + n_b) - (ca + cb) * n_a AS HUGEINT)
         |     * (ca * (n_a + n_b) - (ca + cb) * n_a) * 1000000)
         |    // (CAST(ca + cb AS HUGEINT) * n_a * (n_a + n_b))
         |    + (CAST(cb * (n_a + n_b) - (ca + cb) * n_b AS HUGEINT)
         |       * (cb * (n_a + n_b) - (ca + cb) * n_b) * 1000000)
         |    // (CAST(ca + cb AS HUGEINT) * n_b * (n_a + n_b))
         |    AS BIGINT) AS contrib_x1e6
         |FROM cnt, tot ORDER BY bin""".stripMargin,
    "q_ks_drift" ->
      s"""WITH t AS (
         |  SELECT CAST(len(list_filter(string_split_regex(text, '\\s+'),
         |                              x -> len(x) > 0)) AS BIGINT) AS x,
         |    (lang = '$KsSliceLang') AS in_a
         |  FROM documents),
         |cnt AS (
         |  SELECT x, count(*) FILTER (WHERE in_a) AS ca,
         |    count(*) FILTER (WHERE NOT in_a) AS cb
         |  FROM t GROUP BY x),
         |tot AS (SELECT CAST(sum(ca) AS BIGINT) AS n_a,
         |               CAST(sum(cb) AS BIGINT) AS n_b FROM cnt),
         |cum AS (
         |  SELECT x, CAST(sum(ca) OVER (ORDER BY x) AS BIGINT) AS cum_a,
         |    CAST(sum(cb) OVER (ORDER BY x) AS BIGINT) AS cum_b
         |  FROM cnt),
         |dd AS (SELECT x, abs(cum_a * n_b - cum_b * n_a) AS d_num, n_a, n_b
         |       FROM cum, tot)
         |SELECT n_a, n_b, x AS at_x, d_num,
         |  CAST((CAST(d_num AS HUGEINT) * 1000000)
         |    // (CAST(n_a AS HUGEINT) * n_b) AS BIGINT) AS ks_x1e6,
         |  CAST(d_num AS DOUBLE) / CAST(n_a AS DOUBLE) / CAST(n_b AS DOUBLE)
         |    AS ks
         |FROM dd ORDER BY d_num DESC, x LIMIT 1""".stripMargin,
    "q_dsir" ->
      s"""WITH tok AS (
         |  SELECT doc_id, lang,
         |    unnest(regexp_extract_all(lower(text), '[a-z]+')) AS tok
         |  FROM documents),
         |db AS MATERIALIZED (
         |  SELECT doc_id, lang,
         |    ('0x' || substr(md5(tok), 1, 8))::BIGINT % $DsirBuckets AS b,
         |    count(*) AS n
         |  FROM tok GROUP BY doc_id, lang, b),
         |model AS (
         |  SELECT b, CAST(sum(n) AS BIGINT) AS cr,
         |    CAST(coalesce(sum(n) FILTER (WHERE lang = 'en'), 0) AS BIGINT) AS ct
         |  FROM db GROUP BY b),
         |mass AS (
         |  SELECT CAST(sum(n) AS BIGINT) AS nr,
         |    CAST(coalesce(sum(n) FILTER (WHERE lang = 'en'), 0) AS BIGINT) AS nt
         |  FROM db),
         |wt AS (
         |  SELECT b,
         |    CAST((length(bin(((ct + 1) * $DsirScale) // (nt + $DsirBuckets))) - 1)
         |       - (length(bin(((cr + 1) * $DsirScale) // (nr + $DsirBuckets))) - 1)
         |      AS BIGINT) AS w
         |  FROM model, mass),
         |scored AS (
         |  SELECT doc_id, max(lang) AS lang, CAST(sum(n) AS BIGINT) AS n_feat,
         |    CAST(sum(n * w) AS BIGINT) AS logw
         |  FROM db JOIN wt USING (b) GROUP BY doc_id)
         |SELECT doc_id, lang, n_feat, logw,
         |  CAST(row_number() OVER (ORDER BY logw DESC, doc_id) AS INT) AS rank
         |FROM scored ORDER BY rank LIMIT $DsirTopK""".stripMargin,
    "q_char_entropy" ->
      """WITH t AS (SELECT doc_id, text FROM documents WHERE length(text) > 0),
        |ch AS (SELECT doc_id, substr(text, CAST(i AS INT), 1) AS ch
        |       FROM t, unnest(range(1, length(text) + 1)) r(i)),
        |k AS (SELECT doc_id, ch, count(*) AS k FROM ch GROUP BY doc_id, ch),
        |n AS (SELECT doc_id, k,
        |        CAST(sum(k) OVER (PARTITION BY doc_id) AS BIGINT) AS n
        |      FROM k)
        |SELECT doc_id,
        |  max(n) AS n_chars_counted,
        |  count(*) AS distinct_chars,
        |  CAST(sum(k * (length(bin(n // k)) - 1)) AS BIGINT) AS total_bits,
        |  CAST(CAST(sum(k * (length(bin(n // k)) - 1)) AS BIGINT) AS DOUBLE)
        |    / max(n) AS bits_per_char
        |FROM n GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q_pmi" ->
      s"""WITH tk AS MATERIALIZED (
         |  SELECT regexp_extract_all(lower(text), '[a-z]+') AS ts
         |  FROM documents),
         |bg AS (SELECT ts[i] AS w1, ts[i+1] AS w2
         |       FROM tk, unnest(range(1, len(ts))) AS t(i)),
         |cb AS MATERIALIZED (
         |  SELECT w1, w2, count(*) AS c12 FROM bg GROUP BY w1, w2),
         |cl AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1 FROM cb GROUP BY w1),
         |crr AS (SELECT w2, CAST(sum(c12) AS BIGINT) AS c2 FROM cb GROUP BY w2),
         |tot AS (SELECT CAST(sum(c12) AS BIGINT) AS n_bi FROM cb),
         |s AS (
         |  SELECT cb.w1, cb.w2, cb.c12, cl.c1, crr.c2,
         |    CAST((CAST(cb.c12 AS HUGEINT) * tot.n_bi * 1000000)
         |      // (CAST(cl.c1 AS HUGEINT) * crr.c2) AS BIGINT) AS pmi_x1e6
         |  FROM cb JOIN cl USING (w1) JOIN crr USING (w2) CROSS JOIN tot
         |  WHERE cb.c12 >= $PmiMinCount)
         |SELECT w1, w2, c12, c1, c2, pmi_x1e6,
         |  CAST(row_number() OVER (ORDER BY pmi_x1e6 DESC, w1, w2) AS INT) AS rank
         |FROM s ORDER BY rank LIMIT $PmiTopK""".stripMargin,
    "q_cdc_chunk" ->
      s"""WITH t AS MATERIALIZED (
         |  SELECT doc_id,
         |    list_filter(string_split_regex(text, '\\s+'), x -> len(x) > 0) AS toks
         |  FROM documents),
         |tok AS (
         |  SELECT doc_id, i - 1 AS pos, toks[i] AS tok,
         |    CASE WHEN ('0x' || substr(md5(toks[i]), 1, 8))::BIGINT % $CdcMask = 0
         |      THEN 1 ELSE 0 END AS cut
         |  FROM t, unnest(range(1, len(toks) + 1)) r(i)),
         |ck AS (
         |  SELECT doc_id, pos, tok,
         |    CAST(coalesce(sum(cut) OVER (PARTITION BY doc_id ORDER BY pos
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
         |      AS chunk_id
         |  FROM tok),
         |chunks AS MATERIALIZED (
         |  SELECT doc_id, chunk_id, count(*) AS n_chunk_tokens,
         |    md5(string_agg(tok, ' ' ORDER BY pos)) AS chunk_hash
         |  FROM ck GROUP BY doc_id, chunk_id),
         |occ AS (SELECT chunk_hash, count(*) AS n_occurrences
         |        FROM chunks GROUP BY chunk_hash)
         |SELECT doc_id, chunk_id, chunk_hash, n_chunk_tokens, n_occurrences
         |FROM chunks JOIN occ USING (chunk_hash)
         |ORDER BY doc_id, chunk_id""".stripMargin,
    "q_ngram_lm" ->
      s"""WITH tk AS MATERIALIZED (
         |  SELECT regexp_extract_all(lower(text), '[a-z]+') AS ts
         |  FROM documents),
         |bg AS (SELECT ts[i] AS w1, ts[i+1] AS w2
         |       FROM tk, unnest(range(1, len(ts))) AS t(i)),
         |c2 AS MATERIALIZED (
         |  SELECT w1, w2, count(*) AS c FROM bg GROUP BY w1, w2),
         |c1 AS (SELECT w1, CAST(sum(c) AS BIGINT) AS n FROM c2 GROUP BY w1),
         |v AS (SELECT count(DISTINCT w2) AS vocab FROM c2),
         |top AS (SELECT w1, w2, c,
         |  row_number() OVER (PARTITION BY w1 ORDER BY c DESC, w2) AS rn
         |  FROM c2)
         |SELECT t.w1, t.w2, t.c, c1.n,
         |  ((t.c + 1) * 1000000) // (c1.n + (SELECT vocab FROM v)) AS p_x1e6
         |FROM top t JOIN c1 USING (w1) WHERE t.rn = 1
         |ORDER BY c1.n DESC, t.w1 LIMIT $NgramLmTopContexts""".stripMargin,
    "q_shuffle_shard" ->
      s"""WITH t AS MATERIALIZED (
         |  SELECT doc_id,
         |    CAST(len(list_filter(string_split_regex(text, '\\s+'),
         |                         x -> len(x) > 0)) AS BIGINT) AS n_tok,
         |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS h
         |  FROM documents),
         |p AS (SELECT *, row_number() OVER (ORDER BY h, doc_id) - 1 AS pos
         |      FROM t)
         |SELECT pos // $ShardDocs AS shard, count(*) AS n_docs,
         |  CAST(sum(n_tok) AS BIGINT) AS tok_total,
         |  CAST(sum(doc_id) AS BIGINT) AS id_checksum
         |FROM p GROUP BY shard ORDER BY shard""".stripMargin,
    "q_skyline" ->
      """WITH t AS MATERIALIZED (
        |  SELECT doc_id,
        |    CAST(len(list_filter(string_split_regex(text, '\s+'),
        |                         x -> len(x) > 0)) AS BIGINT) AS n_tok,
        |    CAST(length(text) -
        |         length(regexp_replace(text, '[[:punct:]]', '', 'g'))
        |         AS BIGINT) AS n_punct
        |  FROM documents),
        |lvl AS (SELECT n_tok, min(n_punct) AS lvl_min FROM t GROUP BY n_tok),
        |lvl2 AS (
        |  SELECT n_tok, lvl_min,
        |    min(lvl_min) OVER (ORDER BY n_tok DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS strict_min
        |  FROM lvl)
        |SELECT t.doc_id, t.n_tok, t.n_punct
        |FROM t JOIN lvl2 USING (n_tok)
        |WHERE t.n_punct = lvl2.lvl_min
        |  AND (lvl2.strict_min IS NULL OR t.n_punct < lvl2.strict_min)
        |ORDER BY t.n_tok DESC, t.doc_id""".stripMargin,
    "q_sample_priority" ->
      s"""WITH t AS (
         |  SELECT doc_id,
         |    CAST(len(list_filter(string_split_regex(text, '\\s+'),
         |                         x -> len(x) > 0)) + 1 AS BIGINT) AS w,
         |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT + 1 AS u
         |  FROM documents)
         |SELECT doc_id, w, (w * 1099511627776) // u AS priority
         |FROM t ORDER BY priority DESC, doc_id LIMIT $PrioritySampleK""".stripMargin,
    "q_pack_sequences" ->
      """WITH t AS MATERIALIZED (
        |  SELECT doc_id, doc_id // 100 AS shard,
        |    CAST(len(list_filter(string_split_regex(text, '\s+'),
        |                         x -> len(x) > 0)) AS BIGINT) AS n_tok
        |  FROM documents),
        |c AS MATERIALIZED (
        |  SELECT doc_id, shard, n_tok,
        |    sum(n_tok) OVER (PARTITION BY shard ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM t)
        |SELECT shard, CAST((cum - n_tok) // 512 AS BIGINT) AS bin,
        |  count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS tok_total,
        |  min(doc_id) AS first_doc, max(doc_id) AS last_doc
        |FROM c GROUP BY shard, bin ORDER BY shard, bin""".stripMargin,
    "q_redact" ->
      """SELECT c_custkey,
        |  regexp_replace(c_name, '[0-9]+', '<NUM>', 'g') AS redacted,
        |  CAST(len(regexp_extract_all(c_name, '[0-9]+')) AS BIGINT) AS n_hits,
        |  substr(md5(c_name), 1, 12) AS pseudonym
        |FROM customer ORDER BY c_custkey""".stripMargin,
    "q_sample_stratified" ->
      """WITH t AS MATERIALIZED (
        |  SELECT doc_id, lang,
        |    count(*) OVER (PARTITION BY lang) AS n,
        |    row_number() OVER (PARTITION BY lang
        |      ORDER BY ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 7))::BIGINT,
        |               doc_id) AS rn
        |  FROM documents)
        |SELECT lang, CAST(max(n) AS BIGINT) AS n_docs, count(*) AS n_train,
        |  CAST(sum(doc_id) AS BIGINT) AS id_checksum
        |FROM t WHERE rn <= (n + 4) // 5
        |GROUP BY lang ORDER BY lang""".stripMargin,
    "q_vocab" ->
      """WITH tk AS MATERIALIZED (
        |  SELECT doc_id,
        |    unnest(regexp_extract_all(text, '[a-z]+|[A-Z]+|[0-9]+|[^a-zA-Z0-9\s]')) AS tok
        |  FROM documents)
        |SELECT tok, count(*) AS tf, count(DISTINCT doc_id) AS df,
        |  CAST(row_number() OVER (ORDER BY count(*) DESC, tok) AS INT) AS rank
        |FROM tk GROUP BY tok ORDER BY rank""".stripMargin,
    // Same fixed-point pipeline as qBm25: idf (N·10⁶)//df, length norm
    // 300 + (900000·dl)//avgdl_x1000, per-term (idf·tf·2200)//(tf·1000+norm).
    // Every DuckDB sum that feeds arithmetic is CAST back to BIGINT (window
    // and group sums widen to HUGEINT — the q_pack_sequences trap).
    "q_bm25" ->
      """WITH t AS MATERIALIZED (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0) AS toks
        |  FROM documents),
        |hits AS (
        |  SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl, unnest(toks) AS term
        |  FROM t),
        |tf AS (
        |  SELECT doc_id, dl, term, count(*) AS tf FROM hits
        |  WHERE term IN ('spark', 'hash', 'window', 'merge', 'vector')
        |  GROUP BY doc_id, dl, term),
        |dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
        |s AS (SELECT count(*) AS n_docs,
        |             CAST(sum(CAST(len(toks) AS BIGINT)) AS BIGINT) AS tok_total
        |      FROM t),
        |scored AS (
        |  SELECT tf.doc_id,
        |    ((((s.n_docs * 1000000) // dfq.df) * tf.tf * 2200) //
        |     (tf.tf * 1000 + 300 +
        |      (900000 * tf.dl) // ((s.tok_total * 1000) // s.n_docs))) AS term_score,
        |    tf.tf
        |  FROM tf JOIN dfq ON tf.term = dfq.term CROSS JOIN s),
        |agg AS (
        |  SELECT doc_id, count(*) AS n_terms,
        |    CAST(sum(tf) AS BIGINT) AS tf_total,
        |    CAST(sum(term_score) AS BIGINT) AS score
        |  FROM scored GROUP BY doc_id)
        |SELECT doc_id, n_terms, tf_total, score,
        |  CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS INT) AS rank
        |FROM agg ORDER BY rank LIMIT 10""".stripMargin,
    "q_tfidf" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0) AS toks
        |  FROM documents),
        |tf AS (
        |  SELECT doc_id, term, count(*) AS tf FROM (
        |    SELECT doc_id, unnest(toks) AS term FROM t)
        |  GROUP BY doc_id, term),
        |dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
        |n AS (SELECT count(*) AS n_docs FROM documents),
        |s AS (
        |  SELECT tf.doc_id, tf.term, tf.tf,
        |    tf.tf * ((n.n_docs * 1000000) // dfq.df) AS score
        |  FROM tf JOIN dfq ON tf.term = dfq.term CROSS JOIN n),
        |ranked AS (
        |  SELECT doc_id, term, tf, score,
        |    CAST(row_number() OVER (PARTITION BY doc_id
        |                            ORDER BY score DESC, term) AS INT) AS rank
        |  FROM s)
        |SELECT doc_id, term, tf, score, rank FROM ranked
        |WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin,
    "q_sample_hash" ->
      """SELECT doc_id, lang, n_chars FROM documents
        |WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 < 10
        |ORDER BY doc_id""".stripMargin,
    "q_chunking" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0) AS toks
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, toks, len(toks) AS n,
        |    unnest(range(0, CASE WHEN len(toks) <= 50 THEN 1
        |                         ELSE (len(toks) - 11) // 40 + 1 END)) AS chunk_id
        |  FROM t)
        |SELECT doc_id, chunk_id,
        |  md5(array_to_string(toks[chunk_id * 40 + 1 : chunk_id * 40 + 50], ' ')) AS chunk_hash,
        |  least(50, n - chunk_id * 40) AS n_chunk_tokens
        |FROM c ORDER BY doc_id, chunk_id""".stripMargin,
    "q_quality_score" ->
      """WITH t AS (
        |  SELECT doc_id, text,
        |    list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0) AS toks
        |  FROM documents),
        |m AS (
        |  SELECT doc_id,
        |    CAST(length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')) AS DOUBLE)
        |      / length(text) AS punct_ratio,
        |    CAST(len(list_filter(toks, x -> list_contains(['the','a','of','and','is'], x))) AS DOUBLE)
        |      / len(toks) AS stop_ratio,
        |    least(CAST(length(text) AS DOUBLE) / 500.0, 1.0) AS length_score
        |  FROM t)
        |SELECT doc_id, punct_ratio, stop_ratio, length_score,
        |  length_score * 0.5 + (1.0 - punct_ratio) * 0.25 + stop_ratio * 0.25 AS quality
        |FROM m ORDER BY doc_id""".stripMargin,
    "q_classify_quality" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0) AS toks
        |  FROM documents),
        |f AS (
        |  SELECT doc_id,
        |    toks || list_transform(range(1, len(toks)),
        |      i -> toks[i] || ' ' || toks[i + 1]) AS feats
        |  FROM t),
        |s AS (
        |  SELECT doc_id, CAST(len(feats) AS BIGINT) AS n_features,
        |    CAST(coalesce(list_aggregate(list_transform(feats, f ->
        |      ('0x' || substr(md5('w:' || CAST(
        |         ('0x' || substr(md5(f), 1, 15))::BIGINT % 262144 AS VARCHAR)),
        |         1, 15))::BIGINT % 2001 - 1000), 'sum'), 0) AS BIGINT) AS score
        |  FROM f)
        |SELECT doc_id, n_features, score,
        |  CASE WHEN n_features > 0
        |    THEN CAST(score AS DOUBLE) / CAST(n_features AS DOUBLE) END AS mean_w,
        |  score > 0 AS keep
        |FROM s ORDER BY doc_id""".stripMargin,
    "q_mix_weights" ->
      """WITH w(lang, w_bp) AS (VALUES
        |  ('en', 4000), ('de', 1500), ('es', 1500), ('fr', 1500), ('zh', 1500)),
        |c AS (SELECT lang, count(*) AS n_in FROM documents GROUP BY lang),
        |t AS (SELECT min((n_in * 10000) // w_bp) AS t_total FROM c JOIN w USING (lang)),
        |q AS (SELECT c.lang, c.n_in,
        |        CAST((w.w_bp * t.t_total) // 10000 AS BIGINT) AS quota
        |      FROM c JOIN w USING (lang), t),
        |r AS (SELECT doc_id, lang, row_number() OVER (PARTITION BY lang
        |        ORDER BY ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 7))::BIGINT,
        |                 doc_id) AS rn
        |      FROM documents)
        |SELECT q.lang, q.n_in, q.quota, count(*) AS n_kept,
        |  CAST(sum(r.doc_id) AS BIGINT) AS id_checksum
        |FROM r JOIN q ON r.lang = q.lang AND r.rn <= q.quota
        |GROUP BY q.lang, q.n_in, q.quota ORDER BY q.lang""".stripMargin,
    "q_repetition" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0) AS w
        |  FROM documents),
        |u AS (
        |  SELECT doc_id, max(c) AS topw FROM (
        |    SELECT doc_id, g, count(*) AS c
        |    FROM (SELECT doc_id, unnest(w) AS g FROM t) GROUP BY doc_id, g)
        |  GROUP BY doc_id),
        |b AS (
        |  SELECT doc_id, max(c) AS topb FROM (
        |    SELECT doc_id, g, count(*) AS c
        |    FROM (SELECT doc_id, array_to_string(w[i:i+1], ' ') AS g
        |          FROM t, unnest(range(1, len(w))) r(i) WHERE len(w) >= 2)
        |    GROUP BY doc_id, g)
        |  GROUP BY doc_id),
        |td AS (
        |  SELECT doc_id, coalesce(sum(c) FILTER (WHERE c >= 2), 0) AS dup FROM (
        |    SELECT doc_id, g, count(*) AS c
        |    FROM (SELECT doc_id, array_to_string(w[i:i+2], ' ') AS g
        |          FROM t, unnest(range(1, len(w) - 1)) r(i) WHERE len(w) >= 3)
        |    GROUP BY doc_id, g)
        |  GROUP BY doc_id)
        |SELECT t.doc_id, len(w) AS n_tokens,
        |  CASE WHEN len(w) > 0 THEN CAST(u.topw AS DOUBLE) / len(w)
        |       ELSE 0.0 END AS top_word_frac,
        |  CASE WHEN len(w) >= 2 THEN CAST(coalesce(b.topb, 0) AS DOUBLE) / (len(w) - 1)
        |       ELSE 0.0 END AS top_bigram_frac,
        |  CASE WHEN len(w) >= 3 THEN CAST(coalesce(td.dup, 0) AS DOUBLE) / (len(w) - 2)
        |       ELSE 0.0 END AS dup_trigram_frac,
        |  CAST((CASE WHEN len(w) > 0 THEN CAST(u.topw AS DOUBLE) / len(w)
        |             ELSE 0.0 END) > 0.15
        |    OR (CASE WHEN len(w) >= 3 THEN CAST(coalesce(td.dup, 0) AS DOUBLE) / (len(w) - 2)
        |             ELSE 0.0 END) > 0.05 AS INT) AS flagged
        |FROM t LEFT JOIN u USING (doc_id) LEFT JOIN b USING (doc_id)
        |  LEFT JOIN td USING (doc_id)
        |ORDER BY doc_id""".stripMargin,
    "q_text_stats" ->
      """WITH t AS (
        |  SELECT doc_id, text,
        |    list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0) AS toks
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(len(toks) AS BIGINT) AS n_tokens,
        |  CAST(len(regexp_extract_all(text, '[a-z]+|[A-Z]+|[0-9]+|[^a-zA-Z0-9\s]')) AS BIGINT) AS n_lex_tokens,
        |  CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct,
        |  CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) AS distinct_ratio,
        |  CAST(list_sum(list_transform(toks, x -> len(x))) AS DOUBLE) / len(toks) AS avg_token_len,
        |  CAST(length(text) AS BIGINT) AS n_chars
        |FROM t ORDER BY doc_id""".stripMargin,
    // Integer unigram surprisal: same bin()-length floor-log2 on both
    // engines; DuckDB's sum() widens to HUGEINT, so both sums CAST back.
    "q_lm_score" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0) AS w
        |  FROM documents),
        |tok AS (SELECT doc_id, unnest(w) AS tok FROM t),
        |c AS (SELECT tok, count(*) AS c FROM tok GROUP BY tok),
        |tt AS (SELECT CAST(sum(c) AS BIGINT) AS total FROM c),
        |s AS (SELECT tok, CAST(length(bin(tt.total // c.c)) - 1 AS BIGINT) AS sp
        |      FROM c, tt),
        |agg AS (
        |  SELECT doc_id, count(*) AS n_tokens,
        |    CAST(sum(s.sp) AS BIGINT) AS total_surprisal
        |  FROM tok JOIN s USING (tok) GROUP BY doc_id)
        |SELECT doc_id, n_tokens, total_surprisal,
        |  CAST(total_surprisal AS DOUBLE) / n_tokens AS avg_surprisal
        |FROM agg ORDER BY doc_id""".stripMargin,
    // Composes the q_quality_score, q_repetition, and q_lang_id replays
    // into the verdict CASE — the same arithmetic as those three oracles,
    // so every threshold compares the same bit-identical double.
    "q_quality_filter" ->
      s"""WITH markers(cand_lang, marker) AS (VALUES
         |  ${langMarkers.map { case (l, m) => s"('$l','$m')" }.mkString(", ")}),
         |t AS (
         |  SELECT doc_id, text,
         |    list_filter(string_split_regex(text, '\\s+'), x -> len(x) > 0) AS w
         |  FROM documents),
         |m AS (
         |  SELECT doc_id,
         |    least(CAST(length(text) AS DOUBLE) / 500.0, 1.0) * 0.5
         |    + (1.0 - CAST(length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g'))
         |               AS DOUBLE) / length(text)) * 0.25
         |    + (CAST(len(list_filter(w, x -> list_contains(['the','a','of','and','is'], x)))
         |          AS DOUBLE) / len(w)) * 0.25 AS quality
         |  FROM t),
         |u AS (
         |  SELECT doc_id, max(c) AS topw FROM (
         |    SELECT doc_id, g, count(*) AS c
         |    FROM (SELECT doc_id, unnest(w) AS g FROM t) GROUP BY doc_id, g)
         |  GROUP BY doc_id),
         |td AS (
         |  SELECT doc_id, coalesce(sum(c) FILTER (WHERE c >= 2), 0) AS dup FROM (
         |    SELECT doc_id, g, count(*) AS c
         |    FROM (SELECT doc_id, array_to_string(w[i:i+2], ' ') AS g
         |          FROM t, unnest(range(1, len(w) - 1)) r(i) WHERE len(w) >= 3)
         |    GROUP BY doc_id, g)
         |  GROUP BY doc_id),
         |hits AS (
         |  SELECT doc_id, cand_lang, count(*) AS n
         |  FROM (SELECT doc_id, unnest(w) AS tok FROM t)
         |  JOIN markers ON tok = marker GROUP BY doc_id, cand_lang),
         |best AS (
         |  SELECT doc_id, cand_lang FROM (
         |    SELECT doc_id, cand_lang,
         |      row_number() OVER (PARTITION BY doc_id ORDER BY n DESC, cand_lang) AS r
         |    FROM hits) WHERE r = 1),
         |sig AS (
         |  SELECT t.doc_id, len(w) AS n_tokens,
         |    CASE WHEN len(w) > 0 THEN CAST(u.topw AS DOUBLE) / len(w)
         |         ELSE 0.0 END AS twf,
         |    CASE WHEN len(w) >= 3 THEN CAST(coalesce(td.dup, 0) AS DOUBLE) / (len(w) - 2)
         |         ELSE 0.0 END AS dtf,
         |    m.quality, coalesce(best.cand_lang, 'und') AS pred_lang
         |  FROM t JOIN m USING (doc_id)
         |  LEFT JOIN u USING (doc_id) LEFT JOIN td USING (doc_id)
         |  LEFT JOIN best USING (doc_id))
         |SELECT doc_id, n_tokens, pred_lang,
         |  CASE WHEN n_tokens < 20 THEN 'too_short'
         |       WHEN pred_lang <> 'en' THEN 'non_english'
         |       WHEN twf > 0.15 OR dtf > 0.05 THEN 'repetitive'
         |       WHEN quality < 0.5 THEN 'low_quality'
         |       ELSE 'kept' END AS verdict
         |FROM sig ORDER BY doc_id""".stripMargin,
    "q_lang_id" ->
      s"""WITH markers(cand_lang, marker) AS (VALUES
         |  ${langMarkers.map { case (l, m) => s"('$l','$m')" }.mkString(", ")}),
         |toks AS (
         |  SELECT doc_id, unnest(list_filter(string_split_regex(text, '\\s+'),
         |                                    x -> len(x) > 0)) AS tok
         |  FROM documents),
         |hits AS (
         |  SELECT doc_id, cand_lang, count(*) AS n
         |  FROM toks JOIN markers ON tok = marker GROUP BY doc_id, cand_lang),
         |ranked AS (
         |  SELECT doc_id, cand_lang,
         |    row_number() OVER (PARTITION BY doc_id ORDER BY n DESC, cand_lang) AS r
         |  FROM hits)
         |SELECT d.doc_id, coalesce(ranked.cand_lang, 'und') AS pred_lang,
         |  d.lang AS labeled_lang
         |FROM documents d LEFT JOIN ranked ON d.doc_id = ranked.doc_id AND r = 1
         |ORDER BY d.doc_id""".stripMargin,
    "q_fingerprint" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0) AS toks
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id, toks,
        |    CASE WHEN len(toks) >= 5 THEN
        |      list_transform(range(1, len(toks) - 3),
        |                     i -> array_to_string(toks[i:i+4], ' '))
        |    ELSE [] END AS shingles
        |  FROM t)
        |SELECT doc_id,
        |  CASE WHEN len(shingles) > 0
        |       THEN list_min(list_transform(shingles, s -> md5(s)))
        |       ELSE md5(array_to_string(toks, ' ')) END AS fingerprint
        |FROM sh ORDER BY doc_id""".stripMargin,
  )
}
