package graft.llm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.State
import graft.tables.Tables

/** Tokenizer-training operators — the step a training-data pipeline runs
  * between corpus curation and model training (north-star LLM surface,
  * SURVEY.md §2.2): learning a byte-pair-encoding merge table from the
  * corpus itself (Sennrich et al., ACL'16 — the algorithm behind the
  * GPT-2/LLaMA-family tokenizers).
  */
object Tokenizer {

  /** Number of merge rounds q_bpe_train learns. */
  val BpeMerges = 8

  /** Word-form frequency table rendered for pair statistics: each distinct
    * lowercase letter-run word becomes a space-separated symbol sequence
    * padded with one leading and one trailing space (`"new"` →
    * `" n e w "`). The padding makes every symbol boundary — including the
    * word edges — carry exactly one space, so a merge of pair `(a, b)` is
    * the literal, boundary-safe string replace `" a b "` → `" ab "`: a
    * symbol SUFFIX can never false-match because the pattern demands a
    * space before `a`, and merged symbols contain no spaces. */
  private def wordFreq(spark: SparkSession, d: String): DataFrame =
    Tables.spread(Tables.documents(spark, d))
      .select(explode(
        regexp_extract_all(lower(col("text")), lit("[a-z]+"), lit(0)))
        .as("word"))
      .groupBy(col("word"))
      .agg(count(lit(1)).as("f"))
      .select(
        concat(lit(" "), regexp_replace(col("word"), "(.)", "$1 ")).as("seq"),
        col("f"))

  /** Adjacent symbol pairs of a padded sequence, as `"a b"` strings; empty
    * when the word is a single symbol (`sequence` is guarded — Spark's
    * `sequence(1, 0)` would DESCEND, not return empty). */
  private def adjacentPairs(seq: Column): Column = {
    val s = split(trim(seq), " ")
    when(size(s) >= 2,
      transform(sequence(lit(1), size(s) - 1),
        i => concat(element_at(s, i), lit(" "), element_at(s, i + 1))))
      .otherwise(array().cast("array<string>"))
  }

  /** q_bpe_train: learn the first [[BpeMerges]] BPE merges of the corpus.
    *
    * Round structure (the fastBPE / HuggingFace-trainer shape): the
    * corpus-sized work is ONE map-side-combined hash aggregation to the
    * word-frequency table; every round after that touches only the
    * vocabulary — a pair-count hash-agg (explode of adjacent symbol pairs
    * weighted by word frequency), a single-row `orderBy(count desc, pair
    * asc).limit(1)` collect for the winning pair (deterministic
    * tie-break, so the merge table is a pure function of the corpus), and
    * a map-only string replace applying the merge. The frequency frame is
    * materialized once (a `State` memo, freed after the last round) and
    * the ≤ 8 replaces chain lazily on top
    * (one driver job per round). At 100 TB the vocabulary is millions of rows, not
    * corpus-sized — rounds stay cheap and fully distributed; nothing ever
    * collects more than one row per round.
    *
    * Merge application is the two-pass literal replace
    * `replace(replace(seq, " a b ", " ab "), " a b ", " ab ")`: one
    * left-to-right pass misses an occurrence immediately following a
    * replaced one (the shared boundary space is consumed), and after one
    * pass all remaining occurrences are isolated — the second pass
    * catches exactly them, which is the canonical greedy left-to-right
    * BPE result. Both engines (Spark `replace`, DuckDB `replace`) share
    * non-overlapping left-to-right literal-replace semantics, so the
    * oracle is identical by construction.
    *
    * Output: one row per merge — rank, the winning pair, the merged
    * symbol, and the pair's weighted occurrence count. */
  def qBpeTrain(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    trainedMerges(spark, d).toDF("rank", "pair", "merged", "cnt")
      .orderBy(col("rank"))
  }

  /** Session-lifetime memo of the learned merge table: q_bpe_train and
    * q_bpe_encode learn the IDENTICAL table (it is a pure function of the
    * corpus), so the corpus-sized word-frequency aggregation and the
    * 8-round driver loop run once per session instead of twice (r15; r14
    * verdict item 3). Values are a driver-side Seq of 8 rows — nothing
    * distributed is pinned. */
  private val mergesCache =
    new graft.ops.SessionCache[Seq[(Int, String, String, Long)]]

  /** The driver merge-learning loop of [[qBpeTrain]], factored out so
    * [[qBpeEncode]] can train from its own (doc, word) frame. `wf0` must
    * be the (seq, f) word-frequency rendering of [[wordFreq]].
    *
    * One job per round (r15): the frequency frame is checkpointed ONCE
    * and the per-round merge replaces chain lazily on top — round r's
    * winner job re-applies r vocabulary-sized map-only replaces instead
    * of paying a second (checkpoint) job per round. The chain is bounded
    * at [[BpeMerges]] = 8 replaces, so lineage stays trivial. */
  private def trainLoop(wf0: DataFrame): Seq[(Int, String, String, Long)] = {
    val memo = State.memo(wf0)
    var wf = memo.df
    val merges = Seq.newBuilder[(Int, String, String, Long)]
    var rank = 1
    try while (rank <= BpeMerges) {
      val best = wf
        .select(explode(adjacentPairs(col("seq"))).as("pair"), col("f"))
        .groupBy(col("pair"))
        .agg(sum(col("f")).as("c"))
        .orderBy(col("c").desc, col("pair").asc)
        .limit(1)
        .collect()
      if (best.isEmpty) { rank = BpeMerges + 1 }
      else {
        val pair = best(0).getString(0)
        val cnt = best(0).getLong(1)
        val merged = pair.replace(" ", "")
        merges += ((rank, pair, merged, cnt))
        // pair is lowercase letters + one space — safe to inline as a
        // SQL string literal (no quoting hazard by construction).
        val pat = s" $pair "
        val rep = s" $merged "
        wf = wf.select(
          expr(s"replace(replace(seq, '$pat', '$rep'), '$pat', '$rep')")
            .as("seq"),
          col("f"))
        rank += 1
      }
    } finally memo.release()
    merges.result()
  }

  private def trainedMerges(
      spark: SparkSession, d: String): Seq[(Int, String, String, Long)] =
    mergesCache.getOrElseUpdate(spark, d)(trainLoop(wordFreq(spark, d)))

  /** q_bpe_encode: tokenize the corpus with the merge table [[qBpeTrain]]
    * learns — the encode step every training pipeline runs after tokenizer
    * training (corpus token counts, the numbers that size a training run).
    * Per document: letter-word count, letter-char total, BPE token total
    * after all [[BpeMerges]] merges, and chars-per-token (the compression
    * diagnostic) as ONE IEEE division of two exact BIGINTs. Documents with
    * no letter-run words produce no row (nothing to encode — documented
    * contract). Merge application is the same boundary-safe two-pass
    * literal replace as training, so both engines encode identically.
    *
    * Scale shape: encoding happens on the DISTINCT-WORD table, not the
    * corpus — the 8 merge replaces are map-only passes over a
    * vocabulary-sized (Heaps-law sublinear) frame, and the corpus-sized
    * work is one (doc, word) hash agg plus a conditional-broadcast join
    * of the encoded lengths back onto it. The token stream itself never
    * materializes row-per-token anywhere. */
  def qBpeEncode(spark: SparkSession, d: String): DataFrame = {
    val dw = State.memo(Tables.spread(Tables.documents(spark, d))
      .select(col("doc_id"), explode(
        regexp_extract_all(lower(col("text")), lit("[a-z]+"), lit(0)))
        .as("word"))
      .groupBy(col("doc_id"), col("word"))
      .agg(count(lit(1)).as("m"))) // feeds the vocab build AND the length join
    // Memo-cold training trains off THIS frame's word frequencies (r15):
    // Σ per-doc multiplicities per word IS the corpus word count, so the
    // rendering below is the identical (seq, f) relation [[wordFreq]]
    // builds — without a second regexp scan of the corpus. Memo-warm
    // (q_bpe_train already ran) skips training entirely.
    def wfFromDw = dw.df.groupBy(col("word")).agg(sum(col("m")).as("f"))
      .select(
        concat(lit(" "), regexp_replace(col("word"), "(.)", "$1 ")).as("seq"),
        col("f"))
    val pairs = mergesCache.getOrElseUpdate(spark, d)(trainLoop(wfFromDw))
      .map(_._2)
    val vocab0 = dw.df.select(col("word")).distinct()
      .select(col("word"),
        concat(lit(" "), regexp_replace(col("word"), "(.)", "$1 ")).as("seq"))
    val encoded = pairs.foldLeft(vocab0) { (v, pair) =>
      val merged = pair.replace(" ", "")
      // pair is lowercase letters + one space — safe as a SQL literal.
      v.select(col("word"),
        expr(s"replace(replace(seq, ' $pair ', ' $merged '), ' $pair ', ' $merged ')")
          .as("seq"))
    }.select(col("word"),
      size(split(trim(col("seq")), " ")).cast("long").as("ntok"))
    // The vocabulary is a distinct over dw, so dw's observed rows bound it.
    dw.df.join(graft.ops.Broadcasts.maybeBroadcast(encoded, dw.rows), "word")
      .groupBy(col("doc_id"))
      .agg(sum(col("m")).as("n_words"),
        sum(col("m") * length(col("word"))).as("n_letter_chars"),
        sum(col("m") * col("ntok")).as("n_tokens"))
      .select(col("doc_id"), col("n_words"), col("n_letter_chars"),
        col("n_tokens"),
        (col("n_letter_chars").cast("double") / col("n_tokens"))
          .as("chars_per_token"))
      .orderBy(col("doc_id"))
  }

  /** DuckDB replay of [[qBpeTrain]]: the driver loop unrolled as
    * [[BpeMerges]] CTE stages — same padded rendering, same weighted
    * adjacent-pair counts, same `(count desc, pair asc)` winner, same
    * two-pass literal replace. Stages are MATERIALIZED so the scalar
    * subqueries don't re-expand the chain (and don't re-open the parquet
    * per reference). */
  def bpeTrainOracleSql(): String = {
    val stages = (0 until BpeMerges).map { r =>
      s"""p$r AS (SELECT s[i] || ' ' || s[i+1] AS pair, sum(f) AS c
         |  FROM (SELECT string_split(trim(seq), ' ') AS s, f FROM wf$r),
         |       unnest(range(1, len(s))) AS t(i)
         |  GROUP BY pair),
         |b$r AS MATERIALIZED (
         |  SELECT pair, CAST(c AS BIGINT) AS c FROM p$r
         |  ORDER BY c DESC, pair LIMIT 1),
         |wf${r + 1} AS MATERIALIZED (
         |  SELECT replace(replace(seq,
         |      ' ' || (SELECT pair FROM b$r) || ' ',
         |      ' ' || replace((SELECT pair FROM b$r), ' ', '') || ' '),
         |      ' ' || (SELECT pair FROM b$r) || ' ',
         |      ' ' || replace((SELECT pair FROM b$r), ' ', '') || ' ') AS seq,
         |    f FROM wf$r)""".stripMargin
    }.mkString(",\n")
    val union = (0 until BpeMerges).map { r =>
      s"""SELECT ${r + 1} AS rank, pair, replace(pair, ' ', '') AS merged,
         |  c AS cnt FROM b$r""".stripMargin
    }.mkString(" UNION ALL ")
    s"""WITH w AS (
       |  SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS word
       |  FROM documents),
       |wf0 AS MATERIALIZED (
       |  SELECT ' ' || array_to_string(regexp_extract_all(word, '.'), ' ')
       |    || ' ' AS seq, count(*) AS f
       |  FROM w GROUP BY word),
       |$stages
       |$union ORDER BY rank""".stripMargin
  }

  /** DuckDB replay of [[qBpeEncode]]: the training chain of
    * [[bpeTrainOracleSql]] with `word` carried through every stage, then
    * the encoded lengths joined back onto the per-(doc, word) counts. */
  def bpeEncodeOracleSql(): String = {
    val stages = (0 until BpeMerges).map { r =>
      s"""p$r AS (SELECT s[i] || ' ' || s[i+1] AS pair, sum(f) AS c
         |  FROM (SELECT string_split(trim(seq), ' ') AS s, f FROM wf$r),
         |       unnest(range(1, len(s))) AS t(i)
         |  GROUP BY pair),
         |b$r AS MATERIALIZED (
         |  SELECT pair, CAST(c AS BIGINT) AS c FROM p$r
         |  ORDER BY c DESC, pair LIMIT 1),
         |wf${r + 1} AS MATERIALIZED (
         |  SELECT word, replace(replace(seq,
         |      ' ' || (SELECT pair FROM b$r) || ' ',
         |      ' ' || replace((SELECT pair FROM b$r), ' ', '') || ' '),
         |      ' ' || (SELECT pair FROM b$r) || ' ',
         |      ' ' || replace((SELECT pair FROM b$r), ' ', '') || ' ') AS seq,
         |    f FROM wf$r)""".stripMargin
    }.mkString(",\n")
    s"""WITH w AS (
       |  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS word
       |  FROM documents),
       |dw AS MATERIALIZED (
       |  SELECT doc_id, word, count(*) AS m FROM w GROUP BY doc_id, word),
       |wf0 AS MATERIALIZED (
       |  SELECT word,
       |    ' ' || array_to_string(regexp_extract_all(word, '.'), ' ') || ' '
       |      AS seq,
       |    CAST(sum(m) AS BIGINT) AS f
       |  FROM dw GROUP BY word),
       |$stages,
       |enc AS (
       |  SELECT word, CAST(len(string_split(trim(seq), ' ')) AS BIGINT) AS ntok
       |  FROM wf$BpeMerges)
       |SELECT doc_id,
       |  CAST(sum(m) AS BIGINT) AS n_words,
       |  CAST(sum(m * length(word)) AS BIGINT) AS n_letter_chars,
       |  CAST(sum(m * ntok) AS BIGINT) AS n_tokens,
       |  CAST(CAST(sum(m * length(word)) AS BIGINT) AS DOUBLE)
       |    / CAST(sum(m * ntok) AS BIGINT) AS chars_per_token
       |FROM dw JOIN enc USING (word)
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    "q_bpe_train" -> bpeTrainOracleSql(),
    "q_bpe_encode" -> bpeEncodeOracleSql())
}
