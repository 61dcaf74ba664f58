package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.tables.Tables

/** Record linkage: blocked fuzzy matching of dirty records back to a master
  * table — the entity-resolution step a curation pipeline runs before any
  * dedup-by-key can work (north-star LLM surface, SURVEY.md §2.2).
  */
object Linkage {

  /** q_fuzzy_join: link a deterministically corrupted copy of the customer
    * table back to its masters by blocked edit-distance matching.
    *
    * The dirty side is the classic record-linkage benchmark construction
    * (Febrl-style): every `c_name` (`Customer#` + 9 zero-padded digits)
    * gets exactly one digit overwritten, with the position and replacement
    * digit drawn from the house 60-bit md5 hash of the key — so the
    * corruption, and therefore the whole result, is a pure function of
    * the corpus and replays identically in the oracle.
    *
    * Matching never goes all-pairs: the 9-digit key is split into three
    * 3-digit BANDS, and since a single substitution touches exactly one
    * band, every true match agrees exactly on two of the three — the
    * 2-of-3 banding scheme (same family as MinHash LSH bands). Candidates
    * are the union of three band-pair equi-joins, each prefiltered by
    * edit distance ≤ 1 on the REMAINING band (a 3-character comparison),
    * which by construction bounds the full-name distance: prefix and two
    * bands equal, third band within one substitution ⟹ full levenshtein
    * ∈ {0, 1}. Recall is exact — every master within distance 1 of a
    * dirty record agrees on two bands and survives the prefilter.
    *
    * Scale shape: three hash-partitioned equi-joins on composite band
    * keys (the coarsest key — adjacent-band pairs — blocks at most 1000
    * consecutive keys together for dense 9-digit ids, so per-key fan-out
    * is bounded and skew-free), a pair `dropDuplicates` on verified
    * candidates only, and one window pass per dirty record for the best
    * match (min distance, then min master key) plus the match count.
    * Output is one row per dirty record — linear in the corpus.
    *
    * Masters are COLLAPSED to distinct names first (replica count + min
    * key per name) — the rep-collapse move the ngram pipeline learned at
    * 30× (SURVEY §15.2): the ScaleUp corpora replicate each name m times,
    * and banding raw rows would blow the candidate space up by m² per
    * name class (13.5 B pairs at 30×, ngram-style box-infeasible at
    * 100×), while banding name CLASSES keeps per-dirty fan-out at the
    * block's distinct-name count. Output-identical by construction: the
    * best master over rows = min key among replicas of the best name
    * (min of group minima), and the match count = Σ replica counts of
    * matched names. On a corpus with unique names the collapse is one
    * extra map-side hash-agg and nothing else. */
  def qFuzzyJoin(spark: SparkSession, d: String): DataFrame = {
    def bands(name: String): List[(String, org.apache.spark.sql.Column)] =
      List("b1" -> substring(col(name), 10, 3),
        "b2" -> substring(col(name), 13, 3),
        "b3" -> substring(col(name), 16, 3))

    val p = (col("hv") % 9 + 10).cast("int")
    // `div`, not `/`: Spark's Column `/` is DOUBLE division even on longs,
    // which would render the replacement digit as "4.0".
    val dirtyName = concat(
      substr(col("c_name"), lit(1), p - 1),
      expr("(hv div 9) % 10").cast("string"),
      substr(col("c_name"), p + 1, lit(18)))
    // Both sides are consumed by THREE band passes below — without the
    // checkpoint each pass re-runs the customer scan + name synthesis
    // (dirty) and the per-name aggregation (masters): six scans and three
    // aggs inside one plan (r15). Count-adaptive layout keeps the band
    // joins' task counts proportional to the table, not the session
    // shuffle-partition default.
    val dirty = State.memo(Tables.customer(spark, d)
      .select(col("c_custkey").as("d_key"), col("c_name"),
        conv(substring(md5(col("c_custkey").cast("string")), 1, 15), 16, 10)
          .cast("long").as("hv"))
      .select(col("d_key"), dirtyName.as("d_name"))
      .select(col("d_key") :: col("d_name") ::
        bands("d_name").map { case (n, c) => c.as("d" + n) }: _*)).df
    val masters = State.memo(Tables.customer(spark, d)
      .groupBy(col("c_name").as("m_name"))
      .agg(min(col("c_custkey")).as("m_key"),
        count(lit(1)).as("m_replicas"))
      .select(col("m_key") :: col("m_name") :: col("m_replicas") ::
        bands("m_name").map { case (n, c) => c.as("m" + n) }: _*)).df

    def pass(eq1: String, eq2: String, fuzzy: String): DataFrame =
      dirty.join(masters,
        col("d" + eq1) === col("m" + eq1) &&
          col("d" + eq2) === col("m" + eq2) &&
          levenshtein(col("d" + fuzzy), col("m" + fuzzy)) <= 1)
        .select(col("d_key"), col("m_key"), col("m_replicas"),
          col("d_name"), col("m_name"))

    val cand = pass("b1", "b2", "b3")
      .union(pass("b1", "b3", "b2"))
      .union(pass("b2", "b3", "b1"))
      .dropDuplicates("d_key", "m_name")
    val w = Window.partitionBy(col("d_key"))
    val byBest = w.orderBy(col("dist").asc, col("m_key").asc)
    cand
      .withColumn("dist", levenshtein(col("d_name"), col("m_name")).cast("int"))
      .withColumn("rn", row_number().over(byBest))
      .withColumn("n_match", sum(col("m_replicas")).over(w))
      .filter(col("rn") === 1)
      .select(col("d_key"), col("m_key").as("matched_key"), col("dist"),
        col("n_match"))
      .orderBy(col("d_key"))
  }

  val oracles: Map[String, String] = Map(
    "q_fuzzy_join" ->
      """WITH h AS MATERIALIZED (
        |  SELECT c_custkey AS d_key, c_name,
        |    ('0x' || substr(md5(CAST(c_custkey AS VARCHAR)), 1, 15))::BIGINT
        |      AS hv
        |  FROM customer),
        |dirty AS MATERIALIZED (
        |  SELECT d_key,
        |    substr(c_name, 1, CAST(10 + (hv % 9) AS INT) - 1)
        |      || CAST((hv // 9) % 10 AS VARCHAR)
        |      || substr(c_name, CAST(10 + (hv % 9) AS INT) + 1) AS d_name
        |  FROM h),
        |db AS (SELECT d_key, d_name, substr(d_name, 10, 3) AS b1,
        |         substr(d_name, 13, 3) AS b2, substr(d_name, 16, 3) AS b3
        |       FROM dirty),
        |mb AS MATERIALIZED (
        |  SELECT c_name AS m_name, min(c_custkey) AS m_key,
        |         count(*) AS m_replicas,
        |         substr(c_name, 10, 3) AS b1, substr(c_name, 13, 3) AS b2,
        |         substr(c_name, 16, 3) AS b3
        |       FROM customer GROUP BY c_name),
        |cand AS (
        |  SELECT d.d_key, d.d_name, m.m_key, m.m_name, m.m_replicas
        |  FROM db d JOIN mb m
        |    ON d.b1 = m.b1 AND d.b2 = m.b2 AND levenshtein(d.b3, m.b3) <= 1
        |  UNION
        |  SELECT d.d_key, d.d_name, m.m_key, m.m_name, m.m_replicas
        |  FROM db d JOIN mb m
        |    ON d.b1 = m.b1 AND d.b3 = m.b3 AND levenshtein(d.b2, m.b2) <= 1
        |  UNION
        |  SELECT d.d_key, d.d_name, m.m_key, m.m_name, m.m_replicas
        |  FROM db d JOIN mb m
        |    ON d.b2 = m.b2 AND d.b3 = m.b3 AND levenshtein(d.b1, m.b1) <= 1),
        |r AS (
        |  SELECT d_key, m_key,
        |    CAST(levenshtein(d_name, m_name) AS INT) AS dist,
        |    row_number() OVER (PARTITION BY d_key
        |      ORDER BY levenshtein(d_name, m_name), m_key) AS rn,
        |    CAST(sum(m_replicas) OVER (PARTITION BY d_key) AS BIGINT)
        |      AS n_match
        |  FROM cand)
        |SELECT d_key, m_key AS matched_key, dist, n_match
        |FROM r WHERE rn = 1 ORDER BY d_key""".stripMargin)
}
