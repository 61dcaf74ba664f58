package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.tables.Tables

/** Event-log analytics over the `events` table: the ordered-sequence
  * operators (funnels, cohort retention) a product-analytics user of the
  * reference's data surface would reach for next. Both are batch queries
  * with exact DuckDB oracles; the streaming family covers the incremental
  * variants of this table.
  */
object EventAnalytics {

  /** The funnel's ordered stages, by `event_type`. */
  val FunnelStages: Seq[String] = Seq("signup", "click", "purchase")

  /** q_funnel: strictly-ordered 3-stage conversion funnel — per user,
    * t1 = first signup, t2 = first click AFTER t1, t3 = first purchase
    * AFTER t2 (strict `>` on the microsecond timestamp at every hop).
    * Output: one row per stage with the completing-user count and the mean
    * hours from the previous stage (−1.0 sentinel where undefined).
    *
    * Scale shape: the sequential dependency (t2 needs t1) is resolved
    * IN-ROW — filter to the 3 stage types, one hash-agg to a per-user
    * time-sorted event array, then a single codegen `aggregate` fold over
    * it — so the token-level sequence never shuffles twice and there is no
    * per-stage self-join (the SQL-oracle phrasing joins the event table
    * once per stage; at 100 TB that's 3 shuffles vs this plan's 1). The
    * collected array is bounded by per-user STAGE-event count — human
    * activity, not data volume; a bot-scale user would be capped upstream
    * by the quality filters (q_quality_filter family).
    * Determinism: the fold scans the array in (us, event_id) sort order,
    * but every accepted timestamp is the MINIMUM eligible one, so the
    * result depends only on the set; means divide two exact BIGINTs in
    * pinned order. */
  def qFunnel(spark: SparkSession, d: String): DataFrame = {
    val acc0 = struct(
      lit(null).cast("long").as("t1"),
      lit(null).cast("long").as("t2"),
      lit(null).cast("long").as("t3"))
    val folded = Tables.events(spark, d)
      .filter(col("event_type").isin(FunnelStages: _*))
      .select(col("user_id"), unix_micros(col("ts")).as("us"),
        col("event_id"), col("event_type"))
      .groupBy(col("user_id"))
      .agg(array_sort(collect_list(
        struct(col("us"), col("event_id"), col("event_type")))).as("evs"))
      .select(col("user_id"),
        aggregate(col("evs"), acc0, (acc, x) => struct(
          when(acc.getField("t1").isNull &&
            x.getField("event_type") === FunnelStages(0),
            x.getField("us")).otherwise(acc.getField("t1")).as("t1"),
          when(acc.getField("t2").isNull && acc.getField("t1").isNotNull &&
            x.getField("event_type") === FunnelStages(1) &&
            x.getField("us") > acc.getField("t1"),
            x.getField("us")).otherwise(acc.getField("t2")).as("t2"),
          when(acc.getField("t3").isNull && acc.getField("t2").isNotNull &&
            x.getField("event_type") === FunnelStages(2) &&
            x.getField("us") > acc.getField("t2"),
            x.getField("us")).otherwise(acc.getField("t3")).as("t3"))).as("f"))
    val hours = (d12: org.apache.spark.sql.Column, n: org.apache.spark.sql.Column) =>
      when(n === 0L, lit(-1.0)).otherwise(
        d12.cast("double") / n.cast("double") / lit(3600000000.0))
    folded.agg(
        count(col("f.t1")).as("n1"),
        count(col("f.t2")).as("n2"),
        count(col("f.t3")).as("n3"),
        // Null-skipping sums: exactly the users whose later stage completed.
        coalesce(sum(col("f.t2") - col("f.t1")), lit(0L)).as("d12"),
        coalesce(sum(col("f.t3") - col("f.t2")), lit(0L)).as("d23"))
      .select(explode(array(
        struct(lit(1).as("stage_idx"), lit(FunnelStages(0)).as("stage"),
          col("n1").as("n_users"), lit(-1.0).as("avg_hours")),
        struct(lit(2).as("stage_idx"), lit(FunnelStages(1)).as("stage"),
          col("n2").as("n_users"), hours(col("d12"), col("n2")).as("avg_hours")),
        struct(lit(3).as("stage_idx"), lit(FunnelStages(2)).as("stage"),
          col("n3").as("n_users"), hours(col("d23"), col("n3")).as("avg_hours"))))
        .as("s"))
      .select(col("s.stage_idx"), col("s.stage"), col("s.n_users"),
        col("s.avg_hours"))
      .orderBy(col("stage_idx"))
  }

  /** Shared oracle CTE prefix for the strict-`>` funnel recurrence
    * (f/u1/u2/u3): per-stage min-eligible-timestamp tables over
    * [[FunnelStages]]. ONE definition serves both [[funnelOracleSql]] and
    * the q_stream_funnel oracle (StreamQueries) so the stage list and hop
    * strictness cannot drift between the batch and stream gates. */
  val funnelCtes: String =
    s"""f AS (SELECT user_id, epoch_us(ts) AS us, event_type FROM events
       |           WHERE event_type IN ('${FunnelStages.mkString("', '")}')),
       |u1 AS (SELECT user_id, min(us) AS t1 FROM f
       |       WHERE event_type = '${FunnelStages(0)}' GROUP BY user_id),
       |u2 AS (SELECT f.user_id, min(f.us) AS t2 FROM f JOIN u1 USING (user_id)
       |       WHERE f.event_type = '${FunnelStages(1)}' AND f.us > u1.t1
       |       GROUP BY f.user_id),
       |u3 AS (SELECT f.user_id, min(f.us) AS t3 FROM f JOIN u2 USING (user_id)
       |       WHERE f.event_type = '${FunnelStages(2)}' AND f.us > u2.t2
       |       GROUP BY f.user_id)""".stripMargin

  /** DuckDB oracle for [[qFunnel]]: per-stage min-eligible-timestamp CTEs —
    * u2 is the min click strictly after each user's u1, etc. The phrasing
    * differs from the in-row fold but the accepted timestamps are the same
    * minimum-eligible values. */
  def funnelOracleSql: String =
    s"""WITH $funnelCtes,
      |s AS (SELECT
      |  (SELECT count(*) FROM u1) AS n1,
      |  (SELECT count(*) FROM u2) AS n2,
      |  (SELECT count(*) FROM u3) AS n3,
      |  (SELECT coalesce(CAST(sum(t2 - t1) AS BIGINT), 0) FROM u2 JOIN u1 USING (user_id)) AS d12,
      |  (SELECT coalesce(CAST(sum(t3 - t2) AS BIGINT), 0) FROM u3 JOIN u2 USING (user_id)) AS d23)
      |SELECT CAST(1 AS INT) AS stage_idx, 'signup' AS stage, n1 AS n_users,
      |  -1.0 AS avg_hours FROM s
      |UNION ALL SELECT CAST(2 AS INT), 'click', n2,
      |  CASE WHEN n2 = 0 THEN -1.0
      |       ELSE CAST(d12 AS DOUBLE) / CAST(n2 AS DOUBLE) / 3600000000.0 END FROM s
      |UNION ALL SELECT CAST(3 AS INT), 'purchase', n3,
      |  CASE WHEN n3 = 0 THEN -1.0
      |       ELSE CAST(d23 AS DOUBLE) / CAST(n3 AS DOUBLE) / 3600000000.0 END FROM s
      |ORDER BY stage_idx""".stripMargin

  /** q_retention: weekly cohort retention — users are cohorted by the ISO
    * week of their first signup, and week k counts the cohort's users with
    * ANY event in [cohort + k weeks, cohort + k+1 weeks). Output:
    * (cohort, k, n_active, cohort_n, retention = n_active / cohort_n),
    * the classic retention-matrix long form.
    *
    * Scale shape: the cohort map is one hash-agg over signup events
    * (≤ |users| rows) and rides the activity join's build side under AQE;
    * the distinct-user count per (cohort, k) cell is Spark's standard
    * two-phase distinct aggregate (partial distinct map-side); the
    * per-cohort sizes (one row per signup week) join back with no hint, so
    * Spark decides their broadcast. Cell cardinality grows with calendar
    * weeks², not event volume.
    * Determinism: retention divides two exact BIGINTs in pinned order;
    * (cohort, k) is a unique sorted key. */
  def qRetention(spark: SparkSession, d: String): DataFrame = {
    val cohorts = Tables.events(spark, d)
      .filter(col("event_type") === "signup")
      .groupBy(col("user_id")).agg(min(col("ts")).as("t0"))
      .select(col("user_id"),
        date_trunc("week", col("t0")).cast("date").as("cohort"))
    val sizes = cohorts.groupBy(col("cohort")).agg(count(lit(1)).as("cohort_n"))
    val days = datediff(col("ts").cast("date"), col("cohort"))
    val active = Tables.events(spark, d).select(col("user_id"), col("ts"))
      .join(cohorts, "user_id")
      .filter(days >= 0)
      .select(col("cohort"), floor(days / lit(7)).cast("int").as("k"),
        col("user_id"))
      .groupBy(col("cohort"), col("k"))
      .agg(countDistinct(col("user_id")).as("n_active"))
    active.join(sizes, "cohort")
      .select(col("cohort"), col("k"), col("n_active"), col("cohort_n"),
        (col("n_active").cast("double") / col("cohort_n").cast("double"))
          .as("retention"))
      .orderBy(col("cohort"), col("k"))
  }

  /** DuckDB oracle for [[qRetention]]: same cohorting and week bucketing
    * (ISO Monday week truncation on both engines). */
  def retentionOracleSql: String =
    """WITH c AS (
      |  SELECT user_id, CAST(date_trunc('week', min(ts)) AS DATE) AS cohort
      |  FROM events WHERE event_type = 'signup' GROUP BY user_id),
      |sz AS (SELECT cohort, count(*) AS cohort_n FROM c GROUP BY cohort),
      |a AS (
      |  SELECT c.cohort,
      |    CAST(floor(date_diff('day', c.cohort, CAST(e.ts AS DATE)) / 7.0) AS INT) AS k,
      |    count(DISTINCT e.user_id) AS n_active
      |  FROM events e JOIN c ON c.user_id = e.user_id
      |  WHERE date_diff('day', c.cohort, CAST(e.ts AS DATE)) >= 0
      |  GROUP BY 1, 2)
      |SELECT a.cohort, a.k, a.n_active, sz.cohort_n,
      |  CAST(a.n_active AS DOUBLE) / CAST(sz.cohort_n AS DOUBLE) AS retention
      |FROM a JOIN sz USING (cohort)
      |ORDER BY a.cohort, a.k""".stripMargin

  /** q_anomaly: per-type z-score outlier flags over the event values —
    * the two-pass data-quality screen (stats pass, then a map-side flag
    * pass) every ingestion pipeline runs. Mean/σ come from EXACT
    * scaled-integer sums (Σvᵢ, Σvᵢ² as DECIMAL(38,0) over vᵢ = round(10⁴v))
    * so both engines reconstruct identical doubles, then the z computation
    * is a pinned-order IEEE chain (sub, div, sqrt are all exact-rounded).
    * Flags the upper tail (z > 3; values are non-negative with an
    * exponential-ish corpus distribution, so the lower tail is bounded at
    * z ≈ −1).
    *
    * Scale shape: pass 1 is one partial-aggregated hash-agg to ≤
    * |event types| rows; pass 2 broadcasts those rows and filters
    * map-side — no second shuffle, no window. At 100 TB this is the
    * cheapest possible two-pass screen. */
  def qAnomaly(spark: SparkSession, d: String): DataFrame = {
    // Moments accumulate as SCALED-INTEGER DECIMAL(38,0) (the
    // q_stats_moments discipline), NOT as scaled decimals: DuckDB's
    // DECIMAL→DOUBLE cast divides the unscaled int by 10^scale in floating
    // point (two roundings), which at 30× landed the scale-8 Σv² one ulp
    // off Spark's correctly-rounded BigDecimal.doubleValue and flipped
    // 18k z values in their last bit. DECIMAL(38,0)→DOUBLE is a single
    // correctly-rounded conversion on both engines; the /10⁴ and /10⁸
    // descale divisions are then one IEEE rounding each, identical on both.
    // The square is taken in DECIMAL(19,0)×(19,0) → (38,0) — NOT as a raw
    // Long multiply, which silently wraps past vi ≈ 3·10⁹ (value ≈ 3·10⁵)
    // while the oracle's BIGINT product errors: the engines must share the
    // same exact-arithmetic domain, and decimal gives both 38 digits.
    val vi = round(col("value") * 10000).cast("long")
    def d19(c: org.apache.spark.sql.Column) = c.cast("decimal(19,0)")
    def d38(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")
    val nd = col("n").cast("double")
    val stats = Tables.events(spark, d)
      .select(col("event_type").as("t"), vi.as("vi"))
      .groupBy(col("t"))
      .agg(sum(d38(col("vi"))).as("sx"),
        sum(d19(col("vi")) * d19(col("vi"))).as("sxx"),
        count(lit(1)).as("n"))
      .select(col("t"), col("n"),
        (col("sx").cast("double") / lit(10000.0)).as("s1"),
        (col("sxx").cast("double") / lit(100000000.0)).as("s2"))
      .select(col("t"), (col("s1") / nd).as("mean"),
        sqrt((col("s2") - col("s1") * col("s1") / nd) /
          (col("n") - lit(1L)).cast("double")).as("sd"))
    val z = (col("value") - col("mean")) / col("sd")
    Tables.events(spark, d)
      .select(col("event_id"), col("event_type"), col("value"))
      .join(broadcast(stats), col("event_type") === col("t"))
      .select(col("event_id"), col("event_type"), col("value"), z.as("z"))
      .filter(col("z") > 3.0)
      .orderBy(col("event_id"))
  }

  /** DuckDB oracle for [[qAnomaly]]: the same exact-decimal moment sums
    * and pinned-order double chain. */
  def anomalyOracleSql: String =
    """WITH q AS (
      |  SELECT event_type AS t,
      |    CAST(round(value * 10000) AS BIGINT) AS vi
      |  FROM events),
      |s AS (
      |  SELECT t,
      |    CAST(sum(CAST(vi AS DECIMAL(38,0))) AS DOUBLE) / 10000.0 AS s1,
      |    CAST(sum(CAST(vi AS DECIMAL(19,0)) * CAST(vi AS DECIMAL(19,0)))
      |      AS DOUBLE) / 100000000.0 AS s2,
      |    count(*) AS n
      |  FROM q GROUP BY 1),
      |st AS (
      |  SELECT t, s1 / CAST(n AS DOUBLE) AS mean,
      |    sqrt((s2 - s1 * s1 / CAST(n AS DOUBLE)) / CAST(n - 1 AS DOUBLE)) AS sd
      |  FROM s)
      |SELECT e.event_id, e.event_type, e.value,
      |  (e.value - st.mean) / st.sd AS z
      |FROM events e JOIN st ON st.t = e.event_type
      |WHERE (e.value - st.mean) / st.sd > 3.0
      |ORDER BY e.event_id""".stripMargin

  /** q_active_users: the DAU/WAU/stickiness series — per calendar day,
    * distinct active users that day, distinct active users over the
    * trailing 7 days, and their ratio (the classic engagement metric).
    * The trailing-window distinct can't be a plain window function
    * (COUNT(DISTINCT) OVER a frame isn't supported by either engine), so
    * each distinct (day, user) pair EXPLODES to the 7 window-end days it
    * covers and the count is a plain equi-keyed distinct aggregate — a
    * hash exchange on day, never a non-equi join. Cost is a flat 7× on
    * the compressed pair table (≤ days × users rows), not on the raw log.
    *
    * Scale shape: one distinct over (day, user) — the only pass over the
    * raw log; everything after operates on the compressed pair table.
    * Determinism: (day) unique sorted key; stickiness divides two exact
    * BIGINTs in pinned order. */
  def qActiveUsers(spark: SparkSession, d: String): DataFrame = {
    val pairs = Tables.events(spark, d)
      .select(col("ts").cast("date").as("day"), col("user_id"))
      .distinct()
    val dau = pairs.groupBy(col("day")).agg(count(lit(1)).as("dau"))
    // Each (day, user) pair covers the 7 trailing windows ending on
    // day .. day+6 — exploding to the covered day turns the trailing-7-day
    // distinct into a plain EQUI join/agg (r9 advice: the datediff-BETWEEN
    // phrasing was a non-equi join, which Catalyst plans as a broadcast
    // nested loop — |days|×|pairs| predicate evaluations — or, if the
    // aggregate's size estimate exceeds the byte cap, a CartesianProduct).
    // The semi join keeps only days that actually occur in the log, so the
    // output contract is unchanged; the day list is exactly |days| rows, and
    // Spark decides its broadcast (no count of it is held).
    val wau = pairs
      .select(explode(sequence(col("day"), date_add(col("day"), 6))).as("day"),
        col("user_id"))
      .join(dau.select(col("day")), Seq("day"), "left_semi")
      .groupBy(col("day"))
      .agg(countDistinct(col("user_id")).as("wau"))
    dau.join(wau, "day")
      .select(col("day"), col("dau"), col("wau"),
        (col("dau").cast("double") / col("wau").cast("double")).as("stickiness"))
      .orderBy(col("day"))
  }

  /** DuckDB oracle for [[qActiveUsers]]. */
  def activeUsersOracleSql: String =
    """WITH pairs AS (
      |  SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events),
      |dau AS (SELECT day, count(*) AS dau FROM pairs GROUP BY day),
      |wau AS (
      |  SELECT d.day, count(DISTINCT p.user_id) AS wau
      |  FROM (SELECT day FROM dau) d
      |  JOIN pairs p ON date_diff('day', p.day, d.day) BETWEEN 0 AND 6
      |  GROUP BY d.day)
      |SELECT dau.day, dau.dau, wau.wau,
      |  CAST(dau.dau AS DOUBLE) / CAST(wau.wau AS DOUBLE) AS stickiness
      |FROM dau JOIN wau ON wau.day = dau.day
      |ORDER BY dau.day""".stripMargin

  /** Marketing-touch event types for [[qAttribution]]. */
  val TouchTypes: Seq[String] = Seq("click", "view")

  /** q_attribution: LAST-TOUCH attribution — each purchase is credited to
    * the user's most recent preceding click/view (strictly earlier in the
    * unique (ts, event_id) order; 'none' when the purchase has no prior
    * touch). The running last-non-null window (`last(..., ignoreNulls)`
    * over ROWS UNBOUNDED PRECEDING .. 1 PRECEDING) resolves every
    * purchase in ONE pass over the per-user sorted stream — no per-
    * purchase as-of self-join. Output: purchases and exact-decimal revenue
    * by credited source.
    *
    * Scale shape: one user_id hash exchange + in-partition sort (the
    * plain windowed-analytics shape), then a partial-aggregated hash agg
    * to ≤ |sources|+1 rows. */
  def qAttribution(spark: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val touch = when(col("event_type").isin(TouchTypes: _*), col("event_type"))
    Tables.events(spark, d)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"),
        col("value"), last(touch, ignoreNulls = true).over(w).as("lt"))
      .filter(col("event_type") === "purchase")
      .select(coalesce(col("lt"), lit("none")).as("source"), col("value"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_purchases"),
        sum(col("value").cast("decimal(18,4)")).cast("double").as("revenue"))
      .orderBy(col("source"))
  }

  /** DuckDB oracle for [[qAttribution]] — the same IGNORE NULLS running
    * window. */
  def attributionOracleSql: String =
    """WITH tagged AS (
      |  SELECT event_type, value,
      |    last_value(CASE WHEN event_type IN ('click', 'view')
      |                    THEN event_type END IGNORE NULLS)
      |      OVER (PARTITION BY user_id ORDER BY ts, event_id
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS lt
      |  FROM events)
      |SELECT coalesce(lt, 'none') AS source,
      |  count(*) AS n_purchases,
      |  CAST(CAST(sum(CAST(value AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS revenue
      |FROM tagged WHERE event_type = 'purchase'
      |GROUP BY 1 ORDER BY source""".stripMargin

  /** q_markov: the event-type TRANSITION MATRIX — for every consecutive
    * pair of events in a user's (ts, event_id)-ordered stream, count
    * src_type → dst_type and row-normalize to transition probabilities.
    * The path-analysis primitive behind sankeys, next-action prediction
    * features, and journey anomaly detection.
    *
    * Scale shape: one user_id hash exchange + in-partition sort (lag
    * window), then a partial-aggregated hash agg to ≤ |types|² rows; the
    * per-source totals ride back as a broadcast. Determinism: the pair key
    * is unique and sorted; probabilities divide two exact BIGINTs in
    * pinned order. */
  def qMarkov(spark: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val pairs = Tables.events(spark, d)
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_type").as("dst_type"),
        lag(col("event_type"), 1).over(w).as("src_type"))
      .filter(col("src_type").isNotNull)
      .groupBy(col("src_type"), col("dst_type"))
      .agg(count(lit(1)).as("n"))
    val totals = pairs.groupBy(col("src_type")).agg(sum(col("n")).as("row_n"))
    pairs.join(broadcast(totals), "src_type")
      .select(col("src_type"), col("dst_type"), col("n"),
        (col("n").cast("double") / col("row_n").cast("double")).as("p"))
      .orderBy(col("src_type"), col("dst_type"))
  }

  /** Session gap: a new session starts after 30 min of inactivity. */
  val SessionGapUs: Long = 30L * 60 * 1000000

  /** q_sessionize: batch gap-based sessionization — per user, events ordered
    * by (ts, event_id) are grouped into sessions that break whenever the gap
    * from the previous event exceeds [[SessionGapUs]]; output is one row per
    * session (user_id, session_id, n_events, duration_us, total_value).
    * The batch complement of q_stream_session (which computes the same cut
    * incrementally via `session_window`): backfills and training-data
    * "interaction episode" extraction run this shape over the full log.
    *
    * Scale shape: ONE user_id hash exchange serves everything — the lag
    * window, the running-sum session numbering, and the final aggregate
    * (hash(user_id) co-locates (user_id, session_id) groups, so Catalyst
    * plans no second exchange). Determinism: the order key (us, event_id)
    * is unique per user; duration subtracts exact BIGINT micros; the value
    * sum rides DECIMAL(18,4). */
  def qSessionize(spark: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("us"), col("event_id"))
    Tables.events(spark, d)
      .select(col("user_id"), unix_micros(col("ts")).as("us"),
        col("event_id"), col("value"))
      .withColumn("prev_us", lag(col("us"), 1).over(w))
      .withColumn("is_new",
        when(col("prev_us").isNull ||
          col("us") - col("prev_us") > SessionGapUs, 1L).otherwise(0L))
      .withColumn("session_id",
        sum(col("is_new")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("user_id"), col("session_id"))
      .agg(
        count(lit(1)).as("n_events"),
        (max(col("us")) - min(col("us"))).as("duration_us"),
        sum(col("value").cast("decimal(18,4)")).cast("double").as("total_value"))
      .orderBy(col("user_id"), col("session_id"))
  }

  /** DuckDB oracle for [[qSessionize]]. */
  def sessionizeOracleSql: String =
    s"""WITH e AS (
      |  SELECT user_id, epoch_us(ts) AS us, event_id, value FROM events),
      |g AS (
      |  SELECT *, CASE WHEN lag(us) OVER w IS NULL
      |                   OR us - lag(us) OVER w > $SessionGapUs
      |                 THEN 1 ELSE 0 END AS is_new
      |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
      |s AS (
      |  SELECT *, CAST(sum(is_new) OVER (PARTITION BY user_id
      |    ORDER BY us, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
      |  FROM g)
      |SELECT user_id, session_id, count(*) AS n_events,
      |  CAST(max(us) - min(us) AS BIGINT) AS duration_us,
      |  CAST(CAST(sum(CAST(value AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS total_value
      |FROM s GROUP BY user_id, session_id
      |ORDER BY user_id, session_id""".stripMargin

  /** DuckDB oracle for [[qMarkov]]. */
  def markovOracleSql: String =
    """WITH pairs AS (
      |  SELECT lag(event_type) OVER (PARTITION BY user_id
      |           ORDER BY ts, event_id) AS src_type,
      |         event_type AS dst_type
      |  FROM events),
      |m AS (SELECT src_type, dst_type, count(*) AS n FROM pairs
      |      WHERE src_type IS NOT NULL GROUP BY src_type, dst_type),
      |t AS (SELECT src_type, CAST(sum(n) AS BIGINT) AS row_n FROM m
      |      GROUP BY src_type)
      |SELECT m.src_type, m.dst_type, m.n,
      |  CAST(m.n AS DOUBLE) / CAST(t.row_n AS DOUBLE) AS p
      |FROM m JOIN t USING (src_type)
      |ORDER BY m.src_type, m.dst_type""".stripMargin

  /** q_assoc_rules' support floor and output depth. The floor is the
    * standard Apriori guard: below it confidence/lift are hapax noise. */
  val AssocMinSup = 3L
  val AssocTopK = 40

  /** q_assoc_rules: market-basket association rules (Agrawal–Srikant '94)
    * over the order→part baskets — support, confidence (both directions)
    * and lift for every itemset pair above the [[AssocMinSup]] floor,
    * top-[[AssocTopK]] by lift. All three statistics are exact rationals:
    * conf_x1e6 = c12·10⁶ div c(a), lift_x1e6 = (c12·N·10⁶) div (c(a)·c(b))
    * through DECIMAL(38,0)/HUGEINT (the [[graft.llm.TextStats.qPmi]]
    * pairing — lift IS pmi's ratio over basket events), so ranking and
    * rendering agree bit-for-bit across engines.
    *
    * Scale shape (r11 verdict item 3 — the basket collapse): baskets
    * assemble once as sorted distinct item ARRAYS (per-group state is
    * basket-bounded, the [[qUserPaths]] stance), then IDENTICAL baskets
    * collapse to one representative with a multiplicity — all three
    * statistics are multiplicity-linear (support, both marginals, N), so
    * the collapse is exact. Pairs are generated IN-ROW from each distinct
    * basket's sorted array (quadratic in basket size — ≤ 7 lineitems per
    * order in this schema — never corpus-quadratic, and never a self-join:
    * the old basket-key self-join re-paid Σ C(k,2) per REPLICA, 7.2× CPU
    * for 3.33× data at the 100× ScaleUp leg); item marginals are a
    * part-domain-sized agg joined back under [[Broadcasts.maybeBroadcast]],
    * bounded by the item count Σ|basket| the class memo observes;
    * the final rank is map-side pruned ([[Relational.localTopK]]) before
    * one [[AssocTopK]]-row window. */
  def qAssocRules(spark: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // Distinct basket classes: 128-bit set key (two salted xxhash64 passes
    // over the sorted array — the classPairsOf stance: key equality must
    // imply set equality at 10⁹-basket scale) + multiplicity. Feeds N, the
    // marginals AND the pair explode; observes Σ|pks|, which bounds c1.
    val cls = State.memo(Tables.lineitem(spark, d)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      .groupBy(col("ok"))
      .agg(sort_array(collect_set(col("pk"))).as("pks"))
      .select(col("pks"), xxhash64(col("pks")).as("bk1"),
        xxhash64(lit(0x9e3779b97f4a7c15L), col("pks")).as("bk2"))
      .groupBy(col("bk1"), col("bk2"))
      .agg(count(lit(1)).as("m"), min(col("pks")).as("pks"))
      .select(col("m"), col("pks")), sum(size(col("pks"))).as("n_items"))
    val nB = cls.df.agg(sum(col("m")).as("n_baskets"))
    val c1 = cls.df.select(col("m"), explode(col("pks")).as("pk"))
      .groupBy(col("pk")).agg(sum(col("m")).as("c"))
    // In-row ordered-pair generation: pks is sorted distinct, so the fused
    // graft_ordered_pairs expression yields exactly the a < b pairs in one
    // allocation (the composed transform/slice/flatten form spent more CPU
    // allocating intermediates than the whole rest of the query —
    // bench/NOTES r12).
    val pairs = cls.df
      .select(col("m"),
        explode(call_function("graft_ordered_pairs", col("pks"))).as("p"))
      .groupBy(col("p.a").as("antecedent"), col("p.b").as("consequent"))
      .agg(sum(col("m")).as("support"))
      .filter(col("support") >= AssocMinSup)
    val scored = pairs
      .join(Broadcasts.maybeBroadcast(
        c1.select(col("pk").as("antecedent"), col("c").as("c_ant")), cls("n_items")),
        "antecedent")
      .join(Broadcasts.maybeBroadcast(
        c1.select(col("pk").as("consequent"), col("c").as("c_cons")), cls("n_items")),
        "consequent")
      .crossJoin(broadcast(nB))
      .select(col("antecedent"), col("consequent"), col("support"),
        col("c_ant"), col("c_cons"), col("n_baskets"),
        expr("support * 1000000 div c_ant").as("conf_fwd_x1e6"),
        expr("support * 1000000 div c_cons").as("conf_rev_x1e6"),
        expr("""CAST((CAST(support AS DECIMAL(38,0)) * n_baskets * 1000000)
               | div (CAST(c_ant AS DECIMAL(38,0)) * c_cons) AS BIGINT)"""
          .stripMargin.replace("\n", " ")).as("lift_x1e6"))
    val w = Window.orderBy(col("lift_x1e6").desc,
      col("antecedent").asc, col("consequent").asc)
    Relational.localTopK(scored, AssocTopK,
      col("lift_x1e6").desc, col("antecedent").asc, col("consequent").asc)
      .withColumn("rank", row_number().over(w).cast("int"))
      .filter(col("rank") <= AssocTopK)
      .orderBy(col("rank"))
  }

  /** q_user_paths' path-prefix cap and output depth. The cap is the
    * standard guard against unbounded session strings: paths compare on
    * their first [[PathMaxLen]] steps. */
  val PathMaxLen = 8
  val PathTopK = 20

  /** q_user_paths: session path mining — the top most-common event-type
    * sequences across sessions (the "what do users actually do" discovery
    * pass that precedes designing a [[qFunnel]]). Sessions are
    * [[qSessionize]]'s 30-minute-gap sessions; each session renders as the
    * '>'-joined sequence of its first [[PathMaxLen]] event types in
    * (ts, event_id) order (the unique-key tiebreak), and paths rank by
    * (sessions desc, path asc) with distinct-user reach alongside.
    *
    * Scale shape: one shuffle to (user, time)-sort the events (the
    * sessionize window), one hash agg per session assembling the
    * length-capped path (per-group state is ≤ the session's events —
    * document-bounded, the [[graft.llm.TextStats.qCdcChunk]] stance), one
    * path-keyed agg counting sessions + users, map-side-pruned top-k
    * ([[Relational.localTopK]]) before the [[PathTopK]]-row rank window. */
  def qUserPaths(spark: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("us"), col("event_id"))
    val sess = Tables.events(spark, d)
      .select(col("user_id"), unix_micros(col("ts")).as("us"),
        col("event_id"), col("event_type"))
      .withColumn("prev_us", lag(col("us"), 1).over(w))
      .withColumn("is_new",
        when(col("prev_us").isNull ||
          col("us") - col("prev_us") > SessionGapUs, 1L).otherwise(0L))
      .withColumn("session_id",
        sum(col("is_new")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("user_id"), col("session_id"))
      .agg(concat_ws(">",
        slice(transform(
          array_sort(collect_list(struct(col("us"), col("event_id"),
            col("event_type")))),
          s => s.getField("event_type")), 1, PathMaxLen)).as("path"))
    val paths = sess.groupBy(col("path"))
      .agg(count(lit(1)).as("n_sessions"),
        countDistinct(col("user_id")).as("n_users"))
    val rw = Window.orderBy(col("n_sessions").desc, col("path").asc)
    Relational.localTopK(paths, PathTopK,
      col("n_sessions").desc, col("path").asc)
      .withColumn("rank", row_number().over(rw).cast("int"))
      .filter(col("rank") <= PathTopK)
      .orderBy(col("rank"))
  }

  val oracles: Map[String, String] = Map(
    "q_user_paths" ->
      s"""WITH e AS (
         |  SELECT user_id, epoch_us(ts) AS us, event_id, event_type
         |  FROM events),
         |g AS (
         |  SELECT *, CASE WHEN lag(us) OVER w IS NULL
         |                   OR us - lag(us) OVER w > $SessionGapUs
         |                 THEN 1 ELSE 0 END AS is_new
         |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
         |s AS (
         |  SELECT *, CAST(sum(is_new) OVER (PARTITION BY user_id
         |    ORDER BY us, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT)
         |    AS session_id
         |  FROM g),
         |sp AS (
         |  SELECT user_id, session_id,
         |    array_to_string(list(event_type ORDER BY us, event_id)
         |                    [1:$PathMaxLen], '>') AS path
         |  FROM s GROUP BY user_id, session_id),
         |p AS (
         |  SELECT path, count(*) AS n_sessions,
         |    count(DISTINCT user_id) AS n_users
         |  FROM sp GROUP BY path)
         |SELECT path, n_sessions, n_users,
         |  CAST(row_number() OVER (ORDER BY n_sessions DESC, path) AS INT)
         |    AS rank
         |FROM p ORDER BY rank LIMIT $PathTopK""".stripMargin,
    "q_assoc_rules" ->
      s"""WITH b AS MATERIALIZED (
         |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
         |nb AS (SELECT count(DISTINCT ok) AS n_baskets FROM b),
         |c1 AS (SELECT pk, count(*) AS c FROM b GROUP BY pk),
         |pairs AS (
         |  SELECT x.pk AS antecedent, y.pk AS consequent, count(*) AS support
         |  FROM b x JOIN b y ON x.ok = y.ok AND x.pk < y.pk
         |  GROUP BY x.pk, y.pk HAVING count(*) >= $AssocMinSup),
         |s AS (
         |  SELECT p.antecedent, p.consequent, p.support,
         |    a.c AS c_ant, q.c AS c_cons, nb.n_baskets,
         |    (p.support * 1000000) // a.c AS conf_fwd_x1e6,
         |    (p.support * 1000000) // q.c AS conf_rev_x1e6,
         |    CAST((CAST(p.support AS HUGEINT) * nb.n_baskets * 1000000)
         |      // (CAST(a.c AS HUGEINT) * q.c) AS BIGINT) AS lift_x1e6
         |  FROM pairs p JOIN c1 a ON a.pk = p.antecedent
         |  JOIN c1 q ON q.pk = p.consequent CROSS JOIN nb)
         |SELECT antecedent, consequent, support, c_ant, c_cons, n_baskets,
         |  conf_fwd_x1e6, conf_rev_x1e6, lift_x1e6,
         |  CAST(row_number() OVER (ORDER BY lift_x1e6 DESC, antecedent,
         |                          consequent) AS INT) AS rank
         |FROM s ORDER BY rank LIMIT $AssocTopK""".stripMargin,
    "q_markov" -> markovOracleSql,
    "q_sessionize" -> sessionizeOracleSql,
    "q_funnel" -> funnelOracleSql,
    "q_retention" -> retentionOracleSql,
    "q_anomaly" -> anomalyOracleSql,
    "q_active_users" -> activeUsersOracleSql,
    "q_attribution" -> attributionOracleSql)
}
