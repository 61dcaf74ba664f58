package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.MapType
import org.apache.spark.sql.types.{IntegerType, StringType}
import graft.tables.Tables

/** Relational query inventory (SURVEY.md §2.3): scans, filters, joins,
  * aggregates, windows, sorts, set ops, scalar functions.
  *
  * Every query is a pure `(SparkSession, sfDir) => DataFrame` built from
  * declarative DataFrame ops so Catalyst does pushdown/pruning/join
  * selection; no UDFs anywhere in this file.
  *
  * Oracle discipline (SURVEY.md §7 risk 3): each query ORDER BYs a unique
  * key, aliases every computed column to the same name as its DuckDB SQL,
  * sums doubles through DECIMAL(18,4) and casts the result back to DOUBLE so
  * both engines produce the bit-identical value.
  */
object Relational {

  /** Exact double sum: associative decimal accumulation, result as DOUBLE. */
  private def dsum(c: Column): Column = sum(c.cast("decimal(18,4)")).cast("double")

  // --- scans / filters -----------------------------------------------------

  /** O2/O7 analog: projection reaching the parquet scan (ReadSchema shows
    * only the 5 referenced columns). */
  def qScanProject(spark: SparkSession, d: String): DataFrame =
    Tables.lineitem(spark, d)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
        col("l_quantity"), col("l_extendedprice"))
      // (l_orderkey, l_linenumber) is NOT unique in this corpus — order by
      // every output column so tied rows are identical rows.
      .orderBy(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
        col("l_quantity"), col("l_extendedprice"))

  /** O7/O14: conjunctive predicate, pushed to the scan (PushedFilters). */
  def qFilterPred(spark: SparkSession, d: String): DataFrame =
    Tables.lineitem(spark, d)
      .filter(col("l_returnflag") === "R" && col("l_quantity") > 30 &&
        col("l_discount") <= 0.05)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
        col("l_discount"))
      .orderBy(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
        col("l_discount"))

  // --- joins ---------------------------------------------------------------

  /** O20: inner equi join on the id key. */
  def qJoinInner(spark: SparkSession, d: String): DataFrame =
    Tables.orders(spark, d)
      .join(Tables.customer(spark, d), col("o_custkey") === col("c_custkey"))
      .select(col("o_orderkey"), col("c_custkey"), col("c_name"), col("o_totalprice"))
      .orderBy(col("o_orderkey"))

  /** O20: left outer join + coalesce-style aggregation (unmatched keep 0). */
  def qJoinLeft(spark: SparkSession, d: String): DataFrame =
    Tables.customer(spark, d)
      .join(Tables.orders(spark, d), col("o_custkey") === col("c_custkey"), "left_outer")
      .groupBy(col("c_custkey"))
      .agg(
        count(col("o_orderkey")).as("n_orders"),
        coalesce(dsum(col("o_totalprice")), lit(0.0)).as("total_spent"))
      .orderBy(col("c_custkey"))

  /** O10/O11: the reference's broadcast color probe as a broadcast join
    * (small dim `part` built side → BroadcastHashJoin). Spark decides it
    * from the `part` file size against `autoBroadcastJoinThreshold`: a dim
    * table still grows with SF, and past the threshold the same join
    * degrades to sort-merge instead of OOMing the broadcast build; at every
    * gate scale the file is far under it and the plan stays the asserted
    * BroadcastHashJoin. */
  def qJoinBroadcast(spark: SparkSession, d: String): DataFrame =
    Tables.lineitem(spark, d)
      .join(Tables.part(spark, d), col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"))
      .agg(
        dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy(col("p_brand"))

  /** Semi join: customers having at least one order (EXISTS). */
  def qJoinSemi(spark: SparkSession, d: String): DataFrame =
    Tables.customer(spark, d)
      .join(Tables.orders(spark, d), col("c_custkey") === col("o_custkey"), "left_semi")
      .select(col("c_custkey"), col("c_name"))
      .orderBy(col("c_custkey"))

  /** Anti join: parts never shipped in a quantity above 49 (NOT EXISTS).
    * (Customers-without-orders would be the natural phrasing but is empty in
    * this corpus — a vacuous check.) */
  def qJoinAnti(spark: SparkSession, d: String): DataFrame =
    Tables.part(spark, d)
      .join(
        Tables.lineitem(spark, d).filter(col("l_quantity") > 49),
        col("p_partkey") === col("l_partkey"), "left_anti")
      .select(col("p_partkey"), col("p_name"))
      .orderBy(col("p_partkey"))

  /** As-of join (the time-series operator the reference lacks — SURVEY.md
    * §2.2 "Joins"): each event is matched to the customer's latest order
    * with `o_orderdate <= ts` (events.user_id maps to c_custkey − 1 in this
    * corpus). Composed from existing ops per the custom-operator preference
    * order: inequality join pruned by a per-key argmax — `max_by` over the
    * (o_orderdate, o_orderkey) pair is a partial-aggregating hash agg, so
    * the candidate blow-up from the inequality join is collapsed MAP-SIDE
    * before the shuffle (the row_number window it replaces sorted every
    * event's candidate list after shuffling all of them; same result,
    * orderkey uniqueness makes the argmax deterministic). */
  def qJoinAsof(spark: SparkSession, d: String): DataFrame = {
    // Not spread: the custkey exchange below already redistributes — a
    // round-robin exchange before it would double the shuffle for nothing.
    val ev = Tables.events(spark, d)
      .select(col("event_id"), col("ts"), (col("user_id") + 1).as("custkey"))
    val ord = Tables.orders(spark, d)
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"), col("o_totalprice"))
    ev.join(ord,
        col("custkey") === col("o_custkey") && col("o_orderdate") <= col("ts"),
        "inner")
      .groupBy(col("event_id"), col("custkey"))
      .agg(max_by(struct(col("o_orderkey"), col("o_totalprice")),
        struct(col("o_orderdate"), col("o_orderkey"))).as("m"))
      .select(col("event_id"), col("custkey"),
        col("m.o_orderkey").as("o_orderkey"),
        col("m.o_totalprice").as("o_totalprice"))
      .orderBy(col("event_id"))
  }

  /** Range join: assign each order a literal price band via an inequality
    * join against a tiny bands table (broadcast — the build side is 4 rows,
    * so the probe streams with no shuffle). */
  def qJoinRange(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val bands = Seq(
      ("low", 0.0, 50000.0), ("mid", 50000.0, 150000.0),
      ("high", 150000.0, 300000.0), ("top", 300000.0, Double.MaxValue))
      .toDF("band", "lo", "hi")
    Tables.orders(spark, d)
      .join(broadcast(bands),
        col("o_totalprice") >= col("lo") && col("o_totalprice") < col("hi"))
      .groupBy(col("band"))
      .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("band_total"))
      .orderBy(col("band"))
  }

  /** Full-outer join — the one join type the family lacked: monthly order
    * intake vs monthly shipment volume on the month key. The two sides
    * genuinely mis-overlap in this corpus (shipments run up to ~4 months
    * past the last order month), so both null directions are exercised and
    * coalesced to explicit zero rows — the "no activity on this side" month.
    * Scale shape: both inputs are already month-grain aggregates (a few
    * hundred rows at any SF), so the full-outer is a coalesced-key merge of
    * two partial-aggregated hash-agg outputs; the month cardinality grows
    * with calendar time, not data volume. */
  def qJoinFull(spark: SparkSession, d: String): DataFrame = {
    val om = Tables.orders(spark, d)
      .groupBy(date_trunc("month", col("o_orderdate")).cast("date").as("o_mon"))
      .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("revenue"))
    val sm = Tables.lineitem(spark, d)
      .groupBy(date_trunc("month", col("l_shipdate")).cast("date").as("s_mon"))
      .agg(count(lit(1)).as("n_shipped"), dsum(col("l_quantity")).as("ship_qty"))
    om.join(sm, col("o_mon") === col("s_mon"), "full_outer")
      .select(
        coalesce(col("o_mon"), col("s_mon")).as("mon"),
        coalesce(col("n_orders"), lit(0L)).as("n_orders"),
        coalesce(col("revenue"), lit(0.0)).as("revenue"),
        coalesce(col("n_shipped"), lit(0L)).as("n_shipped"),
        coalesce(col("ship_qty"), lit(0.0)).as("ship_qty"))
      .orderBy(col("mon"))
  }

  // --- aggregates ----------------------------------------------------------

  /** O17 shape: partial+final hash aggregate (TPC-H Q1 style). `avg_disc` is
    * computed as exact-decimal-sum / count so both engines divide the same
    * exact double. NOT spread: the per-row work (4 decimal sums) costs less
    * than the shuffle encode a spread would add, so scan-side parallelism
    * (row-group splits) is the right lever — Tables.spread pays only for
    * CPU-dense downstreams (token explodes, sketches, parses). */
  def qAggPartial(spark: SparkSession, d: String): DataFrame =
    Tables.lineitem(spark, d)
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        dsum(col("l_quantity")).as("sum_qty"),
        dsum(col("l_extendedprice")).as("sum_price"),
        (dsum(col("l_discount")) / count(lit(1))).as("avg_disc"),
        count(lit(1)).as("n"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))

  /** O15/q_group_collect: list aggregation, sorted for determinism. The
    * list is rendered as a comma-joined string (sorted numerically first):
    * the driver's compare loads both results into pandas, which cannot
    * hash/sort array cells — string serialization keeps the oracle check
    * exact. */
  def qGroupCollect(spark: SparkSession, d: String): DataFrame =
    Tables.orders(spark, d)
      .groupBy(col("o_custkey"))
      .agg(array_join(array_sort(collect_list(col("o_orderkey"))).cast("array<string>"), ",")
        .as("orderkeys"))
      .orderBy(col("o_custkey"))

  /** Distinct aggregation. */
  def qDistinct(spark: SparkSession, d: String): DataFrame =
    Tables.lineitem(spark, d)
      .groupBy(col("l_returnflag"))
      .agg(
        countDistinct(col("l_partkey")).as("n_parts"),
        countDistinct(col("l_suppkey")).as("n_supps"),
        count(lit(1)).as("n_rows"))
      .orderBy(col("l_returnflag"))

  /** Approximate distinct via a deterministic linear-counting sketch:
    * bucket = 32 md5 bits of the key mod m, estimate = −m·ln(1 − filled/m).
    * Cross-engine reproducible (md5 + IEEE double, rounded to an integer),
    * so unlike `approx_count_distinct` (HLL++, engine-specific register
    * layout) it hash-matches the DuckDB oracle bit for bit. The native HLL
    * sketch stays available and is asserted within its error bound in
    * RelationalSpec. Scale posture identical to HLL: the shuffle carries one
    * m-bounded bucket id per row and the merge is a partial distinct. */
  def qApproxDistinct(spark: SparkSession, d: String): DataFrame = {
    val m = 65536
    val bucket = pmod(
      conv(substring(md5(col("l_partkey").cast("string")), 1, 8), 16, 10).cast("long"),
      lit(m.toLong))
    Tables.lineitem(spark, d)
      .select(col("l_returnflag"), bucket.as("bucket"))
      .groupBy(col("l_returnflag"))
      .agg(countDistinct(col("bucket")).as("filled"))
      // Saturation clamp: filled = m gives ln(0) → −∞ (Spark casts to Long,
      // DuckDB errors on CAST('inf')) — plausible once distinct keys per
      // group approach m·ln(m) at sf ≥ 1. Clamping to m−1 keeps the
      // estimator finite and cross-engine identical; at that point the
      // estimate is saturated anyway (pick a larger m for real cardinality
      // work — the sketch size is a parameter, not a constant).
      .select(col("l_returnflag"),
        round(lit(-m.toDouble) *
            log(lit(1.0) - least(col("filled"), lit(m - 1L)).cast("double") / m))
          .cast("long").as("approx_parts"))
      .orderBy(col("l_returnflag"))
  }

  /** q_hist_quantile: approximate median from an equi-width histogram —
    * the deterministic member of the approximate-quantile family (native
    * `approx_percentile` is a t-digest whose merge is engine- and
    * partitioning-specific; a histogram sketch is order-independent and
    * cross-engine exact). One hash-agg to (group, bucket) counts — the
    * shuffle carries ≤ #buckets rows per group no matter the corpus size —
    * then a window scan finds the first bucket where 2·cum ≥ n; the
    * estimate is that bucket's midpoint. Spec asserts the estimate brackets
    * the exact percentile. */
  def qHistQuantile(spark: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val width = 1000
    val buckets = Tables.lineitem(spark, d)
      .groupBy(col("l_returnflag"),
        floor(col("l_extendedprice") / width).cast("long").as("bucket"))
      .agg(count(lit(1)).as("cnt"))
    val cum = Window.partitionBy(col("l_returnflag")).orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = Window.partitionBy(col("l_returnflag"))
    buckets
      .withColumn("cum", sum(col("cnt")).over(cum))
      .withColumn("n", sum(col("cnt")).over(tot))
      .filter(col("cum") * 2 >= col("n"))
      .groupBy(col("l_returnflag"))
      .agg(min(col("bucket")).as("med_bucket"), max(col("n")).as("n"))
      .select(col("l_returnflag"),
        ((col("med_bucket").cast("double") + 0.5) * width).as("approx_median"),
        col("n"))
      .orderBy(col("l_returnflag"))
  }

  /** q_merge_upsert: the MERGE INTO / upsert shape without a table format —
    * base ⟗ updates on the key, update rows replace matched base rows
    * (`coalesce` preferring the update side), unmatched updates insert. The
    * full-outer join is the engine-level primitive every lakehouse MERGE
    * lowers to; at scale the join shuffles on the key and AQE handles the
    * usually-much-smaller update side. The deterministic "delta" is derived
    * from the base itself: keys ≡0 (mod 10) get status 'U' and doubled
    * price; keys ≡0 (mod 1000) also insert a shifted-key new row. Output is
    * the post-merge audit aggregate. */
  def qMergeUpsert(spark: SparkSession, d: String): DataFrame = {
    val base = Tables.orders(spark, d)
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
    val updates = base.filter(col("o_orderkey") % 10 === 0)
      .select(col("o_orderkey"), lit("U").as("o_orderstatus"),
        (col("o_totalprice") * 2).as("o_totalprice"))
      .unionByName(base.filter(col("o_orderkey") % 1000 === 0)
        .select((col("o_orderkey") + 10000000L).as("o_orderkey"),
          lit("I").as("o_orderstatus"), col("o_totalprice")))
    val merged = base.as("b")
      .join(updates.as("u"), col("b.o_orderkey") === col("u.o_orderkey"), "full_outer")
      .select(
        coalesce(col("u.o_orderkey"), col("b.o_orderkey")).as("o_orderkey"),
        coalesce(col("u.o_orderstatus"), col("b.o_orderstatus")).as("o_orderstatus"),
        coalesce(col("u.o_totalprice"), col("b.o_totalprice")).as("o_totalprice"))
    merged.agg(
        count(lit(1)).as("n_rows"),
        sum(when(col("o_orderstatus") === "U", 1L).otherwise(0L)).as("n_updated"),
        sum(when(col("o_orderstatus") === "I", 1L).otherwise(0L)).as("n_inserted"),
        sum(col("o_totalprice").cast("decimal(18,4)")).cast("double").as("total_price"))
  }

  /** q_stats_moments: variance / stddev / correlation per group — the
    * statistical-aggregate family, computed DETERMINISTICALLY: native
    * `stddev`/`corr` merge partial float states in partition order (last-ulp
    * differs per engine AND per partitioning), so instead the exact power
    * sums n, Σx, Σy, Σx², Σy², Σxy accumulate as DECIMAL(38,6) (exact —
    * inputs have 2 decimals) and the closed-form moments are derived in
    * one double expression per side. Same scale shape as any partial-agg
    * groupBy; the derivation is map-side arithmetic on 6 exact columns. */
  def qStatsMoments(spark: SparkSession, d: String): DataFrame = {
    // Inputs have 2 decimals → ×100 integer scaling is exact; power sums
    // accumulate as DECIMAL(38,0) (per-row products fit a Long; group sums
    // don't at sf ≥ 0.1, hence decimal not bigint). DECIMAL(38,0) → DOUBLE
    // is a correctly-rounded single conversion on BOTH engines — casting a
    // scaled decimal (e.g. (38,6)) is NOT: DuckDB divides the unscaled
    // int128 by 10^scale in floating point and lands ulps off Spark's
    // BigDecimal.doubleValue. From there the closed-form moments are the
    // same double expression on both sides; the ×100 unit divides back out
    // (corr is scale-free).
    val qi = round(col("l_quantity") * 100).cast("long")
    val pi = round(col("l_extendedprice") * 100).cast("long")
    def d38(c: Column) = c.cast("decimal(38,0)")
    val g = Tables.lineitem(spark, d)
      .select(col("l_returnflag"), qi.as("qi"), pi.as("pi"))
      .groupBy(col("l_returnflag"))
      .agg(
        count(lit(1)).as("n"),
        sum(d38(col("qi"))).as("sx"), sum(d38(col("pi"))).as("sy"),
        sum(d38(col("qi") * col("qi"))).as("sxx"),
        sum(d38(col("pi") * col("pi"))).as("syy"),
        sum(d38(col("qi") * col("pi"))).as("sxy"))
    val nd = col("n").cast("double")
    def dd(c: Column) = c.cast("double")
    val varX = (dd(col("sxx")) - dd(col("sx")) * dd(col("sx")) / nd) / (nd - 1)
    val varY = (dd(col("syy")) - dd(col("sy")) * dd(col("sy")) / nd) / (nd - 1)
    val covXY = (dd(col("sxy")) - dd(col("sx")) * dd(col("sy")) / nd) / (nd - 1)
    g.select(col("l_returnflag"), col("n"),
        (varX / 10000.0).as("var_qty"),
        (sqrt(varX) / 100.0).as("stddev_qty"),
        (covXY / sqrt(varX * varY)).as("corr_qty_price"))
      .orderBy(col("l_returnflag"))
  }

  /** q_gap_fill: timeseries gap filling — dense daily buckets per supplier
    * from min to max shipdate via `sequence` + explode, left-joined back so
    * missing days surface as zero rows (the resample/asfreq primitive).
    * The expansion is map-side (one array per key); only the original daily
    * agg shuffles. */
  def qGapFill(spark: SparkSession, d: String): DataFrame = {
    val daily = Tables.lineitem(spark, d)
      .filter(col("l_suppkey") <= 20)
      .groupBy(col("l_suppkey"),
        datediff(to_date(col("l_shipdate")), lit("1970-01-01")).cast("long")
          .as("day_num"))
      .agg(sum(col("l_quantity").cast("decimal(18,4)")).cast("double").as("qty"))
    val spans = daily.groupBy(col("l_suppkey"))
      .agg(min(col("day_num")).as("d0"), max(col("day_num")).as("d1"))
    val dense = spans.select(col("l_suppkey"),
      explode(sequence(col("d0"), col("d1"))).as("day_num"))
    dense.join(daily, Seq("l_suppkey", "day_num"), "left_outer")
      .select(col("l_suppkey"), col("day_num"),
        coalesce(col("qty"), lit(0.0)).as("qty"))
      .orderBy(col("l_suppkey"), col("day_num"))
  }

  /** q_scd2: slowly-changing-dimension TYPE 2 build — the warehouse
    * dimension-versioning primitive: collapse each user's event stream into
    * attribute VERSIONS (consecutive runs of the same `event_type`), each
    * carrying a validity interval `[valid_from, valid_to)` and a current
    * flag. The gaps-and-islands construction: lag marks run starts, a
    * running sum numbers versions, the run-start row carries the interval
    * open, and lead over run starts closes it.
    *
    * Scale shape: ONE hash exchange on `user_id` serves every stage — the
    * lag/cumsum windows, the per-(user, version) count window (user_id ⊆
    * its partition keys, so `EnsureRequirements` adds no second exchange),
    * and the lead over run starts. Versioning a 100 TB event log is one
    * shuffle plus per-partition sorts. Interval bounds output as epoch
    * MICROS (the stream-family convention) so the compare never crosses a
    * parquet timestamp-width boundary. */
  def qScd2(spark: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byTime = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val run = Window.partitionBy(col("user_id"), col("version"))
    val byVersion = Window.partitionBy(col("user_id")).orderBy(col("version"))
    Tables.events(spark, d)
      .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
      .withColumn("prev", lag(col("event_type"), 1).over(byTime))
      .withColumn("chg",
        when(col("prev").isNull || col("prev") =!= col("event_type"), 1L)
          .otherwise(0L))
      .withColumn("version",
        sum(col("chg")).over(byTime.rowsBetween(Window.unboundedPreceding,
          Window.currentRow)).cast("int"))
      .withColumn("n_events", count(lit(1)).over(run))
      .filter(col("chg") === 1L)
      .withColumn("valid_from_us", unix_micros(col("ts")))
      .withColumn("valid_to_us", unix_micros(lead(col("ts"), 1).over(byVersion)))
      .select(col("user_id"), col("version"), col("event_type"), col("n_events"),
        col("valid_from_us"), col("valid_to_us"),
        col("valid_to_us").isNull.cast("int").as("is_current"))
      .orderBy(col("user_id"), col("version"))
  }

  /** q_window_range: RANGE-framed window — the value-based frame (`RANGE
    * BETWEEN 6 PRECEDING AND CURRENT ROW` over a day number = trailing
    * 7-day sum) that row-count frames (q_window_frame) can't express when
    * gaps exist in the series. Framed on integer days-since-epoch so both
    * engines bound the frame identically. */
  def qWindowRange(spark: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = Tables.lineitem(spark, d)
      .groupBy(col("l_suppkey"),
        datediff(to_date(col("l_shipdate")), lit("1970-01-01")).cast("long")
          .as("day_num"))
      .agg(sum(col("l_quantity").cast("decimal(18,4)")).as("day_qty"))
    val w = Window.partitionBy(col("l_suppkey")).orderBy(col("day_num"))
      .rangeBetween(-6, Window.currentRow)
    daily
      .select(col("l_suppkey"), col("day_num"),
        sum(col("day_qty")).over(w).cast("double").as("week_qty"))
      .orderBy(col("l_suppkey"), col("day_num"))
  }

  /** q_window_cume: the DISTRIBUTION window functions (percent_rank,
    * cume_dist) the navigation/frame queries don't cover — each customer's
    * standing within its market segment by account balance. The ordering
    * key (c_acctbal desc, c_custkey) is unique, so both rank fractions are
    * deterministic; percent_rank divides (rank−1)/(n−1) and cume_dist
    * divides running-count/n — both IEEE divisions of exact BIGINTs, so
    * the engines agree bit-for-bit. One hash exchange on the segment key,
    * in-partition sort — the plain windowed-analytics shape. */
  def qWindowCume(spark: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("c_mktsegment"))
      .orderBy(col("c_acctbal").desc, col("c_custkey"))
    Tables.customer(spark, d)
      .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"),
        percent_rank().over(w).as("pr"),
        cume_dist().over(w).as("cd"))
      .filter(col("c_custkey") <= 200)
      .orderBy(col("c_custkey"))
  }

  /** Arbitrary GROUPING SETS through the SQL layer (ROLLUP/CUBE cover only
    * the prefix/powerset shapes) — same text runs on DuckDB. Also the one
    * query exercising `spark.sql` over a registered view: SparkEntry is
    * DataFrame-first, but the SQL surface is part of the engine contract. */
  def qGroupingSets(spark: SparkSession, d: String): DataFrame = {
    Tables.lineitem(spark, d).createOrReplaceTempView("lineitem_v")
    spark.sql(
      """SELECT coalesce(l_returnflag, 'ALL') AS rf, coalesce(l_linestatus, 'ALL') AS ls,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty, count(*) AS n
        |FROM lineitem_v
        |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_linestatus), ())
        |ORDER BY rf, ls""".stripMargin)
  }

  /** Correlated EXISTS / NOT EXISTS subqueries — Catalyst rewrites them to
    * semi/anti joins (visible in the plan), so the scale behavior is the
    * q_join_semi / q_join_anti shape, not a per-row probe. */
  def qSubqueryExists(spark: SparkSession, d: String): DataFrame = {
    Tables.orders(spark, d).createOrReplaceTempView("orders_v")
    Tables.lineitem(spark, d).createOrReplaceTempView("lineitem_v")
    spark.sql(
      """SELECT o_orderkey, o_custkey FROM orders_v o
        |WHERE EXISTS (SELECT 1 FROM lineitem_v l
        |              WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity > 45)
        |  AND NOT EXISTS (SELECT 1 FROM lineitem_v l
        |                  WHERE l.l_orderkey = o.o_orderkey AND l.l_returnflag = 'R')
        |ORDER BY o_orderkey""".stripMargin)
  }

  /** Conditional aggregation: FILTER-style counts and CASE-guarded sums in
    * one pass over the fact table (no self-joins per condition). */
  def qConditionalAgg(spark: SparkSession, d: String): DataFrame =
    Tables.lineitem(spark, d)
      .groupBy(col("l_returnflag"))
      .agg(
        sum(when(col("l_quantity") > 25, 1L).otherwise(0L)).as("n_big"),
        sum(when(col("l_discount") > 0.05, col("l_quantity")).otherwise(lit(0))
          .cast("decimal(18,4)")).cast("double").as("disc_qty"),
        count(lit(1)).as("n_rows"))
      .orderBy(col("l_returnflag"))

  /** Rollup over (returnflag, linestatus); grouping nulls folded to 'ALL'
    * so null-ordering differences between engines can't bite. Like
    * q_agg_partial, not spread: the Expand×3 + sums are still cheaper per
    * row than a reshuffle; scan splits carry the width. */
  def qRollup(spark: SparkSession, d: String): DataFrame =
    Tables.lineitem(spark, d)
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(dsum(col("l_quantity")).as("sum_qty"), count(lit(1)).as("n"))
      .select(
        coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
        coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
        col("sum_qty"), col("n"))
      .orderBy(col("rf"), col("ls"))

  /** Cube over (returnflag, linestatus) — all 4 grouping combinations. */
  def qCube(spark: SparkSession, d: String): DataFrame =
    Tables.lineitem(spark, d)
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(dsum(col("l_quantity")).as("sum_qty"), count(lit(1)).as("n"))
      .select(
        coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
        coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
        col("sum_qty"), col("n"))
      .orderBy(col("rf"), col("ls"))

  /** Exact interpolated percentiles per group (median + p90 of quantity). */
  def qPercentile(spark: SparkSession, d: String): DataFrame =
    Tables.lineitem(spark, d)
      .groupBy(col("l_returnflag"))
      .agg(
        percentile(col("l_quantity"), lit(0.5)).as("median_qty"),
        percentile(col("l_quantity"), lit(0.9)).as("p90_qty"))
      .orderBy(col("l_returnflag"))

  /** Pivot: quantity sums by linestatus column per returnflag row (fixed
    * pivot values so the output schema is static). */
  def qPivot(spark: SparkSession, d: String): DataFrame =
    Tables.lineitem(spark, d)
      .groupBy(col("l_returnflag"))
      .pivot("l_linestatus", Seq("F", "O"))
      .agg(dsum(col("l_quantity")))
      .select(col("l_returnflag"),
        coalesce(col("F"), lit(0.0)).as("qty_f"),
        coalesce(col("O"), lit(0.0)).as("qty_o"))
      .orderBy(col("l_returnflag"))

  // --- windows -------------------------------------------------------------

  /** O8 analog: row_number + rank per nation by balance (top 5 each). */
  def qWindowRank(spark: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("c_nationkey"))
      .orderBy(col("c_acctbal").desc, col("c_custkey").asc)
    Tables.customer(spark, d)
      .select(col("c_custkey"), col("c_nationkey"), col("c_acctbal"),
        row_number().over(w).as("rn"), rank().over(w).as("rnk"))
      .filter(col("rn") <= 5)
      .orderBy(col("c_nationkey"), col("rn"))
  }

  /** Frame-spec running aggregate: per-supplier running daily quantity
    * (ROWS UNBOUNDED PRECEDING). Aggregating to (l_suppkey, l_shipdate)
    * first makes the window ORDER BY key unique, so the running sum is
    * deterministic — a raw-lineitem ordering would tie. */
  def qWindowFrame(spark: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = Tables.lineitem(spark, d)
      .groupBy(col("l_suppkey"), col("l_shipdate"))
      .agg(sum(col("l_quantity").cast("decimal(18,4)")).as("day_qty"))
    val w = Window.partitionBy(col("l_suppkey")).orderBy(col("l_shipdate"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    daily
      .select(col("l_suppkey"), col("l_shipdate"),
        sum(col("day_qty")).over(w).cast("double").as("running_qty"))
      .orderBy(col("l_suppkey"), col("l_shipdate"))
  }

  /** Analytic offset/distribution window functions (lead/lag/ntile) over
    * the per-supplier daily series — the navigation class q_window_rank /
    * q_window_frame don't cover. Same unique (suppkey, shipdate) ordering
    * key keeps every offset deterministic. */
  def qWindowLeadLag(spark: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = Tables.lineitem(spark, d)
      .groupBy(col("l_suppkey"), col("l_shipdate"))
      .agg(sum(col("l_quantity").cast("decimal(18,4)")).cast("double").as("day_qty"))
    val w = Window.partitionBy(col("l_suppkey")).orderBy(col("l_shipdate"))
    daily
      .select(col("l_suppkey"), col("l_shipdate"),
        // Sentinel instead of NULL at the partition edges: quantities are
        // positive, and no other contract query ships NULL cells through
        // the driver compare (NaN-vs-None round-trip differences between
        // loaders are not worth betting the gate on).
        coalesce(lag(col("day_qty"), 1).over(w), lit(-1.0)).as("prev_qty"),
        coalesce(lead(col("day_qty"), 1).over(w), lit(-1.0)).as("next_qty"),
        ntile(4).over(w).as("quartile"))
      .filter(col("l_suppkey") <= 25)
      .orderBy(col("l_suppkey"), col("l_shipdate"))
  }

  /** Null-semantics operators: null-safe equality (`<=>` /
    * IS NOT DISTINCT FROM), NULLIF-introduced nulls, COALESCE fallback,
    * and null-aware counting — the semantics layer every engine must pin
    * down, exercised where both engines must agree exactly. */
  def qNullHandling(spark: SparkSession, d: String): DataFrame =
    Tables.orders(spark, d)
      .select(col("o_orderkey"), col("o_orderstatus"),
        nullif(col("o_orderstatus"), lit("O")).as("status_or_null"))
      .groupBy(col("o_orderstatus"))
      .agg(
        count(col("status_or_null")).as("n_nonnull"),
        count(lit(1)).as("n_rows"),
        sum((col("status_or_null") <=> lit(null)).cast("long")).as("n_nullsafe_eq_null"),
        min(coalesce(col("status_or_null"), lit("-"))).as("coalesced"))
      .orderBy(col("o_orderstatus"))

  // --- sorts / limits ------------------------------------------------------

  /** Map-side prune for a GLOBAL rank-k window: Spark's
    * InferWindowGroupLimit only fires on windows with a non-empty
    * partitionSpec (probed on 4.1 — a global `row_number ≤ k` filter
    * group-limits nothing and moves the WHOLE input to one partition), so
    * callers that need rank NUMBERS (not just a limit) prune here first:
    * rank within `spark_partition_id` groups — the partitioned window DOES
    * get the map-side group limit, so only ≤ k rows per input partition
    * ever shuffle — and run their global rank window over the ≤ P·k
    * survivors. Result-identical for ANY grouping: per-group top-k is a
    * superset of the global top-k whenever `order` is a total order (every
    * call site ties-breaks to totality), and the surviving global window
    * re-ranks deterministically. */
  private[graft] def localTopK(df: DataFrame, k: Int, order: Column*): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__g")).orderBy(order: _*)
    df.withColumn("__g", spark_partition_id())
      .withColumn("__lr", row_number().over(w))
      .filter(col("__lr") <= k)
      .drop("__g", "__lr")
  }

  /** Top-k: planned as TakeOrderedAndProject (no global sort). */
  def qTopk(spark: SparkSession, d: String): DataFrame =
    Tables.orders(spark, d)
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      .limit(10)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))

  // --- set ops -------------------------------------------------------------

  /** union / intersect / except in one query. */
  def qSetops(spark: SparkSession, d: String): DataFrame = {
    val active = Tables.orders(spark, d).select(col("o_custkey").as("k")).distinct()
    val rich = Tables.customer(spark, d)
      .filter(col("c_acctbal") > 5000).select(col("c_custkey").as("k"))
    val both = active.intersect(rich).withColumn("tag", lit("both"))
    val onlyRich = rich.except(active).withColumn("tag", lit("only_rich"))
    both.unionAll(onlyRich).select(col("k"), col("tag")).orderBy(col("tag"), col("k"))
  }

  // --- scalar functions ----------------------------------------------------

  def qScalarStr(spark: SparkSession, d: String): DataFrame =
    Tables.customer(spark, d)
      .select(
        col("c_custkey"),
        upper(col("c_name")).as("uname"),
        substring(col("c_name"), 1, 8).as("prefix"),
        concat(col("c_mktsegment"), lit("_"), col("c_name")).as("tagged"),
        length(col("c_name")).as("name_len"))
      .orderBy(col("c_custkey"))

  def qScalarDate(spark: SparkSession, d: String): DataFrame =
    Tables.lineitem(spark, d)
      .select(
        col("l_orderkey"), col("l_linenumber"),
        year(col("l_shipdate")).as("ship_year"),
        month(col("l_shipdate")).as("ship_month"),
        // trunc → DateType, matching DuckDB's date_trunc('month', DATE)
        trunc(col("l_shipdate"), "month").as("ship_mon"),
        datediff(col("l_shipdate").cast("date"), lit("1995-01-01").cast("date"))
          .as("days_since"))
      .orderBy(col("l_orderkey"), col("l_linenumber"), col("days_since"))

  def qScalarMath(spark: SparkSession, d: String): DataFrame =
    Tables.lineitem(spark, d)
      .select(
        col("l_orderkey"), col("l_linenumber"),
        // raw IEEE product — identical in both engines; DuckDB's round(double)
        // goes through double multiply and diverges from Spark's BigDecimal
        // HALF_UP, so no round() in oracle-compared columns
        (col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("net"),
        abs(col("l_discount") - lit(0.05)).cast("double").as("disc_dev"),
        floor(col("l_extendedprice") / 100).as("price_bucket"),
        sqrt(col("l_quantity")).as("qty_sqrt"),
        pmod(col("l_partkey"), lit(97L)).as("pk_mod"))
      .orderBy(col("l_orderkey"), col("l_linenumber"), col("net"),
        col("disc_dev"), col("price_bucket"), col("qty_sqrt"), col("pk_mod"))

  /** q_profile: ANALYZE-style column profiling — null counts, exact
    * distinct cardinalities, and min/max for a representative column set,
    * in ONE scan of the fact table (the data-quality / optimizer-stats
    * primitive every ingest pipeline runs on arrival). Multiple
    * count(DISTINCT) in one aggregate lower to a single-scan Expand (input
    * ×4 rows map-side, then one partial-aggregating shuffle) — at 100 TB
    * that is the difference between one pass and one pass per column. The
    * wide stats row is reshaped long via an in-row struct explode. */
  def qProfile(spark: SparkSession, d: String): DataFrame = {
    def nNull(c: String) = sum(when(col(c).isNull, 1L).otherwise(0L))
    val li = Tables.lineitem(spark, d)
    val wide = li.agg(
      count(lit(1)).as("n"),
      nNull("l_quantity").as("null_q"),
      countDistinct(col("l_quantity")).as("d_q"),
      min(col("l_quantity")).cast("double").as("mn_q"),
      max(col("l_quantity")).cast("double").as("mx_q"),
      nNull("l_partkey").as("null_p"),
      countDistinct(col("l_partkey")).as("d_p"),
      min(col("l_partkey")).cast("double").as("mn_p"),
      max(col("l_partkey")).cast("double").as("mx_p"),
      nNull("l_discount").as("null_d"),
      countDistinct(col("l_discount")).as("d_d"),
      min(col("l_discount")).cast("double").as("mn_d"),
      max(col("l_discount")).cast("double").as("mx_d"),
      nNull("l_returnflag").as("null_r"),
      countDistinct(col("l_returnflag")).as("d_r"),
      min(col("l_returnflag")).as("mn_r"),
      max(col("l_returnflag")).as("mx_r"))
    val noNum = lit(null).cast("double")
    val noStr = lit(null).cast("string")
    def row(name: String, nu: String, di: String, mn: Column, mx: Column,
        mns: Column, mxs: Column) =
      struct(lit(name).as("column"), col("n").as("n_rows"),
        col(nu).as("n_null"), col(di).as("n_distinct"),
        mn.as("min_num"), mx.as("max_num"), mns.as("min_str"), mxs.as("max_str"))
    wide.select(explode(array(
      row("l_discount", "null_d", "d_d", col("mn_d"), col("mx_d"), noStr, noStr),
      row("l_partkey", "null_p", "d_p", col("mn_p"), col("mx_p"), noStr, noStr),
      row("l_quantity", "null_q", "d_q", col("mn_q"), col("mx_q"), noStr, noStr),
      row("l_returnflag", "null_r", "d_r", noNum, noNum, col("mn_r"), col("mx_r"))))
      .as("s"))
      .select(col("s.*"))
      .orderBy(col("column"))
  }

  /** q_cogroup: group-wise custom logic through the TYPED API —
    * `KeyValueGroupedDataset.cogroup` over orders ⟂ lineitems on the order
    * key (the Dataset analog of `flatMapGroupsWithState`'s batch shape, and
    * of PySpark's `applyInPandas` cogroup). Each side shuffles once on the
    * key; the lambda sees both iterators. The per-group arithmetic is
    * ×100-integer cents so the fold is order-independent (iterator order
    * within a cogroup bucket is partitioning-dependent; double sums there
    * would be nondeterministic). Use joins when the logic is expressible —
    * a lambda forfeits codegen — but THIS is the operator for genuinely
    * imperative per-group logic, and the oracle proves the join-equivalent
    * semantics (LEFT JOIN + aggregate). */
  def qCogroup(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val ord = Tables.orders(spark, d)
      .select(col("o_orderkey"), col("o_orderstatus"))
      .as[(Long, String)].groupByKey(_._1)
    val li = Tables.lineitem(spark, d)
      .select(col("l_orderkey"),
        round(col("l_extendedprice") * 100).cast("long").as("cents"))
      .as[(Long, Long)].groupByKey(_._1)
    ord.cogroup(li) { (k, os, ls) =>
      os.map(_._2).take(1).map { status =>
        var n = 0L
        var cents = 0L
        ls.foreach { case (_, c) => n += 1; cents += c }
        (k, status, n, cents)
      }
    }.toDF("o_orderkey", "o_orderstatus", "n_items", "cents_total")
      .orderBy(col("o_orderkey"))
  }

  /** q_unpivot: wide→long reshaping via the native `unpivot` operator (the
    * inverse of q_pivot) — three measure columns melt into (measure, value)
    * rows, then a per-measure aggregate. Unpivot is a map-side expand (one
    * output row per input×measure, no shuffle until the aggregate), so the
    * long table never materializes wider than the agg's partial buffers.
    * The oracle replays it as the UNION ALL every UNPIVOT lowers to. */
  def qUnpivot(spark: SparkSession, d: String): DataFrame =
    Tables.lineitem(spark, d)
      .select(col("l_orderkey"), col("l_quantity"), col("l_discount"), col("l_tax"))
      .unpivot(
        Array(col("l_orderkey")),
        Array(col("l_quantity"), col("l_discount"), col("l_tax")),
        "measure", "value")
      .groupBy(col("measure"))
      .agg(dsum(col("value")).as("total"), count(lit(1)).as("n"),
        dsum(col("value")).divide(count(lit(1))).as("mean"))
      .orderBy(col("measure"))

  /** Array functions over the derived adjacency list. `first3` is rendered
    * as a comma-joined string (pandas in the driver compare cannot hash
    * array cells). */
  def qArrayFns(spark: SparkSession, d: String): DataFrame =
    GraphOps.edges(spark, d)
      .groupBy(col("src"))
      .agg(array_sort(collect_set(col("dst"))).as("nbrs"))
      .select(
        col("src"),
        size(col("nbrs")).as("deg"),
        array_contains(col("nbrs"), lit(0L)).as("has_zero"),
        element_at(col("nbrs"), 1).as("first_nbr"),
        array_join(slice(col("nbrs"), 1, 3).cast("array<string>"), ",").as("first3"))
      .orderBy(col("src"))

  /** O-map/json analog: parse `events.props` JSON through a typed MapType
    * (the DuckDB oracle extracts via regexp so it stays extension-free).
    * NOT spread: measured at 30×, the parse costs ~1 µs/row while a
    * round-robin reshuffle of the row costs ~3 µs — from_json rides the
    * scan's row-group splits instead (stage-metrics study, NOTES r10). */
  def qJsonMap(spark: SparkSession, d: String): DataFrame =
    Tables.events(spark, d)
      .withColumn("props_map",
        from_json(col("props"), MapType(StringType, IntegerType)))
      .select(col("event_id"), col("event_type"),
        element_at(col("props_map"), "k").as("k"))
      .filter(col("k") > 50)
      .orderBy(col("event_id"))

  /** k-anonymity threshold for [[qKAnonymity]] (the conventional k=5 of
    * statistical-disclosure-control practice). */
  val KAnonK = 5L

  /** q_k_anonymity: the privacy-governance audit a pipeline runs before
    * releasing a table — are all quasi-identifier (QI) groups of size ≥ k,
    * and if not, which rows must be generalized or suppressed (Sweeney '02,
    * the k-anonymity model; complements [[graft.llm.TextStats.qRedact]]'s
    * in-text PII pass). QI = (c_nationkey, c_mktsegment, acctbal band of
    * 1000); the standard generalization ladder is replayed exactly:
    * level 0 publishes full-QI groups with n ≥ k; level 1 re-groups the
    * residue with the band generalized away (band = −1); level 2 fully
    * suppresses what still fails (sentinels −1/'*' — not NULLs, so both
    * engines sort the published table identically). Each group also
    * carries its sensitive-attribute diversity (distinct c_acctbal — the
    * l-diversity count) since k-anonymity without diversity is the known
    * homogeneity-attack hole.
    *
    * Scale shape: two hash aggs (corpus → level-0 groups → level-1
    * regroups of the small residue, each map-side combined) and a
    * QI-domain-sized union — the level-1/2 inputs are GROUP tables,
    * bounded by the QI domain, never the corpus. */
  def qKAnonymity(spark: SparkSession, d: String): DataFrame = {
    val rows = State.memo(Tables.customer(spark, d)
      .select(col("c_nationkey").cast("long").as("nation"),
        col("c_mktsegment").as("segment"),
        floor(col("c_acctbal") / 1000).cast("long").as("bal_band"),
        col("c_acctbal").as("bal"))).df // feeds level 0 AND both residue re-joins
    val g0 = State.memo(rows.groupBy(col("nation"), col("segment"), col("bal_band"))
      .agg(count(lit(1)).as("n"), countDistinct(col("bal")).as("l_div")))
    val pub0 = g0.df.filter(col("n") >= KAnonK)
      .select(lit(0).as("level"), col("nation"), col("segment"),
        col("bal_band"), col("n"), col("l_div"))
    // Residue rows re-derive by joining the (QI-domain-bounded, broadcast)
    // small-group key table back onto the row stream — no per-group value
    // lists ever materialize, so a million-row published group costs
    // nothing on the generalization path. Each small-group table is bounded
    // by its group memo's observed rows.
    val small0 = Broadcasts.maybeBroadcast(g0.df.filter(col("n") < KAnonK)
      .select(col("nation"), col("segment"), col("bal_band")), g0.rows)
    val g1 = State.memo(rows.join(small0, Seq("nation", "segment", "bal_band"), "left_semi")
      .groupBy(col("nation"), col("segment"))
      .agg(count(lit(1)).as("n"), countDistinct(col("bal")).as("l_div")))
    val pub1 = g1.df.filter(col("n") >= KAnonK)
      .select(lit(1).as("level"), col("nation"), col("segment"),
        lit(-1L).as("bal_band"), col("n"), col("l_div"))
    val small1 = Broadcasts.maybeBroadcast(g1.df.filter(col("n") < KAnonK)
      .select(col("nation"), col("segment")), g1.rows)
    val pub2 = rows.join(small0, Seq("nation", "segment", "bal_band"), "left_semi")
      .join(small1, Seq("nation", "segment"), "left_semi")
      .agg(count(lit(1)).as("n"), countDistinct(col("bal")).as("l_div"))
      .filter(col("n") > 0)
      .select(lit(2).as("level"), lit(-1L).as("nation"), lit("*").as("segment"),
        lit(-1L).as("bal_band"), col("n"), col("l_div"))
    pub0.unionByName(pub1).unionByName(pub2)
      .orderBy(col("level"), col("nation"), col("segment"), col("bal_band"))
  }

  /** graft.dp.seed: seed prefix for [[qDpCount]]'s geometric draws. The
    * default ("dp") is the deterministic GATE seed — under it the noise
    * is a public function of the group key itself, so the output is a
    * MECHANISM REPLAY the DuckDB oracle verifies bit-for-bit, NOT a
    * differentially-private release (a release whose noise is a public
    * function of the key is exactly invertible; ε = ln 2 holds only when
    * the seed is secret). Any non-default value is treated as a caller
    * secret: the query then emits ONLY (event_type, noisy_n) — the
    * release shape — never the raw count or the noise. ONE SEED = ONE
    * RELEASE: the noise is a deterministic function of (seed, key), so
    * re-running with the same seed re-emits the identical draw — repeated
    * releases compose as independent ε = ln 2 draws only under a FRESH
    * secret seed per release. Treat the seed as a release nonce: reusing
    * it adds no privacy budget for a second release (r12 ADVICE). */
  val DpSeedKey = "graft.dp.seed"
  private val DpGateSeed = "dp"

  /** q_dp_count: counts under the two-sided geometric mechanism
    * (Ghosh–Roughgarden–Sundararajan '09 — the discrete Laplace):
    * noisy_n = n + G₁ − G₂ where the Gᵢ are geometric(1/2) variables,
    * giving ε = ln 2 per released count WHEN the seed is secret (see
    * [[DpSeedKey]] — the committed default is a deterministic mechanism
    * replay for the cross-engine gate, not a privacy release, and the
    * diagnostic n/noise columns are emitted only in that mode). The
    * geometric draw is EXACT INTEGER bit arithmetic on the house 60-bit
    * md5 hash — G = number of leading 1-bits = 60 − ⌈log₂(mask − h)⌉ via
    * `length(bin(…))`, P[G = k] = 2^−(k+1) — so both engines draw the
    * identical noise. Completes the privacy family:
    * [[graft.llm.TextStats.qRedact]] (in-text PII) → [[qKAnonymity]]
    * (table release) → q_dp_count (aggregate release).
    *
    * Scale shape: one map-side-combined hash agg; the noise is in-row
    * scalar work on the GROUP table. */
  def qDpCount(spark: SparkSession, d: String): DataFrame = {
    val mask = (1L << 60) - 1
    val seed = spark.conf.get(DpSeedKey, DpGateSeed)
    def geom(tag: String): Column = {
      val y = lit(mask) -
        conv(substring(md5(concat(lit(s"$seed$tag:"), col("event_type"))), 1, 15),
          16, 10).cast("long")
      when(y === 0L, lit(60L)).otherwise(lit(60L) - length(bin(y)).cast("long"))
    }
    val noisy = Tables.events(spark, d)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"))
      .withColumn("noise", geom("1") - geom("2"))
      .withColumn("noisy_n", col("n") + col("noise"))
    val out =
      if (seed == DpGateSeed)
        noisy.select(col("event_type"), col("n"), col("noise"), col("noisy_n"))
      else // secret seed ⇒ release shape: never emit the raw count or noise
        noisy.select(col("event_type"), col("noisy_n"))
    out.orderBy(col("event_type"))
  }

  // --- DuckDB oracle SQL ---------------------------------------------------

  val oracles: Map[String, String] = Map(
    "q_dp_count" -> {
      val mask = (1L << 60) - 1
      def geom(seed: String): String =
        s"""(CASE WHEN $mask - ('0x' || substr(md5('$seed:' || event_type), 1, 15))::BIGINT = 0
           | THEN 60 ELSE 60 - length(bin($mask -
           |   ('0x' || substr(md5('$seed:' || event_type), 1, 15))::BIGINT)) END)"""
          .stripMargin.replace("\n", " ")
      s"""WITH g AS (
         |  SELECT event_type, count(*) AS n FROM events GROUP BY event_type),
         |z AS (
         |  SELECT event_type, n,
         |    CAST(${geom("dp1")} - ${geom("dp2")} AS BIGINT) AS noise
         |  FROM g)
         |SELECT event_type, n, noise, n + noise AS noisy_n
         |FROM z ORDER BY event_type""".stripMargin
    },
    "q_k_anonymity" ->
      s"""WITH g0 AS MATERIALIZED (
         |  SELECT CAST(c_nationkey AS BIGINT) AS nation,
         |    c_mktsegment AS segment,
         |    CAST(floor(c_acctbal / 1000) AS BIGINT) AS bal_band,
         |    count(*) AS n, count(DISTINCT c_acctbal) AS l_div,
         |    list(c_acctbal) AS vals
         |  FROM customer GROUP BY nation, segment, bal_band),
         |pub0 AS (
         |  SELECT 0 AS level, nation, segment, bal_band, n, l_div
         |  FROM g0 WHERE n >= $KAnonK),
         |r1 AS (SELECT nation, segment, unnest(vals) AS bal
         |       FROM g0 WHERE n < $KAnonK),
         |g1 AS MATERIALIZED (
         |  SELECT nation, segment, count(*) AS n,
         |    count(DISTINCT bal) AS l_div, list(bal) AS vals
         |  FROM r1 GROUP BY nation, segment),
         |pub1 AS (
         |  SELECT 1 AS level, nation, segment, CAST(-1 AS BIGINT) AS bal_band,
         |    n, l_div
         |  FROM g1 WHERE n >= $KAnonK),
         |r2 AS (SELECT unnest(vals) AS bal FROM g1 WHERE n < $KAnonK),
         |pub2 AS (
         |  SELECT 2 AS level, CAST(-1 AS BIGINT) AS nation, '*' AS segment,
         |    CAST(-1 AS BIGINT) AS bal_band, count(*) AS n,
         |    count(DISTINCT bal) AS l_div
         |  FROM r2 HAVING count(*) > 0)
         |SELECT CAST(level AS INT) AS level, nation, segment, bal_band,
         |  CAST(n AS BIGINT) AS n, CAST(l_div AS BIGINT) AS l_div
         |FROM (SELECT * FROM pub0 UNION ALL SELECT * FROM pub1
         |      UNION ALL SELECT * FROM pub2)
         |ORDER BY level, nation, segment, bal_band""".stripMargin,
    "q_scan_project" ->
      """SELECT l_orderkey, l_linenumber, l_partkey, l_quantity, l_extendedprice
        |FROM lineitem
        |ORDER BY l_orderkey, l_linenumber, l_partkey, l_quantity, l_extendedprice""".stripMargin,
    "q_filter_pred" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_discount FROM lineitem
        |WHERE l_returnflag = 'R' AND l_quantity > 30 AND l_discount <= 0.05
        |ORDER BY l_orderkey, l_linenumber, l_quantity, l_discount""".stripMargin,
    "q_join_inner" ->
      """SELECT o_orderkey, c_custkey, c_name, o_totalprice
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |ORDER BY o_orderkey""".stripMargin,
    "q_join_left" ->
      """SELECT c_custkey, count(o_orderkey) AS n_orders,
        |  coalesce(CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE), 0.0) AS total_spent
        |FROM customer LEFT JOIN orders ON o_custkey = c_custkey
        |GROUP BY c_custkey ORDER BY c_custkey""".stripMargin,
    "q_join_broadcast" ->
      """SELECT p_brand,
        |  CAST(CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS revenue,
        |  count(*) AS n_items
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY p_brand ORDER BY p_brand""".stripMargin,
    "q_join_semi" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY c_custkey""".stripMargin,
    "q_join_anti" ->
      """SELECT p_partkey, p_name FROM part
        |WHERE NOT EXISTS (SELECT 1 FROM lineitem
        |                  WHERE l_partkey = p_partkey AND l_quantity > 49)
        |ORDER BY p_partkey""".stripMargin,
    "q_join_asof" ->
      """WITH ranked AS (
        |  SELECT e.event_id, e.user_id + 1 AS custkey, o.o_orderkey, o.o_totalprice,
        |    row_number() OVER (PARTITION BY e.event_id
        |                       ORDER BY o.o_orderdate DESC, o.o_orderkey DESC) AS rn
        |  FROM events e JOIN orders o
        |    ON o.o_custkey = e.user_id + 1 AND o.o_orderdate <= e.ts)
        |SELECT event_id, custkey, o_orderkey, o_totalprice
        |FROM ranked WHERE rn = 1 ORDER BY event_id""".stripMargin,
    "q_join_range" ->
      """WITH bands(band, lo, hi) AS (VALUES
        |  ('low', 0.0, 50000.0), ('mid', 50000.0, 150000.0),
        |  ('high', 150000.0, 300000.0), ('top', 300000.0, 1e308))
        |SELECT band, count(*) AS n_orders,
        |  CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS band_total
        |FROM orders JOIN bands ON o_totalprice >= lo AND o_totalprice < hi
        |GROUP BY band ORDER BY band""".stripMargin,
    "q_join_full" ->
      """WITH om AS (
        |  SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS o_mon,
        |    count(*) AS n_orders,
        |    CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS revenue
        |  FROM orders GROUP BY 1),
        |sm AS (
        |  SELECT CAST(date_trunc('month', l_shipdate) AS DATE) AS s_mon,
        |    count(*) AS n_shipped,
        |    CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS ship_qty
        |  FROM lineitem GROUP BY 1)
        |SELECT coalesce(o_mon, s_mon) AS mon,
        |  coalesce(n_orders, 0) AS n_orders,
        |  coalesce(revenue, 0.0) AS revenue,
        |  coalesce(n_shipped, 0) AS n_shipped,
        |  coalesce(ship_qty, 0.0) AS ship_qty
        |FROM om FULL OUTER JOIN sm ON o_mon = s_mon
        |ORDER BY mon""".stripMargin,
    "q_window_cume" ->
      """SELECT c_custkey, c_mktsegment, c_acctbal, pr, cd FROM (
        |  SELECT c_custkey, c_mktsegment, c_acctbal,
        |    percent_rank() OVER (PARTITION BY c_mktsegment
        |      ORDER BY c_acctbal DESC, c_custkey) AS pr,
        |    cume_dist() OVER (PARTITION BY c_mktsegment
        |      ORDER BY c_acctbal DESC, c_custkey) AS cd
        |  FROM customer) t
        |WHERE c_custkey <= 200 ORDER BY c_custkey""".stripMargin,
    "q_agg_partial" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS sum_qty,
        |  CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS sum_price,
        |  CAST(CAST(sum(CAST(l_discount AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) / count(*) AS avg_disc,
        |  count(*) AS n
        |FROM lineitem GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q_group_collect" ->
      """SELECT o_custkey, array_to_string(list_sort(list(o_orderkey)), ',') AS orderkeys
        |FROM orders GROUP BY o_custkey ORDER BY o_custkey""".stripMargin,
    "q_distinct" ->
      """SELECT l_returnflag, count(DISTINCT l_partkey) AS n_parts,
        |  count(DISTINCT l_suppkey) AS n_supps, count(*) AS n_rows
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q_approx_distinct" ->
      """WITH b AS (
        |  SELECT l_returnflag,
        |    CAST(('0x' || substr(md5(CAST(l_partkey AS VARCHAR)), 1, 8)) AS BIGINT) % 65536 AS bucket
        |  FROM lineitem)
        |SELECT l_returnflag,
        |  CAST(round(-65536 * ln(1 - least(count(DISTINCT bucket), 65535) / 65536.0)) AS BIGINT) AS approx_parts
        |FROM b GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q_merge_upsert" ->
      """WITH base AS (
        |  SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders),
        |updates AS (
        |  SELECT o_orderkey, 'U' AS o_orderstatus, o_totalprice * 2 AS o_totalprice
        |  FROM base WHERE o_orderkey % 10 = 0
        |  UNION ALL
        |  SELECT o_orderkey + 10000000 AS o_orderkey, 'I' AS o_orderstatus, o_totalprice
        |  FROM base WHERE o_orderkey % 1000 = 0),
        |merged AS (
        |  SELECT
        |    coalesce(u.o_orderkey, b.o_orderkey) AS o_orderkey,
        |    coalesce(u.o_orderstatus, b.o_orderstatus) AS o_orderstatus,
        |    coalesce(u.o_totalprice, b.o_totalprice) AS o_totalprice
        |  FROM base b FULL OUTER JOIN updates u ON b.o_orderkey = u.o_orderkey)
        |SELECT count(*) AS n_rows,
        |  CAST(sum(CASE WHEN o_orderstatus = 'U' THEN 1 ELSE 0 END) AS BIGINT) AS n_updated,
        |  CAST(sum(CASE WHEN o_orderstatus = 'I' THEN 1 ELSE 0 END) AS BIGINT) AS n_inserted,
        |  CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS total_price
        |FROM merged""".stripMargin,
    "q_stats_moments" ->
      """WITH s AS (
        |  SELECT l_returnflag,
        |    CAST(round(l_quantity * 100) AS BIGINT) AS qi,
        |    CAST(round(l_extendedprice * 100) AS BIGINT) AS pi
        |  FROM lineitem),
        |g AS (
        |  SELECT l_returnflag, count(*) AS n,
        |    sum(CAST(qi AS DECIMAL(38,0))) AS sx,
        |    sum(CAST(pi AS DECIMAL(38,0))) AS sy,
        |    sum(CAST(qi * qi AS DECIMAL(38,0))) AS sxx,
        |    sum(CAST(pi * pi AS DECIMAL(38,0))) AS syy,
        |    sum(CAST(qi * pi AS DECIMAL(38,0))) AS sxy
        |  FROM s GROUP BY l_returnflag),
        |m AS (
        |  SELECT l_returnflag, n,
        |    (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))
        |      / (CAST(n AS DOUBLE) - 1) AS var_x,
        |    (CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))
        |      / (CAST(n AS DOUBLE) - 1) AS var_y,
        |    (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))
        |      / (CAST(n AS DOUBLE) - 1) AS cov_xy
        |  FROM g)
        |SELECT l_returnflag, n,
        |  var_x / 10000.0 AS var_qty,
        |  sqrt(var_x) / 100.0 AS stddev_qty,
        |  cov_xy / sqrt(var_x * var_y) AS corr_qty_price
        |FROM m ORDER BY l_returnflag""".stripMargin,
    "q_gap_fill" ->
      """WITH daily AS (
        |  SELECT l_suppkey,
        |    date_diff('day', DATE '1970-01-01', CAST(l_shipdate AS DATE)) AS day_num,
        |    CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS qty
        |  FROM lineitem WHERE l_suppkey <= 20 GROUP BY 1, 2),
        |spans AS (
        |  SELECT l_suppkey, min(day_num) AS d0, max(day_num) AS d1
        |  FROM daily GROUP BY l_suppkey),
        |dense AS (
        |  SELECT l_suppkey, unnest(range(d0, d1 + 1)) AS day_num FROM spans)
        |SELECT d.l_suppkey, d.day_num, coalesce(daily.qty, 0.0) AS qty
        |FROM dense d LEFT JOIN daily
        |  ON daily.l_suppkey = d.l_suppkey AND daily.day_num = d.day_num
        |ORDER BY d.l_suppkey, d.day_num""".stripMargin,
    "q_scd2" ->
      """WITH o AS (
        |  SELECT user_id, event_type, ts, event_id,
        |    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
        |  FROM events),
        |c AS (
        |  SELECT user_id, event_type, ts,
        |    CASE WHEN prev IS NULL OR prev <> event_type THEN 1 ELSE 0 END AS chg,
        |    CAST(sum(CASE WHEN prev IS NULL OR prev <> event_type THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id
        |            ROWS UNBOUNDED PRECEDING) AS INT) AS version
        |  FROM o),
        |n AS (SELECT user_id, version, count(*) AS n_events
        |      FROM c GROUP BY user_id, version),
        |r AS (
        |  SELECT c.user_id, c.version, c.event_type, n.n_events,
        |    epoch_us(c.ts) AS valid_from_us,
        |    epoch_us(lead(c.ts) OVER (PARTITION BY c.user_id ORDER BY c.version))
        |      AS valid_to_us
        |  FROM c JOIN n USING (user_id, version)
        |  WHERE c.chg = 1)
        |SELECT user_id, version, event_type, n_events, valid_from_us, valid_to_us,
        |  CAST(valid_to_us IS NULL AS INT) AS is_current
        |FROM r ORDER BY user_id, version""".stripMargin,
    "q_window_range" ->
      """WITH daily AS (
        |  SELECT l_suppkey,
        |    date_diff('day', DATE '1970-01-01', CAST(l_shipdate AS DATE)) AS day_num,
        |    sum(CAST(l_quantity AS DECIMAL(18,4))) AS day_qty
        |  FROM lineitem GROUP BY 1, 2)
        |SELECT l_suppkey, day_num,
        |  CAST(sum(day_qty) OVER (PARTITION BY l_suppkey ORDER BY day_num
        |                          RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS DOUBLE)
        |    AS week_qty
        |FROM daily ORDER BY l_suppkey, day_num""".stripMargin,
    "q_hist_quantile" ->
      """WITH b AS (
        |  SELECT l_returnflag, CAST(floor(l_extendedprice / 1000) AS BIGINT) AS bucket,
        |    count(*) AS cnt
        |  FROM lineitem GROUP BY 1, 2),
        |c AS (
        |  SELECT l_returnflag, bucket, cnt,
        |    sum(cnt) OVER (PARTITION BY l_returnflag ORDER BY bucket
        |                   ROWS UNBOUNDED PRECEDING) AS cum,
        |    sum(cnt) OVER (PARTITION BY l_returnflag) AS n
        |  FROM b)
        |SELECT l_returnflag,
        |  (CAST(min(bucket) AS DOUBLE) + 0.5) * 1000 AS approx_median,
        |  CAST(max(n) AS BIGINT) AS n
        |FROM c WHERE cum * 2 >= n
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q_rollup" ->
      """SELECT coalesce(l_returnflag, 'ALL') AS rf, coalesce(l_linestatus, 'ALL') AS ls,
        |  CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS sum_qty, count(*) AS n
        |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
        |ORDER BY rf, ls""".stripMargin,
    "q_grouping_sets" ->
      """SELECT coalesce(l_returnflag, 'ALL') AS rf, coalesce(l_linestatus, 'ALL') AS ls,
        |  CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS sum_qty, count(*) AS n
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_linestatus), ())
        |ORDER BY rf, ls""".stripMargin,
    "q_subquery_exists" ->
      """SELECT o_orderkey, o_custkey FROM orders o
        |WHERE EXISTS (SELECT 1 FROM lineitem l
        |              WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity > 45)
        |  AND NOT EXISTS (SELECT 1 FROM lineitem l
        |                  WHERE l.l_orderkey = o.o_orderkey AND l.l_returnflag = 'R')
        |ORDER BY o_orderkey""".stripMargin,
    "q_conditional_agg" ->
      """SELECT l_returnflag,
        |  count(*) FILTER (WHERE l_quantity > 25) AS n_big,
        |  CAST(CAST(sum(CAST(CASE WHEN l_discount > 0.05 THEN l_quantity ELSE 0 END
        |                AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS disc_qty,
        |  count(*) AS n_rows
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    // WHERE runs before the window in SQL, after it in the DataFrame — a
    // whole-partition (suppkey) filter commutes with the per-partition
    // window either way.
    "q_window_leadlag" ->
      """WITH daily AS (
        |  SELECT l_suppkey, l_shipdate,
        |    CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS day_qty
        |  FROM lineitem GROUP BY l_suppkey, l_shipdate)
        |SELECT l_suppkey, l_shipdate,
        |  coalesce(lag(day_qty, 1) OVER w, -1.0) AS prev_qty,
        |  coalesce(lead(day_qty, 1) OVER w, -1.0) AS next_qty,
        |  CAST(ntile(4) OVER w AS INT) AS quartile
        |FROM daily
        |WHERE l_suppkey <= 25
        |WINDOW w AS (PARTITION BY l_suppkey ORDER BY l_shipdate)
        |ORDER BY l_suppkey, l_shipdate""".stripMargin,
    "q_null_handling" ->
      """WITH t AS (
        |  SELECT o_orderkey, o_orderstatus,
        |    nullif(o_orderstatus, 'O') AS status_or_null
        |  FROM orders)
        |SELECT o_orderstatus,
        |  count(status_or_null) AS n_nonnull,
        |  count(*) AS n_rows,
        |  CAST(sum(CASE WHEN status_or_null IS NOT DISTINCT FROM NULL
        |               THEN 1 ELSE 0 END) AS BIGINT) AS n_nullsafe_eq_null,
        |  min(coalesce(status_or_null, '-')) AS coalesced
        |FROM t GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "q_cube" ->
      """SELECT coalesce(l_returnflag, 'ALL') AS rf, coalesce(l_linestatus, 'ALL') AS ls,
        |  CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS sum_qty, count(*) AS n
        |FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
        |ORDER BY rf, ls""".stripMargin,
    "q_percentile" ->
      """SELECT l_returnflag,
        |  quantile_cont(l_quantity, 0.5) AS median_qty,
        |  quantile_cont(l_quantity, 0.9) AS p90_qty
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q_pivot" ->
      """SELECT l_returnflag,
        |  coalesce(CAST(CAST(sum(CAST(CASE WHEN l_linestatus = 'F' THEN l_quantity END
        |    AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE), 0.0) AS qty_f,
        |  coalesce(CAST(CAST(sum(CAST(CASE WHEN l_linestatus = 'O' THEN l_quantity END
        |    AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE), 0.0) AS qty_o
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q_window_rank" ->
      """SELECT c_custkey, c_nationkey, c_acctbal, rn, rnk FROM (
        |  SELECT c_custkey, c_nationkey, c_acctbal,
        |    CAST(row_number() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey) AS INT) AS rn,
        |    CAST(rank() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey) AS INT) AS rnk
        |  FROM customer) t
        |WHERE rn <= 5 ORDER BY c_nationkey, rn""".stripMargin,
    "q_window_frame" ->
      """WITH daily AS (
        |  SELECT l_suppkey, l_shipdate, sum(CAST(l_quantity AS DECIMAL(18,4))) AS day_qty
        |  FROM lineitem GROUP BY l_suppkey, l_shipdate)
        |SELECT l_suppkey, l_shipdate,
        |  CAST(sum(day_qty) OVER (
        |    PARTITION BY l_suppkey ORDER BY l_shipdate
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_qty
        |FROM daily ORDER BY l_suppkey, l_shipdate""".stripMargin,
    "q_topk" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin,
    "q_setops" ->
      """WITH active AS (SELECT DISTINCT o_custkey AS k FROM orders),
        |rich AS (SELECT c_custkey AS k FROM customer WHERE c_acctbal > 5000),
        |b AS (SELECT k FROM active INTERSECT SELECT k FROM rich),
        |orich AS (SELECT k FROM rich EXCEPT SELECT k FROM active)
        |SELECT k, 'both' AS tag FROM b
        |UNION ALL SELECT k, 'only_rich' AS tag FROM orich
        |ORDER BY tag, k""".stripMargin,
    "q_scalar_str" ->
      """SELECT c_custkey, upper(c_name) AS uname, substring(c_name, 1, 8) AS prefix,
        |  concat(c_mktsegment, '_', c_name) AS tagged,
        |  CAST(length(c_name) AS INT) AS name_len
        |FROM customer ORDER BY c_custkey""".stripMargin,
    "q_scalar_date" ->
      """SELECT l_orderkey, l_linenumber,
        |  CAST(year(l_shipdate) AS INT) AS ship_year,
        |  CAST(month(l_shipdate) AS INT) AS ship_month,
        |  CAST(date_trunc('month', l_shipdate) AS DATE) AS ship_mon,
        |  CAST(date_diff('day', DATE '1995-01-01', CAST(l_shipdate AS DATE)) AS INT) AS days_since
        |FROM lineitem ORDER BY l_orderkey, l_linenumber, days_since""".stripMargin,
    "q_scalar_math" ->
      """SELECT l_orderkey, l_linenumber,
        |  l_extendedprice * (1.0 - l_discount) AS net,
        |  CAST(abs(l_discount - 0.05) AS DOUBLE) AS disc_dev,
        |  CAST(floor(l_extendedprice / 100) AS BIGINT) AS price_bucket,
        |  sqrt(l_quantity) AS qty_sqrt,
        |  l_partkey % 97 AS pk_mod
        |FROM lineitem
        |ORDER BY l_orderkey, l_linenumber, net, disc_dev, price_bucket, qty_sqrt, pk_mod""".stripMargin,
    "q_profile" ->
      """WITH w AS (
        |  SELECT count(*) AS n,
        |    sum(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END) AS null_q,
        |    count(DISTINCT l_quantity) AS d_q,
        |    CAST(min(l_quantity) AS DOUBLE) AS mn_q, CAST(max(l_quantity) AS DOUBLE) AS mx_q,
        |    sum(CASE WHEN l_partkey IS NULL THEN 1 ELSE 0 END) AS null_p,
        |    count(DISTINCT l_partkey) AS d_p,
        |    CAST(min(l_partkey) AS DOUBLE) AS mn_p, CAST(max(l_partkey) AS DOUBLE) AS mx_p,
        |    sum(CASE WHEN l_discount IS NULL THEN 1 ELSE 0 END) AS null_d,
        |    count(DISTINCT l_discount) AS d_d,
        |    CAST(min(l_discount) AS DOUBLE) AS mn_d, CAST(max(l_discount) AS DOUBLE) AS mx_d,
        |    sum(CASE WHEN l_returnflag IS NULL THEN 1 ELSE 0 END) AS null_r,
        |    count(DISTINCT l_returnflag) AS d_r,
        |    min(l_returnflag) AS mn_r, max(l_returnflag) AS mx_r
        |  FROM lineitem)
        |SELECT 'l_discount' AS "column", n AS n_rows, CAST(null_d AS BIGINT) AS n_null,
        |  d_d AS n_distinct, mn_d AS min_num, mx_d AS max_num,
        |  CAST(NULL AS VARCHAR) AS min_str, CAST(NULL AS VARCHAR) AS max_str FROM w
        |UNION ALL SELECT 'l_partkey', n, CAST(null_p AS BIGINT), d_p, mn_p, mx_p,
        |  NULL, NULL FROM w
        |UNION ALL SELECT 'l_quantity', n, CAST(null_q AS BIGINT), d_q, mn_q, mx_q,
        |  NULL, NULL FROM w
        |UNION ALL SELECT 'l_returnflag', n, CAST(null_r AS BIGINT), d_r,
        |  CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), mn_r, mx_r FROM w
        |ORDER BY "column"""".stripMargin,
    "q_cogroup" ->
      """SELECT o.o_orderkey, o.o_orderstatus,
        |  CAST(count(l.l_orderkey) AS BIGINT) AS n_items,
        |  CAST(coalesce(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)), 0)
        |    AS BIGINT) AS cents_total
        |FROM orders o LEFT JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        |GROUP BY o.o_orderkey, o.o_orderstatus
        |ORDER BY o.o_orderkey""".stripMargin,
    "q_unpivot" ->
      """WITH m AS (
        |  SELECT 'l_quantity' AS measure, l_quantity AS value FROM lineitem
        |  UNION ALL
        |  SELECT 'l_discount', l_discount FROM lineitem
        |  UNION ALL
        |  SELECT 'l_tax', l_tax FROM lineitem)
        |SELECT measure,
        |  CAST(CAST(sum(CAST(value AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS total,
        |  count(*) AS n,
        |  CAST(CAST(sum(CAST(value AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) / count(*) AS mean
        |FROM m GROUP BY measure ORDER BY measure""".stripMargin,
    "q_array_fns" ->
      s"""WITH edges AS (${GraphOps.edgesSql}),
         |adj AS (SELECT src, list_sort(list(DISTINCT dst)) AS nbrs FROM edges GROUP BY src)
         |SELECT src, CAST(len(nbrs) AS INT) AS deg, list_contains(nbrs, 0) AS has_zero,
         |  nbrs[1] AS first_nbr, array_to_string(nbrs[1:3], ',') AS first3
         |FROM adj ORDER BY src""".stripMargin,
    "q_json_map" ->
      """SELECT event_id, event_type,
        |  CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS INT) AS k
        |FROM events
        |WHERE CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS INT) > 50
        |ORDER BY event_id""".stripMargin,
  )
}
