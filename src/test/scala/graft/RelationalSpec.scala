package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlan
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{GraphOps, Relational}

/** Plan-shape and invariant tests for the relational inventory. Value
  * correctness is owned by the DuckDB oracle gate (tools/check_oracle.py);
  * these specs assert the *physical* properties the oracle can't see:
  * broadcast strategy, scan pruning, pushdown, top-k planning.
  */
class RelationalSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.get
  val sf = Corpus.dir("sf0.001")

  private def executedPlan(df: org.apache.spark.sql.DataFrame): SparkPlan =
    df.queryExecution.executedPlan

  test("q_join_broadcast plans a BroadcastHashJoin") {
    val plan = executedPlan(Relational.qJoinBroadcast(spark, sf)).toString
    assert(plan.contains("BroadcastHashJoin"), s"plan was:\n$plan")
  }

  test("q_scan_project prunes the parquet read schema to 5 columns") {
    val scan = executedPlan(Relational.qScanProject(spark, sf)).toString
    assert(scan.contains("ReadSchema"))
    // none of the unreferenced columns survive to the scan
    assert(!scan.contains("l_returnflag") && !scan.contains("l_shipdate"),
      s"scan schema not pruned:\n$scan")
  }

  test("q_filter_pred pushes predicates into the parquet scan") {
    val plan = executedPlan(Relational.qFilterPred(spark, sf)).toString
    assert(plan.contains("PushedFilters") &&
      plan.contains("EqualTo(l_returnflag,R)"), s"plan was:\n$plan")
  }

  test("q_topk plans TakeOrderedAndProject (no global sort)") {
    val plan = executedPlan(Relational.qTopk(spark, sf)).toString
    assert(plan.contains("TakeOrderedAndProject"), s"plan was:\n$plan")
  }

  test("semi/anti join results partition the customer/part key space") {
    val semi = Relational.qJoinSemi(spark, sf).count()
    val anti = Relational.qJoinAnti(spark, sf).count()
    assert(semi > 0)
    assert(anti > 0, "anti join should be non-vacuous on this corpus")
  }

  test("edges are symmetric and irreflexive") {
    import org.apache.spark.sql.functions.col
    val e = GraphOps.edges(spark, sf).cache()
    try {
      assert(e.filter(col("src") === col("dst")).count() === 0)
      val rev = e.select(col("dst").as("src"), col("src").as("dst"))
      assert(e.exceptAll(rev).count() === 0, "every edge must appear reversed")
    } finally e.unpersist()
  }

  test("q_scd2 versions chain per user over ONE user_id hash exchange") {
    import org.apache.spark.sql.functions._
    // Plan shape first (on an uncached instance): every window stage —
    // lag/cumsum on user_id, the run-count on (user_id, version), the
    // version lead — reuses the single user_id hash partitioning; the only
    // other exchange is the output orderBy's range partitioning.
    val p = executedPlan(Relational.qScd2(spark, sf)).toString
    val hashExchanges = "hashpartitioning".r.findAllIn(p).length
    assert(hashExchanges == 1,
      s"expected exactly one hash exchange (user_id), got $hashExchanges:\n$p")
    val df = Relational.qScd2(spark, sf).cache()
    try {
      // Exactly one current version per user, and it is the LAST version.
      val cur = df.groupBy(col("user_id")).agg(
        sum(col("is_current")).as("n_cur"),
        max(col("version")).as("max_v"),
        max(when(col("is_current") === 1, col("version"))).as("cur_v"))
      assert(cur.filter(col("n_cur") =!= 1 || col("cur_v") =!= col("max_v"))
        .count() === 0, "each user must have exactly one open version, the last")
      // Intervals tile the timeline: valid_to(v) = valid_from(v+1), and the
      // tracked attribute actually CHANGES at every version boundary.
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("version"))
      val bad = df
        .withColumn("next_from", lead(col("valid_from_us"), 1).over(w))
        .withColumn("next_type", lead(col("event_type"), 1).over(w))
        .filter(col("next_from").isNotNull &&
          (col("valid_to_us") =!= col("next_from") ||
            col("event_type") === col("next_type")))
      assert(bad.count() === 0, "intervals must chain and types must change")
      // The versions partition the user's events exactly.
      val total = df.agg(sum(col("n_events"))).head().getLong(0)
      assert(total === graft.tables.Tables.events(spark, sf).count())
    } finally df.unpersist()
  }

  test("first_fit is always the minimum free color") {
    import org.apache.spark.sql.functions._
    val df = GraphOps.qFirstFit(spark, sf)
      .join(GraphOps.neighborColors(spark, sf), "src")
    val bad = df.filter(
      array_contains(col("neighbor_colors"), col("first_fit")) ||
        exists(
          sequence(lit(0), col("first_fit") - 1),
          c => !array_contains(col("neighbor_colors"), c)))
    assert(bad.count() === 0)
  }

  test("q_join_full: month union covered, both null directions real, totals conserved") {
    import org.apache.spark.sql.functions._
    val out = Relational.qJoinFull(spark, sf)
    val rows = out.collect()
    // The month key is unique and sorted.
    val mons = rows.map(_.getDate(0).toString)
    assert(mons.toSeq === mons.sorted.toSeq && mons.distinct.length === mons.length)
    // Shipments run past the last order month in this corpus, so the
    // full-outer genuinely exercises the left-null direction (months with
    // shipments but no orders ⇒ n_orders coalesced to 0).
    assert(rows.exists(r => r.getLong(1) == 0L && r.getLong(3) > 0L),
      "expected at least one shipment-only month")
    // Conservation: order and lineitem row counts both survive the join.
    assert(rows.map(_.getLong(1)).sum ===
      graft.tables.Tables.orders(spark, sf).count())
    assert(rows.map(_.getLong(3)).sum ===
      graft.tables.Tables.lineitem(spark, sf).count())
  }

  test("q_window_cume: distribution fractions re-derived from segment rank arithmetic") {
    import org.apache.spark.sql.functions._
    val out = Relational.qWindowCume(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))
    assert(out.nonEmpty)
    // Re-derive per-segment sizes and positions driver-side.
    val cust = graft.tables.Tables.customer(spark, sf)
      .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    val bySeg = cust.groupBy(_._2).view.mapValues(
      _.sortBy { case (k, _, bal) => (-bal, k) }).toMap
    out.foreach { case (k, seg, _, pr, cd) =>
      val ranked = bySeg(seg)
      val n = ranked.length
      val idx = ranked.indexWhere(_._1 == k) // unique order key ⇒ rank-1
      val expectPr = if (n == 1) 0.0 else idx.toDouble / (n - 1).toDouble
      val expectCd = (idx + 1).toDouble / n.toDouble
      assert(pr === expectPr && cd === expectCd, s"custkey $k in $seg")
    }
  }
}
