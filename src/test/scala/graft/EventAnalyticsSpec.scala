package graft

import java.sql.Timestamp

import org.scalatest.funsuite.AnyFunSuite

import graft.ops.EventAnalytics
import graft.tables.Tables

/** Driver-side re-derivations for the event-analytics queries: the DuckDB
  * oracle pins cross-engine equality; these pin the SEMANTICS (strict
  * ordering at every funnel hop, cohort bucketing arithmetic) against an
  * independent in-memory implementation.
  */
class EventAnalyticsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.get
  private val sf = Corpus.dir("sf0.001")

  private def eventRows() =
    Tables.events(spark, sf)
      .selectExpr("user_id", "unix_micros(ts) AS us", "event_id", "event_type")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))

  test("funnel: stage counts and inter-stage means re-derived with strict > at every hop") {
    val evs = eventRows()
    val perUser = evs.groupBy(_._1)
    def firstAfter(u: Array[(Long, Long, Long, String)], tpe: String, after: Option[Long]): Option[Long] = {
      val eligible = u.filter(e => e._4 == tpe && after.forall(a => e._2 > a))
      if (eligible.isEmpty) None else Some(eligible.map(_._2).min)
    }
    val trips = perUser.values.map { u =>
      val t1 = firstAfter(u, "signup", None)
      val t2 = t1.flatMap(t => firstAfter(u, "click", Some(t)))
      val t3 = t2.flatMap(t => firstAfter(u, "purchase", Some(t)))
      (t1, t2, t3)
    }.toSeq
    val n1 = trips.count(_._1.isDefined).toLong
    val n2 = trips.count(_._2.isDefined).toLong
    val n3 = trips.count(_._3.isDefined).toLong
    assert(n1 >= n2 && n2 >= n3, "funnel must be monotone")
    assert(n3 > 0, "corpus should complete the full funnel")
    val d12 = trips.collect { case (Some(a), Some(b), _) => b - a }.sum
    val d23 = trips.collect { case (_, Some(b), Some(c)) => c - b }.sum
    val got = EventAnalytics.qFunnel(spark, sf).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    assert(got.toSeq === Seq(
      (1, "signup", n1, -1.0),
      (2, "click", n2, d12.toDouble / n2.toDouble / 3600000000.0),
      (3, "purchase", n3, d23.toDouble / n3.toDouble / 3600000000.0)))
  }

  test("retention: matrix re-derived from first-signup week cohorts") {
    import java.time.{DayOfWeek, LocalDate, ZoneOffset}
    import java.time.temporal.TemporalAdjusters
    val evs = eventRows()
    def toDate(us: Long): LocalDate =
      java.time.Instant.ofEpochSecond(Math.floorDiv(us, 1000000L))
        .atZone(ZoneOffset.UTC).toLocalDate
    val cohort = evs.filter(_._4 == "signup").groupBy(_._1).map { case (u, es) =>
      u -> toDate(es.map(_._2).min)
        .`with`(TemporalAdjusters.previousOrSame(DayOfWeek.MONDAY))
    }
    val sizes = cohort.values.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val cells = evs.flatMap { case (u, us, _, _) =>
      cohort.get(u).flatMap { c =>
        val days = java.time.temporal.ChronoUnit.DAYS.between(c, toDate(us))
        if (days >= 0) Some(((c, (days / 7).toInt), u)) else None
      }
    }.groupBy(_._1).view.mapValues(_.map(_._2).distinct.length.toLong).toMap
    val expect = cells.toSeq.map { case ((c, k), n) =>
      (c.toString, k, n, sizes(c), n.toDouble / sizes(c).toDouble)
    }.sortBy { case (c, k, _, _, _) => (c, k) }
    val got = EventAnalytics.qRetention(spark, sf).collect()
      .map(r => (r.getDate(0).toString, r.getInt(1), r.getLong(2), r.getLong(3),
        r.getDouble(4)))
    assert(got.toSeq === expect)
  }

  test("active users: DAU/WAU re-derived from distinct day-user pairs; DAU <= WAU") {
    val pairs = Tables.events(spark, sf)
      .selectExpr("CAST(ts AS DATE) AS day", "user_id").distinct().collect()
      .map(r => (r.getDate(0).toLocalDate, r.getLong(1)))
    val days = pairs.map(_._1).distinct.sorted(Ordering.fromLessThan[java.time.LocalDate](_ isBefore _))
    val expect = days.map { d =>
      val dau = pairs.count(_._1 == d).toLong
      val wau = pairs.filter { case (pd, _) =>
        val diff = java.time.temporal.ChronoUnit.DAYS.between(pd, d)
        diff >= 0 && diff <= 6
      }.map(_._2).distinct.length.toLong
      (d.toString, dau, wau, dau.toDouble / wau.toDouble)
    }
    val got = EventAnalytics.qActiveUsers(spark, sf).collect()
      .map(r => (r.getDate(0).toString, r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(got.toSeq === expect.toSeq)
    assert(got.forall { case (_, dau, wau, s) => dau <= wau && s > 0.0 && s <= 1.0 })
  }

  test("attribution: every purchase credited to the strictly-preceding last touch") {
    val evs = eventRows()
    val expect = evs.groupBy(_._1).toSeq.flatMap { case (_, u) =>
      val sorted = u.sortBy(e => (e._2, e._3))
      sorted.zipWithIndex.collect {
        case ((_, _, _, "purchase"), i) =>
          sorted.take(i).reverse
            .collectFirst { case (_, _, _, t) if t == "click" || t == "view" => t }
            .getOrElse("none")
      }
    }
    val counts = expect.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val got = EventAnalytics.qAttribution(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    assert(got.map(t => t._1 -> t._2).toMap === counts)
    // Conservation: attributed purchases == total purchases.
    assert(got.map(_._2).sum === evs.count(_._4 == "purchase").toLong)
  }

  test("markov: transition counts re-derived from sorted streams; rows normalize to 1") {
    val evs = eventRows()
    val expectCounts = evs.groupBy(_._1).toSeq.flatMap { case (_, u) =>
      val types = u.sortBy(e => (e._2, e._3)).map(_._4)
      types.iterator.zip(types.iterator.drop(1)).toSeq
    }.groupBy(x => x).view.mapValues(_.size.toLong).toMap
    val got = EventAnalytics.qMarkov(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    assert(got.map(t => (t._1, t._2) -> t._3).toMap === expectCounts)
    // Each source row's probabilities sum to exactly 1 (shared exact
    // denominator per source).
    got.groupBy(_._1).foreach { case (src, rows) =>
      val total = rows.map(_._3).sum
      rows.foreach { case (_, _, n, p) =>
        assert(p === n.toDouble / total.toDouble, s"$src")
      }
    }
    // Conservation: transitions == events − users (one less pair per stream).
    assert(got.map(_._3).sum ===
      evs.length.toLong - evs.map(_._1).distinct.length.toLong)
  }

  test("anomaly: flags exactly the upper-z tail under driver-side moment recomputation") {
    val vals = Tables.events(spark, sf)
      .selectExpr("event_id", "event_type", "value").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    val stats = vals.groupBy(_._2).view.mapValues { es =>
      // Same scaled-integer moments as the query: vi = round(1e4·v),
      // exact BigInt power sums, single descale division per moment.
      def vi(v: Double): Long = math.round(v * 10000)
      val n = es.length
      val sx = es.map(e => BigInt(vi(e._3))).sum
      val sxx = es.map { e => val q = BigInt(vi(e._3)); q * q }.sum
      val s1 = sx.toDouble / 10000.0
      val s2 = sxx.toDouble / 100000000.0
      val mean = s1 / n.toDouble
      (mean, math.sqrt((s2 - s1 * s1 / n.toDouble) / (n - 1).toDouble))
    }.toMap
    val expect = vals.flatMap { case (id, t, v) =>
      val (mean, sd) = stats(t)
      val z = (v - mean) / sd
      if (z > 3.0) Some((id, t, v, z)) else None
    }.sortBy(_._1)
    val got = EventAnalytics.qAnomaly(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2), r.getDouble(3)))
    assert(got.toSeq === expect.toSeq)
    assert(got.nonEmpty, "the exponential-ish value tail must flag rows")
  }

  test("sessionize: gap-split sessions re-derived per user; one exchange serves window and aggregate") {
    val evs = Tables.events(spark, sf)
      .selectExpr("user_id", "unix_micros(ts) AS us", "event_id", "value")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val expect = evs.groupBy(_._1).flatMap { case (u, es) =>
      val sorted = es.sortBy(e => (e._2, e._3))
      var sid = 0L
      var prev = Long.MinValue
      val tagged = sorted.map { e =>
        if (prev == Long.MinValue || e._2 - prev > EventAnalytics.SessionGapUs) sid += 1
        prev = e._2
        (sid, e)
      }
      tagged.groupBy(_._1).map { case (s, ses) =>
        val uss = ses.map(_._2._2)
        val sum = ses.map(e => BigDecimal(e._2._4).setScale(4, BigDecimal.RoundingMode.HALF_UP))
          .sum
        (u, s, ses.length.toLong, uss.max - uss.min, sum.toDouble)
      }
    }.toSeq.sortBy(t => (t._1, t._2))
    val got = EventAnalytics.qSessionize(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
    assert(got.toSeq === expect)
    assert(got.exists(_._3 > 1), "corpus must produce multi-event sessions")
    // Single user_id exchange: the lag window, session numbering, and the
    // (user_id, session_id) aggregate all ride hash(user_id).
    val plan = EventAnalytics.qSessionize(spark, sf).queryExecution.executedPlan.toString
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(exchanges === 1, s"expected one user_id exchange, plan:\n$plan")
  }

  test("funnel plans one exchange for the per-user fold (no per-stage self-join)") {
    val plan = EventAnalytics.qFunnel(spark, sf).queryExecution.executedPlan.toString
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(exchanges === 1, s"expected a single user_id exchange, plan:\n$plan")
    assert(!plan.contains("SortMergeJoin"), "funnel must not join the event table per stage")
  }

  test("anomaly plans one stats exchange and a broadcast flag pass") {
    val plan = EventAnalytics.qAnomaly(spark, sf).queryExecution.executedPlan.toString
    // Pass 1: per-type moments — one hash exchange on event_type. Pass 2:
    // the 5-row stats table rides build-side; the event stream re-scan
    // must NOT shuffle again.
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(exchanges === 1, s"expected exactly the stats exchange, plan:\n$plan")
    assert(plan.contains("BroadcastHashJoin"), s"flag pass must broadcast stats:\n$plan")
  }
}
