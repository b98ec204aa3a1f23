package graft.ext

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.SparkTestSession.spark

class AnalyticsSpec extends AnyFunSuite {
  import spark.implicits._

  private def events(rows: (Long, String, Long)*) =
    rows.toDF("user_id", "event_type", "us")
      .withColumn("ts", timestamp_micros(col("us")))

  test("funnel requires strict temporal order across steps") {
    val e = events(
      // user 1: full ordered conversion
      (1L, "view", 10L), (1L, "click", 20L), (1L, "purchase", 30L),
      // user 2: purchase BEFORE the first view — step 3 not reached
      (2L, "purchase", 5L), (2L, "view", 10L), (2L, "click", 20L),
      // user 3: click at the same instant as the view — strict `>` rejects it
      (3L, "view", 10L), (3L, "click", 10L),
      // user 4: no funnel event at all
      (4L, "error", 10L))
    val out = Analytics.funnel(e)
      .select("user_id", "step_reached").as[(Long, Long)].collect().toMap
    assert(out == Map(1L -> 3L, 2L -> 2L, 3L -> 1L, 4L -> 0L))
  }

  test("funnel picks the EARLIEST valid time per step") {
    val e = events(
      (1L, "view", 10L), (1L, "view", 5L),
      (1L, "click", 7L), // before the first view at 5? no: 7 > 5, valid
      (1L, "click", 50L),
      (1L, "purchase", 6L), // before click at 7 — invalid
      (1L, "purchase", 40L))
    val r = Analytics.funnel(e)
      .select("ts1_us", "ts2_us", "ts3_us").as[(Long, Long, Long)].head()
    assert(r == ((5L, 7L, 40L)))
  }

  test("funnel generalizes to N steps (4-step chain, strict order)") {
    val e = events(
      (1L, "signup", 1L), (1L, "view", 2L), (1L, "click", 3L), (1L, "purchase", 4L),
      (2L, "signup", 1L), (2L, "view", 2L), (2L, "purchase", 3L)) // no click: stops at 2
    val out = Analytics.funnel(e, Seq("signup", "view", "click", "purchase"))
      .select("user_id", "step_reached").as[(Long, Long)].collect().toMap
    assert(out == Map(1L -> 4L, 2L -> 2L))
    val cols = Analytics.funnel(e, Seq("signup", "view", "click", "purchase")).columns
    assert(cols.toSeq == Seq("user_id", "ts1_us", "ts2_us", "ts3_us", "ts4_us", "step_reached"))
  }

  test("sessionFunnel restarts the funnel per inactivity-gap session") {
    val gap = 1800000000L // the default 30-min gap, in micros
    val e = Seq(
      // user 1 session 1: full conversion in one sitting
      (1L, 1L, "view", 10L), (1L, 2L, "click", 20L), (1L, 3L, "purchase", 30L),
      // user 1 session 2 (after the gap): view+click only — lifetime funnel
      // would say 3, but THIS sitting stops at 2
      (1L, 4L, "view", gap + 100L), (1L, 5L, "click", gap + 200L),
      // user 2: view in session 1, click only in session 2 — neither
      // session converts past step 1 / step 0
      (2L, 6L, "view", 10L), (2L, 7L, "click", 2 * gap + 50L))
      .toDF("user_id", "event_id", "event_type", "us")
      .withColumn("ts", timestamp_micros(col("us")))
    val out = Analytics.sessionFunnel(e)
      .select("user_id", "session_id", "step_reached")
      .as[(Long, Long, Long)].collect().toSet
    assert(out == Set((1L, 1L, 3L), (1L, 2L, 2L), (2L, 1L, 1L), (2L, 2L, 0L)))
  }

  test("retention cohorts count distinct users per (first-day, offset)") {
    val day = 86400000000L // one day of micros
    val e = events(
      (1L, "view", 0L), (1L, "view", day + 1), (1L, "click", 2 * day),
      (2L, "view", 1L), (2L, "view", 2 * day + 5),
      (3L, "view", day)) // cohorted on day 1
    val out = Analytics.retentionCohorts(e)
      .select("cohort_day", "offset_d", "n_users", "n_events")
      .as[(String, Long, Long, Long)].collect().toSet
    assert(out == Set(
      ("1970-01-01", 0L, 2L, 2L), // users 1,2 on their first day
      ("1970-01-01", 1L, 1L, 1L), // user 1 returned next day
      ("1970-01-01", 2L, 2L, 2L), // users 1,2 on day 2
      ("1970-01-02", 0L, 1L, 1L))) // user 3's own cohort
  }

  test("outliersIqr flags exactly the rows outside the Tukey fences") {
    // values 1..20 plus two extremes; exact type-1 quartiles of 22 values:
    // q1 = v[ceil(0.25*22)] = v[6], q3 = v[ceil(0.75*22)] = v[17]
    val vals = ((1 to 20).map(_.toDouble) ++ Seq(-100.0, 500.0))
    val e = vals.zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toDF("event_id", "value")
    val sorted = vals.sorted
    val (q1, q3) = (sorted(5), sorted(16)) // 0-based: rank 6 and 17
    val lo = q1 - 1.5 * (q3 - q1)
    val hi = q3 + 1.5 * (q3 - q1)
    val out = Analytics.outliersIqr(e)
      .select("value", "side").as[(Double, String)].collect().toSet
    val expected = vals.filter(v => v < lo || v > hi)
      .map(v => (v, if (v < lo) "low" else "high")).toSet
    assert(out == expected && out == Set((-100.0, "low"), (500.0, "high")))
  }

  test("funnelRates: cumulative step counts and step-over-step conversion") {
    val e = events(
      (1L, "view", 10L), (1L, "click", 20L), (1L, "purchase", 30L),
      (2L, "view", 10L), (2L, "click", 20L),
      (3L, "view", 10L),
      (4L, "error", 10L)) // reaches step 0; in no step count
    val out = Analytics.funnelRates(e)
      .select("step", "n_users", "conv_from_first", "conv_from_prev")
      .as[(Long, Long, Double, Double)].collect().sortBy(_._1).toSeq
    assert(out == Seq(
      (1L, 3L, 1.0, 1.0),
      (2L, 2L, 2.0 / 3.0, 2.0 / 3.0),
      (3L, 1L, 1.0 / 3.0, 0.5)))
  }

  test("retentionRates normalizes each cohort by its day-0 users") {
    val day = 86400000000L
    val e = events(
      (1L, "view", 0L), (2L, "view", 1L), // cohort day0: 2 users
      (1L, "view", day + 1))              // user 1 returns on day 1
    val out = Analytics.retentionRates(e)
      .select("offset_d", "n_users", "retention")
      .as[(Long, Long, Double)].collect().toSet
    assert(out == Set((0L, 2L, 1.0), (1L, 1L, 0.5)))
  }

  test("outliersMad flags by |v - median| > k*MAD and survives extreme contamination") {
    // median of 1..21 = 11; deviations 0..10 -> MAD = 5; k=3 -> fences [−4, 26]
    val vals = (1 to 21).map(_.toDouble) ++ Seq(-1000.0, 1000.0)
    // contaminated values barely move the MEDIAN (that's the point of MAD)
    val e = vals.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("event_id", "value")
    val out = Analytics.outliersMad(e).select("value", "side")
      .as[(Double, String)].collect().toSet
    // median of 23 values = 12th = 11; MAD over devs (23 values) = 6th.. compute:
    val med = vals.sorted.apply(math.ceil(0.5 * vals.size).toInt - 1)
    val mad = vals.map(v => math.abs(v - med)).sorted
      .apply(math.ceil(0.5 * vals.size).toInt - 1)
    val (lo, hi) = (med - 3.0 * mad, med + 3.0 * mad)
    val expected = vals.filter(v => v < lo || v > hi)
      .map(v => (v, if (v < lo) "low" else "high")).toSet
    assert(out == expected && out.contains((-1000.0, "low")) && out.contains((1000.0, "high")))
  }

  test("outliersMad on empty/all-null values returns empty") {
    val e = Seq.empty[(Long, Double)].toDF("event_id", "value")
    assert(Analytics.outliersMad(e).count() == 0)
  }

  test("valueHistogram buckets by fixed width incl. negatives; counts and extrema") {
    val e = Seq((1L, -30.0), (2L, -1.0), (3L, 0.0), (4L, 24.9), (5L, 25.0), (6L, 70.0))
      .toDF("event_id", "value")
    val out = Analytics.valueHistogram(e).select("bucket", "n", "vmin", "vmax")
      .as[(Long, Long, Double, Double)].collect().toSet
    assert(out == Set(
      (-2L, 1L, -30.0, -30.0), (-1L, 1L, -1.0, -1.0),
      (0L, 2L, 0.0, 24.9), (1L, 1L, 25.0, 25.0), (2L, 1L, 70.0, 70.0)))
  }

  test("winsorize clips to exact type-1 [p05,p95] fences; outputs are input values") {
    // 20 values 1..20: type-1 quantiles are ceil(0.05*20)=1st (=1.0) and
    // ceil(0.95*20)=19th (=19.0) order statistics
    val e = (1 to 20).map(i => (i.toLong, i.toDouble)).toDF("event_id", "value")
    val out = Analytics.winsorize(e)
      .select("event_id", "clipped", "was_clipped")
      .as[(Long, Double, Boolean)].collect()
      .map { case (k, c, w) => k -> ((c, w)) }.toMap
    assert(out(1L) == ((1.0, false)))   // at the low fence, not below
    assert(out(10L) == ((10.0, false)))
    assert(out(19L) == ((19.0, false)))
    assert(out(20L) == ((19.0, true)))  // above the high fence → clipped down
    // every clipped output is one of the input doubles
    assert(out.values.map(_._1).toSet.subsetOf((1 to 20).map(_.toDouble).toSet))
  }

  test("minmaxScale maps each group's range onto [0,1]; degenerate range to 0") {
    val e = Seq(
      (1L, "a", 10.0), (2L, "a", 20.0), (3L, "a", 15.0),
      (4L, "b", 7.0), (5L, "b", 7.0)) // degenerate: min == max
      .toDF("event_id", "event_type", "value")
    val out = Analytics.minmaxScale(e)
      .select("event_id", "scaled").as[(Long, Double)].collect().toMap
    assert(out == Map(1L -> 0.0, 2L -> 1.0, 3L -> 0.5, 4L -> 0.0, 5L -> 0.0))
  }

  test("transitionMatrix: counts and row-normalized probabilities") {
    val HourUs = 3600000000L
    val e = Seq( // user 1: A→B→A ; user 2: A→A
      (1L, 1L, "A", 0L), (2L, 1L, "B", 1L), (3L, 1L, "A", 2L),
      (4L, 2L, "A", 0L), (5L, 2L, "A", 1L))
      .toDF("event_id", "user_id", "event_type", "h")
      .withColumn("ts", timestamp_micros(col("h") * HourUs))
    val got = Analytics.transitionMatrix(e)
      .orderBy("from_type", "to_type")
      .as[(String, String, Long, Double)].collect().toSeq
    assert(got === Seq(("A", "A", 1L, 0.5), ("A", "B", 1L, 0.5),
      ("B", "A", 1L, 1.0)))
  }

  test("typeAffinity: session baskets, pair counts, lift") {
    val HourUs = 3600000000L
    val e = Seq( // user 1: session {A,B}, then (2h gap) session {A}; user 2: {B}
      (1L, 1L, "A", 0L), (2L, 1L, "B", 0L), (3L, 1L, "A", 2L * HourUs),
      (4L, 2L, "B", 0L))
      .toDF("event_id", "user_id", "event_type", "us")
      .withColumn("ts", timestamp_micros(col("us")))
    val got = Analytics.typeAffinity(e)
      .as[(String, String, Long, Long, Long, Double)].collect().toSeq
    spark.catalog.clearCache()
    // 3 sessions; A in 2, B in 2, {A,B} together in 1 → lift = 1·3/(2·2)
    assert(got === Seq(("B", "A", 1L, 2L, 2L, 0.75)) ||
      got === Seq(("A", "B", 1L, 2L, 2L, 0.75)))
    // r18 grouped-sets shape: the session relation is never self-joined —
    // the only joins left are broadcasts of the |types|²-bounded rollup
    val plan = Analytics.typeAffinity(e).queryExecution.executedPlan.toString
    spark.catalog.clearCache()
    assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin"))
  }

  test("dauWau: sliding distinct by hand on a 3-user toy timeline") {
    val DayUs = 86400000000L
    val e = Seq( // day 0: u1,u2 ; day 1: u1 ; day 10: u3 (outside any window of day 0/1)
      (1L, 1L, 0L), (2L, 2L, 0L), (3L, 1L, 1L * DayUs), (4L, 3L, 10L * DayUs))
      .toDF("event_id", "user_id", "us")
      .withColumn("ts", timestamp_micros(col("us")))
    val got = Analytics.dauWau(e).orderBy("day")
      .select("dau", "wau", "stickiness")
      .as[(Long, Long, Double)].collect().toSeq
    // day0: dau 2, wau 2; day1: dau 1, wau(days −5..1)={u1,u2}=2; day10: 1/1
    assert(got === Seq((2L, 2L, 1.0), (1L, 2L, 0.5), (1L, 1L, 1.0)))
  }

  test("refIntegrity: orphan and null-key accounting") {
    val parent = Seq(10L, 11L).toDF("pk")
    val child = Seq(Some(10L), Some(10L), Some(99L), None).toDF("fk")
    val got = Analytics.refIntegrity(Seq(("c->p", child, "fk", parent, "pk")))
      .as[(String, Long, Long, Long)].collect().toSeq
    // 4 rows, 3 non-null keys, 1 orphan (99); the null key is NOT an orphan
    assert(got === Seq(("c->p", 4L, 3L, 1L)))
  }

  test("outOfOrderRate: flags attributed to the later event's type") {
    val e = Seq(
      // user 1: b arrives (event_id 2) with an EARLIER ts than a → 1 ooo on b
      (1L, 1L, "a", 100L), (1L, 2L, "b", 50L),
      // user 1: c in order
      (1L, 3L, "c", 200L),
      // user 2: equal ts is NOT out of order (strict <)
      (2L, 4L, "a", 100L), (2L, 5L, "a", 100L))
      .toDF("user_id", "event_id", "event_type", "us")
      .withColumn("ts", timestamp_micros(col("us")))
    val got = Analytics.outOfOrderRate(e)
      .select("event_type", "n_events", "n_ooo").as[(String, Long, Long)]
      .collect().map { case (t, n, o) => t -> ((n, o)) }.toMap
    assert(got == Map("a" -> (3L, 0L), "b" -> (1L, 1L), "c" -> (1L, 0L)))
  }

  test("equidepthHistogram: uniform values split evenly; ties allowed") {
    val df = (1 to 80).map(_.toDouble).toDF("value")
    val got = Analytics.equidepthHistogram(df, "value", 4)
      .orderBy("bucket").as[(Long, Double, Long, Double)].collect()
    assert(got.map(_._1).toSeq == Seq(1L, 2L, 3L, 4L))
    assert(got.map(_._3).toSeq == Seq(20L, 20L, 20L, 20L))
    assert(got.map(_._2).toSeq == Seq(20.0, 40.0, 60.0, 80.0))
    assert(got.forall(_._4 == 0.25))
  }

  test("equidepthHistogram: heavy tie leaves later buckets empty, k rows kept") {
    val df = (Seq.fill(30)(5.0) ++ Seq(9.0, 10.0)).toDF("value")
    val got = Analytics.equidepthHistogram(df, "value", 4)
      .orderBy("bucket").as[(Long, Double, Long, Double)].collect()
    assert(got.length == 4)
    assert(got.map(_._3).sum == 32L)
    // all 30 fives land in bucket 1 (5 ≤ b1 = 5); buckets whose bound
    // repeats hold zero
    assert(got.head._3 == 30L)
  }

  test("paretoFront: dominance semantics incl. ties, vs naive quadratic") {
    val rows = Seq(
      (10.0, 100L), (10.0, 90L),  // same p: only the smaller d survives
      (9.0, 80L),                  // smaller p but better d → survives
      (9.0, 95L),                  // dominated by (10, 90)? p'>p, d'<d yes
      (8.0, 80L),                  // dominated by (9, 80): p'>p, d'==d
      (11.0, 120L),                // best p, worst d → survives
      (10.0, 90L))                 // duplicate pair: collapses, n=2
    val df = rows.toDF("p", "d")
    val got = Analytics.paretoFront(df, col("p"), col("d"))
      .as[(Double, Long, Long)].collect().toSet
    // naive check: pair survives iff no other distinct pair has p'>=p, d'<=d
    val pairs = rows.groupBy(identity).map { case (k, v) => (k._1, k._2, v.size.toLong) }
    val expect = pairs.filter { case (p, d, _) =>
      !pairs.exists { case (p2, d2, _) => (p2, d2) != (p, d) && p2 >= p && d2 <= d }
    }.toSet
    assert(got == expect)
    assert(got == Set((10.0, 90L, 2L), (9.0, 80L, 1L), (11.0, 120L, 1L)))
  }

  test("paretoFront: bucketed result equals single-bucket result") {
    val rnd = new scala.util.Random(7)
    val rows = Seq.fill(400)((rnd.nextInt(50).toDouble, rnd.nextInt(50).toLong))
    val df = rows.toDF("p", "d")
    val many = Analytics.paretoFront(df, col("p"), col("d"), numParts = 13)
      .as[(Double, Long, Long)].collect().toSet
    val one = Analytics.paretoFront(df, col("p"), col("d"), numParts = 1)
      .as[(Double, Long, Long)].collect().toSet
    assert(many == one)
    assert(many.nonEmpty)
  }

  test("pathTrigrams: trigrams never cross a session boundary; tie-break deterministic") {
    val HourUs = 3600000000L
    val e = Seq(
      // user 1, session 1: a b c d → trigrams "a>b>c", "b>c>d"
      (1L, 1L, "a", 0L), (1L, 2L, "b", 1L), (1L, 3L, "c", 2L), (1L, 4L, "d", 3L),
      // user 1, session 2 (after 2h gap): a b c → "a>b>c" again
      (1L, 5L, "a", 2 * HourUs), (1L, 6L, "b", 2 * HourUs + 1),
      (1L, 7L, "c", 2 * HourUs + 2),
      // user 2: only two events in-session — no trigram
      (2L, 8L, "x", 0L), (2L, 9L, "y", 1L))
      .toDF("user_id", "event_id", "event_type", "us")
      .withColumn("ts", timestamp_micros(col("us")))
    val got = Analytics.pathTrigrams(e, k = 10)
      .as[(String, Long)].collect().toSeq
    assert(got == Seq(("a > b > c", 2L), ("b > c > d", 1L)))
  }

  test("funnel plan has exactly one exchange (window + rollup co-partitioned)") {
    val e = events((1L, "view", 10L), (2L, "click", 20L))
    // stage=false: assert the COMPUTATION's shape (the staged form returns
    // a scan of the materialized stage, which has no exchange by design)
    val plan = Analytics.funnel(e, stage = false).queryExecution.executedPlan
    var exchanges = 0
    graft.etl.PlanWalk.visit(plan) { p =>
      if (p.getClass.getSimpleName.contains("ShuffleExchange")) exchanges += 1
    }
    assert(exchanges == 1, s"expected 1 shuffle, plan:\n$plan")
  }

  test("funnel: staged result equals the direct computation row-for-row") {
    val e = events((1L, "view", 10L), (1L, "click", 20L), (1L, "purchase", 30L),
      (2L, "click", 5L), (2L, "view", 6L), (3L, "view", 1L))
    val direct = Analytics.funnel(e, stage = false)
      .collect().map(_.toString).sorted.toSeq
    val staged = Analytics.funnel(e)
      .collect().map(_.toString).sorted.toSeq
    assert(staged == direct)
  }

  test("cohortLtv: hand-built cohort grid, running cumulative, exact cents") {
    val orders = Seq(
      (1L, 1L, "2020-01-05", 10.0), (2L, 1L, "2020-02-20", 20.0),
      (3L, 2L, "2020-01-28", 5.0),
      (4L, 3L, "2020-02-01", 7.0))
      .toDF("o_orderkey", "o_custkey", "d", "o_totalprice")
      .withColumn("o_orderdate", col("d").cast("timestamp")).drop("d")
    val got = Analytics.cohortLtv(orders).collect().map(r =>
      (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6)))).toMap
    val jan = 2020L * 12 + 0 // year*12 + month-1
    val feb = jan + 1
    // Jan cohort (custs 1, 2; size 2): age 0 → 2 active, $15; age 1 → $20 more
    assert(got((jan, 0L)) == ((2L, 1500L, 1500L, 2L, 750L)))
    assert(got((jan, 1L)) == ((1L, 2000L, 3500L, 2L, 1750L)))
    // Feb cohort (cust 3; size 1): one cell
    assert(got((feb, 0L)) == ((1L, 700L, 700L, 1L, 700L)))
    assert(got.size == 3)
    // fixture: exact integer chain → partition invariance
    val fx = graft.etl.IngestOps.table(spark, graft.SparkTestSession.sf0001,
      "orders")
    val a = Analytics.cohortLtv(fx).collect().map(_.toString).toSeq
    val b = Analytics.cohortLtv(fx.repartition(11)).collect().map(_.toString).toSeq
    assert(a == b && a.nonEmpty)
  }

  test("rfm: recency/frequency/monetary with tie-free quintile scores") {
    val day = 86400000000L
    val orders = Seq(
      // cust 1: two orders, last 2 days before max; spends 10 + 20
      (1L, 1L, 0L, 10.0), (2L, 1L, 8L * day, 20.0),
      // cust 2: one order at the corpus max date, spend 100
      (3L, 2L, 10L * day, 100.0),
      // cust 3: one stale order, spend 5
      (4L, 3L, 1L * day, 5.0))
      .toDF("o_orderkey", "o_custkey", "us", "o_totalprice")
      .withColumn("o_orderdate", timestamp_micros(col("us")))
    val got = Analytics.rfm(orders).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3),
        r.getLong(4), r.getLong(5), r.getLong(6)))).toMap
    assert(got(1L)._1 == 2L && got(1L)._2 == 2L && got(1L)._3 == "30.00")
    assert(got(2L)._1 == 0L && got(2L)._3 == "100.00")
    assert(got(3L)._1 == 9L && got(3L)._3 == "5.00")
    // most recent customer gets the best recency score bucket
    assert(got(2L)._4 <= got(1L)._4 && got(1L)._4 <= got(3L)._4)
    // biggest spender gets the best monetary bucket
    assert(got(2L)._6 <= got(1L)._6 && got(1L)._6 <= got(3L)._6)
    // scores identical under repartition (tie-free order)
    val again = Analytics.rfm(orders.repartition(7)).collect()
      .map(r => r.getLong(0) -> r.getLong(4)).toMap
    assert(again == got.map { case (k, v) => k -> v._4 })
  }

  test("rfm: closed-form global-rank ntile equals Window.ntile; no unpartitioned WindowExec") {
    // randomized differential against the single-partition ntile windows
    // the operator replaced (the 100 TB fix must be value-identical)
    val day = 86400000000L
    val rnd = new scala.util.Random(7)
    val rows = (1 to 400).map { i =>
      (i.toLong, (rnd.nextInt(97) + 1).toLong, rnd.nextInt(60).toLong * day,
        (rnd.nextInt(100000) + 1) / 100.0)
    }
    val orders = rows.toDF("o_orderkey", "o_custkey", "us", "o_totalprice")
      .withColumn("o_orderdate", timestamp_micros(col("us")))
    val got = Analytics.rfm(orders)
    import org.apache.spark.sql.expressions.Window
    val rW = Window.orderBy(col("recency_days"), col("o_custkey"))
    val fW = Window.orderBy(col("frequency").desc, col("o_custkey"))
    val mW = Window.orderBy(col("_spendd").desc, col("o_custkey"))
    val maxD = orders.agg(max(col("o_orderdate").cast("timestamp")).as("_maxd"))
    val expected = orders.groupBy("o_custkey")
      .agg(max(col("o_orderdate").cast("timestamp")).as("_last"),
        count(lit(1)).as("frequency"),
        sum(col("o_totalprice").cast("decimal(18,2)")).as("_spendd"))
      .crossJoin(broadcast(maxD))
      .withColumn("recency_days",
        expr("(unix_micros(_maxd) - unix_micros(_last)) DIV 86400000000"))
      .withColumn("r_score", ntile(5).over(rW).cast("long"))
      .withColumn("f_score", ntile(5).over(fW).cast("long"))
      .withColumn("m_score", ntile(5).over(mW).cast("long"))
      .select("o_custkey", "r_score", "f_score", "m_score")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    val gotMap = got.select("o_custkey", "r_score", "f_score", "m_score")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(gotMap == expected)
    // and the plan that replaced them must not contain the thing it fixed
    var badWindows = 0
    graft.etl.PlanWalk.visit(got.queryExecution.executedPlan) { p =>
      p match {
        case w: org.apache.spark.sql.execution.window.WindowExec
            if w.partitionSpec.isEmpty => badWindows += 1
        case _ => ()
      }
    }
    assert(badWindows == 0, "rfm must not plan an unpartitioned window")
  }

  test("markovStationary: two-state chain matches the hand-run integer rounds") {
    // user journey a→b→a→b→a→a: transitions a→b ×2, b→a ×2, a→a ×1
    val rows = Seq("a", "b", "a", "b", "a", "a").zipWithIndex.map { case (t, i) =>
      (i.toLong, 1L, t, i.toLong * 1000000L)
    }
    val ev = rows.toDF("event_id", "user_id", "event_type", "us")
      .withColumn("ts", timestamp_micros(col("us")))
    val scale = 1000000L
    val got = Analytics.markovStationary(ev, iters = 3, scale = scale)
      .select("state", "pi_scaled").as[(String, Long)].collect().toMap
    // replicate: n(a→b)=2, n(a→a)=1, n_a=3; n(b→a)=2, n_b=2
    var pa = scale / 2; var pb = scale / 2
    for (_ <- 1 to 3) {
      val na = (pa * 1) / 3 + (pb * 2) / 2
      val nb = (pa * 2) / 3
      pa = na; pb = nb
    }
    assert(got == Map("a" -> pa, "b" -> pb))
    // chain spends more limit time in 'a' (self-loop + return edge)
    assert(got("a") > got("b"))
  }

  test("attribution: trailing count, first/last touch, dark conversions kept") {
    val H = 3600000000L
    val rows = Seq(
      // user 1: view → click → purchase within the window, then a purchase
      // whose window holds only the click (view aged out of a 3h lookback)
      (1L, 1L, "view", 0L), (2L, 1L, "click", 2 * H), (3L, 1L, "purchase", 3 * H),
      (4L, 1L, "purchase", 5 * H),
      // user 2: purchase with no preceding touch at all
      (5L, 2L, "purchase", 10 * H),
      // a preceding PURCHASE is never a touch
      (6L, 3L, "purchase", 0L), (7L, 3L, "purchase", H))
    val ev = rows.toDF("event_id", "user_id", "event_type", "us")
      .withColumn("ts", timestamp_micros(col("us")))
    val got = Analytics.attribution(ev, lookbackUs = 3 * H)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(3), Option(r.getString(4)), Option(r.getString(5))))).toMap
    assert(got(3L) == ((2L, Some("view"), Some("click"))))
    assert(got(4L) == ((1L, Some("click"), Some("click"))))
    assert(got(5L) == ((0L, None, None)))
    assert(got(6L) == ((0L, None, None)) && got(7L) == ((0L, None, None)))
  }

  test("brandRules: hand-computed support/confidence/lift on 4 baskets") {
    // orders: {A,B}, {A,B}, {A,C}, {C}; n=4, supp A=3 B=2 C=2, AB=2, AC=1
    val li = Seq((1L, 10L), (1L, 20L), (2L, 10L), (2L, 21L), (3L, 11L),
        (3L, 30L), (4L, 31L))
      .toDF("l_orderkey", "l_partkey")
    val part = Seq((10L, "A"), (11L, "A"), (20L, "B"), (21L, "B"),
        (30L, "C"), (31L, "C"))
      .toDF("p_partkey", "p_brand")
    val got = Analytics.brandRules(li, part, minSupport = 1L)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getDouble(5), r.getDouble(6)))).toMap
    assert(got(("A", "B")) == ((2L, 2.0 / 3.0, 2.0 * 4 / (3 * 2))))
    assert(got(("B", "A")) == ((2L, 1.0, 2.0 * 4 / (2 * 3))))
    assert(got(("A", "C")) == ((1L, 1.0 / 3.0, 1.0 * 4 / (3 * 2))))
    assert(!got.contains(("B", "C")))
    // minSupport prunes
    assert(Analytics.brandRules(li, part, minSupport = 2L).count() == 2L)
    // r18 grouped-sets shape: baskets are never self-joined — the only
    // joins left are the broadcast dim join and broadcasts of the
    // |brands|²-bounded rollups
    val plan = Analytics.brandRules(li, part).queryExecution.executedPlan.toString
    spark.catalog.clearCache()
    assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin"))
  }

  test("abcAnalysis: hand-built Pareto labels; equal-spend customers share one label; shares sum to 1") {
    def orders(rows: (Long, Long, Double)*) =
      rows.toDF("o_orderkey", "o_custkey", "o_totalprice")
    // spends 50/30/15/5 of a 100 total → prev-shares 0, 50, 80, 95 → A A B C
    val o = orders((1L, 1L, 50.0), (2L, 2L, 30.0), (3L, 3L, 15.0), (4L, 4L, 5.0))
    val got = Analytics.abcAnalysis(o).collect().map(r =>
      r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(got == Map(
      "A" -> ((2L, 8000L, 800000L)),
      "B" -> ((1L, 1500L, 150000L)),
      "C" -> ((1L, 500L, 50000L))))
    // equal-spend customers collapse into one class → one label for both,
    // even when a per-customer rank would straddle the A boundary
    val tie = orders((1L, 1L, 40.0), (2L, 2L, 30.0), (3L, 3L, 30.0))
    val lab = Analytics.abcAnalysis(tie).collect().map(r =>
      r.getString(0) -> r.getLong(1)).toMap
    assert(lab == Map("A" -> 3L)) // prev-share of the 30-class is 40% < 80%
    // partition invariance (exact integers end to end)
    val big = orders((1L to 300L).map(k => (k, k % 40, (k % 17 + 1) * 10.0)): _*)
    val a = Analytics.abcAnalysis(big).collect().map(_.toString).toSeq
    val b = Analytics.abcAnalysis(big.repartition(13)).collect()
      .map(_.toString).toSeq
    assert(a == b)
  }

  test("cumulativeUsers: users count once on first day; curve is a running total; partition-invariant") {
    val DayUs = 86400000000L
    // u1 first on d0 (again d2), u2 on d0, u3 on d2, u4 on d5
    val e = Seq((1L, 1L, 0L), (2L, 2L, 0L), (3L, 1L, 2 * DayUs),
      (4L, 3L, 2 * DayUs), (5L, 4L, 5 * DayUs))
      .toDF("event_id", "user_id", "us")
      .withColumn("ts", timestamp_micros(col("us")))
    val got = Analytics.cumulativeUsers(e)
      .select("n_new", "cum_users").as[(Long, Long)].collect().toSeq
    assert(got === Seq((2L, 2L), (1L, 3L), (1L, 4L)))
    // null user/ts excluded
    val withNulls = e.unionByName(
      Seq((6L, Option.empty[Long], Option(6 * DayUs)),
        (7L, Option(9L), Option.empty[Long]))
        .toDF("event_id", "user_id", "us")
        .withColumn("ts", timestamp_micros(col("us"))))
    assert(Analytics.cumulativeUsers(withNulls)
      .agg(org.apache.spark.sql.functions.max("cum_users"))
      .as[Long].head() == 4L)
    // exact integers → identical under repartition
    val a = Analytics.cumulativeUsers(e).collect().map(_.toString).toSeq
    val b = Analytics.cumulativeUsers(e.repartition(7)).collect()
      .map(_.toString).toSeq
    assert(a == b)
  }

  test("hhiConcentration: exact micro-unit shares, monopoly pins 1.0") {
    val li = Seq(
      (1L, 6.0, 0.5), // nation A supplier 1: rev 3.00 → rev4 30000
      (2L, 1.0, 0.0), // nation A supplier 2: rev 1.00 → rev4 10000
      (3L, 2.0, 0.0)) // nation B monopoly
      .toDF("l_suppkey", "l_extendedprice", "l_discount")
    val sup = Seq((1L, 0), (2L, 0), (3L, 1)).toDF("s_suppkey", "s_nationkey")
    val nat = Seq((0, "A"), (1, "B")).toDF("n_nationkey", "n_name")
    val got = Analytics.hhiConcentration(li, sup, nat)
      .select("n_name", "n_suppliers", "hhi_micro", "top_share_micro")
      .as[(String, Long, Long, Long)].collect().sortBy(_._1).toSeq
    // A: shares 750000/250000 → hhi = (75e4² + 25e4²)/1e6 = 625000
    assert(got == Seq(("A", 2L, 625000L, 750000L),
      ("B", 1L, 1000000L, 1000000L)))
    // fixture: exact integers → identical under repartition
    val sf = graft.SparkTestSession.sf0001
    val fx = Analytics.hhiConcentration(
      graft.etl.IngestOps.table(spark, sf, "lineitem"),
      graft.etl.IngestOps.table(spark, sf, "supplier"),
      graft.etl.IngestOps.table(spark, sf, "nation"))
    val a = fx.collect().map(_.toString).sorted.toSeq
    val b = Analytics.hhiConcentration(
      graft.etl.IngestOps.table(spark, sf, "lineitem").repartition(9),
      graft.etl.IngestOps.table(spark, sf, "supplier"),
      graft.etl.IngestOps.table(spark, sf, "nation"))
      .collect().map(_.toString).sorted.toSeq
    assert(a == b && a.nonEmpty)
  }

  test("maxDrawdown: peak-to-trough over the exact-cents prefix sum") {
    val e = Seq(
      // user 1: +5.00, −3.00, +1.00, −6.00 → prefix 500,200,300,−300;
      // running max stays 500 → drawdowns 0,300,200,800
      (1L, 1L, 10L, 5.0), (2L, 1L, 20L, -3.0),
      (3L, 1L, 30L, 1.0), (4L, 1L, 40L, -6.0),
      // user 2: monotone up → zero drawdown
      (5L, 2L, 10L, 1.0), (6L, 2L, 20L, 2.0))
      .toDF("event_id", "user_id", "us", "value")
      .withColumn("ts", timestamp_micros(col("us")))
    val got = Analytics.maxDrawdown(e)
      .select("user_id", "max_drawdown_cents", "peak_cents", "n_points")
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(got == Seq((1L, 800L, 500L, 4L), (2L, 0L, 300L, 2L)))
    // single shuffle: both windows + rollup share the user_id exchange
    val plan = Analytics.maxDrawdown(e).queryExecution.executedPlan
    var exchanges = 0
    graft.etl.PlanWalk.visit(plan) { p =>
      if (p.getClass.getSimpleName.contains("ShuffleExchange")) exchanges += 1
    }
    assert(exchanges == 1, s"expected 1 shuffle, plan:\n$plan")
    // exact integers → identical under repartition on the fixture
    val fx = graft.etl.IngestOps.table(spark, graft.SparkTestSession.sf0001,
      "events")
    val a = Analytics.maxDrawdown(fx).collect().map(_.toString).sorted.toSeq
    val b = Analytics.maxDrawdown(fx.repartition(11)).collect()
      .map(_.toString).sorted.toSeq
    assert(a == b && a.nonEmpty)
  }

  test("kaplanMeier: hand-built conversion curve — censoring shrinks the " +
    "risk set without a step") {
    val hour = 3600000000L
    // (user, event_type, hour); corpus max = h100 (u99's view).
    // Horizon 48h → u1/u2 convert at t=5; u3's purchase at +60h is OUTSIDE
    // the window (censored at 48); u4 never converts (censored at 48);
    // u5 signs up at h80 → administratively censored at 100−80 = 20;
    // u6's only purchase PRECEDES its signup (censored at 48);
    // u7 has a purchase but NO signup → excluded from the study entirely.
    val e = Seq(
      (1L, "signup", 0L), (1L, "purchase", 5L),
      (2L, "signup", 0L), (2L, "purchase", 5L),
      (3L, "signup", 0L), (3L, "purchase", 60L),
      (4L, "signup", 0L),
      (5L, "signup", 80L),
      (6L, "purchase", 1L), (6L, "signup", 2L),
      (7L, "purchase", 3L),
      (99L, "view", 100L))
      .toDF("user_id", "event_type", "h")
      .withColumn("ts", timestamp_micros(col("h") * hour))
      .withColumn("event_id", col("user_id") * 1000 + col("h"))
    val got = Analytics.kaplanMeier(e)
      .select("t_hour", "n_risk", "n_deaths", "surv_pico")
      .as[(Long, Long, Long, Long)].collect().toSeq
    // single step t=5: 6 at risk (u1..u6; u7 not enrolled), 2 deaths →
    // q = floor(4e6/6) = 666666, s = 666666000000
    assert(got == Seq((5L, 6L, 2L, 666666000000L)))
    // censor times never appear as steps
    assert(!got.exists(r => r._1 == 20L || r._1 == 48L))
    // no-signup corpus → empty curve
    val none = Seq((1L, "view", 1L)).toDF("user_id", "event_type", "h")
      .withColumn("ts", timestamp_micros(col("h") * hour))
      .withColumn("event_id", col("user_id"))
    assert(Analytics.kaplanMeier(none).count() == 0L)
    // exact integer fold → identical under repartition; fixture non-empty
    val fx = graft.etl.IngestOps.table(spark, graft.SparkTestSession.sf0001,
      "events")
    val x = Analytics.kaplanMeier(fx).collect().map(_.toString).toSeq
    val y = Analytics.kaplanMeier(fx.repartition(13)).collect()
      .map(_.toString).toSeq
    assert(x == y && x.nonEmpty)
    // survival is the pico fixed-point, monotone non-increasing
    val s = Analytics.kaplanMeier(fx).select("surv_pico").as[Long]
      .collect().toSeq
    assert(s == s.sorted.reverse)
  }
}
