package graft.ext

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession

/** ext/Stats (exact-moment correlation, trailing z-score, column profiler)
  * + the new Sketch.countMinTokens / Dedup.editDistancePairs operators. */
class StatsSpec extends AnyFunSuite {
  private val spark = SparkTestSession.spark
  import spark.implicits._

  private def ts(us: Long) = timestamp_micros(lit(us))
  private val HourUs = 3600000000L

  // ---- pearsonByHour -------------------------------------------------

  test("pearsonByHour: hand-computed correlation on a known frame") {
    // type A: value = 10*hour + 1 exactly → corr 1.0, slope 10.0
    // type B: hours 0,1,2 with values 3,1,2 → hand-computed moments
    val rows = Seq.tabulate(4)(h => (100L + h, h.toLong, "A", 10.0 * h + 1.0)) ++
      Seq((200L, 0L, "B", 3.0), (201L, 1L, "B", 1.0), (202L, 2L, "B", 2.0))
    val ev = rows.toDF("event_id", "h", "event_type", "value")
      .withColumn("ts", timestamp_micros(col("h") * HourUs))
      .withColumn("user_id", lit(1L))
    val got = Stats.pearsonByHour(ev).orderBy("event_type")
      .as[(String, Long, Option[Double], Option[Double])].collect()
    assert(got.length === 2)
    // A: n=4 sx=64 sy=6 sxx=1524 syy=14 sxy=146 → num = 4*146-64*6 = 200,
    // varX = 2000, varY = 20 → corr = 200/(√2000·√20) (1 ulp below the
    // ideal 1.0 — the formula's own double rounding, same on both engines),
    // slope = 200/20 = 10
    val (_, na, ca, sa) = got(0)
    assert(na === 4L && sa.get === 10.0)
    assert(ca.get === 200.0 / (math.sqrt(2000.0) * math.sqrt(20.0)))
    // B: n=3 sx=6 sy=3 sxx=14 syy=5 sxy=0·3+1·1+2·2=5 → num = 3*5-6*3 = -3,
    // varX = 3*14-36 = 6, varY = 3*5-9 = 6 → corr = -3/6 = -0.5, slope = -3/6
    val (_, nb, cb, sb) = got(1)
    assert(nb === 3L && sb.get === -0.5)
    assert(cb.get === -3.0 / (math.sqrt(6.0) * math.sqrt(6.0)))
  }

  test("pearsonByHour: zero-variance group yields null, not NaN") {
    val ev = Seq((1L, "C", 5.0), (2L, "C", 7.0))
      .toDF("event_id", "event_type", "value")
      .withColumn("ts", ts(0L)) // same hour → varY = 0
      .withColumn("user_id", lit(1L))
    val got = Stats.pearsonByHour(ev)
      .as[(String, Long, Option[Double], Option[Double])].collect()
    assert(got.head._3.isEmpty && got.head._4.isEmpty)
  }

  test("pearsonByHour: partitioning-invariant (exact moments)") {
    val ev = graft.etl.IngestOps.table(spark, SparkTestSession.sf0001, "events")
    val a = Stats.pearsonByHour(ev).orderBy("event_type").collect().toSeq
    val b = Stats.pearsonByHour(ev.repartition(7)).orderBy("event_type").collect().toSeq
    assert(a === b)
  }

  test("fixture guard: events.value round-trips DECIMAL(18,2) losslessly") {
    val ev = graft.etl.IngestOps.table(spark, SparkTestSession.sf0001, "events")
    val bad = ev.filter(col("value").isNotNull &&
      col("value") =!= col("value").cast("decimal(18,2)").cast("double")).count()
    assert(bad === 0L,
      "events.value no longer 2-dp — Stats' decimal-exact moments are unsound")
  }

  // ---- anomalyZscore -------------------------------------------------

  test("anomalyZscore: detects a spike against its trailing window only") {
    // user 1: values 1.0/2.0 alternating for 12 events, then a 50.0 spike.
    // The spike's trailing window excludes the spike itself.
    val base = Seq.tabulate(12)(i =>
      (i.toLong, 1L, i.toLong * HourUs, if (i % 2 == 0) 1.0 else 2.0))
    val all = base :+ (99L, 1L, 12L * HourUs, 50.0)
    val ev = all.toDF("event_id", "user_id", "us", "value")
      .withColumn("ts", timestamp_micros(col("us")))
      .withColumn("event_type", lit("x"))
    val got = Stats.anomalyZscore(ev, lookback = 20, minN = 10, zThresh = 2.0)
      .as[(Long, Long, Double, Long, Double)].collect().toSeq
    assert(got.map(_._1) === Seq(99L))
    val (_, _, v, n, z) = got.head
    assert(v === 50.0 && n === 12L)
    // trailing: six 1.0s + six 2.0s → mean 1.5, sample var = 12*27-18² over
    // 12*11 = (324-324)... compute: sx=18, sxx=30, var=(12*30-324)/132=36/132
    val varr = (12.0 * 30.0 - 18.0 * 18.0) / (12.0 * 11.0)
    val expected = (50.0 - 1.5) / math.sqrt(varr)
    assert(z === expected)
  }

  test("anomalyZscore: constant trailing window (zero variance) never emits") {
    val rows = Seq.tabulate(15)(i => (i.toLong, 1L, i.toLong * HourUs, 5.0)) :+
      (99L, 1L, 15L * HourUs, 500.0)
    val ev = rows.toDF("event_id", "user_id", "us", "value")
      .withColumn("ts", timestamp_micros(col("us")))
    assert(Stats.anomalyZscore(ev).count() === 0L)
  }

  test("anomalyZscore: minN gate — young users never score") {
    val rows = Seq.tabulate(5)(i => (i.toLong, 1L, i.toLong * HourUs, i.toDouble)) :+
      (99L, 1L, 5L * HourUs, 1000.0)
    val ev = rows.toDF("event_id", "user_id", "us", "value")
      .withColumn("ts", timestamp_micros(col("us")))
    assert(Stats.anomalyZscore(ev, minN = 10).count() === 0L)
  }

  // ---- cusumChangepoints ---------------------------------------------

  test("cusumChangepoints: level shift alarms, matching the max(0,·) recurrence") {
    // user 1: 10 events at 1.00, then 10 at 100.00 — a sustained shift.
    // ref = mean cents = (10·100 + 10·10000)/20 = 5050, k = 2525 (50%),
    // h = 20200 (400%). Both sides alarm: the low half drifts S⁻ up, the
    // high half S⁺ — the textbook recurrence decides which rows emit.
    val rows = Seq.tabulate(20)(i =>
      (i.toLong, 1L, i.toLong * HourUs, if (i < 10) 1.0 else 100.0))
    val ev = rows.toDF("event_id", "user_id", "us", "value")
      .withColumn("ts", timestamp_micros(col("us")))
    val got = Stats.cusumChangepoints(ev, slackPct = 50L, hPct = 400L)
      .as[(Long, Long, Long, Long, String)].collect()
      .map(r => r._1 -> r).toMap
    // textbook recurrence, cents: S+_t = max(0, S+ + x - ref - k)
    var sp = 0L; var sn = 0L
    val expect = rows.flatMap { case (id, _, _, v) =>
      val cents = math.round(v * 100)
      sp = math.max(0L, sp + cents - 5050L - 2525L)
      sn = math.max(0L, sn + 5050L - 2525L - cents)
      val dir = if (sp > 20200L && sn > 20200L) "both"
        else if (sp > 20200L) "up" else "down"
      if (sp > 20200L || sn > 20200L) Some(id -> ((sp, sn, dir))) else None
    }.toMap
    assert(got.keySet == expect.keySet && expect.nonEmpty)
    // the upward half must be represented — the shift is the signal
    assert(expect.values.exists(_._3 == "up"))
    expect.foreach { case (id, (p, n, dir)) =>
      assert(got(id)._3 == p && got(id)._4 == n && got(id)._5 == dir)
    }
  }

  test("cusumChangepoints: steady stream never alarms; downward shift flags 'down'") {
    val steady = Seq.tabulate(30)(i => (i.toLong, 1L, i.toLong * HourUs, 12.5))
      .toDF("event_id", "user_id", "us", "value")
      .withColumn("ts", timestamp_micros(col("us")))
    assert(Stats.cusumChangepoints(steady).count() === 0L)
    // 15 events at 10.00 then 5 at 2.00: ref = 800 cents, k = 400, h = 800.
    // The high half sits BELOW ref+k (no S⁺ drift); only the tail's
    // sustained 200-cent S⁻ drift crosses h — a one-sided alarm.
    val drop = Seq.tabulate(20)(i =>
        (i.toLong, 7L, i.toLong * HourUs, if (i < 15) 10.0 else 2.0))
      .toDF("event_id", "user_id", "us", "value")
      .withColumn("ts", timestamp_micros(col("us")))
    val dirs = Stats.cusumChangepoints(drop, slackPct = 50L, hPct = 100L)
      .select("direction").as[String].collect().toSet
    assert(dirs == Set("down"))
  }

  test("cusumChangepoints: partitioning-invariant (exact integer arithmetic)") {
    val rows = Seq.tabulate(60)(i =>
      (i.toLong, (i % 3).toLong, i.toLong * HourUs, (i % 13).toDouble + 0.07))
    val ev = rows.toDF("event_id", "user_id", "us", "value")
      .withColumn("ts", timestamp_micros(col("us")))
    val a = Stats.cusumChangepoints(ev, slackPct = 10L, hPct = 50L)
      .as[(Long, Long, Long, Long, String)].collect().toSet
    val b = Stats.cusumChangepoints(ev.repartition(11), slackPct = 10L, hPct = 50L)
      .as[(Long, Long, Long, Long, String)].collect().toSet
    assert(a == b && a.nonEmpty)
  }

  // ---- botRates ------------------------------------------------------

  test("botRates: burst and sustained-rate flags, single-event users unflagged") {
    val M = 60000000L // one minute in µs
    val rows =
      // user 1: 40 events inside one minute → burst 40 AND huge rate
      (1 to 40).map(i => (i.toLong, 1L, i.toLong * 1000000L)) ++
      // user 2: 10 events spread over 10 hours → rate 1000 milli/min
      (1 to 10).map(i => (100L + i, 2L, i.toLong * HourUs)) ++
      // user 3: a single event — no span, never rate-flagged
      Seq((200L, 3L, 5L * HourUs))
    val ev = rows.toDF("event_id", "user_id", "us")
      .withColumn("ts", timestamp_micros(col("us")))
    val got = Stats.botRates(ev, minEventsPerMinMilli = 60000L, maxBurst = 30L,
        burstUs = M)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), Option(if (r.isNullAt(3)) null else r.getLong(3)),
          r.getLong(4), r.getBoolean(5)))).toMap
    val (n1, rate1, burst1, f1) = got(1L)
    // span = 39 s → rate = 40·60e9 / 39e6 = 61538 milli-events/min
    assert(n1 == 40L && rate1.contains(40L * 60000000000L / 39000000L))
    assert(burst1 == 40L && f1)
    val (_, rate2, burst2, f2) = got(2L)
    // span 9 h = 540 min → 10 events ⇒ 18.5 → 18 milli-events/min; burst 1
    assert(rate2.contains(18L) && burst2 <= 2L && !f2)
    val (n3, rate3, _, f3) = got(3L)
    assert(n3 == 1L && rate3.isEmpty && !f3)
  }

  // ---- seasonality ---------------------------------------------------

  test("seasonality: hand-computed two-cell decomposition, R² = SSb/SStot") {
    // one type, one day (epoch day 0 = Thursday → dow 4): hour 0 holds
    // values 10,20 (mean 15), hour 1 holds 30,40 (mean 35); grand mean 25,
    // SS_tot = 3000 − 100²/4 = 500, SS_b = 2·10² + 2·10² = 400 → R² = 0.8
    val rows = Seq((1L, 0L, 10.0), (2L, 1000L, 20.0),
      (3L, 3600000000L, 30.0), (4L, 3600001000L, 40.0))
    val ev = rows.toDF("event_id", "us", "value")
      .withColumn("ts", timestamp_micros(col("us")))
      .withColumn("event_type", lit("x"))
    val got = Stats.seasonality(ev).orderBy("hour")
      .as[(String, Long, Long, Long, Double, Double)].collect().toSeq
    assert(got == Seq(("x", 4L, 0L, 2L, 15.0, 0.8), ("x", 4L, 1L, 2L, 35.0, 0.8)))
    // partitioning cannot move a bit (exact moments + floored SSb terms)
    val again = Stats.seasonality(ev.repartition(5)).orderBy("hour")
      .as[(String, Long, Long, Long, Double, Double)].collect().toSeq
    assert(got == again)
  }

  test("seasonality: constant metric → SStot 0 → null R², cells still emitted") {
    val ev = Seq.tabulate(10)(i => (i.toLong, i.toLong * HourUs, 7.0))
      .toDF("event_id", "us", "value")
      .withColumn("ts", timestamp_micros(col("us")))
      .withColumn("event_type", lit("c"))
    val got = Stats.seasonality(ev).collect()
    assert(got.length == 10 && got.forall(_.isNullAt(5)))
  }

  // ---- chiSquareBalance ----------------------------------------------

  test("chiSquareBalance: independent table → chi2 0; zero cells included") {
    // perfectly independent 2×2: counts proportional to margins
    val rows = Seq.fill(8)(("en", "s0")) ++ Seq.fill(2)(("fr", "s0")) ++
      Seq.fill(4)(("en", "s1")) ++ Seq.fill(1)(("fr", "s1"))
    val r = Stats.chiSquareBalance(rows.toDF("lang", "source"), "lang", "source")
      .collect()
    assert(r.length == 4)
    assert(r.forall(_.getAs[Double]("chi2") == 0.0))
    // a value seen only in one margin combination still yields a full cross
    val sparse = Seq(("en", "s0"), ("fr", "s1"))
      .toDF("lang", "source")
    val s = Stats.chiSquareBalance(sparse, "lang", "source").collect()
    assert(s.length == 4 && s.count(_.getAs[Long]("observed") == 0L) == 2)
  }

  test("chiSquareBalance: hand-computed 2×2 and partitioning invariance") {
    // o = [[30, 10], [10, 50]]: n=100, margins r=(40,60), c=(40,60)
    val rows = Seq.fill(30)(("a", "x")) ++ Seq.fill(10)(("a", "y")) ++
      Seq.fill(10)(("b", "x")) ++ Seq.fill(50)(("b", "y"))
    val df = rows.toDF("lang", "source")
    val got = Stats.chiSquareBalance(df, "lang", "source").collect()
    // e = [[16,24],[24,36]]; chi2 = 196/16+196/24+196/24+196/36
    val expect = 196.0 / 16 + 196.0 / 24 + 196.0 / 24 + 196.0 / 36
    val chi2 = got.head.getAs[Double]("chi2")
    // 1e-9-unit floor quantization biases each of the 4 cells down by < 1e-9
    assert(chi2 <= expect && expect - chi2 < 1e-6)
    val again = Stats.chiSquareBalance(df.repartition(13), "lang", "source")
      .collect().head.getAs[Double]("chi2")
    assert(chi2 == again)
  }

  // ---- profileColumns ------------------------------------------------

  test("profileColumns: counts, nulls, distinct, min/max per column") {
    val df = Seq((1L, Some("a")), (2L, Some("b")), (3L, Some("a")), (4L, None))
      .toDF("id", "s")
    val got = Stats.profileColumns(df, Seq("id", "s"))
      .orderBy("col_name")
      .as[(String, Long, Long, Long, Option[String], Option[String])]
      .collect().toSeq
    assert(got === Seq(
      ("id", 4L, 4L, 4L, Some("1"), Some("4")),
      ("s", 4L, 3L, 2L, Some("a"), Some("b"))))
  }

  test("profileColumns: each branch scans ONLY its own column (pruned)") {
    val tmp = graft.TestDirs.dir("graft-prof").toString
    graft.etl.IngestOps.table(spark, SparkTestSession.sf0001, "documents")
      .write.mode("overwrite").parquet(tmp)
    val prof = Stats.profileColumns(spark.read.parquet(tmp), Seq("doc_id", "lang"))
    val plan = prof.queryExecution.executedPlan.toString
    assert(plan.contains("ReadSchema: struct<doc_id:bigint>"))
    assert(plan.contains("ReadSchema: struct<lang:string>"))
    assert(!plan.contains("text")) // the wide column is never read
  }

  // ---- driftTotalVariation -------------------------------------------

  test("driftTotalVariation: knowns — identical slices → 0, disjoint → 1") {
    val a = Seq(10L, 10L, 30L).toDF("v")
    val same = Stats.driftTotalVariation(a, a, "v", 25L)
      .select("tv_distance").as[Double].collect().toSeq
    assert(same.nonEmpty && same.forall(_ === 0.0))
    val b = Seq(100L, 130L).toDF("v")
    val disj = Stats.driftTotalVariation(a, b, "v", 25L)
      .select("tv_distance").as[Double].collect().toSeq
    assert(disj.forall(_ === 1.0))
    // hand-check a partial overlap: a = {bucket0:2, bucket1:1},
    // b = {bucket0:1, bucket1:1} → TV = ½(|2/3−1/2| + |1/3−1/2|) = 1/6
    val c = Seq(10L, 30L).toDF("v")
    val part = Stats.driftTotalVariation(a, c, "v", 25L)
      .select("tv_distance").as[Double].collect().toSeq
    // exact integer form: |2·2−1·3| + |1·2−1·3| = 2 → 2/(2·3·2) = 1/6
    assert(part.forall(_ === 2.0 / 12.0))
  }

  test("driftTotalVariation: contribs sum to the cross-multiplied numerator") {
    val docs = graft.etl.IngestOps.table(spark, SparkTestSession.sf0001, "documents")
    val out = Stats.driftTotalVariation(
      docs.filter(col("source") === "src0"),
      docs.filter(col("source") === "src1"), "n_chars")
      .select("contrib", "tv_distance").as[(Long, Double)].collect()
    assert(out.nonEmpty)
    val tv = out.head._2
    assert(out.forall(_._2 === tv), "tv_distance must be one scalar")
    assert(tv >= 0.0 && tv <= 1.0)
  }

  // ---- countMinTokens ------------------------------------------------

  test("countMinTokens: estimate ≥ exact always; equals min of bucket sums") {
    val docs = Seq(
      (1L, "aa bb aa cc"), (2L, "bb bb dd"), (3L, "aa ee"))
      .toDF("doc_id", "text")
    val got = Sketch.countMinTokens(docs, depth = 2, hexDigits = 1, topK = 100)
      .as[(String, Long, Long, Long)].collect().toSeq
    val exact = Map("aa" -> 3L, "bb" -> 3L, "cc" -> 1L, "dd" -> 1L, "ee" -> 1L)
    assert(got.map(r => r._1 -> r._2).toMap === exact)
    got.foreach { case (tok, ex, est, over) =>
      assert(est >= ex, s"$tok: est $est < exact $ex")
      assert(over === est - ex)
    }
    // manual recomputation of the sketch with the same md5 derivation
    def bucket(d: Int, tok: String): String = {
      val md = java.security.MessageDigest.getInstance("MD5")
      md.digest(s"cm$d:$tok".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.substring(0, 1)
    }
    val cells = (for ((tok, n) <- exact.toSeq; d <- 0 until 2)
      yield ((d, bucket(d, tok)), n))
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).sum }
    got.foreach { case (tok, _, est, _) =>
      val manual = (0 until 2).map(d => cells((d, bucket(d, tok)))).min
      assert(est === manual, s"$tok sketch estimate mismatch")
    }
  }

  test("countMinTokens: partitioning-invariant") {
    val docs = graft.etl.IngestOps.table(spark, SparkTestSession.sf0001, "documents")
    val a = Sketch.countMinTokens(docs).collect().toSeq
    val b = Sketch.countMinTokens(docs.repartition(7)).collect().toSeq
    assert(a === b)
  }

  // ---- editDistancePairs ---------------------------------------------

  test("editDistancePairs: knowns — blocked pair found, cross-block not compared") {
    val docs = Seq(
      (1L, "en", "the quick brown fox jumps over the dog"),
      (2L, "en", "the quick brown fax jumps over the dog"), // 1 edit in prefix
      (3L, "en", "a completely different start entirely here now"), // other block
      (4L, "de", "the quick brown fox jumps over the dog"), // other lang
      (5L, "en", "")) // no tokens → no prefix
      .toDF("doc_id", "lang", "text")
    val got = Dedup.editDistancePairs(docs, maxDist = 10)
      .as[(Long, Long, Long)].collect().toSeq.sorted
    assert(got === Seq((1L, 2L, 1L)))
  }

  test("editDistancePairs: salted join ≡ unsalted (1-salt) enumeration") {
    val docs = graft.etl.IngestOps.table(spark, SparkTestSession.sf0001, "documents")
    val a = Dedup.editDistancePairs(docs, salts = 8).orderBy("doc_a", "doc_b")
      .collect().toSeq
    val b = Dedup.editDistancePairs(docs, salts = 1).orderBy("doc_a", "doc_b")
      .collect().toSeq
    assert(a === b && a.nonEmpty)
  }

  test("levenshtein: Spark matches the classic DP on random strings") {
    // pins the cross-engine assumption the oracle relies on
    def dp(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) =>
        if (i == 0) j else if (j == 0) i else 0)
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val rnd = new scala.util.Random(42)
    def randStr() = (0 until rnd.nextInt(12)).map(_ => ('a' + rnd.nextInt(3)).toChar).mkString
    val pairs = Seq.fill(60)((randStr(), randStr()))
    val got = pairs.toDF("a", "b")
      .select(levenshtein(col("a"), col("b"))).as[Int].collect().toSeq
    assert(got === pairs.map { case (a, b) => dp(a, b) })
  }

  test("keySkew: uniform keys give Gini 0; known skew matches the formula") {
    def df(keys: Long*) = keys.map(k => (k, "x")).toDF("k", "v")
    // two keys with 2 rows each: perfectly uniform → gini exactly 0
    val uni = Stats.keySkew(df(1L, 1L, 2L, 2L), "k")
      .select("n_rows", "n_keys", "top_cnt", "gini")
      .as[(Long, Long, Long, Double)].head()
    assert(uni == ((4L, 2L, 2L, 0.0)))
    // counts {1,1,2}: S = 1+2+6 = 9, G = 2·9/(3·4) − 4/3 = 1/6
    val skew = Stats.keySkew(df(1L, 2L, 3L, 3L), "k")
      .select("n_keys", "top_cnt", "top_share", "gini")
      .as[(Long, Long, Double, Double)].head()
    assert(skew._1 == 3L && skew._2 == 2L && skew._3 == 0.5)
    assert(math.abs(skew._4 - 1.0 / 6.0) < 1e-15)
    // partition invariance: exact integer accumulation + tie-stable sum
    val big = (1L to 200L).flatMap(k => Seq.fill((k % 7).toInt + 1)(k))
    val a = Stats.keySkew(big.map((_, "x")).toDF("k", "v"), "k")
      .select("gini").as[Double].head()
    val b = Stats.keySkew(big.map((_, "x")).toDF("k", "v").repartition(13), "k")
      .select("gini").as[Double].head()
    assert(a == b)
  }

  test("benford: hand-counted digits, expected = log10(1+1/d), non-positive excluded") {
    val o = Seq((1L, 1.0), (2L, 2.50), (3L, 19.99), (4L, 0.05), (5L, 30.0),
      (6L, 0.0), (7L, -4.0))
      .toDF("o_orderkey", "o_totalprice")
    val got = Stats.benford(o).collect()
    val byD = got.map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(byD == Map(1 -> 2L, 2 -> 1L, 3 -> 1L, 5 -> 1L)) // 0 and -4 excluded
    got.foreach { r =>
      val d = r.getInt(0)
      // within 1 ulp of libm log10 — NOT ==: the pinned literals exist
      // precisely because JVM and other libms disagree in the last ulp
      // (d=3 differs here), and the literal is what BOTH engines share
      assert(math.abs(r.getDouble(3) - math.log10(1.0 + 1.0 / d)) <=
        math.ulp(r.getDouble(3)))
      assert(r.getDouble(2) == r.getLong(1).toDouble / 5.0)
      assert(r.getDouble(4) == math.abs(r.getDouble(2) - r.getDouble(3)))
    }
  }

  test("ksDrift: hand-computed sup-CDF gap, deterministic argmax, partition-invariant") {
    // A = {1,2,3}, B = {2,3,4,4}: numerators |cumA·nB − cumB·nA| over
    // v=1..4 are 4,5,6,0 → D = 6/12 at v=3
    def mk(rows: Seq[(String, Long)]) = rows.toDF("source", "n_chars")
    val rows = Seq("a" -> 1L, "a" -> 2L, "a" -> 3L,
      "b" -> 2L, "b" -> 3L, "b" -> 4L, "b" -> 4L)
    val got = Stats.ksDrift(mk(rows), "a", "b")
      .select("n_a", "n_b", "d_num", "d_den", "at_value", "d_micro")
      .as[(Long, Long, Long, Long, Long, Long)].head()
    assert(got == ((3L, 4L, 6L, 12L, 3L, 500000L)))
    // identical samples → D = 0, argmax tie-breaks to the smallest value
    val same = Seq("a" -> 5L, "a" -> 9L, "b" -> 5L, "b" -> 9L)
    val zero = Stats.ksDrift(mk(same), "a", "b")
      .select("d_num", "at_value").as[(Long, Long)].head()
    assert(zero == ((0L, 5L)))
    // exact integer chain → partition invariance
    val big = (1L to 500L).map(i => (if (i % 3 == 0) "a" else "b", i % 37))
    val x = Stats.ksDrift(mk(big), "a", "b").collect().head.toString
    val y = Stats.ksDrift(mk(big).repartition(13), "a", "b")
      .collect().head.toString
    assert(x == y)
  }

  test("fanoFactor: 0 for a metronome, N for an N-burst, exact moments") {
    val H = 3600000000L
    // corpus span = hours 0..9 (user 9 pins both ends with 1 event each)
    val rows =
      (0 until 10).map(h => (100L + h, 1L, h * H)) ++ // u1: 1/hour → F = 0
      (0 until 10).map(k => (200L + k, 2L, 0L + k * 1000L)) ++ // u2: burst
      Seq((300L, 9L, 0L), (301L, 9L, 9 * H)) // u9 span pins
    val e = rows.toDF("event_id", "user_id", "us")
      .withColumn("ts", timestamp_micros(col("us")))
    val f = Stats.fanoFactor(e)
      .select("user_id", "fano").as[(Long, Double)].collect().toMap
    assert(f(1L) == 0.0)
    // u2: s=10, q=100, span=10 → (1000−100)/(10·9) = 10
    assert(f(2L) == 10.0)
    // u9: s=2, q=2 → (20−4)/(2·9)
    assert(f(9L) == 16.0 / 18.0)
    // fixture: deterministic under repartition
    val fx = graft.etl.IngestOps.table(spark, SparkTestSession.sf0001,
      "events")
    val a = Stats.fanoFactor(fx).collect().map(_.toString).sorted.toSeq
    val b = Stats.fanoFactor(fx.repartition(11)).collect()
      .map(_.toString).sorted.toSeq
    assert(a == b && a.nonEmpty)
  }
}
