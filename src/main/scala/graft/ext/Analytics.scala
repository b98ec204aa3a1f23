package graft.ext

import org.apache.spark.sql.{DataFrame, Column}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Event-funnel and cohort-retention analytics over the `events` stream
  * table — the product-analytics queries a large event corpus is mined with
  * (reference: the engine's event aggregation surface, e.g.
  * strategy/UserModeEventConversionStrategy.java's per-row event model; the
  * analytics themselves are standard Spark windowed aggregation).
  *
  * Both operators are single-exchange designs: all per-user computation
  * happens inside one hash partitioning on `user_id`, so at 100 TB the only
  * data movement is the unavoidable key shuffle (plus, for retention, the
  * final small (cohort, offset) rollup whose cardinality is days², not rows).
  */
object Analytics {

  /** Stepwise conversion funnel: for each user, the earliest time of step 1,
    * the earliest step-2 event strictly AFTER that, the earliest step-3
    * event strictly after THAT, and the step count reached. The strict
    * ordering is what distinguishes a funnel from three independent mins —
    * a purchase before the first view does not convert.
    *
    * Plan shape: one exchange on `user_id`; the three window mins and the
    * final per-user rollup all reuse that partitioning (window → aggregate
    * keeps the child distribution, so no second shuffle). Per-user state is
    * O(1) — no event list is ever collected.
    */
  def funnel(events: DataFrame,
      steps: Seq[String] = Seq("view", "click", "purchase"),
      stage: Boolean = true): DataFrame = {
    require(steps.nonEmpty && steps == steps.distinct, "steps must be distinct")
    val w = Window.partitionBy("user_id")
    val us = unix_micros(col("ts"))
    val withSteps = steps.zipWithIndex.foldLeft(
      events.select(col("user_id"), col("event_type"), us.as("us"))) {
      case (d, (step, i)) =>
        val eligible =
          if (i == 0) col("event_type") === step
          else col("event_type") === step && col("us") > col(s"t$i")
        d.withColumn(s"t${i + 1}", min(when(eligible, col("us"))).over(w))
    }
    val ks = steps.indices.map(_ + 1)
    val stepCase = ks.reverse.foldRight(lit(0L)) { (k, els) =>
      when(col(s"ts${k}_us").isNotNull, k.toLong).otherwise(els)
    }
    val perUser = withSteps.groupBy("user_id")
      .agg(min(s"t${ks.head}").as(s"ts${ks.head}_us"),
        ks.tail.map(k => min(s"t$k").as(s"ts${k}_us")): _*)
      .withColumn("step_reached", stepCase)
    // staged once per JVM (r17): the per-user funnel is a shared
    // deterministic intermediate — the funnel row, the step-latency
    // quantiles (which consume it TWICE, once per transition branch) and
    // the rates rollup all derive from it; the slim |users|-row relation
    // is the classic write-once/fan-out stage (StageStore contract).
    // `stage=false` exposes the raw computation (plan specs, A/B).
    if (stage) graft.etl.StageStore.materialize(perUser, "funnel_per_user")
    else perUser
  }

  /** DuckDB twin: layered CTEs because a window expression cannot reference
    * a sibling window alias in the same SELECT. */
  def funnelSqlDuck(steps: Seq[String] = Seq("view", "click", "purchase")): String = {
    val ctes = steps.zipWithIndex.map { case (step, i) =>
      val eligible =
        if (i == 0) s"event_type = '$step'"
        else s"event_type = '$step' AND us > t$i"
      val from = if (i == 0) "e" else s"s$i"
      s"""s${i + 1} AS (SELECT *, min(CASE WHEN $eligible THEN us END)
         |   OVER (PARTITION BY user_id) AS t${i + 1} FROM $from)""".stripMargin
    }.mkString(",\n ")
    val ks = steps.indices.map(_ + 1)
    val mins = ks.map(k => s"min(t$k) AS ts${k}_us").mkString(", ")
    val stepCase = ks.reverse.map(k =>
      s"WHEN min(t$k) IS NOT NULL THEN $k").mkString(" ")
    s"""WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
       | $ctes
       |SELECT user_id, $mins,
       |  CAST(CASE $stepCase ELSE 0 END AS BIGINT) AS step_reached
       |FROM s${steps.size} GROUP BY user_id ORDER BY user_id""".stripMargin
  }

  /** Per-SESSION funnel: gap-based sessionization (a new session after
    * `gapUs` of inactivity — the events_sessionize rule), then the strict
    * stepwise funnel within each session. "Did the user convert in one
    * sitting" — the product-analytics complement to the lifetime
    * [[funnel]].
    *
    * Still ONE exchange: the session window hash-partitions on `user_id`,
    * and the (user_id, session_id) funnel windows are satisfied by that
    * same partitioning (same-key rows stay co-located; Spark adds only a
    * sort), as is the final rollup. */
  def sessionFunnel(events: DataFrame,
      steps: Seq[String] = Seq("view", "click", "purchase"),
      gapUs: Long = 1800000000L): DataFrame = {
    require(steps.nonEmpty && steps == steps.distinct, "steps must be distinct")
    val byUser = Window.partitionBy("user_id").orderBy("us", "event_id")
    val cum = byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val sess = events
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("us"))
      .withColumn("prev", lag(col("us"), 1).over(byUser))
      .withColumn("is_new",
        when(col("prev").isNull || col("us") - col("prev") > gapUs, 1L).otherwise(0L))
      .withColumn("session_id", sum(col("is_new")).over(cum))
    val w = Window.partitionBy("user_id", "session_id")
    val withSteps = steps.zipWithIndex.foldLeft(sess) { case (d, (step, i)) =>
      val eligible =
        if (i == 0) col("event_type") === step
        else col("event_type") === step && col("us") > col(s"t$i")
      d.withColumn(s"t${i + 1}", min(when(eligible, col("us"))).over(w))
    }
    val ks = steps.indices.map(_ + 1)
    val stepCase = ks.reverse.foldRight(lit(0L)) { (k, els) =>
      when(col(s"ts${k}_us").isNotNull, k.toLong).otherwise(els)
    }
    withSteps.groupBy("user_id", "session_id")
      .agg(min(s"t${ks.head}").as(s"ts${ks.head}_us"),
        ks.tail.map(k => min(s"t$k").as(s"ts${k}_us")): _*)
      .withColumn("step_reached", stepCase)
  }

  def sessionFunnelSqlDuck(steps: Seq[String] = Seq("view", "click", "purchase"),
      gapUs: Long = 1800000000L): String = {
    val ctes = steps.zipWithIndex.map { case (step, i) =>
      val eligible =
        if (i == 0) s"event_type = '$step'"
        else s"event_type = '$step' AND us > t$i"
      val from = if (i == 0) "sess" else s"s$i"
      s"""s${i + 1} AS (SELECT *, min(CASE WHEN $eligible THEN us END)
         |   OVER (PARTITION BY user_id, session_id) AS t${i + 1} FROM $from)""".stripMargin
    }.mkString(",\n ")
    val ks = steps.indices.map(_ + 1)
    val mins = ks.map(k => s"min(t$k) AS ts${k}_us").mkString(", ")
    val stepCase = ks.reverse.map(k =>
      s"WHEN min(t$k) IS NOT NULL THEN $k").mkString(" ")
    s"""WITH e AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS us FROM events),
       | flags AS (
       |  SELECT user_id, event_id, event_type, us,
       |    CASE WHEN lag(us) OVER w IS NULL OR us - lag(us) OVER w > $gapUs
       |         THEN 1 ELSE 0 END AS is_new
       |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
       | sess AS (
       |  SELECT user_id, event_type, us,
       |    CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY us, event_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
       |  FROM flags),
       | $ctes
       |SELECT user_id, session_id, $mins,
       |  CAST(CASE $stepCase ELSE 0 END AS BIGINT) AS step_reached
       |FROM s${steps.size} GROUP BY user_id, session_id
       |ORDER BY user_id, session_id""".stripMargin
  }

  /** Funnel report: users reaching each step (cumulative — reaching step k
    * implies reaching 1..k-1), absolute conversion from step 1, and
    * step-over-step conversion. Rolls the per-user [[funnel]] relation up
    * to `steps` rows; all ratios are exact int/int double divisions. */
  def funnelRates(events: DataFrame,
      steps: Seq[String] = Seq("view", "click", "purchase")): DataFrame = {
    val perUser = funnel(events, steps)
    val ks = steps.indices.map(_ + 1)
    val counts = perUser.agg(
      sum(when(col("step_reached") >= ks.head, 1L).otherwise(0L)).as(s"n${ks.head}"),
      ks.tail.map(k =>
        sum(when(col("step_reached") >= k, 1L).otherwise(0L)).as(s"n$k")): _*)
    // stack() takes a FLAT argument list, grouped by output column count.
    // Degenerate-input guard: on a corpus with zero step-1 (or step-k-1)
    // users, Spark's non-ANSI Divide yields NULL while DuckDB's IEEE float
    // division yields NaN/Inf — the explicit CASE pins both engines to
    // NULL (mirrored in funnelRatesSqlDuck).
    val steprows = ks.map(k =>
      s"$k, '${steps(k - 1)}', n$k, " +
        s"CASE WHEN n1 > 0 THEN CAST(n$k AS DOUBLE) / CAST(n1 AS DOUBLE) END, " +
        (if (k == 1) "CASE WHEN n1 > 0 THEN CAST(1.0 AS DOUBLE) END"
         else s"CASE WHEN n${k - 1} > 0 THEN CAST(n$k AS DOUBLE) / CAST(n${k - 1} AS DOUBLE) END")).mkString(", ")
    counts.selectExpr(
      s"stack(${ks.size}, $steprows) AS (step, step_name, n_users, conv_from_first, conv_from_prev)")
      .selectExpr("CAST(step AS BIGINT) AS step", "step_name",
        "CAST(n_users AS BIGINT) AS n_users", "conv_from_first", "conv_from_prev")
  }

  def funnelRatesSqlDuck(steps: Seq[String] = Seq("view", "click", "purchase")): String = {
    val ks = steps.indices.map(_ + 1)
    val counts = ks.map(k =>
      s"CAST(sum(CASE WHEN step_reached >= $k THEN 1 ELSE 0 END) AS BIGINT) AS n$k")
      .mkString(", ")
    val rows = ks.map { k =>
      // n1=0 / n_{k-1}=0 guard mirrored from funnelRates: NULL on both
      // engines instead of DuckDB's IEEE NaN/Inf
      val prev = if (k == 1) "CASE WHEN n1 > 0 THEN CAST(1.0 AS DOUBLE) END"
        else s"CASE WHEN n${k - 1} > 0 THEN CAST(n$k AS DOUBLE) / CAST(n${k - 1} AS DOUBLE) END"
      s"""SELECT CAST($k AS BIGINT) AS step, '${steps(k - 1)}' AS step_name,
         | n$k AS n_users, CASE WHEN n1 > 0
         |   THEN CAST(n$k AS DOUBLE) / CAST(n1 AS DOUBLE) END AS conv_from_first,
         | $prev AS conv_from_prev FROM c""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH f AS (${funnelSqlDuck(steps).replace("ORDER BY user_id", "")}),
       | c AS (SELECT $counts FROM f)
       |$rows
       |ORDER BY step""".stripMargin
  }

  /** Cohort retention: users are cohorted by their first-seen calendar day;
    * every event then lands in (cohort_day, day offset) with distinct-user
    * and event counts. The classic retention triangle.
    *
    * Shape: the cohort day is a whole-partition window min (first exchange,
    * on `user_id`); the rollup is a second exchange on (cohort, offset) —
    * whose key cardinality is bounded by days², independent of row count,
    * so the second shuffle moves only partial-aggregated rows (map-side
    * combine makes it days²-sized per task).
    */
  def retentionCohorts(events: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id")
    events
      .select(col("user_id"), col("ts").cast("date").as("d"))
      .withColumn("cohort", min(col("d")).over(w))
      .withColumn("offset_d", datediff(col("d"), col("cohort")).cast("long"))
      .groupBy(col("cohort").cast("string").as("cohort_day"), col("offset_d"))
      .agg(countDistinct(col("user_id")).as("n_users"),
        count(lit(1)).as("n_events"))
  }

  def retentionCohortsSqlDuck: String =
    """WITH e AS (SELECT user_id, CAST(ts AS DATE) AS d FROM events),
      | c AS (SELECT *, min(d) OVER (PARTITION BY user_id) AS cohort FROM e)
      |SELECT CAST(cohort AS VARCHAR) AS cohort_day,
      |  CAST(date_diff('day', cohort, d) AS BIGINT) AS offset_d,
      |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
      |  CAST(count(*) AS BIGINT) AS n_events
      |FROM c GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** The retention triangle as RATES: each (cohort, offset) cell divided by
    * its cohort's day-0 user count (exact int/int double division). The
    * day-0 denominator rides a whole-partition window max over the tiny
    * (cohort, offset) rollup — days²-bounded, cost-free at any corpus
    * size. */
  def retentionRates(events: DataFrame): DataFrame = {
    val w = Window.partitionBy("cohort_day")
    retentionCohorts(events)
      .withColumn("n0", max(when(col("offset_d") === 0L, col("n_users"))).over(w))
      .select(col("cohort_day"), col("offset_d"), col("n_users"),
        (col("n_users").cast("double") / col("n0").cast("double")).as("retention"))
  }

  def retentionRatesSqlDuck: String =
    s"""WITH r AS (${retentionCohortsSqlDuck.replace("ORDER BY 1, 2", "")}),
       | n AS (SELECT *, max(CASE WHEN offset_d = 0 THEN n_users END)
       |   OVER (PARTITION BY cohort_day) AS n0 FROM r)
       |SELECT cohort_day, offset_d, n_users,
       |  CAST(n_users AS DOUBLE) / CAST(n0 AS DOUBLE) AS retention
       |FROM n ORDER BY cohort_day, offset_d""".stripMargin

  /** Tukey-fence outlier detection: rows outside
    * `[q1 - 1.5·IQR, q3 + 1.5·IQR]` of the EXACT type-1 quartiles. The
    * quartiles come from [[Sketch.exactQuantileDisc]] (O(log range) narrow
    * count passes, O(1) state — never a full sort or a value buffer), so
    * the whole operator is 100 TB-exact: two scalar bounds computed once,
    * then one codegen'd filter with full scan pushdown potential.
    *
    * The fence arithmetic happens ONCE on the driver over two collected
    * scalars (the adjudicated bounded-collect shape) in the same textual
    * order as the oracle's — IEEE-identical. */
  def outliersIqr(events: DataFrame, valueCol: String = "value",
      fence: Double = 1.5): DataFrame = {
    val q = Sketch.exactQuantileDisc(events, valueCol, Seq(0.25, 0.75))
      .select("prob", "value").collect()
      .flatMap(r => if (r.isNullAt(1)) None else Some(r.getDouble(0) -> r.getDouble(1)))
      .toMap
    // no non-null values at all → no quartiles → nothing is an outlier
    if (q.isEmpty)
      return events.filter(lit(false))
        .select(col("event_id"), col(valueCol).as("value"), lit("low").as("side"))
    val (q1, q3) = (q(0.25), q(0.75))
    val lo = q1 - fence * (q3 - q1)
    val hi = q3 + fence * (q3 - q1)
    events.filter(col(valueCol) < lit(lo) || col(valueCol) > lit(hi))
      .select(col("event_id"), col(valueCol).as("value"),
        when(col(valueCol) < lit(lo), "low").otherwise("high").as("side"))
  }

  def outliersIqrSqlDuck(fence: Double = 1.5): String =
    s"""WITH v AS (SELECT CAST(value AS DOUBLE) AS v FROM events
       |           WHERE value IS NOT NULL),
       | s AS (SELECT v, row_number() OVER (ORDER BY v) AS rn,
       |       count(*) OVER () AS n FROM v),
       | q AS (SELECT max(CASE WHEN rn = CAST(ceil(0.25 * n) AS BIGINT) THEN v END) AS q1,
       |              max(CASE WHEN rn = CAST(ceil(0.75 * n) AS BIGINT) THEN v END) AS q3
       |       FROM s),
       | b AS (SELECT q1 - CAST($fence AS DOUBLE) * (q3 - q1) AS lo,
       |              q3 + CAST($fence AS DOUBLE) * (q3 - q1) AS hi FROM q)
       |SELECT event_id, CAST(value AS DOUBLE) AS value,
       |  CASE WHEN CAST(value AS DOUBLE) < lo THEN 'low' ELSE 'high' END AS side
       |FROM events CROSS JOIN b
       |WHERE CAST(value AS DOUBLE) < lo OR CAST(value AS DOUBLE) > hi
       |ORDER BY event_id""".stripMargin

  /** Robust (median/MAD) outlier detection: rows with
    * `|v - median| > k · MAD` where MAD is the median absolute deviation —
    * the robust-statistics dual of [[outliersIqr]] (immune to the outliers
    * it hunts). BOTH medians come from [[Sketch.exactQuantileDisc]]'s
    * value-domain bisection — the second one over the DERIVED column
    * `|v - med|`, demonstrating that the O(log range)/O(1)-state exact
    * path composes over expressions, not just raw columns. Two scalar
    * literals again → pushed-down disjunctive scan predicate. */
  def outliersMad(events: DataFrame, valueCol: String = "value",
      k: Double = 3.0): DataFrame = {
    val medRows = Sketch.exactQuantileDisc(events, valueCol, Seq(0.5)).collect()
    if (medRows.head.isNullAt(2))
      return events.filter(lit(false))
        .select(col("event_id"), col(valueCol).as("value"), lit("low").as("side"))
    val med = medRows.head.getDouble(2)
    val dev = events.select(abs(col(valueCol) - lit(med)).as("_d"))
    val mad = Sketch.exactQuantileDisc(dev, "_d", Seq(0.5)).collect().head.getDouble(2)
    val lo = med - k * mad
    val hi = med + k * mad
    events.filter(col(valueCol) < lit(lo) || col(valueCol) > lit(hi))
      .select(col("event_id"), col(valueCol).as("value"),
        when(col(valueCol) < lit(lo), "low").otherwise("high").as("side"))
  }

  def outliersMadSqlDuck(k: Double = 3.0): String =
    s"""WITH v AS (SELECT CAST(value AS DOUBLE) AS v FROM events
       |           WHERE value IS NOT NULL),
       | s AS (SELECT v, row_number() OVER (ORDER BY v) AS rn,
       |       count(*) OVER () AS n FROM v),
       | m AS (SELECT v AS med FROM s WHERE rn = CAST(ceil(0.5 * n) AS BIGINT)),
       | d AS (SELECT abs(v.v - m.med) AS dv FROM v CROSS JOIN m),
       | ds AS (SELECT dv, row_number() OVER (ORDER BY dv) AS rn,
       |        count(*) OVER () AS n FROM d),
       | mad AS (SELECT dv AS mad FROM ds WHERE rn = CAST(ceil(0.5 * n) AS BIGINT)),
       | b AS (SELECT med - CAST($k AS DOUBLE) * mad AS lo,
       |              med + CAST($k AS DOUBLE) * mad AS hi
       |       FROM m CROSS JOIN mad)
       |SELECT event_id, CAST(value AS DOUBLE) AS value,
       |  CASE WHEN CAST(value AS DOUBLE) < lo THEN 'low' ELSE 'high' END AS side
       |FROM events CROSS JOIN b
       |WHERE CAST(value AS DOUBLE) < lo OR CAST(value AS DOUBLE) > hi
       |ORDER BY event_id""".stripMargin

  /** Fixed-width value histogram — the profiling primitive: bucket index
    * `floor(v / width)` (exact double division by a power-of-two-friendly
    * literal, floor is IEEE-exact on both engines), per-bucket count and
    * observed min/max. One map-side-combined aggregate; bucket-count
    * output, independent of row count. */
  def valueHistogram(events: DataFrame, valueCol: String = "value",
      width: Double = 25.0): DataFrame =
    events.filter(col(valueCol).isNotNull)
      .groupBy(floor(col(valueCol) / lit(width)).cast("long").as("bucket"))
      .agg(count(lit(1)).as("n"),
        min(col(valueCol)).as("vmin"), max(col(valueCol)).as("vmax"))

  def valueHistogramSqlDuck(width: Double = 25.0): String =
    s"""SELECT CAST(floor(CAST(value AS DOUBLE) / CAST($width AS DOUBLE)) AS BIGINT) AS bucket,
       |  CAST(count(*) AS BIGINT) AS n,
       |  min(CAST(value AS DOUBLE)) AS vmin, max(CAST(value AS DOUBLE)) AS vmax
       |FROM events WHERE value IS NOT NULL
       |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Per-group min-max feature scaling to [0, 1] — the ML-prep normalizer.
    * Min/max of doubles are COMPARISONS, not sums, so unlike a mean they
    * are partitioning-invariant and bit-deterministic; the scale division
    * is a single double op in identical order on both engines. Groups with
    * a degenerate range (min == max) scale to 0.0 by convention.
    *
    * Shape: one map-side-combined aggregate over the (tiny) group key
    * domain, broadcast back onto the stream — the full corpus is touched
    * exactly once plus a broadcast hash join, no wide shuffle. */
  def minmaxScale(events: DataFrame, keyCol: String = "event_type",
      valueCol: String = "value"): DataFrame = {
    val stats = events.groupBy(keyCol)
      .agg(min(col(valueCol)).as("vmin"), max(col(valueCol)).as("vmax"))
    events.join(broadcast(stats), keyCol)
      .select(col("event_id"), col(keyCol), col(valueCol).as("value"),
        when(col("vmax") > col("vmin"),
          (col(valueCol) - col("vmin")) / (col("vmax") - col("vmin")))
          .otherwise(lit(0.0)).as("scaled"))
  }

  /** Winsorization — clip a metric to its exact [pLo, pHi] type-1 quantile
    * fences, the standard outlier-robust cleaning step before scaling or
    * loss weighting. The fences come from the value-domain bisection
    * ([[graft.ext.Sketch.exactQuantileDisc]] — O(log range) rounds, O(1)
    * driver state, never a global sort), pivot to a 1-row relation and
    * broadcast back over the stream; the clip itself is
    * least/greatest comparisons only, so every output double is an INPUT
    * double — bit-exact on any engine and any partitioning. */
  def winsorize(events: DataFrame, pLo: Double = 0.05, pHi: Double = 0.95): DataFrame = {
    require(pLo > 0 && pHi <= 1 && pLo < pHi, "need 0 < pLo < pHi <= 1")
    val q = graft.ext.Sketch.exactQuantileDisc(events, "value", Seq(pLo, pHi))
    val fences = q.agg(
      max(when(col("prob") === pLo, col("value"))).as("_lo"),
      max(when(col("prob") === pHi, col("value"))).as("_hi"))
    events.filter(col("value").isNotNull)
      .select(col("event_id"), col("value"))
      .crossJoin(broadcast(fences))
      .select(col("event_id"), col("value"),
        least(greatest(col("value"), col("_lo")), col("_hi")).as("clipped"),
        (col("value") < col("_lo") || col("value") > col("_hi")).as("was_clipped"))
  }

  def winsorizeSqlDuck(pLo: Double = 0.05, pHi: Double = 0.95): String =
    s"""WITH v AS (SELECT CAST(value AS DOUBLE) AS v FROM events
       |           WHERE value IS NOT NULL),
       | s AS (SELECT v, row_number() OVER (ORDER BY v) AS rn,
       |       count(*) OVER () AS n FROM v),
       | f AS (SELECT
       |   (SELECT v FROM s WHERE rn = CAST(ceil($pLo * n) AS BIGINT) LIMIT 1) AS lo,
       |   (SELECT v FROM s WHERE rn = CAST(ceil($pHi * n) AS BIGINT) LIMIT 1) AS hi)
       |SELECT event_id, CAST(value AS DOUBLE) AS value,
       |  least(greatest(CAST(value AS DOUBLE), lo), hi) AS clipped,
       |  (CAST(value AS DOUBLE) < lo OR CAST(value AS DOUBLE) > hi) AS was_clipped
       |FROM events CROSS JOIN f
       |WHERE value IS NOT NULL ORDER BY event_id""".stripMargin

  /** Event-type transition matrix (first-order Markov estimate): per user,
    * consecutive event pairs in (time, id) order; output one row per
    * (from_type, to_type) with the transition count and row-normalized
    * probability. ONE exchange on user_id for the lag window; the
    * (from, to) rollup is |types|²-bounded, and the per-from totals join is
    * a broadcast over that tiny relation. The probability is a single
    * BIGINT/BIGINT double division — bit-identical cross-engine. */
  def transitionMatrix(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byUser = Window.partitionBy("user_id").orderBy("us", "event_id")
    val pairs = events
      .filter(col("user_id").isNotNull && col("ts").isNotNull &&
        col("event_type").isNotNull)
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("us"),
        col("event_type"))
      .withColumn("from_type", lag(col("event_type"), 1).over(byUser))
      .filter(col("from_type").isNotNull)
      .groupBy(col("from_type"), col("event_type").as("to_type"))
      .agg(count(lit(1)).as("n"))
    val totals = pairs.groupBy("from_type").agg(sum(col("n")).as("n_from"))
    pairs.join(broadcast(totals), "from_type")
      .select(col("from_type"), col("to_type"), col("n"),
        (col("n").cast("double") / col("n_from").cast("double")).as("p"))
  }

  def transitionMatrixSqlDuck: String =
    """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS us, event_type
      |  FROM events
      |  WHERE user_id IS NOT NULL AND ts IS NOT NULL AND event_type IS NOT NULL),
      | seq AS (SELECT event_type AS to_type,
      |    lag(event_type) OVER (PARTITION BY user_id ORDER BY us, event_id)
      |      AS from_type
      |  FROM e),
      | c AS (SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n
      |  FROM seq WHERE from_type IS NOT NULL GROUP BY from_type, to_type),
      | t AS (SELECT from_type, CAST(sum(n) AS BIGINT) AS n_from
      |  FROM c GROUP BY from_type)
      |SELECT c.from_type, c.to_type, c.n,
      |  CAST(c.n AS DOUBLE) / CAST(t.n_from AS DOUBLE) AS p
      |FROM c JOIN t ON c.from_type = t.from_type
      |ORDER BY c.from_type, c.to_type""".stripMargin

  /** Market-basket affinity between event types at SESSION granularity:
    * which activities co-occur in the same sitting, with
    * lift = P(a,b)/(P(a)·P(b)) — the signal behind "users who X in a
    * session also Y". The basket is the gap-session
    * ([[Temporal.sessionIntervals]] semantics inlined on the already-keyed
    * rows); baskets hold ≤ |types| DISTINCT types, so the within-basket
    * pair enumeration is |types|²-bounded per session — never corpus-
    * quadratic. Counts are exact BIGINTs; lift is computed double over
    * them in one fixed expression. Session keying shares the user_id
    * exchange; the type totals and session count ride in as broadcasts. */
  def typeAffinity(events: DataFrame, gapUs: Long = 1800000000L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byUser = Window.partitionBy("user_id").orderBy("us", "event_id")
    val cum = byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val typed = events
      .filter(col("user_id").isNotNull && col("ts").isNotNull &&
        col("event_type").isNotNull)
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("us"),
        col("event_type"))
      .withColumn("_prev", lag(col("us"), 1).over(byUser))
      .withColumn("_new",
        when(col("_prev").isNull || col("us") - col("_prev") > gapUs, 1L)
          .otherwise(0L))
      .withColumn("session_id", sum(col("_new")).over(cum))
      // (r18) grouped-sets form replaces the distinct + session self-join
      // (the r17 co-partition attempt could not remove those exchanges —
      // an AQE'd InMemoryRelation reports unknown partitioning): the
      // groupBy(user_id, session_id) collect_set REUSES the sessionization
      // window's hash(user_id) partitioning (no new exchange) and subsumes
      // the old distinct; ordered pairs (a < b over the sorted set)
      // explode per session — bounded by |types|² per session exactly like
      // the old join — and partial-count down to a |types|²-bounded rollup.
      // The persisted relation is one row per session instead of one per
      // (session, type), and the two corpus-sized self-join exchanges from
      // the cache are gone.
      // Equivalence: n_both(a,b) = |{sess : a,b ∈ types(sess)}| and
      // n_type(t) = |{sess : t ∈ types(sess)}| are exactly the old
      // self-join and groupBy counts over distinct (session, type);
      // event_type is filtered non-null upstream, and nSess counts grouped
      // rows = distinct (user_id, session_id) either way.
      .groupBy(col("user_id"), col("session_id"))
      .agg(array_sort(collect_set(col("event_type"))).as("types"))
    val cached = graft.etl.CacheRegistry.persist(typed)
    val nSess = cached.agg(count(lit(1)).as("n_sessions"))
    val perType = cached.select(explode(col("types")).as("event_type"))
      .groupBy(col("event_type")).agg(count(lit(1)).as("n_type"))
    val both = cached
      .select(explode(expr(
        """flatten(transform(types, (a, i) ->
          |  transform(slice(types, i + 2, size(types) - i - 1), b ->
          |    named_struct('type_a', a, 'type_b', b))))""".stripMargin)).as("p"))
      .groupBy(col("p.type_a").as("type_a"), col("p.type_b").as("type_b"))
      .agg(count(lit(1)).as("n_both"))
    both
      .join(broadcast(perType.select(col("event_type").as("type_a"),
        col("n_type").as("n_a"))), "type_a")
      .join(broadcast(perType.select(col("event_type").as("type_b"),
        col("n_type").as("n_b"))), "type_b")
      .crossJoin(broadcast(nSess))
      .select(col("type_a"), col("type_b"), col("n_both"), col("n_a"),
        col("n_b"),
        (col("n_both").cast("double") * col("n_sessions").cast("double") /
          (col("n_a").cast("double") * col("n_b").cast("double"))).as("lift"))
  }

  def typeAffinitySqlDuck(gapUs: Long = 1800000000L): String =
    s"""WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS us, event_type
       |  FROM events
       |  WHERE user_id IS NOT NULL AND ts IS NOT NULL AND event_type IS NOT NULL),
       | flags AS (SELECT user_id, event_id, us, event_type,
       |    CASE WHEN lag(us) OVER w IS NULL OR us - lag(us) OVER w > $gapUs
       |         THEN 1 ELSE 0 END AS is_new
       |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
       | sess AS (SELECT DISTINCT user_id, event_type,
       |    CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY us, event_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |      AS session_id
       |  FROM flags),
       | ns AS (SELECT CAST(count(*) AS BIGINT) AS n_sessions
       |  FROM (SELECT DISTINCT user_id, session_id FROM sess)),
       | pt AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_type
       |  FROM sess GROUP BY event_type),
       | bo AS (SELECT a.event_type AS type_a, b.event_type AS type_b,
       |    CAST(count(*) AS BIGINT) AS n_both
       |  FROM sess a JOIN sess b ON a.user_id = b.user_id
       |    AND a.session_id = b.session_id AND a.event_type < b.event_type
       |  GROUP BY 1, 2)
       |SELECT type_a, type_b, n_both, pa.n_type AS n_a, pb.n_type AS n_b,
       |  CAST(n_both AS DOUBLE) * CAST(ns.n_sessions AS DOUBLE) /
       |    (CAST(pa.n_type AS DOUBLE) * CAST(pb.n_type AS DOUBLE)) AS lift
       |FROM bo JOIN pt pa ON pa.event_type = type_a
       |  JOIN pt pb ON pb.event_type = type_b
       |  CROSS JOIN ns
       |ORDER BY type_a, type_b""".stripMargin

  /** DAU / WAU engagement curve with stickiness: per active day, the count
    * of distinct users that day and over the trailing `windowDays` window,
    * ratio = stickiness. EXACT sliding distinct without quadratic state:
    * each (user, day) activity fact expands to the `windowDays` window-END
    * days it supports (bounded ×windowDays row growth — never a per-day
    * scan of history), a second distinct collapses multi-day users, and
    * the counts are plain map-side-combined aggregates. Reported for days
    * with actual activity (inner join to DAU). */
  def dauWau(events: DataFrame, windowDays: Int = 7): DataFrame = {
    val ud = events
      .filter(col("user_id").isNotNull && col("ts").isNotNull)
      .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
    val dau = ud.groupBy("day").agg(count(lit(1)).as("dau"))
    val wau = ud
      .select(col("user_id"),
        explode(expr(s"sequence(day, date_add(day, ${windowDays - 1}))")).as("day"))
      .distinct()
      .groupBy("day").agg(count(lit(1)).as("wau"))
    dau.join(wau, "day")
      .select(col("day"), col("dau"), col("wau"),
        (col("dau").cast("double") / col("wau").cast("double")).as("stickiness"))
  }

  /** Cumulative unique users by day — the growth curve: each user counts
    * once on their FIRST active day (a per-user min aggregate, map-side
    * combined), the per-day new-user rollup is |days| rows, and the
    * running total uses the bucketed
    * [[graft.etl.IngestOps.withGlobalRunningSum]] prefix machinery (never
    * a single-reducer global window). All counts are exact BIGINTs, so the
    * curve is partitioning- and engine-independent. */
  def cumulativeUsers(events: DataFrame): DataFrame = {
    val firstSeen = events
      .filter(col("user_id").isNotNull && col("ts").isNotNull)
      .groupBy("user_id").agg(min(to_date(col("ts"))).as("day"))
    // persisted (r17): |days| rows; saves the prefix machinery's passes
    // from re-running the per-user first-seen aggregation each time
    val perDay = graft.etl.CacheRegistry.persist(
      firstSeen.groupBy("day").agg(count(lit(1)).as("n_new")))
    graft.etl.IngestOps.withGlobalRunningSum(
        perDay, col("day"), col("n_new"), "cum_users")
      .select("day", "n_new", "cum_users")
      .orderBy("day")
  }

  /** Oracle twin of [[cumulativeUsers]] — window cumulative sum in place
    * of the bucketed prefix machinery. */
  def cumulativeUsersSqlDuck: String =
    s"""WITH fs AS (SELECT user_id, min(CAST(ts AS DATE)) AS day
       |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
       |  GROUP BY user_id),
       | pd AS (SELECT day, CAST(count(*) AS BIGINT) AS n_new
       |  FROM fs GROUP BY day)
       |SELECT day, n_new,
       |  CAST(SUM(n_new) OVER (ORDER BY day) AS BIGINT) AS cum_users
       |FROM pd ORDER BY day""".stripMargin

  def dauWauSqlDuck(windowDays: Int = 7): String =
    s"""WITH ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day
       |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
       | dau AS (SELECT day, CAST(count(*) AS BIGINT) AS dau
       |  FROM ud GROUP BY day),
       | ex AS (SELECT DISTINCT user_id, day + CAST(i AS INTEGER) AS day
       |  FROM ud CROSS JOIN range(0, $windowDays) r(i)),
       | wau AS (SELECT day, CAST(count(*) AS BIGINT) AS wau
       |  FROM ex GROUP BY day)
       |SELECT dau.day, dau, wau,
       |  CAST(dau AS DOUBLE) / CAST(wau AS DOUBLE) AS stickiness
       |FROM dau JOIN wau USING (day) ORDER BY dau.day""".stripMargin

  /** Referential-integrity audit over a star schema: one row per declared
    * child→parent relationship with the child row count and the count of
    * ORPHANS (non-null child keys with no parent). Each relationship is a
    * key-pruned LEFT ANTI join — dimension keys broadcast when small, and
    * only the two key columns are ever read. The first data-quality gate
    * any warehouse load runs. */
  def refIntegrity(rels: Seq[(String, DataFrame, String, DataFrame, String)]): DataFrame =
    rels.map { case (name, child, childKey, parent, parentKey) =>
      // (r18) ONE child scan per relationship instead of two: the old
      // shape ran a separate totals aggregation (full child scan) beside
      // the anti-join orphan count. A left_outer probe against the
      // DISTINCT parent keys (distinct keeps the row count exact — and is
      // a dim-sized aggregation) lets all three counters ride one
      // aggregation: n_rows = joined rows (1:1 by distinctness), n_keyed
      // = non-null child keys (a null key never matches, same as the old
      // anti semantics), n_orphans = non-null keys with no parent match.
      val marked = child.select(col(childKey).as("_k"))
        .join(parent.select(col(parentKey).as("_k")).distinct()
          .withColumn("_m", lit(1)), Seq("_k"), "left_outer")
      marked.agg(
          count(lit(1)).as("n_rows"),
          count(col("_k")).as("n_keyed"),
          coalesce(sum(when(col("_k").isNotNull && col("_m").isNull, 1L)
            .otherwise(0L)), lit(0L)).as("n_orphans"))
        .select(lit(name).as("relationship"), col("n_rows"), col("n_keyed"),
          col("n_orphans"))
    }.reduce(_.union(_))

  def refIntegritySqlDuck(rels: Seq[(String, String, String, String, String)]): String =
    rels.map { case (name, child, childKey, parent, parentKey) =>
      s"""SELECT '$name' AS relationship,
         |  (SELECT CAST(count(*) AS BIGINT) FROM $child) AS n_rows,
         |  (SELECT CAST(count($childKey) AS BIGINT) FROM $child) AS n_keyed,
         |  (SELECT CAST(count(*) AS BIGINT) FROM $child c
         |    WHERE c.$childKey IS NOT NULL
         |      AND NOT EXISTS (SELECT 1 FROM $parent p
         |                      WHERE p.$parentKey = c.$childKey)) AS n_orphans""".stripMargin
    }.mkString("", "\nUNION ALL\n", "\nORDER BY relationship")

  /** Event-time delivery-order audit: per event type, how many events
    * arrived with an event time EARLIER than the previous event of the same
    * user in arrival order (event_id) — the out-of-order rate that sizes
    * watermark delays and late-data budgets for the streaming suite. The
    * lag runs inside one hash partitioning on user_id; the rollup keyed by
    * event_type is a second, |types|-sized exchange (unavoidable — the two
    * keys differ). The flag is attributed to the LATER event's type: that
    * is the event that would be dropped or re-bucketed by a watermark. */
  def outOfOrderRate(events: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("event_id")
    events.filter(col("user_id").isNotNull)
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("us"))
      .withColumn("_prev", lag(col("us"), 1).over(w))
      .groupBy("event_type").agg(
        count(lit(1)).as("n_events"),
        coalesce(sum(when(col("us") < col("_prev"), 1L).otherwise(0L)), lit(0L))
          .as("n_ooo"))
      .withColumn("ooo_rate",
        col("n_ooo").cast("double") / col("n_events").cast("double"))
  }

  def outOfOrderRateSqlDuck: String =
    """WITH f AS (SELECT user_id, event_type, epoch_us(ts) AS us,
      |    lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY event_id) AS prev
      |  FROM events WHERE user_id IS NOT NULL)
      |SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
      |  CAST(coalesce(sum(CASE WHEN us < prev THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_ooo,
      |  CAST(coalesce(sum(CASE WHEN us < prev THEN 1 ELSE 0 END), 0) AS DOUBLE)
      |    / CAST(count(*) AS DOUBLE) AS ooo_rate
      |FROM f GROUP BY event_type ORDER BY event_type""".stripMargin

  /** EQUI-DEPTH histogram (each bucket holds ≈ n/k values) WITHOUT a global
    * sort: the k bucket boundaries are exact type-1 quantiles from
    * [[Sketch.exactQuantileDisc]]'s value-domain bisection (O(log range)
    * narrow scans, O(1) driver state — never an `ntile` over one global
    * window, which funnels the corpus through a single reducer). The k
    * boundary scalars then drive one narrow bucketing pass + a k-row
    * aggregation. Bucket i holds values v with b_{i-1} < v ≤ b_i (b_0 =
    * −∞); massive ties can legitimately leave later buckets empty — those
    * rows are kept with n = 0 so the histogram always has exactly k rows. */
  def equidepthHistogram(df: DataFrame, valueCol: String, k: Int = 8): DataFrame = {
    require(k >= 2, "k must be at least 2")
    val spark = df.sparkSession
    import spark.implicits._
    val probs = (1 to k).map(i => i / k.toDouble)
    val qs = Sketch.exactQuantileDisc(df, valueCol, probs).orderBy("prob")
      .collect() // bounded driver pull: exactly k (prob, n, value) scalars
    val total = qs.head.getLong(1)
    val bounds = qs.zipWithIndex.map { case (r, i) =>
      ((i + 1).toLong, if (r.isNullAt(2)) Double.NaN else r.getDouble(2))
    }.toSeq
    val spec = bounds.toDF("bucket", "hi")
    if (total == 0L)
      return spec.select(col("bucket"), col("hi"), lit(0L).as("n_rows"),
        lit(null).cast("double").as("share")).limit(0)
    val v = col(valueCol).cast("double")
    // 1 + count of interior boundaries strictly below v — a literal
    // comparison chain, fully codegen'd, pushed through the scan
    val bucketOf = bounds.init // k-1 interior bounds
      .foldLeft(lit(1L)) { case (acc, (_, b)) =>
        acc + when(v > lit(b), 1L).otherwise(0L) }
    val counts = df.filter(v.isNotNull)
      .groupBy(bucketOf.as("bucket")).agg(count(lit(1)).as("n_rows"))
    spec.join(counts, Seq("bucket"), "left")
      .na.fill(0L, Seq("n_rows"))
      .select(col("bucket"), col("hi"), col("n_rows"),
        (col("n_rows").cast("double") / lit(total.toDouble)).as("share"))
  }

  def equidepthHistogramSqlDuck(table: String, valueCol: String, k: Int = 8): String =
    s"""WITH v AS (SELECT CAST($valueCol AS DOUBLE) AS v FROM $table
       |           WHERE $valueCol IS NOT NULL),
       | nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM v),
       | s AS (SELECT v, row_number() OVER (ORDER BY v) AS rn FROM v),
       | bounds AS (SELECT r.i AS i, s.v AS b
       |   FROM range(1, ${k + 1}) r(i) CROSS JOIN nn
       |   JOIN s ON s.rn = CAST(ceil((r.i / CAST($k AS DOUBLE)) * nn.n) AS BIGINT)),
       | assigned AS (SELECT s.rn, 1 + count(b.i) AS bucket
       |   FROM s LEFT JOIN bounds b ON b.i < $k AND b.b < s.v GROUP BY s.rn),
       | counts AS (SELECT bucket, CAST(count(*) AS BIGINT) AS n_rows
       |   FROM assigned GROUP BY bucket)
       |SELECT CAST(bounds.i AS BIGINT) AS bucket, bounds.b AS hi,
       |  coalesce(counts.n_rows, 0) AS n_rows,
       |  CAST(coalesce(counts.n_rows, 0) AS DOUBLE)
       |    / CAST((SELECT n FROM nn) AS DOUBLE) AS share
       |FROM bounds LEFT JOIN counts ON counts.bucket = bounds.i
       |ORDER BY bucket""".stripMargin

  /** 2-D Pareto frontier (skyline): the distinct (p, d) pairs not dominated
    * by any other pair with p' ≥ p AND d' ≤ d (maximize p, minimize d) —
    * e.g. "orders no other order beats on both price and recency". The
    * textbook formulation is a quadratic NOT-EXISTS self-join; this is the
    * sort-free distributed form: dedupe to distinct pairs, RANGE-bucket on
    * descending p (IngestOps.rangeBuckets — sampled, deterministic), then
    * a pair is dominated iff the minimum d among pairs sorting strictly
    * before it (within-bucket prefix window + a broadcast prefix-min over
    * earlier buckets, ≤ numParts scalars on the driver) is ≤ its own d.
    * Rows in earlier buckets have strictly greater p (equal p always lands
    * in one bucket), and same-bucket predecessors with equal p carry
    * smaller d — both genuine dominators, so the single running minimum
    * decides dominance exactly. One shuffle, no global window. */
  def paretoFront(df: DataFrame, pCol: Column, dCol: Column,
      numParts: Int = 0): DataFrame = {
    val pairs = df.select(pCol.cast("double").as("p"), dCol.cast("long").as("d"))
      .filter(col("p").isNotNull && col("d").isNotNull)
      .groupBy("p", "d").agg(count(lit(1)).as("n"))
    val withB = pairs.withColumn("_bkt",
      graft.etl.IngestOps.rangeBuckets(pairs, negate(col("p")), numParts))
    val mins = withB.groupBy("_bkt").agg(min(col("d")).as("_m"))
      .collect().map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)
    if (mins.isEmpty) return pairs.select(col("p"), col("d").as("d_us"), col("n"))
    // prefix-min of per-bucket minima = "best d among all strictly-greater-p
    // buckets"; Long.MaxValue is the identity for the first bucket
    val offsets = mins.scanLeft((0, Long.MaxValue)) {
      case ((_, acc), (b, m)) => (b, math.min(acc, m))
    }.init.zip(mins).map { case ((_, pre), (b, _)) => b -> pre }
    val offsetMap = map(offsets.flatMap { case (b, o) =>
      Seq(lit(b), lit(o)) }.toSeq: _*)
    val w = Window.partitionBy("_bkt").orderBy(col("p").desc, col("d").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    withB
      .withColumn("_lm", min(col("d")).over(w))
      .withColumn("_pm", element_at(offsetMap, col("_bkt")))
      .withColumn("_m", least(coalesce(col("_lm"), lit(Long.MaxValue)), col("_pm")))
      .filter(col("_m") > col("d"))
      .select(col("p"), col("d").as("d_us"), col("n"))
  }

  def paretoFrontSqlDuck: String =
    """WITH pairs AS (SELECT CAST(o_totalprice AS DOUBLE) AS p,
      |        epoch_us(o_orderdate) AS d, CAST(count(*) AS BIGINT) AS n
      |  FROM orders WHERE o_totalprice IS NOT NULL AND o_orderdate IS NOT NULL
      |  GROUP BY 1, 2),
      | s AS (SELECT p, d, n, min(d) OVER (ORDER BY p DESC, d ASC
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS m FROM pairs)
      |SELECT p, d AS d_us, n FROM s WHERE m IS NULL OR m > d
      |ORDER BY p DESC, d_us""".stripMargin

  /** Top-k session path trigrams: the most common 3-step event-type
    * sequences WITHIN a gap-session — the clickstream-mining view the
    * transition matrix (order-1) can't show. One window pass per user
    * computes both the session id (gap > gapUs starts a new one) and the
    * two look-aheads; a trigram is kept only when all three events share
    * the session. ONE exchange on user_id (both windows and the lag use
    * the same partitioning); the rollup is |types|³-bounded and the top-k
    * is a TakeOrdered partial top-k with a deterministic (count desc,
    * path asc) tie-break — never a global sort. */
  def pathTrigrams(events: DataFrame, k: Int = 20,
      gapUs: Long = 1800000000L): DataFrame = {
    val w = Window.partitionBy("user_id")
      .orderBy(col("us"), col("event_id"))
    val cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    events.filter(col("user_id").isNotNull)
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("us"))
      .withColumn("_prev", lag(col("us"), 1).over(w))
      .withColumn("_new",
        when(col("_prev").isNull || col("us") - col("_prev") > gapUs, 1L)
          .otherwise(0L))
      .withColumn("_sid", sum(col("_new")).over(cum))
      .withColumn("_t2", lead(col("event_type"), 1).over(w))
      .withColumn("_t3", lead(col("event_type"), 2).over(w))
      .withColumn("_s2", lead(col("_sid"), 1).over(w))
      .withColumn("_s3", lead(col("_sid"), 2).over(w))
      .filter(col("_s2") === col("_sid") && col("_s3") === col("_sid"))
      .select(concat_ws(" > ", col("event_type"), col("_t2"), col("_t3"))
        .as("path"))
      .groupBy("path").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("path"))
      .limit(k)
  }

  def pathTrigramsSqlDuck(k: Int = 20, gapUs: Long = 1800000000L): String =
    s"""WITH o AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS us
       |  FROM events WHERE user_id IS NOT NULL),
       | l AS (SELECT *, lag(us) OVER w AS prev FROM o
       |   WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
       | s AS (SELECT *, CAST(sum(CASE WHEN prev IS NULL OR us - prev > $gapUs
       |     THEN 1 ELSE 0 END) OVER w2 AS BIGINT) AS sid FROM l
       |   WINDOW w2 AS (PARTITION BY user_id ORDER BY us, event_id
       |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
       | g AS (SELECT event_type, sid,
       |     lead(event_type, 1) OVER w3 AS t2, lead(event_type, 2) OVER w3 AS t3,
       |     lead(sid, 1) OVER w3 AS s2, lead(sid, 2) OVER w3 AS s3 FROM s
       |   WINDOW w3 AS (PARTITION BY user_id ORDER BY us, event_id))
       |SELECT event_type || ' > ' || t2 || ' > ' || t3 AS path,
       |  CAST(count(*) AS BIGINT) AS n
       |FROM g WHERE s2 = sid AND s3 = sid
       |GROUP BY 1 ORDER BY n DESC, path LIMIT $k""".stripMargin

  def minmaxScaleSqlDuck: String =
    """WITH st AS (SELECT event_type, min(value) AS vmin, max(value) AS vmax
      |            FROM events GROUP BY event_type)
      |SELECT event_id, e.event_type, value,
      |  CASE WHEN vmax > vmin THEN (value - vmin) / (vmax - vmin)
      |       ELSE 0.0E0 END AS scaled
      |FROM events e JOIN st USING (event_type)
      |ORDER BY event_id""".stripMargin

  /** RFM (recency / frequency / monetary) customer segmentation over the
    * orders table — the classic marketing-analytics rollup, and the same
    * shape as per-source corpus freshness scoring. Recency = days from the
    * customer's last order to the corpus max date (exact integer),
    * frequency = order count, monetary = exact DECIMAL(18,2) spend
    * (rendered VARCHAR per the decimal-output rule). Each dimension also
    * gets a 1–5 ntile score over a TIE-FREE order (metric, then customer
    * key), so scores are engine-identical.
    *
    * Shape: one customer-keyed aggregation, the 1-row max-date aggregate
    * broadcast back, then three DISTRIBUTED ntile scores: each is the
    * closed-form ntile over the EXACT global rank from the deterministic
    * range-bucket recipe (IngestOps.withGlobalPos) — never a
    * `Window.orderBy` with no partition, which would drag the whole
    * |customers| rollup through one partition (millions of rows at 100×).
    * ntile(k) over rank r with total n: buckets 1..(n mod k) hold
    * ⌈n/k⌉ rows, the rest ⌊n/k⌋ — so b = ⌈r/(q+1)⌉ below the boundary
    * rank (n mod k)·(q+1), else (n mod k) + ⌈(r − boundary)/q⌉, all in
    * BIGINT `DIV` arithmetic (value-identical to both engines' ntile since
    * the order is made TIE-FREE by the customer-key tiebreak). Descending
    * metrics bucket on the negated key, so bucket boundaries and the
    * within-bucket sort agree by construction. */
  /** First-order-cohort lifetime-value matrix: customers cohort by the
    * month of their FIRST order; each (cohort, age-in-months) cell reports
    * active customers, revenue, the running cumulative revenue, and
    * LTV-per-customer — the standard subscription/commerce cohort grid.
    *
    * Exactness: months are `year·12 + month − 1` integers (no engine
    * months_between semantics), money is the repo's exact-cents idiom
    * (DECIMAL(18,2)·100 per order before the BIGINT sum), LTV one integer
    * DIV. Shape: two custkey-keyed aggregates + one custkey equi-join;
    * the only window runs over the (cohorts × ages) ROLLUP — |months|²
    * rows, partitioned by cohort — never over raw orders. */
  def cohortLtv(orders: DataFrame): DataFrame = {
    val o = orders.filter(col("o_custkey").isNotNull &&
        col("o_orderdate").isNotNull && col("o_totalprice").isNotNull)
      .select(col("o_custkey"),
        (year(col("o_orderdate")) * 12 + month(col("o_orderdate")) - 1)
          .cast("long").as("ym"),
        (col("o_totalprice").cast(DecimalType182) * 100).cast("long").as("cents"))
    val first = o.groupBy("o_custkey").agg(min(col("ym")).as("cohort_ym"))
    val sized = first.groupBy("cohort_ym").agg(count(lit(1)).as("cohort_size"))
    val cells = o.join(first, "o_custkey")
      .groupBy(col("cohort_ym"), (col("ym") - col("cohort_ym")).as("age_months"))
      .agg(countDistinct(col("o_custkey")).as("n_active"),
        sum(col("cents")).as("revenue_cents"))
    val w = Window.partitionBy("cohort_ym").orderBy("age_months")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cells.join(sized, "cohort_ym")
      .withColumn("cum_revenue_cents", sum(col("revenue_cents")).over(w))
      .select(col("cohort_ym"), col("age_months"), col("n_active"),
        col("revenue_cents"), col("cum_revenue_cents"), col("cohort_size"),
        expr("cum_revenue_cents DIV cohort_size").as("ltv_cents"))
      .orderBy("cohort_ym", "age_months")
  }

  /** Oracle twin of [[cohortLtv]] — identical integer month/cents
    * arithmetic, window over the rollup. */
  def cohortLtvSqlDuck: String =
    s"""WITH o AS (SELECT o_custkey,
       |    CAST(year(o_orderdate) * 12 + month(o_orderdate) - 1 AS BIGINT) AS ym,
       |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
       |  FROM orders WHERE o_custkey IS NOT NULL AND o_orderdate IS NOT NULL
       |    AND o_totalprice IS NOT NULL),
       | f AS (SELECT o_custkey, min(ym) AS cohort_ym FROM o GROUP BY o_custkey),
       | sz AS (SELECT cohort_ym, CAST(count(*) AS BIGINT) AS cohort_size
       |   FROM f GROUP BY cohort_ym),
       | cells AS (SELECT f.cohort_ym, o.ym - f.cohort_ym AS age_months,
       |     CAST(count(DISTINCT o.o_custkey) AS BIGINT) AS n_active,
       |     CAST(sum(o.cents) AS BIGINT) AS revenue_cents
       |   FROM o JOIN f USING (o_custkey) GROUP BY 1, 2),
       | cum AS (SELECT cells.*, CAST(sum(revenue_cents) OVER (
       |     PARTITION BY cohort_ym ORDER BY age_months
       |     ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_revenue_cents
       |   FROM cells)
       |SELECT cum.cohort_ym, cum.age_months, cum.n_active, cum.revenue_cents,
       |  cum.cum_revenue_cents, sz.cohort_size,
       |  cum.cum_revenue_cents // sz.cohort_size AS ltv_cents
       |FROM cum JOIN sz USING (cohort_ym)
       |ORDER BY cohort_ym, age_months""".stripMargin

  def rfm(orders: DataFrame): DataFrame = {
    val maxD = orders.agg(max(col("o_orderdate").cast("timestamp")).as("_maxd"))
    val per = orders
      .groupBy(col("o_custkey"))
      .agg(max(col("o_orderdate").cast("timestamp")).as("_last"),
        count(lit(1)).as("frequency"),
        sum(col("o_totalprice").cast(DecimalType182)).as("_spend"))
    // cached: the global-rank recipe passes over the rollup several times
    // per score (bucket sample + bucket counts + the ranking window)
    val scored = graft.etl.CacheRegistry.persist(
      per.crossJoin(broadcast(maxD))
        .select(col("o_custkey"),
          expr("(unix_micros(_maxd) - unix_micros(_last)) DIV 86400000000")
            .as("recency_days"),
          col("frequency"),
          col("_spend").cast("string").as("monetary"),
          col("_spend").as("_spendd")))
    val n = scored.count()
    // statsOn=scored (r17): the three scores compose (d2 = d1 + window
    // column …), so the prefix machinery's count/sample/bucket passes on
    // the LATER scores would re-execute the earlier scores' windows —
    // 9 window executions in place of 3. Every score key (recency_days,
    // −frequency, −_spendd) lives unchanged on the cached `scored`, so
    // the passes run there instead; only the final ranking window sees
    // the composed relation. Positions are a pure function of the key
    // multiset, which is identical on both.
    def score(df: DataFrame, key: Column, out: String): DataFrame =
      graft.etl.IngestOps.withGlobalPos(df, key, "_rk",
          order = Seq(key, col("o_custkey")), statsOn = Some(scored))
        .withColumn(out, ntileFromRank(col("_rk"), n, 5))
        .drop("_rk")
    var d = score(scored, col("recency_days"), "r_score")
    d = score(d, -col("frequency"), "f_score")
    d = score(d, -col("_spendd"), "m_score")
    d.drop("_spendd")
  }

  /** Closed-form ntile — promoted to the shared rank toolkit; see
    * [[graft.etl.IngestOps.ntileFromRank]]. Kept as a local alias so the
    * rfm scoring below reads at one altitude. */
  private def ntileFromRank(r: Column, n: Long, k: Int): Column =
    graft.etl.IngestOps.ntileFromRank(r, n, k)

  def rfmSqlDuck: String =
    """WITH per AS (SELECT o_custkey,
      |    max(CAST(o_orderdate AS TIMESTAMP)) AS last_d,
      |    CAST(count(*) AS BIGINT) AS frequency,
      |    sum(CAST(o_totalprice AS DECIMAL(18,2))) AS spend
      |  FROM orders GROUP BY o_custkey),
      | mx AS (SELECT max(CAST(o_orderdate AS TIMESTAMP)) AS maxd FROM orders)
      |SELECT o_custkey,
      |  (epoch_us(maxd) - epoch_us(last_d)) // 86400000000 AS recency_days,
      |  frequency,
      |  CAST(spend AS VARCHAR) AS monetary,
      |  CAST(ntile(5) OVER (ORDER BY (epoch_us(maxd) - epoch_us(last_d)) // 86400000000, o_custkey) AS BIGINT) AS r_score,
      |  CAST(ntile(5) OVER (ORDER BY frequency DESC, o_custkey) AS BIGINT) AS f_score,
      |  CAST(ntile(5) OVER (ORDER BY spend DESC, o_custkey) AS BIGINT) AS m_score
      |FROM per CROSS JOIN mx
      |ORDER BY o_custkey""".stripMargin

  private val DecimalType182 = org.apache.spark.sql.types.DecimalType(18, 2)

  /** ABC revenue classification (the Pareto inventory rule): customers
    * ranked by exact spend, labeled A while the cumulative revenue share
    * BEFORE them is under `aPerMille`/1000, B under `bPerMille`/1000, C
    * after — who drives the first 80% / next 15% / tail of revenue.
    *
    * Same class-collapse trick as the vocabulary-coverage curve: customers
    * group by their EXACT cents spend first, so equal-spend customers are
    * interchangeable and get one deterministic label (a per-customer rank
    * would tie-break arbitrarily inside a spend class and the boundary
    * labels would be partition luck). The spend-class relation cumulates in
    * spend-DESC order through the bucketed
    * [[graft.etl.IngestOps.withGlobalRunningSum]] prefix machinery; the
    * label test cross-multiplies to exact BIGINTs (prev·1000 < thr·total).
    * Bounds: cents totals stay under 2^63/10^6 ≈ $92 B — fine far past the
    * fixture; a >$92 B corpus would move share_micro to DECIMAL(38) DIV. */
  def abcAnalysis(orders: DataFrame, aPerMille: Long = 800L,
      bPerMille: Long = 950L): DataFrame = {
    require(0 <= aPerMille && aPerMille <= bPerMille && bPerMille <= 1000L,
      "need 0 <= aPerMille <= bPerMille <= 1000")
    val perCust = orders
      .filter(col("o_custkey").isNotNull && col("o_totalprice").isNotNull)
      .groupBy("o_custkey")
      .agg(sum((col("o_totalprice").cast(DecimalType182) * 100).cast("long"))
        .as("cents"))
    // persisted (r17): the prefix machinery + totals agg + final pass make
    // ~5 passes over cls — unpersisted, each one re-ran the per-customer
    // orders rollup. cls is one slim row per distinct spend value.
    val cls = graft.etl.CacheRegistry.persist(
      perCust.groupBy("cents").agg(count(lit(1)).as("nc"))
        .withColumn("mass", col("cents") * col("nc")))
    val cum = graft.etl.IngestOps.withGlobalRunningSum(
      cls, -col("cents"), col("mass"), "cm")
    val tot = cls.agg(sum("mass").as("total"))
    cum.crossJoin(broadcast(tot))
      .withColumn("label",
        when((col("cm") - col("mass")) * 1000 < lit(aPerMille) * col("total"), "A")
          .when((col("cm") - col("mass")) * 1000 < lit(bPerMille) * col("total"), "B")
          .otherwise("C"))
      .groupBy("label", "total")
      .agg(sum("nc").as("n_customers"), sum("mass").as("revenue_cents"))
      .withColumn("share_micro", expr("revenue_cents * 1000000 DIV total"))
      .select("label", "n_customers", "revenue_cents", "share_micro")
      .orderBy("label")
  }

  /** Oracle twin of [[abcAnalysis]] — window cumulative sum in place of the
    * bucketed prefix machinery, identical integer label tests. */
  def abcAnalysisSqlDuck(aPerMille: Long = 800L, bPerMille: Long = 950L): String =
    s"""WITH pc AS (SELECT o_custkey,
       |    CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
       |      AS BIGINT) AS cents
       |  FROM orders WHERE o_custkey IS NOT NULL AND o_totalprice IS NOT NULL
       |  GROUP BY o_custkey),
       | cls AS (SELECT cents, CAST(count(*) AS BIGINT) AS nc,
       |    CAST(cents * count(*) AS BIGINT) AS mass FROM pc GROUP BY cents),
       | cum AS (SELECT cents, nc, mass,
       |    CAST(SUM(mass) OVER (ORDER BY cents DESC) AS BIGINT) AS cm FROM cls),
       | t AS (SELECT CAST(sum(mass) AS BIGINT) AS total FROM cls),
       | lab AS (SELECT CASE
       |    WHEN (cm - mass) * 1000 < $aPerMille * total THEN 'A'
       |    WHEN (cm - mass) * 1000 < $bPerMille * total THEN 'B'
       |    ELSE 'C' END AS label, nc, mass, total
       |  FROM cum CROSS JOIN t)
       |SELECT label, CAST(sum(nc) AS BIGINT) AS n_customers,
       |  CAST(sum(mass) AS BIGINT) AS revenue_cents,
       |  CAST(sum(mass) * 1000000 // total AS BIGINT) AS share_micro
       |FROM lab GROUP BY label, total ORDER BY label""".stripMargin

  /** Stationary distribution of the order-1 session transition chain by
    * FIXED-round power iteration — "where do user journeys spend their
    * time in the limit", the summary number the full transition matrix
    * ([[transitionMatrix]]) only implies. Same integer-arithmetic contract
    * as [[Graph.pageRank]]: mass is `scale`-scaled BIGINT, each round
    * sends `(π_i · n_ij) DIV n_i` along every observed transition, so all
    * sums are exact and associative and the oracle unrolls the identical
    * rounds bit-for-bit. States with no outgoing transitions drop their
    * mass (pinned, as in pageRank); truncation loses ≤ |states| units per
    * round at the default scale.
    *
    * Shape: the transition-count relation is |states|² rows at most — the
    * corpus is touched ONCE (the same lag + groupBy exchange as
    * transitionMatrix); every iteration is arithmetic on that tiny
    * relation. */
  def markovStationary(events: DataFrame, iters: Int = 4,
      scale: Long = 1000000000000L): DataFrame = {
    require(iters >= 1 && scale > 0, s"need iters >= 1, scale > 0")
    val byUser = Window.partitionBy("user_id").orderBy("us", "event_id")
    val pairs = events
      .filter(col("user_id").isNotNull && col("ts").isNotNull &&
        col("event_type").isNotNull)
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("us"),
        col("event_type"))
      .withColumn("from_type", lag(col("event_type"), 1).over(byUser))
      .filter(col("from_type").isNotNull)
      .groupBy(col("from_type"), col("event_type").as("to_type"))
      .agg(count(lit(1)).as("n"))
    val totals = pairs.groupBy("from_type").agg(sum(col("n")).as("n_from"))
    val counts = graft.etl.CacheRegistry.persist(
      pairs.join(broadcast(totals), "from_type"))
    val states = graft.etl.CacheRegistry.persist(
      counts.select(col("from_type").as("state"))
        .unionByName(counts.select(col("to_type").as("state"))).distinct())
    val nStates = states.count()
    require(nStates > 0, "no transitions observed")
    var pi = states.withColumn("pi", lit(scale / nStates))
    for (_ <- 1 to iters) {
      val in = counts.join(pi, counts("from_type") === pi("state"))
        .select(col("to_type").as("state"),
          expr("(pi * n) DIV n_from").as("m"))
        .groupBy("state").agg(sum("m").as("mm"))
      pi = states.join(in, Seq("state"), "left")
        .select(col("state"), coalesce(col("mm"), lit(0L)).as("pi"))
    }
    pi.select(col("state"), col("pi").as("pi_scaled"),
      (col("pi").cast("double") / lit(scale.toDouble)).as("pi"))
  }

  /** Oracle for [[markovStationary]]: the integer rounds unrolled. */
  def markovStationarySqlDuck(iters: Int = 4,
      scale: Long = 1000000000000L): String = {
    val rounds = (1 to iters).map { i =>
      val prev = s"p${i - 1}"
      s""" m$i AS (SELECT c.to_type AS state,
         |    CAST(sum(($prev.pi * c.n) // c.n_from) AS BIGINT) AS mm
         |   FROM c JOIN $prev ON c.from_type = $prev.state GROUP BY c.to_type),
         | p$i AS (SELECT st.state, coalesce(m$i.mm, 0) AS pi
         |   FROM st LEFT JOIN m$i ON st.state = m$i.state)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS us, event_type
       |  FROM events
       |  WHERE user_id IS NOT NULL AND ts IS NOT NULL AND event_type IS NOT NULL),
       | seq AS (SELECT event_type AS to_type,
       |    lag(event_type) OVER (PARTITION BY user_id ORDER BY us, event_id)
       |      AS from_type
       |  FROM e),
       | cc AS (SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n
       |  FROM seq WHERE from_type IS NOT NULL GROUP BY from_type, to_type),
       | c AS (SELECT cc.*, t.n_from FROM cc JOIN
       |   (SELECT from_type, CAST(sum(n) AS BIGINT) AS n_from FROM cc
       |    GROUP BY from_type) t ON cc.from_type = t.from_type),
       | st AS (SELECT DISTINCT state FROM (
       |   SELECT from_type AS state FROM c
       |   UNION ALL SELECT to_type FROM c)),
       | ns AS (SELECT CAST(count(*) AS BIGINT) AS n FROM st),
       | p0 AS (SELECT state, $scale // (SELECT n FROM ns) AS pi FROM st),
       |$rounds
       |SELECT state, pi AS pi_scaled, CAST(pi AS DOUBLE) / $scale AS pi
       |FROM p$iters ORDER BY state""".stripMargin
  }

  /** Per-conversion touch attribution: for every `convType` event, the
    * count of non-conversion touches its user made in the trailing
    * `lookbackUs` window, plus the FIRST- and LAST-touch event types — the
    * two industry-standard single-touch attribution models, computed
    * side by side (their disagreement rate is itself the usual argument
    * for multi-touch).
    *
    * Everything happens in ONE hash partitioning on user_id: the trailing
    * count and both boundary touches are three window functions over the
    * same RANGE frame (range, not rows — the lookback is wall-clock), so
    * there is no purchases × touches join anywhere. Conversions with an
    * empty window emit with n_touches 0 and null types (they're the
    * "dark conversions" an attribution report must not drop).
    *
    * PRECONDITION — unique (user_id, ts) per row: a RANGE frame orders by
    * `us` alone, so when several touches share one (user_id, us) instant at
    * the frame boundary, which of them is "first"/"last" is peeked
    * nondeterministically (and can diverge between engines). The fixtures
    * satisfy this (event ts values are unique per user); inputs that don't
    * must pre-aggregate ties to one row per instant (e.g. min(event_type)
    * per (user_id, us)) before calling, the same hazard the
    * window_value_funcs entry documents. */
  def attribution(events: DataFrame, convType: String = "purchase",
      lookbackUs: Long = 604800000000L): DataFrame = {
    require(lookbackUs > 0, s"lookbackUs must be > 0, got $lookbackUs")
    val e = events
      .filter(col("user_id").isNotNull && col("ts").isNotNull &&
        col("event_type").isNotNull)
      .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("us"),
        col("event_type"))
    val touch = when(col("event_type") =!= convType, col("event_type"))
    val w = Window.partitionBy("user_id").orderBy("us")
      .rangeBetween(-lookbackUs, -1L)
    e.withColumn("n_touches",
        count(touch).over(w))
      .withColumn("first_touch", first(touch, ignoreNulls = true).over(w))
      .withColumn("last_touch", last(touch, ignoreNulls = true).over(w))
      .filter(col("event_type") === convType)
      .select(col("event_id"), col("user_id"), col("us"),
        col("n_touches"), col("first_touch"), col("last_touch"))
  }

  def attributionSqlDuck(convType: String = "purchase",
      lookbackUs: Long = 604800000000L): String =
    s"""WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS us, event_type
       |  FROM events
       |  WHERE user_id IS NOT NULL AND ts IS NOT NULL AND event_type IS NOT NULL),
       | t AS (SELECT event_id, user_id, us, event_type,
       |    CAST(count(CASE WHEN event_type <> '$convType' THEN 1 END)
       |      OVER w AS BIGINT) AS n_touches,
       |    first_value(CASE WHEN event_type <> '$convType' THEN event_type END
       |      IGNORE NULLS) OVER w AS first_touch,
       |    last_value(CASE WHEN event_type <> '$convType' THEN event_type END
       |      IGNORE NULLS) OVER w AS last_touch
       |  FROM e
       |  WINDOW w AS (PARTITION BY user_id ORDER BY us
       |    RANGE BETWEEN $lookbackUs PRECEDING AND 1 PRECEDING))
       |SELECT event_id, user_id, us, n_touches, first_touch, last_touch
       |FROM t WHERE event_type = '$convType'
       |ORDER BY event_id""".stripMargin

  /** Directed association rules between part brands at ORDER granularity
    * (Agrawal & Srikant's support/confidence frame, VLDB'94): for brand
    * pairs co-purchased in at least `minSupport` orders, the rule a→b with
    * confidence = supp(a,b)/supp(a) and lift = n·supp(a,b)/(supp(a)·supp(b)).
    * The curation use: brand-bundle structure in the transaction log — and
    * the same shape mines "docs from source A co-cited with source B".
    *
    * Counts are exact BIGINTs over DISTINCT (order, brand) baskets;
    * confidence/lift are one fixed-order double expression each. Shape:
    * one broadcast dim join (part), one distinct + self-join keyed on the
    * order (pair volume bounded by |brands|² per order, never corpus-
    * quadratic), then brand-keyed rollups that broadcast back. */
  def brandRules(lineitem: DataFrame, part: DataFrame,
      minSupport: Long = 10L): DataFrame = {
    require(minSupport >= 1, s"minSupport must be >= 1, got $minSupport")
    // (r18) grouped-sets form replaces the distinct + okey self-join (the
    // r17 co-partition attempt could not remove those exchanges — an AQE'd
    // InMemoryRelation reports unknown partitioning): groupBy(okey) with
    // map-side partial collect_set assembles each order's distinct brand
    // set in the ONE full-data exchange; ordered pairs (a ≠ b) explode per
    // order — bounded by |brands|² per order exactly like the old join —
    // and partial-count down to a |brands|²-bounded rollup before the only
    // other (tiny) exchange. No SMJ sorts, and the persisted relation is
    // one row per order instead of one per (order, brand).
    // Equivalence: supp_ab(a,b) = |{okey : a,b ∈ brands(okey)}| and
    // supp(a) = |{okey : a ∈ brands(okey)}| are exactly the old self-join
    // and groupBy counts over distinct (okey, brand); a null brand never
    // reached the old output (pairs required a.brand =!= b.brand, and supp
    // rows only surfaced through joins on pair keys), and nOrders counts
    // grouped rows = distinct okey either way.
    val baskets = graft.etl.CacheRegistry.persist(
      lineitem.select(col("l_orderkey").as("okey"), col("l_partkey"))
        .join(broadcast(part.select(col("p_partkey").as("l_partkey"),
          col("p_brand"))), "l_partkey")
        .groupBy(col("okey"))
        .agg(array_sort(collect_set(col("p_brand"))).as("brands")))
    val nOrders = baskets.agg(count(lit(1)).as("n"))
    val supp = baskets.select(explode(col("brands")).as("brand"))
      .groupBy("brand").agg(count(lit(1)).as("supp"))
    val pairs = baskets
      .select(explode(expr(
        """flatten(transform(brands, a ->
          |  transform(filter(brands, b -> b != a), b ->
          |    named_struct('brand_a', a, 'brand_b', b))))""".stripMargin)).as("p"))
      .groupBy(col("p.brand_a").as("brand_a"), col("p.brand_b").as("brand_b"))
      .agg(count(lit(1)).as("supp_ab"))
      .filter(col("supp_ab") >= minSupport)
    pairs
      .join(broadcast(supp.select(col("brand").as("brand_a"), col("supp").as("supp_a"))),
        "brand_a")
      .join(broadcast(supp.select(col("brand").as("brand_b"), col("supp").as("supp_b"))),
        "brand_b")
      .crossJoin(broadcast(nOrders))
      .select(col("brand_a"), col("brand_b"), col("supp_ab"), col("supp_a"),
        col("supp_b"),
        (col("supp_ab").cast("double") / col("supp_a").cast("double"))
          .as("confidence"),
        (col("supp_ab").cast("double") * col("n").cast("double") /
          (col("supp_a").cast("double") * col("supp_b").cast("double")))
          .as("lift"))
  }

  def brandRulesSqlDuck(minSupport: Long = 10L): String =
    s"""WITH baskets AS (SELECT DISTINCT l_orderkey AS okey, p_brand AS brand
       |  FROM lineitem JOIN part ON l_partkey = p_partkey),
       | n AS (SELECT CAST(count(DISTINCT okey) AS BIGINT) AS n FROM baskets),
       | supp AS (SELECT brand, CAST(count(*) AS BIGINT) AS supp
       |   FROM baskets GROUP BY brand),
       | pairs AS (SELECT a.brand AS brand_a, b.brand AS brand_b,
       |    CAST(count(*) AS BIGINT) AS supp_ab
       |  FROM baskets a JOIN baskets b
       |    ON a.okey = b.okey AND a.brand <> b.brand
       |  GROUP BY a.brand, b.brand
       |  HAVING count(*) >= $minSupport)
       |SELECT brand_a, brand_b, supp_ab, sa.supp AS supp_a, sb.supp AS supp_b,
       |  CAST(supp_ab AS DOUBLE) / CAST(sa.supp AS DOUBLE) AS confidence,
       |  CAST(supp_ab AS DOUBLE) * CAST(n.n AS DOUBLE) /
       |    (CAST(sa.supp AS DOUBLE) * CAST(sb.supp AS DOUBLE)) AS lift
       |FROM pairs
       |JOIN supp sa ON sa.brand = pairs.brand_a
       |JOIN supp sb ON sb.brand = pairs.brand_b
       |CROSS JOIN n
       |ORDER BY brand_a, brand_b""".stripMargin

  /** Herfindahl–Hirschman revenue-concentration index per nation: each
    * supplier's share of its nation's lineitem revenue, squared and
    * summed — the antitrust-style concentration statistic (10 000 ≡ HHI 1.0
    * in the conventional 0–10 000 scale; here micro-units of 1.0). Answers
    * "is this nation's supply concentrated in a few suppliers" exactly.
    *
    * Exactness: revenue `extendedprice·(1−discount)` is the exact
    * DECIMAL(18,2)² product (scale 4), summed per supplier and ×10⁴ into
    * BIGINT quarter-basis units; shares floor-quantize to micro-units
    * (`rev·10⁶ DIV total` — exact while a nation's revenue stays under
    * 9.2·10¹² revenue units, the repo's documented quantization bound
    * class) and HHI is the exact integer `Σ share² DIV 10⁶`. One final
    * int/int double for display.
    *
    * Shape: one lineitem rollup keyed by supplier (map-side combinable),
    * a broadcast supplier→nation join, a nation rollup — never a window. */
  def hhiConcentration(lineitem: DataFrame, supplier: DataFrame,
      nation: DataFrame): DataFrame = {
    val rev = lineitem.filter(col("l_suppkey").isNotNull &&
        col("l_extendedprice").isNotNull && col("l_discount").isNotNull)
      .select(col("l_suppkey"),
        (col("l_extendedprice").cast(DecimalType182) *
          (lit(1).cast(DecimalType182) -
            col("l_discount").cast(DecimalType182)) * 10000)
          .cast("long").as("rev4"))
      .groupBy("l_suppkey").agg(sum(col("rev4")).as("rev4"))
    val byNation = rev
      .join(broadcast(supplier.select(col("s_suppkey").as("l_suppkey"),
        col("s_nationkey"))), "l_suppkey")
      .join(broadcast(nation.select(col("n_nationkey").as("s_nationkey"),
        col("n_name"))), "s_nationkey")
    val totals = byNation.groupBy("n_name")
      .agg(sum(col("rev4")).as("total4"), count(lit(1)).as("n_suppliers"))
    byNation.join(totals, "n_name")
      .select(col("n_name"), col("n_suppliers"), col("total4"),
        expr("(rev4 * CAST(1000000 AS BIGINT)) DIV total4").as("share_micro"))
      .groupBy("n_name", "n_suppliers", "total4")
      .agg(expr("sum(share_micro * share_micro) DIV CAST(1000000 AS BIGINT)")
        .as("hhi_micro"), max(col("share_micro")).as("top_share_micro"))
      .select(col("n_name"), col("n_suppliers"), col("hhi_micro"),
        col("top_share_micro"),
        (col("hhi_micro").cast("double") / lit(1000000.0)).as("hhi"))
  }

  /** Oracle twin of [[hhiConcentration]] — identical decimal/integer
    * share arithmetic. */
  def hhiConcentrationSqlDuck: String =
    """WITH rev AS (SELECT l_suppkey,
      |    CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) *
      |      (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))
      |      * 10000 AS BIGINT)) AS BIGINT) AS rev4
      |  FROM lineitem
      |  WHERE l_suppkey IS NOT NULL AND l_extendedprice IS NOT NULL
      |    AND l_discount IS NOT NULL
      |  GROUP BY l_suppkey),
      | bn AS (SELECT n.n_name, rev.rev4
      |   FROM rev JOIN supplier s ON rev.l_suppkey = s.s_suppkey
      |   JOIN nation n ON s.s_nationkey = n.n_nationkey),
      | tot AS (SELECT n_name, CAST(sum(rev4) AS BIGINT) AS total4,
      |    CAST(count(*) AS BIGINT) AS n_suppliers
      |   FROM bn GROUP BY n_name),
      | sh AS (SELECT bn.n_name, tot.n_suppliers, tot.total4,
      |    (bn.rev4 * 1000000) // tot.total4 AS share_micro
      |   FROM bn JOIN tot ON bn.n_name = tot.n_name)
      |SELECT n_name, n_suppliers,
      |  CAST(sum(share_micro * share_micro) // 1000000 AS BIGINT) AS hhi_micro,
      |  CAST(max(share_micro) AS BIGINT) AS top_share_micro,
      |  CAST(sum(share_micro * share_micro) // 1000000 AS DOUBLE) / 1000000.0
      |    AS hhi
      |FROM sh GROUP BY n_name, n_suppliers, total4
      |ORDER BY n_name""".stripMargin

  /** Maximum drawdown per user over the cumulative value series — the
    * quant-style "largest peak-to-trough loss" statistic, here over each
    * user's running event-value total: with P_t the exact-cents prefix sum
    * in (ts, event_id) order, drawdown at t is `max_{s≤t} P_s − P_t` and
    * the output is its per-user maximum (plus the peak and point count).
    * Kadane-style sequential folding is unnecessary: two stacked running
    * windows (prefix sum, then running max) express it declaratively.
    *
    * Exactness: the cents cast is the repo-wide DECIMAL(18,2)·100 idiom;
    * everything after is BIGINT. Plan shape: ONE user_id exchange — both
    * windows and the final rollup share the same partitioning and
    * (us, event_id) intra-partition order, so Spark plans a single shuffle
    * and sorts once. */
  def maxDrawdown(events: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("us"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    events.filter(col("user_id").isNotNull && col("ts").isNotNull &&
        col("value").isNotNull)
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("us"),
        (col("value").cast(DecimalType182) * 100).cast("long").as("cents"))
      .withColumn("p", sum(col("cents")).over(w))
      .withColumn("m", max(col("p")).over(w))
      .groupBy("user_id")
      .agg(max(col("m") - col("p")).as("max_drawdown_cents"),
        max(col("m")).as("peak_cents"),
        count(lit(1)).as("n_points"))
  }

  /** Oracle twin of [[maxDrawdown]] — same cents idiom, same stacked
    * running windows. */
  def maxDrawdownSqlDuck: String =
    """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS us,
      |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
      |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
      |    AND value IS NOT NULL),
      | p AS (SELECT user_id, us, event_id,
      |    CAST(sum(cents) OVER (PARTITION BY user_id ORDER BY us, event_id
      |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS p
      |  FROM e),
      | m AS (SELECT user_id, p,
      |    CAST(max(p) OVER (PARTITION BY user_id ORDER BY us, event_id
      |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS m
      |  FROM p)
      |SELECT user_id, CAST(max(m - p) AS BIGINT) AS max_drawdown_cents,
      |  CAST(max(m) AS BIGINT) AS peak_cents,
      |  CAST(count(*) AS BIGINT) AS n_points
      |FROM m GROUP BY user_id ORDER BY user_id""".stripMargin

  /** Kaplan–Meier product-limit survival for TIME-TO-CONVERSION: per user,
    * the clock starts at the first `signup` event and "death" is the first
    * `purchase` AT OR AFTER it, observed only inside a `horizonHours`
    * window; users with no qualifying purchase are right-CENSORED at
    * `min(horizon, corpus cutoff − signup)` — the standard
    * administrative-censoring convention, and the reason KM beats the naive
    * conversion CDF (late signups leave the risk set instead of biasing
    * the tail). One output row per whole-hour step with ≥ 1 death:
    * (t_hour, n_risk, n_deaths, surv_pico, survival), with
    * S(t) = Π_{t_i ≤ t} (1 − d_i/n_i) = P(still unconverted after t).
    *
    * Exactness (repo libm-free rule — no ln/exp): each factor is the exact
    * floor `((n_i − d_i)·10^6) DIV n_i` in micro-units and the running
    * product is the exact fixed-point fold `s ← (s·q_i) DIV 10^6` seeded at
    * 10^12 pico-units — integer-only, bit-identical to the oracle's
    * recursive-CTE fold (max intermediate 10^12·10^6 < 2^63; the factor
    * product needs n_i ≤ 9.2·10^12 users — any corpus).
    *
    * Scale shape: two user-keyed aggregates + one user-keyed equi-join (the
    * only corpus-sized shuffles, all on the same key so AQE reuses the
    * partitioning), a broadcast 1-row max, then a per-HOUR rollup whose
    * cardinality is ≤ horizon+1 — CONSTANT in corpus size — which is the
    * bounded driver pull the fixed-point fold runs over (the same
    * bounded-pull class as the quantile brackets). */
  def kaplanMeier(events: DataFrame, horizonHours: Int = 48): DataFrame = {
    require(horizonHours >= 1 && horizonHours <= 1000000,
      s"horizonHours out of range: $horizonHours")
    val spark = events.sparkSession
    val hourUs = 3600000000L
    val e = events.filter(col("user_id").isNotNull && col("ts").isNotNull)
      .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("us"))
    val s0 = e.filter(col("event_type") === "signup")
      .groupBy("user_id").agg(min(col("us")).as("s0"))
    val p0 = e.filter(col("event_type") === "purchase")
      .join(s0, "user_id").filter(col("us") >= col("s0"))
      .groupBy("user_id").agg(min(col("us")).as("p0"))
    val mx = e.agg(max(col("us")).as("cmax"))
    val tp = expr(s"(p0 - s0) DIV $hourUs")
    val isDeath = col("p0").isNotNull && tp < horizonHours
    val byHour = s0.join(p0, Seq("user_id"), "left").crossJoin(broadcast(mx))
      .select(
        when(isDeath, tp)
          .otherwise(least(lit(horizonHours.toLong),
            expr(s"(cmax - s0) DIV $hourUs"))).as("t_hour"),
        when(isDeath, lit(1L)).otherwise(lit(0L)).as("death"))
      .groupBy("t_hour")
      .agg(sum(col("death")).as("n_deaths"), count(lit(1)).as("n_obs"))
    // bounded driver pull: ≤ horizon+1 rows (hour steps, not data volume)
    val steps = byHour.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    val total = steps.map(_._3).sum
    var atRisk = total
    var s = 1000000000000L
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Long)]
    steps.foreach { case (hr, d, nObs) =>
      if (d > 0) {
        val q = (atRisk - d) * 1000000L / atRisk
        s = s * q / 1000000L
        out += ((hr, atRisk, d, s))
      }
      atRisk -= nObs
    }
    import spark.implicits._
    out.toSeq.toDF("t_hour", "n_risk", "n_deaths", "surv_pico")
      .select(col("t_hour"), col("n_risk"), col("n_deaths"), col("surv_pico"),
        (col("surv_pico").cast("double") / lit(1000000000000.0)).as("survival"))
      .orderBy("t_hour")
  }

  /** Oracle twin of [[kaplanMeier]]: identical integer censoring/hour
    * arithmetic; the fixed-point product fold as a recursive CTE over the
    * death-hour steps. */
  def kaplanMeierSqlDuck(horizonHours: Int = 48): String = {
    val hourUs = 3600000000L
    s"""WITH RECURSIVE s0 AS (SELECT user_id, min(epoch_us(ts)) AS s0
       |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
       |    AND event_type = 'signup'
       |  GROUP BY user_id),
       | p0 AS (SELECT e.user_id, min(epoch_us(e.ts)) AS p0
       |   FROM events e JOIN s0 ON e.user_id = s0.user_id
       |   WHERE e.event_type = 'purchase' AND e.ts IS NOT NULL
       |     AND epoch_us(e.ts) >= s0.s0
       |   GROUP BY e.user_id),
       | mx AS (SELECT max(epoch_us(ts)) AS cmax FROM events
       |   WHERE ts IS NOT NULL AND user_id IS NOT NULL),
       | obs AS (SELECT
       |    CASE WHEN p0 IS NOT NULL AND (p0 - s0) // $hourUs < $horizonHours
       |      THEN (p0 - s0) // $hourUs
       |      ELSE least($horizonHours, (cmax - s0) // $hourUs) END AS t_hour,
       |    CASE WHEN p0 IS NOT NULL AND (p0 - s0) // $hourUs < $horizonHours
       |      THEN 1 ELSE 0 END AS death
       |  FROM s0 LEFT JOIN p0 USING (user_id) CROSS JOIN mx),
       | byday AS (SELECT t_hour AS t_day, CAST(sum(death) AS BIGINT) AS n_deaths,
       |     CAST(count(*) AS BIGINT) AS n_obs
       |   FROM obs GROUP BY t_hour),
       | risk AS (SELECT t_day, n_deaths,
       |    CAST((SELECT count(*) FROM obs) AS BIGINT)
       |      - CAST(coalesce(sum(n_obs) OVER (ORDER BY t_day
       |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |        AS BIGINT) AS n_risk
       |   FROM byday),
       | dd AS (SELECT t_day, n_risk, n_deaths,
       |     CAST(row_number() OVER (ORDER BY t_day) AS BIGINT) AS rn
       |   FROM risk WHERE n_deaths > 0),
       | km(rn, t_day, n_risk, n_deaths, s) AS (
       |   SELECT rn, t_day, n_risk, n_deaths,
       |     (1000000000000 * (((n_risk - n_deaths) * 1000000) // n_risk))
       |       // 1000000 AS s
       |   FROM dd WHERE rn = 1
       |   UNION ALL
       |   SELECT d.rn, d.t_day, d.n_risk, d.n_deaths,
       |     (km.s * (((d.n_risk - d.n_deaths) * 1000000) // d.n_risk))
       |       // 1000000
       |   FROM km JOIN dd d ON d.rn = km.rn + 1)
       |SELECT t_day AS t_hour, n_risk, n_deaths, CAST(s AS BIGINT) AS surv_pico,
       |  CAST(s AS DOUBLE) / 1000000000000.0E0 AS survival
       |FROM km ORDER BY t_hour""".stripMargin
  }
}
