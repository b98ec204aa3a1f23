package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Temporal state operators over the `events` table: SCD2-style state
  * intervals, exponentially-decayed trailing sums, and time-windowed
  * telemetry deduplication — the change-tracking / smoothing / dedup steps a
  * large event-ingest pipeline runs between raw landing and feature tables.
  *
  * All three are single-exchange designs: the only shuffle is the hash
  * partitioning on the entity key (window partition and the follow-on
  * groupBy share it), so at 100 TB the data moves once. No driver-side
  * state anywhere.
  */
object Temporal {

  /** Collapse each run of consecutive equal `state` values per `key` into
    * one validity interval — the classic gaps-and-islands compression that
    * turns an append-only event log into SCD2-style (key, state,
    * valid_from, valid_to) history rows. Standard two-window formulation:
    * a change flag via `lag`, a running sum of flags as the island id, then
    * one aggregate per island. Both windows and the groupBy hash on `key`
    * alone, so the whole operator is ONE exchange; (timeUs, ord) is a total
    * order within key, making the island assignment deterministic.
    */
  def stateIntervals(events: DataFrame, key: String, state: String,
      timeUs: String, ord: String): DataFrame = {
    val byKey = Window.partitionBy(key).orderBy(col(timeUs), col(ord))
    val cum = byKey.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    events
      .withColumn("_prev", lag(col(state), 1).over(byKey))
      .withColumn("_chg",
        when(col("_prev").isNull || col("_prev") =!= col(state), 1L).otherwise(0L))
      .withColumn("_grp", sum(col("_chg")).over(cum))
      .groupBy(col(key), col("_grp"), col(state))
      .agg(min(col(timeUs)).as("valid_from_us"), max(col(timeUs)).as("valid_to_us"),
        count(lit(1)).as("n_events"))
      .select(col(key), col(state), col("valid_from_us"), col("valid_to_us"),
        col("n_events"))
  }

  /** Exponentially-decayed trailing sum (finite-window EWMA numerator):
    * per key, sum of the last `lookback` values weighted decay^distance,
    * newest value at weight 1. The fold quantizes each weighted term to
    * DECIMAL(28,12) and accumulates in decimal, so the result is
    * bit-deterministic and order-independent past the (identical on both
    * engines) per-term double multiply — the oracle can recompute it with a
    * completely different plan (row-number self-join) and still hash-match.
    * Scale 12 matters: with decay 0.5 and lookback 10, a 2-decimal input
    * value times 2^-9 has an 11-digit decimal expansion, so a scale-10
    * quantization lands EXACTLY on the rounding midpoint and the engines'
    * tie rules diverge (Spark HALF_UP on the double's shortest repr, DuckDB
    * nearest on the exact binary value); at scale 12 the cast is exact and
    * no tie can occur. Spark side: one window `collect_list` of ≤
    * `lookback` elements, folded by codegen'd higher-order functions — no
    * self-join, no second shuffle.
    */
  def decayedTrailingSum(events: DataFrame, key: String, timeUs: String,
      ord: String, valueCol: String, lookback: Int = 10,
      decay: Double = 0.5): DataFrame = {
    require(lookback >= 1, "lookback must be at least 1")
    val w = Window.partitionBy(key).orderBy(col(timeUs), col(ord))
      .rowsBetween(-(lookback - 1), Window.currentRow)
    events
      .withColumn("_vals", collect_list(col(valueCol).cast("double")).over(w))
      .withColumn("decayed_sum", expr(
        s"""CAST(aggregate(
           |  zip_with(_vals, sequence(size(_vals) - 1, 0, -1),
           |    (v, k) -> CAST(v * pow(CAST($decay AS DOUBLE), k) AS DECIMAL(28,12))),
           |  CAST(0 AS DECIMAL(28,12)),
           |  (acc, x) -> CAST(acc + x AS DECIMAL(28,12))) AS STRING)""".stripMargin))
      .drop("_vals")
  }

  /** Gap-based session intervals per user — the library form of the
    * lag/gap sessionization the events_sessionize query runs inline: a new
    * session opens when the inter-event gap exceeds `gapUs`. One exchange
    * on user_id (both windows and the rollup share it). */
  def sessionIntervals(events: DataFrame, gapUs: Long = 1800000000L): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy("us", "event_id")
    val cum = byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    events
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("us"))
      .withColumn("_prev", lag(col("us"), 1).over(byUser))
      .withColumn("_new",
        when(col("_prev").isNull || col("us") - col("_prev") > gapUs, 1L)
          .otherwise(0L))
      .withColumn("session_id", sum(col("_new")).over(cum))
      .groupBy("user_id", "session_id")
      .agg(count(lit(1)).as("n_events"),
        min("us").as("start_us"), max("us").as("end_us"))
  }

  /** Concurrency curve over a set of time intervals: at every distinct
    * boundary instant, how many intervals are active — the sweep-line
    * answer to "peak concurrent sessions", with NO pair enumeration (an
    * interval-overlap self-join is quadratic in busy periods; the sweep is
    * linear). Convention is half-open [start, end): an interval ending at
    * `t` is inactive at `t`, one starting at `t` is active — i.e. deltas at
    * an instant apply ends-before-starts, which falls out of summing the
    * net delta per distinct instant.
    *
    * Shape: boundaries (2 rows per interval) → one map-side-combined
    * groupBy on the instant (making the sweep key UNIQUE — required by the
    * running sum, and what makes the output deterministic under ties) →
    * [[graft.etl.IngestOps.withGlobalRunningSum]], the deterministic
    * bucketed prefix sum (no single-reducer global window at any scale).
    */
  def intervalConcurrency(intervals: DataFrame, startUs: String,
      endUs: String): DataFrame = {
    // persisted (r17): the prefix machinery makes several driver-bounded
    // passes (range-bucket count, boundary sample, per-bucket sums) plus
    // the final sweep over `deltas` — unpersisted, every pass re-ran the
    // caller's whole interval chain (for the session-concurrency row that
    // was the 2-window sessionization, 4×). The rollup is one slim row per
    // distinct boundary instant, far smaller than its input.
    val deltas =
      intervals.select(col(startUs).as("us"), lit(1L).as("_d"))
      .union(intervals.select(col(endUs).as("us"), lit(-1L).as("_d")))
      .groupBy("us").agg(
        sum(col("_d")).as("delta"),
        sum(when(col("_d") > 0, 1L).otherwise(0L)).as("n_starts"),
        sum(when(col("_d") < 0, 1L).otherwise(0L)).as("n_ends")).persist()
    graft.etl.IngestOps
      .withGlobalRunningSum(deltas, col("us"), col("delta"), "n_active")
      .select("us", "n_starts", "n_ends", "delta", "n_active")
  }

  /** TIME-WEIGHTED average per key — the irregular-sampling mean that a
    * plain avg() gets wrong: each observation's value is weighted by how
    * long it was current (t_{i+1} − t_i, last observation weight 0), i.e.
    * the left-Riemann integral of the step signal divided by the observed
    * span; a single-observation key degenerates to its own value. The
    * weighted sum accumulates as exact BIGINT cents·µs (2-dp value → cents
    * through DECIMAL, gap in µs — integer addition is associative, so
    * partitioning can never change the hash; decimal→double conversion,
    * which libm-rounds differently across engines, never happens), with
    * ONE int64→double conversion + division at the end. Magnitude bound:
    * |cents|·span_µs must stay under 2^63 ≈ 9.2e18 — with 2-dp values
    * ≤ 10^6 that allows a ~3-century per-key span. Duplicate (key, time)
    * observations collapse to max(value) first, making the lead() order
    * total. One exchange on the key (lead window + rollup co-partitioned). */
  def timeWeightedAvg(events: DataFrame, key: String, timeUs: String,
      valueCol: String): DataFrame = {
    val cents = (col(valueCol).cast(org.apache.spark.sql.types.DecimalType(18, 2))
      * lit(100)).cast("long")
    val pts = events
      .filter(col(key).isNotNull && col(valueCol).isNotNull)
      .select(col(key), col(timeUs).as("_us"), cents.as("_c"))
      .groupBy(col(key), col("_us")).agg(max("_c").as("_c"))
    val w = Window.partitionBy(key).orderBy("_us")
    pts
      .withColumn("_next", lead(col("_us"), 1).over(w))
      .groupBy(key)
      .agg(min("_us").as("_lo"), max("_us").as("_hi"),
        sum(when(col("_next").isNotNull,
          col("_c") * (col("_next") - col("_us"))).otherwise(lit(0L)))
          .as("_wsum"),
        max(when(col("_next").isNull, col("_c"))).as("_lastc"))
      .select(col(key), (col("_hi") - col("_lo")).as("span_us"),
        when(col("_hi") > col("_lo"),
          col("_wsum").cast("double") /
            ((col("_hi") - col("_lo")).cast("double") * lit(100.0)))
          .otherwise(col("_lastc").cast("double") / lit(100.0)).as("twa"))
  }

  def timeWeightedAvgSqlDuck: String =
    """WITH p AS (SELECT user_id, epoch_us(ts) AS us,
      |    max(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS c
      |  FROM events WHERE user_id IS NOT NULL AND value IS NOT NULL
      |  GROUP BY 1, 2),
      | l AS (SELECT user_id, us, c,
      |    lead(us) OVER (PARTITION BY user_id ORDER BY us) AS nxt FROM p),
      | a AS (SELECT user_id, min(us) AS lo, max(us) AS hi,
      |    CAST(sum(CASE WHEN nxt IS NOT NULL THEN c * (nxt - us) ELSE 0 END) AS BIGINT) AS wsum,
      |    max(CASE WHEN nxt IS NULL THEN c END) AS lastc
      |  FROM l GROUP BY user_id)
      |SELECT user_id, hi - lo AS span_us,
      |  CASE WHEN hi > lo THEN CAST(wsum AS DOUBLE) / (CAST(hi - lo AS DOUBLE) * 100.0)
      |       ELSE CAST(lastc AS DOUBLE) / 100.0 END AS twa
      |FROM a ORDER BY user_id""".stripMargin

  /** Time-windowed telemetry dedup: within each tumbling window, collapse
    * rows sharing the identity `keys` to one keeper (min id) plus the
    * duplicate count — the "same logical event reported twice inside the
    * retry horizon" cleanup every event pipeline runs on landing. Built on
    * Spark's `window()` so the batch form is the EXACT aggregation the
    * streaming twin runs with a watermark (EventStreams.windowedDedup);
    * one shuffle on (window, keys), map-side combined.
    */
  def windowedDedup(events: DataFrame, tsCol: String, idCol: String,
      keys: Seq[String], windowDur: String = "1 hour"): DataFrame =
    events
      .groupBy(window(col(tsCol), windowDur) +: keys.map(col): _*)
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_dups"))
      .select(unix_micros(col("window.start")).as("w_us") +: keys.map(col) :+
        col("keep_id") :+ col("n_dups"): _*)

  /** Incident × session INTERVAL-OVERLAP join — the interval-interval
    * primitive the point-interval [[Ranges.bucketedRangeJoin]] doesn't
    * cover: "incidents" are the corpus's `topHours` busiest error-hours
    * (rank on the hourly error rollup — a deterministic, SCALE-INVARIANT
    * burst definition; a relative threshold washes out as Poisson noise
    * smooths at volume), consecutive hot hours merged into intervals by
    * gaps-and-islands; each incident is then overlap-joined against the
    * 30-min-gap [[sessionIntervals]] and rolled up to one row per
    * incident: how many user sessions it touched and the exact total
    * overlap time. The ops-triage question "who was on during the
    * incident" as one declarative plan.
    *
    * Scale shape: the hourly rollup map-side combines to calendar-bounded
    * rows; incident ranking is TakeOrdered over that rollup and the
    * island ids come from [[graft.etl.IngestOps.withGlobalPos]] (no
    * unpartitioned window anywhere); the overlap join buckets both sides
    * by HOUR (sessions explode into their touched hours — bounded by the
    * session gap — incidents into theirs) and joins on the hour key, so
    * the only pairs ever materialized already overlap. Sessions are
    * half-open [start, end+1µs); overlap_us is exact integer. */
  def incidentOverlap(events: DataFrame, topHours: Int = 24,
      gapUs: Long = 1800000000L): DataFrame = {
    require(topHours >= 1 && topHours <= 100000, s"topHours: $topHours")
    val hourUs = 3600000000L
    val e = events.filter(col("ts").isNotNull)
    val hot =
      e.filter(col("event_type") === "error")
        .select(expr(s"unix_micros(ts) DIV $hourUs").as("h"))
        .groupBy("h").agg(count(lit(1)).as("n_err"))
        .orderBy(col("n_err").desc, col("h")).limit(topHours).persist()
    val incidents = graft.etl.IngestOps.withGlobalPos(hot, col("h"), "_pos")
      .withColumn("isl", col("h") - col("_pos"))
      .groupBy("isl")
      .agg(min(col("h")).as("h_start"), max(col("h")).as("h_end"),
        sum(col("n_err")).as("n_errors"))
      .select(col("h_start"), col("h_end"),
        (col("h_end") - col("h_start") + 1).as("incident_hours"),
        col("n_errors"),
        (col("h_start") * hourUs).as("is_us"),
        ((col("h_end") + 1) * hourUs).as("ie_us"))
    val sess = sessionIntervals(e.filter(col("user_id").isNotNull), gapUs)
      .select(col("user_id"), col("session_id"),
        col("start_us"), (col("end_us") + 1).as("end_excl_us"))
    val sessH = sess.withColumn("h",
      explode(sequence(expr(s"start_us DIV $hourUs"),
        expr(s"(end_excl_us - 1) DIV $hourUs"))))
    val incH = incidents.withColumn("h",
      explode(sequence(col("h_start"), col("h_end"))))
    val pairs = sessH.join(incH, "h")
      .select(col("user_id"), col("session_id"), col("h_start"),
        col("incident_hours"), col("n_errors"),
        (least(col("end_excl_us"), col("ie_us")) -
          greatest(col("start_us"), col("is_us"))).as("overlap_us"))
      .distinct()
    pairs.groupBy("h_start", "incident_hours", "n_errors")
      .agg(count(lit(1)).as("n_sessions"),
        sum(col("overlap_us")).as("overlap_us_total"))
  }

  /** Oracle twin of [[incidentOverlap]]: plain window islands over the
    * top-hour rollup, generate_series hour explode, the same half-open
    * overlap arithmetic. */
  def incidentOverlapSqlDuck(topHours: Int = 24,
      gapUs: Long = 1800000000L): String = {
    val hourUs = 3600000000L
    s"""WITH hot AS (SELECT h, n_err FROM (
       |    SELECT epoch_us(ts) // $hourUs AS h, CAST(count(*) AS BIGINT) AS n_err
       |    FROM events WHERE ts IS NOT NULL AND event_type = 'error'
       |    GROUP BY 1)
       |  ORDER BY n_err DESC, h LIMIT $topHours),
       | isl AS (SELECT h, n_err,
       |    h - row_number() OVER (ORDER BY h) AS g FROM hot),
       | inc AS (SELECT min(h) AS h_start, max(h) AS h_end,
       |    max(h) - min(h) + 1 AS incident_hours,
       |    CAST(sum(n_err) AS BIGINT) AS n_errors,
       |    min(h) * $hourUs AS is_us, (max(h) + 1) * $hourUs AS ie_us
       |  FROM isl GROUP BY g),
       | ev AS (SELECT user_id, event_id, epoch_us(ts) AS us FROM events
       |   WHERE ts IS NOT NULL AND user_id IS NOT NULL),
       | mk AS (SELECT user_id, event_id, us,
       |    CASE WHEN lag(us) OVER w IS NULL OR us - lag(us) OVER w > $gapUs
       |      THEN 1 ELSE 0 END AS nw
       |  FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
       | sid AS (SELECT user_id, us,
       |    CAST(sum(nw) OVER (PARTITION BY user_id ORDER BY us, event_id
       |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
       |  FROM mk),
       | sess AS (SELECT user_id, session_id, min(us) AS start_us,
       |    max(us) + 1 AS end_excl_us
       |  FROM sid GROUP BY user_id, session_id),
       | sh AS (SELECT user_id, session_id, start_us, end_excl_us,
       |    unnest(generate_series(start_us // $hourUs,
       |      (end_excl_us - 1) // $hourUs)) AS h
       |  FROM sess),
       | ih AS (SELECT inc.*, unnest(generate_series(h_start, h_end)) AS h
       |   FROM inc),
       | pairs AS (SELECT DISTINCT sh.user_id, sh.session_id, ih.h_start,
       |    ih.incident_hours, ih.n_errors,
       |    least(sh.end_excl_us, ih.ie_us)
       |      - greatest(sh.start_us, ih.is_us) AS overlap_us
       |  FROM sh JOIN ih ON sh.h = ih.h)
       |SELECT h_start, incident_hours, n_errors,
       |  CAST(count(*) AS BIGINT) AS n_sessions,
       |  CAST(sum(overlap_us) AS BIGINT) AS overlap_us_total
       |FROM pairs GROUP BY h_start, incident_hours, n_errors
       |ORDER BY h_start""".stripMargin
  }
}
