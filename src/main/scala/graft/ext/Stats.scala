package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Statistical profiling operators over event streams and corpora — the
  * feature-engineering / data-quality layer of a training-data pipeline.
  *
  * Cross-engine determinism discipline (NOTES.md rules): floating-point SUMS
  * are partitioning-dependent, so every accumulated moment here is an EXACT
  * DECIMAL or BIGINT sum (events.value round-trips DECIMAL(18,2) losslessly —
  * asserted by StatsSpec against the live fixture); the final formula then
  * runs in DOUBLE over those exact moments in ONE fixed textual order,
  * mirrored token-for-token in the DuckDB oracles. Casts of exact decimals
  * to double, double mul/div/sub, and sqrt are all IEEE-correctly-rounded,
  * so the result is bit-identical regardless of partitioning or engine.
  *
  * Scale: every operator is a single map-side-combined aggregation (or one
  * keyed window) — no self-joins, no driver-side iteration, no collect.
  */
object Stats {

  /** value quantized to its exact 2-dp decimal form (the fixture generates
    * money-like 2-dp doubles; the cast is lossless — round-trip asserted in
    * StatsSpec so a fixture drift fails legibly). */
  private def xDec(c: Column): Column = c.cast(DecimalType(18, 2))

  /** Pearson correlation + OLS slope of `value` against hour-of-day, per
    * event_type — the classic "is this metric diurnal?" profile.
    *
    * Why not `corr()`: Spark's builtin accumulates co-moments in doubles
    * with a partition-merge formula, so the result depends on partitioning
    * and cannot hash-match an oracle. Here the five moments (Σx, Σy, Σx²,
    * Σy², Σxy) are exact (decimal/bigint) and associative — ONE map-side-
    * combined aggregate over any partitioning — and the textbook formula
    *   corr = (nΣxy − ΣxΣy) / (√(nΣx² − (Σx)²) · √(nΣy² − (Σy)²))
    * runs in double over the exact moments. Degenerate groups (zero
    * variance on either side) yield null, not NaN.
    *
    * Output stays O(|groups|); the corpus is touched exactly once. */
  def pearsonByHour(events: DataFrame, keyCol: String = "event_type",
      valueCol: String = "value", tsCol: String = "ts"): DataFrame = {
    val e = events
      .filter(col(valueCol).isNotNull && col(tsCol).isNotNull && col(keyCol).isNotNull)
      .select(col(keyCol), xDec(col(valueCol)).as("x"),
        hour(col(tsCol)).cast("long").as("y"))
    val m = e.groupBy(keyCol).agg(
      count(lit(1)).as("n"),
      sum(col("x")).as("sx"),
      sum(col("y")).as("sy"),
      sum(col("x") * col("x")).as("sxx"),
      sum(col("y") * col("y")).as("syy"),
      sum(col("x") * col("y").cast(DecimalType(18, 0))).as("sxy"))
    val nD = col("n").cast("double")
    val sxD = col("sx").cast("double"); val syD = col("sy").cast("double")
    val sxxD = col("sxx").cast("double"); val syyD = col("syy").cast("double")
    val sxyD = col("sxy").cast("double")
    val varX = nD * sxxD - sxD * sxD
    val varY = nD * syyD - syD * syD
    m.select(col(keyCol), col("n"),
      when(varX > 0.0 && varY > 0.0,
        (nD * sxyD - sxD * syD) / (sqrt(varX) * sqrt(varY)))
        .as("corr_value_hour"),
      when(varY > 0.0, (nD * sxyD - sxD * syD) / varY).as("slope_per_hour"))
  }

  /** Oracle twin of [[pearsonByHour]] — the same exact moments and the same
    * double formula in the same textual order. */
  def pearsonByHourSqlDuck: String =
    """WITH e AS (SELECT event_type, CAST(value AS DECIMAL(18,2)) AS x,
      |    CAST(hour(ts) AS BIGINT) AS y
      |  FROM events
      |  WHERE value IS NOT NULL AND ts IS NOT NULL AND event_type IS NOT NULL),
      | m AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
      |    sum(x) AS sx, sum(y) AS sy,
      |    sum(x * x) AS sxx, sum(y * y) AS syy,
      |    sum(x * CAST(y AS DECIMAL(18,0))) AS sxy
      |  FROM e GROUP BY event_type)
      |SELECT event_type, n,
      |  CASE WHEN CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
      |         - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) > 0.0E0
      |        AND CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
      |         - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) > 0.0E0
      |    THEN (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
      |         - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
      |      / (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
      |         - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
      |       * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
      |         - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
      |    ELSE NULL END AS corr_value_hour,
      |  CASE WHEN CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
      |         - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) > 0.0E0
      |    THEN (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
      |         - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
      |      / (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
      |         - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))
      |    ELSE NULL END AS slope_per_hour
      |FROM m ORDER BY event_type""".stripMargin

  /** Trailing-window z-score anomaly detection: each event scored against
    * the sample mean/std of the SAME user's previous `lookback` events
    * (strictly preceding — the event never scores against itself, so a
    * genuine spike can't suppress its own anomaly). Emits events with
    * |z| > `zThresh` that have at least `minN` trailing observations.
    *
    * The window sums are exact decimals (order-independent), the z formula
    * is double over them:  var = (nΣx² − (Σx)²) / (n(n−1)),
    * z = (v − Σx/n) / √var.  Near-constant trailing windows whose rounded
    * variance is ≤ 0 are skipped (no finite z exists).
    *
    * Shape: ONE shuffle on user_id, then a single sorted window pass
    * computing all three trailing sums in one frame — the same plan at any
    * scale; per-partition memory is O(lookback). */
  def anomalyZscore(events: DataFrame, lookback: Int = 20, minN: Int = 10,
      zThresh: Double = 2.0): DataFrame = {
    val e = events
      .filter(col("value").isNotNull && col("ts").isNotNull && col("user_id").isNotNull)
      .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("us"),
        col("value"), xDec(col("value")).as("x"))
    val w = Window.partitionBy("user_id").orderBy(col("us"), col("event_id"))
      .rowsBetween(-lookback, -1)
    val nD = col("nw").cast("double")
    val sxD = col("sx").cast("double")
    val sxxD = col("sxx").cast("double")
    val varr = (nD * sxxD - sxD * sxD) / (nD * (nD - 1.0))
    e.withColumn("nw", count(lit(1)).over(w))
      .withColumn("sx", sum(col("x")).over(w))
      .withColumn("sxx", sum(col("x") * col("x")).over(w))
      .filter(col("nw") >= minN)
      .withColumn("z",
        when(lit(varr).isNotNull && varr > 0.0,
          (col("value") - sxD / nD) / sqrt(varr)))
      .filter(col("z").isNotNull && abs(col("z")) > zThresh)
      .select(col("event_id"), col("user_id"), col("value"),
        col("nw").as("n_trailing"), col("z"))
  }

  def anomalyZscoreSqlDuck(lookback: Int = 20, minN: Int = 10,
      zThresh: Double = 2.0): String =
    s"""WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS us,
       |    CAST(value AS DOUBLE) AS value, CAST(value AS DECIMAL(18,2)) AS x
       |  FROM events
       |  WHERE value IS NOT NULL AND ts IS NOT NULL AND user_id IS NOT NULL),
       | t AS (SELECT event_id, user_id, value,
       |    CAST(count(*) OVER w AS BIGINT) AS nw,
       |    sum(x) OVER w AS sx, sum(x * x) OVER w AS sxx
       |  FROM e
       |  WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id
       |    ROWS BETWEEN $lookback PRECEDING AND 1 PRECEDING)),
       | z AS (SELECT event_id, user_id, value, nw,
       |    CASE WHEN (CAST(nw AS DOUBLE) * CAST(sxx AS DOUBLE)
       |          - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
       |         / (CAST(nw AS DOUBLE) * (CAST(nw AS DOUBLE) - 1.0E0)) > 0.0E0
       |      THEN (value - CAST(sx AS DOUBLE) / CAST(nw AS DOUBLE))
       |        / sqrt((CAST(nw AS DOUBLE) * CAST(sxx AS DOUBLE)
       |            - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
       |          / (CAST(nw AS DOUBLE) * (CAST(nw AS DOUBLE) - 1.0E0)))
       |      ELSE NULL END AS z
       |  FROM t WHERE nw >= $minN)
       |SELECT event_id, user_id, value, nw AS n_trailing, z
       |FROM z WHERE z IS NOT NULL AND abs(z) > CAST($zThresh AS DOUBLE)
       |ORDER BY event_id""".stripMargin

  /** One-row-per-column dataset profile — count, null count, exact distinct
    * count, lexicographic/numeric min and max (stringified so heterogeneous
    * column types share one output schema). The "what's in this table"
    * first-contact operator of any ingestion pipeline.
    *
    * Shape: one aggregate PER COLUMN, unioned — each scans exactly its own
    * column (column-pruned parquet read, asserted in StatsSpec), and each
    * exact-distinct is Spark's standard two-stage partial aggregation. The
    * alternative — one pass with N count(distinct)s — plans as an N-way
    * Expand that multiplies the shuffle by the column count; per-column
    * pruned scans move strictly fewer bytes for wide tables. String
    * rendering stays BIGINT/VARCHAR-only here (doc columns), dodging the
    * cross-engine float-repr trap (NOTES.md rule 5). */
  def profileColumns(df: DataFrame, cols: Seq[String]): DataFrame =
    cols.map { c =>
      df.agg(
        count(lit(1)).as("n_rows"),
        count(col(c)).as("n_nonnull"),
        countDistinct(col(c)).as("n_distinct"),
        min(col(c)).cast("string").as("vmin"),
        max(col(c)).cast("string").as("vmax"))
        .select(lit(c).as("col_name"), col("n_rows"), col("n_nonnull"),
          col("n_distinct"), col("vmin"), col("vmax"))
    }.reduce(_.union(_))

  /** Distribution drift between two corpus slices (e.g. yesterday's crawl
    * vs today's): per-bucket histogram comparison with TOTAL-VARIATION
    * distance — deliberately TV, not PSI/KL: those need `ln`, whose last
    * ulp differs across libm implementations, while TV over counts stays
    * in EXACT integers until one final division. Per bucket the
    * contribution |p_a − p_b| cross-multiplies to |n_a·tot_b − n_b·tot_a|
    * (exact BIGINT — no per-bucket division, no double sum), and
    * TV = Σ|…| / (2·tot_a·tot_b) is a single double division at the end.
    * Output: one row per bucket with both counts and the bucket's share of
    * the distance, plus the scalar TV on every row (broadcast 1-row
    * aggregate). Shape: two map-side-combined histograms + a tiny
    * bucket-keyed full outer join — the corpus is read once per side. */
  def driftTotalVariation(a: DataFrame, b: DataFrame, valueCol: String,
      bucketWidth: Long = 25L): DataFrame = {
    def hist(df: DataFrame, n: String) = df
      .filter(col(valueCol).isNotNull)
      .groupBy(expr(s"CAST(CAST($valueCol AS BIGINT) DIV $bucketWidth AS BIGINT)")
        .as("bucket"))
      .agg(count(lit(1)).as(n))
    val ha = hist(a, "n_a"); val hb = hist(b, "n_b")
    val joined = ha.join(hb, Seq("bucket"), "full_outer")
      .select(col("bucket"), coalesce(col("n_a"), lit(0L)).as("n_a"),
        coalesce(col("n_b"), lit(0L)).as("n_b"))
    val tot = joined.agg(sum(col("n_a")).as("tot_a"), sum(col("n_b")).as("tot_b"))
    val withTot = joined.crossJoin(broadcast(tot))
      .withColumn("contrib",
        abs(col("n_a") * col("tot_b") - col("n_b") * col("tot_a")))
    val numSum = withTot.agg(sum(col("contrib")).as("num_sum"))
    withTot.crossJoin(broadcast(numSum))
      .select(col("bucket"), col("n_a"), col("n_b"), col("contrib"),
        (col("num_sum").cast("double") /
          (lit(2.0) * col("tot_a").cast("double") * col("tot_b").cast("double")))
          .as("tv_distance"))
  }

  /** Oracle twin of [[driftTotalVariation]] for documents split by source:
    * `a` = docs with source `srcA`, `b` = docs with source `srcB`, value =
    * n_chars. */
  def driftTvSqlDuck(srcA: String, srcB: String, bucketWidth: Long = 25L): String =
    s"""WITH ha AS (SELECT CAST(n_chars // $bucketWidth AS BIGINT) AS bucket,
       |    CAST(count(*) AS BIGINT) AS n_a
       |  FROM documents WHERE source = '$srcA' AND n_chars IS NOT NULL
       |  GROUP BY 1),
       | hb AS (SELECT CAST(n_chars // $bucketWidth AS BIGINT) AS bucket,
       |    CAST(count(*) AS BIGINT) AS n_b
       |  FROM documents WHERE source = '$srcB' AND n_chars IS NOT NULL
       |  GROUP BY 1),
       | j AS (SELECT coalesce(ha.bucket, hb.bucket) AS bucket,
       |    coalesce(n_a, 0) AS n_a, coalesce(n_b, 0) AS n_b
       |  FROM ha FULL OUTER JOIN hb ON ha.bucket = hb.bucket),
       | t AS (SELECT CAST(sum(n_a) AS BIGINT) AS tot_a,
       |    CAST(sum(n_b) AS BIGINT) AS tot_b FROM j),
       | s AS (SELECT CAST(sum(abs(n_a * tot_b - n_b * tot_a)) AS BIGINT)
       |    AS num_sum FROM j CROSS JOIN t)
       |SELECT bucket, n_a, n_b,
       |  CAST(abs(n_a * tot_b - n_b * tot_a) AS BIGINT) AS contrib,
       |  CAST(num_sum AS DOUBLE) /
       |    (CAST(2.0 AS DOUBLE) * CAST(tot_a AS DOUBLE) * CAST(tot_b AS DOUBLE))
       |    AS tv_distance
       |FROM j CROSS JOIN t CROSS JOIN s
       |ORDER BY bucket""".stripMargin

  /** Exact two-sample Kolmogorov–Smirnov distance between the `valueCol`
    * distributions of two sources — the classic distribution-drift test
    * (complements [[driftTotalVariation]]'s binned TV with the binless
    * sup-CDF-gap statistic). Everything is integer arithmetic:
    * D = max_v |F_a(v) − F_b(v)| = max_v |cumA(v)·n_b − cumB(v)·n_a| /
    * (n_a·n_b), so the max is taken over exact BIGINT numerators and the
    * one division happens once at the end (floor-quantized to micro-units;
    * cross-engine exact — no double CDFs ever materialize).
    *
    * Shape: per-value counts (map-side-combined groupBy over the union of
    * both sources — the corpus is read once), then the bucketed
    * [[graft.etl.IngestOps.withGlobalRunningSum]] prefix machinery for the
    * two CDFs (range-bucket on value, per-bucket offsets, ONE within-bucket
    * window — never a single-reducer global sort), a broadcast 1-row totals
    * aggregate, and a TakeOrdered top-1 for the argmax. `at_value` is the
    * smallest value attaining the sup (ties broken ascending, so the row is
    * deterministic on both engines). */
  def ksDrift(docs: DataFrame, srcA: String = "src0", srcB: String = "src1",
      valueCol: String = "n_chars"): DataFrame = {
    val f = docs.filter(col("source").isin(srcA, srcB) && col(valueCol).isNotNull)
    // persisted (r17): one row per distinct value; the nested prefix-sum
    // passes below would otherwise re-run the corpus rollup ~6×
    val g =
      f.groupBy(col(valueCol).as("v")).agg(
        sum(when(col("source") === srcA, 1L).otherwise(0L)).as("ca"),
        sum(when(col("source") === srcB, 1L).otherwise(0L)).as("cb")).persist()
    val c = graft.etl.IngestOps.withGlobalRunningSum(
      graft.etl.IngestOps.withGlobalRunningSum(g, col("v"), col("ca"), "cuma"),
      col("v"), col("cb"), "cumb")
    val tot = c.agg(max("cuma").as("n_a"), max("cumb").as("n_b"))
    c.crossJoin(broadcast(tot))
      .withColumn("d_num", abs(col("cuma") * col("n_b") - col("cumb") * col("n_a")))
      .orderBy(col("d_num").desc, col("v").asc)
      .limit(1)
      .select(col("n_a"), col("n_b"), col("d_num"),
        (col("n_a") * col("n_b")).as("d_den"),
        col("v").as("at_value"),
        when(col("n_a") > 0 && col("n_b") > 0,
          expr("d_num * 1000000 DIV (n_a * n_b)")).as("d_micro"))
  }

  /** Oracle twin of [[ksDrift]] over documents' n_chars: the same exact
    * integer CDF-gap chain, with the window cumulative sum in place of the
    * bucketed prefix machinery. */
  def ksDriftSqlDuck(srcA: String = "src0", srcB: String = "src1"): String =
    s"""WITH f AS (SELECT n_chars AS v,
       |    CASE WHEN source = '$srcA' THEN 1 ELSE 0 END AS a,
       |    CASE WHEN source = '$srcB' THEN 1 ELSE 0 END AS b
       |  FROM documents
       |  WHERE source IN ('$srcA', '$srcB') AND n_chars IS NOT NULL),
       | g AS (SELECT v, CAST(sum(a) AS BIGINT) AS ca,
       |    CAST(sum(b) AS BIGINT) AS cb FROM f GROUP BY v),
       | c AS (SELECT v, CAST(SUM(ca) OVER (ORDER BY v) AS BIGINT) AS cuma,
       |    CAST(SUM(cb) OVER (ORDER BY v) AS BIGINT) AS cumb FROM g),
       | t AS (SELECT CAST(max(cuma) AS BIGINT) AS n_a,
       |    CAST(max(cumb) AS BIGINT) AS n_b FROM c),
       | s AS (SELECT v, n_a, n_b,
       |    CAST(abs(cuma * n_b - cumb * n_a) AS BIGINT) AS d_num
       |  FROM c CROSS JOIN t)
       |SELECT n_a, n_b, d_num, CAST(n_a * n_b AS BIGINT) AS d_den,
       |  v AS at_value,
       |  CASE WHEN n_a > 0 AND n_b > 0
       |    THEN CAST(d_num * 1000000 // (n_a * n_b) AS BIGINT) END AS d_micro
       |FROM s ORDER BY d_num DESC, v ASC LIMIT 1""".stripMargin

  /** Benford's-law first-digit probabilities log10(1 + 1/d), d = 1..9, as
    * their exact shortest-repr double literals — both engines parse the
    * same decimal text to the same binary64, so no libm log10 runs anywhere
    * at query time. */
  private val BenfordP = Seq(
    0.3010299956639812, 0.17609125905568124, 0.12493873660829992,
    0.09691001300805642, 0.07918124604762482, 0.06694678963061322,
    0.05799194697768673, 0.05115252244738129, 0.04575749056067514)

  /** Benford first-digit audit — the classic fabricated-amounts smell test:
    * observed first-digit distribution of positive amounts (exact cents)
    * against the Benford expectation, one row per digit with the absolute
    * deviation. First digit extracts as substr(cents-as-string, 1, 1) —
    * byte-identical on both engines, no log10 of data anywhere. Counts are
    * map-side-combined BIGINTs over ≤9 groups; shares are one double
    * division against a broadcast 1-row total. */
  def benford(df: DataFrame, valueCol: String = "o_totalprice"): DataFrame = {
    val digits = df.filter(col(valueCol).isNotNull && col(valueCol) > 0)
      .select((xDec(col(valueCol)) * 100).cast("long").as("cents"))
      .filter(col("cents") > 0)
      .select(substring(col("cents").cast("string"), 1, 1).cast("int").as("digit"))
    val counts = digits.groupBy("digit").agg(count(lit(1)).as("n"))
    val tot = counts.agg(sum(col("n")).as("total"))
    val pmap = map(BenfordP.zipWithIndex.flatMap { case (p, i) =>
      Seq(lit(i + 1), lit(p)) }: _*)
    counts.crossJoin(broadcast(tot))
      .withColumn("share", col("n").cast("double") / col("total").cast("double"))
      .withColumn("expected", element_at(pmap, col("digit")))
      .withColumn("abs_dev", abs(col("share") - col("expected")))
      .select("digit", "n", "share", "expected", "abs_dev")
      .orderBy("digit")
  }

  /** Oracle twin of [[benford]] over orders' o_totalprice. */
  def benfordSqlDuck: String = {
    // CAST each probability to DOUBLE: a bare 16-digit literal types as
    // DECIMAL in DuckDB (harness-banned and arithmetic-divergent)
    val vals = BenfordP.zipWithIndex
      .map { case (p, i) => s"(${i + 1}, CAST($p AS DOUBLE))" }.mkString(", ")
    s"""WITH d AS (SELECT CAST(substr(CAST(
       |      CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
       |      AS VARCHAR), 1, 1) AS INTEGER) AS digit
       |  FROM orders
       |  WHERE o_totalprice IS NOT NULL AND o_totalprice > 0
       |    AND CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) > 0),
       | c AS (SELECT digit, CAST(count(*) AS BIGINT) AS n FROM d GROUP BY digit),
       | t AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM c),
       | p(digit, expected) AS (VALUES $vals)
       |SELECT c.digit, n,
       |  CAST(n AS DOUBLE) / CAST(total AS DOUBLE) AS share,
       |  expected,
       |  abs(CAST(n AS DOUBLE) / CAST(total AS DOUBLE) - expected) AS abs_dev
       |FROM c JOIN p USING (digit) CROSS JOIN t ORDER BY digit""".stripMargin
  }

  /** Key-concentration audit: how skewed is the distribution of rows over
    * a key — the shuffle-planning input (a high Gini / top-share key column
    * needs salting before it becomes a reducer hot spot). Output is ONE
    * row: total rows, distinct keys, the heaviest key's count and share,
    * and the GINI COEFFICIENT computed exactly from the ascending-ordered
    * count vector: G = 2·Σ(i·cᵢ)/(K·T) − (K+1)/K.
    *
    * The rank-weighted sum needs every count's global position in sorted
    * order — produced by the bucketed [[graft.etl.IngestOps.withGlobalPos]]
    * prefix machinery (range-bucket on count, per-bucket offsets, ONE
    * within-bucket window — never a single-reducer global sort). Ties in
    * the count leave Σ(i·cᵢ) invariant under any tie order (equal c:
    * c·(i+j) is permutation-stable), so the nondeterministic tie placement
    * inside a bucket cannot change the result. All accumulation is exact
    * BIGINT; the two final divisions are mirrored in the oracle. */
  def keySkew(df: DataFrame, keyCol: String): DataFrame = {
    // persisted (r17): one row per distinct key; saves the prefix
    // machinery's passes from re-running the corpus key rollup each time
    val counts =
      df.filter(col(keyCol).isNotNull)
        .groupBy(col(keyCol)).agg(count(lit(1)).as("cnt")).persist()
    val ranked = graft.etl.IngestOps.withGlobalPos(counts, col("cnt"), "_pos")
    ranked.agg(
        sum(col("_pos") * col("cnt")).as("s"),
        count(lit(1)).as("k"),
        sum(col("cnt")).as("t"),
        max(col("cnt")).as("top_cnt"))
      .select(col("t").as("n_rows"), col("k").as("n_keys"), col("top_cnt"),
        (col("top_cnt").cast("double") / col("t").cast("double")).as("top_share"),
        ((lit(2.0) * col("s").cast("double")) /
          (col("k").cast("double") * col("t").cast("double")) -
          (col("k").cast("double") + lit(1.0)) / col("k").cast("double"))
          .as("gini"))
  }

  def keySkewSqlDuck(table: String, keyCol: String): String =
    s"""WITH c AS (SELECT $keyCol, CAST(count(*) AS BIGINT) AS cnt
       |  FROM $table WHERE $keyCol IS NOT NULL GROUP BY $keyCol),
       | r AS (SELECT cnt, row_number() OVER (ORDER BY cnt, $keyCol) AS pos
       |   FROM c),
       | a AS (SELECT CAST(sum(pos * cnt) AS BIGINT) AS s,
       |   CAST(count(*) AS BIGINT) AS k, CAST(sum(cnt) AS BIGINT) AS t,
       |   max(cnt) AS top_cnt FROM r)
       |SELECT t AS n_rows, k AS n_keys, top_cnt,
       |  CAST(top_cnt AS DOUBLE) / CAST(t AS DOUBLE) AS top_share,
       |  (2.0 * CAST(s AS DOUBLE)) / (CAST(k AS DOUBLE) * CAST(t AS DOUBLE))
       |    - (CAST(k AS DOUBLE) + 1.0) / CAST(k AS DOUBLE) AS gini
       |FROM a""".stripMargin

  /** Two-sided CUSUM change-point detection (Page 1954) per user over the
    * event value stream — the sequential drift detector a feed-quality
    * pipeline runs to catch a metric whose LEVEL shifted (a price change, a
    * broken sensor, a source gone stale), which trailing z-scores miss when
    * the shift is gradual: CUSUM accumulates small persistent deviations
    * until they cross a decision threshold.
    *
    * Arithmetic is EXACT BIGINT cents end-to-end. Per user: reference
    * `ref = Σcents DIV n` (integer division of non-negative cents — the
    * fixture's values are positive, asserted in StatsSpec), slack
    * `k = (ref·slackPct) DIV 100`, threshold `h = (ref·hPct) DIV 100`.
    * The textbook recurrence S⁺_t = max(0, S⁺_{t-1} + x_t − ref − k) is not
    * a window aggregate, but its closed form is: with cs_t the running sum
    * of (x_t − ref − k), S⁺_t = cs_t − min(0, min_{j≤t} cs_j) — a running
    * sum and a running min over the SAME ordered frame (and symmetrically
    * S⁻ over (ref − k − x_t)). Exactness makes the result independent of
    * partitioning and bit-reproducible by the oracle.
    *
    * Shape: ONE exchange — the unbounded per-user frame (ref) and both
    * ordered frames hash on user_id alone; per-partition state is O(1).
    * Emits only the alarm rows (S⁺ or S⁻ above h), each labeled with its
    * direction, so output tracks true change points, not the corpus. */
  def cusumChangepoints(events: DataFrame, slackPct: Long = 50L,
      hPct: Long = 400L): DataFrame = {
    require(slackPct >= 0L, s"slackPct must be >= 0, got $slackPct")
    require(hPct > 0L, s"hPct must be > 0, got $hPct")
    val e = events
      .filter(col("value").isNotNull && col("ts").isNotNull && col("user_id").isNotNull)
      .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("us"),
        (xDec(col("value")) * 100).cast("long").as("cents"))
    val all = Window.partitionBy("user_id")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val run = Window.partitionBy("user_id").orderBy(col("us"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    e.withColumn("sc", sum(col("cents")).over(all))
      .withColumn("nn", count(lit(1)).over(all))
      .withColumn("ref", expr("sc DIV nn"))
      .withColumn("k", expr(s"(ref * $slackPct) DIV 100"))
      .withColumn("h", expr(s"(ref * $hPct) DIV 100"))
      .withColumn("dp", col("cents") - col("ref") - col("k"))
      .withColumn("dn", col("ref") - col("k") - col("cents"))
      .withColumn("csp", sum(col("dp")).over(run))
      .withColumn("csn", sum(col("dn")).over(run))
      .withColumn("s_pos", col("csp") - least(lit(0L), min(col("csp")).over(run)))
      .withColumn("s_neg", col("csn") - least(lit(0L), min(col("csn")).over(run)))
      .filter(col("s_pos") > col("h") || col("s_neg") > col("h"))
      .select(col("event_id"), col("user_id"),
        col("s_pos").as("s_pos_cents"), col("s_neg").as("s_neg_cents"),
        when(col("s_pos") > col("h") && col("s_neg") > col("h"), "both")
          .when(col("s_pos") > col("h"), "up").otherwise("down").as("direction"))
  }

  def cusumChangepointsSqlDuck(slackPct: Long = 50L, hPct: Long = 400L): String =
    s"""WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS us,
       |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
       |  FROM events
       |  WHERE value IS NOT NULL AND ts IS NOT NULL AND user_id IS NOT NULL),
       | r AS (SELECT *,
       |    CAST(sum(cents) OVER (PARTITION BY user_id) AS BIGINT)
       |      // CAST(count(*) OVER (PARTITION BY user_id) AS BIGINT) AS ref
       |   FROM e),
       | d AS (SELECT *, (ref * $slackPct) // 100 AS k, (ref * $hPct) // 100 AS h,
       |    cents - ref - (ref * $slackPct) // 100 AS dp,
       |    ref - (ref * $slackPct) // 100 - cents AS dn
       |   FROM r),
       | c AS (SELECT *,
       |    CAST(sum(dp) OVER w AS BIGINT) AS csp,
       |    CAST(sum(dn) OVER w AS BIGINT) AS csn
       |   FROM d
       |   WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id
       |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
       | m AS (SELECT *,
       |    CAST(min(csp) OVER w AS BIGINT) AS mnp,
       |    CAST(min(csn) OVER w AS BIGINT) AS mnn
       |   FROM c
       |   WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id
       |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
       | s AS (SELECT *, csp - least(0, mnp) AS s_pos, csn - least(0, mnn) AS s_neg
       |   FROM m)
       |SELECT event_id, user_id, s_pos AS s_pos_cents, s_neg AS s_neg_cents,
       |  CASE WHEN s_pos > h AND s_neg > h THEN 'both'
       |       WHEN s_pos > h THEN 'up' ELSE 'down' END AS direction
       |FROM s WHERE s_pos > h OR s_neg > h
       |ORDER BY event_id""".stripMargin

  /** Chi-square independence audit of two categorical columns (Pearson
    * 1900) — "is language mix independent of source?" is the first
    * stratification question a corpus curator asks before mixing sources:
    * a large χ² flags sources whose language (or topic, or quality-bucket)
    * distribution diverges, i.e. where naive source-weighted sampling
    * shifts the corpus composition.
    *
    * Emits the full contingency table — one row per (a, b) cell of the
    * margin cross product, INCLUDING zero-observed cells (their expected
    * count still contributes to χ²) — with observed, expected = r·c/n,
    * the cell's (o−e)²/e contribution, and the total χ² replicated per
    * row. Counts are exact BIGINTs; expected/contrib are one fixed-order
    * double expression over them; the total sums FLOOR-quantized (1e-9
    * unit) contributions as exact BIGINTs, so it is exact and
    * partitioning-independent with no rounding-mode sensitivity.
    *
    * Shape: one map-side-combined count per margin + cells, then all joins
    * are on the tiny margin relations (broadcast by size); the unpartitioned
    * total window runs over |A|·|B| rows — already an aggregate, never the
    * corpus. */
  def chiSquareBalance(df: DataFrame, aCol: String, bCol: String): DataFrame = {
    val base = df.filter(col(aCol).isNotNull && col(bCol).isNotNull)
      .select(col(aCol).as("a"), col(bCol).as("b"))
    val cells = base.groupBy("a", "b").agg(count(lit(1)).as("o"))
    val ra = base.groupBy("a").agg(count(lit(1)).as("ra"))
    val cb = base.groupBy("b").agg(count(lit(1)).as("cb"))
    val n = base.agg(count(lit(1)).as("n"))
    val eCol = (col("ra") * col("cb")).cast("double") / col("n").cast("double")
    val full = ra.crossJoin(cb).crossJoin(broadcast(n))
      .join(cells, Seq("a", "b"), "left")
      .select(col("a"), col("b"), coalesce(col("o"), lit(0L)).as("observed"),
        eCol.as("expected"),
        ((coalesce(col("o"), lit(0L)).cast("double") - eCol) *
         (coalesce(col("o"), lit(0L)).cast("double") - eCol) / eCol).as("contrib"))
    // per-cell contributions floor-quantized to 1e-9 units before the
    // exact BIGINT total — floor is representation-insensitive where a
    // decimal CAST is not (see seasonality); bias ≤ |cells|·1e-9, pinned.
    // The total rides back as a 1-row broadcast (not a partition-less
    // window): the cell relation is an aggregate already, but the audit
    // shape stays the adjudicated crossJoin-of-1-row-aggregate
    val cellsFull = full.persist()
    val totAgg = cellsFull.agg(
      sum(floor(col("contrib") * lit(1000000000.0)).cast("long")).as("_nano"))
    cellsFull.crossJoin(broadcast(totAgg))
      .select(col("a").as(aCol), col("b").as(bCol), col("observed"),
        col("expected"), col("contrib"),
        (col("_nano").cast("double") / lit(1000000000.0)).as("chi2"))
  }

  def chiSquareBalanceSqlDuck(table: String, aCol: String, bCol: String): String =
    s"""WITH base AS (SELECT $aCol AS a, $bCol AS b FROM $table
       |   WHERE $aCol IS NOT NULL AND $bCol IS NOT NULL),
       | cells AS (SELECT a, b, CAST(count(*) AS BIGINT) AS o
       |   FROM base GROUP BY a, b),
       | ra AS (SELECT a, CAST(count(*) AS BIGINT) AS ra FROM base GROUP BY a),
       | cb AS (SELECT b, CAST(count(*) AS BIGINT) AS cb FROM base GROUP BY b),
       | n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM base),
       | full0 AS (SELECT ra.a, cb.b, coalesce(cells.o, 0) AS observed,
       |    CAST(ra.ra * cb.cb AS DOUBLE) / CAST(n.n AS DOUBLE) AS expected,
       |    (CAST(coalesce(cells.o, 0) AS DOUBLE)
       |       - CAST(ra.ra * cb.cb AS DOUBLE) / CAST(n.n AS DOUBLE)) *
       |    (CAST(coalesce(cells.o, 0) AS DOUBLE)
       |       - CAST(ra.ra * cb.cb AS DOUBLE) / CAST(n.n AS DOUBLE)) /
       |    (CAST(ra.ra * cb.cb AS DOUBLE) / CAST(n.n AS DOUBLE)) AS contrib
       |   FROM ra CROSS JOIN cb CROSS JOIN n
       |   LEFT JOIN cells ON cells.a = ra.a AND cells.b = cb.b)
       |SELECT a AS $aCol, b AS $bCol, observed, expected, contrib,
       |  CAST(sum(CAST(floor(contrib * 1000000000.0E0) AS BIGINT)) OVER ()
       |    AS DOUBLE) / 1000000000.0E0 AS chi2
       |FROM full0 ORDER BY $aCol, $bCol""".stripMargin

  /** Seasonal profile + variance-explained decomposition per event type:
    * the (day-of-week × hour) mean value grid, with R² = SS_between/SS_total
    * — how much of the metric's variance the weekly-diurnal profile alone
    * explains. The triage number behind "is this metric seasonal or noisy":
    * R² near 1 says a seasonal-naive baseline suffices; near 0 says the
    * profile is flat relative to within-cell spread.
    *
    * Calendar arithmetic is engine-independent INTEGER math on epoch-µs
    * (day 0 = Thursday, so dow = (days+4) mod 7 with Sunday=0; hour =
    * (us div 3600s) mod 24) — never an engine's locale-dependent
    * dayofweek(). Cell and total moments are exact decimal/BIGINT sums;
    * means and SS_total = Σx² − (Σx)²/n are fixed-order doubles over them;
    * SS_between floor-quantizes each cell's n·(mean_c − mean)² term to
    * 1e-6 BIGINT micro-units before the exact per-type sum (floor has no
    * rounding-mode ambiguity), so R² is partitioning-independent.
    *
    * Shape: one map-side-combined cell aggregation over the corpus, then
    * everything downstream operates on ≤ |types|·168 cell rows with the
    * per-type totals broadcast. */
  def seasonality(events: DataFrame, keyCol: String = "event_type"): DataFrame = {
    val e = events
      .filter(col("value").isNotNull && col("ts").isNotNull && col(keyCol).isNotNull)
      .select(col(keyCol).as("key"), unix_micros(col("ts")).as("us"),
        xDec(col("value")).as("x"))
      .withColumn("dow", expr("((us DIV 86400000000) + 4) % 7"))
      .withColumn("hour", expr("(us DIV 3600000000) % 24"))
    val cells = e.groupBy("key", "dow", "hour")
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"))
    val tot = e.groupBy("key").agg(count(lit(1)).as("nt"),
      sum(col("x")).as("sxt"), sum(col("x") * col("x")).as("sxxt"))
    val meanC = col("sx").cast("double") / col("n").cast("double")
    val meanT = col("sxt").cast("double") / col("nt").cast("double")
    val withTot = cells.join(broadcast(tot), "key")
    // each cell's n·(meanC − meanT)² term FLOOR-quantized to 1e-6 units
    // before the exact BIGINT sum: floor has no rounding-mode or
    // representation sensitivity (a decimal CAST rounds Spark's
    // shortest-repr string but DuckDB's exact binary — at term magnitudes
    // ~1e5 the scale-12 grid outresolves the double and the two roundings
    // diverge by an ulp; measured, not hypothetical). The ≤ 1e-6-per-cell
    // floor bias is pinned into the operator's semantics on both engines.
    val ssb = withTot
      .select(col("key"),
        floor(col("n").cast("double") * (meanC - meanT) * (meanC - meanT) *
          lit(1000000.0)).cast("long").as("term"))
      .groupBy("key").agg(sum(col("term")).as("ssb_micro"))
    val ssTot = col("sxxt").cast("double") -
      col("sxt").cast("double") * col("sxt").cast("double") / col("nt").cast("double")
    withTot
      .join(broadcast(ssb), "key")
      .select(col("key").as(keyCol), col("dow"), col("hour"), col("n"),
        meanC.as("cell_mean"),
        when(ssTot > 0.0,
          col("ssb_micro").cast("double") / lit(1000000.0) / ssTot)
          .as("r2_seasonal"))
  }

  def seasonalitySqlDuck(keyCol: String = "event_type"): String =
    s"""WITH e AS (SELECT $keyCol AS key, epoch_us(ts) AS us,
       |    CAST(value AS DECIMAL(18,2)) AS x
       |  FROM events
       |  WHERE value IS NOT NULL AND ts IS NOT NULL AND $keyCol IS NOT NULL),
       | d AS (SELECT key, ((us // 86400000000) + 4) % 7 AS dow,
       |    (us // 3600000000) % 24 AS hour, x FROM e),
       | cells AS (SELECT key, dow, hour, CAST(count(*) AS BIGINT) AS n,
       |    sum(x) AS sx FROM d GROUP BY key, dow, hour),
       | tot AS (SELECT key, CAST(count(*) AS BIGINT) AS nt, sum(x) AS sxt,
       |    sum(x * x) AS sxxt FROM d GROUP BY key),
       | ssb AS (SELECT cells.key,
       |    CAST(sum(CAST(floor(CAST(n AS DOUBLE) *
       |      (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)
       |        - CAST(sxt AS DOUBLE) / CAST(nt AS DOUBLE)) *
       |      (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)
       |        - CAST(sxt AS DOUBLE) / CAST(nt AS DOUBLE)) * 1000000.0E0)
       |      AS BIGINT)) AS BIGINT) AS ssb_micro
       |   FROM cells JOIN tot ON cells.key = tot.key GROUP BY cells.key)
       |SELECT cells.key AS $keyCol, dow, hour, n,
       |  CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS cell_mean,
       |  CASE WHEN CAST(sxxt AS DOUBLE)
       |      - CAST(sxt AS DOUBLE) * CAST(sxt AS DOUBLE) / CAST(nt AS DOUBLE) > 0.0E0
       |    THEN CAST(ssb_micro AS DOUBLE) / 1000000.0E0 / (CAST(sxxt AS DOUBLE)
       |      - CAST(sxt AS DOUBLE) * CAST(sxt AS DOUBLE) / CAST(nt AS DOUBLE))
       |    ELSE NULL END AS r2_seasonal
       |FROM cells JOIN tot ON cells.key = tot.key
       |JOIN ssb ON ssb.key = cells.key
       |ORDER BY $keyCol, dow, hour""".stripMargin

  /** Super-human event-rate detection — the abuse/bot gate a training
    * pipeline runs before user-generated events feed anything downstream:
    * per user, the active span (first→last event), total events, the
    * sustained rate in milli-events-per-minute (exact integer:
    * `n·60·10⁶·1000 DIV span_us`), and the peak BURST (max events inside
    * any sliding `burstUs` window, computed exactly by counting forward
    * neighbors in a RANGE frame — each event asks "how many events in my
    * next minute", the classic two-pointer bound as one window pass).
    * Flags users whose sustained rate or burst exceed the thresholds;
    * single-event users have no span and are never rate-flagged.
    *
    * Shape: one user_id exchange shared by the burst window and the
    * rollup; all arithmetic integer-exact. */
  def botRates(events: DataFrame, minEventsPerMinMilli: Long = 60000L,
      maxBurst: Long = 30L, burstUs: Long = 60000000L): DataFrame = {
    require(minEventsPerMinMilli > 0 && maxBurst > 0 && burstUs > 0)
    val e = events
      .filter(col("user_id").isNotNull && col("ts").isNotNull)
      .select(col("user_id"), unix_micros(col("ts")).as("us"), col("event_id"))
    val burstW = Window.partitionBy("user_id").orderBy("us")
      .rangeBetween(0L, burstUs - 1L)
    val per = e.withColumn("_burst", count(lit(1)).over(burstW))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_events"),
        (max(col("us")) - min(col("us"))).as("span_us"),
        max(col("_burst")).as("max_burst"))
      .withColumn("rate_milli",
        when(col("span_us") > 0,
          expr("(n_events * 60000000000) DIV span_us")))
    per
      .withColumn("flagged",
        (col("rate_milli").isNotNull &&
          col("rate_milli") >= minEventsPerMinMilli) ||
        col("max_burst") > maxBurst)
      .select(col("user_id"), col("n_events"), col("span_us"),
        col("rate_milli"), col("max_burst"), col("flagged"))
  }

  def botRatesSqlDuck(minEventsPerMinMilli: Long = 60000L,
      maxBurst: Long = 30L, burstUs: Long = 60000000L): String =
    s"""WITH e AS (SELECT user_id, epoch_us(ts) AS us, event_id FROM events
       |   WHERE user_id IS NOT NULL AND ts IS NOT NULL),
       | b AS (SELECT user_id, us,
       |    CAST(count(*) OVER (PARTITION BY user_id ORDER BY us
       |      RANGE BETWEEN CURRENT ROW AND ${burstUs - 1} FOLLOWING)
       |      AS BIGINT) AS burst
       |   FROM e),
       | per AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
       |    max(us) - min(us) AS span_us, max(burst) AS max_burst
       |   FROM b GROUP BY user_id),
       | r AS (SELECT *, CASE WHEN span_us > 0
       |      THEN (n_events * 60000000000) // span_us END AS rate_milli
       |   FROM per)
       |SELECT user_id, n_events, span_us, rate_milli, max_burst,
       |  (rate_milli IS NOT NULL AND rate_milli >= $minEventsPerMinMilli)
       |    OR max_burst > $maxBurst AS flagged
       |FROM r ORDER BY user_id""".stripMargin

  def profileColumnsSqlDuck(table: String, cols: Seq[String]): String =
    cols.map { c =>
      s"""SELECT '$c' AS col_name, CAST(count(*) AS BIGINT) AS n_rows,
         |  CAST(count($c) AS BIGINT) AS n_nonnull,
         |  CAST(count(DISTINCT $c) AS BIGINT) AS n_distinct,
         |  CAST(min($c) AS VARCHAR) AS vmin, CAST(max($c) AS VARCHAR) AS vmax
         |FROM $table""".stripMargin
    }.mkString("", "\nUNION ALL\n", "\nORDER BY col_name")

  /** [[keySkew]]'s oracle over the TOKEN stream of `documents` — the
    * vocabulary-inequality (Zipf witness) variant: Gini of token
    * frequencies, log-free. Engine side is keySkew over the exploded
    * token column; Σ pos·cnt is invariant to within-tie permutation, so
    * the loose tie order of the rank is immaterial (the keySkew
    * precedent). */
  def keySkewTokensSqlDuck: String =
    s"""WITH tk AS (SELECT unnest(${TextOps.tokensSqlDuck("text")}) AS tok
       |  FROM documents),
       | c AS (SELECT tok, CAST(count(*) AS BIGINT) AS cnt
       |   FROM tk WHERE tok IS NOT NULL GROUP BY tok),
       | r AS (SELECT cnt, row_number() OVER (ORDER BY cnt, tok) AS pos
       |   FROM c),
       | a AS (SELECT CAST(sum(pos * cnt) AS BIGINT) AS s,
       |   CAST(count(*) AS BIGINT) AS k, CAST(sum(cnt) AS BIGINT) AS t,
       |   max(cnt) AS top_cnt FROM r)
       |SELECT t AS n_rows, k AS n_keys, top_cnt,
       |  CAST(top_cnt AS DOUBLE) / CAST(t AS DOUBLE) AS top_share,
       |  (2.0 * CAST(s AS DOUBLE)) / (CAST(k AS DOUBLE) * CAST(t AS DOUBLE))
       |    - (CAST(k AS DOUBLE) + 1.0) / CAST(k AS DOUBLE) AS gini
       |FROM a""".stripMargin

  /** Fano factor (index of dispersion) of each user's hourly event counts
    * over the corpus's full hour span — the burstiness statistic: 1 ≈
    * Poisson (memoryless automation), ≫ 1 bursty human sessions, ≪ 1
    * metronomic bots. Complements [[botRates]] (which thresholds rate and
    * peak burst; Fano measures the SHAPE of the arrival process).
    *
    * F = Var(x)/E[x] over the span's hours including empty ones, which
    * reduces to exact integer moments: with s = Σ counts, q = Σ counts²
    * over ACTIVE hours (empty hours add 0 to both) and H = span hours,
    * F = (q·H − s²) / (s·(H−1)) using the unbiased variance — computed by
    * cross-multiplied BIGINTs and ONE final double division chain, the
    * repo's exact-moment idiom (q ≤ s·max_count keeps everything inside
    * BIGINT for any per-user volume under ~3·10⁹ events/hour).
    *
    * Shape: one (user, hour) rollup (map-side combinable), one user rollup,
    * a broadcast 1-row span — single exchange end to end. */
  def fanoFactor(events: DataFrame): DataFrame = {
    val hourUs = 3600000000L
    val e = events.filter(col("user_id").isNotNull && col("ts").isNotNull)
      .select(col("user_id"), expr(s"unix_micros(ts) DIV $hourUs").as("h"))
    val span = e.agg((max(col("h")) - min(col("h")) + 1L).as("span_h"))
    val perHour = e.groupBy("user_id", "h").agg(count(lit(1)).as("c"))
    perHour.groupBy("user_id")
      .agg(count(lit(1)).as("active_hours"), sum(col("c")).as("s"),
        sum(col("c") * col("c")).as("q"))
      .crossJoin(broadcast(span))
      .select(col("user_id"), col("active_hours"), col("s").as("n_events"),
        col("span_h"),
        // span_h = 1 (whole corpus in one hour) makes the denominator 0:
        // Spark's non-ANSI Divide yields NULL, DuckDB's IEEE double division
        // yields Inf/NaN — pin both engines to NULL (the funnelRates guard)
        when(col("span_h") > 1L,
          (col("q") * col("span_h") - col("s") * col("s")).cast("double") /
            (col("s") * (col("span_h") - 1L)).cast("double")).as("fano"))
  }

  /** Oracle twin of [[fanoFactor]] — identical integer moments. */
  def fanoFactorSqlDuck: String =
    """WITH e AS (SELECT user_id, epoch_us(ts) // 3600000000 AS h
      |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
      | sp AS (SELECT max(h) - min(h) + 1 AS span_h FROM e),
      | ph AS (SELECT user_id, h, CAST(count(*) AS BIGINT) AS c
      |   FROM e GROUP BY user_id, h),
      | u AS (SELECT user_id, CAST(count(*) AS BIGINT) AS active_hours,
      |    CAST(sum(c) AS BIGINT) AS s, CAST(sum(c * c) AS BIGINT) AS q
      |   FROM ph GROUP BY user_id)
      |SELECT user_id, active_hours, s AS n_events, sp.span_h,
      |  CASE WHEN sp.span_h > 1 THEN
      |    CAST(q * sp.span_h - s * s AS DOUBLE)
      |      / CAST(s * (sp.span_h - 1) AS DOUBLE) END AS fano
      |FROM u CROSS JOIN sp ORDER BY user_id""".stripMargin
}
