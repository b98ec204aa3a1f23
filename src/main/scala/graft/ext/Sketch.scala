package graft.ext

import org.apache.spark.sql.{Column, DataFrame, Encoder}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/** K-minimum-values (KMV) distinct-count sketch (Bar-Yossef et al. 2002,
  * "Counting distinct elements in a data stream").
  *
  * Unlike HLL (Spark's `approx_count_distinct`), whose register layout is
  * implementation-specific and therefore un-checkable across engines, KMV is
  * DETERMINISTIC given the hash function: the estimate depends only on the
  * k lexicographically smallest distinct md5 values, which DuckDB computes
  * identically — so the sketch itself is oracle-checked bit-for-bit, not
  * just smoke-tested. Estimator: with the k-th smallest of n uniform hashes
  * at fraction v_k of the hash space, E[v_k] ≈ k/n, so n̂ = (k-1)/v_k (the
  * unbiased form).
  *
  * Distributed shape: a bounded [[Aggregator]] whose state is the ≤k
  * smallest distinct hashes seen by a partition — partial states are k-item
  * arrays, so the reduction ships O(k) per map task regardless of input
  * size; no global distinct/shuffle of the full key set ever happens. This
  * is exactly how you'd sketch 100 TB: one narrow pass, one k-sized state
  * per partition.
  */
object Sketch {

  /** Bounded k-minimum-distinct-values aggregate: buffer = the ≤k smallest
    * DISTINCT inputs, kept sorted ascending. */
  class MinKDistinct(k: Int) extends Aggregator[String, Seq[String], Seq[String]] {
    require(k > 0)
    override def zero: Seq[String] = Seq.empty
    override def reduce(buf: Seq[String], in: String): Seq[String] = {
      // fast reject: full buffer and the candidate loses to the current max
      if (in == null || (buf.size >= k && in >= buf.last)) buf
      else if (buf.contains(in)) buf
      else ((in +: buf).sorted).take(k)
    }
    override def merge(a: Seq[String], b: Seq[String]): Seq[String] =
      (a ++ b).distinct.sorted.take(k)
    override def finish(buf: Seq[String]): Seq[String] = buf
    override def bufferEncoder: Encoder[Seq[String]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[String]]()
    override def outputEncoder: Encoder[Seq[String]] = bufferEncoder
  }

  def minKDistinct(k: Int): org.apache.spark.sql.expressions.UserDefinedFunction =
    udaf(new MinKDistinct(k), org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[String]())

  /** Map a lowercase md5 hex string to its position in [0,1): the first 8
    * hex digits as a 32-bit integer over 2^32. Exact in a double (32-bit
    * value, 53-bit mantissa); DuckDB mirrors it as
    * `('0x' || substring(h,1,8))::UBIGINT / 4294967296.0`. */
  private def hashFraction(h: Column): Column =
    conv(substring(h, 1, 8), 16, 10).cast("double") / lit(4294967296.0)

  /** One-row KMV distinct-count estimate of `key` over `df`, alongside the
    * exact count for the differential check. Columns:
    * k BIGINT, kth_hash STRING, est_distinct DOUBLE, exact_distinct BIGINT.
    *
    * The two aggregates are computed in SEPARATE passes joined at the end,
    * deliberately: combining a distinct aggregate with the sketch in one
    * `agg` makes Spark plan the expand/distinct path — hash-shuffling the
    * ENTIRE distinct key set, which is exactly what the sketch exists to
    * avoid. Alone, the sketch plan is partial_minkdistinct per partition →
    * one k-sized state per task → SinglePartition merge: O(k) shuffled
    * bytes per task regardless of input size. (The exact count is the
    * demo/differential side; a production sketch would drop it.) */
  /** Grouped KMV: one estimate row per group — the Aggregator runs in
    * grouped mode, so partial states are (group, ≤k hashes) pairs and the
    * shuffle carries O(k) per group per map task (vs the full per-group key
    * sets a grouped exact distinct moves). Groups with fewer than k
    * distinct keys report null kth_hash/estimate (k-th order statistic
    * undefined); the oracle mirrors this with a count guard. */
  def kmvDistinctBy(df: DataFrame, group: String, key: Column, k: Int): DataFrame = {
    val hashed = df.select(col(group), md5(key.cast("string")).as("h"))
    val sk = hashed.groupBy(group).agg(minKDistinct(k)(col("h")).as("mins"))
    val ex = hashed.groupBy(group).agg(countDistinct(col("h")).as("exact_distinct"))
    sk.join(ex, Seq(group))
      .select(col(group), lit(k.toLong).as("k"),
        element_at(col("mins"), k).as("kth_hash"),
        (lit((k - 1).toDouble) /
          hashFraction(element_at(col("mins"), k))).as("est_distinct"),
        col("exact_distinct").cast("long").as("exact_distinct"))
  }

  def kmvDistinct(df: DataFrame, key: Column, k: Int): DataFrame = {
    val hashed = df.select(md5(key.cast("string")).as("h"))
    val sk = hashed.agg(minKDistinct(k)(col("h")).as("mins"))
    val ex = hashed.agg(countDistinct(col("h")).as("exact_distinct"))
    sk.crossJoin(ex)
      .select(
        lit(k.toLong).as("k"),
        element_at(col("mins"), k).as("kth_hash"),
        (lit((k - 1).toDouble) /
          hashFraction(element_at(col("mins"), k))).as("est_distinct"),
        col("exact_distinct").cast("long").as("exact_distinct"))
  }

  /** KMV corpus-overlap (Jaccard) estimate between two keyed sets — the
    * corpus-pair triage for dataset contamination: "how much does corpus B
    * share with corpus A" answered from two k-sized sketches instead of a
    * full cross-corpus join. Estimator (Beyer et al. 2007 §5): with
    * KA/KB the k smallest distinct hashes of each side and M the k
    * smallest of KA ∪ KB, Ĵ = |{h ∈ M : h ∈ KA ∩ KB}| / |M| — M is a
    * uniform sample of the union, so the hit fraction estimates the
    * resemblance, with RSE ≈ √(J(1−J)/k).
    *
    * Deterministic given md5 (same winners on any engine/partitioning), so
    * the ESTIMATE is oracle-checked bit-for-bit — the exact Jaccard rides
    * along as the differential check, mirroring [[kmvDistinct]]. The
    * sketches are one bounded-Aggregator pass per side (O(k) partial
    * states); only the exactness columns touch a full distinct. */
  def kmvJaccard(a: DataFrame, aKey: Column, b: DataFrame, bKey: Column,
      k: Int): DataFrame = {
    require(k > 0, "k must be positive")
    val ha = a.select(md5(aKey.cast("string")).as("h"))
    val hb = b.select(md5(bKey.cast("string")).as("h"))
    val ska = ha.agg(minKDistinct(k)(col("h")).as("ka"))
    val skb = hb.agg(minKDistinct(k)(col("h")).as("kb"))
    val ex = ha.distinct().withColumn("_ina", lit(1))
      .join(hb.distinct().withColumn("_inb", lit(1)), Seq("h"), "full_outer")
      .agg(count(lit(1)).as("exact_union"),
        sum(when(col("_ina").isNotNull && col("_inb").isNotNull, 1L).otherwise(0L))
          .as("exact_inter"))
    ska.crossJoin(skb).crossJoin(ex)
      .withColumn("m", expr(s"slice(array_sort(array_union(ka, kb)), 1, $k)"))
      .withColumn("hits",
        expr("size(filter(m, h -> array_contains(ka, h) AND array_contains(kb, h)))"))
      .select(lit(k.toLong).as("k"),
        size(col("m")).cast("long").as("k_merged"),
        col("hits").cast("long").as("j_hits"),
        // both-sketches-empty guard: k_merged=0 gives NULL on both engines
        // instead of DuckDB's IEEE NaN (mirrored in the Duck oracle)
        when(size(col("m")) > 0,
          col("hits").cast("double") / size(col("m")).cast("double"))
          .as("jaccard_est"),
        when(col("exact_union") > 0,
          col("exact_inter").cast("double") / col("exact_union").cast("double"))
          .as("jaccard_exact"))
  }

  /** DuckDB oracle for [[kmvJaccard]] over w-shingle sets of two document
    * sources — the same k-minima, merged-sample, and hit-fraction
    * arithmetic (and the same exact-side distinct joins). */
  def kmvJaccardShinglesSqlDuck(srcA: String, srcB: String, w: Int, k: Int): String =
    s"""WITH ha AS (SELECT DISTINCT md5(s) AS h
       |   FROM (${TextOps.shingleCtesDuck(w, s"WHERE source = '$srcA'")})
       |   WHERE s IS NOT NULL),
       | hb AS (SELECT DISTINCT md5(s) AS h
       |   FROM (${TextOps.shingleCtesDuck(w, s"WHERE source = '$srcB'")})
       |   WHERE s IS NOT NULL),
       | ka AS (SELECT h FROM ha ORDER BY h LIMIT $k),
       | kb AS (SELECT h FROM hb ORDER BY h LIMIT $k),
       | m AS (SELECT h FROM (SELECT h FROM ka UNION SELECT h FROM kb)
       |       ORDER BY h LIMIT $k),
       | hits AS (SELECT CAST(count(*) AS BIGINT) AS j_hits FROM m
       |          WHERE h IN (SELECT h FROM ka) AND h IN (SELECT h FROM kb)),
       | kp AS (SELECT CAST(count(*) AS BIGINT) AS k_merged FROM m),
       | ex AS (SELECT
       |   CAST((SELECT count(*) FROM ha WHERE h IN (SELECT h FROM hb)) AS BIGINT) AS exact_inter,
       |   CAST((SELECT count(*) FROM (SELECT h FROM ha UNION SELECT h FROM hb)) AS BIGINT) AS exact_union)
       |SELECT CAST($k AS BIGINT) AS k, k_merged, j_hits,
       |  CASE WHEN k_merged > 0
       |    THEN CAST(j_hits AS DOUBLE) / CAST(k_merged AS DOUBLE) END AS jaccard_est,
       |  CASE WHEN exact_union > 0
       |    THEN CAST(exact_inter AS DOUBLE) / CAST(exact_union AS DOUBLE) END AS jaccard_exact
       |FROM kp, hits, ex""".stripMargin

  /** KMV set-DIFFERENCE estimate (the DataSketches "aNotB" operation,
    * Beyer et al. 2007 estimator family): from the two k-minima sketches
    * alone, estimate |A\B| and |B\A| — the "how much of corpus A is NOT
    * already in corpus B" triage that prices an incremental ingest before
    * any full join runs. With M the k smallest of KA ∪ KB, the fraction of
    * M seen only in KA estimates |A\B|/|A∪B|, and |A∪B| comes from the
    * merged sketch's k-th minimum ((k−1)/frac(M_k)); when the merged
    * sketch holds the WHOLE union (k_merged < k) the counts are exact by
    * construction — one formula covers both regimes. Exact differences
    * computed alongside as the differential check (the [[kmvJaccard]]
    * convention: the estimate itself is what the oracle verifies).
    *
    * Scale: both inputs reduce map-side to k-sized sketches; the only
    * full-data work is the two hash projections (and the deliberate exact
    * twin, which production would drop). */
  def kmvDifference(a: DataFrame, aKey: Column, b: DataFrame, bKey: Column,
      k: Int): DataFrame = {
    require(k > 1, "k must be > 1")
    val ha = a.select(md5(aKey.cast("string")).as("h"))
    val hb = b.select(md5(bKey.cast("string")).as("h"))
    val ska = ha.agg(minKDistinct(k)(col("h")).as("ka"))
    val skb = hb.agg(minKDistinct(k)(col("h")).as("kb"))
    val ex = ha.distinct().withColumn("_ina", lit(1))
      .join(hb.distinct().withColumn("_inb", lit(1)), Seq("h"), "full_outer")
      .agg(
        // coalesce: on empty inputs sum() is NULL while the DuckDB oracle's
        // count(*) subqueries return 0 — pin the degenerate case to 0L
        coalesce(sum(when(col("_ina").isNotNull && col("_inb").isNull, 1L)
          .otherwise(0L)), lit(0L)).as("exact_a_not_b"),
        coalesce(sum(when(col("_inb").isNotNull && col("_ina").isNull, 1L)
          .otherwise(0L)), lit(0L)).as("exact_b_not_a"))
    ska.crossJoin(skb).crossJoin(ex)
      .withColumn("m", expr(s"slice(array_sort(array_union(ka, kb)), 1, $k)"))
      .withColumn("a_only", expr(
        "size(filter(m, h -> array_contains(ka, h) AND NOT array_contains(kb, h)))")
        .cast("long"))
      .withColumn("b_only", expr(
        "size(filter(m, h -> array_contains(kb, h) AND NOT array_contains(ka, h)))")
        .cast("long"))
      .withColumn("union_est",
        when(size(col("m")) < k, size(col("m")).cast("double"))
          .otherwise(lit((k - 1).toDouble) /
            hashFraction(element_at(col("m"), k))))
      .select(lit(k.toLong).as("k"),
        size(col("m")).cast("long").as("k_merged"),
        col("a_only").as("a_only_hits"), col("b_only").as("b_only_hits"),
        when(size(col("m")) > 0, col("union_est") * col("a_only").cast("double")
          / size(col("m")).cast("double")).as("est_a_not_b"),
        when(size(col("m")) > 0, col("union_est") * col("b_only").cast("double")
          / size(col("m")).cast("double")).as("est_b_not_a"),
        col("exact_a_not_b").cast("long").as("exact_a_not_b"),
        col("exact_b_not_a").cast("long").as("exact_b_not_a"))
  }

  /** DuckDB oracle for [[kmvDifference]] over w-shingle sets of two
    * sources — identical k-minima, merged-sample, and estimator
    * arithmetic. */
  def kmvDifferenceShinglesSqlDuck(srcA: String, srcB: String, w: Int,
      k: Int): String =
    s"""WITH ha AS (SELECT DISTINCT md5(s) AS h
       |   FROM (${TextOps.shingleCtesDuck(w, s"WHERE source = '$srcA'")})
       |   WHERE s IS NOT NULL),
       | hb AS (SELECT DISTINCT md5(s) AS h
       |   FROM (${TextOps.shingleCtesDuck(w, s"WHERE source = '$srcB'")})
       |   WHERE s IS NOT NULL),
       | ka AS (SELECT h FROM ha ORDER BY h LIMIT $k),
       | kb AS (SELECT h FROM hb ORDER BY h LIMIT $k),
       | m AS (SELECT h FROM (SELECT h FROM ka UNION SELECT h FROM kb)
       |       ORDER BY h LIMIT $k),
       | kp AS (SELECT CAST(count(*) AS BIGINT) AS k_merged,
       |        max(h) AS kth FROM m),
       | ao AS (SELECT CAST(count(*) AS BIGINT) AS a_only FROM m
       |        WHERE h IN (SELECT h FROM ka) AND h NOT IN (SELECT h FROM kb)),
       | bo AS (SELECT CAST(count(*) AS BIGINT) AS b_only FROM m
       |        WHERE h IN (SELECT h FROM kb) AND h NOT IN (SELECT h FROM ka)),
       | ue AS (SELECT CASE WHEN kp.k_merged < $k THEN CAST(kp.k_merged AS DOUBLE)
       |        ELSE ${(k - 1).toDouble} /
       |          (('0x' || substring(kp.kth, 1, 8))::UBIGINT / 4294967296.0)
       |        END AS union_est FROM kp),
       | ex AS (SELECT
       |   CAST((SELECT count(*) FROM ha
       |         WHERE h NOT IN (SELECT h FROM hb)) AS BIGINT) AS exact_a_not_b,
       |   CAST((SELECT count(*) FROM hb
       |         WHERE h NOT IN (SELECT h FROM ha)) AS BIGINT) AS exact_b_not_a)
       |SELECT CAST($k AS BIGINT) AS k, kp.k_merged,
       |  ao.a_only AS a_only_hits, bo.b_only AS b_only_hits,
       |  CASE WHEN kp.k_merged > 0 THEN
       |    ue.union_est * CAST(ao.a_only AS DOUBLE) / CAST(kp.k_merged AS DOUBLE)
       |  END AS est_a_not_b,
       |  CASE WHEN kp.k_merged > 0 THEN
       |    ue.union_est * CAST(bo.b_only AS DOUBLE) / CAST(kp.k_merged AS DOUBLE)
       |  END AS est_b_not_a,
       |  ex.exact_a_not_b, ex.exact_b_not_a
       |FROM kp, ao, bo, ue, ex""".stripMargin

  /** Deterministic sample quantiles: the k rows with the smallest
    * `md5(key)` form a uniform, REPRODUCIBLE sample of the population (same
    * winners on any partitioning, any cluster, any engine — no RNG in the
    * plan), and the quantiles are then EXACT interpolated order statistics
    * of that sample. Unlike t-digest/KLL — whose merge state is
    * implementation-defined and so un-checkable across engines — the whole
    * estimate is deterministic given md5, so the oracle checks it
    * bit-for-bit; sampling error (±O(1/√k)) is the only approximation.
    *
    * Distributed shape: `orderBy(hash).limit(k)` plans as
    * TakeOrderedAndProject — every task keeps its local k rows, the driver
    * merges task winners — O(k) state per task, no global sort. The same
    * bounded-state single-pass shape as [[MinKDistinct]]: this is how you
    * take a trustworthy quantile profile of 100 TB in one narrow pass. */
  def sampleQuantiles(df: DataFrame, valueCol: String, key: Column, k: Int,
      probs: Seq[Double] = Seq(0.25, 0.5, 0.75, 0.9)): DataFrame = {
    require(k > 0 && probs.nonEmpty, "k and probs must be positive/nonempty")
    val qs = probs.map(p => expr(s"percentile(_v, $p)").as(s"q${math.round(p * 100)}"))
    // value-secondary sort: a non-unique key duplicates _h, and a
    // hash-only order would then pick tie members nondeterministically
    df.select(md5(key.cast("string")).as("_h"), col(valueCol).cast("double").as("_v"))
      .orderBy("_h", "_v")
      .limit(k)
      .agg(count(lit(1)).cast("long").as("sample_n"), qs: _*)
  }

  /** EXACT type-1 quantile by distributed selection — the 100 TB-safe exact
    * path. Spark's built-in exact `percentile` is an ObjectHashAggregate
    * that buffers EVERY value in one aggregator's memory: fine at fixture
    * scale, dead at corpus scale. Selection instead bisects the VALUE
    * domain: each round is one narrow aggregation computing, for the
    * midpoint m, (count ≤ m, max value ≤ m, min value > m), and the
    * bracket [lo, hi] — always actual dataset values — halves until it
    * pins THE answer: the smallest value v with at least ⌈p·n⌉ values ≤ v.
    * Doubles bisect in ≤ ~64 rounds regardless of row count, so the whole
    * thing is O(log range) scans with O(1) state — no sort, no shuffle, no
    * driver collection. (Inherently iterative, like the CC and Lloyd
    * operators: jobs run at call time, not plan time.)
    *
    * Returns (prob, n, value) per requested probability. Empty input → one
    * row per prob with n = 0 and null value. */
  def exactQuantileDisc(df: DataFrame, valueCol: String,
      probs: Seq[Double] = Seq(0.5, 0.9)): DataFrame = {
    require(probs.nonEmpty && probs.forall(p => p > 0 && p <= 1),
      "probs must be in (0, 1]")
    val spark = df.sparkSession
    import spark.implicits._
    // the loop re-aggregates the same single-column projection ~log(range)
    // times — persist it for the duration (released via CacheRegistry, the
    // library's standard lifecycle for operator-internal caches)
    val vals = graft.etl.CacheRegistry.persist(
      df.select(col(valueCol).cast("double").as("_v")).filter(col("_v").isNotNull))
    // the head aggregation also carries a GK quantile sketch probed at
    // p ± 2ε per requested probability: its rank guarantee (±εn) makes
    // [approx(p−2ε), approx(p+2ε)] a PROVABLE bracket for the answer, so
    // round 1 collapses the bracket from the full value range to a
    // ~4εn-rank neighborhood at zero extra jobs (same partial-aggregating
    // pass that computes count/min/max)
    val head = vals.agg(count(lit(1)), min("_v"), max("_v"),
      percentile_approx(col("_v"), lit(seedPcts(probs)), lit(SeedAccuracy))).head()
    val n = head.getLong(0)
    val out: Seq[(Double, Long, Option[Double])] =
      if (n == 0L) probs.map(p => (p, 0L, None))
      else if (n <= SeedSampleK) {
        // the whole column fits in the small-input cutoff: one TakeOrdered
        // job IS the exact answer (the target-th smallest value) — no
        // bisection rounds at all
        val all = vals.orderBy("_v").collect().map(_.getDouble(0))
        probs.map { p =>
          (p, n, Some(all((math.ceil(p * n).toLong.max(1L) - 1L).toInt)))
        }
      }
      else {
        // all probabilities narrow in LOCKSTEP: one aggregation per round
        // carries every still-open bracket's terms, so the job count is
        // max-rounds, not probs × rounds. Each bracket probes up to THREE
        // interior points per round (quaternary search): the value range
        // shrinks 4× per job instead of 2×, halving the round count for
        // the same total scan shape (a few more conditional aggregates in
        // the one pass — map-side work, not an extra job).
        val target = probs.map(p => math.ceil(p * n).toLong.max(1L))
        val lo = Array.fill(probs.size)(head.getDouble(1))
        val hi = Array.fill(probs.size)(head.getDouble(2))
        // round-1 probes from the head sketch (see above). Seeds never
        // decide the RESULT — only which count-passes run; a degenerate
        // seed just falls back to quaternary probing and the answer stays
        // exact either way.
        val seeds = head.getSeq[Double](3)
        def seedProbes(i: Int): IndexedSeq[Double] =
          IndexedSeq(seeds(2 * i), seeds(2 * i + 1))
            .filter(p => p >= lo(i) && p < hi(i)).distinct.sorted
        var round = 0
        var open = probs.indices.filter(i => lo(i) < hi(i))
        while (open.nonEmpty) {
          val probePts: Map[Int, IndexedSeq[Double]] = open.map { i =>
            val seeds = if (round == 0) seedProbes(i) else IndexedSeq.empty[Double]
            i -> (if (seeds.nonEmpty) seeds else quaternaryProbes(lo(i), hi(i)))
          }.toMap
          // layout: for bracket i, probes p1<..<pk contribute 3k columns
          val offsets = open.scanLeft(0)((acc, i) => acc + 3 * probePts(i).size)
          val aggs = open.flatMap { i =>
            probePts(i).flatMap(p =>
              Seq(sum(when(col("_v") <= p, 1L).otherwise(0L)),
                max(when(col("_v") <= p, col("_v"))),
                min(when(col("_v") > p, col("_v")))))
          }
          val r = vals.agg(aggs.head, aggs.tail: _*).head()
          open.zip(offsets).foreach { case (i, off) =>
            val ps = probePts(i)
            def cnt(j: Int) = if (r.isNullAt(off + 3 * j)) 0L else r.getLong(off + 3 * j)
            ps.indices.find(j => cnt(j) >= target(i)) match {
              case Some(j) => // answer ≤ p_j (and > p_{j-1} if any)
                hi(i) = r.getDouble(off + 3 * j + 1)
                if (j > 0) lo(i) = r.getDouble(off + 3 * (j - 1) + 2)
              case None => // answer > every probe
                lo(i) = r.getDouble(off + 3 * (ps.size - 1) + 2)
            }
          }
          open = open.filter(i => lo(i) < hi(i))
          round += 1
        }
        probs.zipWithIndex.map { case (p, i) => (p, n, Some(lo(i))) }
      }
    out.toDF("prob", "n", "value")
  }

  /** Small-input cutoff for the exact-quantile family: a column (or group)
    * with at most this many values is answered exactly from one bounded
    * TakeOrdered job instead of bisection rounds. 4096 doubles per
    * (group ×) collect — driver-bounded. */
  private val SeedSampleK = 4096

  /** GK-sketch accuracy for the bracket-seeding probes: relative rank
    * error 1/SeedAccuracy, so the round-1 bracket spans ~4n/SeedAccuracy
    * ranks instead of the full value range. */
  private val SeedAccuracy = 10000

  /** Probe percentiles for the seed sketch: p ± 2ε per requested
    * probability (ε = 1/SeedAccuracy), clamped into (0, 1]. The ±2ε
    * margin plus the sketch's ±εn rank guarantee makes the returned pair
    * a provable bracket for the type-1 quantile at p. */
  private def seedPcts(probs: Seq[Double]): Array[Double] =
    probs.flatMap { p =>
      val eps = 2.0 / SeedAccuracy
      Seq((p - eps).max(1e-9), (p + eps).min(1.0))
    }.toArray

  /** Up to three strictly-increasing probe points in [lo, hi) splitting the
    * bracket in quarters. Midpoint arithmetic can round onto hi when lo/hi
    * are adjacent doubles — such points clamp away and the dedup below can
    * shrink the list down to the single probe `lo`, which reproduces the
    * binary version's adjacent-double guard (probe lo; either side of the
    * verdict closes the bracket). Always nonempty for lo < hi. */
  private def quaternaryProbes(lo: Double, hi: Double): IndexedSeq[Double] = {
    val q2 = { val m = lo / 2 + hi / 2; if (m >= hi) lo else m }
    val q1 = { val m = lo / 2 + q2 / 2; if (m >= hi) lo else m }
    val q3 = { val m = q2 / 2 + hi / 2; if (m >= hi) q2 else m }
    IndexedSeq(q1, q2, q3).filter(p => p >= lo && p < hi).distinct.sorted
  }

  /** Per-group [[exactQuantileDisc]]: every (group, probability) bracket
    * bisects in LOCKSTEP — one aggregation per round carries all still-open
    * brackets' conditional terms, so the job count stays max-rounds (the
    * widest group's value range), never groups × probs × rounds. State is
    * O(groups · probs) driver scalars.
    *
    * Contract: the group-key domain must be driver-small (an enum-like
    * column — event types, languages, shards); each open bracket adds three
    * conditional aggregates per round. ENFORCED at `maxGroups` (default
    * 10 000 — already 20 000+ conditional aggregates per round at two
    * probs): beyond that the driver state and the aggregate expression list
    * both stop being "bounded scalars", so the call fails fast with a
    * pointer at [[sampleQuantilesByGroup]] (bounded sample, one pass)
    * instead of silently degrading into a driver-memory hazard at 100 TB
    * key cardinalities. */
  def exactQuantileDiscByGroup(df: DataFrame, group: String, valueCol: String,
      probs: Seq[Double] = Seq(0.5, 0.9), maxGroups: Int = 10000): DataFrame = {
    require(probs.nonEmpty && probs.forall(p => p > 0 && p <= 1),
      "probs must be in (0, 1]")
    val spark = df.sparkSession
    import spark.implicits._
    val vals = graft.etl.CacheRegistry.persist(
      df.select(col(group).cast("string").as("_g"),
        col(valueCol).cast("double").as("_v")).filter(col("_v").isNotNull))
    // per-group head aggregation also carries the GK seed sketch probed at
    // p ± 2ε — provable round-1 brackets for every (group, prob) at zero
    // extra jobs (see [[exactQuantileDisc]]). The cardinality guard rides
    // the SAME job (r17): limit(maxGroups+1) bounds the driver pull to the
    // guard threshold regardless of key cardinality — a high-cardinality
    // key trips the require below without ever pulling an unbounded head
    // array — replacing the separate distinct-count pass the guard used
    // to run first.
    val headRows = vals.groupBy("_g").agg(count(lit(1)), min("_v"), max("_v"),
        percentile_approx(col("_v"), lit(seedPcts(probs)), lit(SeedAccuracy)))
      .limit(maxGroups + 1).collect()
    require(headRows.length <= maxGroups,
      s"exactQuantileDiscByGroup: over $maxGroups distinct '$group' values " +
        "(driver state is O(groups·probs) and each round's aggregate " +
        "carries 3 conditionals per open bracket) — use " +
        "sampleQuantilesByGroup for high-cardinality keys")
    val heads = headRows.map(r => r.getString(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getSeq[Double](4)))
      .sortBy(_._1)
    // bracket state per (group, prob), keyed by flat index
    val gs = heads.map(_._1)
    val n = heads.map(_._2._1)
    val target = Array.tabulate(gs.length, probs.length)((gi, pi) =>
      math.ceil(probs(pi) * n(gi)).toLong.max(1L))
    val lo = Array.tabulate(gs.length, probs.length)((gi, _) => heads(gi)._2._2)
    val hi = Array.tabulate(gs.length, probs.length)((gi, _) => heads(gi)._2._3)
    def seedProbes(gi: Int, pi: Int): IndexedSeq[Double] = {
      val s = heads(gi)._2._4
      IndexedSeq(s(2 * pi), s(2 * pi + 1))
        .filter(p => p >= lo(gi)(pi) && p < hi(gi)(pi)).distinct.sorted
    }
    var round = 0
    var open = (for (gi <- gs.indices; pi <- probs.indices
      if lo(gi)(pi) < hi(gi)(pi)) yield (gi, pi)).toSeq
    while (open.nonEmpty) {
      // quaternary probes per bracket, as in [[exactQuantileDisc]]
      val probePts = open.map { case (gi, pi) =>
        val seeds = if (round == 0) seedProbes(gi, pi) else IndexedSeq.empty[Double]
        (gi, pi) -> (if (seeds.nonEmpty) seeds
                     else quaternaryProbes(lo(gi)(pi), hi(gi)(pi)))
      }.toMap
      val offsets = open.scanLeft(0)((acc, k) => acc + 3 * probePts(k).size)
      val aggs = open.flatMap { case (gi, pi) =>
        probePts((gi, pi)).flatMap { p =>
          val in = col("_g") === gs(gi) && col("_v") <= p
          Seq(sum(when(in, 1L).otherwise(0L)),
            max(when(in, col("_v"))),
            min(when(col("_g") === gs(gi) && col("_v") > p, col("_v"))))
        }
      }
      val r = vals.agg(aggs.head, aggs.tail: _*).head()
      open.zip(offsets).foreach { case ((gi, pi), off) =>
        val ps = probePts((gi, pi))
        def cnt(j: Int) = if (r.isNullAt(off + 3 * j)) 0L else r.getLong(off + 3 * j)
        ps.indices.find(j => cnt(j) >= target(gi)(pi)) match {
          case Some(j) =>
            hi(gi)(pi) = r.getDouble(off + 3 * j + 1)
            if (j > 0) lo(gi)(pi) = r.getDouble(off + 3 * (j - 1) + 2)
          case None =>
            lo(gi)(pi) = r.getDouble(off + 3 * (ps.size - 1) + 2)
        }
      }
      open = open.filter { case (gi, pi) => lo(gi)(pi) < hi(gi)(pi) }
      round += 1
    }
    val out = for (gi <- gs.indices; pi <- probs.indices)
      yield (gs(gi), probs(pi), n(gi), lo(gi)(pi))
    out.toDF(group, "prob", "n", "value")
  }

  /** Per-group [[sampleQuantiles]]: rank-by-hash inside each group
    * (WindowGroupLimit bounds every map task to k rows per group before the
    * shuffle), keep each group's k hash-minima, aggregate exact sample
    * order statistics per group. */
  def sampleQuantilesByGroup(df: DataFrame, group: String, valueCol: String,
      key: Column, k: Int, probs: Seq[Double] = Seq(0.5, 0.9)): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k > 0 && probs.nonEmpty, "k and probs must be positive/nonempty")
    val w = Window.partitionBy(group).orderBy("_h", "_v")
    val qs = probs.map(p => expr(s"percentile(_v, $p)").as(s"q${math.round(p * 100)}"))
    df.select(col(group), md5(key.cast("string")).as("_h"),
        col(valueCol).cast("double").as("_v"))
      .withColumn("_rn", row_number().over(w)).filter(col("_rn") <= k)
      .groupBy(group)
      .agg(count(lit(1)).cast("long").as("sample_n"), qs: _*)
      .orderBy(group)
  }

  /** The depth-row bucket columns for one item key: row i hashes
    * `"cm<i>:" || item` and takes the first `hexDigits` hex chars of the
    * md5 — the same derivation both when BUILDING the sketch and when
    * QUERYING it, and mirrored character-for-character in the oracle SQL
    * (md5 renders lowercase hex on both engines). */
  private def cmBuckets(item: Column, depth: Int, hexDigits: Int): Column =
    array((0 until depth).map(i =>
      substring(md5(concat(lit(s"cm$i:"), item)), 1, hexDigits)): _*)

  /** Count-min sketch (Cormode & Muthukrishnan '05) over the corpus token
    * stream: `depth` hash rows × `16^hexDigits` buckets of exact BIGINT
    * counters; a token's frequency estimate is the MIN of its `depth` bucket
    * sums — always ≥ the true count, within εN with high probability. The
    * streaming-scale point is the STATE BOUND: the sketch is `depth·width`
    * counters regardless of corpus size, built by one map-side-combined
    * aggregation over (row, bucket) — at 100 TB the shuffle carries at most
    * `depth·width` rows per map task, not the vocabulary.
    *
    * Unlike the usual randomly-seeded sketch, the hash rows here are fixed
    * md5 derivations, so the estimate itself is deterministic and
    * oracle-checkable bit-for-bit (same trick as [[kmvDistinct]] — KMV vs
    * HLL). The query emits the top-`topK` tokens by TRUE count with exact
    * count and estimate side by side, so the sketch's overcount is itself
    * under test ((est − exact) ≥ 0 is asserted in SketchSpec; the exact
    * counts double as the differential).
    *
    * The estimate lookup joins the ≤ depth·width-row cell table back to the
    * candidate tokens — a broadcast join by construction. */
  def countMinTokens(docs: DataFrame, depth: Int = 4, hexDigits: Int = 2,
      topK: Int = 50, textCol: String = "text"): DataFrame = {
    require(depth >= 1 && depth <= 8, s"depth must be in [1,8], got $depth")
    require(hexDigits >= 1 && hexDigits <= 4,
      s"hexDigits must be in [1,4], got $hexDigits")
    val toks = docs.select(explode(TextOps.tokensArr(textCol)).as("token"))
    // build: token occurrences → (row, bucket) cells. Map-side combine
    // collapses each task to ≤ depth·width partial rows before the shuffle.
    val cells = toks
      .select(posexplode(cmBuckets(col("token"), depth, hexDigits))
        .as(Seq("d", "bucket")))
      .groupBy("d", "bucket").agg(count(lit(1)).as("cell"))
    // query: estimate = min over rows of the cell sums; candidates are the
    // distinct tokens (their exact counts ride along as the differential)
    val exact = toks.groupBy("token").agg(count(lit(1)).as("exact"))
    exact
      .select(col("token"), col("exact"),
        posexplode(cmBuckets(col("token"), depth, hexDigits)).as(Seq("d", "bucket")))
      .join(broadcast(cells), Seq("d", "bucket"))
      .groupBy("token", "exact").agg(min(col("cell")).as("est"))
      .select(col("token"), col("exact"), col("est"),
        (col("est") - col("exact")).as("overcount"))
      .orderBy(col("exact").desc, col("token"))
      .limit(topK)
  }

  /** Oracle twin of [[countMinTokens]] — the same md5 bucket derivation and
    * min-of-sums arithmetic as plain SQL. */
  def countMinTokensSqlDuck(depth: Int = 4, hexDigits: Int = 2,
      topK: Int = 50): String = {
    val ds = (0 until depth).mkString(", ")
    s"""WITH toks AS (SELECT unnest(${TextOps.tokensSqlDuck("text")}) AS token
       |    FROM documents),
       | dd AS (SELECT unnest([$ds]) AS d),
       | cells AS (SELECT d, substr(md5('cm' || d || ':' || token), 1, $hexDigits) AS bucket,
       |    CAST(count(*) AS BIGINT) AS cell
       |  FROM toks CROSS JOIN dd GROUP BY 1, 2),
       | ex AS (SELECT token, CAST(count(*) AS BIGINT) AS exact
       |  FROM toks GROUP BY token),
       | est AS (SELECT ex.token, ex.exact, min(c.cell) AS est
       |  FROM ex CROSS JOIN dd
       |  JOIN cells c ON c.d = dd.d
       |    AND c.bucket = substr(md5('cm' || dd.d || ':' || ex.token), 1, $hexDigits)
       |  GROUP BY ex.token, ex.exact)
       |SELECT token, exact, est, est - exact AS overcount FROM est
       |ORDER BY exact DESC, token LIMIT $topK""".stripMargin
  }

  /** HyperLogLog register expressions over an md5-hex column — ONE SQL text
    * evaluated by both engines (the [[graft.ext.Dedup.simhash16Expr]]
    * pattern: substr/position/regexp_extract/CASE only, no dialect
    * functions). Hex digits 1–2 pick one of m=256 registers; the register
    * rank ρ = (leading zero BITS of the remaining 13-hex-digit stream) + 1,
    * computed as 4·(leading '0' hex chars) + the first non-zero digit's
    * intra-nibble zeros, CAPPED at 20 — the cap is part of the pinned
    * semantics and keeps every 2^-ρ term exactly representable AND the
    * register sum exactly associative in binary64 (≤256 terms, each ≥ 2^-20,
    * total ≤ 256: every partial sum fits in 28 mantissa bits), so the
    * estimate is a deterministic function of the key set on any engine and
    * any partitioning. */
  private[ext] def hllRegisterSql(hCol: String): (String, String) = {
    val hex = "'0123456789abcdef'"
    val d1 = s"(position(substr($hCol, 1, 1) IN $hex) - 1)"
    val d2 = s"(position(substr($hCol, 2, 1) IN $hex) - 1)"
    val bucket = s"($d1 * 16 + $d2)"
    val tail = s"substr($hCol, 3, 13)"
    val lz = s"length(regexp_extract($tail, '^0*', 0))"
    val nz = s"(position(substr($tail, $lz + 1, 1) IN $hex) - 1)"
    val extra = s"(CASE WHEN $nz >= 8 THEN 0 WHEN $nz >= 4 THEN 1" +
      s" WHEN $nz >= 2 THEN 2 ELSE 3 END)"
    val rho = s"(CASE WHEN $lz >= 5 THEN 20 ELSE 4 * $lz + $extra + 1 END)"
    (bucket, rho)
  }

  /** Per-group HyperLogLog distinct-count estimate (Flajolet, Fusy,
    * Gandouet & Meunier 2007) with EXPLICIT registers — the mergeable
    * industry-standard sketch, kept transparent: m=256 registers per group
    * as ordinary rows, max-rank per register, estimate
    * α·m² / (Σ 2^-M_j + zero-registers), with the register sum carried as
    * an EXACT integer (Σ 2^(20-M_j) in BIGINT — Java's Math.pow(2, -n) is
    * only 1-ulp-guaranteed and measurably differs from DuckDB's, so no
    * floating pow appears anywhere; one exact power-of-two division at the
    * end). The scale path is ONE pass over
    * the keys plus 256-row-per-group state (registers merge by max, so the
    * aggregation is map-side combined and restart/partition-invariant);
    * the exact count(DISTINCT) column exists to VALIDATE the sketch at
    * fixture scale — at 100 TB a user drops it and keeps the sketch.
    * No small-range linear-counting branch: ln() is the one libm call
    * whose last bit differs across engines, so the raw estimate plus the
    * zero-register count are emitted and the correction is the caller's
    * (documented) choice. */
  def hllDistinctByGroup(df: DataFrame, group: String, key: String): DataFrame = {
    val (bucket, rho) = hllRegisterSql("_h")
    val clean = df.filter(col(group).isNotNull && col(key).isNotNull)
    val regs = clean
      .selectExpr(s"$group AS _g", s"md5(CAST($key AS STRING)) AS _h")
      .selectExpr("_g", s"$bucket AS _b", s"$rho AS _r")
      .groupBy("_g", "_b").agg(max("_r").as("_m"))
    val prof = regs.groupBy("_g").agg(
      count(lit(1)).as("registers_hit"),
      // exact 2^(20-m) integer units; m ≤ 20 so terms are 1..2^19 and the
      // 256-term sum is ≤ 2^27 — no floating point until the final division
      sum(expr("shiftleft(CAST(1 AS BIGINT), 20 - _m)")).as("_s"))
    val exact = clean.groupBy(col(group).as("_g2"))
      .agg(count_distinct(col(key)).as("n_exact"))
    prof.join(exact, col("_g") === col("_g2"))
      .selectExpr(s"_g AS $group", "CAST(n_exact AS BIGINT) AS n_exact",
        "CAST(registers_hit AS BIGINT) AS registers_hit",
        "CAST(256 - registers_hit AS BIGINT) AS zero_registers",
        // literals CAST to DOUBLE explicitly: Spark parses bare decimal
        // literals as DECIMAL and would run this in decimal arithmetic,
        // while DuckDB promotes to double — cast both sides identically
        "CAST(0.7213 AS DOUBLE) / (CAST(1 AS DOUBLE) + " +
          "CAST(1.079 AS DOUBLE) / CAST(256 AS DOUBLE)) * " +
          "CAST(65536 AS DOUBLE) / " +
          "(CAST(_s AS DOUBLE) / CAST(1048576 AS DOUBLE) + " +
          "CAST(256 - registers_hit AS DOUBLE)) AS hll_estimate")
  }

  /** DuckDB oracle twin of [[hllDistinctByGroup]] — same register SQL text,
    * same literal constants. */
  def hllDistinctByGroupSqlDuck(table: String, group: String, key: String): String = {
    val (bucket, rho) = hllRegisterSql("_h")
    s"""WITH e AS (SELECT $group AS g, md5(CAST($key AS VARCHAR)) AS _h
       |  FROM $table WHERE $group IS NOT NULL AND $key IS NOT NULL),
       | hb AS (SELECT g, $bucket AS b, $rho AS r FROM e),
       | regs AS (SELECT g, b, max(r) AS m FROM hb GROUP BY 1, 2),
       | prof AS (SELECT g, CAST(count(*) AS BIGINT) AS registers_hit,
       |    sum(CAST(1 AS BIGINT) << (20 - m)) AS s FROM regs GROUP BY 1),
       | ex AS (SELECT $group AS g, CAST(count(DISTINCT $key) AS BIGINT) AS n_exact
       |   FROM $table WHERE $group IS NOT NULL AND $key IS NOT NULL GROUP BY 1)
       |SELECT prof.g AS $group, n_exact, registers_hit,
       |  CAST(256 - registers_hit AS BIGINT) AS zero_registers,
       |  CAST(0.7213 AS DOUBLE) / (CAST(1 AS DOUBLE)
       |      + CAST(1.079 AS DOUBLE) / CAST(256 AS DOUBLE))
       |    * CAST(65536 AS DOUBLE) /
       |    (CAST(s AS DOUBLE) / CAST(1048576 AS DOUBLE)
       |     + CAST(256 - registers_hit AS DOUBLE)) AS hll_estimate
       |FROM prof JOIN ex ON prof.g = ex.g
       |ORDER BY $group""".stripMargin
  }
}
