package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Interval-point range join — the second temporal-join operator the build
  * brief names alongside the as-of join ([[AsOf]]): every (interval, point)
  * pair with `start <= point < end`.
  *
  * Spark plans a raw `p.t >= i.s AND p.t < i.e` theta join as a
  * BroadcastNestedLoopJoin (or a cartesian product when neither side fits in
  * a broadcast) — O(|P|·|I|) comparisons, the classic 100 TB scale-killer.
  * This operator rewrites it as an EQUI-join on a time bucket (preference (a)
  * of the custom-operator ladder — composition, no custom SparkPlan):
  *
  *   1. each interval explodes into the buckets it overlaps
  *      (`sequence(floor(s/w), floor((e-1)/w))`);
  *   2. each point computes its single bucket `floor(t/w)`;
  *   3. shuffle hash/sort-merge join on the bucket, then the exact range
  *      predicate filters survivors.
  *
  * Cost: one keyed shuffle; per-bucket work is |points in bucket| ×
  * |intervals overlapping bucket| — local, and bounded by the bucket width
  * chosen relative to interval length. A point's bucket is covered AT MOST
  * ONCE per interval (an interval's bucket list is distinct), so no
  * pair-level dedup is needed. The same decomposition underlies the
  * range-join optimizations in Databricks' runtime and the interval-join of
  * Flink's DataStream API; DuckDB's native IEJoin (the oracle twin) is the
  * single-node comparison point.
  *
  * Bucket width trades replication for selectivity: intervals replicate
  * `ceil(len/w)+1`-fold, points never replicate. Pick `w` ≈ the typical
  * interval length so replication stays ~2× while bucket populations stay
  * tight.
  */
object Ranges {

  /** Join `points` to `intervals` on `startUs <= pointUs < endUs` via the
    * bucket decomposition above. Column sets must be disjoint; all three
    * bound columns are epoch-microsecond BIGINTs (the engine's event-time
    * convention, see IngestOps.table's nanos handling).
    *
    * @param bucketUs bucket width in microseconds (> 0)
    */
  def bucketedRangeJoin(points: DataFrame, pointUs: String,
      intervals: DataFrame, startUs: String, endUs: String,
      bucketUs: Long): DataFrame = {
    require(bucketUs > 0, s"bucketUs must be positive, got $bucketUs")
    val overlap = points.columns.toSet.intersect(intervals.columns.toSet)
    require(overlap.isEmpty, s"column collision between sides: $overlap")

    def bkt(c: Column): Column = floor(c / lit(bucketUs)).cast("long")

    // degenerate intervals (end <= start) match nothing; dropping them before
    // the explode avoids sequence() descending into spurious buckets
    val iv = intervals.where(col(endUs) > col(startUs)).withColumn("__bkt",
      explode(sequence(bkt(col(startUs)), bkt(col(endUs) - lit(1L)))))
    val pt = points.withColumn("__bkt", bkt(col(pointUs)))

    pt.join(iv, Seq("__bkt"))
      .where(col(pointUs) >= col(startUs) && col(pointUs) < col(endUs))
      .drop("__bkt")
  }
}
