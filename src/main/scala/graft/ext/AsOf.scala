package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** As-of (point-in-time) join — an operator Spark's relational algebra lacks
  * natively: for every left row, the single latest right row with
  * right.time <= left.time within the same key.
  *
  * Built by composition (preference (a) of the custom-operator ladder in the
  * build brief — no custom SparkPlan needed): tag and union both sides, then
  * one `last(_, ignoreNulls)` running window per right payload column,
  * partitioned by key and ordered by (time, tag) so a right row at the exact
  * left timestamp is visible to it. Cost: ONE shuffle on the key — never the
  * range-join row explosion of the naive `l.time >= r.time` theta join.
  * Equal-time tie-break: right rows sort before left rows (tag 0 < 1).
  *
  * The DuckDB oracle uses its native ASOF JOIN, so the semantics are checked
  * against an independent implementation.
  */
object AsOf {

  /** Left rows with no as-of match are dropped (ASOF JOIN's inner form).
    *
    * @param rightPayload right columns to carry (aliased as given)
    *
    * Null-payload correctness: the running `last` carries a single non-null
    * match STRUCT per right row (its time + payloads), never the payload
    * columns themselves — so a matched right row whose payload is NULL still
    * matches (as in DuckDB's native ASOF JOIN), and the inner filter tests
    * "a right row exists", not payload nullity. One running last regardless
    * of payload arity. */
  def asofJoin(left: DataFrame, right: DataFrame, key: String, time: String,
      rightPayload: Map[String, String], forward: Boolean = false): DataFrame = {
    import org.apache.spark.sql.types.{StructField, StructType}
    val leftCols = left.columns.filterNot(c => c == key || c == time)
    val payloadSrc = rightPayload.keys.toSeq
    val payloadDst = payloadSrc.map(rightPayload)

    val matchType = StructType(
      StructField("_mt", right.schema(time).dataType) +:
        payloadSrc.map(c => StructField(s"_p_$c", right.schema(c).dataType)))
    val l = left.select(
      col(key) +: col(time).as("_t") +: lit(1).as("_tag") +:
        lit(null).cast(matchType).as("_m") +: leftCols.map(col).toSeq: _*)
    val r = right.select(
      col(key) +: col(time).as("_t") +: lit(0).as("_tag") +:
        struct(col(time).as("_mt") +:
          payloadSrc.map(c => col(c).as(s"_p_$c")): _*).as("_m") +:
        leftCols.map(c => lit(null).cast(left.schema(c).dataType).as(c)).toSeq: _*)

    import org.apache.spark.sql.expressions.Window
    // Backward (default): ascending time traversal — the running last is the
    // latest right row at-or-before each left row. Forward: DESCENDING time
    // traversal — every already-seen row has time >= current, so the running
    // last is the EARLIEST right row at-or-after the left row. Either way the
    // right tag (0) sorts before the left (1) at equal time, so an exactly
    // coincident right row is visible to its left row — equality is included
    // in both directions, matching DuckDB ASOF JOIN's >= / <= semantics.
    val tOrd = if (forward) col("_t").desc else col("_t").asc
    val w = Window.partitionBy(key).orderBy(tOrd, col("_tag"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val filledCols = Seq(col(key), col("_t"), col("_tag")) ++
      leftCols.map(col) :+ last(col("_m"), ignoreNulls = true).over(w).as("_m")
    val filled = l.unionByName(r).select(filledCols: _*)
    val matched = filled.filter(col("_tag") === 1).filter(col("_m").isNotNull)
    val outCols = Seq(col(key), col("_t").as(time)) ++ leftCols.map(col) ++
      payloadSrc.zip(payloadDst).map { case (src, dst) =>
        col("_m").getField(s"_p_$src").as(dst)
      }
    matched.select(outCols: _*)
  }

  /** Regular-grid resampling with forward fill (last observation carried
    * forward) — the time-series normalization step relational algebra
    * lacks: per key, a grid of `stepUs`-spaced instants spans the key's
    * observed range, and every grid point takes the latest value at or
    * before it. Same composition as [[asofJoin]]: generate the grid from a
    * tiny per-key bounds aggregate (`sequence` explode — narrow), tag and
    * union grid with observations, one running `last(ignoreNulls)` window
    * per key — ONE shuffle on the key, never a grid×observations theta
    * join. Observations at a grid instant sort before it (tag 0 < 1), so
    * the grid point sees them; the first grid point is the key's own first
    * observation, so fills never start null. Duplicate (key, time)
    * observations collapse to max(value) first — deterministic on both
    * engines. Oracle: DuckDB generate_series + native ASOF JOIN. */
  def resampleFfill(events: DataFrame, key: String, timeUs: String,
      valueCol: String, stepUs: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(stepUs > 0, "stepUs must be positive")
    val pts = events.select(col(key), col(timeUs).as("_us"),
        col(valueCol).cast("double").as("_v"))
      .groupBy(col(key), col("_us")).agg(max("_v").as("_v"))
    val grid = pts.groupBy(key).agg(min("_us").as("_lo"), max("_us").as("_hi"))
      .select(col(key), explode(expr(s"sequence(_lo, _hi, ${stepUs}L)")).as("_us"))
    val tagged = pts.select(col(key), col("_us"), lit(0).as("_tag"), col("_v"))
      .unionByName(grid.select(col(key), col("_us"), lit(1).as("_tag"),
        lit(null).cast("double").as("_v")))
    val w = Window.partitionBy(key).orderBy(col("_us"), col("_tag"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    tagged.withColumn("_ff", last(col("_v"), ignoreNulls = true).over(w))
      .filter(col("_tag") === 1)
      .select(col(key), col("_us").as("grid_us"), col("_ff").as("value_ffill"))
  }

  /** Regular-grid resampling with LINEAR interpolation — the gap-fill twin
    * of [[resampleFfill]] for continuous signals: each grid instant takes
    * v0 + (v1 − v0)·(t − t0)/(t1 − t0) between its neighboring observations
    * (t0,v0) at-or-before and (t1,v1) strictly after; grid points at an
    * observation reproduce it exactly ((t − t0) = 0), and the tail past the
    * last observation falls back to forward fill. Same single-shuffle
    * tagged-union shape as [[resampleFfill]] plus ONE extra window pass in
    * the opposite frame direction (both reuse the same key partitioning —
    * no second exchange). Null observations are dropped up front: linear
    * interpolation is only defined over numeric points, and dropping them
    * keeps the forward and backward passes picking the same rows. The
    * (t,v) pair rides in one STRUCT per pass so time and value always come
    * from the same observation row. */
  def resampleInterp(events: DataFrame, key: String, timeUs: String,
      valueCol: String, stepUs: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(stepUs > 0, "stepUs must be positive")
    val pts = events.select(col(key), col(timeUs).as("_us"),
        col(valueCol).cast("double").as("_v"))
      .filter(col("_v").isNotNull)
      .groupBy(col(key), col("_us")).agg(max("_v").as("_v"))
    val grid = pts.groupBy(key).agg(min("_us").as("_lo"), max("_us").as("_hi"))
      .select(col(key), explode(expr(s"sequence(_lo, _hi, ${stepUs}L)")).as("_us"))
    val obs = struct(col("_us").as("t"), col("_v").as("v"))
    val tagged = pts.select(col(key), col("_us"), lit(0).as("_tag"), obs.as("_o"))
      .unionByName(grid.select(col(key), col("_us"), lit(1).as("_tag"),
        lit(null).cast("struct<t:bigint,v:double>").as("_o")))
    val fwd = Window.partitionBy(key).orderBy(col("_us"), col("_tag"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val bwd = Window.partitionBy(key).orderBy(col("_us"), col("_tag"))
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val t0 = col("_p.t"); val v0 = col("_p.v")
    val t1 = col("_n.t"); val v1 = col("_n.v")
    tagged
      .withColumn("_p", last(col("_o"), ignoreNulls = true).over(fwd))
      .withColumn("_n", first(col("_o"), ignoreNulls = true).over(bwd))
      .filter(col("_tag") === 1)
      .select(col(key), col("_us").as("grid_us"),
        when(col("_n").isNull, v0).otherwise(
          v0 + (v1 - v0) * ((col("_us") - t0).cast("double") /
            (t1 - t0).cast("double"))).as("value_interp"))
  }
}
