package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Ingest-stage operators: Spark-native re-expression of the reference's
  * Extract semantics (SURVEY.md §2.1/§2.2).
  *
  * Reference (waldfalke/catme-etl-j, /root/reference):
  *  - sheet selection: strategy/UserModeEventConversionStrategy.java:133-171
  *  - header extraction: strategy/UserModeEventConversionStrategy.java:236-244
  *  - index→name projection with index fallback: core/writers/NdjsonDataWriter.java:128-143
  *  - null/blank normalization: strategy/UserModeEventConversionStrategy.java:272,
  *    core/poi/CatmePoiSheetContentsHandler.java:122-125
  *  - all-string cell model: core/writers/NdjsonDataWriter.java:142
  *  - row-order invariant: HighVolumeExcelConverter-Contract-v2.0.1.md:81,99
  *
  * Scale note (100 TB): every operator here is a narrow projection/filter —
  * no shuffle. The only intentionally-sequential ops are the positional ones
  * (header-row skip), which at scale should be driven by per-file row indexes
  * (`_metadata.row_index`-style) rather than a global window; `skipRows` below
  * takes an explicit ordering key so Catalyst can keep it parallel.
  */
object IngestOps {

  /** The fixture "workbook": one parquet table per sheet (TESTDATA.md). */
  val knownTables: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    // events.ts has shipped under multiple physical encodings (TIMESTAMP(NANOS),
    // TIMESTAMP_NTZ(µs), TIMESTAMP(µs,UTC)); normalize them all to session-tz
    // TimestampType so downstream event-time operators see one type.
    if (name == "events") {
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      normalizeEventTs(spark.read.parquet(s"$dir/$name.parquet"))
    } else spark.read.parquet(s"$dir/$name.parquet")
  }

  /** Normalize the event-time column `ts` to TimestampType regardless of the
    * physical parquet encoding it arrived in:
    *  - LongType — epoch-nanos surfaced by `spark.sql.legacy.parquet.nanosAsLong`
    *    (parquet TIMESTAMP(NANOS), which the vectorized reader otherwise rejects);
    *    integral `DIV 1000` to µs avoids double-precision loss.
    *  - TimestampNTZType — parquet `Timestamp(isAdjustedToUTC=false, µs)`. The
    *    session timezone is pinned to UTC (build.sbt / Bench / Verify), so the
    *    NTZ→LTZ cast is value-preserving and matches DuckDB's naive read of the
    *    same column.
    *  - TimestampType — already session-tz; pass through.
    * Shared by the batch loader, the streaming reader, and any engine-written
    * copies of the events table, so all entry points agree by construction. */
  def normalizeEventTs(df: DataFrame): DataFrame =
    df.schema.find(_.name == "ts").map(_.dataType) match {
      case Some(LongType) => df.withColumn("ts", nanosToTimestamp)
      case Some(TimestampNTZType) => df.withColumn("ts", col("ts").cast(TimestampType))
      case _ => df // already TimestampType, or no ts column
    }

  /** ns-long `ts` (from nanosAsLong) → µs TimestampType; integral division
    * avoids the double-precision loss of `/` on epoch-nanos magnitudes.
    * Shared by the batch loader above and streaming.EventStreams. */
  def nanosToTimestamp: org.apache.spark.sql.Column =
    timestamp_micros(expr("ts DIV 1000"))

  /** S3 — case-insensitive sheet resolution; unknown name errors with the
    * available-sheets list, mirroring
    * strategy/UserModeEventConversionStrategy.java:145-157. */
  def resolveSheetName(sheetName: String): String =
    knownTables.find(_.equalsIgnoreCase(sheetName)).getOrElse {
      throw new IllegalArgumentException(
        s"Sheet '$sheetName' not found. Available sheets: ${knownTables.mkString(", ")}")
    }

  def resolveSheet(spark: SparkSession, dir: String, sheetName: String): DataFrame =
    table(spark, dir, resolveSheetName(sheetName))

  /** Row-order capture. `monotonically_increasing_id` is increasing within a
    * partition and partition-prefixed, so ordering by it reproduces source
    * order for order-preserving scans (SURVEY.md §7.5 pt 1). */
  def withRowId(df: DataFrame, idCol: String = "_rid"): DataFrame =
    df.withColumn(idCol, monotonically_increasing_id())

  /** T5 — canonical string rendering used for all-string parity with the
    * DuckDB oracle: ints as digits, doubles via DECIMAL(18,2) (the fixtures
    * are money-like 2-dp values), timestamps at second precision. */
  def cellToString(c: org.apache.spark.sql.Column, dt: DataType): org.apache.spark.sql.Column = dt match {
    case DoubleType | FloatType => c.cast(DecimalType(18, 2)).cast(StringType)
    case TimestampType => date_format(c, "yyyy-MM-dd HH:mm:ss")
    case DateType => date_format(c, "yyyy-MM-dd")
    case _ => c.cast(StringType)
  }

  /** T2/T5 — the reference's universal all-string row model
    * (SURVEY.md §1.2): every cell becomes a display string. */
  def allString(df: DataFrame): DataFrame = {
    val cols = df.schema.fields.map(f => cellToString(col(f.name), f.dataType).as(f.name))
    df.select(cols.toSeq: _*)
  }

  /** T2 — null→"" coercion (active POI path,
    * UserModeEventConversionStrategy.java:272). String columns only. */
  def blanksForNulls(df: DataFrame): DataFrame = {
    val cols = df.schema.fields.map { f =>
      if (f.dataType == StringType) coalesce(col(f.name), lit("")).as(f.name)
      else col(f.name)
    }
    df.select(cols.toSeq: _*)
  }

  /** T2 — drop entirely-empty rows
    * (core/poi/CatmePoiSheetContentsHandler.java:122-125). */
  def dropEmptyRows(df: DataFrame): DataFrame = {
    val nonEmpty = df.schema.fields
      .map { f =>
        if (f.dataType == StringType) col(f.name).isNotNull && trim(col(f.name)) =!= ""
        else col(f.name).isNotNull
      }
      .reduce(_ || _)
    df.filter(nonEmpty)
  }

  /** Scalable global row number by key (1-based), replacing
    * `Window.orderBy`-with-no-partitionBy (which moves ALL data to a single
    * partition — the r1 scale-killer).
    *
    * Why not `repartitionByRange` + per-partition offsets (the r2 shape):
    * Spark's range exchange picks its boundaries from a NON-deterministically
    * seeded sample per evaluation (measured: two identical passes over the
    * same parquet produced different partition sizes), so any formulation
    * that evaluates the exchange more than once — the r2 triangular-offsets
    * join did so three times — can silently misalign offsets with data.
    *
    * This shape makes partition membership a PURE FUNCTION of the key value,
    * so every pass agrees by construction:
    *   1. one key-pruned count (cheap, deterministic);
    *   2. one key-pruned seeded hash-sample (`hash(key) % m == 0`, Murmur3 is
    *      fixed-seed) collected to the driver — bounded at ~100·numParts
    *      values — whose sorted quantiles become LITERAL bucket boundaries;
    *   3. bucket id = Σ (key > boundary_i), a codegen'd monotone expression;
    *   4. per-bucket counts (key-pruned, deterministic) → driver prefix sum →
    *      literal offset map (bounded, like the IVF centroid pull);
    *   5. ONE full-data shuffle: `row_number() over (partition by bucket
    *      order by key)` + offset lookup. No join, no cache, no RDD.
    * Skewed/equal keys concentrate in one bucket (same behavior as a range
    * partitioner — equal keys can never split); balance degrades, never
    * correctness. */
  def withGlobalPos(df: DataFrame, key: org.apache.spark.sql.Column,
      posCol: String = "_pos", numParts: Int = 0,
      order: Seq[org.apache.spark.sql.Column] = Nil,
      statsOn: Option[DataFrame] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // statsOn (r17): the driver-bounded passes (count, boundary sample,
    // per-bucket counts) may run against an ALTERNATIVE relation carrying
    // the SAME multiset of `key` values — e.g. a cached base relation when
    // `df` is that base plus already-computed window columns, so the
    // passes don't re-execute the windows. Bucket boundaries and offsets
    // are pure functions of the key multiset, so positions are unchanged.
    val statsDf = statsOn.getOrElse(df)
    val bucket = rangeBuckets(statsDf, key, numParts)
    val counts = statsDf.select(bucket.as("_b")).groupBy("_b")
      .agg(count(lit(1)).as("_n"))
      .collect().map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)
    if (counts.isEmpty) return df.withColumn(posCol, lit(1L)) // empty input
    val offsets = counts.scanLeft((0, 0L)) { case ((_, acc), (b, c)) => (b, acc + c) }
      .init.zip(counts).map { case ((_, off), (b, _)) => b -> off }
    val offsetMap = map(offsets.flatMap { case (b, off) => Seq(lit(b), lit(off)) }.toSeq: _*)
    // `order` refines WITHIN-bucket order for deterministic positions under
    // tied keys; its primary sort must be `key` itself (buckets partition
    // the key range, so any cross-bucket reordering would be incoherent)
    val w = Window.partitionBy("_bkt")
      .orderBy((if (order.nonEmpty) order else Seq(key)): _*)
    df.withColumn("_bkt", bucket)
      .withColumn(posCol,
        element_at(offsetMap, col("_bkt")) + row_number().over(w).cast("long"))
      .drop("_bkt")
  }

  /** The deterministic range-bucket expression steps 1–3 of the
    * [[withGlobalPos]] recipe: one key-pruned count, one fixed-seed
    * hash-sample collected as LITERAL boundaries (bounded ~100·numParts
    * values), bucket id = Σ (key > boundary_i). Partition membership is a
    * pure function of the key value, so every pass over the data agrees —
    * the property Spark's own range exchange does NOT have (its sampler
    * reseeds per evaluation). Shared by position and prefix-sum variants. */
  private[graft] def rangeBuckets(df: DataFrame, key: org.apache.spark.sql.Column,
      numParts: Int): org.apache.spark.sql.Column = {
    val n = if (numParts > 0) numParts
      else df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    val keyed = df.select(key.as("_k")).filter(col("_k").isNotNull)
    val total = keyed.count()
    val mod = math.max(1L, total / (n.toLong * 100L))
    // distinct BEFORE collect: a heavily-duplicated key whose hash lands in
    // the sample class would otherwise pull every copy to the driver
    // (unbounded); distinct bounds the pull by ~total/mod ≈ n·100 values
    // regardless of key skew (boundary placement then weights by distinct
    // key, which only shifts balance, never correctness)
    val sampled =
      if (total == 0L) Array.empty[AnyRef] // null-only/empty input: one bucket
      else keyed.filter(pmod(hash(col("_k")), lit(mod)) === 0).distinct().collect()
        .map(_.get(0).asInstanceOf[AnyRef])
    val boundaries =
      if (sampled.isEmpty) Array.empty[AnyRef]
      else {
        val s = sampled.sortWith((a, b) =>
          a.asInstanceOf[Comparable[AnyRef]].compareTo(b) < 0)
        (1 until n).map(i => s(((i.toLong * s.length) / n).toInt.min(s.length - 1)))
          .distinct.toArray
      }
    boundaries.foldLeft(lit(0)) { (acc, b) =>
      acc + when(key > lit(b), 1).otherwise(0)
    }
  }

  /** Global running sum of `weight` in `key` order — the distributed
    * prefix-sum primitive (sweep-line accumulations, cumulative inventories,
    * concurrency curves). Same deterministic-bucket recipe as
    * [[withGlobalPos]], with per-bucket SUMS in place of counts: bucket
    * totals collect to the driver (≤ numParts scalars), their exclusive
    * prefix becomes a literal offset map, and the only full-data shuffle is
    * the within-bucket running-sum window. `key` values must be UNIQUE per
    * row (group first if not) — a rows-frame running sum over tied keys
    * would be order-dependent within the tie. */
  /** Closed-form SQL ntile(k) from an exact 1-based global rank `r` and
    * total row count `n` (driver scalars → literal arithmetic, BIGINT DIV
    * throughout): the distributed replacement for an unpartitioned ntile
    * window — compose with [[withGlobalPos]] for the rank. Requires a
    * tie-free rank (callers tiebreak on a unique key). Matches SQL ntile
    * exactly: the first n%k buckets get ⌈n/k⌉ rows. */
  def ntileFromRank(r: org.apache.spark.sql.Column, n: Long, k: Int)
      : org.apache.spark.sql.Column = {
    import org.apache.spark.sql.GraftColumnBridge.{toColumn, toExpression}
    def idiv(a: org.apache.spark.sql.Column, b: Long): org.apache.spark.sql.Column =
      toColumn(new org.apache.spark.sql.catalyst.expressions.IntegralDivide(
        toExpression(a), toExpression(lit(b))))
    val q = n / k
    val rem = n % k
    if (q == 0L) r // fewer rows than buckets: ntile assigns bucket = rank
    else {
      val boundary = rem * (q + 1) // last rank inside the ⌈n/k⌉-sized buckets
      when(r <= lit(boundary), idiv(r - lit(1L), q + 1) + lit(1L))
        .otherwise(lit(rem) + idiv(r - lit(boundary + 1), q) + lit(1L))
    }
  }

  def withGlobalRunningSum(df: DataFrame, key: org.apache.spark.sql.Column,
      weight: org.apache.spark.sql.Column, outCol: String = "_rsum",
      numParts: Int = 0): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val bucket = rangeBuckets(df, key, numParts)
    val sums = df.select(bucket.as("_b"), weight.as("_w")).groupBy("_b")
      .agg(sum(col("_w")).as("_s"))
      .collect().map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)
    if (sums.isEmpty) return df.withColumn(outCol, lit(0L)) // empty input
    val offsets = sums.scanLeft((0, 0L)) { case ((_, acc), (b, s)) => (b, acc + s) }
      .init.zip(sums).map { case ((_, off), (b, _)) => b -> off }
    val offsetMap = map(offsets.flatMap { case (b, off) => Seq(lit(b), lit(off)) }.toSeq: _*)
    val w = Window.partitionBy("_bkt").orderBy(key)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn("_bkt", bucket)
      .withColumn(outCol,
        element_at(offsetMap, col("_bkt")) + sum(weight).over(w).cast("long"))
      .drop("_bkt")
  }

  /** Per-group cumulative offsets (exclusive prefix sums of group counts in
    * `keyCol` order) via a triangular self-join over the one-row-per-group
    * counts relation — O(groups²) on a tiny relation, instead of a global
    * window (which would warn and single-partition even when tiny). */
  private def cumulativeOffsets(df: DataFrame, keyCol: String): DataFrame = {
    val counts = df.groupBy(keyCol).agg(count(lit(1)).as("_n"))
    counts.as("a")
      .join(counts.as("b"), col(s"b.$keyCol") < col(s"a.$keyCol"), "left_outer")
      .groupBy(col(s"a.$keyCol").as(keyCol))
      .agg(coalesce(sum(col("b._n")), lit(0L)).as("_offset"))
  }

  /** T3 — skip-before-header positional filter, expressed over the scalable
    * global position (no single-partition window). */
  def skipRows(df: DataFrame, n: Long, orderKey: org.apache.spark.sql.Column): DataFrame =
    withGlobalPos(df, orderKey).filter(col("_pos") > n).drop("_pos")

  /** Scalable global row position (the 100 TB path for positional operators
    * like header-row skipping): per-file parquet row index from `_metadata`
    * plus a cumulative file offset. The only non-narrow work is one row per
    * FILE (not per row) through a tiny window — no global shuffle of the
    * data, unlike `skipRows`'s row_number window. Position order = file-path
    * order, matching a deterministic multi-file scan. */
  def withFileRowPos(spark: SparkSession, path: String, posCol: String = "_pos",
      keepFileCol: Boolean = false): DataFrame = {
    val df = spark.read.parquet(path)
      .withColumn("_file", col("_metadata.file_path"))
      .withColumn("_idx", col("_metadata.row_index"))
    val joined = df.join(broadcast(cumulativeOffsets(df, "_file")), "_file")
      .withColumn(posCol, col("_offset") + col("_idx"))
      .drop("_idx", "_offset", "_n")
    if (keepFileCol) joined else joined.drop("_file")
  }

  /** S4/T4 — header application with the index-fallback rule: positions
    * beyond the header (or with empty header names) are named by their
    * 0-based column index (core/writers/JsonDataWriter.java:151-154). */
  def applyHeader(df: DataFrame, header: Seq[String]): DataFrame = {
    val cols = df.columns.zipWithIndex.map { case (c, i) =>
      val name =
        if (i < header.length && header(i) != null && header(i).nonEmpty) header(i)
        else i.toString
      col(c).as(name)
    }
    df.select(cols.toSeq: _*)
  }
}
