package graft.etl

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Physical data layout for scale (SURVEY.md §7 / build brief): bucketing
  * for co-located joins, and the z-order key with its pruning audit.
  *
  * Bucketing pre-shuffles both join sides ONCE at write time; every
  * subsequent equi-join on the bucket key plans with no Exchange.
  */
object Layout {

  /** Write a bucketed + sorted table registered in the session catalog.
    * Joins between tables bucketed on the same key with the same bucket
    * count need no shuffle (verified by plan assertion in LayoutSpec).
    *
    * Idempotent across JVMs: a FRESH session doesn't know about a previous
    * run's table, so `mode(overwrite)` alone dies on the orphaned warehouse
    * directory (LOCATION_ALREADY_EXISTS) — drop the catalog entry AND clear
    * the leftover location first. */
  def writeBucketed(df: DataFrame, table: String, key: String,
      nBuckets: Int = 8): Unit = {
    val s = df.sparkSession
    s.sql(s"DROP TABLE IF EXISTS `$table`")
    // Orphan-location cleanup is a LOCAL-filesystem remedy only: on an
    // hdfs://host/path (or s3a://…) warehouse, new URI(wh).getPath strips
    // the scheme+authority and the recursive delete would hit an unrelated
    // local directory — parse via Hadoop Path (which also tolerates
    // unencoded characters new URI() rejects) and skip unless the resolved
    // scheme is file/null. Distributed warehouses overwrite through the
    // catalog's own location handling instead.
    val wh = s.conf.get("spark.sql.warehouse.dir")
    val whPath = new org.apache.hadoop.fs.Path(wh)
    val scheme = whPath.toUri.getScheme
    if (scheme == null || scheme == "file") {
      val loc = new java.io.File(whPath.toUri.getPath, table)
      if (loc.exists()) {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.walk(loc.toPath).iterator().asScala.toSeq
          .sortBy(-_.getNameCount).foreach(java.nio.file.Files.deleteIfExists(_))
      }
    }
    // r17: pre-repartition on the bucket key into nBuckets partitions —
    // HashPartitioning uses the same Murmur3 bucket function as the bucket
    // spec, so each write task holds exactly one bucket's rows and the
    // table lands as nBuckets files instead of (tasks × buckets) small
    // files (32 write tasks × 8 buckets = 256 files per table before; the
    // downstream bucketed scan then opens 8). One cheap shuffle at write
    // time, the standard bucketed-ingest shape; bucket contents and the
    // exchange-free join contract are unchanged.
    df.repartition(nBuckets, col(key)).write.mode("overwrite")
      .format("parquet")
      .bucketBy(nBuckets, key)
      .sortBy(key)
      .saveAsTable(table)
  }

  /** Z-order key over two long columns: each column range-bucketized into
    * `1 << bits` equal-width buckets from a global min/max (one tiny agg,
    * broadcast back onto the stream — same shape as Analytics.minmaxScale),
    * then Morton-interleaved (functions/MortonInterleave, codegen'd). All
    * bucket arithmetic is exact BIGINT ((v-min)*nb / (range+1)), so an
    * engine recomputing it (the DuckDB oracle) lands on identical keys.
    * Output: the input columns plus `zkey`. */
  def zOrderKey(df: DataFrame, xCol: String, yCol: String,
      bits: Int = 10): DataFrame = {
    require(bits >= 1 && bits <= 31, "bits must be in [1, 31]")
    val nb = 1L << bits
    val stats = df.agg(
      min(col(xCol)).as("_xmin"), max(col(xCol)).as("_xmax"),
      min(col(yCol)).as("_ymin"), max(col(yCol)).as("_ymax"))
    // BIGINT `div`, not `/` (Divide is floating-point — (v-min)*nb can pass
    // 2^53 on a µs-timestamp range and a double round would shift buckets)
    def idiv(a: Column, b: Column): Column = {
      import org.apache.spark.sql.GraftColumnBridge.{toColumn, toExpression}
      toColumn(new org.apache.spark.sql.catalyst.expressions.IntegralDivide(
        toExpression(a), toExpression(b)))
    }
    def bucket(v: Column, lo: Column, hi: Column): Column =
      idiv((v - lo) * nb, hi - lo + lit(1L))
    df.crossJoin(broadcast(stats))
      .withColumn("zkey", graft.functions.MortonInterleave(
        bucket(col(xCol), col("_xmin"), col("_xmax")),
        bucket(col(yCol), col("_ymin"), col("_ymax"))))
      .drop("_xmin", "_xmax", "_ymin", "_ymax")
  }

  /** Z-order pruning-effectiveness AUDIT: measures, from statistics alone,
    * how many "files" a rectangle predicate would actually scan under two
    * physical layouts of the SAME rows — time-linear (the natural ingest
    * order) vs [[zOrderKey]] order — by cutting each layout into `files`
    * equal-count buckets, collecting per-bucket min/max of both predicate
    * columns (exactly what parquet footers store), and counting buckets
    * whose stats overlap the rectangle. This is the measurement that
    * justifies a z-ordered write before anyone rewrites 100 TB: the linear
    * layout prunes only on time (every time-slice file spans all users),
    * the z-order layout prunes on both dimensions.
    *
    * The predicate is derived from the data's own bounds in exact BIGINT
    * (`lo + span DIV 4 .. lo + span DIV 2` on each axis — the second
    * quartile rectangle), so the audit is scale-invariant and both engines
    * compute identical file sets. File assignment is the exact closed-form
    * ntile over the [[IngestOps.withGlobalPos]] rank (no single-partition
    * window); output is one row per layout with the scanned-file count and
    * fraction. */
  def zorderPruningAudit(events: DataFrame, files: Int = 64,
      bits: Int = 10): DataFrame = {
    require(files >= 2 && files <= 100000, s"files out of range: $files")
    val e = events.filter(col("user_id").isNotNull && col("ts").isNotNull)
      .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("us"))
    val keyed = zOrderKey(e, "user_id", "us", bits).persist()
    val n = keyed.count()
    def fileStats(key: Column, order: Seq[Column], layout: String): DataFrame =
      IngestOps.withGlobalPos(keyed, key, "_pos", order = order)
        .withColumn("file_id", IngestOps.ntileFromRank(col("_pos"), n, files))
        .groupBy("file_id")
        .agg(min(col("user_id")).as("umin"), max(col("user_id")).as("umax"),
          min(col("us")).as("smin"), max(col("us")).as("smax"))
        .withColumn("layout", lit(layout))
    val lin = fileStats(col("us"), Seq(col("us"), col("event_id")), "linear")
    val zo = fileStats(col("zkey"), Seq(col("zkey"), col("event_id")), "zorder")
    val bounds = keyed.agg(
      min(col("user_id")).as("xlo"), max(col("user_id")).as("xhi"),
      min(col("us")).as("tlo_all"), max(col("us")).as("thi_all"))
    lin.unionByName(zo).crossJoin(broadcast(bounds))
      .select(col("layout"), col("umin"), col("umax"), col("smin"), col("smax"),
        expr("xlo + (xhi - xlo) DIV 4").as("ulo"),
        expr("xlo + (xhi - xlo) DIV 2").as("uhi"),
        expr("tlo_all + (thi_all - tlo_all) DIV 4").as("tlo"),
        expr("tlo_all + (thi_all - tlo_all) DIV 2").as("thi"))
      .withColumn("scanned",
        when(col("umax") >= col("ulo") && col("umin") <= col("uhi") &&
          col("smax") >= col("tlo") && col("smin") <= col("thi"), 1L)
          .otherwise(0L))
      .groupBy("layout")
      .agg(count(lit(1)).as("n_files"), sum(col("scanned")).as("n_scanned"))
      .withColumn("scan_fraction",
        col("n_scanned").cast("double") / col("n_files").cast("double"))
  }

  /** Oracle twin of [[zorderPruningAudit]]: plain ntile windows (the
    * closed form's semantics), the shared Morton expression, identical
    * integer predicate derivation. */
  def zorderPruningAuditSqlDuck(files: Int = 64, bits: Int = 10): String = {
    val nb = 1L << bits
    s"""WITH s AS (SELECT min(user_id) AS xmin, max(user_id) AS xmax,
       |    min(epoch_us(ts)) AS ymin, max(epoch_us(ts)) AS ymax
       |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
       | z AS (SELECT event_id, user_id, us,
       |    ${graft.functions.MortonInterleave.sqlDuck("bx", "by", bits)} AS zkey
       |  FROM (SELECT event_id, user_id, epoch_us(ts) AS us,
       |      ((user_id - xmin) * $nb) // (xmax - xmin + 1) AS bx,
       |      ((epoch_us(ts) - ymin) * $nb) // (ymax - ymin + 1) AS by
       |    FROM events, s
       |    WHERE user_id IS NOT NULL AND ts IS NOT NULL)),
       | fl AS (
       |  SELECT 'linear' AS layout,
       |    ntile($files) OVER (ORDER BY us, event_id) AS f, user_id, us
       |  FROM z
       |  UNION ALL
       |  SELECT 'zorder' AS layout,
       |    ntile($files) OVER (ORDER BY zkey, event_id) AS f, user_id, us
       |  FROM z),
       | st AS (SELECT layout, f, min(user_id) AS umin, max(user_id) AS umax,
       |    min(us) AS smin, max(us) AS smax
       |  FROM fl GROUP BY layout, f),
       | bounds AS (SELECT min(user_id) AS xlo, max(user_id) AS xhi,
       |    min(us) AS tlo_all, max(us) AS thi_all FROM z),
       | pred AS (SELECT xlo + (xhi - xlo) // 4 AS ulo,
       |    xlo + (xhi - xlo) // 2 AS uhi,
       |    tlo_all + (thi_all - tlo_all) // 4 AS tlo,
       |    tlo_all + (thi_all - tlo_all) // 2 AS thi FROM bounds)
       |SELECT layout, CAST(count(*) AS BIGINT) AS n_files,
       |  CAST(sum(CASE WHEN umax >= ulo AND umin <= uhi
       |    AND smax >= tlo AND smin <= thi THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_scanned,
       |  CAST(sum(CASE WHEN umax >= ulo AND umin <= uhi
       |    AND smax >= tlo AND smin <= thi THEN 1 ELSE 0 END) AS DOUBLE)
       |    / CAST(count(*) AS DOUBLE) AS scan_fraction
       |FROM st CROSS JOIN pred
       |GROUP BY layout ORDER BY layout""".stripMargin
  }
}
