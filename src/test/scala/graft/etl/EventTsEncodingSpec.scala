package graft.etl

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession

/** Event-time ingestion must be robust to the physical parquet encoding of
  * `events.ts` — the fixture has shipped as TIMESTAMP(NANOS), then as
  * TIMESTAMP_NTZ(µs); a user's parquet may carry TIMESTAMP(µs,UTC). All
  * three must normalize to identical session-tz timestamps through BOTH the
  * batch entry point (IngestOps.table) and the streaming one
  * (EventStreams.readEvents).
  *
  * Also asserts the LIVE /root/testdata fixture schemas, so driver-side
  * fixture regeneration fails here with the drifted column named, instead of
  * as ten opaque downstream oracle failures (round-10 postmortem).
  */
class EventTsEncodingSpec extends AnyFunSuite {
  private val spark = SparkTestSession.spark
  import spark.implicits._

  // one event at 2024-03-01T12:34:56.789012Z plus a null ts
  private val baseUs = 1709296496789012L

  private def writeEvents(dir: String, tsCol: org.apache.spark.sql.Column): Unit =
    Seq((1L, Some(baseUs), 7L, "view", 1.5, "{}"),
        (2L, None, 8L, "click", 2.5, "{}"))
      .toDF("event_id", "us", "user_id", "event_type", "value", "props")
      .withColumn("ts", tsCol)
      .drop("us")
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(dir)

  private def microsOf(df: org.apache.spark.sql.DataFrame): Seq[(Long, Option[Long])] = {
    assert(df.schema("ts").dataType === TimestampType,
      "normalized ts must be session-tz TimestampType")
    df.select(col("event_id"), unix_micros(col("ts")))
      .as[(Long, Option[Long])].collect().toSeq.sortBy(_._1)
  }

  private val expected = Seq((1L, Some(baseUs)), (2L, None))

  test("batch table() normalizes ns-long, µs-NTZ, and µs-LTZ ts identically") {
    val tmp = graft.TestDirs.dir("graft-tsenc").toString
    // (a) ns-as-long: the DataFrame surface parquet TIMESTAMP(NANOS) presents
    //     under spark.sql.legacy.parquet.nanosAsLong (Spark cannot write NANOS
    //     itself, so write the post-flag LongType surface directly)
    writeEvents(s"$tmp/ns/events.parquet", (col("us") * 1000L).cast(LongType))
    // (b) µs TIMESTAMP_NTZ — the current fixture encoding
    writeEvents(s"$tmp/ntz/events.parquet",
      timestamp_micros(col("us")).cast(TimestampNTZType))
    // (c) µs TIMESTAMP(UTC) — plain session-tz timestamp
    writeEvents(s"$tmp/ltz/events.parquet", timestamp_micros(col("us")))

    for (enc <- Seq("ns", "ntz", "ltz")) {
      val got = microsOf(IngestOps.table(spark, s"$tmp/$enc", "events"))
      assert(got === expected, s"batch path, encoding=$enc")
    }
  }

  test("streaming readEvents normalizes ns-long, µs-NTZ, and µs-LTZ ts identically") {
    val tmp = graft.TestDirs.dir("graft-tsenc-st").toString
    writeEvents(s"$tmp/ns/events.parquet", (col("us") * 1000L).cast(LongType))
    writeEvents(s"$tmp/ntz/events.parquet",
      timestamp_micros(col("us")).cast(TimestampNTZType))
    writeEvents(s"$tmp/ltz/events.parquet", timestamp_micros(col("us")))
    for (enc <- Seq("ns", "ntz", "ltz")) {
      val stream = graft.streaming.EventStreams.readEvents(spark, s"$tmp/$enc")
      assert(stream.isStreaming)
      assert(stream.schema("ts").dataType === TimestampType,
        s"streaming ts must normalize to TimestampType, encoding=$enc")
      val out = s"$tmp/$enc-out"
      stream.writeStream
        .format("parquet")
        .option("path", out)
        .option("checkpointLocation", s"$tmp/$enc-ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start().awaitTermination(60000)
      assert(microsOf(spark.read.parquet(out)) === expected,
        s"streaming path, encoding=$enc")
    }
  }

  test("live fixture schemas have not drifted (fail here, legibly, not in 10 oracles)") {
    val dir = SparkTestSession.sf0001
    // events: whatever the physical encoding, table() must yield TimestampType
    val events = IngestOps.table(spark, dir, "events")
    assert(events.schema("ts").dataType === TimestampType,
      s"events.ts normalized type drifted: ${events.schema("ts").dataType} " +
        "(did the driver regenerate the fixture with a new encoding? extend " +
        "IngestOps.normalizeEventTs)")
    val evCols = events.schema.fields.map(f => f.name -> f.dataType).toMap
    for ((c, t) <- Seq("event_id" -> LongType, "user_id" -> LongType,
        "event_type" -> StringType, "value" -> DoubleType, "props" -> StringType))
      assert(evCols.get(c).contains(t), s"events.$c drifted: ${evCols.get(c)}")

    // the other tables the suite depends on: name → required columns
    val required = Map(
      "lineitem" -> Seq("l_orderkey", "l_quantity", "l_returnflag", "l_shipdate"),
      "orders" -> Seq("o_orderkey", "o_custkey", "o_orderdate"),
      "customer" -> Seq("c_custkey", "c_nationkey"),
      "documents" -> Seq("doc_id", "text", "source"),
      "embeddings" -> Seq("vec_id", "embedding", "label"))
    for ((t, cols) <- required) {
      val have = IngestOps.table(spark, dir, t).schema.fieldNames.toSet
      val missing = cols.filterNot(have)
      assert(missing.isEmpty, s"$t drifted: missing $missing (have $have)")
    }
  }
}
