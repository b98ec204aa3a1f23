package graft.streaming

import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession.{sf0001, spark}

class EventStreamsSpec extends AnyFunSuite {

  test("streaming tumbling counts equal the batch aggregation (AvailableNow)") {
    val stream = EventStreams.tumblingCounts(EventStreams.readEvents(spark, sf0001))
    val q = stream.writeStream
      .format("memory")
      .queryName("tumbling_test")
      .outputMode("complete")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)

    val streamed = spark.table("tumbling_test")
      .selectExpr("date_format(hr, 'yyyy-MM-dd HH:mm:ss') AS hr",
        "event_type", "n", "CAST(sum_value AS STRING) AS sv")
      .collect().map(_.toSeq).toSet

    val batch = SparkEntryBatch.tumbling(sf0001)
      .selectExpr("hr", "event_type", "n", "CAST(sum_value AS STRING) AS sv")
      .collect().map(_.toSeq).toSet

    assert(streamed == batch)
  }

  test("UPDATE mode: a key re-emits its growing aggregate across batches (MemoryStream)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val ms = MemoryStream[(java.sql.Timestamp, String, Double)]
    val agg = EventStreams.tumblingCounts(ms.toDF.toDF("ts", "event_type", "value"))
    val buf = scala.collection.mutable.ArrayBuffer
      .empty[(Long, org.apache.spark.sql.Row)]
    val q = agg.writeStream.outputMode("update")
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
        val rows = b.collect(); buf.synchronized { buf ++= rows.map(r => (id, r)) }; ()
      }.start()
    def t(min: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$min%02d:00")
    try {
      ms.addData((t(0), "click", 1.0)); q.processAllAvailable()
      ms.addData((t(10), "click", 2.0)); q.processAllAvailable() // same hour again
    } finally q.stop()
    val clicks = buf.synchronized(buf.toList)
      .filter(_._2.getString(1) == "click").sortBy(_._1)
    // the 10:00 window emitted once per batch with the growing aggregate —
    // the observable difference between update and complete/append
    assert(clicks.map(_._2.getLong(2)) == List(1L, 2L))
  }

  test("UPDATE mode: staged-replay final per-key upsert equals the batch aggregate") {
    val EventStreams.UpdateEmissions(schema, em, _) =
      EventStreams.tumblingUpdateEmissions(spark, sf0001)
    assert(em.nonEmpty)
    // multiple micro-batches actually ran
    assert(em.map(_._1).distinct.size >= 2,
      s"expected >= 2 micro-batches, got batch ids ${em.map(_._1).distinct}")
    val hrIdx = schema.fieldIndex("hr")
    val tyIdx = schema.fieldIndex("event_type")
    val nIdx = schema.fieldIndex("n")
    val svIdx = schema.fieldIndex("sum_value")
    val perKey = em.groupBy { case (_, r) => (r.get(hrIdx), r.get(tyIdx)) }
    // normalize the streaming hr (a collected Timestamp instant) to the
    // batch side's date_format rendering so the comparison is PER KEY —
    // a value-multiset compare would pass two keys with swapped
    // aggregates (ADVICE r13)
    val hrFmt = java.time.format.DateTimeFormatter
      .ofPattern("yyyy-MM-dd HH:mm:ss").withZone(java.time.ZoneOffset.UTC)
    // final state: last emission per key == batch aggregate
    val finalState = perKey.map { case (k, es) =>
      val last = es.maxBy(_._1)._2
      (hrFmt.format(k._1.asInstanceOf[java.sql.Timestamp].toInstant),
        k._2.toString) ->
        ((last.getLong(nIdx), last.getDecimal(svIdx).toPlainString))
    }
    // batch hr is already date_format'd to 'yyyy-MM-dd HH:mm:ss'
    val batch = SparkEntryBatch.tumbling(sf0001)
      .selectExpr("hr", "event_type", "n", "CAST(sum_value AS STRING) AS sv")
      .collect()
      .map(r => (r.getString(0), r.getString(1)) -> ((r.getLong(2), r.getString(3))))
      .toMap
    assert(finalState.size == batch.size)
    assert(finalState == batch)
  }

  test("streaming sliding windows equal the batch sliding aggregation (AvailableNow)") {
    val stream = EventStreams.slidingCounts(EventStreams.readEvents(spark, sf0001))
    val q = stream.writeStream
      .format("memory").queryName("sliding_test").outputMode("complete")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val streamed = spark.table("sliding_test")
      .selectExpr("date_format(w_start, 'yyyy-MM-dd HH:mm:ss') AS ws",
        "event_type", "n", "CAST(sum_value AS STRING) AS sv")
      .collect().map(_.toSeq).toSet
    val batch = graft.SparkEntry.queries("events_sliding_agg")(spark, sf0001)
      .selectExpr("w_start", "event_type", "n", "sum_value")
      .collect().map(_.toSeq).toSet
    assert(batch.nonEmpty && streamed == batch)
  }

  test("stream-stream windowed self-join equals the batch join (AvailableNow)") {
    import org.apache.spark.sql.functions._
    val joined = EventStreams.clickPurchaseJoin(EventStreams.readEvents(spark, sf0001))
    val q = joined.writeStream
      .format("memory").queryName("ssjoin_test").outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val streamed = spark.table("ssjoin_test")
      .collect().map(_.toSeq).toSet

    val ev = graft.etl.IngestOps.table(spark, sf0001, "events")
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"), col("event_id").as("click_id"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"), col("event_id").as("purchase_id"))
    val batch = purchases.join(clicks,
        col("p_user") === col("c_user") &&
          col("c_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR") &&
          col("c_ts") <= col("p_ts"))
      .select(col("purchase_id"), col("click_id"), col("p_user").as("user_id"))
      .collect().map(_.toSeq).toSet

    assert(batch.nonEmpty, "fixture should contain click->purchase pairs within an hour")
    assert(streamed == batch)
  }

  test("stream-stream LEFT SEMI join equals the batch semi join, one row per purchase") {
    import org.apache.spark.sql.functions._
    val gated = EventStreams.clickPurchaseSemi(EventStreams.readEvents(spark, sf0001))
    val q = gated.writeStream
      .format("memory").queryName("sssemi_test").outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val streamed = spark.table("sssemi_test").collect().map(_.toSeq).toSeq

    val ev = graft.etl.IngestOps.table(spark, sf0001, "events")
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"))
    val batch = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
        col("event_id").as("purchase_id"))
      .join(clicks,
        col("p_user") === col("c_user") &&
          col("c_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR") &&
          col("c_ts") <= col("p_ts"),
        "left_semi")
      .select(col("purchase_id"), col("p_user").as("user_id"))
      .collect().map(_.toSeq).toSeq

    assert(batch.nonEmpty, "fixture should contain gated purchases")
    // at-most-once: no purchase may fan out per click
    assert(streamed.map(_.head).distinct.size == streamed.size)
    assert(streamed.toSet == batch.toSet)
  }

  test("stream-stream LEFT OUTER join: inner matches + nulls for watermark-finalized purchases") {
    import org.apache.spark.sql.functions._
    val joined = EventStreams.clickPurchaseLeftOuter(EventStreams.readEvents(spark, sf0001))
    val q = joined.writeStream
      .format("memory").queryName("ssleftjoin_test").outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val streamed = spark.table("ssleftjoin_test")
      .collect().map(_.toSeq).toSet

    val ev = graft.etl.IngestOps.table(spark, sf0001, "events")
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"), col("event_id").as("click_id"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"), col("event_id").as("purchase_id"))
    val inner = purchases.join(clicks,
        col("p_user") === col("c_user") &&
          col("c_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR") &&
          col("c_ts") <= col("p_ts"))
      .select(col("purchase_id"), col("click_id"), col("p_user"))
    // final global watermark: min of the two sides' ms-floored max event
    // time minus the delay; null rows finalize for p_ts strictly below it
    val maxCms = clicks.agg(max(expr("unix_micros(c_ts) DIV 1000"))).head.getLong(0)
    val maxPms = purchases.agg(max(expr("unix_micros(p_ts) DIV 1000"))).head.getLong(0)
    val wmUs = (math.min(maxCms, maxPms) - 3600000L) * 1000L
    val unmatchedFinal = purchases
      .join(inner.select(col("purchase_id")), Seq("purchase_id"), "left_anti")
      .filter(expr("unix_micros(p_ts)") < wmUs)
      .select(col("purchase_id"), lit(null).cast("long").as("click_id"), col("p_user"))
    val batch = inner.union(unmatchedFinal).collect().map(_.toSeq).toSet
    assert(inner.count() > 0 && unmatchedFinal.count() > 0,
      "fixture must exercise BOTH join paths")
    assert(streamed == batch)
  }

  test("checkpoint restart: a resumed windowed aggregation equals a one-shot run") {
    import org.apache.spark.sql.functions._
    val base = java.nio.file.Files.createTempDirectory("graft_restart_").toString
    val evDir = s"$base/events.parquet"
    val ev = graft.etl.IngestOps.table(spark, sf0001, "events")
      .filter(col("ts").isNotNull)
    // time-split halves so no late data crosses the restart boundary
    val cutUs = ev
      .agg(expr("min(unix_micros(ts)) + " +
        "(max(unix_micros(ts)) - min(unix_micros(ts))) DIV 2"))
      .head.getLong(0)
    ev.filter(unix_micros(col("ts")) <= cutUs)
      .write.mode("overwrite").parquet(evDir)

    // the memory sink cannot recover from a checkpoint — the restart claim
    // needs the fault-tolerant FILE sink, whose _spark_metadata log is
    // exactly what makes resumed output exactly-once
    def runOnce(out: String, ck: String): Unit = {
      val q = EventStreams.tumblingCounts(EventStreams.readEvents(spark, base))
        .selectExpr("hr", "event_type", "n", "CAST(sum_value AS STRING) AS sv")
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ck)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(120000)
    }
    // run 1: first half, checkpointed
    runOnce(s"$base/out", s"$base/ck")
    val rows1 = spark.read.parquet(s"$base/out").collect().map(_.toSeq).toSeq
    // new files arrive; run 2 RESUMES from the same checkpoint + sink dir
    ev.filter(unix_micros(col("ts")) > cutUs)
      .write.mode("append").parquet(evDir)
    runOnce(s"$base/out", s"$base/ck")
    val union = spark.read.parquet(s"$base/out").collect().map(_.toSeq).toSeq
    // one-shot over the full directory with a fresh checkpoint + sink
    runOnce(s"$base/out_fresh", s"$base/ck_fresh")
    val oneShot = spark.read.parquet(s"$base/out_fresh").collect().map(_.toSeq)

    assert(rows1.nonEmpty && union.size > rows1.size,
      "both runs must emit finalized windows")
    // exactly-once resume: no window emitted twice, union equals one-shot
    assert(union.size == union.toSet.size, "a window was emitted twice")
    assert(union.toSet == oneShot.toSet)
  }

  test("stream-stream FULL OUTER join: matches + two-sided watermark-finalized nulls") {
    import org.apache.spark.sql.functions._
    val joined = EventStreams.clickPurchaseFullOuter(EventStreams.readEvents(spark, sf0001))
    val q = joined.writeStream
      .format("memory").queryName("ssfulljoin_test").outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val streamed = spark.table("ssfulljoin_test")
      .collect().map(_.toSeq).toSet

    val ev = graft.etl.IngestOps.table(spark, sf0001, "events")
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"), col("event_id").as("click_id"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"), col("event_id").as("purchase_id"))
    val inner = purchases.join(clicks,
        col("p_user") === col("c_user") &&
          col("c_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR") &&
          col("c_ts") <= col("p_ts"))
      .select(col("purchase_id"), col("click_id"), col("p_user").as("user_id"))
    val maxCms = clicks.agg(max(expr("unix_micros(c_ts) DIV 1000"))).head.getLong(0)
    val maxPms = purchases.agg(max(expr("unix_micros(p_ts) DIV 1000"))).head.getLong(0)
    val wmUs = (math.min(maxCms, maxPms) - 3600000L) * 1000L
    // unmatched purchase finalizes when p_ts < wm (its click range is past)
    val nullClick = purchases
      .join(inner.select(col("purchase_id")), Seq("purchase_id"), "left_anti")
      .filter(expr("unix_micros(p_ts)") < wmUs)
      .select(col("purchase_id"), lit(null).cast("long").as("click_id"),
        col("p_user").as("user_id"))
    // unmatched click finalizes when c_ts + 1h < wm (it can still match
    // purchases up to c_ts + 1h, so its absence is a fact one hour later)
    val nullPurchase = clicks
      .join(inner.select(col("click_id")), Seq("click_id"), "left_anti")
      .filter(expr("unix_micros(c_ts) + 3600000000") < wmUs)
      .select(lit(null).cast("long").as("purchase_id"), col("click_id"),
        col("c_user").as("user_id"))
    val batch = inner.unionByName(nullClick).unionByName(nullPurchase)
      .collect().map(_.toSeq).toSet
    assert(inner.count() > 0 && nullClick.count() > 0 && nullPurchase.count() > 0,
      "fixture must exercise ALL THREE emission paths")
    assert(streamed == batch)
  }

  test("chained stateful ops: interval join + windowed agg equals the batch range join on finalized windows") {
    import org.apache.spark.sql.functions._
    val stream = EventStreams.rangeJoinCounts(EventStreams.readEvents(spark, sf0001))
    val q = stream.writeStream
      .format("memory").queryName("rangejoin_test").outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)

    val ev = graft.etl.IngestOps.table(spark, sf0001, "events")
    val winUs = 600000000L
    val anchors = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("anchor_id"), col("user_id").as("a_user"),
        unix_micros(col("ts")).as("s_us"),
        (unix_micros(col("ts")) + lit(winUs)).as("e_us"))
    val points = ev.select(col("user_id").as("p_user"),
      unix_micros(col("ts")).as("p_us"), col("value"))
    val batchAll = graft.ext.Ranges
      .bucketedRangeJoin(points, "p_us", anchors, "s_us", "e_us", winUs)
      .where(col("p_user") === col("a_user"))
      .groupBy("anchor_id", "s_us")
      .agg(count(lit(1)).as("n"), sum(col("value").cast("decimal(18,2)")).as("sv"))

    // append mode only emits watermark-finalized windows; restrict BOTH
    // sides to anchors whose 10-min window closed well before stream end
    val cutoffUs = anchors.agg(max("s_us")).head.getLong(0) - 3600000000L
    val batch = batchAll
      .where((floor(col("s_us") / winUs) + 1) * winUs <= cutoffUs)
      .selectExpr("anchor_id", "n", "CAST(sv AS STRING) AS sv")
      .collect().map(_.toSeq).toSet
    val streamed = spark.table("rangejoin_test")
      .where(unix_micros(col("w_end")) <= cutoffUs)
      .selectExpr("anchor_id", "n_events", "CAST(sum_value AS STRING) AS sv")
      .collect().map(_.toSeq).toSet

    assert(batch.nonEmpty, "fixture should contain finalized anchor windows")
    assert(streamed == batch)
  }

  test("stream-static enrichment join equals the batch join") {
    import org.apache.spark.sql.functions._
    val users = graft.etl.IngestOps.table(spark, sf0001, "events")
      .groupBy("user_id").agg(count(lit(1)).as("user_total"))
    val enriched = EventStreams.readEvents(spark, sf0001)
      .join(users, "user_id")
      .filter(col("user_total") >= 5)
    val q = enriched.writeStream
      .format("memory").queryName("enrich_test").outputMode("append")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val streamed = spark.table("enrich_test").count()
    val batch = graft.etl.IngestOps.table(spark, sf0001, "events")
      .join(users, "user_id").filter(col("user_total") >= 5).count()
    assert(streamed == batch && streamed > 0)
  }

  test("stream-static anti join (blocklist) equals the batch anti join") {
    import org.apache.spark.sql.functions._
    val ev = graft.etl.IngestOps.table(spark, sf0001, "events")
    // block the 5 most active users — guarantees both dropped and kept rows
    val blocklist = ev.groupBy("user_id").count()
      .orderBy(col("count").desc, col("user_id")).limit(5)
      .select(col("user_id").as("blocked_user"))
    val q = EventStreams.filterBlocklisted(
        EventStreams.readEvents(spark, sf0001), blocklist)
      .select("event_id")
      .writeStream.format("memory").queryName("blocklist_test").outputMode("append")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val streamed = spark.table("blocklist_test")
      .collect().map(_.getLong(0)).toSet
    val batch = EventStreams.filterBlocklisted(ev, blocklist)
      .select("event_id").collect().map(_.getLong(0)).toSet
    val total = ev.count()
    assert(batch.nonEmpty && batch.size < total, "blocklist must drop some but not all")
    assert(streamed == batch)
  }

  test("mapGroupsWithState per-user totals equal the batch aggregation") {
    import org.apache.spark.sql.functions._
    val stateful = EventStreams.userTotalsState(EventStreams.readEvents(spark, sf0001))
    val q = stateful.toDF.writeStream
      .format("memory").queryName("state_test").outputMode("update")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    // last update per user is the final state
    val w = org.apache.spark.sql.expressions.Window.partitionBy("user_id")
    val finalState = spark.table("state_test")
      .withColumn("m", max("n_events").over(w))
      .filter(col("n_events") === col("m"))
      .select("user_id", "n_events").distinct()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val batch = graft.etl.IngestOps.table(spark, sf0001, "events")
      .groupBy("user_id").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(finalState == batch)
  }

  test("streaming dedup by event_id equals batch distinct count") {
    val stream = EventStreams.dedupEvents(EventStreams.readEvents(spark, sf0001))
    val q = stream.writeStream
      .format("memory")
      .queryName("dedup_test")
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val streamed = spark.table("dedup_test").count()
    val batch = graft.etl.IngestOps.table(spark, sf0001, "events")
      .select("event_id").distinct().count()
    assert(streamed == batch)
  }

  test("two-stateful-op distinct users equals batch distinct on finalized windows") {
    val stream = EventStreams.distinctUsers(EventStreams.readEvents(spark, sf0001))
    val q = stream.writeStream
      .format("memory").queryName("distinct_users_test").outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val streamed = spark.table("distinct_users_test")
      .selectExpr("unix_micros(w_start) AS ws", "n_users")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val ev = graft.etl.IngestOps.table(spark, sf0001, "events")
      .selectExpr("unix_micros(ts) AS us", "user_id")
    val wmUs = ev.selectExpr("((max(us) DIV 1000 - 3600000) * 1000) AS wm")
      .head().getLong(0)
    val batch = ev
      .selectExpr("(us DIV 3600000000) * 3600000000 AS ws", "user_id")
      .distinct().groupBy("ws").count()
      .filter(org.apache.spark.sql.functions.col("ws") + 3600000000L <= wmUs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(streamed == batch && batch.nonEmpty)
  }

  test("NDJSON stream restart with the same checkpoint writes no duplicate batches") {
    val tmp = java.nio.file.Files.createTempDirectory("ndjson_restart").toString
    def runOnce(): Unit = {
      val q = EventStreams.writeNdjsonStream(
        EventStreams.readEvents(spark, sf0001),
        s"$tmp/out", s"$tmp/ckpt", Trigger.AvailableNow())
      q.awaitTermination(120000)
    }
    runOnce()
    val rows1 = spark.read.json(s"$tmp/out/batch=*").count()
    val batches1 = new java.io.File(s"$tmp/out").listFiles()
      .count(f => f.isDirectory && f.getName.startsWith("batch="))
    runOnce() // restart over the same checkpoint: source exhausted → no new batches
    val rows2 = spark.read.json(s"$tmp/out/batch=*").count()
    val batches2 = new java.io.File(s"$tmp/out").listFiles()
      .count(f => f.isDirectory && f.getName.startsWith("batch="))
    assert(rows1 > 0 && rows2 == rows1)
    assert(batches2 == batches1)
  }

  test("bounded-state streaming quantile profile equals the batch sketch bit-for-bit") {
    import org.apache.spark.sql.functions._
    // split the fixture into 4 files and feed them one per micro-batch, so
    // the k-minima state provably merges ACROSS batches (a single-batch run
    // would never exercise the incremental path)
    val dir = java.nio.file.Files.createTempDirectory("qprof_").toString
    val ev = graft.etl.IngestOps.table(spark, sf0001, "events")
      .select("event_id", "event_type", "value")
    ev.repartition(4).write.mode("overwrite").parquet(s"$dir/ev")
    val stream = spark.readStream.schema(spark.read.parquet(s"$dir/ev").schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$dir/ev")
    val q = EventStreams.quantileProfileState(stream, k = 64).writeStream
      .format("memory").queryName("qprof_test").outputMode("update")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    // final profile per group = the emission with the highest n_seen
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("event_type").orderBy(col("n_seen").desc)
    val streamed = spark.table("qprof_test")
      .withColumn("rk", row_number().over(w)).filter(col("rk") === 1)
      .selectExpr("event_type", "sample_n",
        "CAST(q50 AS STRING) AS q50", "CAST(q90 AS STRING) AS q90")
      .collect().map(_.toSeq).toSet
    val batch = graft.ext.Sketch.sampleQuantilesByGroup(
        spark.read.parquet(s"$dir/ev"), "event_type", "value", col("event_id"), 64)
      .selectExpr("event_type", "sample_n",
        "CAST(q50 AS STRING) AS q50", "CAST(q90 AS STRING) AS q90")
      .collect().map(_.toSeq).toSet
    assert(batch.nonEmpty && streamed == batch)
  }

  test("O(1)-state streaming funnel equals the batch funnel across ordered batches") {
    import org.apache.spark.sql.functions._
    // the funnelState contract is event-time-ORDERED batches: split the
    // fixture into 4 ts-quartile files written sequentially, so the file
    // source (modification-time order) feeds them as ordered micro-batches
    val dir = java.nio.file.Files.createTempDirectory("funnel_").toString
    val ev = graft.etl.IngestOps.table(spark, sf0001, "events")
      .select("user_id", "event_type", "ts")
    val w = org.apache.spark.sql.expressions.Window.orderBy("ts")
    val bucketed = ev.withColumn("b", ntile(4).over(w)).cache()
    (1 to 4).foreach { i =>
      bucketed.filter(col("b") === i).drop("b").coalesce(1)
        .write.mode("overwrite").parquet(s"$dir/ev/b$i")
      Thread.sleep(50) // distinct mod-times: the source orders files by them
    }
    bucketed.unpersist()
    val stream = spark.readStream
      .schema(spark.read.parquet(s"$dir/ev/b1").schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$dir/ev/b*")
    val q = EventStreams.funnelState(stream).writeStream
      .format("memory").queryName("funnel_test").outputMode("update")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    // final state per user = the emission with the highest step (ts fields
    // never change once set, so equal-step emissions are identical rows)
    val rk = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("step_reached").desc)
    val streamed = spark.table("funnel_test").distinct()
      .withColumn("rk", row_number().over(rk)).filter(col("rk") === 1).drop("rk")
      .collect().map(_.toSeq).toSet
    val batch = graft.ext.Analytics.funnel(
        graft.etl.IngestOps.table(spark, sf0001, "events"))
      .select("user_id", "ts1_us", "ts2_us", "ts3_us", "step_reached")
      .collect().map(_.toSeq).toSet
    assert(batch.nonEmpty && streamed == batch)
  }

  test("streaming funnel restart with the same checkpoint recovers state, no duplicates") {
    import org.apache.spark.sql.functions._
    val tmp = java.nio.file.Files.createTempDirectory("funnel_restart").toString
    val ev = graft.etl.IngestOps.table(spark, sf0001, "events")
      .select("user_id", "event_type", "ts")
    val w = org.apache.spark.sql.expressions.Window.orderBy("ts")
    val bucketed = ev.withColumn("b", ntile(2).over(w)).cache()
    (1 to 2).foreach { i =>
      bucketed.filter(col("b") === i).drop("b").coalesce(1)
        .write.mode("overwrite").parquet(s"$tmp/ev/b$i")
      Thread.sleep(50)
    }
    bucketed.unpersist()
    def runOnce(): Unit = {
      val stream = spark.readStream
        .schema(spark.read.parquet(s"$tmp/ev/b1").schema)
        .option("maxFilesPerTrigger", 1).parquet(s"$tmp/ev/b*")
      val q = EventStreams.writeNdjsonStream(
        EventStreams.funnelState(stream).toDF(),
        s"$tmp/out", s"$tmp/ckpt", Trigger.AvailableNow(), outputMode = "update")
      q.awaitTermination(120000)
    }
    runOnce()
    val batches1 = new java.io.File(s"$tmp/out").listFiles()
      .count(f => f.isDirectory && f.getName.startsWith("batch="))
    runOnce() // same checkpoint: exhausted source → no new batches, state intact
    val batches2 = new java.io.File(s"$tmp/out").listFiles()
      .count(f => f.isDirectory && f.getName.startsWith("batch="))
    assert(batches1 > 0 && batches2 == batches1)
    // final per-user rows across batch dirs equal the batch-mode funnel
    val rk = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("step_reached").desc)
    val streamed = spark.read.json(s"$tmp/out/batch=*")
      .selectExpr("CAST(user_id AS BIGINT) AS user_id",
        "CAST(ts1_us AS BIGINT) AS ts1_us", "CAST(ts2_us AS BIGINT) AS ts2_us",
        "CAST(ts3_us AS BIGINT) AS ts3_us", "CAST(step_reached AS BIGINT) AS step_reached")
      .distinct()
      .withColumn("rk", row_number().over(rk)).filter(col("rk") === 1).drop("rk")
      .collect().map(_.toSeq).toSet
    val batch = graft.ext.Analytics.funnel(ev)
      .select("user_id", "ts1_us", "ts2_us", "ts3_us", "step_reached")
      .collect().map(_.toSeq).toSet
    assert(streamed == batch)
  }

  test("stream through the reference NDJSON sink (K1) round-trips all rows") {
    val tmp = java.nio.file.Files.createTempDirectory("ndjson_stream").toString
    val q = EventStreams.writeNdjsonStream(
      EventStreams.readEvents(spark, sf0001),
      s"$tmp/out", s"$tmp/ckpt", Trigger.AvailableNow())
    q.awaitTermination(120000)
    // every batch directory is NDJSON (one all-string JSON object per line)
    val back = spark.read.json(s"$tmp/out/batch=*")
    val batch = graft.etl.IngestOps.table(spark, sf0001, "events")
    assert(back.count() == batch.count())
    assert(back.schema.fields.forall(_.dataType ==
      org.apache.spark.sql.types.StringType))
    val streamedIds = back.select("event_id").collect().map(_.getString(0)).toSet
    val batchIds = batch.select("event_id").collect().map(_.getLong(0).toString).toSet
    assert(streamedIds == batchIds)
  }

  test("funnel fold splits freely at any sorted boundary (buffered-variant invariant)") {
    // fold(fold(s, prefix), suffix) == fold(s, all) for every split point of
    // the sorted sequence — the algebraic fact that makes watermark
    // finalization in funnelStateBuffered exact. Random event sequences,
    // every split point, fixed seed.
    val steps = Seq("view", "click", "purchase")
    val rnd = new scala.util.Random(42)
    val types = Array("view", "click", "purchase", "other")
    (1 to 50).foreach { _ =>
      val n = 1 + rnd.nextInt(20)
      val evs = Seq.fill(n)((rnd.nextInt(1000).toLong, types(rnd.nextInt(4))))
        .sortBy(identity)
      val whole = EventStreams.foldSteps(
        EventStreams.FunnelState(-1L, -1L, -1L), evs, steps)
      (0 to n).foreach { cut =>
        val (a, b) = evs.splitAt(cut)
        val split = EventStreams.foldSteps(EventStreams.foldSteps(
          EventStreams.FunnelState(-1L, -1L, -1L), a, steps), b, steps)
        assert(split == whole, s"split at $cut diverged on $evs")
      }
    }
  }

  test("watermark-buffered streaming funnel equals the batch funnel under out-of-order batches") {
    import org.apache.spark.sql.functions._
    // Feed ts-quartiles in order b1, b3, b2, b4 — batch-level disorder the
    // O(1) funnelState contract forbids. The watermark delay is chosen from
    // the actual bucket boundaries so that (a) no b2 event is late when it
    // arrives after b3 (wm during batch 3 = maxB3 - delay < min b2), and
    // (b) the watermark still rises above the earliest events by the final
    // batch, so permanent finalization provably happens (n_buffered < n_seen).
    val dir = java.nio.file.Files.createTempDirectory("funnel_ooo").toString
    val ev = graft.etl.IngestOps.table(spark, sf0001, "events")
      .select("user_id", "event_type", "ts")
    val w = org.apache.spark.sql.expressions.Window.orderBy("ts")
    val bucketed = ev.withColumn("b", ntile(4).over(w)).cache()
    Seq(1, 3, 2, 4).foreach { i =>
      bucketed.filter(col("b") === i).drop("b").coalesce(1)
        .write.mode("overwrite").parquet(s"$dir/ev/b$i")
      Thread.sleep(50) // distinct mod-times: the source orders files by them
    }
    val bounds = bucketed.groupBy("b")
      .agg(min(unix_micros(col("ts"))).as("lo"), max(unix_micros(col("ts"))).as("hi"))
      .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap
    bucketed.unpersist()
    val gminUs = bounds(1)._1
    val b2loUs = bounds(2)._1
    val b3hiUs = bounds(3)._2
    // wm floor during batches 3/4 is maxB3 - delay; aim it midway between
    // the global min and b2's min: below every not-yet-arrived event, above
    // the earliest ripe ones
    val delaySec = (b3hiUs - (gminUs + b2loUs) / 2) / 1000000L
    assert(delaySec > 0 && b3hiUs - delaySec * 1000000L < b2loUs)
    val stream = spark.readStream
      .schema(spark.read.parquet(s"$dir/ev/b1").schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$dir/ev/b*")
    val q = EventStreams.funnelStateBuffered(stream, s"$delaySec seconds")
      .writeStream
      .format("memory").queryName("funnel_ooo_test").outputMode("update")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    // final row per user = the emission with the highest n_seen (strictly
    // increasing per emission; the last one has folded every event, ripe or
    // buffered, into its tentative answer)
    val rk = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("n_seen").desc)
    val finalRows = spark.table("funnel_ooo_test")
      .withColumn("rk", row_number().over(rk)).filter(col("rk") === 1).drop("rk")
      .cache()
    val streamed = finalRows
      .select("user_id", "ts1_us", "ts2_us", "ts3_us", "step_reached")
      .collect().map(_.toSeq).toSet
    val batch = graft.ext.Analytics.funnel(
        graft.etl.IngestOps.table(spark, sf0001, "events"))
      .select("user_id", "ts1_us", "ts2_us", "ts3_us", "step_reached")
      .collect().map(_.toSeq).toSet
    assert(batch.nonEmpty && streamed == batch)
    // the watermark actually finalized something: at least one user ended
    // with a partially-flushed buffer, and the global buffered tail is a
    // strict subset of everything seen
    val flushed = finalRows.filter(col("n_buffered") < col("n_seen")).count()
    assert(flushed > 0, "no user had any event finalized — watermark never bit")
    finalRows.unpersist()
  }

  test("flatMapGroupsWithState closed-session emitter equals batch closed sessions") {
    import org.apache.spark.sql.functions._
    val q = EventStreams.closedSessions(EventStreams.readEvents(spark, sf0001))
      .writeStream.format("memory").queryName("closed_sess_test")
      .outputMode("append").trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val emitted = spark.table("closed_sess_test").collect()
    // exactly-once: no session (user, start) emitted twice
    assert(emitted.map(r => (r.getLong(0), r.getLong(1))).distinct.length
      == emitted.length)
    assert(emitted.exists(_.getString(4) == "gap") &&
      emitted.exists(_.getString(4) == "timeout"))
    val streamed = emitted.map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet

    // batch twin: lag/gap sessions, closed = non-last per user OR ripe
    // against the final watermark in Spark's ms-floor arithmetic
    import org.apache.spark.sql.expressions.Window
    val byUser = Window.partitionBy("user_id").orderBy("us", "event_id")
    val cum = byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ev = graft.etl.IngestOps.table(spark, sf0001, "events")
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("us"))
    val wmMs = ev.agg(max("us")).head().getLong(0) / 1000L - 3600000L
    val batch = ev
      .withColumn("prev", lag(col("us"), 1).over(byUser))
      .withColumn("is_new", when(col("prev").isNull ||
        col("us") - col("prev") > 1800000000L, 1L).otherwise(0L))
      .withColumn("sid", sum(col("is_new")).over(cum))
      .groupBy("user_id", "sid")
      .agg(min("us").as("start_us"), max("us").as("end_us"),
        count(lit(1)).as("n_events"))
      .withColumn("last_sid", max("sid").over(Window.partitionBy("user_id")))
      .filter(col("sid") < col("last_sid") ||
        expr("(end_us + 1800000000) div 1000") < lit(wmMs))
      .select("user_id", "start_us", "end_us", "n_events")
      .collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(streamed.nonEmpty && streamed == batch)
  }

  test("stream-static enrichment join equals the batch LEFT JOIN rollup") {
    import org.apache.spark.sql.functions._
    val dim = graft.etl.IngestOps.table(spark, sf0001, "customer")
    val q = EventStreams.enrichSegmentCounts(
        EventStreams.readEvents(spark, sf0001), dim)
      .writeStream.format("memory").queryName("enrich_test")
      .outputMode("complete").trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val streamed = spark.table("enrich_test")
      .selectExpr("segment", "n", "CAST(sum_value AS STRING) AS sv")
      .collect().map(_.toSeq).toSet
    val ev = graft.etl.IngestOps.table(spark, sf0001, "events")
    val batch = ev.join(dim.select(col("c_custkey"), col("c_mktsegment")),
        ev("user_id") === col("c_custkey"), "left")
      .withColumn("segment", coalesce(col("c_mktsegment"), lit("unmatched")))
      .groupBy("segment")
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(org.apache.spark.sql.types.DecimalType(18, 2)))
          .as("sum_value"))
      .selectExpr("segment", "n", "CAST(sum_value AS STRING) AS sv")
      .collect().map(_.toSeq).toSet
    assert(streamed.nonEmpty && streamed == batch)
    // (whether an 'unmatched' bucket appears depends on the fixture's
    // user_id↔custkey overlap — sf0.01 has orphans, sf0.001 may not —
    // so only the batch equivalence is asserted here; the LEFT semantics
    // themselves are pinned by the driver oracle at sf0.01)
  }
}

/** Batch twin of the streaming aggregation, via the engine's query registry. */
object SparkEntryBatch {
  def tumbling(dir: String) = {
    val df = graft.SparkEntry.queries("events_tumbling_agg")(spark, dir)
    df.withColumnRenamed("hr", "hr")
  }
}
