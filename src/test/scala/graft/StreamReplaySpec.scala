package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession.{sf0001, spark}

/** The staged-replay harness contract (SparkEntry.replayStream): a
  * streaming row's full computation runs ONCE per (query, dir) per JVM;
  * every later invocation is a scan of the staged sink with identical
  * rows — Structured Streaming's own restart semantics (a completed
  * stream's checkpoint + durable sink are queried, never recomputed). */
class StreamReplaySpec extends AnyFunSuite {

  test("second invocation replays the staged sink: identical rows, no new stream") {
    val starts = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.sql.streaming.StreamingQueryListener {
      override def onQueryStarted(
          e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryStartedEvent): Unit = {
        starts.incrementAndGet(); ()
      }
      override def onQueryProgress(
          e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryProgressEvent): Unit = ()
      override def onQueryTerminated(
          e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }
    spark.streams.addListener(listener)
    try {
      val name = "events_stream_sliding"
      val r1 = SparkEntry.queries(name)(spark, sf0001).collect().map(_.toSeq).toSeq
      val after1 = starts.get()
      val r2 = SparkEntry.queries(name)(spark, sf0001).collect().map(_.toSeq).toSeq
      // listener delivery is async — give the bus a moment before reading
      Thread.sleep(500)
      val after2 = starts.get()
      assert(r1 == r2 && r1.nonEmpty, "replayed rows must equal the first run's")
      assert(after2 == after1,
        s"second invocation must start no streaming query (starts: $after1 -> $after2)")
    } finally spark.streams.removeListener(listener)
  }

  test("streaming rows record the STREAM plan for the fingerprint (ADVICE r15)") {
    // even on a memo hit (the stream already replayed above or in another
    // test) the row must re-construct and record the streaming plan —
    // otherwise the bench digest hashes only the staged parquet scan and a
    // real change in the stream's computation would not flip it
    SparkEntry.consumeStreamPlan() // drain any prior recording
    SparkEntry.queries("events_stream_sliding")(spark, sf0001).count()
    val sp = SparkEntry.consumeStreamPlan()
    assert(sp.nonEmpty, "streaming row must record its stream plan")
    assert(sp.get.isStreaming && sp.get.collectLeaves().exists(
        _.getClass.getSimpleName.startsWith("StreamingRelation")),
      s"recorded plan must be the analyzed STREAMING plan, got: ${sp.get.treeString.take(200)}")
    assert(SparkEntry.consumeStreamPlan().isEmpty,
      "consume must drain the recording (one-shot handoff)")
    // a batch row records nothing — a stale stream plan folded into a batch
    // row's digest would couple unrelated fingerprints
    SparkEntry.queries("q1_pricing_summary")(spark, sf0001).count()
    assert(SparkEntry.consumeStreamPlan().isEmpty,
      "batch rows must not leave a stream-plan recording")
  }
}
