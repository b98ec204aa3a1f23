package graft.streaming

import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession.{sf0001, spark}

class DocStreamsSpec extends AnyFunSuite {

  test("streaming curated per-source counts equal the batch gates + distinct-fp rollup") {
    val stream = DocStreams.curatedSourceCounts(
      DocStreams.readDocuments(spark, sf0001))
    val q = stream.writeStream
      .format("memory").queryName("docs_curate_test")
      .outputMode("complete")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val streamed = spark.table("docs_curate_test")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

    val docs = graft.etl.IngestOps.table(spark, sf0001, "documents")
    val batch = docs
      .withColumn("n_tokens", graft.ext.TextOps.tokenCount("text"))
      .withColumn("ar", when(length(col("text")) > 0,
        graft.ext.TextOps.alphaCount("text").cast("double") / length(col("text")))
        .otherwise(lit(0.0)))
      .filter(col("lang") === "en" && col("n_tokens") >= 10 &&
        col("n_tokens") <= 100000 && col("ar") >= 0.5)
      .groupBy("source").agg(countDistinct(md5(col("text"))).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

    assert(streamed == batch && streamed.nonEmpty)
  }

  test("cross-source duplicate fingerprints count once PER SOURCE (keyed dedup)") {
    import spark.implicits._
    val dir = graft.TestDirs.dir("docstreams_fix").toString
    // same admitted text in two sources + an in-source exact duplicate +
    // one gated-out row (wrong lang)
    val text = "the quick brown fox jumps over the lazy dog again and again"
    Seq(
      (1L, text, "en", "a"), (2L, text, "en", "a"), // in-source dup: 1 for a
      (3L, text, "en", "b"),                        // cross-source: 1 for b
      (4L, text, "de", "b"))                        // gated out (lang)
      .toDF("doc_id", "text", "lang", "source")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val q = DocStreams.curatedSourceCounts(DocStreams.readDocuments(spark, dir))
      .writeStream.format("memory").queryName("docs_curate_dup_test")
      .outputMode("complete").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val out = spark.table("docs_curate_dup_test")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out == Map("a" -> 1L, "b" -> 1L))
  }

  test("bounded dedup: in-window dups drop, expired keys evict, late re-arrival re-admits") {
    import spark.implicits._
    val dir = graft.TestDirs.dir("docstreams_bnd").toString
    // ingest_ts = doc_id minutes (DocStreams.withIngestTs); retention 30 min.
    // Timeline (key = (source, md5(text))); note state EVICTION lags one
    // batch behind the watermark advance (a batch consults state before
    // its end-of-batch eviction runs), hence the C batch in between:
    //   file 1: A@1min (admit), A@2min (dup INSIDE window -> drop)
    //   file 2: B@100min       (watermark advances to 70min)
    //   file 3: C@105min       (A's state, expiring at 1min+30min=31min,
    //                           is evicted under the 70min watermark)
    //   file 4: A@110min       (state gone -> RE-ADMITTED: the documented
    //                           retention-window tradeoff, not a bug)
    val tA = "the quick brown fox jumps over the lazy dog again and again"
    val tB = "a completely different admitted document with plenty of words here"
    val tC = "yet another distinct admitted document with many ordinary words inside"
    val staged = new java.io.File(dir, "in"); staged.mkdirs()
    def writeFile(n: Int, rows: Seq[(Long, String)]): Unit = {
      val f = new java.io.File(staged, s"f$n")
      rows.map { case (id, tx) => (id, tx, "en", "s") }
        .toDF("doc_id", "text", "lang", "source")
        .coalesce(1).write.mode("overwrite").parquet(f.toString)
      // modTime order = replay order (the tumblingUpdateEmissions contract)
      new java.io.File(f, "_SUCCESS").delete()
      f.listFiles().foreach(p => assert(p.setLastModified(1000000L + n * 1000L)))
    }
    writeFile(1, Seq(1L -> tA, 2L -> tA))
    writeFile(2, Seq(100L -> tB))
    writeFile(3, Seq(105L -> tC))
    writeFile(4, Seq(110L -> tA))
    val schema = spark.read.parquet(s"$staged/f1").schema
    val src = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$staged/f*")
    val q = DocStreams.curatedDedupBounded(src, retention = "30 minutes")
      .writeStream.format("memory").queryName("docs_bounded_test")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val emitted = spark.table("docs_bounded_test").collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq
    def fp(t: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(t.getBytes("UTF-8")).map("%02x".format(_)).mkString
    // A emitted twice (once per retention window), B and C once; the
    // in-window dup at 2min emitted never
    assert(emitted.sorted ==
      Seq(("s", fp(tA)), ("s", fp(tA)), ("s", fp(tB)), ("s", fp(tC))).sorted,
      emitted.toString)
    // state BOUND: 4 admissions ever, but at most the 3 live-window keys
    // remain — A's first-window entry was EVICTED by the watermark (an
    // unbounded dropDuplicates would hold all 4 forever)
    val lastState = q.recentProgress.flatMap(_.stateOperators).lastOption
    assert(lastState.exists(_.numRowsTotal <= 3),
      s"state must stay bounded by the retention window, saw ${lastState.map(_.numRowsTotal)}")
  }

  test("streaming LSH near-dup: cross-batch bucket match drops, eviction re-admits") {
    import spark.implicits._
    val dir = graft.TestDirs.dir("docstreams_nd").toString
    // Same DISTINCT token set => identical MinHash signatures => all band
    // buckets collide; tB/tC are disjoint vocabularies. ingest_ts = doc_id
    // minutes; retention 30 min. Timeline (forced one-file micro-batches):
    //   f1: doc 1 tA (registers), doc 3 tA' (same token set, SAME batch ->
    //       within-batch match against the batch min)
    //   f2: doc 5 tA'' (match via STATE - the cross-batch membership test)
    //   f3: doc 200 tB (new buckets; watermark -> 170 min after the batch)
    //   f4: doc 205 tC (tA's reps, expiring at 1+30 min, evict under the
    //       170 min watermark - eviction lags one batch)
    //   f5: doc 210 tA (state gone -> RE-ADMITTED: retention tradeoff)
    val tA = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val tA2 = "kappa iota theta eta zeta epsilon delta gamma beta alpha alpha"
    val tA3 = "beta alpha gamma delta epsilon zeta eta theta iota kappa kappa beta"
    val tB = "lambda mu nu xi omicron pi rho sigma tau upsilon"
    val tC = "phi chi psi omega aleph bet gimel dalet he vav"
    val staged = new java.io.File(dir, "in"); staged.mkdirs()
    def writeFile(n: Int, rows: Seq[(Long, String)]): Unit = {
      val f = new java.io.File(staged, s"f$n")
      rows.map { case (id, tx) => (id, tx, "en", "s") }
        .toDF("doc_id", "text", "lang", "source")
        .coalesce(1).write.mode("overwrite").parquet(f.toString)
      new java.io.File(f, "_SUCCESS").delete()
      f.listFiles().foreach(p => assert(p.setLastModified(1000000L + n * 1000L)))
    }
    writeFile(1, Seq(1L -> tA, 3L -> tA2))
    writeFile(2, Seq(5L -> tA3))
    writeFile(3, Seq(200L -> tB))
    writeFile(4, Seq(205L -> tC))
    writeFile(5, Seq(210L -> tA))
    val schema = spark.read.parquet(s"$staged/f1").schema
    val src = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$staged/f*")
    val q = DocStreams.neardupBandVerdicts(src, retentionMin = 30L)
      .writeStream.format("memory").queryName("docs_neardup_test")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val verdicts = spark.table("docs_neardup_test").collect()
      .map(r => (r.getLong(0), r.getInt(2), r.getBoolean(3)))
    // every gated doc gets one verdict per band
    assert(verdicts.length == 6 * graft.ext.Dedup.NumBands, verdicts.mkString(","))
    val admitted = verdicts.groupBy(_._1)
      .collect { case (id, vs) if vs.forall(!_._3) => id }.toSet
    assert(admitted == Set(1L, 200L, 205L, 210L),
      s"admitted=$admitted (3 within-batch drop, 5 cross-batch state drop, " +
        "210 re-admitted after eviction)")
    // state BOUND: 4 registrants ever, but tA's first-window buckets were
    // evicted - at most the 3 live docs' bands remain
    val lastState = q.recentProgress.flatMap(_.stateOperators).lastOption
    assert(lastState.exists(_.numRowsTotal <= 3L * graft.ext.Dedup.NumBands),
      s"state must stay bounded, saw ${lastState.map(_.numRowsTotal)}")
  }

  test("LSH near-dup registration keys on (ingest_ts, doc_id): out-of-order arrival, shuffled in-batch order") {
    import spark.implicits._
    val dir = graft.TestDirs.dir("docstreams_ooo").toString
    // EXPLICIT ingest_ts, NOT monotone in doc_id (withIngestTs passes a
    // caller-supplied axis through): doc 10 ingested at minute 2000, doc 20
    // at minute 1000 — same distinct token set, same batch, and the file
    // physically lists doc 10 FIRST. The (ingest_ts, doc_id) key must make
    // doc 20 the representative regardless of id order or arrival order;
    // a bare-doc_id key would pick doc 10.
    val tA = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val tA2 = "kappa iota theta eta zeta epsilon delta gamma beta alpha alpha"
    val tA3 = "beta alpha gamma delta epsilon zeta eta theta iota kappa kappa"
    def ts(min: Long) = new java.sql.Timestamp(min * 60000L)
    val staged = new java.io.File(dir, "in"); staged.mkdirs()
    def writeFile(n: Int, rows: Seq[(Long, String, java.sql.Timestamp)]): Unit = {
      val f = new java.io.File(staged, s"f$n")
      rows.map { case (id, tx, t) => (id, tx, "en", "s", t) }
        .toDF("doc_id", "text", "lang", "source", "ingest_ts")
        .coalesce(1).write.mode("overwrite").parquet(f.toString)
      new java.io.File(f, "_SUCCESS").delete()
      f.listFiles().foreach(p => assert(p.setLastModified(1000000L + n * 1000L)))
    }
    writeFile(1, Seq((10L, tA, ts(2000)), (20L, tA2, ts(1000))))
    // a later batch: doc 5 (SMALLER id, LATER ingest) must still match
    // against the state representative 20
    writeFile(2, Seq((5L, tA3, ts(3000))))
    val schema = spark.read.parquet(s"$staged/f1").schema
    val src = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$staged/f*")
    val q = DocStreams.neardupBandVerdicts(src)
      .writeStream.format("memory").queryName("docs_ooo_test")
      .outputMode("append")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val verdicts = spark.table("docs_ooo_test").collect()
      .map(r => (r.getLong(0), r.getBoolean(3), r.getLong(4))).toSeq
    assert(verdicts.length == 3 * graft.ext.Dedup.NumBands, verdicts.toString)
    // doc 20 registered every bucket; 10 (same batch) and 5 (later batch,
    // smaller id) both matched against rep 20
    assert(verdicts.forall(_._3 == 20L), s"rep must be the earliest-ingested doc: $verdicts")
    assert(verdicts.collect { case (id, m, _) if !m => id }.toSet == Set(20L),
      verdicts.toString)
  }

  test("stream-vs-corpus EXACT: novel fingerprints admit; static side materializes once across batches") {
    import spark.implicits._
    val dir = graft.TestDirs.dir("docstreams_vsc").toString
    val tOld1 = "the quick brown fox jumps over the lazy dog again and again"
    val tOld2 = "a completely different admitted document with plenty of words here"
    val tNew1 = "yet another distinct admitted document with many ordinary words inside"
    val tNew2 = "fresh crawl content with sufficiently many plain english words to pass"
    val corpus = Seq((100L, tOld1, "en", "c"), (101L, tOld2, "en", "c"))
      .toDF("doc_id", "text", "lang", "source")
    val acc = spark.sparkContext.longAccumulator("corpus_fp_probe")
    val fps = DocStreams.corpusFingerprints(corpus, Some(acc))
    try {
      val staged = new java.io.File(dir, "in"); staged.mkdirs()
      def writeFile(n: Int, rows: Seq[(Long, String)]): Unit = {
        val f = new java.io.File(staged, s"f$n")
        rows.map { case (id, tx) => (id, tx, "en", "s") }
          .toDF("doc_id", "text", "lang", "source")
          .coalesce(1).write.mode("overwrite").parquet(f.toString)
        new java.io.File(f, "_SUCCESS").delete()
        f.listFiles().foreach(p => assert(p.setLastModified(1000000L + n * 1000L)))
      }
      writeFile(1, Seq(1L -> tOld1, 2L -> tNew1)) // 1 already in corpus -> drop
      writeFile(2, Seq(3L -> tOld2, 4L -> tNew2)) // 3 drop, 4 admit
      val schema = spark.read.parquet(s"$staged/f1").schema
      val src = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$staged/f*")
      val q = DocStreams.streamVsCorpusExact(src, fps)
        .writeStream.format("memory").queryName("docs_vsc_exact_test")
        .outputMode("append")
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(120000)
      val admitted = spark.table("docs_vsc_exact_test").collect()
        .map(_.getLong(0)).toSet
      assert(admitted == Set(2L, 4L), s"admitted=$admitted")
      val batches = q.recentProgress.count(_.numInputRows > 0)
      assert(batches >= 2, s"the proof needs a multi-batch run, saw $batches")
      // THE no-rescan proof: the probe under the persist counts every row
      // the static plan actually computes — 2 distinct fingerprints, once;
      // a per-batch re-scan would read 2 * batches
      assert(acc.value == 2L,
        s"static side must materialize once, not per batch: probe=${acc.value}")
    } finally { fps.unpersist(); () }
  }

  test("stream-vs-corpus NEAR-dup: corpus bucket hits drop, within-stream dups pass, buckets materialize once") {
    import spark.implicits._
    val dir = graft.TestDirs.dir("docstreams_vscn").toString
    val tA = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val tA2 = "kappa iota theta eta zeta epsilon delta gamma beta alpha alpha"
    val tB = "lambda mu nu xi omicron pi rho sigma tau upsilon"
    val tD = "phi chi psi omega aleph bet gimel dalet he vav"
    val tD2 = "vav he dalet gimel bet aleph omega psi chi phi phi"
    val corpus = Seq((100L, tA, "en", "c")).toDF("doc_id", "text", "lang", "source")
    val acc = spark.sparkContext.longAccumulator("corpus_bucket_probe")
    val buckets = DocStreams.corpusBandBuckets(corpus, Some(acc))
    try {
      val staged = new java.io.File(dir, "in"); staged.mkdirs()
      def writeFile(n: Int, rows: Seq[(Long, String)]): Unit = {
        val f = new java.io.File(staged, s"f$n")
        rows.map { case (id, tx) => (id, tx, "en", "s") }
          .toDF("doc_id", "text", "lang", "source")
          .coalesce(1).write.mode("overwrite").parquet(f.toString)
        new java.io.File(f, "_SUCCESS").delete()
        f.listFiles().foreach(p => assert(p.setLastModified(1000000L + n * 1000L)))
      }
      // f1: doc 1 = same distinct token set as the corpus doc (all bands
      // collide -> drop), doc 2 novel -> admit
      writeFile(1, Seq(1L -> tA2, 2L -> tB))
      // f2: docs 3+4 near-dup OF EACH OTHER but of nothing in the corpus:
      // BOTH admit — this tier answers "new vs corpus", by design
      writeFile(2, Seq(3L -> tD, 4L -> tD2))
      val schema = spark.read.parquet(s"$staged/f1").schema
      val src = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$staged/f*")
      val q = DocStreams.streamVsCorpusNeardup(src, buckets)
        .writeStream.format("memory").queryName("docs_vsc_nd_test")
        .outputMode("append")
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(120000)
      val verdicts = spark.table("docs_vsc_nd_test").collect()
        .map(r => (r.getLong(0), r.getBoolean(3),
          if (r.isNullAt(4)) None else Some(r.getLong(4)))).toSeq
      assert(verdicts.length == 4 * graft.ext.Dedup.NumBands, verdicts.toString)
      val admitted = verdicts.groupBy(_._1)
        .collect { case (id, vs) if vs.forall(!_._2) => id }.toSet
      assert(admitted == Set(2L, 3L, 4L), s"admitted=$admitted")
      // a matched row names its corpus-side candidate: doc 1's hits all
      // carry the corpus doc 100 as the bucket representative
      assert(verdicts.collect { case (1L, true, rep) => rep }
        .forall(_.contains(100L)), verdicts.toString)
      val batches = q.recentProgress.count(_.numInputRows > 0)
      assert(batches >= 2, s"the proof needs a multi-batch run, saw $batches")
      // one corpus doc -> NumBands distinct buckets, computed exactly once
      assert(acc.value == graft.ext.Dedup.NumBands.toLong,
        s"corpus buckets must materialize once, not per batch: probe=${acc.value}")
    } finally { buckets.unpersist(); () }
  }
}
