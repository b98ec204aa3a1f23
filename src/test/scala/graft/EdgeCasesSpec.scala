package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession.spark
import graft.etl.{IngestOps, Sinks}
import graft.ext.{AsOf, Dedup, Similarity, TextOps}

/** Operators must behave on degenerate inputs: empty frames, single rows,
  * empty strings — a library user hits these before anything else. */
class EdgeCasesSpec extends AnyFunSuite {
  import spark.implicits._

  private val emptyDocs = Seq.empty[(Long, String, String, Long, String)]
    .toDF("doc_id", "text", "lang", "n_chars", "source")

  test("dedup ops on an empty corpus return empty, not errors") {
    assert(Dedup.exactGroups(emptyDocs).count() == 0)
    assert(Dedup.minhashSignatures(emptyDocs).count() == 0)
    assert(Dedup.lshCandidatePairs(Dedup.minhashSignatures(emptyDocs)).count() == 0)
    assert(Dedup.simhash(emptyDocs).count() == 0)
    assert(Dedup.jaccardPairs(emptyDocs).count() == 0)
    assert(Dedup.dropNearDuplicates(emptyDocs).count() == 0)
    assert(Dedup.shingles(emptyDocs).count() == 0)
    assert(Dedup.clusterByBuckets(emptyDocs,
      Dedup.bandBuckets(Dedup.minhashSignatures(emptyDocs))).count() == 0)
    assert(TextOps.tfidfTopTerms(emptyDocs).count() == 0)
    assert(TextOps.clean(emptyDocs).count() == 0)
  }

  test("chunk/pack/ngram/pipeline ops on an empty corpus return empty, not errors") {
    import graft.ext.{Chunking, Pipelines}
    assert(Chunking.chunkDocs(emptyDocs).count() == 0)
    assert(Chunking.packSequences(emptyDocs).count() == 0)
    assert(Chunking.topNgrams(emptyDocs).count() == 0)
    assert(Dedup.dropNearDuplicatesLsh(emptyDocs).count() == 0)
    assert(Pipelines.trainingExamples(emptyDocs).count() == 0)
  }

  test("analytics/curation ops on empty inputs return empty, not errors") {
    import graft.ext.{Analytics, Pipelines, Sketch}
    val emptyEvents = Seq.empty[(Long, Long, Long, String, Double)]
      .toDF("event_id", "us", "user_id", "event_type", "value")
      .withColumn("ts", timestamp_micros(col("us"))).drop("us")
    assert(Analytics.funnel(emptyEvents).count() == 0)
    assert(Analytics.retentionCohorts(emptyEvents).count() == 0)
    assert(Analytics.outliersIqr(emptyEvents).count() == 0)
    assert(Analytics.minmaxScale(emptyEvents).count() == 0)
    assert(Analytics.winsorize(emptyEvents).count() == 0)
    assert(Sketch.exactQuantileDiscByGroup(emptyEvents, "event_type", "value").count() == 0)
    assert(TextOps.piiRedact(emptyDocs).count() == 0)
    assert(TextOps.surprisal(emptyDocs).count() == 0)
    assert(Pipelines.temperatureMix(emptyDocs).count() == 0)
    assert(TextOps.bm25(emptyDocs).count() == 0)
    assert(TextOps.postings(emptyDocs).count() == 0)
    assert(TextOps.novelty(emptyDocs).count() == 0)
    assert(TextOps.decontaminateBloom(emptyDocs, emptyDocs).count() == 0)
    assert(Pipelines.incrementalIngest(emptyDocs, emptyDocs).count() == 0)
    assert(Pipelines.incrementalIngestNearDup(emptyDocs, emptyDocs).count() == 0)
  }

  test("analytics ops where every value is null: no outliers, zero scales") {
    import graft.ext.Analytics
    val e = Seq((1L, 10L, "view"), (2L, 20L, "click"))
      .toDF("event_id", "user_id", "event_type")
      .withColumn("value", lit(null).cast("double"))
    assert(Analytics.outliersIqr(e).count() == 0)
    // all-null group: vmax > vmin is NULL → CASE falls to ELSE 0.0, the
    // same on both engines (degenerate-range convention)
    val scaled = Analytics.minmaxScale(e).select("scaled").collect()
    assert(scaled.length == 2 && scaled.forall(r => !r.isNullAt(0) && r.getDouble(0) == 0.0))
  }

  test("chunk/pack on whitespace-only and single-token docs") {
    import graft.ext.Chunking
    val d = Seq((1L, "   "), (2L, "word"), (3L, "")).toDF("doc_id", "text")
    val chunks = Chunking.chunkDocs(d).collect()
    assert(chunks.length == 1 && chunks.head.getAs[String]("chunk_text") == "word")
    val packed = Chunking.packSequences(
      d.withColumn("lang", lit("en")), budget = 4, shards = 1).collect()
    // token-less docs still pack (n_tok = 0) — they occupy a slot, not budget
    assert(packed.map(_.getAs[Long]("n_docs")).sum == 3)
    assert(packed.map(_.getAs[Long]("seq_tokens")).sum == 1)
  }

  test("single-doc corpus: clusters itself alone, tfidf scores 1*1/1") {
    val one = Seq((7L, "solo words here", "en", 15L, "t"))
      .toDF("doc_id", "text", "lang", "n_chars", "source")
    val cl = Dedup.clusterByBuckets(one,
      Dedup.bandBuckets(Dedup.minhashSignatures(one))).collect()
    assert(cl.map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((7L, 7L)))
    val tf = TextOps.tfidfTopTerms(one).collect()
    assert(tf.length == 3 && tf.forall(_.getAs[Double]("score") == 1.0))
  }

  test("text ops on empty corpus and on empty/whitespace strings") {
    assert(TextOps.quality(emptyDocs).count() == 0)
    assert(TextOps.langId(emptyDocs).count() == 0)
    val d = Seq((1L, ""), (2L, "   "), (3L, "...")).toDF("doc_id", "text")
    val q = TextOps.quality(d).collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(q(1L).getAs[Long]("n_tokens") == 0 && q(1L).getAs[Double]("alpha_ratio") == 0.0)
    assert(q(3L).getAs[Long]("n_alpha") == 0)
    val fp = TextOps.fingerprint(d).collect().map(_.getAs[String]("fp"))
    assert(fp.distinct.length == 1) // all token-normalize to "" → same hash
  }

  test("minhash drops token-less docs (empty-group parity with the oracle)") {
    val d = Seq((1L, ""), (2L, "real words here")).toDF("doc_id", "text")
    val sigs = Dedup.minhashSignatures(d).select("doc_id").as[Long].collect()
    assert(sigs.toSeq == Seq(2L))
  }

  test("similarity on single-vector and empty frames") {
    val one = Seq((0L, Array.fill(64)(0.5f))).toDF("vec_id", "embedding")
    assert(Similarity.bruteForceTopK(one, nQueries = 1, k = 5).count() == 0) // no non-self candidates
    assert(Similarity.cosinePairs(one).count() == 0)
    val none = Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")
    assert(Similarity.bruteForceTopK(none).count() == 0)
    assert(Similarity.annTopK(none).count() == 0)
  }

  test("temporal ops on empty and single-row frames") {
    import graft.ext.Temporal
    val empty = Seq.empty[(Long, String, Long, Long)]
      .toDF("user_id", "event_type", "us", "event_id")
    assert(Temporal.stateIntervals(empty, "user_id", "event_type", "us", "event_id")
      .count() == 0)
    val emptyV = Seq.empty[(Long, Long, Long, Double)]
      .toDF("user_id", "us", "event_id", "value")
    assert(Temporal.decayedTrailingSum(emptyV, "user_id", "us", "event_id", "value")
      .count() == 0)
    val one = Seq((1L, "view", 10L, 1L)).toDF("user_id", "event_type", "us", "event_id")
    val iv = Temporal.stateIntervals(one, "user_id", "event_type", "us", "event_id")
      .collect()
    assert(iv.length == 1 && iv.head.getAs[Long]("valid_from_us") == 10L &&
      iv.head.getAs[Long]("valid_to_us") == 10L)
    // empty frame through windowedDedup (needs a real timestamp column)
    val emptyTs = Seq.empty[(Long, java.sql.Timestamp, Long, String)]
      .toDF("user_id", "ts", "event_id", "event_type")
    assert(Temporal.windowedDedup(emptyTs, "ts", "event_id",
      Seq("user_id", "event_type")).count() == 0)
  }

  test("z-order key on degenerate ranges: single value buckets to 0") {
    import graft.etl.Layout
    val one = Seq((5L, 7L)).toDF("x", "y")
    val z = Layout.zOrderKey(one, "x", "y").select("zkey").as[Long].head()
    assert(z == 0L) // min==max on both dims → bucket 0 interleaved with 0
    val empty = Seq.empty[(Long, Long)].toDF("x", "y")
    assert(Layout.zOrderKey(empty, "x", "y").count() == 0)
  }

  test("as-of join with an empty right side is empty") {
    val l = Seq((1L, 10L, "x")).toDF("k", "t", "payload")
    val r = Seq.empty[(Long, Long, Double)].toDF("k", "t", "px")
    assert(AsOf.asofJoin(l, r, "k", "t", Map("px" -> "ref")).count() == 0)
  }

  test("chunkStats and sinks on empty input") {
    val empty = Seq.empty[(Long, String)].toDF("k", "v")
    assert(Sinks.chunkStats(empty, 100, col("k")).count() == 0)
    val path = graft.TestDirs.dir("edge").toString + "/arr.json"
    assert(Sinks.jsonArray(empty, path).rows == 0L)
    assert(java.nio.file.Files.readString(java.nio.file.Paths.get(path)) == "[]")
  }

  test("allString / blanksForNulls / dropEmptyRows on empty frame") {
    val empty = Seq.empty[(Long, String)].toDF("k", "v")
    assert(IngestOps.allString(empty).count() == 0)
    assert(IngestOps.dropEmptyRows(IngestOps.blanksForNulls(empty)).count() == 0)
  }

  test("range join, sketch, mixing, repetition, decontamination on empty inputs") {
    val emptyIv = Seq.empty[(Long, Long, Long)].toDF("iv_id", "s", "e")
    val emptyPt = Seq.empty[(Long, Long)].toDF("pt_id", "p")
    val pts = Seq((1L, 5L)).toDF("pt_id", "p")
    val ivs = Seq((1L, 0L, 10L)).toDF("iv_id", "s", "e")
    assert(graft.ext.Ranges.bucketedRangeJoin(emptyPt, "p", ivs, "s", "e", 10L).count() == 0)
    assert(graft.ext.Ranges.bucketedRangeJoin(pts, "p", emptyIv, "s", "e", 10L).count() == 0)

    val emptyKeys = Seq.empty[Long].toDF("k")
    val sk = graft.ext.Sketch.kmvDistinct(emptyKeys, col("k"), 4).collect().head
    assert(sk.isNullAt(sk.fieldIndex("kth_hash")) &&
      sk.getAs[Long]("exact_distinct") == 0L)
    assert(graft.ext.Sketch.kmvDistinctBy(
      emptyDocs, "source", col("text"), 4).count() == 0)

    // sample quantiles: empty input -> one row, zero sample, null quantiles
    val emptyVals = Seq.empty[(Long, Double)].toDF("k", "v")
    val sq = graft.ext.Sketch.sampleQuantiles(emptyVals, "v", col("k"), 4)
      .collect().head
    assert(sq.getAs[Long]("sample_n") == 0L && sq.isNullAt(sq.fieldIndex("q50")))
    assert(graft.ext.Sketch.sampleQuantilesByGroup(
      emptyDocs, "source", "n_chars", col("doc_id"), 4).count() == 0)
    // segment dedup: empty corpus and token-less docs yield no rows
    assert(TextOps.dedupSegments(emptyDocs).count() == 0)
    assert(TextOps.dedupSegments(
      Seq((1L, ""), (2L, "   ")).toDF("doc_id", "text")).count() == 0)
    assert(TextOps.dedupSegmentsGlobal(emptyDocs).count() == 0)
    // selection quantile and hash split on empty frames
    val eq = graft.ext.Sketch.exactQuantileDisc(emptyDocs, "n_chars").collect()
    assert(eq.length == 2 && eq.forall(r => r.getLong(1) == 0L && r.isNullAt(2)))
    assert(graft.ext.Pipelines.splitByHash(emptyDocs, "doc_id",
      Seq("train" -> 0.9, "test" -> 0.1)).count() == 0)

    assert(graft.ext.Pipelines.mixSources(
      emptyDocs, "source", "doc_id", lit(1.0)).count() == 0)
    assert(TextOps.repetition(emptyDocs).count() == 0)
    assert(TextOps.decontaminate(emptyDocs, emptyDocs).count() == 0)
    // empty benchmark: nothing is contaminated, all candidates survive
    val cand = Seq((1L, "some words in a document right here", "en", 35L, "s"))
      .toDF("doc_id", "text", "lang", "n_chars", "source")
    assert(TextOps.decontaminate(cand, emptyDocs).count() == 1)
  }

  test("round-11 stats/affinity/sweep operators on empty and degenerate inputs") {
    import graft.ext.{Analytics, Dedup, Sketch, Stats, Temporal}
    val emptyEv = Seq.empty[(Long, Long, java.sql.Timestamp, String, Option[Double])]
      .toDF("event_id", "user_id", "ts", "event_type", "value")
    assert(Stats.pearsonByHour(emptyEv).count() == 0)
    assert(Stats.anomalyZscore(emptyEv).count() == 0)
    assert(Analytics.transitionMatrix(emptyEv).count() == 0)
    assert(Analytics.typeAffinity(emptyEv).count() == 0)
    spark.catalog.clearCache()
    assert(Temporal.sessionIntervals(emptyEv).count() == 0)
    assert(Temporal.intervalConcurrency(
      Seq.empty[(Long, Long)].toDF("s", "e"), "s", "e").count() == 0)
    // single interval: curve is 1 then 0
    assert(Temporal.intervalConcurrency(Seq((1L, 5L)).toDF("s", "e"), "s", "e")
      .orderBy("us").select("n_active").as[Long].collect().toSeq == Seq(1L, 0L))
    assert(Stats.profileColumns(emptyDocs, Seq("doc_id", "text"))
      .select("n_rows", "n_distinct").as[(Long, Long)].collect().toSeq ==
      Seq((0L, 0L), (0L, 0L)))
    assert(Sketch.countMinTokens(emptyDocs).count() == 0)
    assert(Dedup.editDistancePairs(emptyDocs).count() == 0)
    assert(TextOps.tfidfCosinePairs(emptyDocs).count() == 0)
    spark.catalog.clearCache()
    // single-user single-event: no transitions, no anomalies, one session
    val one = Seq((1L, 7L, java.sql.Timestamp.from(java.time.Instant.EPOCH),
      "view", Some(1.0))).toDF("event_id", "user_id", "ts", "event_type", "value")
    assert(Analytics.transitionMatrix(one).count() == 0)
    assert(Stats.anomalyZscore(one).count() == 0)
    assert(Temporal.sessionIntervals(one).count() == 1)
  }

  test("round-11 operators on empty inputs return empty, not errors") {
    import graft.ext.{Analytics, Graph, Multimodal, Pipelines, Stats}
    val emptyEvents = Seq.empty[(Long, Long, Long, Double, String)]
      .toDF("event_id", "user_id", "us", "value", "event_type")
      .withColumn("ts", timestamp_micros(col("us")))
    val emptyPairs = Seq.empty[(Long, Long)].toDF("doc_a", "doc_b")
    assert(Stats.cusumChangepoints(emptyEvents).count() == 0)
    assert(Stats.botRates(emptyEvents).count() == 0)
    assert(Stats.seasonality(emptyEvents).count() == 0)
    assert(Analytics.attribution(emptyEvents).count() == 0)
    assert(Dedup.containmentPrefixJoin(emptyDocs).count() == 0)
    assert(Dedup.simhashHammingPairs(emptyDocs).count() == 0)
    assert(Graph.linkPrediction(emptyPairs).count() == 0)
    assert(TextOps.searchTopK(emptyDocs).count() == 0)
    assert(TextOps.searchRrf(emptyDocs).count() == 0)
    assert(Pipelines.sourceOverlap(emptyDocs).count() == 0)
    assert(Pipelines.dedupWeights(emptyDocs).count() == 0)
    assert(Multimodal.patches(Multimodal.asMedia(emptyDocs)).count() == 0)
  }

  test("round-11 single-row inputs: well-defined, never a crash") {
    import graft.ext.{Analytics, Stats}
    val one = Seq((1L, 1L, 1000000L, 5.0, "purchase"))
      .toDF("event_id", "user_id", "us", "value", "event_type")
      .withColumn("ts", timestamp_micros(col("us")))
    // single event: no span → no rate flag; CUSUM: d = -k ≤ 0 → no alarm
    assert(Stats.cusumChangepoints(one).count() == 0)
    val br = Stats.botRates(one).collect()
    assert(br.length == 1 && br.head.isNullAt(3) && !br.head.getBoolean(5))
    // a lone purchase is a dark conversion, not an error
    val at = Analytics.attribution(one).collect()
    assert(at.length == 1 && at.head.getLong(3) == 0L)
    // seasonality: one cell, SStot 0 → null R²
    val se = Stats.seasonality(one).collect()
    assert(se.length == 1 && se.head.isNullAt(5))
  }

  test("round-12 operators on empty inputs return empty, not errors") {
    import graft.ext.{Pipelines, Sketch}
    val emptyEvents = Seq.empty[(Long, Long, Long, Double, String)]
      .toDF("event_id", "user_id", "us", "value", "event_type")
      .withColumn("ts", timestamp_micros(col("us")))
    assert(Pipelines.sourceCap(emptyDocs).count() == 0)
    assert(Pipelines.shuffleOrder(emptyDocs).count() == 0)
    assert(Pipelines.incrementalIngestNearDup(emptyDocs, emptyDocs).count() == 0)
    assert(Sketch.hllDistinctByGroup(emptyEvents, "event_type", "user_id").count() == 0)
  }

  test("round-12 degenerate shapes: empty-side ingest, tiny rfm, 1-key HLL") {
    import graft.ext.{Analytics, Pipelines, Sketch}
    val oneDoc = Seq((7L, "alpha beta gamma", "en", 16L, "src0"))
      .toDF("doc_id", "text", "lang", "n_chars", "source")
    // empty existing corpus: the whole batch is cross-survivor; the batch
    // keep-first still applies within the increment
    assert(Pipelines.incrementalIngestNearDup(emptyDocs, oneDoc).count() == 1)
    // empty increment against a real corpus: nothing to admit, no error
    assert(Pipelines.incrementalIngestNearDup(oneDoc, emptyDocs).count() == 0)
    // a single doc is its own shuffle permutation and survives any cap
    assert(Pipelines.shuffleOrder(oneDoc).head().getLong(1) == 1L)
    assert(Pipelines.sourceCap(oneDoc, 1).count() == 1)
    // rfm with fewer customers than quintiles: ntile degenerates to rank
    val tiny = Seq((1L, 3L, 0L, 10.0), (2L, 4L, 86400000000L, 20.0))
      .toDF("o_orderkey", "o_custkey", "us", "o_totalprice")
      .withColumn("o_orderdate", timestamp_micros(col("us")))
    val scores = Analytics.rfm(tiny).collect()
      .map(r => r.getLong(0) -> r.getLong(4)).toMap
    assert(scores.values.toSet == Set(1L, 2L))
    // HLL on a single key: one register hit, estimate within the
    // small-range bias envelope (raw estimator, no linear counting)
    val oneEv = Seq((1L, 42L, 1000000L, 5.0, "view"))
      .toDF("event_id", "user_id", "us", "value", "event_type")
      .withColumn("ts", timestamp_micros(col("us")))
    val h = Sketch.hllDistinctByGroup(oneEv, "event_type", "user_id").head()
    assert(h.getAs[Long]("n_exact") == 1L && h.getAs[Long]("registers_hit") == 1L)
    assert(h.getAs[Double]("hll_estimate") > 0.0 && h.getAs[Double]("hll_estimate") < 260.0)
  }

  test("round-12 continuation operators on empty inputs return empty, not errors") {
    import graft.ext.{Analytics, Pipelines, Stats}
    val emptyEvents = Seq.empty[(Long, Long, Long, String, Double)]
      .toDF("event_id", "us", "user_id", "event_type", "value")
      .withColumn("ts", timestamp_micros(col("us"))).drop("us")
    assert(Stats.ksDrift(emptyDocs).count() == 0)
    assert(TextOps.vocabCoverage(emptyDocs).count() == 0)
    assert(Dedup.crossSourceOverlap(emptyDocs).count() == 0)
    assert(Pipelines.corpusDiff(emptyDocs, emptyDocs).count() == 0)
    assert(Analytics.cumulativeUsers(emptyEvents).count() == 0)
    // one-sided diff still classifies: everything in v2 is "added"
    val one = Seq((1L, "x")).toDF("doc_id", "text")
    val d = Pipelines.corpusDiff(emptyDocs.select("doc_id", "text"), one)
      .collect()
    assert(d.length == 1 && d.head.getString(0) == "added" && d.head.getLong(1) == 1L)
    // ksDrift with one empty side: numerators are all cumA·0 − cumB·nA …
    // d_den = 0 → d_micro null, never a division error
    val oneSided = Seq(("src0", 5L), ("src0", 9L)).toDF("source", "n_chars")
    val ks = Stats.ksDrift(oneSided).collect()
    assert(ks.length == 1 && ks.head.isNullAt(ks.head.fieldIndex("d_micro")))
  }

  test("session-2 operators on empty/degenerate inputs return empty, not errors") {
    import graft.ext.Pipelines
    assert(Dedup.keepBestInCluster(emptyDocs).count() == 0)
    assert(TextOps.searchEval(emptyDocs).count() == 0)
    assert(TextOps.bpeMerges(emptyDocs).count() == 0)
    assert(TextOps.bpeEncode(emptyDocs).count() == 0)
    assert(Pipelines.kfoldReport(emptyDocs).count() == 0)
    assert(Pipelines.curriculumShards(emptyDocs).count() == 0)
    assert(TextOps.langIdEval(emptyDocs).count() == 0)
    // all-single-char words: no adjacent pairs anywhere → zero merges
    // (the early-stop path), and encode degenerates to 1 piece per word
    val chars = Seq((1L, "a b c", "s1")).toDF("doc_id", "text", "source")
    assert(TextOps.bpeMerges(chars).count() == 0)
    val enc = TextOps.bpeEncode(chars).collect().head
    assert(enc.getAs[Long]("n_words") == 3L && enc.getAs[Long]("n_pieces") == 3L)
    // curriculum on a corpus where NO doc has 2+ tokens: nothing scheduled
    val tiny = Seq((1L, "solo", "en", 4L, "s1")).toDF(
      "doc_id", "text", "lang", "n_chars", "source")
    assert(Pipelines.curriculumShards(tiny).count() == 0)
  }
}
