package graft.ext

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession.spark

class ChunkingSpec extends AnyFunSuite {
  import spark.implicits._

  private def docs(rows: (Long, String)*) = rows.toDF("doc_id", "text")

  test("chunkDocs: start/ceil arithmetic covers every token, short tail kept") {
    // 8 tokens, chunk 3, stride 2 → ceil((8-3)/2)=3 → starts 0,2,4,6 →
    // lengths 3,3,3,2 (the last chunk is the short tail)
    val d = docs((1L, "t0 t1 t2 t3 t4 t5 t6 t7"))
    val out = Chunking.chunkDocs(d, chunkTokens = 3, stride = 2)
      .orderBy("chunk_id").collect()
    assert(out.map(_.getAs[Long]("chunk_id")).toSeq == Seq(0L, 1L, 2L, 3L))
    assert(out.map(_.getAs[Long]("n_tokens")).toSeq == Seq(3L, 3L, 3L, 2L))
    assert(out.head.getAs[String]("chunk_text") == "t0 t1 t2")
    assert(out(1).getAs[String]("chunk_text") == "t2 t3 t4")
    assert(out.last.getAs[String]("chunk_text") == "t6 t7")
  }

  test("chunkDocs: no chunk start beyond the last covering window") {
    // 7 tokens, chunk 3, stride 2 → ceil(4/2)=2 → starts 0,2,4 only: the
    // final window already reaches the end, so no degenerate tail chunk
    val out = Chunking.chunkDocs(docs((1L, "t0 t1 t2 t3 t4 t5 t6")),
      chunkTokens = 3, stride = 2).orderBy("chunk_id").collect()
    assert(out.map(_.getAs[Long]("n_tokens")).toSeq == Seq(3L, 3L, 3L))
    assert(out.last.getAs[String]("chunk_text") == "t4 t5 t6")
  }

  test("chunkDocs: doc shorter than one chunk → exactly one chunk; empty → none") {
    val d = docs((1L, "only two"), (2L, ""), (3L, "..."))
    val out = Chunking.chunkDocs(d, chunkTokens = 5, stride = 3).collect()
    assert(out.length == 1)
    assert(out.head.getAs[Long]("doc_id") == 1L)
    assert(out.head.getAs[String]("chunk_text") == "only two")
  }

  test("chunkDocs: exact-fit boundary produces no empty trailing chunk") {
    // 6 tokens, chunk 3, stride 3 → starts 0,3 only
    val d = docs((1L, "a b c d e f"))
    val out = Chunking.chunkDocs(d, chunkTokens = 3, stride = 3).collect()
    assert(out.length == 2)
    assert(out.forall(_.getAs[Long]("n_tokens") == 3L))
  }

  test("packSequences: cumulative-offset binning with per-shard streams") {
    // one lang, shards=1 → single stream ordered by doc_id; budget 5
    // n_tok: 3,3,2,4 → offsets 0,3,6,8 → bins 0,0,1,1
    val d = Seq(
      (0L, "en", "a b c"), (1L, "en", "d e f"),
      (2L, "en", "g h"), (3L, "en", "i j k l")
    ).toDF("doc_id", "lang", "text")
    val out = Chunking.packSequences(d, budget = 5, shards = 1)
      .orderBy("seq_id").collect()
    assert(out.length == 2)
    assert(out.map(r => (r.getAs[Long]("seq_id"), r.getAs[Long]("n_docs"),
      r.getAs[Long]("seq_tokens"))).toSeq == Seq((0L, 2L, 6L), (1L, 2L, 6L)))
    assert(out.head.getAs[Double]("fill_ratio") == 6.0 / 5)
  }

  test("packSequences: shard key splits a language into interleaved streams") {
    val d = (0L until 8L).map(i => (i, "en", "w x y z")).toDF("doc_id", "lang", "text")
    val out = Chunking.packSequences(d, budget = 8, shards = 4).collect()
    // 4 shards × 2 docs × 4 tokens = one full bin per shard
    assert(out.length == 4)
    assert(out.forall(_.getAs[Long]("seq_tokens") == 8L))
    assert(out.map(_.getAs[Long]("shard")).sorted.toSeq == Seq(0L, 1L, 2L, 3L))
  }

  test("packSequences is partitioning-invariant") {
    val d = (0L until 40L).map(i => (i, if (i % 2 == 0) "en" else "de",
      ("tok " * (1 + (i % 7).toInt)).trim)).toDF("doc_id", "lang", "text")
    val a = Chunking.packSequences(d.repartition(1), budget = 10, shards = 3)
      .orderBy("lang", "shard", "seq_id").collect().toSeq
    val b = Chunking.packSequences(d.repartition(13), budget = 10, shards = 3)
      .orderBy("lang", "shard", "seq_id").collect().toSeq
    assert(a == b)
  }

  test("topNgrams: counts consecutive pairs with deterministic tie-break") {
    val d = docs((1L, "a b a b c"), (2L, "a b"))
    // bigrams: (a b)x3, (b a)x1, (b c)x1 → ties on cnt=1 break on text
    val out = Chunking.topNgrams(d, k = 10).orderBy("rank").collect()
    assert(out.map(r => (r.getAs[Long]("rank"), r.getAs[String]("ngram"),
      r.getAs[Long]("cnt"))).toSeq ==
      Seq((1L, "a b", 3L), (2L, "b a", 1L), (3L, "b c", 1L)))
  }

  test("topNgrams: k truncates after the distributed top-k") {
    val d = docs((1L, "a b c d e f g h"))
    val out = Chunking.topNgrams(d, k = 3).collect()
    assert(out.length == 3)
    assert(out.map(_.getAs[Long]("rank")).sorted.toSeq == Seq(1L, 2L, 3L))
  }

  test("chunkDocs is stateless-streaming-safe: file stream equals batch") {
    // a narrow explode has no state, no watermark, no output-mode caveats —
    // the SAME call chunks an unbounded stream in append mode
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val src = graft.etl.IngestOps.table(spark, graft.SparkTestSession.sf0001, "documents")
    val dir = graft.TestDirs.dir("chunk_stream_")
    Files.copy(Paths.get(s"${graft.SparkTestSession.sf0001}/documents.parquet"),
      dir.resolve("documents.parquet"), StandardCopyOption.REPLACE_EXISTING)
    val streamed = Chunking.chunkDocs(
      spark.readStream.schema(src.schema).parquet(dir.toString))
    val q = streamed.writeStream.format("memory").queryName("chunk_stream_test")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val got = spark.table("chunk_stream_test").collect().map(_.toSeq).toSet
    val want = Chunking.chunkDocs(src).collect().map(_.toSeq).toSet
    assert(got == want)
  }

  test("topNgrams plans a TakeOrderedAndProject, not a global sort") {
    val d = docs((1L, "a b c d"), (2L, "b c d e"))
    val plan = Chunking.topNgrams(d, k = 5).queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"))
  }
}
