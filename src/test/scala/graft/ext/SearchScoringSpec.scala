package graft.ext

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.execution.window.{Partial, WindowGroupLimitExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.HashAggregateExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession.spark

/** The one-pass BM25 scoring relation behind [[TextOps.searchTopK]],
  * [[TextOps.searchRrf]] and [[TextOps.searchEval]] against the postings-join
  * reference ([[PostingsSearch]]): decoded rows must be equal, at 1 and 7
  * input partitions, on a corpus built from the edge cases. */
class SearchScoringSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  import spark.implicits._

  /** Docs 1 and 2 tie on every score and rel; doc_id 3 and null each occur
    * twice (one document each); docs 4-6 have no token; doc 9 shares no
    * query term. */
  private val corpus: DataFrame = Seq[(java.lang.Long, String)](
    (1L, "hash join hash stream"),
    (2L, "hash join hash stream"),
    (3L, "join"),
    (3L, "hash window"),
    (null, "hash join scan"),
    (null, "filter"),
    (4L, null),
    (5L, ""),
    (6L, "!!! ..."),
    (7L, "window sort order sort"),
    (8L, "scan scan batch filter"),
    (9L, "unrelated words only"),
    (10L, "join stream window")).toDF("doc_id", "text")

  /** A term repeated within one query (hash), terms shared by two queries
    * (join, window, scan), and a query no document matches. */
  private val queries = Seq(
    "q_hash" -> "hash join stream hash",
    "q_mix" -> "join window scan",
    "q_sort" -> "window sort order",
    "q_scan" -> "scan filter",
    "q_none" -> "absent")

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.mkString("|")).sorted.toSeq

  private def at(parts: Int): DataFrame = corpus.repartition(parts)

  private def fixture: DataFrame =
    graft.etl.IngestOps.table(spark, graft.SparkTestSession.sf0001, "documents")

  test("searchTopK equals the postings-join reference: ties, duplicates, nulls, k above the candidates") {
    for (parts <- Seq(1, 7); k <- Seq(1, 2, 10)) {
      val got = rows(TextOps.searchTopK(at(parts), queries, k = k))
      assert(got == rows(PostingsSearch.searchTopK(at(parts), queries, k = k)),
        s"parts=$parts k=$k")
      assert(!got.exists(_.contains("|null|")), "a null doc_id was ranked")
    }
  }

  test("searchRrf equals the postings-join reference, depth == k included") {
    for (parts <- Seq(1, 7); (k, depth) <- Seq((10, 50), (3, 3), (1, 2))) {
      val got = rows(TextOps.searchRrf(at(parts), queries, k = k, depth = depth))
      assert(got == rows(PostingsSearch.searchRrf(at(parts), queries, k = k, depth = depth)),
        s"parts=$parts k=$k depth=$depth")
    }
    // the null doc_id reaches the overlap list only
    val nullRow = rows(TextOps.searchRrf(corpus, queries)).filter(_.contains("|null|"))
    assert(nullRow.nonEmpty && nullRow.forall(_.split('|')(4) == "0"))
  }

  test("searchEval equals the postings-join reference") {
    for (parts <- Seq(1, 7); k <- Seq(1, 3, 10)) {
      val got = TextOps.searchEval(at(parts), queries, k = k).collect().map(_.toString).toSeq
      val ref = PostingsSearch.searchEval(at(parts), queries, k = k).collect().map(_.toString).toSeq
      assert(got == ref, s"parts=$parts k=$k")
    }
  }

  test("the three operators equal the reference on the documents fixture") {
    for (parts <- Seq(1, 7)) {
      val d = fixture.repartition(parts)
      assert(rows(TextOps.searchTopK(d)) == rows(PostingsSearch.searchTopK(d)))
      assert(rows(TextOps.searchRrf(d)) == rows(PostingsSearch.searchRrf(d)))
      assert(rows(TextOps.searchEval(d)) == rows(PostingsSearch.searchEval(d)))
    }
  }

  test("each ranking is a partial WindowGroupLimit before its exchange on query_id; no exchange is keyed on a term") {
    for (df <- Seq(TextOps.searchTopK(fixture), TextOps.searchRrf(fixture),
        TextOps.searchEval(fixture))) {
      df.collect()
      val shuffles = collect(df.queryExecution.executedPlan) {
        case e: ShuffleExchangeExec => e }
      val byQuery = shuffles.filter(_.outputPartitioning match {
        case h: HashPartitioning => h.expressions.map(_.toString).exists(_.startsWith("query_id"))
        case _ => false })
      assert(byQuery.nonEmpty)
      byQuery.foreach { e =>
        val below = e.child match {
          case c: WholeStageCodegenExec => c.child
          case c => c
        }
        below match {
          case w: WindowGroupLimitExec => assert(w.mode == Partial)
          case a: HashAggregateExec => assert(a.aggregateExpressions.forall(_.mode ==
            org.apache.spark.sql.catalyst.expressions.aggregate.Partial))
          case other => fail(s"query_id exchange over ${other.nodeName}")
        }
      }
      assert(!shuffles.exists(_.outputPartitioning.toString.contains("term")))
    }
  }

  test("searchRrf runs at most 6 Spark jobs on the documents fixture") {
    val d = TextOps.searchRrf(fixture)
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        jobs.add(Option(js.properties).flatMap(p =>
          Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")); ()
      }
    }
    val sc = spark.sparkContext
    // the bus delivers in order: once a tagged marker job's event lands,
    // every earlier job's has too
    def flushBus(tag: String): Unit = {
      sc.setJobGroup(tag, tag)
      try sc.parallelize(Seq(1)).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      while (!jobs.contains(tag) && System.nanoTime() < deadline) Thread.sleep(20)
    }
    sc.addSparkListener(listener)
    try {
      flushBus("flush-pre")
      jobs.clear()
      d.collect()
      flushBus("flush-post")
      val n = jobs.toArray.count(_ != "flush-post")
      assert(n <= 6, s"searchRrf(...).collect() ran $n jobs; the one-pass scoring " +
        "relation runs 6 here, and the postings-join chain it replaced ran 25 " +
        "for the search_rrf_fusion row")
    } finally sc.removeSparkListener(listener)
  }
}
