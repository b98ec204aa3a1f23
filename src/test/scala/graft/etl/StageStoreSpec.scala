package graft.etl

import java.util.concurrent.{CountDownLatch, TimeUnit}

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._

import org.apache.spark.sql.functions.{count, lit}
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession.spark

/** StageStore's lock is per key: a build may stage another key, and builds
  * of different keys run side by side. Each case runs under a timeout, so a
  * lock that serializes all keys fails instead of hanging the suite. Beside
  * the memo, the engine's one list of per-action caches is Spark's own. */
class StageStoreSpec extends AnyFunSuite {

  private def memoOn(): Unit =
    assume(!sys.env.get("SPARK_GRAFT_NO_STAGE").contains("1"), "memo is off")

  test("a stage whose compute stages another key completes") {
    memoOn()
    val outer = spark.range(11).toDF("id")
    val inner = spark.range(7).toDF("id")
    val staged = Await.result(Future {
      StageStore.materializeBy("spec_nested_outer", Seq(outer)) {
        val in = StageStore.materialize(inner, "spec_nested_inner")
        outer.crossJoin(in.agg(count(lit(1)).as("n_inner")))
      }
    }, 2.minutes)
    assert(staged.isDefined, "the outer stage must be built, not skipped")
    val rows = staged.get.collect()
    assert(rows.length == 11 && rows.forall(_.getLong(1) == 7L))
    assert(staged.get.inputFiles.forall(
      _.contains(new java.io.File(ScratchDirs.root, "stage").getAbsolutePath)))
  }

  test("two keys whose computes wait on each other both build") {
    memoOn()
    // each compute counts down, then waits for the other: under one lock for
    // all keys the second build cannot start while the first waits, so the
    // first gives up (its stage fails) and the pair never both succeed
    val latch = new CountDownLatch(2)
    def build(n: Int) = Future {
      val df = spark.range(n).toDF("id")
      StageStore.materializeBy(s"spec_latch_$n", Seq(df)) {
        latch.countDown()
        require(latch.await(20, TimeUnit.SECONDS), s"key $n: other build never started")
        df
      }.map(_.count())
    }
    val counts = Await.result(Future.sequence(Seq(build(3), build(5))), 2.minutes)
    assert(counts == Seq(Some(3L), Some(5L)))
  }

  test("an operator's persists are Spark's cache list, and clearCache empties it") {
    import spark.implicits._
    val cache = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager
    val sc = spark.sparkContext
    spark.catalog.clearCache()
    // localCheckpoints other suites left stay until the ContextCleaner
    // drops them; only this case's RDDs are counted
    val before = sc.getPersistentRDDs.keySet
    val nodes = (1L to 5L).toDF("doc_id")
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 1L), (4L, 5L)).toDF("doc_a", "doc_b")
    assert(graft.ext.Graph.pageRank(nodes, pairs).collect().length == 5)
    assert(!cache.isEmpty, "pageRank persists its node and degree relations")
    assert((sc.getPersistentRDDs.keySet -- before).nonEmpty)
    spark.catalog.clearCache()
    assert(cache.isEmpty)
    assert((sc.getPersistentRDDs.keySet -- before).isEmpty)
  }
}
