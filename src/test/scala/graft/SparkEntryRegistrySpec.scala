package graft

import java.security.MessageDigest

import org.scalatest.funsuite.AnyFunSuite

/** The row registry ([[SparkEntry.rows]]) is the one list Verify, Bench and
  * PlanAudit read, and `queries`, `oracleSql` and `streamingQueries` are
  * views of it. These cases pin the facts a change to the list must keep:
  * the row names, the streaming rows, each row's oracle SQL, the plan
  * smells PlanAudit accepts and the rows Bench skips. */
class SparkEntryRegistrySpec extends AnyFunSuite {

  private def sha256(lines: Seq[String]): String =
    MessageDigest.getInstance("SHA-256").digest(lines.mkString("\n").getBytes("UTF-8"))
      .map(b => f"$b%02x").mkString

  private val names = SparkEntry.rows.map(_.name)

  test("271 rows with unique names; the sorted name list is pinned") {
    assert(names.size == 271)
    assert(names.distinct.size == names.size)
    assert(sha256(names.sorted) ==
      "fff5164a8392e1f4c2e5998b60c7a9c8e325989b5fd9d9e3cb4c0999b3a52da4")
  }

  test("building the list fails on a duplicate name") {
    val r = SparkEntry.rows.head
    val e = intercept[IllegalArgumentException](
      SparkEntry.distinctNames(Seq(r, SparkEntry.rows(1), r)))
    assert(e.getMessage.contains(r.name))
  }

  test("the views cover exactly the rows") {
    assert(SparkEntry.queries.keySet == names.toSet)
    assert(SparkEntry.oracleSql.keySet == names.toSet)
    assert(SparkEntry.rows.forall(r => SparkEntry.oracleSql(r.name) == r.sql))
  }

  test("streamingQueries is exactly the 26 stream-named rows") {
    assert(SparkEntry.streamingQueries == Set(
      "events_stream_sessionize", "events_stream_sliding",
      "events_stream_windowed_dedup", "events_stream_closed_sessions",
      "docs_stream_curate", "docs_stream_dedup_bounded",
      "docs_stream_neardup_lsh", "docs_stream_neardup_rescore",
      "docs_stream_vs_corpus_exact", "docs_stream_vs_corpus_neardup",
      "docs_stream_vs_corpus_rescore",
      "events_stream_tumbling", "events_stream_tumbling_update",
      "events_stream_distinct_users", "events_stream_range_join",
      "events_stream_funnel", "events_stream_funnel_o1",
      "events_stream_user_totals", "events_stream_quantile_profile",
      "events_stream_dedup", "events_stream_join_inner",
      "events_stream_join_semi", "events_stream_blocklist",
      "events_stream_enrich", "events_stream_join_outer",
      "events_stream_join_full"))
    assert(SparkEntry.streamingQueries == names.filter(_.contains("_stream")).toSet)
  }

  test("every row's oracle SQL is non-empty") {
    // the oracle check runs each row's SQL: a null or empty one checks nothing
    val empty = SparkEntry.rows.filter(r => r.sql == null || r.sql.trim.isEmpty)
    assert(empty.isEmpty, empty.map(_.name).mkString(", "))
  }

  test("accepted plan smells and the non-benched row are pinned") {
    val accepted = SparkEntry.rows.flatMap(r =>
      r.accepted.map { case (smells, why) => s"${r.name}|$smells|$why" })
    assert(accepted.size == 41)
    assert(sha256(accepted.sorted) ==
      "1c80112af2f472a55d11c2ab8dc49d5ce1219b001560f01ba50eb56dbaa89d3f")
    assert(SparkEntry.rows.filterNot(_.benched).map(_.name) == Seq("dedup_embedding_cosine"))
  }
}
