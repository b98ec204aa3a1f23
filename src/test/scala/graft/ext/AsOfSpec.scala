package graft.ext

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession.spark

class AsOfSpec extends AnyFunSuite {
  import spark.implicits._

  private val quotes = Seq(
    (1L, 10L, 100.0), (1L, 20L, 200.0), (1L, 30L, 300.0),
    (2L, 15L, 150.0)).toDF("k", "t", "px")
  private val trades = Seq(
    (1L, "a", 5L), (1L, "b", 10L), (1L, "c", 25L), (1L, "d", 99L),
    (2L, "e", 14L), (2L, "f", 16L)).toDF("k", "id", "t")

  test("as-of join picks the latest right row at or before each left time") {
    val out = AsOf.asofJoin(trades, quotes, "k", "t", Map("px" -> "ref"))
      .select("id", "ref").as[(String, Double)].collect().toMap
    assert(out == Map("b" -> 100.0, "c" -> 200.0, "d" -> 300.0, "f" -> 150.0))
    // "a" (t=5, before first quote) and "e" (t=14 < 15) dropped: inner semantics
  }

  test("equal timestamps: the right row at the same instant is visible") {
    val out = AsOf.asofJoin(trades, quotes, "k", "t", Map("px" -> "ref"))
      .filter($"id" === "b").select("ref").as[Double].head()
    assert(out == 100.0) // quote at t=10 applies to trade at t=10
  }

  test("a matched right row with NULL payload still matches (DuckDB ASOF parity)") {
    // quote at t=20 has a NULL price; it is the as-of match for trade t=25
    val q = Seq((1L, 10L, Some(100.0)), (1L, 20L, None), (2L, 15L, Some(150.0)))
      .toDF("k", "t", "px")
    val inner = AsOf.asofJoin(trades, q, "k", "t", Map("px" -> "ref"))
      .select("id", "ref").collect()
      .map(r => r.getString(0) -> Option(r.get(1))).toMap
    // "c" (t=25) matches the NULL-priced quote — kept, payload NULL, NOT the
    // older 100.0; "d" (t=99) likewise matches the latest quote (NULL)
    assert(inner.contains("c") && inner("c").isEmpty)
    assert(inner.contains("d") && inner("d").isEmpty)
    assert(inner("b").contains(100.0) && inner("f").contains(150.0))
    assert(!inner.contains("a") && !inner.contains("e")) // still no match at all
  }

  test("resampleFfill: gaps carry the last value; observation at a grid instant wins") {
    import spark.implicits._
    // key u: obs at 0->1.0, 10->2.0, 35->3.0; step 10 -> grid 0,10,20,30
    // key w: single obs -> single grid point
    val obs = Seq(("u", 0L, 1.0), ("u", 10L, 2.0), ("u", 35L, 3.0),
      ("w", 7L, 9.0)).toDF("k", "us", "v")
    val out = AsOf.resampleFfill(obs, "k", "us", "v", 10L)
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(out == Map(
      ("u", 0L) -> 1.0, ("u", 10L) -> 2.0, // grid-instant obs is visible
      ("u", 20L) -> 2.0, ("u", 30L) -> 2.0, // gap forward-fills
      ("w", 7L) -> 9.0))
    // duplicate (key, time) observations collapse to max deterministically
    val dup = Seq(("u", 0L, 1.0), ("u", 0L, 5.0), ("u", 10L, 2.0)).toDF("k", "us", "v")
    val d = AsOf.resampleFfill(dup, "k", "us", "v", 10L)
      .collect().map(r => r.getLong(1) -> r.getDouble(2)).toMap
    assert(d == Map(0L -> 5.0, 10L -> 2.0))
  }

  test("resampleInterp: linear between neighbors, exact at observations, ffill tail") {
    val obs = Seq(("u", 0L, 10.0), ("u", 40L, 50.0), ("u", 45L, 100.0),
      ("w", 7L, 9.0)).toDF("k", "us", "v")
    val out = AsOf.resampleInterp(obs, "k", "us", "v", 10L)
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(out == Map(
      ("u", 0L) -> 10.0,            // grid instant = observation: exact
      ("u", 10L) -> 20.0,           // 10 + 40*(10/40)
      ("u", 20L) -> 30.0,
      ("u", 30L) -> 40.0,
      ("u", 40L) -> 50.0,           // exact again (t-t0 = 0 ratio path)
      ("w", 7L) -> 9.0))            // single obs: no next → ffill itself
    // null observations are dropped before interpolation, not carried
    val withNull = Seq(("u", 0L, Some(10.0)), ("u", 10L, None),
      ("u", 20L, Some(30.0))).toDF("k", "us", "v")
    val n = AsOf.resampleInterp(withNull, "k", "us", "v", 10L)
      .collect().map(r => r.getLong(1) -> r.getDouble(2)).toMap
    assert(n == Map(0L -> 10.0, 10L -> 20.0, 20L -> 30.0))
  }
}
