package graft.etl

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession.{sf0001, spark}

class LayoutSpec extends AnyFunSuite {

  test("bucketed co-located join plans without a shuffle") {
    Layout.writeBucketed(IngestOps.table(spark, sf0001, "lineitem"),
      "li_bucketed", "l_orderkey")
    Layout.writeBucketed(
      IngestOps.table(spark, sf0001, "orders")
        .withColumnRenamed("o_orderkey", "l_orderkey"),
      "o_bucketed", "l_orderkey")
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val j = spark.table("li_bucketed").join(spark.table("o_bucketed"), "l_orderkey")
      assert(j.count() == 6000)
      val nodes = Seq.newBuilder[String]
      PlanWalk.visit(j.queryExecution.executedPlan)(p => nodes += p.nodeName)
      val plan = nodes.result().mkString("\n")
      assert(!plan.contains("Exchange"), s"bucketed join still shuffles:\n$plan")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("Morton interleave matches a naive per-bit reference") {
    def naive(x: Long, y: Long): Long = {
      var z = 0L
      for (i <- 0 until 31)
        z |= (((x >> i) & 1L) << (2 * i)) | (((y >> i) & 1L) << (2 * i + 1))
      z
    }
    val rnd = new scala.util.Random(7)
    val cases = Seq((0L, 0L), (1L, 0L), (0L, 1L), (1023L, 1023L),
      ((1L << 31) - 1, (1L << 31) - 1)) ++
      Seq.fill(200)((rnd.nextLong().abs & 0x7fffffffL, rnd.nextLong().abs & 0x7fffffffL))
    cases.foreach { case (x, y) =>
      assert(graft.functions.MortonInterleave.interleave(x, y) == naive(x, y),
        s"mismatch at ($x, $y)")
    }
    // the catalyst expression agrees with the static impl (codegen path)
    import spark.implicits._
    val df = cases.toDF("x", "y")
      .withColumn("z", graft.functions.MortonInterleave(col("x"), col("y")))
    df.collect().foreach(r => assert(r.getLong(2) == naive(r.getLong(0), r.getLong(1))))
  }

  test("zorderPruningAudit: z-order scans fewer files than the time-linear " +
    "layout on a rectangle predicate") {
    import spark.implicits._
    // full 32×32 (user, time) grid: a time-linear layout makes every file
    // span ALL users, so the user half of the rectangle prunes nothing;
    // the z-order layout clusters both dimensions
    val grid = for (u <- 0 until 32; t <- 0 until 32)
      yield (u.toLong * 32 + t, u.toLong, t.toLong * 1000000L)
    val e = grid.toDF("event_id", "user_id", "us")
      .withColumn("ts", timestamp_micros(col("us")))
    val scanned = Layout.zorderPruningAudit(e, files = 16)
      .select("layout", "n_scanned").as[(String, Long)].collect().toMap
    assert(scanned("zorder") < scanned("linear"),
      s"z-order must prune more: $scanned")
    // fixture: deterministic under repartition, same inequality
    val fx = IngestOps.table(spark, sf0001, "events")
    val a = Layout.zorderPruningAudit(fx).collect().map(_.toString).sorted.toSeq
    val b = Layout.zorderPruningAudit(fx.repartition(11)).collect()
      .map(_.toString).sorted.toSeq
    assert(a == b)
    val fxScan = Layout.zorderPruningAudit(fx)
      .select("layout", "n_scanned").as[(String, Long)].collect().toMap
    assert(fxScan("zorder") <= fxScan("linear"), s"fixture: $fxScan")
  }
}
