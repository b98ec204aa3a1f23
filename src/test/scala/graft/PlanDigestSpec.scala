package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.NamedExpression
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.aggregate.HashAggregateExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession.spark
import graft.etl.PlanWalk

/** The Bench fingerprint, [[PlanWalk.digest]], must be a function of the
  * plan only: equal for plans that differ in session state (exprId
  * allocation, shuffle width, operand order Spark picks by hash, per-JVM
  * scratch roots), and different for every kind of real plan change the
  * committed before/after plan pairs record. */
class PlanDigestSpec extends AnyFunSuite {
  import spark.implicits._

  // range-based, not a local relation: the optimizer folds filters and
  // projections over local data into the relation itself
  private def t: DataFrame = spark.range(30).select($"id".as("a"),
    ($"id" % 7).as("b"), ($"id" * 1.5).as("v"), ($"id" % 3).cast("string").as("k"))
  private def fp(df: DataFrame): String = PlanWalk.digest(df.queryExecution.executedPlan)
  private def text(df: DataFrame): String = df.queryExecution.executedPlan.toString

  private def query: DataFrame =
    t.filter($"v" > 1.0).join(t.select($"k", $"b".as("b2")), "k")
      .groupBy($"k").agg(sum($"v").as("s"), max($"b2").as("m"))

  test("same digest after different amounts of prior exprId allocation") {
    val q1 = query
    (1 to 5000).foreach(_ => NamedExpression.newExprId)
    val q2 = query
    assert(text(q1) != text(q2), "the two builds must differ in exprIds")
    assert(fp(q1) == fp(q2))
    // DataFrame-API lambdas name their variable from a JVM-global counter
    def lam = t.select(transform(array($"a", $"b"), x => x + 1).as("l"))
    assert(text(lam) != text(lam) && fp(lam) == fp(lam))
  }

  test("shuffle.partitions 2 and 8 give the same digest") {
    // (plan text, digest before execution, digest of the final AQE plan,
    // whose coalesced shuffle reads are sized by the width)
    def at(n: Int) = {
      val prev = spark.conf.get("spark.sql.shuffle.partitions")
      spark.conf.set("spark.sql.shuffle.partitions", n.toString)
      try {
        val q = query.repartition($"k")
        val planned = (text(q), fp(q))
        q.collect()
        (planned._1, planned._2, fp(q))
      } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
    }
    val ((t2, f2, e2), (t8, f8, e8)) = (at(2), at(8))
    assert(t2.contains(", 2)") && t8.contains(", 8)"), "counts must be printed")
    assert(f2 == f8)
    assert(e2 == e8 && e2 != f2)
  }

  test("a + b and b + a give the same digest") {
    assert(text(t.select(($"a" + $"b").as("s"))) != text(t.select(($"b" + $"a").as("s"))))
    assert(fp(t.select(($"a" + $"b").as("s"))) == fp(t.select(($"b" + $"a").as("s"))))
    // chains flatten before sorting: (a + b) + 2a and a + (2a + b) agree
    assert(fp(t.select(($"a" + $"b" + $"a" * 2).as("s"))) ==
      fp(t.select(($"a" + ($"a" * 2 + $"b")).as("s"))))
    // a different operator is a different plan
    assert(fp(t.select(($"a" + $"b").as("s"))) != fp(t.select(($"a" - $"b").as("s"))))
  }

  test("x < y and y > x give the same digest") {
    assert(fp(t.filter($"a" < $"b")) == fp(t.filter($"b" > $"a")))
    assert(fp(t.filter($"a" <= $"b" && $"v" > 1.0)) == fp(t.filter($"v" > 1.0 && $"b" >= $"a")))
    // the direction is normalized, not dropped: a < b is not a > b
    assert(fp(t.filter($"a" < $"b")) != fp(t.filter($"a" > $"b")))
  }

  test("two countDistinct columns in either order give the same digest") {
    // the aggregate function list is a set; rebuild the plan with every
    // aggregate's functions (and their buffer attributes) emitted in the
    // other order, as a hash-ordered rewrite would
    val plan = t.agg(countDistinct($"a").as("da"), countDistinct($"b").as("db"))
      .queryExecution.executedPlan.asInstanceOf[AdaptiveSparkPlanExec].executedPlan
    val flipped = plan.transform { case h: HashAggregateExec =>
      h.copy(aggregateExpressions = h.aggregateExpressions.reverse,
        aggregateAttributes = h.aggregateAttributes.reverse)
    }
    assert(plan.toString != flipped.toString)
    assert(PlanWalk.digest(plan) == PlanWalk.digest(flipped))
  }

  test("two StageStore roots give the same digest") {
    val base = graft.TestDirs.dir("digest").toFile
    val roots = Seq("graft_stage_0a1b2c3d", "graft_stage_9f8e7d6c").map { r =>
      val p = new java.io.File(base, s"$r/rel").getAbsolutePath
      t.write.parquet(p)
      p
    }
    val Seq(fa, fb) = roots.map(p => fp(spark.read.parquet(p).filter($"v" > 1.0)))
    assert(fa == fb)
    // an unstaged path is scan content
    val plain = new java.io.File(base, "plain").getAbsolutePath
    t.write.parquet(plain)
    assert(fp(spark.read.parquet(plain).filter($"v" > 1.0)) != fa)
  }

  /** Analyzed streaming aggregate over a one-row parquet dir. */
  private def stream(dir: String, minutes: Int, watermark: Boolean = false) = {
    val src = spark.readStream.schema(spark.read.parquet(dir).schema).parquet(dir)
    (if (watermark) src.withWatermark("ts", "1 hour") else src)
      .groupBy(window($"ts", s"$minutes minutes"), $"k").count()
      .queryExecution.analyzed
  }
  private def streamDir(): String = {
    val dir = graft.TestDirs.dir("digest_stream").toString
    Seq((1L, new java.sql.Timestamp(0L), "a")).toDF("id", "ts", "k")
      .write.mode("overwrite").parquet(dir)
    dir
  }

  test("a rebuilt watermarked stream plan gives the same digest") {
    val dir = streamDir()
    // each EventTimeWatermark carries a fresh per-instance UUID
    assert(stream(dir, 10, watermark = true).toString != stream(dir, 10, watermark = true).toString)
    assert(PlanWalk.digest(stream(dir, 10, watermark = true)) ==
      PlanWalk.digest(stream(dir, 10, watermark = true)))
  }

  test("a streaming row's stream computation is part of the digest") {
    val dir = streamDir()
    // the replay read is identical on a memo hit; only the stream differs
    val replay = spark.read.parquet(dir).queryExecution.executedPlan
    assert(PlanWalk.digest(replay, stream(dir, 10)) != PlanWalk.digest(replay, stream(dir, 20)))
    assert(PlanWalk.digest(replay, stream(dir, 10)) != PlanWalk.digest(replay))
  }

  test("inlined local rows are data, not plan") {
    assert(fp(Seq((1L, "a")).toDF("id", "k")) == fp(Seq((2L, "b"), (3L, "c")).toDF("id", "k")))
    assert(fp(Seq((1L, "a")).toDF("id", "k")) != fp(Seq((1L, "a")).toDF("id", "j")))
  }

  test("a join type change flips the digest") {
    val r = t.select($"k", $"b".as("b2"))
    assert(fp(t.join(r, Seq("k"), "inner")) != fp(t.join(r, Seq("k"), "left_outer")))
  }

  test("a build side change flips the digest") {
    val r = t.select($"k", $"b".as("b2"))
    val left = t.hint("broadcast").join(r, "k")
    val right = t.join(r.hint("broadcast"), "k")
    assert(text(left).contains("BuildLeft") && text(right).contains("BuildRight"))
    assert(fp(left) != fp(right))
  }

  test("a removed filter flips the digest") {
    assert(fp(t.filter($"v" > 1.0).groupBy($"k").count()) != fp(t.groupBy($"k").count()))
  }

  test("a removed exchange flips the digest") {
    val with_ = spark.range(100).repartition(4).selectExpr("id * 2 AS x")
    val without = spark.range(100).selectExpr("id * 2 AS x")
    var exchanges = 0
    PlanWalk.visit(with_.queryExecution.executedPlan) {
      case _: ShuffleExchangeExec => exchanges += 1
      case _ =>
    }
    assert(exchanges == 1)
    assert(fp(with_) != fp(without))
    // the partitioning keys are hashed even though the count is not
    assert(fp(t.repartition($"k")) != fp(t.repartition($"a")))
  }

  test("an aggregate function change flips the digest") {
    assert(fp(t.groupBy($"k").agg(sum($"v").as("x"))) !=
      fp(t.groupBy($"k").agg(max($"v").as("x"))))
  }

  test("fingerprint header cpus is valid JSON for numeric and '*' widths") {
    val json = new com.fasterxml.jackson.databind.ObjectMapper()
    def cpus(c: String) = json.readTree(Bench.fpHeader("/x/sf0.01", c) + "}}").get("cpus")
    assert(cpus("*").isTextual && cpus("*").asText == "*")
    assert(cpus("8").isInt && cpus("8").asInt == 8)
  }
}
