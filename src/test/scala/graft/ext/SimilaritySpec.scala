package graft.ext

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession.{sf0001, spark}
import graft.functions.VectorExprs

class SimilaritySpec extends AnyFunSuite {
  import spark.implicits._

  test("cosinePairsBucketed: more SRP tables only widen the candidate set") {
    val emb = graft.etl.IngestOps.table(graft.SparkTestSession.spark,
      graft.SparkTestSession.sf0001, "embeddings")
    // the default shape given explicitly == the plain defaults
    val explicit = Similarity.cosinePairsBucketed(emb, 0.4,
      nTables = Similarity.PairTables, bitsPerTable = Similarity.PairBitsPerTable)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val plain = Similarity.cosinePairsBucketed(emb, 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(explicit == plain)
    // more tables can only widen the candidate set (recall grows with L)
    val wider = Similarity.cosinePairsBucketed(emb, 0.4, nTables = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(wider.toSet.size >= explicit.toSet.size)
    assert(explicit.toSet.subsetOf(wider.toSet))
  }

  test("FloatVectorDot matches a manual double-accumulated dot product") {
    val a = Array(1.5f, -2.0f, 3.25f)
    val b = Array(0.5f, 4.0f, -1.0f)
    val expected = a.zip(b).foldLeft(0.0) { case (acc, (x, y)) => acc + x.toDouble * y.toDouble }
    val got = Seq((a, b)).toDF("a", "b")
      .select(VectorExprs.dotF($"a", $"b").as("d")).as[Double].head()
    assert(got == expected)
  }

  test("FloatVectorDot: null element → null result; null array → null") {
    val df = Seq((Array(1.0f), null.asInstanceOf[Array[Float]])).toDF("a", "b")
    assert(df.select(VectorExprs.dotF($"a", $"b")).head().isNullAt(0))
  }

  test("dotConst matches manual projection") {
    val v = Array(1.0f, 2.0f)
    val w = Array(3.0, -1.0)
    val got = Seq(Tuple1(v)).toDF("embedding")
      .select(VectorExprs.dotConst($"embedding", w).as("d")).as[Double].head()
    assert(got == 1.0 * 3.0 + 2.0 * (-1.0))
  }

  test("brute-force top-k: k rows per query, self excluded, cos in [-1,1], ranks ordered") {
    val emb = graft.etl.IngestOps.table(spark, sf0001, "embeddings")
    val tk = Similarity.bruteForceTopK(emb, nQueries = 3, k = 5).collect()
    val byQ = tk.groupBy(_.getAs[Long]("query_id"))
    assert(byQ.size == 3 && byQ.values.forall(_.length == 5))
    tk.foreach { r =>
      assert(r.getAs[Long]("query_id") != r.getAs[Long]("neighbor_id"))
      val c = r.getAs[Double]("cos_sim")
      assert(c >= -1.0001 && c <= 1.0001)
    }
    byQ.values.foreach { rows =>
      val sorted = rows.sortBy(_.getAs[Long]("rank"))
      val sims = sorted.map(_.getAs[Double]("cos_sim"))
      assert(sims.zip(sims.tail).forall { case (x, y) => x >= y })
    }
  }

  test("ANN multi-table top-k: every hit shares at least one (table, bucket) with the query") {
    val emb = graft.etl.IngestOps.table(spark, sf0001, "embeddings")
    val buckets = Similarity.srpTables(emb)
      .select($"vec_id", $"buckets")
      .collect()
      .map(r => r.getAs[Long]("vec_id") ->
        r.getSeq[org.apache.spark.sql.Row](1).map(b => (b.getInt(0), b.getLong(1))).toSet)
      .toMap
    val ann = Similarity.annTopK(emb, nQueries = 3, k = 5).collect()
    assert(ann.nonEmpty, "ANN produced no candidates at all")
    ann.foreach { r =>
      val q = buckets(r.getAs[Long]("query_id")).toMap
      val n = buckets(r.getAs[Long]("neighbor_id")).toMap
      // multi-probe: same table bucket identical or at Hamming distance 1
      val close = q.exists { case (t, b) =>
        n.get(t).exists(nb => java.lang.Long.bitCount(b ^ nb) <= 1)
      }
      assert(close, "hit not reachable by exact or 1-probe bucket")
    }
  }

  test("IVF top-k: candidates only from probed clusters; planted near-dup retrieved") {
    val emb = graft.etl.IngestOps.table(spark, sf0001, "embeddings")
    val base = emb.select($"vec_id", $"embedding").as[(Long, Array[Float])].collect()
    val clones = base.filter(_._1 < 3).map { case (id, v) =>
      (id + 1000000L, v.map(x => x + 1e-4f))
    }
    val all = (base ++ clones).toSeq.toDF("vec_id", "embedding")
    val ivf = Similarity.ivfTopK(all, nQueries = 3, k = 5).collect()
    (0L until 3L).foreach { qid =>
      val top = ivf.filter(r => r.getAs[Long]("query_id") == qid && r.getAs[Long]("rank") == 1L)
      assert(top.length == 1 && top.head.getAs[Long]("neighbor_id") == qid + 1000000L,
        s"query $qid: planted near-dup not retrieved by IVF")
    }
  }

  test("pqTopK: planted clone retrieved at rank 1 with zero-ish distance; k cap; partition-invariant") {
    val emb = graft.etl.IngestOps.table(spark, sf0001, "embeddings")
    val base = emb.select($"vec_id", $"embedding").as[(Long, Array[Float])].collect()
    // an EXACT clone lands in the same m codes as its source, so its ADC
    // distance equals the query's own quantization distance — the minimum
    val clones = base.filter(_._1 < 3).map { case (id, v) => (id + 1000000L, v) }
    val all = (base ++ clones).toSeq.toDF("vec_id", "embedding")
    val pq = Similarity.pqTopK(all, nQueries = 3, k = 5).collect()
    (0L until 3L).foreach { qid =>
      val mine = pq.filter(_.getAs[Long]("query_id") == qid)
      assert(mine.length == 5)
      assert(mine.map(_.getAs[Long]("rank")).sorted.sameElements(1L to 5L))
      // the clone shares every code with the query → no candidate can score
      // strictly below it; tie-break on neighbor_id may rank a same-distance
      // vector first, so assert distance-optimality, not position
      val clone = mine.find(_.getAs[Long]("neighbor_id") == qid + 1000000L)
      assert(clone.isDefined, s"query $qid: exact clone missing from PQ top-5")
      assert(clone.get.getAs[Long]("adist_micro") ==
        mine.map(_.getAs[Long]("adist_micro")).min)
    }
    // partition-invariance: integer ADC sums make the result set exact
    val a = Similarity.pqTopK(emb, nQueries = 4, k = 5).collect().map(_.toString).sorted
    val b = Similarity.pqTopK(emb.repartition(13), nQueries = 4, k = 5)
      .collect().map(_.toString).sorted
    assert(a.sameElements(b))
  }

  test("ivfPqTopK: every hit lies in a probed IVF cluster; ADC sums agree with pqTopK; partition-invariant") {
    val emb = graft.etl.IngestOps.table(spark, sf0001, "embeddings")
    val out = Similarity.ivfPqTopK(emb, nQueries = 4, k = 5).collect()
    assert(out.nonEmpty)
    // ranks are 1..n per query with no gaps, n <= k
    out.groupBy(_.getAs[Long]("query_id")).values.foreach { rows =>
      val ranks = rows.map(_.getAs[Long]("rank")).sorted
      assert(ranks.sameElements(1L to ranks.length) && ranks.length <= 5)
    }
    // coarse-stage contract: a hit must come from one of the query's
    // nProbe closest clusters (recompute the same deterministic trainer)
    val cents = Similarity.ivfCentroids(emb, 16, 1)
    val cluster = Similarity.ivfAssign(emb, cents)
      .select($"vec_id", $"cluster").as[(Long, Int)].collect().toMap
    def score(v: Array[Float], c: Array[Double]): Double = {
      val dot = v.indices.foldLeft(0.0)((a, i) => a + v(i).toDouble * c(i))
      dot - c.map(x => x * x).sum / 2
    }
    val vecs = emb.filter($"vec_id" < 4)
      .select($"vec_id", $"embedding").as[(Long, Array[Float])].collect().toMap
    val probes = vecs.map { case (qid, v) =>
      qid -> cents.indices.sortBy(i => (-score(v, cents(i)), i)).take(3).toSet
    }
    out.foreach { r =>
      val q = r.getAs[Long]("query_id"); val n = r.getAs[Long]("neighbor_id")
      assert(q != n)
      assert(probes(q).contains(cluster(n)),
        s"hit $n (cluster ${cluster(n)}) outside query $q's probe set ${probes(q)}")
    }
    // fine-stage contract: the ADC distance of every (q, n) pair equals the
    // pure-PQ operator's distance for that pair (same codebooks at iters=1)
    val pqAll = Similarity.pqTopK(emb, nQueries = 4, k = Int.MaxValue, iters = 1)
      .collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id")) ->
        r.getAs[Long]("adist_micro")).toMap
    out.foreach { r =>
      val key = (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))
      assert(pqAll(key) == r.getAs[Long]("adist_micro"),
        s"ADC mismatch vs pqTopK for $key")
    }
    // integer distances + id tie-breaks → exact partition invariance
    val a = out.map(_.toString).sorted
    val b = Similarity.ivfPqTopK(emb.repartition(13), nQueries = 4, k = 5)
      .collect().map(_.toString).sorted
    assert(a.sameElements(b))
  }

  test("semanticDedup: one row per vector; dup set exactly the within-cluster lower-id cosine neighbors; equi-join plan") {
    val emb = graft.etl.IngestOps.table(spark, sf0001, "embeddings")
    val sem = Similarity.semanticDedup(emb)
    val out = sem.collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    val n = emb.count()
    assert(out.length == n && out.map(_._1).distinct.length == n)
    // cross-check the prune against the independent all-pairs operator: a
    // vector is dropped iff a LOWER-id >0.4 neighbor shares its cluster
    val cluster = out.map(t => t._1 -> t._2).toMap
    val pairs = Similarity.cosinePairs(emb, 0.4).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val expectedDups = pairs.collect { case (a, b) if cluster(a) == cluster(b) => b }.toSet
    assert(out.filterNot(_._3).map(_._1).toSet == expectedDups)
    // fixture has planted replicas → some dups, and never everything drops
    assert(expectedDups.nonEmpty && out.count(_._3) > expectedDups.size)
    // the within-cluster comparison must plan as a cluster equi-join
    val plan = sem.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"),
      s"expected cluster equi-join, got:\n$plan")
  }

  test("hardNegatives: near-dup clones excluded, survivors are the best sub-threshold neighbors") {
    val emb = graft.etl.IngestOps.table(spark, sf0001, "embeddings")
    val base = emb.select($"vec_id", $"embedding").as[(Long, Array[Float])].collect()
    // clone anchor 0 → a cos≈1 neighbor that MUST NOT appear as a negative
    val clones = base.filter(_._1 < 1).map { case (id, v) =>
      (id + 1000000L, v.map(x => x + 1e-4f))
    }
    val all = (base ++ clones).toSeq.toDF("vec_id", "embedding")
    val neg = Similarity.hardNegatives(all, nQueries = 1, kNeg = 5).collect()
    assert(neg.length == 5)
    assert(!neg.exists(_.getAs[Long]("neighbor_id") == 1000000L),
      "the planted near-dup leaked into the negatives")
    assert(neg.forall(_.getAs[Double]("cos_sim") <= 0.4))
    val ranks = neg.map(_.getAs[Long]("neg_rank")).sorted.toSeq
    assert(ranks == (1L to 5L))
    // ranked by similarity descending
    val cs = neg.sortBy(_.getAs[Long]("neg_rank")).map(_.getAs[Double]("cos_sim")).toSeq
    assert(cs == cs.sorted.reverse)
  }

  test("bucketed cosine pairs: subset of all-pairs with useful recall, and an equi-join plan") {
    val emb = graft.etl.IngestOps.table(spark, sf0001, "embeddings")
    val bucketed = Similarity.cosinePairsBucketed(emb)
    val all = Similarity.cosinePairs(emb)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = bucketed.select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.subsetOf(all), "bucketed pairs must be a subset of the exact pairs")
    if (all.nonEmpty)
      assert(got.size.toDouble / all.size >= 0.5,
        s"recall ${got.size}/${all.size} below 0.5")
    // the candidate join must be a bucket equi-join, never a nested loop
    val plan = bucketed.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"expected equi-join plan, got:\n$plan")
  }

  test("ANN finds planted near-duplicates (the regime LSH targets)") {
    // clone each query vector with a tiny deterministic perturbation; the
    // clone must come back as the top ANN neighbor
    val emb = graft.etl.IngestOps.table(spark, sf0001, "embeddings")
    val base = emb.select($"vec_id", $"embedding").as[(Long, Array[Float])].collect()
    val clones = base.filter(_._1 < 3).map { case (id, v) =>
      (id + 1000000L, v.zipWithIndex.map { case (x, i) => x + (if (i % 2 == 0) 1e-4f else -1e-4f) })
    }
    val all = (base ++ clones).toSeq.toDF("vec_id", "embedding")
    val ann = Similarity.annTopK(all, nQueries = 3, k = 5).collect()
    (0L until 3L).foreach { qid =>
      val top = ann.filter(r => r.getAs[Long]("query_id") == qid && r.getAs[Long]("rank") == 1L)
      assert(top.length == 1 && top.head.getAs[Long]("neighbor_id") == qid + 1000000L,
        s"query $qid: planted near-dup not retrieved as top neighbor")
    }
  }

  test("quantizeSq8: known codes, bounded reconstruction error, constant dim → 0") {
    import spark.implicits._
    // dim 1 spans [0,1]; dim 2 is constant (degenerate)
    val emb = Seq(
      (1L, Array(0.0f, 5.0f)), (2L, Array(0.5f, 5.0f)), (3L, Array(1.0f, 5.0f)))
      .toDF("vec_id", "embedding")
    val got = Similarity.quantizeSq8(emb)
      .as[(Long, String, Double)].collect().sortBy(_._1)
    val codes = got.map(_._2.split(",").map(_.toInt).toSeq)
    assert(codes(0) === Seq(0, 0))     // v = min → 0
    assert(codes(2) === Seq(255, 0))   // v = max → clamped 255; constant dim 0
    assert(codes(1).head === 127)      // 0.5*255 = 127.5 → floor 127
    // midpoint reconstruction: |err| per non-degenerate dim ≤ span/510 + ulp;
    // the constant dim contributes (5 - (5 + 0.5·0/255))² = 0
    got.foreach { case (id, _, mse) =>
      assert(mse >= 0.0 && mse <= 2 * math.pow(1.0 / 510 + 1e-9, 2), s"vec $id mse=$mse")
    }
  }

  test("quantizeSq8: partitioning-invariant on the fixture corpus") {
    val emb = graft.etl.IngestOps.table(spark, graft.SparkTestSession.sf0001, "embeddings")
    val a = Similarity.quantizeSq8(emb).orderBy("vec_id").collect().toSeq
    val b = Similarity.quantizeSq8(emb.repartition(7)).orderBy("vec_id").collect().toSeq
    assert(a === b && a.nonEmpty)
  }

  test("matryoshkaRecall: recall@k bounds, full-width self-recall is 1.0") {
    val emb = graft.etl.IngestOps.table(spark, sf0001, "embeddings")
    val got = Similarity.matryoshkaRecall(emb, nQueries = 5, k = 8, dPrime = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.length == 5 && got.map(_._1).toSeq == (0L to 4L))
    got.foreach { case (_, n, rec) =>
      assert(n >= 0L && n <= 8L && rec == n.toDouble / 8.0)
    }
    // dPrime = Dim: the truncated ranking IS the full ranking
    val self = Similarity.matryoshkaRecall(emb, nQueries = 3, k = 5,
        dPrime = Similarity.Dim)
      .collect().map(_.getDouble(2))
    assert(self.forall(_ == 1.0))
    // cross-check one query's overlap against two explicit rankings
    val full = Similarity.bruteForceTopK(emb, nQueries = 1, k = 8)
      .select("neighbor_id").as[Long].collect().toSet
    val trunc = Similarity.bruteForceTopK(
        emb.withColumn("embedding",
          org.apache.spark.sql.functions.slice($"embedding", 1, 16)),
        nQueries = 1, k = 8)
      .select("neighbor_id").as[Long].collect().toSet
    val n0 = got.find(_._1 == 0L).get._2
    assert(n0 == (full & trunc).size.toLong)
  }

  test("knnClassify: majority vote, smallest-label tie-break, per-label " +
    "accuracy") {
    def vec(x: Double, y: Double): Array[Float] = {
      val a = new Array[Float](Similarity.Dim)
      a(0) = x.toFloat; a(1) = y.toFloat; a
    }
    // query 0 (label 1); neighbors 1,2 label 1 very close, 3 label 2 at
    // cos 0.8, 4 label 2 orthogonal
    val emb = Seq(
      (0L, vec(1.0, 0.0), 1),
      (1L, vec(1.0, 0.01), 1),
      (2L, vec(1.0, -0.01), 1),
      (3L, vec(0.8, 0.6), 2),
      (4L, vec(0.0, 1.0), 2))
      .toDF("vec_id", "embedding", "label")
    val r3 = Similarity.knnClassify(emb, nQueries = 1, k = 3)
      .select("label", "n_queries", "n_correct")
      .as[(Long, Long, Long)].collect().toSeq
    assert(r3 == Seq((1L, 1L, 1L))) // votes 2:1 for label 1 — correct
    // vote TIE at k = 2 when neighbor 2 flips to label 2: top-2 = {1, 2}
    // with labels {1, 2} → smallest label wins → still predicts 1
    val flipped = emb.withColumn("label",
      when(col("vec_id") === 2L, lit(2)).otherwise(col("label")))
    val r2 = Similarity.knnClassify(flipped, nQueries = 1, k = 2)
      .select("label", "n_correct").as[(Long, Long)].collect().toSeq
    assert(r2 == Seq((1L, 1L)))
    // fixture: every query classified exactly once; accuracies in [0, 1];
    // exact ranking + integer votes → identical under repartition
    val fx = graft.etl.IngestOps.table(spark, sf0001, "embeddings")
    val out = Similarity.knnClassify(fx).collect()
    val nq = fx.filter(col("vec_id") < 64).count()
    assert(out.map(_.getAs[Long]("n_queries")).sum == nq)
    out.foreach { r =>
      val acc = r.getAs[Double]("accuracy")
      assert(acc >= 0.0 && acc <= 1.0)
    }
    val again = Similarity.knnClassify(fx.repartition(9)).collect()
      .map(_.toString).sorted.toSeq
    assert(out.map(_.toString).sorted.toSeq == again)
  }

  /** Spark jobs started while `body` runs. Marker jobs before and after are
    * awaited on the listener bus, so every job event of `body` (and none
    * from before it) has been counted when this returns. */
  private def jobsDuring[A](body: => A): (A, Int) = {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.add(Option(js.properties).flatMap(p =>
          Option(p.getProperty("spark.jobGroup.id"))).getOrElse("?")); ()
      }
    }
    def marker(tag: String): Unit = {
      sc.setJobGroup(tag, tag)
      try sc.parallelize(Seq(1)).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      while (!jobs.contains(tag) && System.nanoTime() < deadline) Thread.sleep(20)
    }
    sc.addSparkListener(listener)
    try {
      marker("jobs-during-pre")
      jobs.clear()
      val a = body
      marker("jobs-during-post")
      (a, jobs.size - 1)
    } finally sc.removeSparkListener(listener)
  }

  test("ivfCentroids trains once per relation: a repeat call runs no job") {
    val emb = graft.etl.IngestOps.table(spark, sf0001, "embeddings")
    def firstN(n: Int) = emb.filter(col("vec_id") < n)
    val (first, _) = jobsDuring(Similarity.ivfCentroids(firstN(300), 4, 1))
    val (again, againJobs) = jobsDuring(Similarity.ivfCentroids(firstN(300), 4, 1))
    assert(againJobs == 0)
    assert(again.map(_.toSeq).toSeq == first.map(_.toSeq).toSeq)
    // a different relation is a different key: it trains its own
    val (_, otherJobs) = jobsDuring(Similarity.ivfCentroids(firstN(200), 4, 1))
    assert(otherJobs > 0)
  }
}
