package graft.ext

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession.spark

class GraphSpec extends AnyFunSuite {
  import spark.implicits._

  test("pageRank: hand-computed integer iteration on a path graph") {
    // 1 - 2 - 3 (path): deg(1)=deg(3)=1, deg(2)=2
    val nodes = Seq(1L, 2L, 3L).toDF("doc_id")
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("doc_a", "doc_b")
    val scale = 3000L // n divides scale: r0 = 1000 each
    val got = Graph.pageRank(nodes, pairs, iters = 2, dampPct = 85L, scale = scale)
      .select("doc_id", "pr_scaled").as[(Long, Long)].collect().toMap

    // mirror the exact integer recurrence
    val base = ((100L - 85L) * scale / 100L) / 3L // (15*3000/100)/3 = 150
    def round(r: Map[Long, Long]): Map[Long, Long] = {
      val deg = Map(1L -> 1L, 2L -> 2L, 3L -> 1L)
      val in = Map(
        1L -> r(2L) / deg(2L),
        2L -> (r(1L) / deg(1L) + r(3L) / deg(3L)),
        3L -> r(2L) / deg(2L))
      in.map { case (k, m) => k -> (base + (85L * m) / 100L) }
    }
    val expect = round(round(Map(1L -> 1000L, 2L -> 1000L, 3L -> 1000L)))
    assert(got == expect)
    // the center of the path must outrank the endpoints
    assert(got(2L) > got(1L) && got(1L) == got(3L))
  }

  test("triangles: known graph — one triangle plus a pendant and an isolate") {
    // triangle 1-2-3, pendant 3-4, isolate 5
    val nodes = Seq(1L, 2L, 3L, 4L, 5L).toDF("doc_id")
    val pairs = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L)).toDF("doc_a", "doc_b")
    val got = Graph.triangles(nodes, pairs)
      .orderBy("doc_id").as[(Long, Long, Long, Double)].collect().toSeq
    assert(got == Seq(
      (1L, 2L, 1L, 1.0),            // deg 2, in 1 triangle → coeff 1
      (2L, 2L, 1L, 1.0),
      (3L, 3L, 1L, 2.0 * 1 / 6),    // deg 3: 2·1/(3·2)
      (4L, 1L, 0L, 0.0),            // pendant: deg < 2
      (5L, 0L, 0L, 0.0)))           // isolate
  }

  test("triangles: K4 counts C(3,2) per node; partition invariant") {
    val nodes = Seq(1L, 2L, 3L, 4L).toDF("doc_id")
    val pairs = (for { a <- 1L to 4L; b <- (a + 1) to 4L } yield (a, b))
      .toDF("doc_a", "doc_b")
    val a = Graph.triangles(nodes, pairs)
      .as[(Long, Long, Long, Double)].collect().toSet
    // every node of K4: deg 3, sits in C(3,2) = 3 triangles, coeff 1
    assert(a == (1L to 4L).map(i => (i, 3L, 3L, 1.0)).toSet)
    val b = Graph.triangles(nodes.repartition(3), pairs.repartition(5))
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(a == b)
  }

  test("round-11 operators honour explicit shape parameters") {
    val nodes = Seq(1L, 2L).toDF("doc_id")
    val pairs = Seq((1L, 2L)).toDF("doc_a", "doc_b")
    // dampPct 0 → every rank is exactly the teleport base after 1 round
    val pr = Graph.pageRank(nodes, pairs, iters = 1, dampPct = 0L)
      .select("pr_scaled").as[Long].collect().toSet
    assert(pr == Set((100L * 1000000000000L / 100L) / 2L))
    val docs = Seq((1L, "a", 5L), (2L, "b", 9L)).toDF("doc_id", "text", "n_chars")
      .withColumn("lang", org.apache.spark.sql.functions.lit("en"))
      .withColumn("source", org.apache.spark.sql.functions.lit("t"))
    assert(Pipelines.prioritySample(docs, "n_chars", "doc_id", k = 1).count() == 1L)
    assert(Analytics.equidepthHistogram(docs, "n_chars", k = 2).count() == 2L)
    // theta 1.0 over unigram sets: only exact-set matches would pair
    assert(Dedup.jaccardPrefixJoin(docs, theta = 1.0, shingleW = 1).count() == 0L)
  }

  test("pageRank: isolated nodes hold base; partition invariance bit-for-bit") {
    val rnd = new scala.util.Random(3)
    val nodes = (1L to 40L).toDF("doc_id")
    val pairs = Seq.fill(60)((rnd.nextInt(30) + 1L, rnd.nextInt(30) + 1L))
      .filter { case (a, b) => a < b }.distinct.toDF("doc_a", "doc_b")
    val a = Graph.pageRank(nodes, pairs)
      .select("doc_id", "pr_scaled").as[(Long, Long)].collect().toMap
    val b = Graph.pageRank(nodes.repartition(7), pairs.repartition(5))
      .select("doc_id", "pr_scaled").as[(Long, Long)].collect().toMap
    assert(a == b)
    // nodes 31-40 have no edges: rank is exactly the teleport base
    val base = ((100L - 85L) * 1000000000000L / 100L) / 40L
    (31L to 40L).foreach(i => assert(a(i) == base))
    // total mass is conserved up to truncation (never exceeds scale)
    assert(a.values.sum <= 1000000000000L)
  }

  test("kCore: triangle survives 2-core peeling, pendant chain does not") {
    // triangle 1-2-3 with a chain 3-4-5 hanging off it
    val nodes = Seq(1L, 2L, 3L, 4L, 5L, 6L).toDF("doc_id")
    val pairs = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L), (4L, 5L))
      .toDF("doc_a", "doc_b")
    val got = Graph.kCore(nodes, pairs, k = 2, rounds = 3)
      .as[(Long, Boolean, Long, Boolean)].collect()
      .map(r => r._1 -> r).toMap
    // the 2-core is exactly the triangle, each with in-core degree 2
    Seq(1L, 2L, 3L).foreach(i => assert(got(i) == (i, true, 2L, true)))
    Seq(4L, 5L, 6L).foreach(i => assert(got(i) == (i, false, 0L, true)))
  }

  test("kCore: insufficient rounds surface as converged=false, never a wrong 'true'") {
    // path 1-2-3-4-5-6: the 2-core is empty, but peeling eats 2 endpoints
    // per round — 1 round leaves 2..5 with the new endpoints at degree 1
    val nodes = Seq(1L, 2L, 3L, 4L, 5L, 6L).toDF("doc_id")
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L))
      .toDF("doc_a", "doc_b")
    val one = Graph.kCore(nodes, pairs, k = 2, rounds = 1)
      .as[(Long, Boolean, Long, Boolean)].collect()
    assert(one.filter(_._2).map(_._1).toSet == Set(2L, 3L, 4L, 5L))
    assert(one.filter(r => r._1 == 2L || r._1 == 5L).forall(!_._4))
    // enough rounds: empty core, everything converged
    val full = Graph.kCore(nodes, pairs, k = 2, rounds = 3)
      .as[(Long, Boolean, Long, Boolean)].collect()
    assert(full.forall(r => !r._2 && r._4))
  }

  test("linkPrediction: path graph predicts the endpoints, excludes edges") {
    // 1 - 2 - 3 - 4: non-edges sharing a neighbor are (1,3), (2,4)
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("doc_a", "doc_b")
    val got = Graph.linkPrediction(pairs)
      .as[(Long, Long, Long, Double)].collect().toSeq
    // (1,3): cn=1 via node 2, deg(1)=1, deg(3)=2 → jaccard 1/(1+2-1)=0.5
    assert(got == Seq((1L, 3L, 1L, 0.5), (2L, 4L, 1L, 0.5)))
  }

  test("linkPrediction: square closes both diagonals, never an edge; topK caps") {
    // cycle 1-2-3-4-1: diagonals (1,3) and (2,4) each share TWO neighbors
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 4L)).toDF("doc_a", "doc_b")
    val got = Graph.linkPrediction(pairs)
      .as[(Long, Long, Long, Double)].collect().toSeq
    // cn=2, deg 2+2, union = 2 → jaccard 1.0: they have identical neighborhoods
    assert(got == Seq((1L, 3L, 2L, 1.0), (2L, 4L, 2L, 1.0)))
    assert(Graph.linkPrediction(pairs, topK = 1).count() == 1L)
    // no existing edge ever appears as a prediction
    val edges = Set((1L, 2L), (2L, 3L), (3L, 4L), (1L, 4L))
    got.foreach { case (a, b, _, _) => assert(!edges.contains((a, b))) }
  }

  test("linkPrediction: middles above the degree cap carry no wedges") {
    // star: hub 1 connected to 2..6 (deg 5). Uncapped, every leaf pair is
    // predicted via the hub; cap 4 silences the hub entirely.
    val pairs = (2L to 6L).map(i => (1L, i)).toDF("doc_a", "doc_b")
    val uncapped = Graph.linkPrediction(pairs, maxMiddleDeg = 64L).count()
    assert(uncapped == 10L) // C(5,2) leaf pairs
    assert(Graph.linkPrediction(pairs, maxMiddleDeg = 4L).count() == 0L)
    // leaves (deg 1) still center wedges under the cap — none exist here,
    // but a path through a leaf-degree middle must survive
    val path = Seq((1L, 2L), (2L, 3L)).toDF("doc_a", "doc_b")
    assert(Graph.linkPrediction(path, maxMiddleDeg = 2L).count() == 1L)
  }

  test("lpaCommunities splits bridged cliques that CC would merge") {
    // two triangles joined by ONE bridge edge 3–10: a single connected
    // component, but LPA's density propagation settles into two
    // communities (labels 1 and 3 after 4 synchronous rounds with
    // smallest-label ties — hand-traced)
    val nodes = Seq(1L, 2L, 3L, 10L, 11L, 12L, 99L).toDF("doc_id")
    val pairs = Seq((1L, 2L), (1L, 3L), (2L, 3L),
      (10L, 11L), (10L, 12L), (11L, 12L), (3L, 10L))
      .toDF("doc_a", "doc_b")
    val got = Graph.lpaCommunities(nodes, pairs)
      .select("doc_id", "community", "community_size")
      .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(got == Seq(
      (1L, 1L, 3L), (2L, 1L, 3L), (3L, 1L, 3L),
      (10L, 3L, 3L), (11L, 3L, 3L), (12L, 3L, 3L),
      (99L, 99L, 1L))) // not in the pair graph → own singleton
    // fixture: integer-deterministic → identical under repartition
    val fx = graft.etl.IngestOps.table(spark, graft.SparkTestSession.sf0001,
      "documents")
    val ps = Dedup.lshCandidatePairs(Dedup.minhashSignatures(fx))
    val a = Graph.lpaCommunities(fx, ps).collect().map(_.toString).sorted.toSeq
    val b = Graph.lpaCommunities(fx.repartition(9), ps).collect()
      .map(_.toString).sorted.toSeq
    assert(a == b && a.nonEmpty)
  }
}
