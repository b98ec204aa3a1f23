package graft.ext

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession.spark

class DedupSpec extends AnyFunSuite {
  import spark.implicits._

  private def docs(rows: (Long, String)*) =
    rows.toDF("doc_id", "text").withColumn("lang", org.apache.spark.sql.functions.lit("en"))
      .withColumn("n_chars", org.apache.spark.sql.functions.length($"text").cast("long"))
      .withColumn("source", org.apache.spark.sql.functions.lit("t"))

  test("exact dedup groups duplicates under one content hash, keep-first") {
    val d = docs((1L, "same text"), (2L, "same text"), (3L, "other"))
    val g = Dedup.exactGroups(d).collect()
    assert(g.length == 2)
    val dup = g.find(_.getAs[Long]("n_dups") == 2).get
    assert(dup.getAs[Long]("keep_id") == 1L)
  }

  test("minhash: identical token sets → identical signatures; disjoint → different") {
    val d = docs((1L, "alpha beta gamma"), (2L, "gamma beta alpha alpha"), (3L, "delta epsilon zeta"))
    val sigs = Dedup.minhashSignatures(d).collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    (0 until Dedup.NumHashes).foreach { i =>
      assert(sigs(1L).getAs[String](s"s$i") == sigs(2L).getAs[String](s"s$i"))
    }
    assert((0 until Dedup.NumHashes).exists(i =>
      sigs(1L).getAs[String](s"s$i") != sigs(3L).getAs[String](s"s$i")))
  }

  test("LSH: identical docs are candidate pairs; disjoint docs are not") {
    val d = docs((1L, "alpha beta gamma"), (2L, "alpha beta gamma"), (3L, "x1 y2 z3 w4"))
    val pairs = Dedup.lshCandidatePairs(Dedup.minhashSignatures(d))
      .as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.contains((1L, 3L)) && !pairs.contains((2L, 3L)))
  }

  test("simhash: equal texts agree; simhash is within 16-bit range") {
    val d = docs((1L, "spark scala engine"), (2L, "spark scala engine"), (3L, "totally different words"))
    val sh = Dedup.simhash(d).collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("simhash16")).toMap
    assert(sh(1L) == sh(2L))
    assert(sh.values.forall(v => v >= 0 && v < 65536))
  }

  test("dropNearDuplicates keeps the lowest-id member of each close group") {
    val d = docs((1L, "a b c d"), (2L, "a b c d"), (3L, "a b c e"), (4L, "x1 y2 z3 w4"))
    val kept = Dedup.dropNearDuplicates(d, threshold = 0.7)
      .select("doc_id").as[Long].collect().sorted.toSeq
    // 2 is an exact dup of 1; 3 has jaccard 3/5 = 0.6 < 0.7 so it survives
    assert(kept == Seq(1L, 3L, 4L))
  }

  test("token-less documents in one block dedup as exact duplicates (oracle parity)") {
    // "!!!" and "???" have no [a-z0-9] tokens: two empty token sets are
    // Jaccard-1.0 (the oracle's ELSE 1.0 branch) → keep the lower id only
    val d = docs((1L, "!!!"), (2L, "???"), (3L, "real words here"))
    val kept = Dedup.dropNearDuplicates(d, threshold = 0.8)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(kept == Seq(1L, 3L))
  }

  test("token-join survivor set equals the array-intersect formulation (oracle lock)") {
    val docs = graft.etl.IngestOps.table(graft.SparkTestSession.spark,
      graft.SparkTestSession.sf0001, "documents")
    val viaTokenJoin = Dedup.dropNearDuplicates(docs, 0.8)
      .select("doc_id").as[Long].collect().sorted.toSeq
    val losers = Dedup.jaccardPairs(docs)
      .filter(org.apache.spark.sql.functions.col("jaccard") >= 0.8)
      .select(org.apache.spark.sql.functions.col("doc_b").as("doc_id")).distinct()
    val viaArrays = docs.join(losers, Seq("doc_id"), "left_anti")
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(viaTokenJoin == viaArrays)
  }

  test("duplicateClusters: transitive closure over pair chains") {
    // chain 1-2, 2-3 (1 and 3 never paired directly); 4-5; 6 isolated
    val d = (1L to 6L).map(i => (i, s"doc$i")).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (2L, 3L), (4L, 5L)).toDF("doc_a", "doc_b")
    val clusters = PairGraphClusters.duplicateClusters(d, pairs)
      .as[(Long, Long)].collect().toMap
    assert(clusters == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 4L, 6L -> 6L))
  }

  test("bipartite clusterByBuckets equals pair-graph duplicateClusters on LSH buckets") {
    val docs = graft.etl.IngestOps.table(graft.SparkTestSession.spark,
      graft.SparkTestSession.sf0001, "documents")
    val sigs = Dedup.minhashSignatures(docs)
    val viaBuckets = Dedup.clusterByBuckets(docs, Dedup.bandBuckets(sigs))
      .as[(Long, Long)].collect().toMap
    val viaPairs = PairGraphClusters.duplicateClusters(docs, Dedup.lshCandidatePairs(sigs))
      .as[(Long, Long)].collect().toMap
    assert(viaBuckets == viaPairs)
  }

  test("duplicateClusters on real LSH candidates: labels are component minima") {
    val docs = graft.etl.IngestOps.table(graft.SparkTestSession.spark,
      graft.SparkTestSession.sf0001, "documents")
    val pairs = Dedup.lshCandidatePairs(Dedup.minhashSignatures(docs))
    val clusters = PairGraphClusters.duplicateClusters(docs, pairs).as[(Long, Long)].collect()
    assert(clusters.length == 500)
    // every cluster id is a member of its own cluster, and is its minimum
    val byCluster = clusters.groupBy(_._2)
    byCluster.foreach { case (cid, members) =>
      assert(members.map(_._1).min == cid)
    }
  }

  test("df-cap drops block-ubiquitous tokens; capped-empty docs compare by original sets") {
    // c1..c4 appear in >50% of the 7-doc block → dropped under the cap.
    // Uncapped, docs 1-4 are pairwise J=4/6≈0.67 ≥ 0.6 (only doc 1 would
    // survive); capped, their rare-token sets {x},{y},{z},{w} are disjoint →
    // all survive. Docs 5-7 lose every token to the cap, so they are compared
    // by ORIGINAL sets: J(5,6)=1 → 6 dropped; J(5,7)=0.5 < 0.6 → 7 survives.
    val d = docs(
      (1L, "c1 c2 c3 c4 x"), (2L, "c1 c2 c3 c4 y"),
      (3L, "c1 c2 c3 c4 z"), (4L, "c1 c2 c3 c4 w"),
      (5L, "c1 c2"), (6L, "c1 c2"), (7L, "c1"))
    val uncapped = Dedup.dropNearDuplicates(d, threshold = 0.6)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(uncapped == Seq(1L, 5L, 7L)) // J(5,6)=1 drops 6; J(5,7)=0.5 keeps 7
    val capped = Dedup.dropNearDuplicates(d, threshold = 0.6,
      maxDocFreq = 0.5, minBlockForCap = 3)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(capped == Seq(1L, 2L, 3L, 4L, 5L, 7L))
  }

  test("dropNearDuplicates: the df cap holds for adaptive and fixed salt counts") {
    val d = docs(
      (1L, "c1 c2 c3 c4 x"), (2L, "c1 c2 c3 c4 y"),
      (3L, "c1 c2 c3 c4 z"), (4L, "c1 c2 c3 c4 w"),
      (5L, "c1 c2"), (6L, "c1 c2"), (7L, "c1"))
    for (salts <- Seq(0, 4)) { // 0 = adaptive from corpus size
      val capped = Dedup.dropNearDuplicates(d, threshold = 0.6, textCol = "text",
        maxDocFreq = 0.5, minBlockForCap = 3, salts = salts)
        .select("doc_id").as[Long].collect().sorted.toSeq
      assert(capped == Seq(1L, 2L, 3L, 4L, 5L, 7L), salts) // the df-cap semantics engaged
    }
  }

  test("adaptiveSalts scales with corpus size within [1, 64]") {
    assert(Dedup.adaptiveSalts(0L) == 1)
    assert(Dedup.adaptiveSalts(2000L) == 1)
    assert(Dedup.adaptiveSalts(2001L) == 2)
    assert(Dedup.adaptiveSalts(1000000000L) == 64)
    // the stats-based estimator never launches a job and stays in range
    val d = graft.etl.IngestOps.table(graft.SparkTestSession.spark,
      graft.SparkTestSession.sf0001, "documents")
    val s = Dedup.adaptiveSaltsFor(d)
    assert(s >= 1 && s <= 64)
  }

  test("dropNearDuplicates construction launches no Spark job (adaptive salts from stats)") {
    val d = graft.etl.IngestOps.table(graft.SparkTestSession.spark,
      graft.SparkTestSession.sf0001, "documents")
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        // record group id AND description: the guard filters only the
        // specific intentional StageStore write/read jobs by DESCRIPTION,
        // so an unexpected job inside the tagged group still fails
        // (ADVICE r14: filtering the whole group id would hide any
        // accidental action that ran inside the setJobGroup window)
        def p(k: String) = Option(js.properties)
          .flatMap(pr => Option(pr.getProperty(k))).getOrElse("?")
        jobs.add(p("spark.jobGroup.id") + "|" + p("spark.job.description")); ()
      }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      // the bus delivers asynchronously in FIFO order: run a tagged marker
      // job and wait for ITS event — once it lands, every earlier event
      // (e.g. the parquet schema-inference job from table()) has landed too
      def flushBus(tag: String): Unit = {
        sc.setJobGroup(tag, tag)
        try sc.parallelize(Seq(1)).count() finally sc.clearJobGroup()
        val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
        while (!jobs.contains(tag + "|" + tag) && System.nanoTime() < deadline)
          Thread.sleep(20)
      }
      flushBus("flush-pre")
      jobs.clear()
      Dedup.dropNearDuplicates(d, 0.8) // construction only — no action
      flushBus("flush-post") // after this lands, jobs holds every construction job
      // the StageStore losers-set write + read-back schema job are the
      // INTENTIONAL construction-time actions — filtered by their exact
      // job DESCRIPTIONS, so any OTHER job (even one running inside the
      // tagged window) still fails the guard
      assert(jobs.toArray(Array.empty[String]).toSeq.filterNot(_.matches(
          "graft-stage-write\\|StageStore (write|read) .*"))
          == Seq("flush-post|flush-post"),
        s"construction must run no job, saw: ${jobs.toArray.mkString("; ")}")
    } finally sc.removeSparkListener(listener)
  }

  test("salted jaccardPairs output is byte-identical to the unsalted join") {
    val d = graft.etl.IngestOps.table(graft.SparkTestSession.spark,
      graft.SparkTestSession.sf0001, "documents")
    def run(salts: Int) = Dedup.jaccardPairs(d, salts = salts)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted.toSeq
    assert(run(5) == run(1))
  }

  test("dropNearDuplicatesLsh: losers are exactly band-collided pairs at J >= t") {
    val d = graft.etl.IngestOps.table(graft.SparkTestSession.spark,
      graft.SparkTestSession.sf0001, "documents")
    val kept = Dedup.dropNearDuplicatesLsh(d, 0.8)
      .select("doc_id").as[Long].collect().toSet
    // independent reference: Jaccard re-score of the LSH candidate pairs
    val pairs = Dedup.lshCandidatePairs(Dedup.minhashSignatures(d))
    val toks = d.select($"doc_id",
      org.apache.spark.sql.functions.array_distinct(
        TextOps.fastTokens($"text")).as("toks"))
    val losers = pairs
      .join(toks.select($"doc_id".as("doc_a"), $"toks".as("ta")), "doc_a")
      .join(toks.select($"doc_id".as("doc_b"), $"toks".as("tb")), "doc_b")
      .withColumn("u", org.apache.spark.sql.functions.size(
        org.apache.spark.sql.functions.array_union($"ta", $"tb")))
      .withColumn("i", org.apache.spark.sql.functions.size(
        org.apache.spark.sql.functions.array_intersect($"ta", $"tb")))
      .filter(org.apache.spark.sql.functions.when($"u" > 0,
        $"i".cast("double") / $"u").otherwise(1.0) >= 0.8)
      .select("doc_b").as[Long].collect().toSet
    val all = d.select("doc_id").as[Long].collect().toSet
    assert(kept == all -- losers)
    // exact duplicates always collide in every band, so they never survive
    val exactLosers = Dedup.exactGroups(d)
      .filter($"n_dups" > 1).select("keep_id").as[Long].collect().toSet
    assert(exactLosers.subsetOf(kept) || exactLosers.isEmpty)
  }

  test("dropNearDuplicatesLshRep: cluster members drop against the representative") {
    // three near-identical docs (one token differs) + one distinct doc:
    // identical band signatures put the cluster in shared buckets, the min
    // id is the representative, the rest drop; the distinct doc survives
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val d = Seq(
      (10L, base + " one"), (11L, base + " two"), (12L, base + " three"),
      (99L, "completely different words with nothing shared at all here ok"))
      .toDF("doc_id", "text")
    val kept = Dedup.dropNearDuplicatesLshRep(d, 0.8)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(kept == Seq(10L, 99L))
    // and the survivor set is a subset of the all-pairs variant's CANDIDATE
    // basis: rep candidates ⊆ all pairs, so rep can only keep MORE docs
    val keptPairs = Dedup.dropNearDuplicatesLsh(d, 0.8)
      .select("doc_id").as[Long].collect().toSet
    assert(keptPairs.subsetOf(kept.toSet))
  }

  test("dropNearDuplicatesLshRep: bucket minima always survive") {
    val d = graft.etl.IngestOps.table(graft.SparkTestSession.spark,
      graft.SparkTestSession.sf0001, "documents")
    val kept = Dedup.dropNearDuplicatesLshRep(d, 0.8)
      .select("doc_id").as[Long].collect().toSet
    // a bucket's min id is never a doc_b, so the global min doc survives,
    // and every bucket representative survives unless a SMALLER rep of
    // another shared bucket beats it — check the global min as the anchor
    val minId = d.agg(org.apache.spark.sql.functions.min("doc_id"))
      .head().getLong(0)
    assert(kept.contains(minId))
    // rep keeps at least as much as the all-pairs form (candidates shrink)
    val keptPairs = Dedup.dropNearDuplicatesLsh(d, 0.8)
      .select("doc_id").as[Long].collect().toSet
    assert(keptPairs.subsetOf(kept))
  }

  test("keep-first invariants on the fixture: idempotent, block minima survive") {
    val d = graft.etl.IngestOps.table(graft.SparkTestSession.spark,
      graft.SparkTestSession.sf0001, "documents")
    val once = Dedup.dropNearDuplicates(d, 0.8)
    val onceIds = once.select("doc_id").as[Long].collect().sorted.toSeq
    // a survivor set has no (a < b, J >= t) pair left, so a second pass is a no-op
    val twiceIds = Dedup.dropNearDuplicates(once, 0.8)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(twiceIds == onceIds)
    // the lowest-id doc of every (lang, bkt) block can never be dropped
    val blockMins = d.selectExpr("lang", "CAST(n_chars DIV 100 AS BIGINT) AS bkt", "doc_id")
      .groupBy("lang", "bkt").agg(org.apache.spark.sql.functions.min("doc_id").as("m"))
      .select("m").as[Long].collect().toSet
    assert(blockMins.subsetOf(onceIds.toSet))
  }

  test("SortedIntersectCount equals size(array_intersect) on random sorted arrays") {
    import org.apache.spark.sql.functions.{array_intersect, array_sort, col, size}
    import org.apache.spark.sql.GraftColumnBridge.{toColumn, toExpression}
    val rnd = new scala.util.Random(23)
    def arr() = Seq.fill(rnd.nextInt(12))(s"t${rnd.nextInt(15)}").distinct.sorted
    val rows = Seq((Seq.empty[String], Seq.empty[String]), (Seq("a"), Seq.empty[String])) ++
      Seq.fill(60)((arr(), arr()))
    val df = rows.toDF("a", "b")
      .select(array_sort(col("a")).as("a"), array_sort(col("b")).as("b"))
    val both = df.select(
      toColumn(graft.functions.SortedIntersectCount(
        toExpression(col("a")), toExpression(col("b")))).as("fast"),
      size(array_intersect(col("a"), col("b"))).as("ref")).collect()
    both.foreach(r => assert(r.getInt(0) == r.getInt(1)))
  }

  test("shingles: w consecutive tokens, order-sensitive, short docs drop out") {
    val d = docs((1L, "a b c d"), (2L, "d c b a"), (3L, "x y"))
    val sh = Dedup.shingles(d).collect()
      .groupBy(_.getAs[Long]("doc_id"))
      .view.mapValues(_.map(_.getAs[String]("tok")).toSet).toMap
    assert(sh(1L) == Set("a b c", "b c d"))
    assert(sh(2L) == Set("d c b", "c b a")) // reversed text → different shingles
    assert(!sh.contains(3L)) // fewer than w tokens → no shingles
    // same token BAG, different order → different shingle signatures
    val sigs = Dedup.minhashFromTokens(Dedup.shingles(d)).collect()
      .map(r => r.getAs[Long]("doc_id") -> (0 until Dedup.NumHashes)
        .map(i => r.getAs[String](s"s$i")).mkString("|")).toMap
    assert(sigs(1L) != sigs(2L))
  }

  test("jaccardPrefixJoin: equals the quadratic exact join at the threshold") {
    val d = docs(
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "alpha beta gamma delta zeta"),     // J(1,2) = 4/6 ≈ 0.667 ≥ 0.6
      (3L, "alpha beta gamma delta epsilon"),  // J(1,3) = 1.0
      (4L, "omega psi chi phi"),               // disjoint from 1-3
      (5L, "omega psi chi phi upsilon tau"),   // J(4,5) = 4/6 ≥ 0.6
      (6L, ""))                                // empty set: never paired
    val got = Dedup.jaccardPrefixJoin(d, theta = 0.6, shingleW = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // naive quadratic reference over token sets
    val sets = Map(1L -> "alpha beta gamma delta epsilon", 2L -> "alpha beta gamma delta zeta",
      3L -> "alpha beta gamma delta epsilon", 4L -> "omega psi chi phi",
      5L -> "omega psi chi phi upsilon tau", 6L -> "")
      .map { case (k, v) => k -> v.split("\\s+").filter(_.nonEmpty).toSet }
    val expect = (for {
      a <- sets.keys; b <- sets.keys if a < b
      if sets(a).nonEmpty && sets(b).nonEmpty
      i = (sets(a) & sets(b)).size
      u = (sets(a) | sets(b)).size
      j = i.toDouble / u if j >= 0.6
    } yield (a, b) -> j).toMap
    assert(got == expect)
    assert(got.contains((1L, 2L)) && got((1L, 3L)) == 1.0 && got.contains((4L, 5L)))
  }

  test("jaccardPrefixJoin: partition-invariant and no sub-threshold leakage") {
    val rnd = new scala.util.Random(11)
    val vocab = Vector.tabulate(30)(i => s"w$i")
    val d = docs((1L to 60L).map(i =>
      i -> Seq.fill(6 + rnd.nextInt(6))(vocab(rnd.nextInt(30))).mkString(" ")): _*)
    val a = Dedup.jaccardPrefixJoin(d, theta = 0.5, shingleW = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val b = Dedup.jaccardPrefixJoin(d.repartition(7), theta = 0.5, shingleW = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(a == b)
    assert(a.forall(_._3 >= 0.5))
    // completeness vs the existing blocked-pairs op restricted to θ
    val blocked = Dedup.jaccardPairs(d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .filter(_._3 >= 0.5).toSet
    assert(blocked.subsetOf(a))
  }

  test("simhashHammingPairs: equals the quadratic form; identical docs at distance 0") {
    val rnd = new scala.util.Random(31)
    val vocab = Vector.tabulate(40)(i => s"w$i")
    val d = docs(((1L to 60L).map(i =>
        i -> Seq.fill(8 + rnd.nextInt(8))(vocab(rnd.nextInt(40))).mkString(" ")) :+
      (61L -> "alpha beta gamma delta") :+ (62L -> "alpha beta gamma delta")): _*)
    val got = Dedup.simhashHammingPairs(d, maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // quadratic reference over the operator's own signatures
    val sigs = Dedup.simhash(d).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expect = (for {
      a <- sigs.keys; b <- sigs.keys if a < b
      h = java.lang.Long.bitCount(sigs(a) ^ sigs(b)) if h <= 3
    } yield (a, b, h.toLong)).toSet
    assert(got == expect)
    assert(got.contains((61L, 62L, 0L))) // identical docs: distance 0
    // partition-invariant
    val again = Dedup.simhashHammingPairs(d.repartition(9), maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == again)
  }

  test("containmentPrefixJoin: directed excerpt pairs the Jaccard join hides") {
    val d = docs(
      (1L, "alpha beta gamma"),                              // A ⊂ B below
      (2L, "alpha beta gamma delta epsilon zeta eta theta"), // superset of 1
      (3L, "alpha beta gamma"),                              // duplicate of 1
      (4L, "omega psi chi"))                                 // disjoint
    val got = Dedup.containmentPrefixJoin(d, theta = 0.8, shingleW = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // 1→2 full containment (J(1,2)=3/8 — invisible to the Jaccard join);
    // 2→1 only 3/8; duplicates 1↔3 contain both ways
    assert(got == Map((1L, 2L) -> 1.0, (3L, 2L) -> 1.0,
      (1L, 3L) -> 1.0, (3L, 1L) -> 1.0))
    // the symmetric join at the same θ must NOT see the excerpt pair
    val jac = Dedup.jaccardPrefixJoin(d, theta = 0.8, shingleW = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!jac.contains((1L, 2L)) && jac.contains((1L, 3L)))
  }

  test("containmentPrefixJoin: equals the quadratic form; partition-invariant") {
    val rnd = new scala.util.Random(23)
    val vocab = Vector.tabulate(25)(i => s"w$i")
    val d = docs((1L to 50L).map(i =>
      i -> Seq.fill(4 + rnd.nextInt(8))(vocab(rnd.nextInt(25))).mkString(" ")): _*)
    val a = Dedup.containmentPrefixJoin(d, theta = 0.7, shingleW = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val b = Dedup.containmentPrefixJoin(d.repartition(9), theta = 0.7, shingleW = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(a == b)
    // quadratic reference over distinct token sets
    val sets = d.collect().map(r => r.getLong(0) ->
      r.getString(1).split("\\s+").filter(_.nonEmpty).toSet).toMap
    val expect = (for {
      x <- sets.keys; y <- sets.keys if x != y
      if sets(x).nonEmpty
      c = (sets(x) & sets(y)).size.toDouble / sets(x).size if c >= 0.7
    } yield (x, y, c)).toSet
    assert(a == expect && a.nonEmpty)
  }

  test("lshEval: identities hold and duplicates are found with full recall") {
    val rnd = new scala.util.Random(41)
    val vocab = Vector.tabulate(50)(i => s"w$i")
    def text() = Seq.fill(12)(vocab(rnd.nextInt(50))).mkString(" ")
    val base = (1L to 30L).map(i => i -> text())
    // plant 3 exact duplicate pairs — exact Jaccard 1.0, must be recalled
    val d = docs((base ++ Seq(31L -> base(0)._2, 32L -> base(1)._2,
      33L -> base(2)._2)): _*)
    val r = Dedup.lshEval(d, theta = 0.8, shingleW = 3).collect().head
    val (ne, nc, tp, fn) = (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    assert(ne >= 3L && fn == ne - tp)
    assert(tp >= 3L) // identical docs share every band: always candidates
    assert(r.getDouble(4) == tp.toDouble / nc && r.getDouble(5) == tp.toDouble / ne)
  }

  test("jaccard: identical = 1.0, disjoint absent or 0") {
    val d = docs((1L, "a b c"), (2L, "a b c"), (3L, "a b d"))
    val j = Dedup.jaccardPairs(d).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")) -> r.getAs[Double]("jaccard")).toMap
    assert(j((1L, 2L)) == 1.0)
    assert(math.abs(j((1L, 3L)) - 0.5) < 1e-12) // {a,b,c}∩{a,b,d}=2, ∪=4
  }

  test("crossSourceOverlap: hand-built shared shingles; non-overlapping pairs absent; partition-invariant") {
    import org.apache.spark.sql.functions.lit
    // A: 6 tokens → 2 distinct 5-shingles; B: 5 tokens → 1 (= A's first);
    // C: disjoint. Expect only (A,B): shared 1, overlap 1/min(2,1) = 1.0
    val d = Seq(
      (1L, "alpha beta gamma delta epsilon zeta", "srcA"),
      (2L, "alpha beta gamma delta epsilon", "srcB"),
      (3L, "one two three four five", "srcC"))
      .toDF("doc_id", "text", "source")
    val got = Dedup.crossSourceOverlap(d).collect()
    assert(got.length == 1)
    val r = got.head
    assert((r.getAs[String]("src_a"), r.getAs[String]("src_b")) == (("srcA", "srcB")))
    assert(r.getAs[Long]("n_shared") == 1L && r.getAs[Long]("n_a") == 2L &&
      r.getAs[Long]("n_b") == 1L && r.getAs[Long]("overlap_micro") == 1000000L)
    // within-source duplicate shingles collapse before the join: a repeat
    // of B's text inside srcB changes nothing
    val dup = d.unionByName(Seq((4L, "alpha beta gamma delta epsilon", "srcB"))
      .toDF("doc_id", "text", "source"))
    val got2 = Dedup.crossSourceOverlap(dup).collect()
    assert(got2.length == 1 && got2.head.getAs[Long]("n_shared") == 1L &&
      got2.head.getAs[Long]("n_b") == 1L)
    // fixture corpus: exact integer chain → partition invariance
    val fx = graft.etl.IngestOps.table(spark, graft.SparkTestSession.sf0001,
      "documents")
    val a = Dedup.crossSourceOverlap(fx).collect().map(_.toString).toSeq
    val b = Dedup.crossSourceOverlap(fx.repartition(13)).collect()
      .map(_.toString).toSeq
    assert(a == b)
    // r18 grouped-sets shape: the corpus-sized shingle relation is never
    // self-joined — the only joins left are broadcasts of the
    // |sources|²-bounded rollup, so no shuffle-side join may appear.
    // Release the rollups the collects above persisted first, so the
    // asserted plan is the fresh shape, not a cache-substituted one.
    spark.catalog.clearCache()
    val plan = Dedup.crossSourceOverlap(fx).queryExecution.executedPlan.toString
    spark.catalog.clearCache()
    assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin"))
  }

  test("keepBestInCluster keeps the highest-alpha member, not the first") {
    // docs 1 and 2 are token-identical (same cluster); 2 has MORE alphabetic
    // characters, so keep-best selects it even though keep-first would pick 1
    val d = docs(
      (1L, "alpha beta gamma delta"),
      (2L, "alpha  beta  gamma  delta"),   // same tokens, 2 extra spaces → same n_alpha... see below
      (3L, "x1 y2 z3 w4"))
    // n_alpha(1) = 19, n_alpha(2) = 19 (spaces don't count) → tie falls to
    // n_chars: doc 2 is longer (more chars) so doc 2 wins the tie chain
    val kept = Dedup.keepBestInCluster(d).collect()
      .map(r => r.getAs[Long]("cluster_id") -> r).toMap
    assert(kept(1L).getAs[Long]("doc_id") == 2L)
    assert(kept(1L).getAs[Long]("cluster_size") == 2L)
    assert(kept(3L).getAs[Long]("doc_id") == 3L)
    assert(kept(3L).getAs[Long]("cluster_size") == 1L)
  }

  test("keepBestInCluster: strictly more alpha beats lower id; singletons kept") {
    val d = docs(
      (1L, "alpha beta gamma"),
      (2L, "alpha beta gamma zz"),         // superset tokens → same LSH cluster at high sim? ensure via identical tokens below
      (5L, "unique solitary document"))
    val got = Dedup.keepBestInCluster(d).collect()
    // regardless of whether 1-2 band-collide, every output row's doc_id is
    // the argmax of its own cluster and cluster sizes sum to the corpus size
    assert(got.map(_.getAs[Long]("cluster_size")).sum == 3L)
    val byCluster = got.map(r => r.getAs[Long]("cluster_id") -> r.getAs[Long]("doc_id")).toMap
    if (byCluster.contains(1L) && got.length == 2)
      assert(byCluster(1L) == 2L) // 2 has more alpha chars than 1
    // partition invariance on the fixture corpus
    val fx = graft.etl.IngestOps.table(spark, graft.SparkTestSession.sf0001,
      "documents")
    val a = Dedup.keepBestInCluster(fx).collect().map(_.toString).sorted.toSeq
    val b = Dedup.keepBestInCluster(fx.repartition(11)).collect().map(_.toString).sorted.toSeq
    assert(a == b)
  }

  test("sortedNeighborhoodPairs: window bounds candidates; far-sorting " +
    "near-dups are the documented miss") {
    // keys sort as: "alpha beta gamma d" (d1, d2), then eight spacers
    // (m00..m07), then "zeta beta gamma"-ish (d3). d1/d2 share all tokens
    // → adjacent AND similar. d3 has the SAME token set as d4 ("beta gamma
    // zeta" rotated) but its key starts with 'z' while d4's starts with 'b'
    // — more than `window` apart in the sort, so SNM must NOT pair them.
    val spacers = (0 until 8).map(i => (100L + i, s"m0$i filler$i unique$i"))
    val d = docs(Seq(
      (1L, "alpha beta gamma delta"),
      (2L, "alpha beta gamma delta epsilon"),
      (3L, "zeta beta gamma"),
      (4L, "beta gamma zeta")) ++ spacers: _*)
    val got = Dedup.sortedNeighborhoodPairs(d, window = 3, theta = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.contains((1L, 2L)), s"adjacent near-dups must pair: $got")
    assert(!got.contains((3L, 4L)),
      s"rotated-key near-dups sort far apart — SNM's documented miss: $got")
    // window-2 with identical texts: all three mutual pairs need w ≥ 3 —
    // w = 2 only links sort-adjacent ones (two pairs of the triangle)
    val tri = docs((10L, "one two three"), (11L, "one two three"),
      (12L, "one two three"))
    val w2 = Dedup.sortedNeighborhoodPairs(tri, window = 2, theta = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(w2 == Set((10L, 11L), (11L, 12L)))
    val w3 = Dedup.sortedNeighborhoodPairs(tri, window = 3, theta = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(w3 == Set((10L, 11L), (11L, 12L), (10L, 12L)))
    // fixture: deterministic under repartition (exact ranks + exact Jaccard)
    val fx = graft.etl.IngestOps.table(spark, graft.SparkTestSession.sf0001,
      "documents")
    val x = Dedup.sortedNeighborhoodPairs(fx).collect().map(_.toString).sorted.toSeq
    val y = Dedup.sortedNeighborhoodPairs(fx.repartition(9)).collect()
      .map(_.toString).sorted.toSeq
    assert(x == y)
  }
}
