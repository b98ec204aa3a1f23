package graft.ext

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession.{sf0001, spark}

class PipelinesSpec extends AnyFunSuite {
  import spark.implicits._

  test("curation pipeline: gates and dedup compose; survivors satisfy every gate") {
    val docs = graft.etl.IngestOps.table(spark, sf0001, "documents")
    val out = Pipelines.curateCorpus(docs, minTokens = 20, minAlphaRatio = 0.6).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(r.getAs[String]("lang") == "en")
      assert(r.getAs[Long]("n_tokens") >= 20)
      assert(r.getAs[Double]("alpha_ratio") >= 0.6)
    }
    // dedup really dropped something relative to the gates alone
    val gatedOnly = Pipelines.curateCorpus(docs, minTokens = 20,
      minAlphaRatio = 0.6, dedupeThreshold = 1.1).count() // threshold > 1 → no pairs
    assert(out.length <= gatedOnly)
  }

  test("synthetic: exact dups removed, distinct texts kept") {
    val d = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again and again", "en", "s"),
      (2L, "the quick brown fox jumps over the lazy dog again and again and again", "en", "s"),
      (3L, "a completely different set of english words that is long enough to pass gates easily here", "en", "s"),
      (4L, "ein deutscher satz der nicht englisch ist und daher rausfliegt aus dem korpus", "de", "s"))
      .toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", org.apache.spark.sql.functions.length($"text").cast("long"))
    val kept = Pipelines.curateCorpus(d, minTokens = 5, minAlphaRatio = 0.5)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(kept == Seq(1L, 3L)) // 2 = dup of 1; 4 = wrong language
  }

  test("trainingExamples: manifest conserves chunk tokens and respects bin arithmetic") {
    val docs = graft.etl.IngestOps.table(spark, sf0001, "documents")
    val out = Pipelines.trainingExamples(docs, budget = 256, shards = 4)
      .orderBy("shard", "seq_id").collect()
    assert(out.nonEmpty)
    // token conservation: the manifest's total equals the chunks' total
    // over the same kept set
    val kept = Dedup.dropNearDuplicatesLshRep(
      docs.join(TextOps.quality(docs).select("doc_id", "n_tokens", "alpha_ratio"), "doc_id")
        .filter($"lang" === "en" && $"n_tokens" >= 10 && $"n_tokens" <= 100000 &&
          $"alpha_ratio" >= 0.5)
        .select("doc_id", "text", "lang", "n_chars", "source"))
    val chunkTotal = Chunking.chunkDocs(kept)
      .agg(org.apache.spark.sql.functions.sum("n_tokens")).as[Long].head()
    assert(out.map(_.getAs[Long]("seq_tokens")).sum == chunkTotal)
    // bins start where the previous stream offset says they do: per shard,
    // seq_ids are nondecreasing and bounded by cum/budget
    out.groupBy(_.getAs[Long]("shard")).foreach { case (_, rows) =>
      val seqs = rows.map(_.getAs[Long]("seq_id")).toSeq
      assert(seqs == seqs.sorted)
    }
  }

  test("trainingExamples is partitioning-invariant") {
    val docs = graft.etl.IngestOps.table(spark, sf0001, "documents")
    val a = Pipelines.trainingExamples(docs.repartition(3), budget = 128)
      .orderBy("shard", "seq_id").collect().toSeq
    val b = Pipelines.trainingExamples(docs.repartition(17), budget = 128)
      .orderBy("shard", "seq_id").collect().toSeq
    assert(a == b)
  }

  test("temperatureMix: sqrt-weighted shares and exact integer quotas") {
    // src a: 3 docs x 3 tokens = 9 tokens -> w = sqrt(9)*1e6 = 3e6
    // src b: 4 docs x 4 tokens = 16 tokens -> w = 4e6; tw = 7e6
    val rows = (1 to 3).map(i => (i.toLong, "a", "t t t")) ++
      (4 to 7).map(i => (i.toLong, "b", "t t t t"))
    val df = rows.toDF("doc_id", "source", "text")
    val out = Pipelines.temperatureMix(df).orderBy("source").collect()
    val a = out(0); val b = out(1)
    assert(a.getAs[Long]("n_tokens") == 9L && b.getAs[Long]("n_tokens") == 16L)
    assert(a.getAs[Long]("w_micro") == 3000000L && b.getAs[Long]("w_micro") == 4000000L)
    assert(a.getAs[Double]("raw_share") == 9.0 / 25.0)
    assert(a.getAs[Double]("temp_share") == 3000000.0 / 7000000.0)
    // temperature smooths toward the small source: its share rises
    assert(a.getAs[Double]("temp_share") > a.getAs[Double]("raw_share"))
    assert(b.getAs[Double]("temp_share") < b.getAs[Double]("raw_share"))
    // exact integer quotas: floor(1e5 * 3/7), floor(1e5 * 4/7)
    assert(a.getAs[Long]("token_quota") == 42857L)
    assert(b.getAs[Long]("token_quota") == 57142L)
    // degenerate all-empty-text corpus: total weight 0 → null quota (the
    // nullif guard both engines share), never a division error
    val empties = Seq((1L, "a", ""), (2L, "b", "")).toDF("doc_id", "source", "text")
    val e = Pipelines.temperatureMix(empties).orderBy("source").collect()
    assert(e.length == 2 && e.forall(_.isNullAt(e.head.fieldIndex("token_quota"))))
  }

  test("mixSources: smallest-constrained group kept whole, boosted group gets 2x share") {
    import org.apache.spark.sql.functions._
    // a: 100 docs, b: 40, c: 25. weights: a=2, others=1.
    // scale = min(100/2, 40/1, 25/1) = 25 -> targets a=50, b=25, c=25.
    val df = spark.range(165).select(
      when(col("id") < 100, "a").when(col("id") < 140, "b").otherwise("c").as("g"),
      col("id").as("k"))
    val out = Pipelines.mixSources(df, "g", "k",
      when(col("g") === "a", 2.0).otherwise(1.0))
    val counts = out.groupBy("g").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts == Map("a" -> 50L, "b" -> 25L, "c" -> 25L))
    // deterministic: repartitioning does not change the selection
    val ids1 = out.select("k").collect().map(_.getLong(0)).sorted.toSeq
    val ids2 = Pipelines.mixSources(df.repartition(7), "g", "k",
      when(col("g") === "a", 2.0).otherwise(1.0))
      .select("k").collect().map(_.getLong(0)).sorted.toSeq
    assert(ids1 == ids2)
  }

  test("mixByTokenBudget: per-group token totals land in [budget, budget + max doc); invariant") {
    import org.apache.spark.sql.functions._
    // 2 groups x 50 docs of 3..12 tokens each; budget 60 tokens per group
    val rnd = new scala.util.Random(41)
    val docs = (0L until 100L).map { i =>
      (i, if (i % 2 == 0) "a" else "b",
        Seq.fill(rnd.nextInt(10) + 3)("t").mkString(" "))
    }
    val df = docs.toDF("doc_id", "g", "text")
    val out = Pipelines.mixByTokenBudgetScalable(df, "g", "doc_id", 60L)
    val byG = out.groupBy("g").agg(sum("n_tok").as("tot")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byG.keySet == Set("a", "b"))
    // straddle rule: never undershoots the budget, overflows < one max doc
    byG.values.foreach(t => assert(t >= 60L && t < 60L + 12L, s"tot=$t"))
    val ids1 = out.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    val ids2 = Pipelines.mixByTokenBudgetScalable(df.repartition(7), "g", "doc_id", 60L)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(ids1 == ids2)
    // budget larger than the corpus: everything kept
    assert(Pipelines.mixByTokenBudgetScalable(df, "g", "doc_id", 100000L).count() == 100)
  }

  test("incrementalIngest: content-keyed accept; whitespace variants rejected; growth-stable") {
    import spark.implicits._
    val existing = Seq((1L, "alpha beta gamma")).toDF("doc_id", "text")
    val incoming = Seq(
      (10L, "alpha  BETA gamma"),   // canonical dup of existing → rejected
      (11L, "delta epsilon"),       // fresh → accepted
      (12L, "delta   EPSILON"),     // within-batch dup of 11 → rejected
      (13L, "zeta eta")).toDF("doc_id", "text")
    val got = Pipelines.incrementalIngest(existing, incoming)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(got == Seq(11L, 13L))
    // growth-stability: accepting the batch and re-running over the grown
    // corpus revokes nothing and accepts nothing new
    val grown = existing.unionByName(incoming.filter($"doc_id".isin(11L, 13L)))
    val again = Pipelines.incrementalIngest(grown, incoming)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(again == Seq.empty)
  }

  test("lengthQuartiles: buckets are monotone in token count and cover 1..4") {
    import spark.implicits._
    val docs = (1L to 40L).map(i => (i, (1L to i).map(j => s"t$j").mkString(" ")))
      .toDF("doc_id", "text")
    val out = Pipelines.lengthQuartiles(docs)
      .select("n_tokens", "bucket").as[(Long, Long)].collect().sortBy(_._1)
    assert(out.map(_._2).toSeq == out.map(_._2).sorted.toSeq) // monotone
    assert(out.map(_._2).distinct.sorted.toSeq == Seq(1L, 2L, 3L, 4L))
    // deterministic: same corpus, same buckets
    val again = Pipelines.lengthQuartiles(docs)
      .select("n_tokens", "bucket").as[(Long, Long)].collect().sortBy(_._1)
    assert(out.toSeq == again.toSeq)
  }

  test("sourceCap keeps exactly the top-n per source and plans a WindowGroupLimit") {
    import spark.implicits._
    val docs = (for (src <- Seq("a", "b"); i <- 1 to 10)
      yield (s"$src$i".hashCode.toLong, src, i.toLong))
      .toDF("doc_id", "source", "n_chars")
    val got = Pipelines.sourceCap(docs, 3)
    val rows = got.collect().map(r => (r.getString(1), r.getLong(2), r.getLong(3)))
    assert(rows.length == 6)
    // best-first: within each source the 3 LARGEST n_chars, ranks 1..3
    Seq("a", "b").foreach { src =>
      val s = rows.filter(_._1 == src).sortBy(_._3)
      assert(s.map(_._2).toSeq == Seq(10L, 9L, 8L) && s.map(_._3).toSeq == Seq(1L, 2L, 3L))
    }
    // the cap must pre-prune map-side: WindowGroupLimit in the plan
    var hasLimit = false
    graft.etl.PlanWalk.visit(got.queryExecution.executedPlan) { p =>
      if (p.getClass.getSimpleName.contains("WindowGroupLimit")) hasLimit = true
    }
    assert(hasLimit, s"expected WindowGroupLimit in:\n${got.queryExecution.executedPlan}")
  }

  test("shuffleOrder is a dense permutation, stable across partitionings, and rand-free") {
    import spark.implicits._
    val docs = (1L to 300L).map(i => (i, s"t$i")).toDF("doc_id", "text")
    val got = Pipelines.shuffleOrder(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.values.toSeq.sorted == (1L to 300L).toSeq) // dense 1..n
    assert(got.keySet == (1L to 300L).toSet)
    val again = Pipelines.shuffleOrder(docs.repartition(17)).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(again == got) // pure function of the id set
    // and it actually permutes (id order != position order)
    assert((1L to 300L).count(i => got(i) == i) < 30)
  }

  test("incrementalIngestNearDup rejects near-dups of the corpus, then keep-firsts the batch") {
    import spark.implicits._
    val base = (1 to 30).map(i => s"w$i").mkString(" ") // 30 distinct tokens
    val existing = Seq((1L, base)).toDF("doc_id", "text")
    val incoming = Seq(
      (10L, base + " extra"),                          // ~0.97 Jaccard vs corpus → rejected
      (11L, (31 to 60).map(i => s"v$i").mkString(" ")), // fresh → accepted
      (12L, (31 to 60).map(i => s"v$i").mkString(" ") + " tail"), // near-dup of 11 → rejected
      (13L, (61 to 90).map(i => s"u$i").mkString(" ")) // fresh → accepted
    ).toDF("doc_id", "text")
    val got = Pipelines.incrementalIngestNearDup(existing, incoming)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(got == Seq(11L, 13L))
    // growth-stable: after accepting, a re-run of the same batch accepts nothing
    val grown = existing.unionByName(incoming.filter($"doc_id".isin(11L, 13L)))
    assert(Pipelines.incrementalIngestNearDup(grown, incoming).count() == 0)
  }

  test("splitByHash: growth-stable, proportional, deterministic; remainder to last split") {
    import org.apache.spark.sql.functions._
    val small = spark.range(1000).toDF("k")
    val big = spark.range(5000).toDF("k")
    val splits = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
    def asMap(df: org.apache.spark.sql.DataFrame) =
      Pipelines.splitByHash(df, "k", splits)
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val a = asMap(small)
    val b = asMap(big)
    // growth stability: adding 4000 rows reassigns NONE of the first 1000
    assert(a.forall { case (k, s) => b(k) == s })
    // proportions within a few points of the fractions at n=5000
    val counts = b.values.groupBy(identity).view.mapValues(_.size).toMap
    assert(math.abs(counts("train") / 5000.0 - 0.8) < 0.03)
    assert(math.abs(counts("val") / 5000.0 - 0.1) < 0.03)
    assert(math.abs(counts("test") / 5000.0 - 0.1) < 0.03)
    // under-1 fractions: the remainder lands in the last split
    val c = Pipelines.splitByHash(big, "k", Seq("a" -> 0.5, "b" -> 0.25))
      .groupBy("split").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(c("b") > 2000) // 0.25 + the 0.25 remainder
    intercept[IllegalArgumentException](
      Pipelines.splitByHash(big, "k", Seq("a" -> 0.9, "b" -> 0.2)))
  }

  test("mixByTokenBudgetScalable ≡ mixByTokenBudget: ∀ budgets, incl. bucket-boundary cases") {
    import org.apache.spark.sql.functions._
    val rnd = new scala.util.Random(43)
    val docs = (0L until 400L).map { i =>
      (i, s"g${i % 3}", Seq.fill(rnd.nextInt(15) + 1)("t").mkString(" "))
    }
    val df = docs.toDF("doc_id", "g", "text")
    def ids(out: org.apache.spark.sql.DataFrame) =
      out.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    Seq(1L, 17L, 100L, 500L, 1000L, 100000L).foreach { b =>
      val simple = ids(WindowTokenBudget.mix(df, "g", "doc_id", b))
      val scalable = ids(Pipelines.mixByTokenBudgetScalable(df, "g", "doc_id", b))
      assert(simple == scalable, s"budget=$b")
    }
  }

  test("leakage-safe split: every LSH candidate pair lands in one split") {
    import org.apache.spark.sql.functions._
    val docs = graft.etl.IngestOps.table(spark, graft.SparkTestSession.sf0001,
      "documents")
    val out = Pipelines.splitLeakageSafe(docs,
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
    val split = out.select("doc_id", "split").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(split.size == docs.count())
    assert(split.values.toSet.size >= 2, "fixture should populate several splits")
    val pairs = Dedup.lshCandidatePairs(Dedup.minhashSignatures(docs))
      .select("doc_a", "doc_b").collect()
    assert(pairs.nonEmpty, "fixture should contain near-dup candidates")
    pairs.foreach { r =>
      val (a, b) = (r.getLong(0), r.getLong(1))
      assert(split(a) == split(b),
        s"near-dup pair ($a, $b) split across ${split(a)}/${split(b)} — leakage")
    }
    // and the doc-independent split DOES leak on this fixture, proving the
    // guarantee is not vacuous
    val naive = Pipelines.splitByHash(docs.select("doc_id"), "doc_id",
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(pairs.exists(r => naive(r.getLong(0)) != naive(r.getLong(1))),
      "expected at least one naive-split leak on the fixture")
  }

  test("upsertLatest: latest batch wins per key; non-overlapping keys kept") {
    import spark.implicits._
    val existing = Seq((1L, "old one"), (2L, "old two"), (3L, "old three"))
      .toDF("doc_id", "text")
    val incoming = Seq((2L, "new two"), (9L, "brand new"))
      .toDF("doc_id", "text")
    val got = Pipelines.upsertLatest(existing, incoming)
      .select("doc_id", "text", "from_batch")
      .as[(Long, String, Long)].collect().sortBy(_._1).toSeq
    assert(got === Seq((1L, "old one", 0L), (2L, "new two", 1L),
      (3L, "old three", 0L), (9L, "brand new", 1L)))
  }

  test("upsertLatest: duplicate keys inside a batch resolve deterministically") {
    import spark.implicits._
    val existing = Seq((1L, "a")).toDF("doc_id", "text")
    val incoming = Seq((1L, "x"), (1L, "y")).toDF("doc_id", "text")
    val winner = Pipelines.upsertLatest(existing, incoming)
      .select("text").as[String].collect().toSeq
    // md5("y") = 4152… < md5("x") = 9dd4… → "y" wins, and repeatedly so
    assert(winner === Seq("y"))
    val again = Pipelines.upsertLatest(existing, incoming.repartition(5))
      .select("text").as[String].collect().toSeq
    assert(again === Seq("y"))
  }

  test("prioritySample: deterministic, weight-monotone given equal draws, partition-invariant") {
    import org.apache.spark.sql.functions._
    // many docs with tiny weight + a few with huge weight: the huge ones
    // must dominate the top-k with overwhelming probability (w/u with
    // u ≤ 1 means priority ≥ w, and priority ≤ w·2^32)
    val docs = ((1 to 200).map(i => (i.toLong, 1L)) ++
      Seq((900L, 5000000000L), (901L, 5000000000L)))
      .toDF("doc_id", "w")
    val top = Pipelines.prioritySample(docs, "w", "doc_id", 2)
      .select("doc_id").as[Long].collect().toSet
    assert(top == Set(900L, 901L))
    // zero / null weights are excluded, not sampled
    val zw = Seq((1L, 0L), (2L, 3L)).toDF("doc_id", "w")
    assert(Pipelines.prioritySample(zw, "w", "doc_id", 5)
      .select("doc_id").as[Long].collect().toSeq == Seq(2L))
    // identical result regardless of physical partitioning
    val a = Pipelines.prioritySample(docs, "w", "doc_id", 10)
      .select("doc_id", "priority").as[(Long, Double)].collect().toSeq
    val b = Pipelines.prioritySample(docs.repartition(7), "w", "doc_id", 10)
      .select("doc_id", "priority").as[(Long, Double)].collect().toSeq
    assert(a == b)
  }

  test("corpusCard: counts, token volume, and dup structure on a known frame") {
    import org.apache.spark.sql.functions.{col, length, lit}
    val d = Seq(
      (1L, "en", "s0", "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "en", "s1", "alpha beta gamma delta epsilon zeta eta theta"),
      (3L, "fr", "s0", "un deux trois quatre cinq six sept huit"),
      (4L, "en", "s1", "totally different text about query planners here now"))
      .toDF("doc_id", "lang", "source", "text")
      .withColumn("n_chars", length(col("text")).cast("long"))
    val r = Pipelines.corpusCard(d).collect().head
    assert(r.getLong(0) == 4L && r.getLong(1) == 2L && r.getLong(2) == 2L)
    assert(r.getLong(3) == 32L && r.getDouble(4) == 8.0) // 4 docs × 8 tokens
    // docs 1,2 are identical → one 2-doc cluster
    assert(r.getLong(5) == 1L && r.getLong(6) == 2L && r.getDouble(7) == 0.5)
  }

  test("sourceOverlap: planted cross-source duplicate shows up off-diagonal") {
    import org.apache.spark.sql.functions.{col, length, lit}
    val dup = "the exact same template text repeated across two sources verbatim"
    val d = Seq(
      (1L, "s0", dup), (2L, "s1", dup),
      (3L, "s0", "unrelated content alpha beta gamma delta epsilon zeta"),
      (4L, "s1", "another unrelated body omega psi chi phi upsilon tau"))
      .toDF("doc_id", "source", "text")
      .withColumn("lang", lit("en"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    val got = Pipelines.sourceOverlap(d).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5)))).toMap
    val (n, da, db, rate) = got(("s0", "s1"))
    assert(n >= 1L && da == 2L && db == 2L && rate == n.toDouble / 4.0)
    // identical docs always band-collide, so the pair is present
    assert(got.keySet.contains(("s0", "s1")))
  }

  test("dedupWeights: cluster mass ≈ 1e6 per cluster, singletons full weight") {
    import org.apache.spark.sql.functions.{col, length, lit}
    val d = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again today"),
      (2L, "the quick brown fox jumps over the lazy dog again today"),
      (3L, "the quick brown fox jumps over the lazy dog again tomorrow"),
      (4L, "completely unrelated text about spark query planning internals"))
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("t"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    val got = Pipelines.dedupWeights(d)
      .select("doc_id", "cluster_size", "weight_micro")
      .as[(Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    assert(got.size == 4)
    // weight is exactly 1e6 DIV size, and a singleton keeps full mass
    got.values.foreach { case (_, sz, w) => assert(w == 1000000L / sz) }
    assert(got(4L)._2 == 1L && got(4L)._3 == 1000000L)
    // near-identical docs 1-3 share a cluster (they share LSH bands)
    assert(got(1L)._2 >= 2L)
  }

  test("corpusDiff: hand-built added/removed/changed/unchanged; null text null-safe") {
    def df(rows: (Long, String)*) = rows.toDF("doc_id", "text")
    val v1 = df(1L -> "same", 2L -> "old", 3L -> "gone")
    val v2 = df(1L -> "same", 2L -> "new", 4L -> "fresh")
    val got = Pipelines.corpusDiff(v1, v2).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == Map("added" -> 1L, "removed" -> 1L,
      "changed" -> 1L, "unchanged" -> 1L))
    // null text on both sides hashes as '' → unchanged, not spurious churn
    val n1 = Seq((5L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val g2 = Pipelines.corpusDiff(n1, n1).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(g2 == Map("unchanged" -> 1L))
    // identical snapshots → everything unchanged
    val fx = graft.etl.IngestOps.table(spark, sf0001, "documents")
    val self = Pipelines.corpusDiff(fx, fx).collect()
    assert(self.length == 1 && self.head.getString(0) == "unchanged" &&
      self.head.getLong(1) == fx.count())
  }

  test("curriculumShards: contiguous monotone difficulty bands, docs conserved, invariant") {
    val fx = graft.etl.IngestOps.table(spark, sf0001, "documents")
    val sh = Pipelines.curriculumShards(fx, nShards = 4).collect()
    assert(sh.map(_.getAs[Long]("shard")).toSeq == Seq(1L, 2L, 3L, 4L))
    // every scoreable doc (>= 2 tokens) is scheduled exactly once
    assert(sh.map(_.getAs[Long]("n_docs")).sum ==
      graft.ext.TextOps.surprisal(fx).count())
    // shards are contiguous rank slices: band edges never overlap
    sh.sliding(2).foreach { case Array(a, b) =>
      assert(a.getAs[Double]("max_mip") <= b.getAs[Double]("min_mip"))
    }
    // ntile balance: shard sizes differ by at most 1
    val sizes = sh.map(_.getAs[Long]("n_docs"))
    assert(sizes.max - sizes.min <= 1)
    val again = Pipelines.curriculumShards(fx.repartition(13), nShards = 4).collect()
    assert(sh.map(_.toString).toSeq == again.map(_.toString).toSeq)
  }

  test("kfoldLeakage: hash folds leak ≈ (k-1)/k of near-dup pairs; cluster split leaks zero") {
    val fx = graft.etl.IngestOps.table(spark, sf0001, "documents")
    val r = Pipelines.kfoldLeakage(fx, k = 5).collect().head
    val (nPairs, nCross, micro) =
      (r.getAs[Long]("n_copairs"), r.getAs[Long]("n_cross_fold"), r.getAs[Long]("leak_micro"))
    assert(nPairs > 0 && nCross <= nPairs)
    // independent uniform folds → expected share (k-1)/k = 0.8; the fixture
    // lands near it (binomial spread on |pairs| samples)
    assert(micro > 650000L && micro < 950000L, s"leak_micro=$micro")
    // the cluster-keyed split leaks ZERO pairs by construction — the
    // complementary fact this row exists to witness
    val split = Pipelines.splitLeakageSafe(fx,
      Seq("train" -> 0.8, "eval" -> 0.2))
      .select("doc_id", "split")
    val pairs = Dedup.lshCandidatePairs(Dedup.minhashSignatures(fx))
    val cross = pairs
      .join(split.withColumnRenamed("doc_id", "doc_a")
        .withColumnRenamed("split", "sa"), "doc_a")
      .join(split.withColumnRenamed("doc_id", "doc_b")
        .withColumnRenamed("split", "sb"), "doc_b")
      .filter(org.apache.spark.sql.functions.col("sa") =!=
        org.apache.spark.sql.functions.col("sb")).count()
    assert(cross == 0L)
    val again = Pipelines.kfoldLeakage(fx.repartition(13), k = 5).collect().head
    assert(again.toString == r.toString)
  }

  test("kfoldReport: folds in range, totals conserved, deterministic across partitionings") {
    val fx = graft.etl.IngestOps.table(spark, sf0001, "documents")
    val rep = Pipelines.kfoldReport(fx, k = 5).collect()
    assert(rep.forall(r => r.getAs[Long]("fold") >= 0 && r.getAs[Long]("fold") < 5))
    assert(rep.map(_.getAs[Long]("n_docs")).sum == fx.count())
    // every fold is populated on the fixture (uniform md5 hash over 500 docs)
    assert(rep.map(_.getAs[Long]("fold")).distinct.sorted.toSeq == Seq(0L, 1L, 2L, 3L, 4L))
    val again = Pipelines.kfoldReport(fx.repartition(13), k = 5).collect()
    assert(rep.map(_.toString).toSeq == again.map(_.toString).toSeq)
  }

  test("dsirSelect prefers documents whose bigrams match the target domain") {
    import org.apache.spark.sql.functions._
    val docs = Seq(
      (1L, "tgt", "alpha beta alpha beta alpha beta"),
      (2L, "tgt", "alpha beta gamma alpha beta"),
      (10L, "raw", "alpha beta alpha beta"), // target-like content
      (11L, "raw", "delta epsilon zeta delta epsilon"), // off-domain
      (12L, "raw", "one")) // < 2 tokens: no bigrams, not scoreable
      .toDF("doc_id", "source", "text")
      .withColumn("n_chars", length(col("text")))
      .withColumn("lang", lit("en"))
    val out = Pipelines.dsirSelect(docs, targetSource = "tgt", k = 10)
      .collect()
    val rank = out.map(r => r.getLong(1) -> r.getLong(0)).toMap
    assert(!rank.contains(12L))
    // the raw doc made of TARGET bigrams outranks the off-domain raw doc
    assert(rank(10L) < rank(11L))
    // ranks are dense 1..n and consistent with descending score
    assert(out.map(_.getLong(0)).sorted.toSeq == (1L to out.length).toSeq)
    val byRank = out.sortBy(_.getLong(0)).map(_.getDouble(4)).toSeq
    assert(byRank == byRank.sorted.reverse)
    // exact integer core → identical under repartition
    val again = Pipelines.dsirSelect(docs.repartition(7), targetSource = "tgt",
      k = 10).collect()
    assert(out.sortBy(_.getLong(0)).map(_.toString).toSeq ==
      again.sortBy(_.getLong(0)).map(_.toString).toSeq)
    // fixture: top-100 populated, every rank unique
    val fx = graft.etl.IngestOps.table(spark, sf0001, "documents")
    val sel = Pipelines.dsirSelect(fx).collect()
    assert(sel.length == 100 &&
      sel.map(_.getLong(0)).distinct.length == 100)
  }
}
