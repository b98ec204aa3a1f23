package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (north-star M5).
  *
  * Numeric determinism for the DuckDB oracle: dot products and norms are
  * emitted as explicit left-associated 64-term expressions (float elements
  * cast to double, then mul/add in fixed order). Neither Catalyst nor DuckDB
  * reassociates floating-point arithmetic, so both engines produce
  * bit-identical doubles and the derived orderings/thresholds agree exactly.
  *
  * Scale design (100 TB):
  *  - brute-force top-k is the correctness baseline: |Q| × |C| partial top-k
  *    per partition (window rank after a broadcast of the small query set —
  *    the candidate side streams, nothing materializes the cross product).
  *  - the scale path is LSH bucketing (signed random projections): candidates
  *    shuffle once on the bucket key; each bucket is scanned independently.
  *
  * Literature: random-hyperplane LSH — Charikar (STOC 2002); multi-probe
  * LSH — Lv et al., "Multi-probe LSH: efficient indexing for high-dimensional
  * similarity search" (VLDB 2007).
  */
object Similarity {

  val Dim = 64

  /** Dot product of two array<float> columns, computed in double via a
    * custom codegen'd loop expression (graft.functions.FloatVectorDot) —
    * bit-identical to the explicit left-associated expression chain the
    * DuckDB oracle uses, but codegen-compact (the 64-term chain overflows
    * Janino's method limit and falls back to interpreted eval). */
  def dotCol(a: String, b: String): Column =
    graft.functions.VectorExprs.dotF(col(a), col(b))

  def normCol(a: String): Column = sqrt(dotCol(a, a))

  /** DuckDB: same expression, 1-based list indexing. */
  def dotSqlDuck(a: String, b: String): String =
    (1 to Dim).map(i => s"CAST($a[$i] AS DOUBLE)*CAST($b[$i] AS DOUBLE)").mkString(" + ")

  /** Embeddings with a precomputed L2 norm. */
  def withNorm(emb: DataFrame): DataFrame =
    emb.withColumn("nrm", normCol("embedding"))

  /** Brute-force cosine top-k: queries = vec_id < nQueries (broadcast side),
    * candidates = the full table (streamed side). Self-matches excluded. */
  def bruteForceTopK(emb: DataFrame, nQueries: Int = 8, k: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val v = withNorm(emb)
    val q = v.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"), col("nrm").as("qn"))
    val c = v.select(col("vec_id").as("neighbor_id"), col("embedding").as("cv"), col("nrm").as("cn"))
    val scored = c.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", dotCol("qv", "cv") / (col("qn") * col("cn")))
    val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), round(col("cos"), 6).as("cos_sim"))
  }

  def bruteForceTopKSqlDuck(nQueries: Int = 8, k: Int = 10): String =
    s"""WITH v AS (SELECT vec_id, embedding, sqrt(${dotSqlDuck("embedding", "embedding")}) AS nrm
       |  FROM embeddings),
       | scored AS (
       |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |    (${dotSqlDuck("q.embedding", "c.embedding")}) / (q.nrm * c.nrm) AS cos
       |  FROM v q JOIN v c ON q.vec_id < $nQueries AND c.vec_id <> q.vec_id)
       |SELECT query_id, rank, neighbor_id, round(cos, 6) AS cos_sim FROM (
       |  SELECT query_id, neighbor_id, cos,
       |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rank
       |  FROM scored)
       |WHERE rank <= $k
       |ORDER BY query_id, rank""".stripMargin

  /** DuckDB: prefix dot product over the first `dim` list elements. */
  def dotSqlDuckDim(a: String, b: String, dim: Int): String =
    (1 to dim).map(i => s"CAST($a[$i] AS DOUBLE)*CAST($b[$i] AS DOUBLE)").mkString(" + ")

  /** Dimension-truncation recall audit (the Matryoshka-embedding question,
    * Kusupati et al. NeurIPS'22): how much of the exact top-k survives when
    * cosine runs over only the first `dPrime` of [[Dim]] dimensions? The
    * answer decides whether a corpus can be indexed at a fraction of the
    * vector width — at 100 TB, shrinking 64 floats to 16 is a 4× cut in
    * index I/O and memory, IF recall holds. This operator measures it
    * per query instead of assuming it.
    *
    * Both rankings are exact brute-force over broadcast query sets (the
    * audit must not confound truncation loss with ANN loss); the truncated
    * side slices vectors BEFORE the dot, and [[graft.functions.FloatVectorDot]]
    * accumulates over the slice in the same left-to-right order as the
    * `dPrime`-term oracle chain — bit-identical doubles, so rank sets match
    * exactly. Output is one row per query: overlap count and recall@k.
    * Queries with zero surviving neighbors still emit (recall 0). */
  def matryoshkaRecall(emb: DataFrame, nQueries: Int = 8, k: Int = 10,
      dPrime: Int = 16): DataFrame = {
    require(dPrime >= 1 && dPrime <= Dim, s"dPrime must be in [1,$Dim], got $dPrime")
    val full = bruteForceTopK(emb, nQueries, k)
      .select(col("query_id"), col("neighbor_id"))
    val trunc = bruteForceTopK(
        emb.withColumn("embedding", slice(col("embedding"), 1, dPrime)),
        nQueries, k)
      .select(col("query_id"), col("neighbor_id"))
    val hits = full.join(trunc, Seq("query_id", "neighbor_id"))
      .groupBy("query_id").agg(count(lit(1)).as("n_overlap"))
    emb.filter(col("vec_id") < nQueries).select(col("vec_id").as("query_id"))
      .join(hits, Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("n_overlap"), lit(0L)).as("n_overlap"),
        (coalesce(col("n_overlap"), lit(0L)).cast("double") / lit(k.toDouble))
          .as("recall"))
      .orderBy("query_id")
  }

  /** Oracle twin of [[matryoshkaRecall]]: both rankings as window SQL. */
  def matryoshkaRecallSqlDuck(nQueries: Int = 8, k: Int = 10,
      dPrime: Int = 16): String = {
    def ranking(dot: (String, String) => String, alias: String) =
      s"""$alias AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |      row_number() OVER (PARTITION BY q.vec_id ORDER BY
         |        (${dot("q.embedding", "c.embedding")}) /
         |        (sqrt(${dot("q.embedding", "q.embedding")}) *
         |         sqrt(${dot("c.embedding", "c.embedding")})) DESC, c.vec_id) AS rnk
         |    FROM embeddings q JOIN embeddings c
         |      ON q.vec_id < $nQueries AND c.vec_id <> q.vec_id)
         |  WHERE rnk <= $k)""".stripMargin
    s"""WITH ${ranking(dotSqlDuck, "fullr")},
       | ${ranking((a, b) => dotSqlDuckDim(a, b, dPrime), "truncr")},
       | hits AS (SELECT f.query_id, CAST(count(*) AS BIGINT) AS n_overlap
       |   FROM fullr f JOIN truncr t
       |     ON f.query_id = t.query_id AND f.neighbor_id = t.neighbor_id
       |   GROUP BY f.query_id)
       |SELECT e.vec_id AS query_id, coalesce(h.n_overlap, 0) AS n_overlap,
       |  CAST(coalesce(h.n_overlap, 0) AS DOUBLE) / ${k.toDouble} AS recall
       |FROM embeddings e LEFT JOIN hits h ON e.vec_id = h.query_id
       |WHERE e.vec_id < $nQueries ORDER BY query_id""".stripMargin
  }

  // ---- IVF (inverted-file) ANN — the coarse-quantizer scale path ---------

  /** Assign each vector to its nearest centroid (argmax of v·c - |c|²/2,
    * equivalent to argmin L2). Centroids ride into codegen as literals. */
  def ivfAssign(emb: DataFrame, cents: Array[Array[Double]]): DataFrame = {
    val scores = cents.map { c =>
      val half = c.map(x => x * x).sum / 2
      graft.functions.VectorExprs.dotConst(col("embedding"), c) - lit(half)
    }
    emb.withColumn("_scores", array(scores.toSeq: _*))
      .withColumn("cluster",
        (expr("array_position(_scores, array_max(_scores))") - 1).cast("int"))
      .drop("_scores")
  }

  /** Centroid-mean quantizer: per-dimension sums accumulate as
    * `floor(v_i * Quant)` BIGINTs, so the group sum is exact integer
    * arithmetic — order-independent, hence bit-reproducible by a DuckDB
    * GROUP BY (a double sum's value depends on reduction order, which no
    * cross-engine oracle can match). floor (not round) because Java
    * `Math.round` and SQL `round` disagree on negative half-way values;
    * `floor` is IEEE-identical everywhere. Max |sum| ≈ corpus × Quant stays
    * far under 2^53, so the final toDouble is exact. */
  val Quant = 1e6

  /** Aggregation buffer for [[VecSumQ]]: quantized per-dimension sums + n. */
  case class VecAcc(sums: Array[Long], n: Long)

  /** Partial-aggregating vector-sum for the Lloyd mean step: map-side
    * partials merge per-partition (one buffer per cluster per task), so no
    * reducer ever streams a whole cluster — the scale fix for the previous
    * `groupByKey.mapGroups` single-reducer-per-cluster shape. */
  object VecSumQ extends org.apache.spark.sql.expressions.Aggregator[Array[Float], VecAcc, VecAcc] {
    import org.apache.spark.sql.{Encoder, Encoders}
    def zero: VecAcc = VecAcc(new Array[Long](Dim), 0L)
    def reduce(b: VecAcc, v: Array[Float]): VecAcc = {
      var i = 0
      while (i < Dim) { b.sums(i) += math.floor(v(i).toDouble * Quant).toLong; i += 1 }
      VecAcc(b.sums, b.n + 1)
    }
    def merge(a: VecAcc, b: VecAcc): VecAcc = {
      var i = 0
      while (i < Dim) { a.sums(i) += b.sums(i); i += 1 }
      VecAcc(a.sums, a.n + b.n)
    }
    def finish(r: VecAcc): VecAcc = r
    def bufferEncoder: Encoder[VecAcc] = Encoders.product[VecAcc]
    def outputEncoder: Encoder[VecAcc] = Encoders.product[VecAcc]
  }

  /** The deterministic driver-resident trainers ([[ivfCentroids]],
    * [[pqCentroids]]) are PURE functions of (input relation, params):
    * first-k init + fixed Lloyd rounds over exact quantized BIGINT sums.
    * One bench/verify session re-enters each many times (the recall twins
    * re-train what their top-k sibling trained; IVFADC trains both
    * quantizers), so each trains once per (relation, params) per JVM
    * through [[graft.etl.StageStore.once]], keyed
    * `trainer|<tag>|<semanticHash>`: two reads of the same parquet path
    * canonicalize identically, reads of different paths differ. A hit is
    * confirmed with `sameResult` (ADVICE r13), so a 32-bit semanticHash
    * collision trains directly instead of returning another relation's
    * arrays; with the memo off every call trains. */
  private def trainOnce[T](emb: DataFrame, tag: String)(train: => T): T = {
    val plan = emb.queryExecution.analyzed
    graft.etl.StageStore.once(s"trainer|$tag|${plan.semanticHash()}")(_ => (plan, train)) match {
      case Some((p, v)) if p.sameResult(plan) => v
      case _ => train
    }
  }

  /** k-means-lite coarse quantizer: deterministic init from the first k
    * vectors, `iters` Lloyd iterations. Per iteration: one distributed
    * assignment pass + one partial-aggregating quantized vector sum keyed by
    * cluster ([[VecSumQ]] — k buffer rows out of each map task, k total
    * rows collected). Only the k × Dim centroid matrix is driver-resident.
    * Mean arithmetic (`sum.toDouble / n / Quant`, left-assoc) is mirrored
    * term-for-term in [[ivfTopKSqlDuck]]; empty clusters keep their previous
    * centroid. Trained once per (relation, k, iters) — see [[trainOnce]]. */
  def ivfCentroids(emb: DataFrame, k: Int = 16, iters: Int = 2): Array[Array[Double]] =
    trainOnce(emb, s"ivf:$k:$iters") { trainIvfCentroids(emb, k, iters) }

  private def trainIvfCentroids(emb: DataFrame, k: Int, iters: Int): Array[Array[Double]] = {
    import emb.sparkSession.implicits._
    var cents = emb.filter(col("vec_id") < k).orderBy("vec_id")
      .select("embedding").as[Array[Float]].collect().map(_.map(_.toDouble))
    for (_ <- 1 to iters) {
      val means = ivfAssign(emb, cents)
        .select(col("cluster"), col("embedding")).as[(Int, Array[Float])]
        .groupByKey(_._1).mapValues(_._2)
        .agg(VecSumQ.toColumn)
        .collect().toMap
      cents = cents.indices.map(i => means.get(i)
        .map(a => a.sums.map(s => s.toDouble / a.n / Quant))
        .getOrElse(cents(i))).toArray
    }
    cents
  }

  /** IVF top-k: candidates come only from the query's `nProbe` closest
    * clusters. Join is an equi-join on the cluster id; candidate volume is
    * bounded by nProbe/kClusters of the corpus per query. */
  def ivfTopK(emb: DataFrame, nQueries: Int = 8, k: Int = 10,
      kClusters: Int = 16, nProbe: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cents = ivfCentroids(emb, kClusters)
    val v = ivfAssign(withNorm(emb), cents)
    val centScores = cents.map { c =>
      val half = c.map(x => x * x).sum / 2
      graft.functions.VectorExprs.dotConst(col("embedding"), c) - lit(half)
    }
    val wProbe = Window.partitionBy("query_id").orderBy(col("score").desc, col("cluster"))
    val qProbes = withNorm(emb).filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"), col("nrm").as("qn"),
        posexplode(array(centScores.toSeq: _*)).as(Seq("cluster", "score")))
      .withColumn("_r", row_number().over(wProbe))
      .filter(col("_r") <= nProbe)
      .select("query_id", "qv", "qn", "cluster")
    val c = v.select(col("vec_id").as("neighbor_id"), col("embedding").as("cv"),
      col("nrm").as("cn"), col("cluster"))
    val scored = c.join(broadcast(qProbes),
        Seq("cluster")).filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", dotCol("qv", "cv") / (col("qn") * col("cn")))
    val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), round(col("cos"), 6).as("cos_sim"))
  }

  /** DuckDB oracle for [[ivfTopK]]: the whole trainer is deterministic
    * (first-k init, `iters` Lloyd rounds), so it unrolls as CTEs —
    * per round an assignment (argmax of k linear scores, first-max-wins as
    * `row_number` ordered by score DESC, cluster ASC) and a mean
    * (GROUP BY cluster over the exact quantized BIGINT sums of
    * [[VecSumQ]], divided back in the same `sum/n/Quant` order). Centroids
    * carry as one 64-column pivoted relation per round; every dot/half chain
    * is the same left-associated double accumulation from 0.0 as
    * [[graft.functions.FloatVectorDotConst]], so scores are bit-identical
    * and the assignment/probe/top-k decisions agree exactly. */
  // score(e, c) = e·c - |c|²/2, both chains left-assoc from 0.0 (the
  // FloatVectorDotConst / Array[Double].sum accumulation order); shared by
  // every oracle that replays the deterministic Lloyd trainer
  private[ext] def ivfScoreSql(c: String): String = {
    val dims = 1 to Dim
    val dotEC =
      "0.0 + " + dims.map(i => s"CAST(e.embedding[$i] AS DOUBLE)*$c.c$i").mkString(" + ")
    val halfSql =
      "(0.0 + " + dims.map(i => s"$c.c$i*$c.c$i").mkString(" + ") + ") / 2"
    s"($dotEC) - ($halfSql)"
  }

  private[ext] def ivfAssignCte(name: String, cents: String): String =
    s"""$name AS (SELECT vec_id, cluster FROM (
       |  SELECT e.vec_id, c.cluster, row_number() OVER (
       |    PARTITION BY e.vec_id ORDER BY ${ivfScoreSql("c")} DESC, c.cluster) AS rn
       |  FROM embeddings e CROSS JOIN $cents c) WHERE rn = 1)""".stripMargin

  /** The deterministic Lloyd-trainer CTE chain shared by [[ivfTopKSqlDuck]]
    * and [[semanticDedupSqlDuck]]: `cents0` (first-k init), per round an
    * assignment + exact quantized-BIGINT mean (the [[VecSumQ]] arithmetic
    * replayed term-for-term), then the final `assignf` assignment against
    * the round-`iters` centroids. Returns (cteBlock, finalCentsName). */
  private[ext] def ivfTrainerCtes(kClusters: Int, iters: Int): (String, String) = {
    val dims = 1 to Dim
    def sumsCte(name: String, assign: String): String = {
      val ss = dims.map(i =>
        s"SUM(CAST(floor(CAST(e.embedding[$i] AS DOUBLE) * 1000000.0) AS BIGINT)) AS s$i")
        .mkString(", ")
      s"""$name AS (SELECT a.cluster, $ss, COUNT(*) AS n
         |  FROM embeddings e JOIN $assign a ON a.vec_id = e.vec_id GROUP BY a.cluster)""".stripMargin
    }
    def centsCte(name: String, prev: String, sums: String): String = {
      val cs = dims.map(i =>
        s"COALESCE(CAST(s.s$i AS DOUBLE) / CAST(s.n AS DOUBLE) / 1000000.0, p.c$i) AS c$i")
        .mkString(", ")
      s"$name AS (SELECT p.cluster, $cs FROM $prev p LEFT JOIN $sums s ON s.cluster = p.cluster)"
    }
    val cents0 = s"cents0 AS (SELECT vec_id AS cluster, ${dims.map(i =>
      s"CAST(embedding[$i] AS DOUBLE) AS c$i").mkString(", ")} FROM embeddings WHERE vec_id < $kClusters)"
    val rounds = (1 to iters).flatMap { r =>
      Seq(ivfAssignCte(s"assign$r", s"cents${r - 1}"),
        sumsCte(s"sums$r", s"assign$r"),
        centsCte(s"cents$r", s"cents${r - 1}", s"sums$r"))
    }
    val cF = s"cents$iters"
    (s"""$cents0,
        | ${rounds.mkString(",\n ")},
        | ${ivfAssignCte("assignf", cF)}""".stripMargin, cF)
  }

  def ivfTopKSqlDuck(nQueries: Int = 8, k: Int = 10, kClusters: Int = 16,
      nProbe: Int = 3, iters: Int = 2): String = {
    val (ctes, cF) = ivfTrainerCtes(kClusters, iters)
    s"""WITH $ctes,
       | probes AS (SELECT query_id, cluster FROM (
       |  SELECT e.vec_id AS query_id, c.cluster, row_number() OVER (
       |    PARTITION BY e.vec_id ORDER BY ${ivfScoreSql("c")} DESC, c.cluster) AS rn
       |  FROM embeddings e CROSS JOIN $cF c WHERE e.vec_id < $nQueries) WHERE rn <= $nProbe),
       | v AS (SELECT vec_id, embedding, sqrt(${dotSqlDuck("embedding", "embedding")}) AS nrm
       |  FROM embeddings),
       | cand AS (SELECT p.query_id, a.vec_id AS neighbor_id
       |  FROM probes p JOIN assignf a ON a.cluster = p.cluster AND a.vec_id <> p.query_id),
       | scored AS (
       |  SELECT cand.query_id, cand.neighbor_id,
       |    (${dotSqlDuck("a.embedding", "b.embedding")}) / (a.nrm * b.nrm) AS cos
       |  FROM cand JOIN v a ON a.vec_id = cand.query_id
       |            JOIN v b ON b.vec_id = cand.neighbor_id)
       |SELECT query_id, rank, neighbor_id, round(cos, 6) AS cos_sim FROM (
       |  SELECT query_id, neighbor_id, cos,
       |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rank
       |  FROM scored)
       |WHERE rank <= $k
       |ORDER BY query_id, rank""".stripMargin
  }

  /** Semantic deduplication (SemDeDup, Abbas et al. 2023,
    * arXiv:2303.09540): cluster the corpus with the coarse k-means
    * quantizer, then drop every vector that has a LOWER-id neighbor with
    * cosine > `threshold` INSIDE ITS OWN CLUSTER (keep-first, the
    * ext/Dedup convention). [[cosinePairs]] (the `dedup_embedding_cosine`
    * row) is the all-pairs form; this is the published scale recipe: the
    * O(n²) comparison collapses to within-cluster blocks, an equi-join on
    * the cluster id.
    *
    * Shape at 100 TB: one Lloyd training pass ([[ivfCentroids]] — only the
    * k×Dim centroid matrix is driver-resident), one broadcast-literal
    * assignment pass, then a self-equi-join keyed on `cluster` — pair
    * volume is Σ|cluster|², bounded by sizing kClusters ∝ corpus (SemDeDup
    * uses fixed-occupancy clusters for exactly this reason); no cartesian
    * anywhere. Comparisons on both engines run the identical left-assoc
    * double dot chain, so the > threshold cut is bit-identical.
    *
    * Output: one row per vector — (vec_id, cluster, kept). */
  def semanticDedup(emb: DataFrame, kClusters: Int = 16,
      threshold: Double = 0.4, iters: Int = 2): DataFrame = {
    require(kClusters >= 1 && iters >= 1, "need kClusters >= 1, iters >= 1")
    require(threshold > -1 && threshold < 1, "cosine threshold must be in (-1, 1)")
    val cents = ivfCentroids(emb, kClusters, iters)
    val v = graft.etl.CacheRegistry.persist(
      ivfAssign(withNorm(emb), cents)
        .select(col("vec_id"), col("embedding"), col("nrm"), col("cluster")))
    val a = v.select(col("cluster"), col("vec_id").as("id_a"),
      col("embedding").as("va"), col("nrm").as("na"))
    val b = v.select(col("cluster"), col("vec_id").as("id_b"),
      col("embedding").as("vb"), col("nrm").as("nb"))
    val dups = a.join(b, Seq("cluster"))
      .filter(col("id_a") < col("id_b") &&
        dotCol("va", "vb") / (col("na") * col("nb")) > threshold)
      .select(col("id_b").as("vec_id")).distinct()
    v.join(dups.withColumn("_dup", lit(true)), Seq("vec_id"), "left")
      // cluster cast to BIGINT: the oracle's cluster id descends from
      // cents0's `vec_id AS cluster` and the compare is type-strict
      .select(col("vec_id"), col("cluster").cast("long").as("cluster"),
        coalesce(col("_dup"), lit(false)).unary_!.as("kept"))
  }

  /** DuckDB oracle for [[semanticDedup]]: the shared Lloyd-trainer CTEs
    * ([[ivfTrainerCtes]]) reproduce the exact cluster assignment, then the
    * same within-cluster lower-id cosine cut. */
  def semanticDedupSqlDuck(kClusters: Int = 16, threshold: Double = 0.4,
      iters: Int = 2): String = {
    val (ctes, _) = ivfTrainerCtes(kClusters, iters)
    s"""WITH $ctes,
       | v AS (SELECT vec_id, embedding, sqrt(${dotSqlDuck("embedding", "embedding")}) AS nrm
       |  FROM embeddings),
       | dups AS (SELECT DISTINCT y.vec_id
       |  FROM assignf x JOIN assignf y
       |    ON x.cluster = y.cluster AND x.vec_id < y.vec_id
       |  JOIN v a ON a.vec_id = x.vec_id
       |  JOIN v b ON b.vec_id = y.vec_id
       |  WHERE (${dotSqlDuck("a.embedding", "b.embedding")}) / (a.nrm * b.nrm) > $threshold)
       |SELECT f.vec_id, f.cluster, (d.vec_id IS NULL) AS kept
       |FROM assignf f LEFT JOIN dups d ON d.vec_id = f.vec_id
       |ORDER BY f.vec_id""".stripMargin
  }

  /** Hard-negative mining for contrastive embedding training (the
    * DPR/ANCE recipe): per anchor, the most-similar neighbors that are NOT
    * near-duplicates — a near-dup is a FALSE negative that poisons the
    * contrastive loss, so the candidate pool is cut at the same cosine
    * threshold the dedup family uses ([[cosinePairs]]/[[semanticDedup]]'s
    * 0.4) and the survivors re-rank by similarity. Candidates come from
    * the IVF path ([[ivfTopK]] with a widened pool), so the search scales
    * exactly as the ANN index does; the re-rank window is partitioned by
    * anchor over ≤ kPool rows — never a global window. Ties after the
    * 6-dp rounding break on neighbor_id, mirrored in the oracle. */
  def hardNegatives(emb: DataFrame, nQueries: Int = 8, kNeg: Int = 5,
      dupTheta: Double = 0.4, kPool: Int = 20): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(kNeg >= 1 && kPool >= kNeg, "need 1 <= kNeg <= kPool")
    val pool = ivfTopK(emb, nQueries, kPool)
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos_sim").desc, col("neighbor_id"))
    pool.filter(col("cos_sim") <= dupTheta)
      .withColumn("neg_rank", row_number().over(w).cast("long"))
      .filter(col("neg_rank") <= kNeg)
      .select("query_id", "neg_rank", "neighbor_id", "cos_sim")
  }

  /** Oracle for [[hardNegatives]]: the [[ivfTopKSqlDuck]] pool as a CTE,
    * then the identical cut + re-rank. */
  def hardNegativesSqlDuck(nQueries: Int = 8, kNeg: Int = 5,
      dupTheta: Double = 0.4, kPool: Int = 20): String =
    s"""WITH pool AS (${ivfTopKSqlDuck(nQueries, kPool)})
       |SELECT query_id, neg_rank, neighbor_id, cos_sim FROM (
       |  SELECT query_id, neighbor_id, cos_sim,
       |    CAST(row_number() OVER (PARTITION BY query_id
       |      ORDER BY cos_sim DESC, neighbor_id) AS BIGINT) AS neg_rank
       |  FROM pool WHERE cos_sim <= $dupTheta)
       |WHERE neg_rank <= $kNeg
       |ORDER BY query_id, neg_rank""".stripMargin

  /** Embedding-cosine near-duplicate pairs above `threshold`. All-pairs on
    * the oracle path; for scale use [[cosinePairsBucketed]]. */
  def cosinePairs(emb: DataFrame, threshold: Double = 0.4): DataFrame = {
    val v = withNorm(emb)
    val a = v.select(col("vec_id").as("id_a"), col("embedding").as("va"), col("nrm").as("na"))
    val b = v.select(col("vec_id").as("id_b"), col("embedding").as("vb"), col("nrm").as("nb"))
    a.join(b, col("id_a") < col("id_b"))
      .withColumn("cos", dotCol("va", "vb") / (col("na") * col("nb")))
      .filter(col("cos") > threshold)
      .select(col("id_a"), col("id_b"), round(col("cos"), 6).as("cos_sim"))
  }

  def cosinePairsSqlDuck(threshold: Double = 0.4): String =
    s"""WITH v AS (SELECT vec_id, embedding, sqrt(${dotSqlDuck("embedding", "embedding")}) AS nrm
       |  FROM embeddings)
       |SELECT id_a, id_b, round(cos, 6) AS cos_sim FROM (
       |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       |    (${dotSqlDuck("a.embedding", "b.embedding")}) / (a.nrm * b.nrm) AS cos
       |  FROM v a JOIN v b ON a.vec_id < b.vec_id)
       |WHERE cos > $threshold
       |ORDER BY id_a, id_b""".stripMargin

  // ---- bucketed cosine near-dup pairs (the scale path for cosinePairs) ---

  /** Seeded Rademacher (±1) hyperplane signs, shared between the Spark plan
    * and the oracle SQL builder so both engines compute identical buckets.
    * Rademacher vectors are a valid sign-random-projection family (Charikar
    * STOC 2002 uses Gaussians; ±1 entries preserve the sign-agreement
    * property and embed compactly as SQL `+/-` terms). */
  def srpSigns(nTables: Int, bitsPerTable: Int, seed: Long): Array[Array[Array[Double]]] = {
    val rnd = new scala.util.Random(seed)
    Array.fill(nTables, bitsPerTable, Dim)(if (rnd.nextBoolean()) 1.0 else -1.0)
  }

  val PairTables = 8
  val PairBitsPerTable = 4
  val PairSeed = 7L

  /** Embedding-cosine near-dup pairs via multi-table SRP bucketing — the
    * 100 TB replacement for [[cosinePairs]]'s all-pairs theta join. Shape:
    * slim (vec_id, table, bucket) relation self-joined on the bucket key
    * (plain equi-join — one shuffle keyed by (t, b), never a nested-loop),
    * pair candidates deduped on ids alone, then embeddings joined back by id
    * so the 64-float payload moves once per vector, not once per bucket row.
    * Approximate by design: a pair is emitted iff it collides in ≥1 table
    * (recall at cos≥0.9 ≈ 1; at the demo threshold 0.4 ≈ 0.75 with 8×4-bit
    * tables — bitsPerTable grows with corpus size at scale). The oracle
    * replicates the exact bucket arithmetic, so the check is exact. */
  def cosinePairsBucketed(emb: DataFrame, threshold: Double = 0.4,
      nTables: Int = PairTables, bitsPerTable: Int = PairBitsPerTable,
      seed: Long = PairSeed): DataFrame = {
    val signs = srpSigns(nTables, bitsPerTable, seed)
    val tables = (0 until nTables).map { t =>
      val bits = (0 until bitsPerTable).map { j =>
        when(graft.functions.VectorExprs.dotConst(col("embedding"), signs(t)(j)) >= 0,
          lit(1L << j)).otherwise(lit(0L))
      }
      struct(lit(t).as("t"), bits.reduce(_ + _).as("b"))
    }
    val bk = emb.select(col("vec_id"), explode(array(tables: _*)).as("tb"))
      .select(col("vec_id"), col("tb.t").as("t"), col("tb.b").as("b"))
    val cand = bk.as("x").join(bk.as("y"),
        col("x.t") === col("y.t") && col("x.b") === col("y.b") &&
        col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("id_a"), col("y.vec_id").as("id_b"))
      .distinct()
    val v = withNorm(emb)
    val a = v.select(col("vec_id").as("id_a"), col("embedding").as("va"), col("nrm").as("na"))
    val b = v.select(col("vec_id").as("id_b"), col("embedding").as("vb"), col("nrm").as("nb"))
    cand.join(a, "id_a").join(b, "id_b")
      .withColumn("cos", dotCol("va", "vb") / (col("na") * col("nb")))
      .filter(col("cos") > threshold)
      .select(col("id_a"), col("id_b"), round(col("cos"), 6).as("cos_sim"))
  }

  /** `0.0 + e[1] - e[2] ...` signed projection chain — bit-identical to
    * FloatVectorDotConst's left-to-right double accumulation from 0.0. */
  private def signedProjSqlDuck(signs: Array[Double]): String =
    "0.0" + signs.zipWithIndex.map { case (s, i) =>
      val op = if (s > 0) "+" else "-"
      s" $op CAST(embedding[${i + 1}] AS DOUBLE)"
    }.mkString

  def cosinePairsBucketedSqlDuck(threshold: Double = 0.4,
      nTables: Int = PairTables, bitsPerTable: Int = PairBitsPerTable,
      seed: Long = PairSeed): String = {
    val signs = srpSigns(nTables, bitsPerTable, seed)
    val bkUnion = (0 until nTables).map { t =>
      val bits = (0 until bitsPerTable).map { j =>
        s"(CASE WHEN ${signedProjSqlDuck(signs(t)(j))} >= 0 THEN ${1L << j} ELSE 0 END)"
      }.mkString(" + ")
      s"SELECT vec_id, $t AS t, $bits AS b FROM embeddings"
    }.mkString(" UNION ALL ")
    s"""WITH v AS (SELECT vec_id, embedding, sqrt(${dotSqlDuck("embedding", "embedding")}) AS nrm
       |  FROM embeddings),
       | bk AS ($bkUnion),
       | cand AS (SELECT DISTINCT x.vec_id AS id_a, y.vec_id AS id_b
       |   FROM bk x JOIN bk y ON x.t = y.t AND x.b = y.b AND x.vec_id < y.vec_id)
       |SELECT id_a, id_b, round(cos, 6) AS cos_sim FROM (
       |  SELECT c.id_a, c.id_b,
       |    (${dotSqlDuck("a.embedding", "b.embedding")}) / (a.nrm * b.nrm) AS cos
       |  FROM cand c JOIN v a ON a.vec_id = c.id_a JOIN v b ON b.vec_id = c.id_b)
       |WHERE cos > $threshold
       |ORDER BY id_a, id_b""".stripMargin
  }

  val AnnTables = 8
  val AnnBitsPerTable = 8

  /** Multi-table SRP bucket assignment: `buckets` = array of (table, bucket)
    * structs. Standard LSH tradeoff: each table is a coarse 2^bits partition;
    * a true near-duplicate (cos ≥ ~0.9) collides in at least one of the L
    * tables with high probability (≈ 1-(1-p^bits)^L, p = 1-θ/π).
    *
    * Hyperplanes are the seeded Rademacher family ([[srpSigns]]) — the same
    * construction [[cosinePairsBucketed]] uses — so the DuckDB oracle
    * ([[annTopKSqlDuck]]) reproduces the exact bucket arithmetic and the
    * query is hash-checkable, not rows-only. */
  def srpTables(emb: DataFrame, nTables: Int = AnnTables,
      bitsPerTable: Int = AnnBitsPerTable, seed: Long = 42L): DataFrame = {
    val signs = srpSigns(nTables, bitsPerTable, seed)
    val tables = (0 until nTables).map { t =>
      val bits = (0 until bitsPerTable).map { j =>
        val proj = graft.functions.VectorExprs.dotConst(col("embedding"), signs(t)(j))
        when(proj >= 0, lit(1L << j)).otherwise(lit(0L))
      }
      struct(lit(t).as("t"), bits.reduce(_ + _).as("b"))
    }
    emb.withColumn("buckets", array(tables: _*))
  }

  /** ANN top-k via multi-table SRP LSH with multi-probe — the scale path
    * pairing the exact brute-force baseline. Candidates = union over tables
    * of vectors in the query's bucket OR any bucket at Hamming distance 1
    * (probing only expands the broadcast query side: each query row becomes
    * bitsPerTable+1 probe rows; the join stays a plain equi-join on
    * (table, bucket)). Same payload discipline as [[cosinePairsBucketed]]:
    * the bucket join and candidate dedup run on SLIM id rows; the 64-float
    * embeddings join back by id afterwards, so they move once per vector —
    * never through the dedup shuffle, and never replicated per bucket row.
    * One shuffle keyed by (table, bucket); never all-pairs. */
  def annTopK(emb: DataFrame, nQueries: Int = 8, k: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val v = srpTables(emb)
    val probes = (0 until AnnBitsPerTable).map(j =>
      struct(col("qb0.t").as("t"),
        col("qb0.b").bitwiseXOR(lit(1L << j)).as("b"))) :+ col("qb0")
    val qSlim = v.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), explode(col("buckets")).as("qb0"))
      .select(col("query_id"), explode(array(probes: _*)).as("qb"))
      .select(col("query_id"), col("qb.t").as("t"), col("qb.b").as("b"))
    val cSlim = v.select(col("vec_id").as("neighbor_id"), explode(col("buckets")).as("cb"))
      .select(col("neighbor_id"), col("cb.t").as("t"), col("cb.b").as("b"))
    val candIds = cSlim.join(broadcast(qSlim), Seq("t", "b"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select("query_id", "neighbor_id")
      .dropDuplicates("query_id", "neighbor_id")
    val vn = withNorm(emb)
    val qArr = vn.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"), col("nrm").as("qn"))
    val cArr = vn.select(col("vec_id").as("neighbor_id"),
      col("embedding").as("cv"), col("nrm").as("cn"))
    val scored = candIds.join(broadcast(qArr), "query_id").join(cArr, "neighbor_id")
      .withColumn("cos", dotCol("qv", "cv") / (col("qn") * col("cn")))
    val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), round(col("cos"), 6).as("cos_sim"))
  }

  /** DuckDB oracle for [[annTopK]]: identical bucket arithmetic (the seeded
    * Rademacher sign chains of [[srpTables]]), Hamming-1 multi-probe
    * expansion on the query side (`xor(b, 1<<j)` per bit plus the identity
    * probe), candidate dedup on slim ids, exact cosine re-score, top-k
    * window — term-for-term the [[cosinePairsBucketedSqlDuck]] pattern. */
  /** The shared ANN CTE chain `v, bk, qp, cand, scored(query_id,
    * neighbor_id, cos)` — hyperplane buckets, multi-probe expansion,
    * candidate join, cosine scoring. Consumed by [[annTopKSqlDuck]] and
    * [[annRecallSqlDuck]]. */
  private def annChainCtes(nQueries: Int, nTables: Int, bitsPerTable: Int,
      seed: Long): String = {
    val signs = srpSigns(nTables, bitsPerTable, seed)
    val bkUnion = (0 until nTables).map { t =>
      val bits = (0 until bitsPerTable).map { j =>
        s"(CASE WHEN ${signedProjSqlDuck(signs(t)(j))} >= 0 THEN ${1L << j} ELSE 0 END)"
      }.mkString(" + ")
      s"SELECT vec_id, $t AS t, CAST($bits AS BIGINT) AS b FROM embeddings"
    }.mkString(" UNION ALL ")
    s"""v AS (SELECT vec_id, embedding, sqrt(${dotSqlDuck("embedding", "embedding")}) AS nrm
       |  FROM embeddings),
       | bk AS ($bkUnion),
       | qp AS (
       |  SELECT q.vec_id AS query_id, q.t,
       |    CASE WHEN p.j < 0 THEN q.b ELSE xor(q.b, CAST(1 AS BIGINT) << p.j) END AS b
       |  FROM bk q CROSS JOIN range(-1, $bitsPerTable) p(j)
       |  WHERE q.vec_id < $nQueries),
       | cand AS (
       |  SELECT DISTINCT qp.query_id, c.vec_id AS neighbor_id
       |  FROM bk c JOIN qp ON c.t = qp.t AND c.b = qp.b AND c.vec_id <> qp.query_id),
       | scored AS (
       |  SELECT cand.query_id, cand.neighbor_id,
       |    (${dotSqlDuck("a.embedding", "b.embedding")}) / (a.nrm * b.nrm) AS cos
       |  FROM cand JOIN v a ON a.vec_id = cand.query_id
       |            JOIN v b ON b.vec_id = cand.neighbor_id)""".stripMargin
  }

  def annTopKSqlDuck(nQueries: Int = 8, k: Int = 10, nTables: Int = AnnTables,
      bitsPerTable: Int = AnnBitsPerTable, seed: Long = 42L): String =
    s"""WITH ${annChainCtes(nQueries, nTables, bitsPerTable, seed)}
       |SELECT query_id, rank, neighbor_id, round(cos, 6) AS cos_sim FROM (
       |  SELECT query_id, neighbor_id, cos,
       |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rank
       |  FROM scored)
       |WHERE rank <= $k
       |ORDER BY query_id, rank""".stripMargin

  /** SRP-LSH recall@k audit against the exact brute-force cosine ranking —
    * the third leg of the evaluation trilogy (dedup_lsh_eval grades the
    * Jaccard LSH candidates, sim_pq_recall grades the PQ quantizer, this
    * grades the SRP bucket structure). Both rankings share the identical
    * dot/norm arithmetic and (cos DESC, neighbor_id) tie-break, the overlap
    * count is exact, recall is the one int/int division. Dual-pass BY
    * DESIGN — the exact scan is the evaluation harness, not the production
    * path. */
  def annRecall(emb: DataFrame, nQueries: Int = 8, k: Int = 10): DataFrame = {
    val approx = annTopK(emb, nQueries, k).select("query_id", "neighbor_id")
    val truth = bruteForceTopK(emb, nQueries, k).select("query_id", "neighbor_id")
    val hits = truth.join(approx, Seq("query_id", "neighbor_id"))
      .groupBy("query_id").agg(count(lit(1)).as("n_overlap"))
    emb.filter(col("vec_id") < nQueries).select(col("vec_id").as("query_id"))
      .join(hits, Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("n_overlap"), lit(0L)).as("n_overlap"),
        (coalesce(col("n_overlap"), lit(0L)).cast("double") / lit(k.toDouble))
          .as("recall"))
      .orderBy("query_id")
  }

  /** Oracle twin of [[annRecall]]: the shared ANN chain plus the exact
    * ranking, identical tie-breaks. */
  def annRecallSqlDuck(nQueries: Int = 8, k: Int = 10, nTables: Int = AnnTables,
      bitsPerTable: Int = AnnBitsPerTable, seed: Long = 42L): String =
    s"""WITH ${annChainCtes(nQueries, nTables, bitsPerTable, seed)},
       | annk AS (SELECT query_id, neighbor_id FROM (
       |   SELECT query_id, neighbor_id, row_number() OVER (
       |     PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rnk
       |   FROM scored) WHERE rnk <= $k),
       | tscored AS (
       |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |    (${dotSqlDuck("q.embedding", "c.embedding")}) / (q.nrm * c.nrm) AS cos
       |  FROM v q JOIN v c ON q.vec_id < $nQueries AND c.vec_id <> q.vec_id),
       | truth AS (SELECT query_id, neighbor_id FROM (
       |   SELECT query_id, neighbor_id, row_number() OVER (
       |     PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rnk
       |   FROM tscored) WHERE rnk <= $k),
       | hits AS (SELECT t.query_id, CAST(count(*) AS BIGINT) AS n_overlap
       |  FROM truth t JOIN annk a
       |    ON a.query_id = t.query_id AND a.neighbor_id = t.neighbor_id
       |  GROUP BY t.query_id)
       |SELECT e.vec_id AS query_id,
       |  CAST(coalesce(h.n_overlap, 0) AS BIGINT) AS n_overlap,
       |  CAST(coalesce(h.n_overlap, 0) AS DOUBLE) / ${k.toDouble} AS recall
       |FROM embeddings e LEFT JOIN hits h ON e.vec_id = h.query_id
       |WHERE e.vec_id < $nQueries ORDER BY query_id""".stripMargin

  /** Scalar (SQ8) embedding quantization: per-DIMENSION min/max over the
    * corpus define 256 uniform levels; each float compresses to one byte
    * (4× smaller than fp32 — the standard storage/serving trade for
    * billion-vector stores), and the per-vector midpoint-reconstruction
    * squared error is reported alongside so quantization quality is itself
    * a monitored column.
    *
    * Shape: one posexplode + (dim)-keyed map-side-combined aggregate for
    * the stats; the Dim×2 scalars collect to the driver (bounded — the
    * same adjudicated pull as the IVF centroids) and come back as LITERAL
    * arrays, so the quantize pass is a single narrow projection — the
    * corpus streams through once, nothing shuffles.
    *
    * Determinism: min/max are comparisons; the code is
    * floor((v−mn)·255/(mx−mn)) clamped to [0,255] — float-exact identical
    * IEEE ops in identical order on both engines; the error fold is a LEFT
    * fold in dimension order (Spark `aggregate`, DuckDB `list_reduce`), so
    * even the double accumulation is bit-identical. Degenerate dimensions
    * (mx == mn) code to 0. */
  def quantizeSq8(emb: DataFrame): DataFrame = {
    val stats = emb
      .select(posexplode(col("embedding")).as(Seq("d", "v")))
      .groupBy("d")
      .agg(min(col("v").cast("double")).as("mn"), max(col("v").cast("double")).as("mx"))
      .orderBy("d").collect()
    val mns = array(stats.map(r => lit(r.getDouble(1))).toSeq: _*)
    val mxs = array(stats.map(r => lit(r.getDouble(2))).toSeq: _*)
    val dim = stats.length
    val dq = s"""(element_at(_mn, i) +
      (CAST(element_at(codes, i) AS DOUBLE) + CAST(0.5 AS DOUBLE))
      * (element_at(_mx, i) - element_at(_mn, i)) / CAST(255.0 AS DOUBLE))"""
    val err = s"(CAST(element_at(embedding, i) AS DOUBLE) - $dq)"
    emb.withColumn("_mn", mns).withColumn("_mx", mxs)
      .withColumn("codes", expr(
        s"""transform(sequence(1, $dim), i ->
           |  CASE WHEN element_at(_mx, i) > element_at(_mn, i) THEN
           |    least(CAST(255 AS BIGINT), greatest(CAST(0 AS BIGINT),
           |      floor((CAST(element_at(embedding, i) AS DOUBLE) - element_at(_mn, i))
           |            * CAST(255.0 AS DOUBLE)
           |            / (element_at(_mx, i) - element_at(_mn, i)))))
           |  ELSE CAST(0 AS BIGINT) END)""".stripMargin))
      .withColumn("mse_sum", expr(
        s"""aggregate(
           |  transform(sequence(1, $dim), i -> $err * $err),
           |  CAST(0.0 AS DOUBLE), (a, x) -> a + x)""".stripMargin))
      .select(col("vec_id"),
        array_join(expr("transform(codes, c -> CAST(c AS STRING))"), ",").as("codes"),
        col("mse_sum"))
  }

  /** Oracle twin of [[quantizeSq8]] — identical stats, code arithmetic,
    * midpoint reconstruction, and LEFT-fold error accumulation in
    * dimension order (`list_reduce` over a 0.0-prepended ordered list). */
  def quantizeSq8SqlDuck: String =
    """WITH x AS (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS v,
      |    generate_subscripts(embedding, 1) AS d FROM embeddings),
      | st AS (SELECT d, min(v) AS mn, max(v) AS mx FROM x GROUP BY d),
      | q AS (SELECT vec_id, x.d, v, mn, mx,
      |    CASE WHEN mx > mn THEN
      |      least(CAST(255 AS BIGINT), greatest(CAST(0 AS BIGINT),
      |        CAST(floor((v - mn) * CAST(255.0 AS DOUBLE) / (mx - mn)) AS BIGINT)))
      |    ELSE CAST(0 AS BIGINT) END AS code
      |  FROM x JOIN st ON x.d = st.d),
      | e AS (SELECT vec_id, d, code,
      |    (v - (mn + (CAST(code AS DOUBLE) + CAST(0.5 AS DOUBLE))
      |       * (mx - mn) / CAST(255.0 AS DOUBLE)))
      |    * (v - (mn + (CAST(code AS DOUBLE) + CAST(0.5 AS DOUBLE))
      |       * (mx - mn) / CAST(255.0 AS DOUBLE))) AS err2
      |  FROM q)
      |SELECT vec_id,
      |  array_to_string(list(code ORDER BY d), ',') AS codes,
      |  CAST(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list(err2 ORDER BY d)),
      |    (a, b) -> a + b) AS DOUBLE) AS mse_sum
      |FROM e GROUP BY vec_id ORDER BY vec_id""".stripMargin

  // ---- PQ (product quantization) ANN — Jégou, Douze & Schmid, "Product
  // quantization for nearest neighbor search", TPAMI 2011 ------------------

  /** Number of PQ subspaces (Dim / PqM dims each) and per-subspace codebook
    * size. 4 × 16 keeps the codebook a 4·16·16-double driver matrix and the
    * oracle's unrolled CTEs tractable; production tuning is data-dependent
    * (the paper's m=8, k*=256 shape drops in unchanged). */
  val PqM = 4
  val PqK = 16
  val PqSubDim: Int = Dim / PqM

  // (the former explicit pqSubD2 term-chain builder lives on only inside
  // the compiled-loop expressions PqEncodeCodes / PqQueryDists, which keep
  // its exact left-associated arithmetic — see their numeric contracts)

  /** `_codes` = all m per-subspace nearest codes in ONE compiled loop
    * ([[graft.functions.PqEncodeCodes]] — identical arithmetic and
    * first-min-wins tie-break as the former m×k explicit
    * `array_position(d2, array_min(d2))` chains, which blew the 64 KB
    * codegen limit and ran interpreted; the loop form cut sim_pq_adc
    * 11.1 → measured-below s at sf0.1). Consumers posexplode `_codes`
    * exactly once per row, so projection collapsing cannot duplicate the
    * evaluation. */
  private def pqAssignCols(df: DataFrame, cents: Array[Array[Array[Double]]]): DataFrame =
    df.withColumn("_codes",
      graft.functions.PqEncodeCodes.codes(col("embedding"), cents))

  /** Per-subspace Lloyd codebooks: deterministic init from the first PqK
    * vectors' slices, `iters` rounds. One distributed pass per round trains
    * ALL subspaces: assignment columns, one posexplode to (vec_id, s, code),
    * one (s, code)-keyed aggregation of quantized per-dimension BIGINT sums
    * (map-side combined, exact integer arithmetic — the [[VecSumQ]] rule).
    * Only the m × PqK × subDim codebook is driver-resident.
    * Trained once per (relation, iters) — see [[trainOnce]]. */
  def pqCentroids(emb: DataFrame, iters: Int = 2): Array[Array[Array[Double]]] =
    trainOnce(emb, s"pq:$iters") { trainPqCentroids(emb, iters) }

  private def trainPqCentroids(emb: DataFrame, iters: Int): Array[Array[Array[Double]]] = {
    import emb.sparkSession.implicits._
    val init = emb.filter(col("vec_id") < PqK).orderBy("vec_id")
      .select("embedding").as[Array[Float]].collect()
    var cents = Array.tabulate(PqM)(s =>
      init.map(v => v.slice(s * PqSubDim, (s + 1) * PqSubDim).map(_.toDouble)))
    for (_ <- 1 to iters) {
      val sums = pqAssignCols(emb, cents)
        .select(col("embedding"),
          posexplode(col("_codes")).as(Seq("s", "code")))
        .withColumn("subvec", slice(col("embedding"), col("s") * PqSubDim + 1, lit(PqSubDim)))
        .groupBy("s", "code")
        .agg(count(lit(1)).as("n"),
          (0 until PqSubDim).map(i =>
            sum(floor(element_at(col("subvec"), i + 1).cast("double") * lit(Quant))
              .cast("long")).as(s"s$i")): _*)
        .collect()
        .map(r => (r.getAs[Int]("s"), r.getAs[Int]("code")) ->
          ((r.getAs[Long]("n"), (0 until PqSubDim).map(i => r.getAs[Long](s"s$i")).toArray)))
        .toMap
      cents = Array.tabulate(PqM)(s => Array.tabulate(PqK)(j =>
        sums.get((s, j))
          .map { case (n, ss) => ss.map(x => x.toDouble / n / Quant) }
          .getOrElse(cents(s)(j))))
    }
    cents
  }

  /** PQ/ADC top-k: every corpus vector is stored as m subspace codes; a
    * query's distance to a vector is the sum of m precomputed
    * query-to-sub-centroid distances (asymmetric distance computation).
    * Each per-subspace distance floor-quantizes to 1e-6 BIGINT micro-units
    * BEFORE the sum, so the m-term total is exact integer arithmetic —
    * partition-order- and engine-independent.
    *
    * Scale shape: the code relation is m short rows per vector; the
    * query-side distance table (nQueries · m · PqK rows — 512 here) is
    * broadcast, the join is an equi-join on (s, code), and the per-pair sum
    * is a map-side-combinable fixed-m aggregation. ADC is BY DESIGN a full
    * scan with O(m) work per vector (that is the speedup over O(Dim));
    * composing with the IVF coarse quantizer (IVFADC, §IV of the paper) to
    * prune the scan is the published next step and drops in as a cluster
    * pre-filter on the code relation. */
  /** (neighbor_id, s, code) — m code rows per corpus vector. */
  private def pqCodes(emb: DataFrame, cents: Array[Array[Array[Double]]]): DataFrame =
    pqAssignCols(emb, cents)
      .select(col("vec_id").as("neighbor_id"),
        posexplode(col("_codes")).as(Seq("s", "code")))

  /** ADC distance table: (query_id, s, code, d2m) — nQueries · m · PqK rows,
    * each subspace distance floor-quantized to micro-unit BIGINTs. One
    * compiled-loop expression ([[graft.functions.PqQueryDists]], flat index
    * s·PqK + code) replaces the former explode(array(m·k structs of
    * unrolled chains)) whose Generate stage blew the 64 KB codegen limit —
    * and, failed compiles being un-cached, re-paid a multi-second Janino
    * failure on EVERY execution (the dominant cost of the whole PQ bench
    * family; arithmetic bit-identical, see the expression's contract). */
  private def pqQueryTable(emb: DataFrame, cents: Array[Array[Array[Double]]],
      nQueries: Int): DataFrame =
    emb.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"),
        posexplode(graft.functions.PqQueryDists.dists(col("embedding"), cents, Quant))
          .as(Seq("idx", "d2m")))
      .select(col("query_id"),
        expr(s"CAST(idx DIV $PqK AS INT)").as("s"),
        pmod(col("idx"), lit(PqK)).cast("int").as("code"),
        col("d2m"))

  def pqTopK(emb: DataFrame, nQueries: Int = 8, k: Int = 10,
      iters: Int = 2): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cents = pqCentroids(emb, iters)
    val codes = pqCodes(emb, cents)
    val qtab = pqQueryTable(emb, cents, nQueries)
    val scored = codes.join(broadcast(qtab), Seq("s", "code"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .groupBy("query_id", "neighbor_id")
      .agg(sum("d2m").as("adist_micro"))
    val w = Window.partitionBy("query_id").orderBy(col("adist_micro").asc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("adist_micro"))
  }

  /** Oracle for [[pqTopK]] — replays the whole deterministic pipeline as
    * CTEs: per-subspace first-PqK init, per round a UNION-ALL-over-subspaces
    * assignment (row_number over the identical left-associated (e−c)² chains,
    * d2 ASC, code ASC — first-min-wins like `array_position(array_min)`) and
    * an exact quantized-BIGINT mean, then the final encode, the query
    * distance table with the same floor-to-micro-units quantization, and the
    * integer ADC sum + top-k window. */
  def pqTopKSqlDuck(nQueries: Int = 8, k: Int = 10, iters: Int = 2): String =
    s"""WITH ${pqCtes(nQueries, iters)}
       |SELECT query_id, rank, neighbor_id, adist_micro FROM (
       |  SELECT query_id, neighbor_id, CAST(adist_micro AS BIGINT) AS adist_micro,
       |    CAST(row_number() OVER (
       |      PARTITION BY query_id ORDER BY adist_micro ASC, neighbor_id) AS BIGINT) AS rank
       |  FROM scored)
       |WHERE rank <= $k
       |ORDER BY query_id, rank""".stripMargin

  /** The shared CTE chain ending in `${p}scored(query_id, neighbor_id,
    * adist_micro)` — the trainer, encode, query table, and ADC sum. All CTE
    * names take the `p` prefix so the chain composes with other trainer
    * chains (IVFADC) without collisions. */
  private[ext] def pqCtes(nQueries: Int, iters: Int, p: String = ""): String = {
    val dims = 0 until PqSubDim
    def d2Chain(s: Int): String = dims.map { i =>
      val e = s"CAST(e.embedding[${s * PqSubDim + i + 1}] AS DOUBLE)"
      s"($e - c.c$i) * ($e - c.c$i)"
    }.mkString(" + ")
    def assignCte(name: String, cents: String, where: String): String = {
      val branches = (0 until PqM).map { s =>
        s"""SELECT e.vec_id, $s AS s, c.cluster, row_number() OVER (
           |    PARTITION BY e.vec_id ORDER BY ${d2Chain(s)} ASC, c.cluster) AS rn
           |  FROM embeddings e CROSS JOIN $cents c WHERE c.s = $s$where"""
          .stripMargin
      }.mkString("\n  UNION ALL\n  ")
      s"$name AS (SELECT vec_id, s, cluster FROM (\n  $branches) WHERE rn = 1)"
    }
    val cents0 = {
      val branches = (0 until PqM).map { s =>
        val cs = dims.map(i =>
          s"CAST(embedding[${s * PqSubDim + i + 1}] AS DOUBLE) AS c$i").mkString(", ")
        s"SELECT $s AS s, vec_id AS cluster, $cs FROM embeddings WHERE vec_id < $PqK"
      }.mkString("\n  UNION ALL\n  ")
      s"${p}cents0 AS (\n  $branches)"
    }
    def sumsCte(name: String, assign: String): String = {
      val branches = (0 until PqM).map { s =>
        val ss = dims.map(i =>
          s"SUM(CAST(floor(CAST(e.embedding[${s * PqSubDim + i + 1}] AS DOUBLE) * 1000000.0) AS BIGINT)) AS s$i")
          .mkString(", ")
        s"""SELECT $s AS s, a.cluster, $ss, COUNT(*) AS n
           |  FROM embeddings e JOIN $assign a ON a.vec_id = e.vec_id AND a.s = $s
           |  GROUP BY a.cluster""".stripMargin
      }.mkString("\n  UNION ALL\n  ")
      s"$name AS (\n  $branches)"
    }
    def centsCte(name: String, prev: String, sums: String): String = {
      val cs = dims.map(i =>
        s"COALESCE(CAST(su.s$i AS DOUBLE) / CAST(su.n AS DOUBLE) / 1000000.0, p.c$i) AS c$i")
        .mkString(", ")
      s"""$name AS (SELECT p.s, p.cluster, $cs
         |  FROM $prev p LEFT JOIN $sums su ON su.s = p.s AND su.cluster = p.cluster)"""
        .stripMargin
    }
    val rounds = (1 to iters).flatMap { r =>
      Seq(assignCte(s"${p}assign$r", s"${p}cents${r - 1}", ""),
        sumsCte(s"${p}sums$r", s"${p}assign$r"),
        centsCte(s"${p}cents$r", s"${p}cents${r - 1}", s"${p}sums$r"))
    }
    val cF = s"${p}cents$iters"
    val qtab = {
      val branches = (0 until PqM).map { s =>
        s"""SELECT e.vec_id AS query_id, $s AS s, c.cluster AS code,
           |    CAST(floor((${d2Chain(s)}) * 1000000.0) AS BIGINT) AS d2m
           |  FROM embeddings e CROSS JOIN $cF c
           |  WHERE c.s = $s AND e.vec_id < $nQueries""".stripMargin
      }.mkString("\n  UNION ALL\n  ")
      s"${p}qtab AS (\n  $branches)"
    }
    s"""$cents0,
       | ${rounds.mkString(",\n ")},
       | ${assignCte(s"${p}encodef", cF, "")},
       | $qtab,
       | ${p}scored AS (
       |  SELECT q.query_id, a.vec_id AS neighbor_id, SUM(q.d2m) AS adist_micro
       |  FROM ${p}encodef a JOIN ${p}qtab q ON q.s = a.s AND q.code = a.cluster
       |  WHERE a.vec_id <> q.query_id
       |  GROUP BY q.query_id, a.vec_id)""".stripMargin
  }

  /** PQ recall audit against the EXACT L2 top-k (the paper's recall@k
    * metric): per query, how many of the true k nearest neighbors the ADC
    * ranking retrieved. The truth ranking orders by the monotone-equivalent
    * `q·c − |c|²/2` (|q|² is constant per query) so no sqrt enters; both
    * rankings and the overlap count are exact, recall is the int/int
    * division. Dual-pass BY DESIGN — the exact scan is the evaluation
    * harness, not the production path (the lshEval / matryoshka precedent). */
  def pqRecall(emb: DataFrame, nQueries: Int = 8, k: Int = 10,
      iters: Int = 2): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val approx = pqTopK(emb, nQueries, k, iters).select("query_id", "neighbor_id")
    val q = emb.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val c = emb.select(col("vec_id").as("neighbor_id"), col("embedding").as("cv"))
    val w = Window.partitionBy("query_id").orderBy(col("score").desc, col("neighbor_id"))
    val truth = c.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .withColumn("score", dotCol("qv", "cv") - dotCol("cv", "cv") / lit(2.0))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id")
    val hits = truth.join(approx, Seq("query_id", "neighbor_id"))
      .groupBy("query_id").agg(count(lit(1)).as("n_overlap"))
    emb.filter(col("vec_id") < nQueries).select(col("vec_id").as("query_id"))
      .join(hits, Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("n_overlap"), lit(0L)).as("n_overlap"),
        (coalesce(col("n_overlap"), lit(0L)).cast("double") / lit(k.toDouble))
          .as("recall"))
      .orderBy("query_id")
  }

  /** Oracle twin of [[pqRecall]]: the PQ CTE chain plus the exact-score
    * window ranking, identical dot chains and tie-breaks. */
  def pqRecallSqlDuck(nQueries: Int = 8, k: Int = 10, iters: Int = 2): String =
    s"""WITH ${pqCtes(nQueries, iters)},
       | approx AS (SELECT query_id, neighbor_id FROM (
       |   SELECT query_id, neighbor_id, row_number() OVER (
       |     PARTITION BY query_id ORDER BY adist_micro ASC, neighbor_id) AS rnk
       |   FROM scored) WHERE rnk <= $k),
       | truth AS (SELECT query_id, neighbor_id FROM (
       |   SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |     row_number() OVER (PARTITION BY q.vec_id ORDER BY
       |       (${dotSqlDuck("q.embedding", "c.embedding")}) -
       |       (${dotSqlDuck("c.embedding", "c.embedding")}) / 2.0 DESC,
       |       c.vec_id) AS rnk
       |   FROM embeddings q JOIN embeddings c
       |     ON q.vec_id < $nQueries AND c.vec_id <> q.vec_id)
       |   WHERE rnk <= $k),
       | hits AS (SELECT t.query_id, CAST(count(*) AS BIGINT) AS n_overlap
       |   FROM truth t JOIN approx a
       |     ON a.query_id = t.query_id AND a.neighbor_id = t.neighbor_id
       |   GROUP BY t.query_id)
       |SELECT e.vec_id AS query_id, coalesce(h.n_overlap, 0) AS n_overlap,
       |  CAST(coalesce(h.n_overlap, 0) AS DOUBLE) / ${k.toDouble} AS recall
       |FROM embeddings e LEFT JOIN hits h ON e.vec_id = h.query_id
       |WHERE e.vec_id < $nQueries ORDER BY query_id""".stripMargin

  /** IVFADC (§IV of Jégou et al. 2011): the coarse IVF quantizer prunes the
    * corpus to the query's nProbe closest clusters, then PQ/ADC ranks only
    * those candidates. This is THE published composition for billion-scale
    * ANN — the full-scan cost of plain ADC drops to ~nProbe/kClusters of
    * the corpus per query, and every join stays an equi-join (cluster id,
    * then (s, code)). Both codebooks are the deterministic driver-resident
    * trainers already oracle-proven by [[ivfTopK]] and [[pqTopK]]; distance
    * sums are the same exact micro-unit BIGINTs, so the pruned ranking is
    * engine- and partitioning-independent. Default iters=1 (not the
    * siblings' 2): this row's coverage point is the prune→ADC COMPOSITION;
    * both trainers are already proven at iters=2 in their own rows, and a
    * second Lloyd round here would only re-pay their cost. */
  def ivfPqTopK(embRaw: DataFrame, nQueries: Int = 8, k: Int = 10,
      kClusters: Int = 16, nProbe: Int = 3, iters: Int = 1): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // Both trainers plus the encode/query passes rescan the corpus —
    // 2·iters Lloyd passes + 3 consumers. One persist feeds them all.
    val emb = graft.etl.CacheRegistry.persist(embRaw)
    // coarse stage: candidate pairs from the probed clusters
    val cents = ivfCentroids(emb, kClusters, iters)
    val v = ivfAssign(emb, cents)
    val centScores = cents.map { c =>
      val half = c.map(x => x * x).sum / 2
      graft.functions.VectorExprs.dotConst(col("embedding"), c) - lit(half)
    }
    val wProbe = Window.partitionBy("query_id").orderBy(col("score").desc, col("cluster"))
    val qProbes = emb.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"),
        posexplode(array(centScores.toSeq: _*)).as(Seq("cluster", "score")))
      .withColumn("_r", row_number().over(wProbe))
      .filter(col("_r") <= nProbe)
      .select("query_id", "cluster")
    val cand = v.select(col("vec_id").as("neighbor_id"), col("cluster"))
      .join(broadcast(qProbes), Seq("cluster"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select("query_id", "neighbor_id")
    // fine stage: ADC sums computed ONLY for the pruned candidates
    val pqc = pqCentroids(emb, iters)
    val scored = cand
      .join(pqCodes(emb, pqc), Seq("neighbor_id"))
      .join(broadcast(pqQueryTable(emb, pqc, nQueries)), Seq("query_id", "s", "code"))
      .groupBy("query_id", "neighbor_id")
      .agg(sum("d2m").as("adist_micro"))
    val w = Window.partitionBy("query_id").orderBy(col("adist_micro").asc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("adist_micro"))
  }

  /** Oracle for [[ivfPqTopK]]: the IVF trainer chain (probes + candidate
    * pairs) composed with the `pq_`-prefixed PQ chain; the oracle computes
    * ADC for all pairs and restricts to candidates — same result as the
    * engine's candidates-first evaluation order. */
  def ivfPqTopKSqlDuck(nQueries: Int = 8, k: Int = 10, kClusters: Int = 16,
      nProbe: Int = 3, iters: Int = 1): String = {
    val (ctes, cF) = ivfTrainerCtes(kClusters, iters)
    s"""WITH $ctes,
       | probes AS (SELECT query_id, cluster FROM (
       |  SELECT e.vec_id AS query_id, c.cluster, row_number() OVER (
       |    PARTITION BY e.vec_id ORDER BY ${ivfScoreSql("c")} DESC, c.cluster) AS rn
       |  FROM embeddings e CROSS JOIN $cF c WHERE e.vec_id < $nQueries) WHERE rn <= $nProbe),
       | cand AS (SELECT p.query_id, a.vec_id AS neighbor_id
       |  FROM probes p JOIN assignf a ON a.cluster = p.cluster AND a.vec_id <> p.query_id),
       | ${pqCtes(nQueries, iters, "pq_")}
       |SELECT query_id, rank, neighbor_id, adist_micro FROM (
       |  SELECT c.query_id, c.neighbor_id, CAST(s.adist_micro AS BIGINT) AS adist_micro,
       |    CAST(row_number() OVER (
       |      PARTITION BY c.query_id ORDER BY s.adist_micro ASC, c.neighbor_id) AS BIGINT) AS rank
       |  FROM cand c JOIN pq_scored s
       |    ON s.query_id = c.query_id AND s.neighbor_id = c.neighbor_id)
       |WHERE rank <= $k
       |ORDER BY query_id, rank""".stripMargin
  }

  /** k-NN label classification eval: classify the first `nQueries` vectors
    * by MAJORITY VOTE over their exact-cosine top-`k` neighbors (self
    * excluded; vote ties break to the smallest label, rank ties to the
    * smallest id — both engine-invariant) and report per-label accuracy
    * against the stored labels. The fifth leg of the repo's evaluation
    * harnesses (LSH pair eval, PQ/SRP recall@k, nDCG/MRR, and now
    * classification quality of the embedding space itself) — the question
    * "are these embeddings good enough to route/filter by label?" answered
    * by measurement.
    *
    * EVAL-row scale contract (the dedup_lsh_eval precedent): the exact
    * scoring is deliberately brute-force over a BROADCAST query sample —
    * linear in the corpus (candidates stream once past nQueries·k state),
    * never all-pairs; production classification at full-corpus query
    * volume would swap [[bruteForceTopK]] for [[annTopK]]/[[ivfTopK]] and
    * keep every vote/accuracy stage unchanged. */
  def knnClassify(emb: DataFrame, nQueries: Int = 64, k: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(nQueries >= 1 && k >= 1, s"bad params: nQueries=$nQueries k=$k")
    val topk = bruteForceTopK(emb, nQueries, k)
    val votes = topk
      .join(emb.select(col("vec_id").as("neighbor_id"),
        col("label").cast("long").as("nl")), "neighbor_id")
      .groupBy("query_id", "nl").agg(count(lit(1)).as("v"))
    val w = Window.partitionBy("query_id").orderBy(col("v").desc, col("nl"))
    val pred = votes.withColumn("r", row_number().over(w))
      .filter(col("r") === 1)
      .select(col("query_id"), col("nl").as("pred"))
    pred.join(emb.select(col("vec_id").as("query_id"),
        col("label").cast("long").as("label")), "query_id")
      .groupBy("label")
      .agg(count(lit(1)).as("n_queries"),
        sum(when(col("pred") === col("label"), lit(1L)).otherwise(lit(0L)))
          .as("n_correct"))
      .withColumn("accuracy",
        col("n_correct").cast("double") / col("n_queries").cast("double"))
  }

  /** Oracle twin of [[knnClassify]]: the shared exact-cosine ranking,
    * the same majority vote and tie-breaks. */
  def knnClassifySqlDuck(nQueries: Int = 64, k: Int = 10): String =
    s"""WITH v AS (SELECT vec_id,
       |    sqrt(${dotSqlDuck("embedding", "embedding")}) AS nrm,
       |    embedding
       |  FROM embeddings),
       | scored AS (
       |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |    (${dotSqlDuck("q.embedding", "c.embedding")}) / (q.nrm * c.nrm) AS cos
       |  FROM v q JOIN v c ON q.vec_id < $nQueries AND c.vec_id <> q.vec_id),
       | topk AS (SELECT query_id, neighbor_id FROM (
       |   SELECT query_id, neighbor_id,
       |     CAST(row_number() OVER (PARTITION BY query_id
       |       ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rank
       |   FROM scored) WHERE rank <= $k),
       | votes AS (SELECT t.query_id, CAST(e.label AS BIGINT) AS nl,
       |     CAST(count(*) AS BIGINT) AS v
       |   FROM topk t JOIN embeddings e ON t.neighbor_id = e.vec_id
       |   GROUP BY t.query_id, e.label),
       | pred AS (SELECT query_id, nl AS pred FROM (
       |   SELECT query_id, nl,
       |     row_number() OVER (PARTITION BY query_id ORDER BY v DESC, nl) AS r
       |   FROM votes) WHERE r = 1)
       |SELECT CAST(e.label AS BIGINT) AS label,
       |  CAST(count(*) AS BIGINT) AS n_queries,
       |  CAST(sum(CASE WHEN p.pred = e.label THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_correct,
       |  CAST(sum(CASE WHEN p.pred = e.label THEN 1 ELSE 0 END) AS DOUBLE)
       |    / CAST(count(*) AS DOUBLE) AS accuracy
       |FROM pred p JOIN embeddings e ON p.query_id = e.vec_id
       |GROUP BY e.label ORDER BY label""".stripMargin
}
