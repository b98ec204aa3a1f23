package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import TextOps.{DcgDiscounts, tokensArr}

/** The postings-join form of [[TextOps.searchTopK]], [[TextOps.searchRrf]]
  * and [[TextOps.searchEval]], kept as the reference SearchScoringSpec
  * checks the one-pass scoring relation against: a persisted (term, doc_id)
  * tf group-by, dl/df group-bys and a dl join, a (query, doc) score
  * group-by, and for RRF and eval a second (query, doc) group-by and join. */
object PostingsSearch {

  /** Shared BM25 term-frequency relation: one row per distinct (term, doc)
    * with its occurrence count — THE corpus pass of the whole search
    * family. Persisted; built identically by searchTopK and the eval/rrf
    * graded-relevance consumers, so within one action Spark's CacheManager
    * plan-matches every use onto ONE materialization (the search rows used
    * to tokenize the corpus 2-4 times per action through differently-
    * shaped projections of the same token stream). */
  private def bm25Tf(docs: DataFrame, textCol: String): DataFrame =
    docs.select(col("doc_id"), explode(tokensArr(textCol)).as("term"))
      .groupBy("term", "doc_id").agg(count(lit(1)).as("tf")).persist()

  def searchTopK(docs: DataFrame,
      queries: Seq[(String, String)] = Seq(
        "q_hash" -> "hash join stream",
        "q_scan" -> "scan filter batch",
        "q_sort" -> "window sort order"),
      k: Int = 10, k1: Double = 1.2, b: Double = 0.75,
      textCol: String = "text"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(queries.nonEmpty && queries.map(_._1).distinct.size == queries.size)
    require(k >= 1, s"k must be >= 1, got $k")
    val spark = docs.sparkSession
    import spark.implicits._
    val k1p1 = k1 + 1
    val oneMinusB = 1 - b
    // (r18) dl derives from the CACHED tf (Σ tf per doc = the doc's token
    // count — identical by definition) instead of from the raw token
    // stream: dl was evaluated twice (score join + corpus stats), and each
    // evaluation re-ran the corpus tokenize+explode. Now the tokenize runs
    // exactly once per action (into tf); dl's two evaluations are cheap
    // cache scans (NOT persisted — an A/B of the persisted form measured
    // the extra slim-rollup materialization as a net loss here, unlike the
    // r17 slim-rollup cases whose upstreams were unpersisted).
    val tf = bm25Tf(docs, textCol)
    val dl = tf.groupBy("doc_id").agg(sum(col("tf")).as("dl"))
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val stats = dl.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl"))
    val qTerms = queries
      .flatMap { case (qid, text) =>
        text.split("\\s+").filter(_.nonEmpty).distinct.map(qid -> _) }
      .toDF("query_id", "term")
    val contrib =
      col("tf").cast("double") * lit(k1p1) /
        (col("tf").cast("double") + lit(k1) * (lit(oneMinusB) + lit(b) *
          ((col("dl") * col("n_docs")).cast("double") / col("sum_dl").cast("double")))) *
        (((col("n_docs") - col("df")).cast("double") + lit(0.5)) /
          (col("df").cast("double") + lit(0.5)))
    val scored = tf
      .join(broadcast(qTerms), "term")
      .join(broadcast(df), "term")
      .join(dl, "doc_id")
      .crossJoin(broadcast(stats))
      .select(col("query_id"), col("doc_id"),
        floor(contrib * lit(1000000000.0)).cast("long").as("c"))
      .groupBy("query_id", "doc_id").agg(sum(col("c")).as("score_nano"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("score_nano").desc, col("doc_id"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("doc_id"),
        (col("score_nano").cast("double") / lit(1000000000.0)).as("score"))
  }

  /** Reciprocal Rank Fusion (Cormack, Clarke & Büttcher, SIGIR'09) of two
    * retrieval rankings — the standard hybrid-search combiner (e.g.
    * lexical BM25 + a second signal) that needs only RANKS, never score
    * calibration: RRF(d) = Σ_rankings 1/(kRrf + rank_d), here in exact
    * micro-units (`10^6 DIV (kRrf + rank)` — integer, so fusion is
    * engine-invariant by construction). Ranking A is [[searchTopK]]'s BM25
    * list; ranking B orders docs by distinct-query-term overlap (the
    * judgment-free relevance proxy [[searchEval]] grades with). Both lists
    * truncate at `depth` before fusion (standard RRF practice — a doc
    * absent from a list contributes 0 from it); output is the fused top-k
    * per query with both source ranks (0 = not on that list).
    *
    * Scale shape: BM25 reuses the postings chain; the overlap ranking is a
    * broadcast query-term join + per-query WindowGroupLimit; fusion is one
    * (query, doc)-keyed full-outer join of two ≤ depth-per-query lists —
    * list-sized, never corpus-sized. */
  def searchRrf(docs: DataFrame,
      queries: Seq[(String, String)] = Seq(
        "q_hash" -> "hash join stream",
        "q_scan" -> "scan filter batch",
        "q_sort" -> "window sort order"),
      k: Int = 10, kRrf: Int = 60, depth: Int = 50,
      textCol: String = "text"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k >= 1 && kRrf >= 1 && depth >= k,
      s"bad params: k=$k kRrf=$kRrf depth=$depth")
    val spark = docs.sparkSession
    import spark.implicits._
    val bm = searchTopK(docs, queries, k = depth, textCol = textCol)
      .select(col("query_id"), col("doc_id"), col("rank").as("r1"))
    val qTerms = queries
      .flatMap { case (qid, text) =>
        text.split("\\s+").filter(_.nonEmpty).distinct.map(qid -> _) }
      .toDF("query_id", "term")
    // (r18) same tf-derivation as searchEval's rel: one row per distinct
    // (term, doc) in tf, so matched-row counts ≡ matched-distinct-term
    // counts, and the corpus tokenize plan-matches onto searchTopK's
    // cached tf instead of running a second time
    val rel = bm25Tf(docs, textCol)
      .join(broadcast(qTerms), "term")
      .groupBy("query_id", "doc_id").agg(count(lit(1)).as("rel"))
    val wOv = Window.partitionBy("query_id").orderBy(col("rel").desc, col("doc_id"))
    val ov = rel.withColumn("r2", row_number().over(wOv).cast("long"))
      .filter(col("r2") <= depth)
      .select("query_id", "doc_id", "r2")
    val fused = bm.join(ov, Seq("query_id", "doc_id"), "full_outer")
      .select(col("query_id"), col("doc_id"),
        (coalesce(expr(s"CAST(1000000 AS BIGINT) DIV ($kRrf + r1)"), lit(0L)) +
          coalesce(expr(s"CAST(1000000 AS BIGINT) DIV ($kRrf + r2)"), lit(0L)))
          .as("rrf_micro"),
        coalesce(col("r1"), lit(0L)).as("bm_rank"),
        coalesce(col("r2"), lit(0L)).as("ov_rank"))
    val wF = Window.partitionBy("query_id")
      .orderBy(col("rrf_micro").desc, col("doc_id"))
    fused.withColumn("rank", row_number().over(wF).cast("long"))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "doc_id", "rrf_micro", "bm_rank", "ov_rank")
  }

  /** IR-eval scorecard for [[searchTopK]]'s BM25 ranking: per query one row
    * (query_id, n_rel, dcg_nano, idcg_nano, ndcg_micro, mrr_micro) — the
    * fourth leg of the repo's evaluation harnesses (LSH pair eval, PQ/SRP
    * recall@k, and now ranked-retrieval quality). Relevance is graded and
    * label-derived, not model-derived: rel(q, d) = number of DISTINCT query
    * terms present in d's token set (0..|q| — the standard judgment-free
    * proxy when no click log exists), so the metric is exactly reproducible
    * in SQL. For the BINARY metrics (MRR, n_rel) "relevant" means rel ≥ 2 —
    * a majority of a 3-term query — because every retrieved doc trivially
    * has rel ≥ 1 (BM25 only scores docs sharing a term), which would make
    * a rel ≥ 1 MRR identically 1.0.
    *
    * Exactness: DCG@k = Σ rel_i · W_i uses the pinned [[DcgDiscounts]]
    * literals; each rank's term floor-quantizes to 1e-9 gain units BEFORE
    * the per-query sum (BIGINT addition — partitioning cannot perturb it),
    * nDCG is one micro-unit integer DIV, and MRR@k is 1000000 DIV
    * first-relevant-rank — no transcendental evaluated at query time
    * anywhere. IDCG ranks ONLY the rel ≥ 1 docs (absent docs gain 0 in both
    * engines).
    *
    * Shape: the ranking is [[searchTopK]] unchanged (WindowGroupLimit
    * top-k); rel is one broadcast join of the ≤|q|·|terms| query-term list
    * against distinct doc tokens + a (query, doc)-keyed count; the ideal
    * ranking is a per-query WindowGroupLimit over rel (k rows survive);
    * discounts join via a broadcast k-row table. Output is |queries| rows —
    * driver-safe at any corpus size. */
  def searchEval(docs: DataFrame,
      queries: Seq[(String, String)] = Seq(
        "q_hash" -> "hash join stream",
        "q_scan" -> "scan filter batch",
        "q_sort" -> "window sort order"),
      k: Int = 10, k1: Double = 1.2, b: Double = 0.75,
      textCol: String = "text"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k >= 1 && k <= DcgDiscounts.size,
      s"k must be in [1, ${DcgDiscounts.size}], got $k")
    val spark = docs.sparkSession
    import spark.implicits._
    val wdf = broadcast(DcgDiscounts.take(k)
      .map { case (r, s) => (r, s.toDouble) }.toDF("rank", "w"))
    val qTerms = broadcast(queries
      .flatMap { case (qid, text) =>
        text.split("\\s+").filter(_.nonEmpty).distinct.map(qid -> _) }
      .toDF("query_id", "term"))
    // graded relevance: distinct-term containment count per (query, doc).
    // (r18) derived from the shared tf relation — one row per distinct
    // (term, doc), so counting matched rows ≡ counting matched distinct
    // terms — instead of a second tokenize of the corpus through
    // array_distinct; CacheManager plan-matches this onto searchTopK's
    // cached tf within the same action.
    val rel =
      bm25Tf(docs, textCol).join(qTerms, "term")
        .groupBy("query_id", "doc_id").agg(count(lit(1)).as("rel")).persist()
    val topk = searchTopK(docs, queries, k, k1, b, textCol)
      .join(rel, Seq("query_id", "doc_id"), "left")
      .select(col("query_id"), col("rank"), coalesce(col("rel"), lit(0L)).as("rel"))
    val dcg = topk.join(wdf, "rank")
      .groupBy("query_id")
      .agg(sum(floor(col("rel").cast("double") * col("w") * lit(1000000000.0))
        .cast("long")).as("dcg_nano"),
        min(when(col("rel") >= 2, col("rank"))).as("first_rel_rank"))
    val idealW = Window.partitionBy("query_id")
      .orderBy(col("rel").desc, col("doc_id"))
    val idcg = rel.withColumn("rank", row_number().over(idealW).cast("long"))
      .filter(col("rank") <= k)
      .join(wdf, "rank")
      .groupBy("query_id")
      .agg(sum(floor(col("rel").cast("double") * col("w") * lit(1000000000.0))
        .cast("long")).as("idcg_nano"),
        count(lit(1)).as("n_ideal"))
    val nRel = rel.filter(col("rel") >= 2)
      .groupBy("query_id").agg(count(lit(1)).as("n_rel"))
    dcg.join(idcg, Seq("query_id"), "left")
      .join(nRel, Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("n_rel"), lit(0L)).as("n_rel"),
        col("dcg_nano"),
        coalesce(col("idcg_nano"), lit(0L)).as("idcg_nano"),
        when(coalesce(col("idcg_nano"), lit(0L)) > 0,
          expr("dcg_nano * 1000000 DIV idcg_nano")).otherwise(lit(0L))
          .as("ndcg_micro"),
        coalesce(expr("1000000 DIV first_rel_rank"), lit(0L)).as("mrr_micro"))
      .orderBy("query_id")
  }
}
