package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Context-window preparation operators for LLM training pipelines:
  * sliding-window chunking, token-budget sequence packing, and corpus-level
  * n-gram statistics. Complements [[TextOps]] (per-doc signals) and
  * [[Dedup]] (cross-doc identity) with the doc→training-example step.
  *
  * All three are defined so the identical arithmetic is expressible in
  * DuckDB SQL for the Verify oracle: integer-only chunk/bin math, the
  * shared [[TextOps.TokenPattern]] tokenizer, and deterministic tie-breaks
  * on every ordering.
  *
  * Scale notes (100 TB):
  *   - [[chunkDocs]] is a narrow explode — no shuffle, linear in output.
  *   - [[packSequences]] windows over (lang, shard): the shard key caps any
  *     single window partition at 1/shards of a language, so no reducer
  *     sees a whole language's corpus (a per-lang total order would).
  *   - [[topNgrams]] is partial-agg → shuffle on the n-gram → distributed
  *     top-k (`TakeOrderedAndProject`) — never a full sort of the vocab.
  */
object Chunking {

  /** Sliding-window chunking: each doc's token stream becomes overlapping
    * windows of `chunkTokens` tokens advancing by `stride` — the standard
    * fixed-context pretraining shape (stride < chunkTokens duplicates
    * boundary context so no next-token prediction loses its left context).
    *
    * Chunk starts are `0, stride, 2·stride, …` with
    * `nChunks = 1 + min(ceil(max(n - chunkTokens, 0) / stride),
    * (n - 1) div stride)`; the final chunk may be short. The second bound
    * only bites when `stride > chunkTokens`: it clamps the start sequence
    * to `start < n`, so no degenerate zero-token chunk row is ever
    * emitted (downstream training consumers must never see an empty
    * example). When `stride <= chunkTokens` every token is covered
    * (property-tested); `stride > chunkTokens` deliberately subsamples —
    * gaps of `stride - chunkTokens` tokens between windows. Zero-token
    * docs produce no chunks. Pure per-row explode: no shuffle at any
    * scale.
    */
  def chunkDocs(docs: DataFrame, chunkTokens: Int = 32, stride: Int = 24,
      textCol: String = "text"): DataFrame = {
    require(chunkTokens > 0 && stride > 0, "chunkTokens and stride must be positive")
    docs
      .select(col("doc_id"), TextOps.fastTokens(col(textCol)).as("toks"))
      .withColumn("n", size(col("toks")))
      .filter(col("n") > 0)
      .select(col("doc_id"), col("toks"),
        explode(expr(
          s"sequence(0, CAST(least((greatest(n - $chunkTokens, 0) + ${stride - 1}) DIV $stride, (n - 1) DIV $stride) AS INT))"
        )).as("chunk_id"))
      .withColumn("chunk_toks", expr(s"slice(toks, chunk_id * $stride + 1, $chunkTokens)"))
      .select(col("doc_id"), col("chunk_id").cast("long").as("chunk_id"),
        size(col("chunk_toks")).cast("long").as("n_tokens"),
        array_join(col("chunk_toks"), " ").as("chunk_text"))
  }

  /** DuckDB oracle for [[chunkDocs]] — same integer start/ceil arithmetic,
    * `list_slice` clamped at the array end exactly like Spark's `slice`. */
  def chunkDocsSqlDuck(chunkTokens: Int = 32, stride: Int = 24): String = {
    val slice = s"list_slice(toks, chunk_id * $stride + 1, chunk_id * $stride + $chunkTokens)"
    s"""WITH t AS (
       |  SELECT doc_id, ${TextOps.tokensSqlDuck("text")} AS toks,
       |    len(${TextOps.tokensSqlDuck("text")}) AS n
       |  FROM documents WHERE len(${TextOps.tokensSqlDuck("text")}) > 0),
       | c AS (
       |  SELECT doc_id, toks,
       |    unnest(generate_series(0, least((greatest(n - $chunkTokens, 0) + ${stride - 1}) // $stride, (n - 1) // $stride))) AS chunk_id
       |  FROM t)
       |SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
       |  CAST(len($slice) AS BIGINT) AS n_tokens,
       |  array_to_string($slice, ' ') AS chunk_text
       |FROM c
       |ORDER BY doc_id, chunk_id""".stripMargin
  }

  /** Token-budget sequence packing: assign docs to training sequences of at
    * most ~`budget` tokens by cumulative-offset binning. Within each
    * (lang, shard) stream ordered by doc_id, a doc starting at cumulative
    * offset `o` lands in bin `o DIV budget` — the streaming one-pass
    * packing a sequential packer would produce, except a doc straddling a
    * boundary stays in the bin where it starts (so a bin can overflow by at
    * most one doc; `fill_ratio` reports the realized fill). RNG-free and
    * partitioning-invariant: the (lang, shard, doc_id) order fully
    * determines every assignment on any cluster.
    *
    * `shards` bounds window-partition size: a language's stream splits into
    * `shards` deterministic interleaved substreams (`doc_id % shards`), so
    * the per-partition running sum never funnels a whole language through
    * one task — the reason this shape survives a skewed 100 TB corpus.
    */
  def packSequences(docs: DataFrame, budget: Int = 512, shards: Int = 8,
      textCol: String = "text"): DataFrame = {
    require(budget > 0 && shards > 0, "budget and shards must be positive")
    val w = Window.partitionBy("lang", "shard").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs
      .select(col("doc_id"), col("lang"),
        pmod(col("doc_id"), lit(shards.toLong)).as("shard"),
        size(TextOps.fastTokens(col(textCol))).cast("long").as("n_tok"))
      .withColumn("cum", sum("n_tok").over(w))
      .withColumn("seq_id", expr(s"CAST((cum - n_tok) DIV $budget AS BIGINT)"))
      .groupBy("lang", "shard", "seq_id")
      .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("seq_tokens"))
      .withColumn("fill_ratio", col("seq_tokens").cast("double") / budget)
  }

  /** DuckDB oracle for [[packSequences]] — identical window frame and
    * integer bin arithmetic (sums cast back to BIGINT: DuckDB widens
    * `sum(BIGINT)` to HUGEINT, Spark keeps LONG; the shard term spells
    * pmod explicitly because DuckDB's `%` is sign-of-dividend while
    * Spark's `pmod` is always nonnegative — engine-invariant even for
    * negative doc_ids). */
  def packSequencesSqlDuck(budget: Int = 512, shards: Int = 8): String =
    s"""WITH n AS (
       |  SELECT doc_id, lang, ((doc_id % $shards) + $shards) % $shards AS shard,
       |    CAST(len(${TextOps.tokensSqlDuck("text")}) AS BIGINT) AS n_tok
       |  FROM documents),
       | c AS (
       |  SELECT doc_id, lang, shard, n_tok,
       |    CAST(sum(n_tok) OVER (PARTITION BY lang, shard ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
       |  FROM n)
       |SELECT lang, shard, (cum - n_tok) // $budget AS seq_id,
       |  CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(n_tok) AS BIGINT) AS seq_tokens,
       |  CAST(sum(n_tok) AS DOUBLE) / $budget AS fill_ratio
       |FROM c
       |GROUP BY lang, shard, (cum - n_tok) // $budget
       |ORDER BY lang, shard, seq_id""".stripMargin

  /** Corpus-level top-k n-gram counts (default bigrams) — the vocabulary /
    * boilerplate profile used for contamination screens and tokenizer
    * audits. Consecutive-token grams (non-distinct, order-preserving),
    * counted with map-side partial aggregation, then a DISTRIBUTED top-k:
    * `orderBy(...).limit(k)` plans as `TakeOrderedAndProject` — each task
    * keeps its local k, the driver merges task winners — never a global
    * sort of the n-gram vocabulary (which at 100 TB is billions of rows).
    * The rank column is computed on the k survivors only, as a triangular
    * broadcast self-join (rank = 1 + rows strictly ahead, O(k²) pairs on a
    * k-row relation) rather than an unpartitioned row_number window — same
    * values, but no WindowExec-on-one-partition node anywhere in the plan.
    * Ties break on the gram text, so top-k membership and ranks are
    * engine-invariant. */
  def topNgrams(docs: DataFrame, k: Int = 100, textCol: String = "text"): DataFrame = {
    require(k > 0, "k must be positive")
    val topK = docs
      .select(TextOps.fastTokens(col(textCol)).as("toks"))
      .filter(size(col("toks")) >= 2)
      .select(explode(expr(
        "transform(sequence(1, size(toks) - 1), i -> concat(element_at(toks, i), ' ', element_at(toks, i + 1)))"
      )).as("ngram"))
      .groupBy("ngram").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("ngram"))
      .limit(k).persist()
    val ahead = broadcast(topK.select(col("ngram").as("_bn"), col("cnt").as("_bc")))
    topK.join(ahead,
        col("_bc") > col("cnt") ||
          (col("_bc") === col("cnt") && col("_bn") < col("ngram")), "left_outer")
      .groupBy(col("ngram"), col("cnt"))
      .agg((count(col("_bn")) + 1L).as("rank"))
      .select("rank", "ngram", "cnt")
  }

  /** DuckDB oracle for [[topNgrams]] — same grams, counts, and tie-break. */
  def topNgramsSqlDuck(k: Int = 100): String =
    s"""WITH g AS (
       |  SELECT unnest(list_transform(generate_series(1, len(toks) - 1),
       |    i -> toks[i] || ' ' || toks[i + 1])) AS ngram
       |  FROM (SELECT ${TextOps.tokensSqlDuck("text")} AS toks FROM documents)
       |  WHERE len(toks) >= 2),
       | c AS (SELECT ngram, CAST(count(*) AS BIGINT) AS cnt FROM g GROUP BY ngram)
       |SELECT CAST(row_number() OVER (ORDER BY cnt DESC, ngram) AS BIGINT) AS rank,
       |  ngram, cnt
       |FROM c
       |ORDER BY cnt DESC, ngram
       |LIMIT $k""".stripMargin
}
