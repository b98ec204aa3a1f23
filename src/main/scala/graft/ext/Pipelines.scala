package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** End-to-end training-data curation — the composition the north star asks
  * the engine to serve: ingest → quality gate → language gate → near-dup
  * removal → per-document token statistics.
  *
  * Every stage is a narrow transform or one keyed shuffle, so the chain
  * scales the way its parts do; Catalyst fuses the gates into the scan
  * (predicates push into the quality projection) and the only wide ops are
  * the dedup joins.
  */
object Pipelines {

  /** @return curated corpus: kept documents with quality + token columns. */
  def curateCorpus(docs: DataFrame,
      lang: String = "en",
      minTokens: Long = 10,
      maxTokens: Long = 100000,
      minAlphaRatio: Double = 0.5,
      dedupeThreshold: Double = 0.8): DataFrame = {
    // quality + language gates (narrow); quality's computed n_chars is
    // dropped in favor of the table's own column (the oracle does the same)
    val q = TextOps.quality(docs).select("doc_id", "n_tokens", "alpha_ratio", "stop_ratio")
    val gated = docs.join(q, "doc_id")
      .filter(col("lang") === lang &&
        col("n_tokens") >= minTokens && col("n_tokens") <= maxTokens &&
        col("alpha_ratio") >= minAlphaRatio)
    // near-dup removal within the gated set (keep-first by id)
    val kept = Dedup.dropNearDuplicates(
      gated.select("doc_id", "text", "lang", "n_chars", "source"), dedupeThreshold)
    kept.join(gated.select("doc_id", "n_tokens", "alpha_ratio", "stop_ratio"), "doc_id")
      .select("doc_id", "lang", "source", "n_chars", "n_tokens", "alpha_ratio", "stop_ratio")
  }

  /** [[curateCorpus]] with the near-dup stage on LSH candidates
    * ([[Dedup.dropNearDuplicatesLsh]]) instead of char-length blocking —
    * the composition to run at 100 TB, where a hot (lang, size) block's
    * quadratic pair enumeration would dominate the whole pipeline. */
  def curateCorpusLsh(docs: DataFrame,
      lang: String = "en",
      minTokens: Long = 10,
      maxTokens: Long = 100000,
      minAlphaRatio: Double = 0.5,
      dedupeThreshold: Double = 0.8): DataFrame = {
    val q = TextOps.quality(docs).select("doc_id", "n_tokens", "alpha_ratio", "stop_ratio")
    val gated = docs.join(q, "doc_id")
      .filter(col("lang") === lang &&
        col("n_tokens") >= minTokens && col("n_tokens") <= maxTokens &&
        col("alpha_ratio") >= minAlphaRatio)
    val kept = Dedup.dropNearDuplicatesLsh(
      gated.select("doc_id", "text", "lang", "n_chars", "source"), dedupeThreshold)
    kept.join(gated.select("doc_id", "n_tokens", "alpha_ratio", "stop_ratio"), "doc_id")
      .select("doc_id", "lang", "source", "n_chars", "n_tokens", "alpha_ratio", "stop_ratio")
  }

  /** The whole doc→training-example flow as ONE declarative plan:
    * quality/language gates → LSH near-dup removal → sliding-window
    * chunking → token-budget sequence packing. Returns the packed
    * sequence manifest (shard, seq_id, chunk and token counts, fill).
    *
    * Chunks pack in (doc_id, chunk_id) order within `doc_id % shards`
    * streams — like [[Chunking.packSequences]], the shard key keeps every
    * window partition at 1/shards of the corpus, and the whole composition
    * stays RNG-free/partitioning-invariant. Stage economics: gates fuse
    * into the scan, dedup is the bucket-REPRESENTATIVE scheme
    * ([[Dedup.dropNearDuplicatesLshRep]] — candidate volume linear in the
    * corpus at ANY duplicate density; the round-7 10× probe measured the
    * all-pairs form at ~500× on a dense corpus, the reason the pipeline
    * uses representatives), chunking is a narrow explode, packing is one
    * keyed shuffle — nothing in the chain holds more than a (shard)
    * stream's running sum as state. */
  def trainingExamples(docs: DataFrame,
      lang: String = "en",
      minTokens: Long = 10,
      maxTokens: Long = 100000,
      minAlphaRatio: Double = 0.5,
      dedupeThreshold: Double = 0.8,
      chunkTokens: Int = 32,
      stride: Int = 24,
      budget: Int = 256,
      shards: Int = 8): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val q = TextOps.quality(docs).select("doc_id", "n_tokens", "alpha_ratio")
    val gated = docs.join(q, "doc_id")
      .filter(col("lang") === lang &&
        col("n_tokens") >= minTokens && col("n_tokens") <= maxTokens &&
        col("alpha_ratio") >= minAlphaRatio)
    val kept = Dedup.dropNearDuplicatesLshRep(
      gated.select("doc_id", "text", "lang", "n_chars", "source"), dedupeThreshold)
    val chunks = Chunking.chunkDocs(kept, chunkTokens, stride)
      .withColumn("shard", pmod(col("doc_id"), lit(shards.toLong)))
    val w = Window.partitionBy("shard").orderBy("doc_id", "chunk_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    chunks
      .withColumn("cum", sum("n_tokens").over(w))
      .withColumn("seq_id", expr(s"CAST((cum - n_tokens) DIV $budget AS BIGINT)"))
      .groupBy("shard", "seq_id")
      .agg(count(lit(1)).as("n_chunks"), sum("n_tokens").as("seq_tokens"))
      .withColumn("fill_ratio", col("seq_tokens").cast("double") / budget)
  }

  /** DuckDB oracle for [[trainingExamples]] — the gate CTEs of
    * [[curateCorpusLshSqlDuck]], the chunk arithmetic of
    * [[Chunking.chunkDocsSqlDuck]], and the pack arithmetic of
    * [[Chunking.packSequencesSqlDuck]] composed into one statement (CTE
    * names prefixed ck_/pk_ to dodge the dedup fragment's names). */
  def trainingExamplesSqlDuck(lang: String = "en", minTokens: Long = 10,
      maxTokens: Long = 100000, minAlphaRatio: Double = 0.5,
      dedupeThreshold: Double = 0.8, chunkTokens: Int = 32, stride: Int = 24,
      budget: Int = 256, shards: Int = 8): String = {
    val slice = s"list_slice(ck_toks, chunk_id * $stride + 1, chunk_id * $stride + $chunkTokens)"
    s"""WITH q AS (
       |  SELECT doc_id, text, lang, source, n_chars,
       |    CAST(len(${TextOps.tokensSqlDuck("text")}) AS BIGINT) AS n_tokens,
       |    CASE WHEN length(text) > 0
       |      THEN CAST(length(regexp_replace(lower(text), '[^a-z]', '', 'g')) AS DOUBLE) / length(text)
       |      ELSE 0.0 END AS alpha_ratio
       |  FROM documents),
       | gated AS (
       |  SELECT * FROM q
       |  WHERE lang = '$lang' AND n_tokens >= $minTokens AND n_tokens <= $maxTokens
       |    AND alpha_ratio >= $minAlphaRatio),
       | ${Dedup.lshLosersCteDuck("gated", dedupeThreshold, repMode = true)},
       | kept AS (
       |  SELECT g.doc_id, g.text FROM gated g
       |  WHERE NOT EXISTS (SELECT 1 FROM losers l WHERE l.doc_id = g.doc_id)),
       | ck_t AS (
       |  SELECT doc_id, ${TextOps.tokensSqlDuck("text")} AS ck_toks,
       |    len(${TextOps.tokensSqlDuck("text")}) AS n
       |  FROM kept WHERE len(${TextOps.tokensSqlDuck("text")}) > 0),
       | ck_c AS (
       |  SELECT doc_id, ck_toks,
       |    unnest(generate_series(0, least((greatest(n - $chunkTokens, 0) + ${stride - 1}) // $stride, (n - 1) // $stride))) AS chunk_id
       |  FROM ck_t),
       | ck AS (
       |  SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
       |    CAST(len($slice) AS BIGINT) AS n_tokens,
       |    ((doc_id % $shards) + $shards) % $shards AS shard
       |  FROM ck_c),
       | pk AS (
       |  SELECT shard, n_tokens,
       |    CAST(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id, chunk_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
       |  FROM ck)
       |SELECT shard, (cum - n_tokens) // $budget AS seq_id,
       |  CAST(count(*) AS BIGINT) AS n_chunks,
       |  CAST(sum(n_tokens) AS BIGINT) AS seq_tokens,
       |  CAST(sum(n_tokens) AS DOUBLE) / $budget AS fill_ratio
       |FROM pk
       |GROUP BY shard, (cum - n_tokens) // $budget
       |ORDER BY shard, seq_id""".stripMargin
  }

  /** Deterministic train/val/test split by hash threshold — the standard
    * reproducible split: a row's assignment depends only on its key, so it
    * is stable across runs, partitionings, engines, and GROWING corpora (a
    * new document never reassigns an old one — the property RNG splits
    * lack). The key's md5 maps to a position in [0,1) (the
    * [[Sketch]] hash-fraction construction) and the cumulative fraction
    * ranges assign the named splits, first match wins; fractions must sum
    * to ≤ 1, any remainder falls into the LAST split. Pure narrow
    * projection — no shuffle, no state. */
  /** Incremental corpus update — the daily-ingest shape: accept from
    * `incoming` only documents whose canonical fingerprint (lowercased
    * token stream, [[TextOps.fingerprint]]) appears neither in the
    * `existing` corpus nor EARLIER (lower doc_id) within the incoming batch
    * itself. Because acceptance is keyed on content alone, re-running the
    * job over a grown corpus never revokes a previous acceptance — the
    * growth-stability property [[splitByHash]] gives splits, here for
    * ingest.
    *
    * Shape: two content-hash equi-joins (anti against existing fingerprints,
    * keep-first within the batch via a slim (fp, min doc_id) aggregate) —
    * the existing side reduces to its DISTINCT fingerprint relation, which
    * is the only thing a 100 TB corpus contributes to the shuffle. */
  def incrementalIngest(existing: DataFrame, incoming: DataFrame): DataFrame = {
    val exFp = TextOps.fingerprint(existing).select("fp").distinct()
    val inFp = TextOps.fingerprint(incoming)
    val fresh = inFp.join(exFp, Seq("fp"), "left_anti")
    val firsts = fresh.groupBy("fp").agg(min("doc_id").as("doc_id"))
      .select("doc_id")
    incoming.join(firsts, "doc_id")
  }

  /** SCD1 key-based upsert: merge a re-crawl/refresh batch into the
    * standing corpus, LATEST version of each key wins — the complement of
    * [[incrementalIngest]] (which is content-keyed, append-only, and never
    * replaces). Each side is tagged with its batch number; the keeper per
    * key is the row from the highest batch, tie-broken by a content hash so
    * the operator stays deterministic even if a side carries duplicate
    * keys. One shuffle on the key (WindowGroupLimit caps map output at one
    * row per key per task); provenance rides along as `from_batch`.
    */
  def upsertLatest(existing: DataFrame, incoming: DataFrame,
      keyCol: String = "doc_id", hashCols: Seq[String] = Seq("text"))
      : DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tagged = existing.withColumn("from_batch", lit(0L))
      .unionByName(incoming.withColumn("from_batch", lit(1L)))
    val tie = md5(concat_ws("", hashCols.map(col): _*))
    val w = Window.partitionBy(keyCol)
      .orderBy(col("from_batch").desc, tie.asc)
    tagged.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1).drop("_rn")
  }

  /** Oracle twin of [[upsertLatest]] on the driver fixture: `incoming` =
    * the docs with doc_id ≡ 0 (mod 3) re-crawled with `' v2'` appended —
    * every third doc must surface as its v2 row, batch 1. */
  def upsertLatestSqlDuck(cols: String): String =
    s"""WITH tagged AS (
       |  SELECT doc_id, text, lang, source, n_chars, CAST(0 AS BIGINT) AS from_batch
       |    FROM documents
       |  UNION ALL
       |  SELECT doc_id, text || ' v2' AS text, lang, source,
       |    n_chars + 3 AS n_chars, CAST(1 AS BIGINT) AS from_batch
       |    FROM documents WHERE doc_id % 3 = 0),
       | ranked AS (
       |  SELECT *, row_number() OVER (PARTITION BY doc_id
       |      ORDER BY from_batch DESC, md5(text) ASC) AS rn
       |  FROM tagged)
       |SELECT $cols, from_batch FROM ranked WHERE rn = 1
       |ORDER BY doc_id""".stripMargin

  /** Oracle twin: `existing` = documents with source `exSource`, `incoming`
    * = the rest, projected to `cols`. */
  def incrementalIngestSqlDuck(exSource: String, cols: String): String =
    s"""WITH fp AS (SELECT doc_id, source,
       |    md5(array_to_string(${TextOps.tokensSqlDuck("text")}, ' ')) AS fp
       |  FROM documents),
       | ex AS (SELECT DISTINCT fp FROM fp WHERE source = '$exSource'),
       | fresh AS (SELECT f.* FROM fp f ANTI JOIN ex USING (fp)
       |           WHERE f.source <> '$exSource'),
       | firsts AS (SELECT min(doc_id) AS doc_id FROM fresh GROUP BY fp)
       |SELECT $cols FROM documents JOIN firsts USING (doc_id)
       |ORDER BY doc_id""".stripMargin

  /** Curriculum length-bucketing: assign every document a quartile bucket
    * (1..4) of its token count, with the quartile EDGES taken from the
    * deterministic hash-min-k sample sketch ([[Sketch.sampleQuantiles]]) —
    * never a global sort or an exact percentile buffer. The three edges
    * ride back as a broadcast 1-row cross join (the adjudicated shape), so
    * binning is a single codegen'd CASE over the scan. Curriculum
    * schedules ("short docs first, long docs last") consume the bucket
    * column directly.
    *
    * Sample error moves the EDGES slightly (±~1/√k quantile error), never
    * the determinism: the same corpus always buckets identically, and the
    * oracle recomputes the identical sample, edges, and CASE. */
  def lengthQuartiles(docs: DataFrame, k: Int = 256): DataFrame = {
    val withLen = docs.select(col("doc_id"),
      TextOps.tokenCount("text").as("n_tokens"))
    val edges = Sketch.sampleQuantiles(withLen, "n_tokens", col("doc_id"), k,
      Seq(0.25, 0.5, 0.75))
      .select(col("q25"), col("q50"), col("q75"))
    withLen.crossJoin(broadcast(edges))
      .select(col("doc_id"), col("n_tokens"),
        when(col("n_tokens") <= col("q25"), 1L)
          .when(col("n_tokens") <= col("q50"), 2L)
          .when(col("n_tokens") <= col("q75"), 3L)
          .otherwise(4L).as("bucket"))
  }

  def lengthQuartilesSqlDuck(k: Int = 256): String =
    s"""WITH wl AS (SELECT doc_id,
       |    CAST(len(${TextOps.tokensSqlDuck("text")}) AS BIGINT) AS n_tokens
       |  FROM documents),
       | s AS (SELECT CAST(n_tokens AS DOUBLE) AS _v FROM wl
       |       ORDER BY md5(CAST(doc_id AS VARCHAR)), CAST(n_tokens AS DOUBLE)
       |       LIMIT $k),
       | e AS (SELECT quantile_cont(_v, 0.25) AS q25, quantile_cont(_v, 0.5) AS q50,
       |              quantile_cont(_v, 0.75) AS q75 FROM s)
       |SELECT doc_id, n_tokens,
       |  CAST(CASE WHEN n_tokens <= q25 THEN 1
       |       WHEN n_tokens <= q50 THEN 2
       |       WHEN n_tokens <= q75 THEN 3
       |       ELSE 4 END AS BIGINT) AS bucket
       |FROM wl CROSS JOIN e ORDER BY doc_id""".stripMargin

  /** Per-source document cap — the web-corpus curation rule "keep at most
    * n docs per domain/source, best first" that stops any single crawl
    * domain from dominating the training mixture. Ranking key here is
    * (n_chars DESC, doc_id) as the stand-in for any deterministic quality
    * key; ties can't happen (doc_id is unique), so the kept set is exact.
    *
    * Scale shape: rank ≤ n over a partitioned window plans as
    * WindowGroupLimit (Spark 3.5+) — each map task pre-prunes to its local
    * top-n per source BEFORE the exchange, so the shuffle carries
    * O(sources × n) rows per task, not the corpus. */
  def sourceCap(docs: DataFrame, n: Int = 50): DataFrame = {
    require(n > 0, "n must be positive")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy(col("n_chars").desc, col("doc_id"))
    docs.select("doc_id", "source", "n_chars")
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= n)
  }

  def sourceCapSqlDuck(n: Int = 50): String =
    s"""WITH r AS (SELECT doc_id, source, n_chars,
       |    CAST(row_number() OVER (PARTITION BY source
       |      ORDER BY n_chars DESC, doc_id) AS BIGINT) AS rank
       |  FROM documents)
       |SELECT doc_id, source, n_chars, rank FROM r
       |WHERE rank <= $n ORDER BY source, rank""".stripMargin

  /** Deterministic global training-order permutation: every doc gets a
    * dense 1-based position in md5(doc_id) order — the "shuffle the corpus
    * once, reproducibly" step before sequence packing / sharding. Seeded
    * hash order means the permutation is a pure function of the ID SET
    * (stable across reruns, engines, partitionings — the property
    * rand()-based shuffles lack), and the position comes from the
    * deterministic range-bucket global rank (IngestOps.withGlobalPos), so
    * at 100 TB this is one bucket-count pass plus one bucketed
    * row_number — NEVER a single-partition global sort. */
  def shuffleOrder(docs: DataFrame): DataFrame = {
    val key = md5(col("doc_id").cast("string"))
    // (r17) a persist of the id column was tried and measured slightly
    // NEGATIVE (0.38→0.57 s): the machinery's extra passes are key-pruned
    // single-column scans, cheaper than the cache materialization.
    graft.etl.IngestOps.withGlobalPos(docs.select(col("doc_id")), key,
        "shuffle_pos", order = Seq(key, col("doc_id")))
      .select(col("doc_id"), col("shuffle_pos"))
  }

  def shuffleOrderSqlDuck: String =
    """SELECT doc_id,
      |  CAST(row_number() OVER (ORDER BY md5(CAST(doc_id AS VARCHAR)),
      |    doc_id) AS BIGINT) AS shuffle_pos
      |FROM documents ORDER BY doc_id""".stripMargin

  /** [[incrementalIngest]]'s near-duplicate form — what production daily
    * ingest actually runs: an incoming document is rejected when it is
    * `threshold`-Jaccard-similar (distinct unigram sets, LSH band-bucket
    * candidates, exact re-score) to ANY existing document, and the
    * survivors then go through keep-first near-dup removal within the
    * batch ([[Dedup.dropNearDuplicatesLsh]]).
    *
    * Shape (r12, after stage-level adjudication of the r11 6.4 s idle
    * cost — a stage-level profile, NOTES.md, named the two salted joins +
    * two rescore joins as the spend): ONE signature chain over the
    * side-TAGGED union (signatures are per-document, so bucketing the union
    * equals bucketing each side),
    * ONE salted within-bucket pair join that prunes existing×existing
    * pairs IN the join condition (at production scale the existing corpus
    * dwarfs the batch, so (E,E) candidates would dominate — they must die
    * at the join, not in a later filter), and ONE exact-Jaccard rescore
    * whose similar-pairs output (slim, similarity-bounded) is cached and
    * split by side-tag into the two loser sets. Still never an all-pairs
    * form: candidate volume is bounded by band collisions, hot buckets are
    * salted across reducers. Cost trade vs the r11 two-chain form: batch
    * pairs touching a cross-loser are rescored (bounded by sim density)
    * in exchange for one fewer aggregation, join, and rescore stage —
    * measured 6.35 s → ~2 s idle at sf0.1. */
  def incrementalIngestNearDup(existing: DataFrame, incoming: DataFrame,
      threshold: Double = 0.8): DataFrame = {
    val salts = Dedup.DefaultSaltBuckets
    val tagged = existing.select(col("doc_id"), lit(true).as("_ex"), col("text"))
      .unionByName(incoming.select(col("doc_id"), lit(false).as("_ex"), col("text")))
    val toks = graft.etl.CacheRegistry.persist(tagged.select(col("doc_id"), col("_ex"),
      array_sort(array_distinct(TextOps.fastTokens(col("text")))).as("toks")))
    val b = graft.etl.CacheRegistry.persist(Dedup.bandBuckets(
      Dedup.minhashFromTokens(
        toks.select(col("doc_id"), col("_ex"), explode(col("toks")).as("tok")),
        carry = Seq("_ex")),
      carry = Seq("_ex")))
    val x = b.withColumn("_salt", pmod(hash(col("doc_id")), lit(salts)))
    val y = b.withColumn("_salt", explode(array((0 until salts).map(lit(_)): _*)))
    // NO pair-level distinct: a pair can collide in at most NumBands (=2)
    // bands, so duplicate rescores are bounded ×2 (measured 1.24× on the
    // sf0.1 fixture) — cheaper than shuffling the multi-million-row pair
    // relation just to dedupe it (the loser sets are distinct'd below, so
    // output is unaffected)
    // pair once per unordered pair: strict id order, EXCEPT the equal-id
    // cross pair (a batch doc re-ingested after acceptance carries the SAME
    // id on both sides — growth-stability requires it to rescore and lose),
    // admitted exactly once with the existing side on x
    val pairs = x.as("x").join(y.as("y"),
        col("x.bi") === col("y.bi") && col("x.band") === col("y.band") &&
          col("x._salt") === col("y._salt") &&
          (col("x.doc_id") < col("y.doc_id") ||
            (col("x.doc_id") === col("y.doc_id") &&
              col("x._ex") && !col("y._ex"))) &&
          !(col("x._ex") && col("y._ex")))
      .select(col("x.doc_id").as("doc_a"), col("x._ex").as("ex_a"),
        col("y.doc_id").as("doc_b"), col("y._ex").as("ex_b"))
    // size-compatibility gate BEFORE the linear-merge intersect: Jaccard ≥ θ
    // forces min(|A|,|B|) ≥ θ·max(|A|,|B|) (J ≤ min/max), and && short-
    // circuits in codegen, so size-incompatible pairs never pay the merge
    val sizeOk = least(col("na"), col("nb")).cast("double") >=
      lit(threshold) * greatest(col("na"), col("nb")).cast("double")
    val simDirect = pairs
      .join(toks.select(col("doc_id").as("doc_a"),
        col("toks").as("ta"), size(col("toks")).as("na")), "doc_a")
      .join(toks.select(col("doc_id").as("doc_b"),
        col("toks").as("tb"), size(col("toks")).as("nb")), "doc_b")
      .filter(sizeOk && Dedup.jaccardFromIntersect(
        Dedup.intersectCount(col("ta"), col("tb")), col("na"), col("nb")) >= threshold)
      .select("doc_a", "ex_a", "doc_b", "ex_b")
    // (r18) the scored pair relation is STAGED, not just persisted: it is
    // the pipeline's dominant cost (profiled at sf0.1, OPTIMIZATION_r18.md:
    // 5.5 M candidate pairs → 2.4 M θ-similar pairs from 5 000 docs;
    // rescore + loser passes ≈ the whole row) and a pure deterministic
    // function of the (toks, buckets) inputs — exact integer/boolean columns, so the
    // parquet round-trip is row-exact. Every action used to re-run the
    // salted join + rescore from the caches; now the first action per JVM
    // materializes it (cost on record as `stage_prime`) and later actions
    // scan it — the same fan-out contract as the dedup triple and the
    // funnel stage. SPARK_GRAFT_NO_STAGE=1 A/B-reverts to the persist.
    // threshold is in the stage tag: the memo key is (tag, input plans)
    // and the inputs don't carry it — two thresholds must never share a
    // stage (the salt count is a module constant, same every call)
    val sim = graft.etl.StageStore
      .materializeBy(s"incr_neardup_sim_$threshold", Seq(toks, b))(simDirect)
      .getOrElse(graft.etl.CacheRegistry.persist(simDirect))
    // cross stage: an incoming doc similar to ANY existing doc loses.
    // Loser id sets are DISTINCT and ⊆ the incoming batch — the increment
    // is the small side of this pipeline by contract (daily batch vs
    // standing corpus), so they broadcast to the anti-joins instead of
    // shuffling the multi-million-row sim relation by id. The hints sit ON
    // the join operands (a hint under the final union is not part of a
    // join relation — Catalyst eliminates it with a HintErrorLogger
    // warning and the anti-join falls back to a shuffle).
    val crossLosers = sim.filter(col("ex_a") =!= col("ex_b"))
      .select(when(col("ex_a"), col("doc_b")).otherwise(col("doc_a")).as("doc_id"))
      .distinct()
    // batch keep-first among the cross survivors: same pairs relation,
    // restricted to incoming×incoming with neither end a cross-loser
    val batchLosers = sim.filter(!col("ex_a") && !col("ex_b"))
      .join(broadcast(crossLosers.select(col("doc_id").as("doc_a"))), Seq("doc_a"), "left_anti")
      .join(broadcast(crossLosers.select(col("doc_id").as("doc_b"))), Seq("doc_b"), "left_anti")
      .select(col("doc_b").as("doc_id")).distinct()
    incoming.join(broadcast(crossLosers.unionByName(batchLosers)),
      Seq("doc_id"), "left_anti")
  }

  /** Oracle twin over the fixture split (`existing` = source `exSource`).
    * One shared signature/bucket chain serves both stages — signatures are
    * per-document, so filtering the all-docs buckets to a subset equals
    * recomputing them on that subset. */
  def incrementalIngestNearDupSqlDuck(exSource: String, threshold: Double,
      cols: String): String =
    s"""WITH ${Dedup.toksCteDuck("documents")}, ${Dedup.sigsCteDuck},
       | ${Dedup.bucketsCteDuck},
       | tl AS (SELECT doc_id, list_distinct(${TextOps.tokensSqlDuck("text")}) AS toks
       |        FROM documents),
       | crosscand AS (SELECT DISTINCT i.doc_id AS in_id, e.doc_id AS ex_id
       |   FROM buckets i JOIN buckets e ON i.bi = e.bi AND i.band = e.band
       |   JOIN documents di ON di.doc_id = i.doc_id
       |   JOIN documents de ON de.doc_id = e.doc_id
       |   WHERE di.source <> '$exSource' AND de.source = '$exSource'),
       | crosslosers AS (SELECT DISTINCT c.in_id AS doc_id FROM crosscand c
       |   JOIN tl a ON a.doc_id = c.ex_id JOIN tl b ON b.doc_id = c.in_id
       |   WHERE ${Dedup.jaccardExprDuck("a.toks", "b.toks")} >= $threshold),
       | s1 AS (SELECT d.* FROM documents d WHERE d.source <> '$exSource'
       |        AND NOT EXISTS (SELECT 1 FROM crosslosers cl WHERE cl.doc_id = d.doc_id)),
       | batchprs AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
       |   FROM buckets x JOIN buckets y
       |     ON x.bi = y.bi AND x.band = y.band AND x.doc_id < y.doc_id
       |   JOIN s1 sa ON sa.doc_id = x.doc_id JOIN s1 sb ON sb.doc_id = y.doc_id),
       | batchlosers AS (SELECT DISTINCT p.doc_b AS doc_id FROM batchprs p
       |   JOIN tl a ON a.doc_id = p.doc_a JOIN tl b ON b.doc_id = p.doc_b
       |   WHERE ${Dedup.jaccardExprDuck("a.toks", "b.toks")} >= $threshold)
       |SELECT $cols FROM s1
       |WHERE doc_id NOT IN (SELECT doc_id FROM batchlosers)
       |ORDER BY doc_id""".stripMargin

  def splitByHash(df: DataFrame, keyCol: String,
      splits: Seq[(String, Double)]): DataFrame = {
    require(splits.nonEmpty && splits.forall(_._2 > 0), "fractions must be positive")
    val total = splits.map(_._2).sum
    require(total <= 1.0 + 1e-9, s"fractions sum to $total > 1")
    val frac = conv(substring(md5(col(keyCol).cast("string")), 1, 8), 16, 10)
      .cast("double") / lit(4294967296.0)
    val bounds = splits.scanLeft(0.0)(_ + _._2).tail
    val assign = splits.init.zip(bounds.init).foldRight(
      lit(splits.last._1)) { case (((name, _), upper), onFalse) =>
      when(frac < upper, name).otherwise(onFalse)
    }
    df.withColumn("split", assign)
  }

  /** Curriculum sharding (sequence-difficulty warmup): rank every scoreable
    * document by its [[TextOps.surprisal]] difficulty under the corpus's
    * own bigram model and cut the ranking into `nShards` contiguous shards
    * — shard 1 is the easiest (most predictable) slice the schedule trains
    * on first. Returns the shard manifest (shard, n_docs, n_bigrams_total,
    * min_mip, max_mip), `nShards` rows.
    *
    * Scale shape: difficulty is the existing surprisal chain; the ranking
    * is [[graft.etl.IngestOps.withGlobalPos]] (range buckets + ≤numParts
    * driver scalars — NO single-partition window) and the cut is the
    * closed-form [[graft.etl.IngestOps.ntileFromRank]]. Ordering compares
    * mean_inv_prob doubles that both engines derive from the same exact
    * BIGINT pair via two correctly-rounded divisions (bit-identical), with
    * doc_id breaking ties. Docs with < 2 tokens have no bigrams and are
    * not scheduled (both engines). */
  def curriculumShards(docs: DataFrame, nShards: Int = 4): DataFrame = {
    require(nShards >= 2 && nShards <= 100, s"nShards out of range: $nShards")
    // StageStore, NOT CacheRegistry (r16): the scored relation feeds a
    // construction-time count(), the rank-bucket scalar pulls AND the
    // final plan — a memory cache here embeds an InMemoryRelation whose
    // AQE/cache-wrapper nodes print differently depending on
    // materialization state at plan-capture time (THE last
    // nondeterministic bench fingerprint, r14-r15). A staged parquet scan
    // is the same fan-out with a plan that is a pure function of the code
    // (graft_stage_ paths normalize); cache only as the no-tmpfs fallback.
    val surp = TextOps.surprisal(docs)
    val scored = graft.etl.StageStore.materializeBy("curriculum_scored",
      Seq(surp))(surp).getOrElse(graft.etl.CacheRegistry.persist(surp))
    val n = scored.count()
    graft.etl.IngestOps.withGlobalPos(scored, col("mean_inv_prob"), "_rk",
        order = Seq(col("mean_inv_prob"), col("doc_id")))
      .withColumn("shard", graft.etl.IngestOps.ntileFromRank(col("_rk"), n, nShards))
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_bigrams")).as("n_bigrams_total"),
        min(col("mean_inv_prob")).as("min_mip"), max(col("mean_inv_prob")).as("max_mip"))
      .orderBy("shard")
  }

  /** Oracle twin of [[curriculumShards]]: the shared surprisal CTE chain,
    * a plain ntile window (the semantics the closed form replaces), the
    * same rollup. */
  def curriculumShardsSqlDuck(nShards: Int = 4): String =
    s"""WITH${TextOps.surprisalCteDuck},
       | sc AS (SELECT doc_id, n_bigrams,
       |   CAST(sq AS DOUBLE) / CAST(n_bigrams AS DOUBLE) / 1000000.0 AS mip
       |   FROM agg),
       | sh AS (SELECT doc_id, n_bigrams, mip,
       |   CAST(ntile($nShards) OVER (ORDER BY mip, doc_id) AS BIGINT) AS shard
       |   FROM sc)
       |SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(n_bigrams) AS BIGINT) AS n_bigrams_total,
       |  min(mip) AS min_mip, max(mip) AS max_mip
       |FROM sh GROUP BY shard ORDER BY shard""".stripMargin

  /** Stratified k-fold cross-validation assignment + balance report: every
    * doc gets fold = md5-prefix(doc_id) mod k (the same deterministic
    * seedless hash family as [[splitByHash]] — stable across runs, engines,
    * and partitionings), and the output is the (fold, source) balance table
    * a CV harness checks before training: n_docs and total chars per cell.
    * Output is k·|sources| rows — bounded; the assignment itself is a
    * narrow projection, the report one map-side-combinable aggregate. */
  def kfoldReport(docs: DataFrame, k: Int = 5): DataFrame = {
    require(k >= 2 && k <= 1000, s"k must be in [2,1000], got $k")
    val fold = pmod(
      conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long"), lit(k.toLong))
    docs.select(fold.as("fold"), col("source"), col("n_chars"))
      .groupBy("fold", "source")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("n_chars_total"))
      .orderBy("fold", "source")
  }

  /** Oracle twin of [[kfoldReport]] — identical md5-prefix mod-k hash. */
  def kfoldReportSqlDuck(k: Int = 5): String =
    s"""SELECT fold, source, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(n_chars) AS BIGINT) AS n_chars_total
       |FROM (SELECT CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))::UBIGINT
       |    % $k AS BIGINT) AS fold, source, n_chars
       |  FROM documents)
       |GROUP BY fold, source
       |ORDER BY fold, source""".stripMargin

  /** The contamination [[kfoldReport]]'s independent-hash folds do NOT
    * prevent, measured: LSH co-bucket pairs whose members land in
    * DIFFERENT folds (each such pair puts a near-copy of a training doc in
    * a validation fold). One row: (n_copairs, n_cross_fold, leak_micro).
    * The expected leak share for k independent folds is (k−1)/k — this row
    * is the empirical witness for why [[splitLeakageSafe]] assigns by
    * CLUSTER (where the cross-split count is zero by construction).
    *
    * 100 TB shape — NO pair materialization: a bucket with m members and
    * per-fold counts m_f contributes m·(m−1)/2 co-pairs of which
    * (m² − Σm_f²)/2 cross folds, so the whole statistic is two bucket-keyed
    * aggregates of closed-form integer arithmetic. (The distinct-pair
    * variant via [[Dedup.lshCandidatePairs]] is quadratic in duplicate
    * density — its 10× probe measured 84× on the dup-dense replica corpus,
    * which is what forced this form; co-pairs count a pair once PER SHARED
    * BUCKET, the multiplicity the leak RATE is insensitive to because fold
    * assignment is independent of bucket structure.) */
  def kfoldLeakage(docs: DataFrame, k: Int = 5): DataFrame = {
    require(k >= 2 && k <= 1000, s"k must be in [2,1000], got $k")
    val fold = pmod(
      conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long"), lit(k.toLong))
    val folds = docs.select(col("doc_id"), fold.as("fold"))
    val buckets = Dedup.bandBuckets(Dedup.minhashSignatures(docs))
    val perBucketFold = buckets.join(folds, "doc_id")
      .groupBy("bi", "band", "fold").agg(count(lit(1)).as("mf"))
    val perBucket = perBucketFold.groupBy("bi", "band")
      .agg(sum(col("mf")).as("m"), sum(col("mf") * col("mf")).as("sq"))
    perBucket
      .agg(sum(expr("m * (m - 1) DIV 2")).as("n_copairs"),
        sum(expr("(m * m - sq) DIV 2")).as("n_cross_fold"))
      .select(col("n_copairs"), col("n_cross_fold"),
        expr("n_cross_fold * 1000000 DIV n_copairs").as("leak_micro"))
  }

  /** Oracle twin of [[kfoldLeakage]] — the shared band-bucket CTEs + the
    * same md5 mod-k fold hash and closed-form bucket arithmetic. */
  def kfoldLeakageSqlDuck(k: Int = 5): String =
    s"""WITH ${Dedup.toksCteDuck}, ${Dedup.sigsCteDuck},
       | ${Dedup.bucketsCteDuck},
       | f AS (SELECT doc_id,
       |   CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))::UBIGINT
       |     % $k AS BIGINT) AS fold FROM documents),
       | bf AS (SELECT bi, band, fold, CAST(count(*) AS BIGINT) AS mf
       |   FROM buckets JOIN f USING (doc_id) GROUP BY bi, band, fold),
       | pb AS (SELECT bi, band, CAST(sum(mf) AS BIGINT) AS m,
       |     CAST(sum(mf * mf) AS BIGINT) AS sq FROM bf GROUP BY bi, band)
       |SELECT CAST(sum(m * (m - 1) // 2) AS BIGINT) AS n_copairs,
       |  CAST(sum((m * m - sq) // 2) AS BIGINT) AS n_cross_fold,
       |  (CAST(sum((m * m - sq) // 2) AS BIGINT) * 1000000)
       |    // CAST(sum(m * (m - 1) // 2) AS BIGINT) AS leak_micro
       |FROM pb""".stripMargin

  /** Leakage-safe split: near-duplicate documents MUST land in the same
    * split — hashing each doc independently leaks near-copies of training
    * rows into eval, the classic train/test contamination. Assign by the
    * near-dup CLUSTER id (connected components over the LSH band buckets,
    * [[Dedup.clusterByBuckets]] — every doc gets a label, singletons label
    * themselves) and hash THAT through the same deterministic md5
    * assignment as [[splitByHash]]. Cost on top of clustering: one keyed
    * join; the split itself stays a narrow projection. */
  def splitLeakageSafe(docs: DataFrame,
      splits: Seq[(String, Double)]): DataFrame = {
    val clusters = Dedup.clusterByBuckets(docs,
      Dedup.bandBuckets(Dedup.minhashSignatures(docs)))
    val labeled = docs.select("doc_id", "source").join(clusters, "doc_id")
    splitByHash(labeled, "cluster_id", splits)
      .select("doc_id", "source", "cluster_id", "split")
  }

  /** DuckDB oracle for [[splitLeakageSafe]]: the recursive-CTE component
    * computation ([[Dedup.clustersCteDuck]]) joined to the same md5 CASE
    * assignment over cluster_id. */
  def splitLeakageSafeSqlDuck(splits: Seq[(String, Double)]): String = {
    val bounds = splits.scanLeft(0.0)(_ + _._2).tail
    val arms = splits.init.zip(bounds.init).map { case ((name, _), upper) =>
      s"WHEN frac < $upper THEN '$name'"
    }.mkString(" ")
    s"""${Dedup.clustersCteDuck}
       |SELECT d.doc_id, d.source, c2.cluster_id,
       |  CASE $arms ELSE '${splits.last._1}' END AS split
       |FROM (SELECT doc_id, source FROM documents) d
       |JOIN (SELECT doc_id, cluster_id,
       |    ('0x' || substring(md5(CAST(cluster_id AS VARCHAR)), 1, 8))::UBIGINT
       |      / 4294967296.0 AS frac
       |  FROM cl) c2 ON d.doc_id = c2.doc_id
       |ORDER BY d.doc_id""".stripMargin
  }

  /** DuckDB oracle for [[splitByHash]] — the cumulative bounds are computed
    * by the SAME double scanLeft and embedded at full round-trip precision
    * (0.8 + 0.1 is not 0.9 in binary; a hand-written 0.9 literal would be a
    * different threshold). */
  def splitByHashSqlDuck(keyCol: String, splits: Seq[(String, Double)],
      table: String, cols: String): String = {
    val bounds = splits.scanLeft(0.0)(_ + _._2).tail
    val arms = splits.init.zip(bounds.init).map { case ((name, _), upper) =>
      s"WHEN frac < $upper THEN '$name'"
    }.mkString(" ")
    s"""SELECT $cols, CASE $arms ELSE '${splits.last._1}' END AS split
       |FROM (SELECT $cols,
       |  ('0x' || substring(md5(CAST($keyCol AS VARCHAR)), 1, 8))::UBIGINT / 4294967296.0 AS frac
       |  FROM $table)
       |ORDER BY $keyCol""".stripMargin
  }

  /** Deterministic stratified sampling: up to `n` rows per stratum, chosen
    * by md5-hash order of the key — reproducible across runs, partitionings,
    * and engines (no RNG in the plan), the standard trick for stable
    * train/eval splits at scale. One shuffle keyed by the stratum (and
    * WindowGroupLimit bounds each map task to n rows per stratum). */
  def stratifiedSample(df: DataFrame, stratumCol: String, keyCol: String,
      n: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(stratumCol)
      .orderBy(md5(col(keyCol).cast("string")), col(keyCol))
    df.withColumn("_rn", row_number().over(w)).filter(col("_rn") <= n).drop("_rn")
  }

  /** Weighted corpus mixing (domain balancing): downsample each group so
    * the surviving mix matches the given per-group weights with maximum
    * retention — target_g = floor(scale · w_g) with scale = min_g(n_g/w_g),
    * so the most-constraining group is kept whole. Selection inside a group
    * is the same hash-ordered deterministic rank as [[stratifiedSample]]
    * (no RNG, partitioning-invariant, identical in the oracle). Shuffles:
    * one tiny groupBy for counts (broadcast back), one rank shuffle keyed
    * by the group — the target count rides in as a broadcast column. */
  def mixSources(df: DataFrame, groupCol: String, keyCol: String,
      weight: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counts = df.groupBy(groupCol).agg(count(lit(1)).as("_n"))
      .withColumn("_w", weight)
    val scale = counts.agg(min(col("_n") / col("_w")).as("_scale"))
    val tgt = counts.crossJoin(broadcast(scale))
      .select(col(groupCol), floor(col("_scale") * col("_w")).cast("long").as("_tgt"))
    val w = Window.partitionBy(groupCol)
      .orderBy(md5(col(keyCol).cast("string")), col(keyCol))
    df.withColumn("sample_rank", row_number().over(w).cast("long"))
      .join(broadcast(tgt), Seq(groupCol))
      .where(col("sample_rank") <= col("_tgt"))
      .drop("_tgt")
  }

  /** Temperature-scaled source weighting — the multilingual-LM mixing rule
    * (T5 / XLM-R style): a source's sampling share is proportional to
    * n_tokens^α, α = 1/2, smoothing corpus-size imbalance so small sources
    * are up-weighted without letting any source dominate. [[mixSources]]
    * consumes GIVEN weights; this operator DERIVES them from the corpus.
    *
    * α is pinned at 1/2 because sqrt is an IEEE correctly-rounded
    * primitive on both engines, while general pow() differs at 1 ulp
    * between Java and DuckDB libm (the HLL estimator lesson, NOTES round
    * 12). Cross-engine exactness by quantize-then-sum: per source
    * w = floor(sqrt(n_tokens) · 1e6) BIGINT micro-units; the normalizer is
    * an exact integer sum (order-independent, unlike a double Σsqrt);
    * shares are one double division each; the per-source token quota is
    * (budget · w) DIV total in exact integers (inside BIGINT while
    * budget · sqrt(n_tokens) · 1e6 < 2^63 — petatoken corpora at default
    * budget). Shape: one |sources|-row rollup + a 1-row total crossJoined
    * back (the adjudicated broadcast-scalar shape). */
  def temperatureMix(docs: DataFrame, budget: Long = 100000L): DataFrame = {
    require(budget > 0, s"budget must be > 0, got $budget")
    val per = docs.filter(col("text").isNotNull)
      .groupBy("source").agg(
        count(lit(1)).as("n_docs"),
        sum(graft.ext.TextOps.tokenCount("text")).as("n_tokens"))
      .withColumn("w_micro",
        expr("CAST(floor(sqrt(CAST(n_tokens AS DOUBLE)) * 1000000.0) AS BIGINT)"))
    val tot = per.agg(sum("w_micro").as("_tw"), sum("n_tokens").as("_tn"))
    per.crossJoin(broadcast(tot))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        (col("n_tokens").cast("double") / col("_tn").cast("double")).as("raw_share"),
        col("w_micro"),
        (col("w_micro").cast("double") / col("_tw").cast("double")).as("temp_share"),
        // nullif: a degenerate all-empty-text corpus has total weight 0 —
        // Spark's non-ANSI DIV 0 yields null but DuckDB // 0 ERRORS, so
        // both engines must see NULL via the same guard
        expr(s"(CAST($budget AS BIGINT) * w_micro) DIV nullif(_tw, 0)")
          .as("token_quota"))
  }

  /** Oracle for [[temperatureMix]] — same integer model, independent SQL. */
  def temperatureMixSqlDuck(budget: Long = 100000L): String =
    s"""WITH per AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       |    CAST(sum(len(${graft.ext.TextOps.tokensSqlDuck("text")})) AS BIGINT) AS n_tokens
       |  FROM documents WHERE text IS NOT NULL GROUP BY source),
       | w AS (SELECT *, CAST(floor(sqrt(CAST(n_tokens AS DOUBLE)) * 1000000.0) AS BIGINT)
       |    AS w_micro FROM per),
       | tot AS (SELECT CAST(sum(w_micro) AS BIGINT) AS tw,
       |    CAST(sum(n_tokens) AS BIGINT) AS tn FROM w)
       |SELECT source, n_docs, n_tokens,
       |  CAST(n_tokens AS DOUBLE) / CAST(tn AS DOUBLE) AS raw_share,
       |  w_micro,
       |  CAST(w_micro AS DOUBLE) / CAST(tw AS DOUBLE) AS temp_share,
       |  ($budget * w_micro) // nullif(tw, 0) AS token_quota
       |FROM w CROSS JOIN tot ORDER BY source""".stripMargin

  /** Token-budget corpus mixing: from each group keep documents — in the
    * deterministic md5-hash order of [[stratifiedSample]] — until the
    * group's TOKEN budget is spent. The pretraining mixing unit is tokens,
    * not documents ("500M tokens of code, 2B of web"): doc-count targets
    * ([[mixSources]]) over-sample domains with short documents. A doc is
    * kept iff its cumulative token offset within the group's hash-ordered
    * stream STARTS before the budget (the [[Chunking.packSequences]]
    * boundary rule: the budget may overflow by at most one document, never
    * silently undershoot). RNG-free, partitioning-invariant; one window
    * shuffle keyed by the group. */
  def mixByTokenBudget(df: DataFrame, groupCol: String, keyCol: String,
      budgetTokens: Long, textCol: String = "text"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(budgetTokens > 0, "budgetTokens must be positive")
    val w = Window.partitionBy(groupCol)
      .orderBy(md5(col(keyCol).cast("string")), col(keyCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn("n_tok", size(TextOps.fastTokens(col(textCol))).cast("long"))
      .withColumn("cum_tok", sum("n_tok").over(w))
      .filter(col("cum_tok") - col("n_tok") < budgetTokens)
      .drop("cum_tok")
  }

  /** [[mixByTokenBudget]] without the per-group total order — the 100 TB
    * formulation. The group window above funnels EVERY document of a group
    * through one reducer; at scale a hot domain is a straight bottleneck.
    * But the hash order is lexicographic, and the first two hex digits of
    * the hash split each group into 256 buckets whose numeric order IS the
    * hash order — so the budget cut happens in two cheap phases:
    *
    *   1. per (group, bucket) token sums — map-side partial agg, then a
    *      window over ≤256 ROWS per group (bucket summaries, not docs) to
    *      get each bucket's cumulative start offset;
    *   2. buckets wholly inside the budget keep all docs, buckets starting
    *      past it drop all docs — both decided by a broadcast join, no doc
    *      window at all. Only the ONE straddling bucket per group (≈1/256
    *      of that group) runs the exact intra-bucket window.
    *
    * Output is IDENTICAL to [[mixByTokenBudget]] (PipelinesSpec proves
    * equivalence), which is why both share the oracle. */
  def mixByTokenBudgetScalable(df: DataFrame, groupCol: String, keyCol: String,
      budgetTokens: Long, textCol: String = "text"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(budgetTokens > 0, "budgetTokens must be positive")
    val base = df
      .withColumn("n_tok", size(TextOps.fastTokens(col(textCol))).cast("long"))
      .withColumn("_h", md5(col(keyCol).cast("string")))
      .withColumn("_b", conv(substring(col("_h"), 1, 2), 16, 10).cast("int"))
    // phase 1: bucket summaries (≤256 per group) and their start offsets
    val wb = Window.partitionBy(groupCol).orderBy("_b")
      .rowsBetween(Window.unboundedPreceding, -1)
    val pref = base.groupBy(col(groupCol), col("_b"))
      .agg(sum("n_tok").as("_bt"))
      .withColumn("_pre", coalesce(sum("_bt").over(wb), lit(0L)))
    // phase 2: whole-bucket verdicts by broadcast join; the doc-level
    // window runs ONLY inside the straddling bucket
    val tagged = base.join(broadcast(pref), Seq(groupCol, "_b"))
    val wholly = tagged.filter(col("_pre") + col("_bt") <= budgetTokens)
    val wi = Window.partitionBy(col(groupCol), col("_b"))
      .orderBy(col("_h"), col(keyCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val straddle = tagged
      .filter(col("_pre") < budgetTokens && col("_pre") + col("_bt") > budgetTokens)
      .withColumn("_cum", sum("n_tok").over(wi))
      .filter(col("_pre") + col("_cum") - col("n_tok") < budgetTokens)
      .drop("_cum")
    wholly.unionByName(straddle).drop("_h", "_b", "_bt", "_pre")
  }

  /** DuckDB oracle for [[mixByTokenBudget]] over the documents table. */
  def mixByTokenBudgetSqlDuck(groupCol: String, keyCol: String,
      budgetTokens: Long, cols: String): String =
    s"""WITH c AS (
       |  SELECT $cols, CAST(len(${TextOps.tokensSqlDuck("text")}) AS BIGINT) AS n_tok,
       |    CAST(sum(CAST(len(${TextOps.tokensSqlDuck("text")}) AS BIGINT)) OVER (
       |      PARTITION BY $groupCol
       |      ORDER BY md5(CAST($keyCol AS VARCHAR)), $keyCol
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tok
       |  FROM documents)
       |SELECT $cols, n_tok FROM c
       |WHERE cum_tok - n_tok < $budgetTokens
       |ORDER BY $keyCol""".stripMargin

  /** DuckDB oracle twin of [[mixSources]] with weight 2.0 for `boosted`,
    * 1.0 otherwise. */
  def mixSourcesSqlDuck(groupCol: String, keyCol: String, boosted: String,
      table: String, cols: String): String =
    s"""WITH counts AS (SELECT $groupCol, count(*) AS n,
       |    CASE WHEN $groupCol = '$boosted' THEN 2.0 ELSE 1.0 END AS w
       |  FROM $table GROUP BY $groupCol),
       | scale AS (SELECT min(n / w) AS s FROM counts),
       | tgt AS (SELECT $groupCol, CAST(floor(s * w) AS BIGINT) AS t
       |   FROM counts, scale),
       | rk AS (SELECT $cols, CAST(row_number() OVER (
       |     PARTITION BY $groupCol ORDER BY md5(CAST($keyCol AS VARCHAR)), $keyCol)
       |   AS BIGINT) AS sample_rank FROM $table)
       |SELECT $cols, sample_rank FROM rk JOIN tgt USING ($groupCol)
       |WHERE sample_rank <= t ORDER BY $keyCol""".stripMargin

  def stratifiedSampleSqlDuck(stratumCol: String, keyCol: String, n: Int,
      table: String, cols: String): String =
    s"""SELECT $cols FROM (
       |  SELECT $cols, row_number() OVER (
       |    PARTITION BY $stratumCol ORDER BY md5(CAST($keyCol AS VARCHAR)), $keyCol) AS rn
       |  FROM $table)
       |WHERE rn <= $n ORDER BY $keyCol""".stripMargin

  /** DuckDB oracle for [[curateCorpus]] — same gates, same blocking, same
    * keep-first rule. */
  def curateCorpusSqlDuck(lang: String = "en", minTokens: Long = 10,
      maxTokens: Long = 100000, minAlphaRatio: Double = 0.5,
      dedupeThreshold: Double = 0.8): String =
    s"""WITH q AS (
       |  SELECT doc_id, text, lang, source, n_chars,
       |    CAST(len(${TextOps.tokensSqlDuck("text")}) AS BIGINT) AS n_tokens,
       |    CASE WHEN length(text) > 0
       |      THEN CAST(length(regexp_replace(lower(text), '[^a-z]', '', 'g')) AS DOUBLE) / length(text)
       |      ELSE 0.0 END AS alpha_ratio,
       |    CASE WHEN len(${TextOps.tokensSqlDuck("text")}) > 0
       |      THEN CAST(${TextOps.stopCountSqlDuck("text", TextOps.LangProfiles.head._2)} AS DOUBLE) /
       |        len(${TextOps.tokensSqlDuck("text")})
       |      ELSE 0.0 END AS stop_ratio
       |  FROM documents),
       | gated AS (
       |  SELECT * FROM q
       |  WHERE lang = '$lang' AND n_tokens >= $minTokens AND n_tokens <= $maxTokens
       |    AND alpha_ratio >= $minAlphaRatio),
       | ${Dedup.losersCteDuck("gated", dedupeThreshold)}
       |SELECT g.doc_id, g.lang, g.source, g.n_chars, g.n_tokens, g.alpha_ratio, g.stop_ratio
       |FROM gated g
       |WHERE NOT EXISTS (SELECT 1 FROM losers l WHERE l.doc_id = g.doc_id)
       |ORDER BY g.doc_id""".stripMargin

  /** DuckDB oracle for [[curateCorpusLsh]] — same gates, LSH candidates. */
  def curateCorpusLshSqlDuck(lang: String = "en", minTokens: Long = 10,
      maxTokens: Long = 100000, minAlphaRatio: Double = 0.5,
      dedupeThreshold: Double = 0.8): String =
    s"""WITH q AS (
       |  SELECT doc_id, text, lang, source, n_chars,
       |    CAST(len(${TextOps.tokensSqlDuck("text")}) AS BIGINT) AS n_tokens,
       |    CASE WHEN length(text) > 0
       |      THEN CAST(length(regexp_replace(lower(text), '[^a-z]', '', 'g')) AS DOUBLE) / length(text)
       |      ELSE 0.0 END AS alpha_ratio,
       |    CASE WHEN len(${TextOps.tokensSqlDuck("text")}) > 0
       |      THEN CAST(${TextOps.stopCountSqlDuck("text", TextOps.LangProfiles.head._2)} AS DOUBLE) /
       |        len(${TextOps.tokensSqlDuck("text")})
       |      ELSE 0.0 END AS stop_ratio
       |  FROM documents),
       | gated AS (
       |  SELECT * FROM q
       |  WHERE lang = '$lang' AND n_tokens >= $minTokens AND n_tokens <= $maxTokens
       |    AND alpha_ratio >= $minAlphaRatio),
       | ${Dedup.lshLosersCteDuck("gated", dedupeThreshold)}
       |SELECT g.doc_id, g.lang, g.source, g.n_chars, g.n_tokens, g.alpha_ratio, g.stop_ratio
       |FROM gated g
       |WHERE NOT EXISTS (SELECT 1 FROM losers l WHERE l.doc_id = g.doc_id)
       |ORDER BY g.doc_id""".stripMargin

  /** Weight-proportional sample of k rows WITHOUT replacement via PRIORITY
    * SAMPLING (Duffield, Lund, Thorup, JACM 2007): each row draws priority
    * q = w/u with u uniform in (0,1], and the k highest priorities win —
    * inclusion probability ∝ weight, with unbiased subset-sum estimators.
    * Chosen over the classic A-ES key u^(1/w) (Efraimidis–Spirakis) because
    * q = w/u needs NO transcendental: ln/pow are not correctly-rounded and
    * diverge between libm implementations, while one double multiply +
    * divide is IEEE-exact on every engine — the same determinism rule as
    * the TV-distance drift op. u is derived from md5(key), so the sample is
    * reproducible and oracle-checkable; the top-k is a TakeOrdered
    * (per-partition partial top-k + k-row driver merge), never a global
    * sort. w·2^32 stays exact while w < 2^20, far above any fixture weight. */
  def prioritySample(df: DataFrame, weightCol: String, keyCol: String,
      k: Int): DataFrame = {
    require(k > 0, "k must be positive")
    val h = conv(substring(md5(col(keyCol).cast("string")), 1, 8), 16, 10)
      .cast("long")
    val priority = col(weightCol).cast("double") * lit(4294967296.0) /
      (h + lit(1L)).cast("double")
    df.filter(col(weightCol).isNotNull && col(weightCol) > 0)
      .withColumn("priority", priority)
      .orderBy(col("priority").desc, col(keyCol))
      .limit(k)
  }

  def prioritySampleSqlDuck(k: Int): String =
    s"""SELECT doc_id, lang, source, n_chars,
       |  CAST(n_chars AS DOUBLE) * 4294967296.0 /
       |    CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))::UBIGINT
       |         + 1 AS DOUBLE) AS priority
       |FROM documents WHERE n_chars IS NOT NULL AND n_chars > 0
       |ORDER BY priority DESC, doc_id LIMIT $k""".stripMargin

  /** One-row corpus DATA CARD — the summary block a dataset release ships
    * with (n docs / sources / langs, token volume, mean length, and the
    * near-dup structure from the cluster pass: how many docs sit in
    * multi-doc clusters and how many clusters there are). Every number is
    * an exact integer except the two divisions.
    *
    * Shape: one token-count aggregation over the corpus, the cluster
    * labels' size rollup, and 1-row aggregates crossJoined (adjudicated
    * BNLJ shape — |rows|=1 everywhere past the scans). */
  def corpusCard(docs: DataFrame): DataFrame = {
    // distinct counts as separate 1-row aggregates crossJoined (the same
    // adjudicated 1-row-BNLJ shape as the cluster block below) instead of
    // multi-countDistinct in one aggregate: RewriteDistinctAggregates
    // binds its Expand group ids in identity-hash map order (jvm-random,
    // r15 fingerprint finding), and the separate rollups shuffle narrow
    // single-column distinct projections instead of Expand-doubling the
    // full scan
    val counts = docs.agg(
      count(lit(1)).as("n_docs"),
      sum(size(TextOps.fastTokens(col("text"))).cast("long")).as("n_tokens"))
    val nSources = docs.select(col("source")).distinct()
      .agg(count(lit(1)).as("n_sources"))
    val nLangs = docs.select(col("lang")).distinct()
      .agg(count(lit(1)).as("n_langs"))
    val base = counts
      .crossJoin(broadcast(nSources))
      .crossJoin(broadcast(nLangs))
    val cl = Dedup.clusterByBuckets(docs,
      Dedup.bandBuckets(Dedup.minhashSignatures(docs)))
    val dup = cl.groupBy("cluster_id").agg(count(lit(1)).as("sz"))
      .agg(sum(when(col("sz") > 1, 1L).otherwise(0L)).as("n_dup_clusters"),
        sum(when(col("sz") > 1, col("sz")).otherwise(0L)).as("n_docs_in_dups"))
    base.crossJoin(broadcast(dup))
      .select(col("n_docs"), col("n_sources"), col("n_langs"), col("n_tokens"),
        (col("n_tokens").cast("double") / col("n_docs").cast("double"))
          .as("mean_tokens"),
        col("n_dup_clusters"), col("n_docs_in_dups"),
        (col("n_docs_in_dups").cast("double") / col("n_docs").cast("double"))
          .as("dup_doc_rate"))
  }

  /** Oracle for [[corpusCard]] over the shared recursive-CC chain. */
  def corpusCardSqlDuck: String =
    s"""${Dedup.clustersCteDuck},
       | base AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
       |    CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
       |    CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
       |    CAST(sum(len(${TextOps.tokensSqlDuck("text")})) AS BIGINT) AS n_tokens
       |   FROM documents),
       | sz AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS sz FROM cl
       |   GROUP BY cluster_id),
       | dup AS (SELECT
       |    CAST(sum(CASE WHEN sz > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_clusters,
       |    CAST(sum(CASE WHEN sz > 1 THEN sz ELSE 0 END) AS BIGINT) AS n_docs_in_dups
       |   FROM sz)
       |SELECT n_docs, n_sources, n_langs, n_tokens,
       |  CAST(n_tokens AS DOUBLE) / CAST(n_docs AS DOUBLE) AS mean_tokens,
       |  n_dup_clusters, n_docs_in_dups,
       |  CAST(n_docs_in_dups AS DOUBLE) / CAST(n_docs AS DOUBLE) AS dup_doc_rate
       |FROM base CROSS JOIN dup""".stripMargin

  /** Cross-source duplication matrix: for every source pair (unordered,
    * incl. the diagonal), how many LSH near-dup candidate pairs link a doc
    * of one to a doc of the other, with the pair-rate normalized by the
    * number of possible cross pairs — WHICH SOURCES COPY FROM WHICH, the
    * curation question behind source-mixing weights (a high off-diagonal
    * rate means two "independent" sources share a template or a crawl).
    *
    * Counts exact; rate is one double division per emitted row. Shape: the
    * pair relation joins the slim (doc_id, source) projection twice
    * (broadcast-size at any corpus — it's a dim of the pair stream), then
    * a |sources|²-bounded rollup. */
  def sourceOverlap(docs: DataFrame): DataFrame = {
    val src = docs.select(col("doc_id"), col("source"))
    val perSrc = src.groupBy("source").agg(count(lit(1)).as("nd"))
    val pairs = Dedup.lshCandidatePairs(Dedup.minhashSignatures(docs))
    val lab = pairs
      .join(src.select(col("doc_id").as("doc_a"), col("source").as("sa")), "doc_a")
      .join(src.select(col("doc_id").as("doc_b"), col("source").as("sb")), "doc_b")
      .select(least(col("sa"), col("sb")).as("source_a"),
        greatest(col("sa"), col("sb")).as("source_b"))
      .groupBy("source_a", "source_b").agg(count(lit(1)).as("n_pairs"))
    lab
      .join(broadcast(perSrc.select(col("source").as("source_a"),
        col("nd").as("docs_a"))), "source_a")
      .join(broadcast(perSrc.select(col("source").as("source_b"),
        col("nd").as("docs_b"))), "source_b")
      .select(col("source_a"), col("source_b"), col("n_pairs"),
        col("docs_a"), col("docs_b"),
        when(col("source_a") === col("source_b"),
          lit(2.0) * col("n_pairs") /
            (col("docs_a").cast("double") * (col("docs_a") - 1).cast("double")))
          .otherwise(col("n_pairs").cast("double") /
            (col("docs_a").cast("double") * col("docs_b").cast("double")))
          .as("pair_rate"))
  }

  /** Oracle for [[sourceOverlap]] over the shared LSH pair chain. */
  def sourceOverlapSqlDuck: String =
    s"""WITH ${Dedup.lshPairsCteDuck},
       | src AS (SELECT doc_id, source FROM documents),
       | ps AS (SELECT source, CAST(count(*) AS BIGINT) AS nd FROM src
       |   GROUP BY source),
       | lab AS (SELECT least(x.source, y.source) AS source_a,
       |     greatest(x.source, y.source) AS source_b,
       |     CAST(count(*) AS BIGINT) AS n_pairs
       |   FROM prs JOIN src x ON prs.a = x.doc_id
       |   JOIN src y ON prs.b = y.doc_id
       |   GROUP BY 1, 2)
       |SELECT source_a, source_b, n_pairs, pa.nd AS docs_a, pb.nd AS docs_b,
       |  CASE WHEN source_a = source_b
       |    THEN 2.0 * n_pairs / (CAST(pa.nd AS DOUBLE) * CAST(pa.nd - 1 AS DOUBLE))
       |    ELSE CAST(n_pairs AS DOUBLE) / (CAST(pa.nd AS DOUBLE) * CAST(pb.nd AS DOUBLE))
       |  END AS pair_rate
       |FROM lab JOIN ps pa ON pa.source = lab.source_a
       |JOIN ps pb ON pb.source = lab.source_b
       |ORDER BY source_a, source_b""".stripMargin

  /** Duplicate-aware sampling weights: every document weighted 1/|its
    * near-dup cluster| in exact integer micro-units (`10⁶ DIV size`) — the
    * soft alternative to keep-first dedup (Lee et al., "Deduplicating
    * Training Data Makes Language Models Better": downweighting instead of
    * dropping preserves rare in-cluster variation while a template
    * duplicated 10⁴ times stops dominating the mixture). Every cluster
    * contributes ≈ 1e6 µ-units of total mass regardless of its size, so a
    * weighted sampler sees clusters, not copies.
    *
    * Shape: the label-propagation clusters ([[Dedup.clusterByBuckets]])
    * plus ONE cluster-keyed count and a map-side join-back; weights are
    * BIGINT integer division — engine-exact. */
  /** Corpus snapshot diff: classify every doc id across two corpus
    * versions as added (v2-only) / removed (v1-only) / changed (both, text
    * content hash differs) / unchanged, and roll up the counts — the
    * "what did this refresh actually do" audit before a retrain is kicked
    * off on the new snapshot. Content compares as md5 over
    * coalesce(text,'') (null-safe, fixed-width), the diff is ONE
    * co-partitioned full-outer equi-join on doc_id, and the rollup is a
    * ≤4-row aggregate — nothing in the plan grows faster than the
    * snapshots themselves. */
  def corpusDiff(v1: DataFrame, v2: DataFrame): DataFrame = {
    val a = v1.select(col("doc_id"), md5(coalesce(col("text"), lit(""))).as("h1"))
    val b = v2.select(col("doc_id"), md5(coalesce(col("text"), lit(""))).as("h2"))
    a.join(b, Seq("doc_id"), "full_outer")
      .select(when(col("h1").isNull, "added")
        .when(col("h2").isNull, "removed")
        .when(col("h1") === col("h2"), "unchanged")
        .otherwise("changed").as("status"))
      .groupBy("status").agg(count(lit(1)).as("n"))
      .orderBy("status")
  }

  /** Oracle twin of [[corpusDiff]] for the SparkEntry row's derived
    * snapshots: v1 = docs without the doc_id%10=7 slice, v2 = docs without
    * the %10=4 slice and with every %3=0 text re-crawled (text || ' v2').
    */
  def corpusDiffSqlDuck: String =
    s"""WITH v1 AS (SELECT doc_id, md5(coalesce(text, '')) AS h1
       |  FROM documents WHERE doc_id % 10 <> 7),
       | v2 AS (SELECT doc_id, md5(coalesce(
       |    CASE WHEN doc_id % 3 = 0 THEN text || ' v2' ELSE text END, ''))
       |    AS h2
       |  FROM documents WHERE doc_id % 10 <> 4),
       | d AS (SELECT CASE WHEN h1 IS NULL THEN 'added'
       |    WHEN h2 IS NULL THEN 'removed'
       |    WHEN h1 = h2 THEN 'unchanged' ELSE 'changed' END AS status
       |  FROM v1 FULL OUTER JOIN v2 USING (doc_id))
       |SELECT status, CAST(count(*) AS BIGINT) AS n FROM d
       |GROUP BY status ORDER BY status""".stripMargin

  def dedupWeights(docs: DataFrame): DataFrame = {
    val cl = graft.etl.CacheRegistry.persist(
      Dedup.clusterByBuckets(docs,
        Dedup.bandBuckets(Dedup.minhashSignatures(docs))))
    val sizes = cl.groupBy("cluster_id").agg(count(lit(1)).as("cluster_size"))
    cl.join(sizes, "cluster_id")
      .select(col("doc_id"), col("cluster_id"), col("cluster_size"),
        expr("1000000L DIV cluster_size").as("weight_micro"))
  }

  /** Oracle for [[dedupWeights]] over the shared recursive-CC chain. */
  def dedupWeightsSqlDuck: String =
    s"""${Dedup.clustersCteDuck},
       | sz AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS cluster_size
       |   FROM cl GROUP BY cluster_id)
       |SELECT cl.doc_id, cl.cluster_id, sz.cluster_size,
       |  1000000 // sz.cluster_size AS weight_micro
       |FROM cl JOIN sz ON cl.cluster_id = sz.cluster_id
       |ORDER BY cl.doc_id""".stripMargin

  /** DSIR-style data selection (Data Selection via Importance Resampling,
    * Xie et al. 2023): score every document by how much more likely its
    * HASHED-BIGRAM features are under a TARGET domain's feature
    * distribution than under the raw corpus's, and keep the top-k. Features
    * are bigrams hashed into `buckets` buckets by the repo's seedless
    * md5-prefix family ([[splitByHash]]'s); both distributions are add-1
    * smoothed over the bucket space.
    *
    * Log-free importance (repo libm-free rule): the paper scores docs by a
    * log-likelihood ratio Σ log(p_t(f)/p_r(f)); like [[TextOps.surprisal]]
    * does for perplexity, this takes the ARITHMETIC-mean analog — the mean
    * over the doc's bigram occurrences of the per-bucket ratio — and
    * selects deterministic top-k (the paper's Gumbel resampling collapses
    * to top-k at temperature → 0). Each per-bucket ratio factorizes as
    * `[(c_t+1)/(c_r+1)] · [(R+B)/(T+B)]`; the second term is a GLOBAL
    * constant, so only the first is floor-quantized to micro-units
    * (`(c_t+1)·10^6 DIV (c_r+1)` — exact while target occurrences
    * ≤ 9.2·10^12, the same documented bound as surprisal) and summed as an
    * exact BIGINT per doc; the constant re-enters once in the displayed
    * score. Ranking compares `sum_ratio/n/10^6` doubles both engines derive
    * from the same exact BIGINT pair via identical correctly-rounded
    * divisions, doc_id breaking ties.
    *
    * Scale shape: ONE corpus-sized bigram projection (array zip_with, no
    * per-token window), two bucket rollups that map-side combine into ≤ B
    * rows, a broadcast B-row model join back onto the bigram stream, a
    * doc-keyed rollup, top-k via TakeOrdered, and the rank computed over
    * the k survivors by the [[Chunking.topNgrams]] broadcast-ahead idiom —
    * no unpartitioned window anywhere. */
  def dsirSelect(docs: DataFrame, targetSource: String = "src0",
      buckets: Int = 256, k: Int = 100): DataFrame = {
    require(buckets >= 2 && buckets <= 1000000, s"buckets out of range: $buckets")
    require(k >= 1 && k <= 100000, s"k out of range: $k")
    val bg = graft.etl.CacheRegistry.persist(
      docs.filter(col("doc_id").isNotNull)
        .select(col("doc_id"), col("source"), TextOps.tokensArr("text").as("_t"))
        .filter(size(col("_t")) >= 2)
        .select(col("doc_id"), col("source"), explode(expr(
          "zip_with(slice(_t, 1, size(_t) - 1), slice(_t, 2, size(_t) - 1), " +
            "(a, b) -> concat(a, ' ', b))")).as("g"))
        .select(col("doc_id"), col("source"),
          pmod(conv(substring(md5(col("g")), 1, 8), 16, 10).cast("long"),
            lit(buckets.toLong)).as("b")))
    // (r18) ONE bucket rollup replaces three corpus passes: raw counts,
    // target counts and the global totals all derive from the same ≤B-row
    // (c_r, c_t) relation — c_t rides the raw rollup as a conditional sum
    // (subsuming the old left_outer raw⋈tgt join), and the totals are the
    // rollup's own column sums (r_total = Σ c_r = count(*), t_total =
    // Σ c_t by definition). The corpus-sized bigram cache is now scanned
    // exactly twice (rollup, scored) instead of four times. The tiny
    // rollup is persisted for its two consumers (model, totals) — the
    // r17 slim-rollup pattern, orders of magnitude under corpus size.
    val rollup = graft.etl.CacheRegistry.persist(bg.groupBy("b").agg(
      count(lit(1)).as("c_r"),
      sum(when(col("source") === targetSource, lit(1L)).otherwise(lit(0L)))
        .as("c_t")))
    val model = rollup.select(col("b"), expr(
      "((c_t + 1) * CAST(1000000 AS BIGINT)) DIV (c_r + 1)").as("q"))
    val totals = rollup.agg(sum(col("c_r")).as("r_total"),
      sum(col("c_t")).as("t_total"))
    val scored = bg.join(broadcast(model), "b")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), sum(col("q")).as("sum_ratio"))
      .crossJoin(broadcast(totals))
      .select(col("doc_id"), col("n_bigrams"), col("sum_ratio"),
        (col("sum_ratio").cast("double") / col("n_bigrams").cast("double") /
          lit(1000000.0)).as("mr"),
        col("r_total"), col("t_total"))
    val topK = graft.etl.CacheRegistry.persist(
      scored.orderBy(col("mr").desc, col("doc_id")).limit(k))
    val ahead = broadcast(topK.select(col("mr").as("_bm"), col("doc_id").as("_bid")))
    topK.join(ahead, col("_bm") > col("mr") ||
        (col("_bm") === col("mr") && col("_bid") < col("doc_id")), "left_outer")
      .groupBy(col("doc_id"), col("n_bigrams"), col("sum_ratio"), col("mr"),
        col("r_total"), col("t_total"))
      .agg((count(col("_bid")) + 1L).as("rank"))
      .select(col("rank"), col("doc_id"), col("n_bigrams"), col("sum_ratio"),
        (col("mr") * ((col("r_total") + buckets).cast("double") /
          (col("t_total") + buckets).cast("double"))).as("score"))
  }

  /** Oracle twin of [[dsirSelect]]: lead-window bigrams, identical
    * md5-bucket / smoothing / quantization integer arithmetic, plain
    * row_number ranking (the semantics the broadcast-ahead form replaces). */
  def dsirSelectSqlDuck(targetSource: String = "src0",
      buckets: Int = 256, k: Int = 100): String =
    s"""WITH tk AS (SELECT doc_id, source, ${TextOps.tokensSqlDuck("text")} AS tks
       |  FROM documents WHERE doc_id IS NOT NULL),
       | pos AS (SELECT doc_id, source, unnest(tks) AS w1,
       |     generate_subscripts(tks, 1) AS i
       |   FROM tk WHERE len(tks) >= 2),
       | bg0 AS (SELECT doc_id, source, w1,
       |     lead(w1, 1) OVER (PARTITION BY doc_id ORDER BY i) AS w2
       |   FROM pos),
       | bg AS (SELECT doc_id, source,
       |    CAST(('0x' || substring(md5(w1 || ' ' || w2), 1, 8))::UBIGINT
       |      % $buckets AS BIGINT) AS b
       |   FROM bg0 WHERE w2 IS NOT NULL),
       | raw AS (SELECT b, CAST(count(*) AS BIGINT) AS c_r FROM bg GROUP BY b),
       | tgt AS (SELECT b, CAST(count(*) AS BIGINT) AS c_t FROM bg
       |   WHERE source = '$targetSource' GROUP BY b),
       | model AS (SELECT raw.b,
       |     ((coalesce(tgt.c_t, 0) + 1) * 1000000) // (raw.c_r + 1) AS q
       |   FROM raw LEFT JOIN tgt ON raw.b = tgt.b),
       | tot AS (SELECT CAST(count(*) AS BIGINT) AS r_total,
       |    CAST(sum(CASE WHEN source = '$targetSource' THEN 1 ELSE 0 END)
       |      AS BIGINT) AS t_total FROM bg),
       | sc AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
       |     CAST(sum(q) AS BIGINT) AS sum_ratio
       |   FROM bg JOIN model USING (b) GROUP BY doc_id),
       | r AS (SELECT doc_id, n_bigrams, sum_ratio,
       |    CAST(sum_ratio AS DOUBLE) / CAST(n_bigrams AS DOUBLE) / 1000000.0E0
       |      AS mr
       |   FROM sc)
       |SELECT CAST(row_number() OVER (ORDER BY mr DESC, doc_id) AS BIGINT)
       |    AS rank,
       |  doc_id, n_bigrams, sum_ratio,
       |  mr * (CAST(tot.r_total + $buckets AS DOUBLE) /
       |    CAST(tot.t_total + $buckets AS DOUBLE)) AS score
       |FROM r CROSS JOIN tot
       |ORDER BY mr DESC, doc_id LIMIT $k""".stripMargin
}
