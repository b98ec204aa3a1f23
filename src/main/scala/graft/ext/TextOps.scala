package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for a large-scale training-data pipeline
  * (SURVEY.md §7.2 M5 / north star). All narrow, codegen'd, shuffle-free —
  * they scale linearly with input on any cluster size.
  *
  * Every computation here is defined so the identical logic is expressible in
  * ANSI SQL for the DuckDB oracle (Verify): token pattern without backslash
  * escapes (dialect-portable), ratios as int/int double division (exact in
  * IEEE754, so bit-identical across engines).
  */
object TextOps {

  /** Portable token regex — no backslashes (Spark and DuckDB string literals
    * disagree on backslash escaping). */
  val TokenPattern = "[a-z0-9]+"

  /** Stopword profiles for the n-gram/stopword language-ID heuristic.
    * Deterministic and tiny by design: the oracle SQL embeds the same lists. */
  val LangProfiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "and", "of", "to", "in", "is"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht"),
    "fr" -> Seq("le", "la", "les", "et", "est", "dans"),
    "es" -> Seq("el", "los", "las", "y", "es", "por"))

  /** Token-extraction SQL — identical text parses in Spark SQL and DuckDB.
    * The ORACLE always uses this regex form; the engine's execution path
    * uses [[fastTokens]], whose equivalence the oracle thereby re-proves on
    * every hash-checked query. */
  def tokensSqlSpark(textCol: String): String =
    s"regexp_extract_all(lower($textCol), '$TokenPattern', 0)"

  /** Engine-side tokenizer: unicode lower() then the codegen'd byte-run
    * scan ([[graft.functions.AsciiRunTokens]]) — semantics identical to
    * `regexp_extract_all(lower(x), '[a-z0-9]+', 0)`, ~100× cheaper than the
    * regex engine on the documents fixture. */
  def fastTokens(c: Column): Column = {
    import org.apache.spark.sql.GraftColumnBridge.{toColumn, toExpression}
    toColumn(graft.functions.AsciiRunTokens(toExpression(lower(c))))
  }

  /** Lowercase tokens of a text column (as array column). */
  def tokensArr(textCol: String): Column = fastTokens(col(textCol))

  def tokenCount(textCol: String): Column = size(tokensArr(textCol)).cast("long")

  def charCount(textCol: String): Column = length(col(textCol)).cast("long")

  /** Count of alphabetic chars (quality signal). */
  def alphaCount(textCol: String): Column =
    length(regexp_replace(lower(col(textCol)), "[^a-z]", "")).cast("long")

  def stopwordCount(textCol: String, words: Seq[String]): Column = {
    val set = words.map(w => lit(w))
    size(filter(tokensArr(textCol), t => t.isin(set: _*))).cast("long")
  }

  /** Quality scoring: length, alpha ratio, stopword ratio, mean token length.
    * Ratios are exact int/int double divisions → oracle-stable. */
  def quality(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val enStops = LangProfiles.head._2
    docs.select(
      col("doc_id"),
      charCount(textCol).as("n_chars"),
      tokenCount(textCol).as("n_tokens"),
      alphaCount(textCol).as("n_alpha"),
      stopwordCount(textCol, enStops).as("n_stop"))
      .withColumn("alpha_ratio",
        when(col("n_chars") > 0, col("n_alpha").cast("double") / col("n_chars")).otherwise(lit(0.0)))
      .withColumn("stop_ratio",
        when(col("n_tokens") > 0, col("n_stop").cast("double") / col("n_tokens")).otherwise(lit(0.0)))
  }

  /** Language ID: argmax of per-language stopword hits, fixed tie-break order
    * (profile order). Mirrors the chained-CASE oracle SQL exactly. */
  def langId(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val scored = LangProfiles.foldLeft(docs.select(col("doc_id"), col(textCol))) {
      case (d, (lang, words)) => d.withColumn(s"${lang}_score", stopwordCount(textCol, words))
    }
    val langs = LangProfiles.map(_._1)
    // CASE chain: first language whose score >= all later languages' scores
    val pred = langs.init.zipWithIndex.foldRight(lit(langs.last)) { case ((lang, i), els) =>
      val laterGe = langs.drop(i + 1)
        .map(l2 => col(s"${lang}_score") >= col(s"${l2}_score"))
        .reduce(_ && _)
      when(laterGe, lit(lang)).otherwise(els)
    }
    scored.withColumn("lang_pred", pred).drop(textCol)
  }

  /** BPE-ish pre-tokenizer pattern (GPT-2-style: letter runs, digit runs,
    * single non-alphanumerics). No backslashes → dialect-portable. */
  val BpePattern = "[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]"

  /** Token counting: whitespace tokens, BPE-ish subword pieces, and the
    * chars/4 LLM-token estimate. All exact integer math. */
  def tokenCounts(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs.select(
      col("doc_id"),
      when(trim(col(textCol)) === "", 0L)
        .otherwise(size(split(trim(col(textCol)), "\\s+")).cast("long")).as("n_ws_tokens"),
      size(expr(s"regexp_extract_all($textCol, '$BpePattern', 0)")).cast("long").as("n_bpe_pieces"),
      ceil(length(col(textCol)) / 4.0).cast("long").as("n_tok_est"))

  def tokenCountsSqlDuck: String =
    s"""SELECT doc_id,
       |  CASE WHEN trim(text) = '' THEN 0
       |       ELSE CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) END AS n_ws_tokens,
       |  CAST(len(regexp_extract_all(text, '$BpePattern', 0)) AS BIGINT) AS n_bpe_pieces,
       |  CAST(ceil(length(text) / 4.0) AS BIGINT) AS n_tok_est
       |FROM documents ORDER BY doc_id""".stripMargin

  /** Bigram-surprisal quality score — the perplexity-filtering slot of a
    * CCNet-style curation stack (Wenzek et al. 2020 rank corpora by LM
    * perplexity; the Gopher and FineWeb pipelines keep the same stage),
    * re-expressed in cross-engine-exact arithmetic. Per document: the mean
    * INVERSE conditional bigram probability
    * mean_i[ C(w_{i-1}·) / C(w_{i-1}, w_i) ] under the corpus's own MLE
    * bigram model. 1.0 = every transition maximally predictable; large =
    * improbable under the corpus model. It is the arithmetic-mean analog
    * of perplexity (which is the geometric mean of the same ratios) and
    * deliberately LOG-FREE: Java and DuckDB libm disagree at 1 ulp on
    * ln/pow — the same reason tfidf/BM25 use a rational idf. MLE needs no
    * smoothing: every scored bigram was observed (count ≥ 1), so no ratio
    * divides by zero. Docs with < 2 tokens have no bigrams and are
    * excluded (a perplexity filter has nothing to say about them).
    *
    * Exactness: each ratio floor-quantizes to 1e-6 BIGINT micro-units
    * (`c1 * 1000000 DIV c12`, exact integer ops; c1 ≤ corpus bigram
    * positions, so the product stays inside BIGINT up to ~9e12 positions);
    * the per-doc sum is an exact integer; the one final division chain is
    * the only double math, mirrored term-for-term in the oracle.
    *
    * Shape at 100 TB: bigrams come from ONE array expression per doc
    * (zip_with over two slices — no per-token window, no extra shuffle),
    * then a vocab-keyed rollup (C(w1·)), an observed-bigram rollup
    * (C(w1,w2)), a model-sized equi-join back onto the bigram stream on
    * (w1, w2) — Zipf-hot head bigrams are the skew axis; AQE's skew split
    * applies, and the model side is vocabulary-sized,
    * never corpus-sized — and a doc-keyed rollup. */
  def surprisal(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val big =
      docs.select(col("doc_id"), tokensArr(textCol).as("_t"))
        .filter(size(col("_t")) >= 2)
        .select(col("doc_id"), explode(expr(
          "zip_with(slice(_t, 1, size(_t) - 1), slice(_t, 2, size(_t) - 1), " +
            "(a, b) -> named_struct('w1', a, 'w2', b))")).as("_bg"))
        .select(col("doc_id"), col("_bg.w1").as("w1"), col("_bg.w2").as("w2")).persist()
    val uni = big.groupBy("w1").agg(count(lit(1)).as("c1"))
    val bi = big.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
    val model = bi.join(uni, "w1")
      .select(col("w1"), col("w2"),
        expr("(c1 * CAST(1000000 AS BIGINT)) DIV c12").as("q"))
    big.join(model, Seq("w1", "w2"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), sum(col("q")).as("_sq"))
      .select(col("doc_id"), col("n_bigrams"),
        (col("_sq").cast("double") / col("n_bigrams").cast("double") /
          lit(1000000.0)).as("mean_inv_prob"))
  }

  /** DuckDB oracle for [[surprisal]]: independent bigram derivation (the
    * positional lead-window form, vs Spark's slice/zip_with array algebra),
    * identical integer model arithmetic. */
  /** The surprisal computation as a reusable CTE body ending in
    * `agg(doc_id, n_bigrams, sq)` — shared with oracles that build ON the
    * difficulty score (e.g. curriculum sharding). */
  private[ext] def surprisalCteDuck: String =
    s""" tk AS (SELECT doc_id, ${tokensSqlDuck("text")} AS tks FROM documents),
       | pos AS (SELECT doc_id, unnest(tks) AS w1, generate_subscripts(tks, 1) AS i
       |   FROM tk WHERE len(tks) >= 2),
       | bg AS (SELECT doc_id, w1, w2 FROM (
       |   SELECT doc_id, w1, lead(w1, 1) OVER (PARTITION BY doc_id ORDER BY i) AS w2
       |   FROM pos) WHERE w2 IS NOT NULL),
       | uni AS (SELECT w1, CAST(count(*) AS BIGINT) AS c1 FROM bg GROUP BY w1),
       | bi AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12 FROM bg GROUP BY w1, w2),
       | model AS (SELECT bi.w1, bi.w2, (uni.c1 * 1000000) // bi.c12 AS q
       |   FROM bi JOIN uni ON bi.w1 = uni.w1),
       | agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
       |     CAST(sum(m.q) AS BIGINT) AS sq
       |   FROM bg JOIN model m ON bg.w1 = m.w1 AND bg.w2 = m.w2
       |   GROUP BY doc_id)""".stripMargin

  def surprisalSqlDuck: String =
    s"""WITH$surprisalCteDuck
       |SELECT doc_id, n_bigrams,
       |  CAST(sq AS DOUBLE) / CAST(n_bigrams AS DOUBLE) / 1000000.0 AS mean_inv_prob
       |FROM agg ORDER BY doc_id""".stripMargin

  /** Document fingerprint: hash of the token-normalized text (lowercase,
    * token stream re-joined on single spaces) — whitespace/punctuation
    * canonicalization before hashing. */
  def fingerprint(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs.select(col("doc_id"),
      md5(array_join(tokensArr(textCol), " ")).as("fp"))

  /** Top-k TF-IDF terms per document. The idf is the exact rational N/df —
    * deliberately NOT log-scaled: libm transcendentals (ln) can differ in
    * the last ulp across engines, while integer-to-double casts, one
    * division, and one multiplication are all IEEE-correctly-rounded, so
    * scores are bit-identical to the oracle's. Ranking (the actual output)
    * is the same under any monotone transform of N/df, so dropping the log
    * changes no ordering. Shape: tf = (doc, term) count with map-side
    * partials; df = one row per term (hot terms bounded the same way); N
    * rides in as a broadcast single-row cross join; top-k per doc is a
    * WindowGroupLimit rank. AQE's skew-join handles a hot term in the
    * tf⋈df join at scale. */
  def tfidfTopTerms(docs: DataFrame, k: Int = 5, textCol: String = "text"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val terms = docs.select(col("doc_id"),
      explode(fastTokens(col(textCol))).as("term")) // dup-preserving: tf counts occurrences
    val tf = terms.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n"))
    val scored = tf.join(dfreq, "term").crossJoin(broadcast(n))
      .withColumn("score",
        col("tf").cast("double") * (col("n").cast("double") / col("df")))
    val w = Window.partitionBy("doc_id").orderBy(col("score").desc, col("term"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("doc_id"), col("rank"), col("term"), col("score"))
  }

  def tfidfSqlDuck(k: Int = 5): String =
    s"""WITH terms AS (
       |  SELECT doc_id, unnest(${tokensSqlDuck("text")}) AS term FROM documents),
       | tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM terms GROUP BY doc_id, term),
       | dfq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
       | nn AS (SELECT COUNT(*) AS n FROM documents)
       |SELECT doc_id, rank, term, score FROM (
       |  SELECT tf.doc_id, tf.term,
       |    CAST(tf.tf AS DOUBLE) * (CAST(nn.n AS DOUBLE) / dfq.df) AS score,
       |    CAST(row_number() OVER (PARTITION BY tf.doc_id
       |      ORDER BY CAST(tf.tf AS DOUBLE) * (CAST(nn.n AS DOUBLE) / dfq.df) DESC,
       |        tf.term) AS BIGINT) AS rank
       |  FROM tf JOIN dfq USING (term) CROSS JOIN nn)
       |WHERE rank <= $k ORDER BY doc_id, rank""".stripMargin

  /** Redaction patterns — backslash-free (Spark string literals escape
    * backslashes, DuckDB's don't; NOTES.md rule 4), lowercase-input. */
  val EmailPattern = "[a-z0-9._%+-]+@[a-z0-9.-]+[.][a-z][a-z]+"
  val UrlPattern = "https?://[^ ]+"

  /** Whitespace run — the class contains LITERAL space/tab/newline/CR chars
    * (no backslash escapes), so the same bytes reach both regex engines. */
  val SpaceRunPattern = "[ \t\n\r]+"

  /** Normalization + redaction for corpus cleaning: lowercase, emails/URLs
    * replaced by placeholder tokens, whitespace runs collapsed, trimmed,
    * truncated to `maxChars`. Counts are taken on the lowercased original.
    * Narrow and codegen'd; identical operation order in the oracle SQL. */
  def clean(docs: DataFrame, maxChars: Int = 500, textCol: String = "text"): DataFrame = {
    val lowered = lower(col(textCol))
    val redacted = regexp_replace(
      regexp_replace(lowered, EmailPattern, "<email>"), UrlPattern, "<url>")
    docs.select(
      col("doc_id"),
      size(expr(s"regexp_extract_all(lower($textCol), '$EmailPattern', 0)"))
        .cast("long").as("n_emails"),
      size(expr(s"regexp_extract_all(lower($textCol), '$UrlPattern', 0)"))
        .cast("long").as("n_urls"),
      substring(trim(regexp_replace(redacted, SpaceRunPattern, " ")), 1, maxChars)
        .as("cleaned"))
  }

  def cleanSqlDuck(maxChars: Int = 500): String =
    s"""SELECT doc_id,
       |  CAST(len(regexp_extract_all(lower(text), '$EmailPattern', 0)) AS BIGINT) AS n_emails,
       |  CAST(len(regexp_extract_all(lower(text), '$UrlPattern', 0)) AS BIGINT) AS n_urls,
       |  substr(trim(regexp_replace(
       |    regexp_replace(regexp_replace(lower(text), '$EmailPattern', '<email>', 'g'),
       |      '$UrlPattern', '<url>', 'g'),
       |    '$SpaceRunPattern', ' ', 'g')), 1, $maxChars) AS cleaned
       |FROM documents ORDER BY doc_id""".stripMargin

  /** Gopher-style repetition signal (Rae et al. 2021 §A1.1: fraction of
    * duplicated n-grams): per-doc shingle totals, distinct count, the top
    * shingle's multiplicity, and dup_ratio = (n - distinct) / n. Highly
    * repetitive (boilerplate / degenerate) docs score high and get filtered
    * upstream of training. Two keyed aggregations — (doc, shingle) counts
    * collapse map-side, then per-doc stats; shuffle ∝ distinct shingles,
    * never all-pairs. Docs with < w tokens have no shingles: all-zero row. */
  def repetition(docs: DataFrame, w: Int = 3): DataFrame = {
    val cnts = Dedup.shingles(docs, w)
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("_c"))
    val stats = cnts.groupBy("doc_id").agg(
      sum("_c").cast("long").as("n_shingles"),
      count(lit(1)).cast("long").as("n_distinct"),
      max("_c").cast("long").as("max_rep"))
    docs.select("doc_id").join(stats, Seq("doc_id"), "left_outer")
      .select(col("doc_id"),
        coalesce(col("n_shingles"), lit(0L)).as("n_shingles"),
        coalesce(col("n_distinct"), lit(0L)).as("n_distinct"),
        coalesce(col("max_rep"), lit(0L)).as("max_rep"),
        when(col("n_shingles") > 0,
          (col("n_shingles") - col("n_distinct")).cast("double") / col("n_shingles"))
          .otherwise(lit(0.0)).as("dup_ratio"))
  }

  /** Benchmark decontamination: drop every candidate doc sharing ANY
    * w-token shingle with the benchmark corpus — the standard test-set
    * leakage guard for training data. Shape: distinct (doc, shingle-hash)
    * against a distinct benchmark shingle-hash set, equi-join on the hash,
    * then one anti join — all keyed shuffles, benchmark side dedup'd
    * first so a ubiquitous shingle costs its candidate fan-out only once. */
  def decontaminate(candidates: DataFrame, benchmark: DataFrame, w: Int = 5): DataFrame = {
    val candSh = Dedup.shingles(candidates, w)
      .select(col("doc_id"), md5(col("tok")).as("_h")).distinct()
    val benchSh = Dedup.shingles(benchmark, w)
      .select(md5(col("tok")).as("_h")).distinct()
    val bad = candSh.join(benchSh, "_h").select("doc_id").distinct()
    candidates.join(bad, Seq("doc_id"), "left_anti")
  }

  /** Cross-source contamination card — the audit BEHIND [[decontaminate]]:
    * treating every source as a benchmark/eval set in turn, how many of
    * each other source's documents share at least one w-token shingle with
    * it, and how many distinct shingles leak. The per-(candidate,
    * benchmark) contamination rate is what a curator reads before wiring a
    * decontamination pass: which training source leaks into which eval
    * set, and whether the leak is a few ubiquitous shingles or broad.
    *
    * Shape: ONE distinct (doc, source, shingle-hash) projection; the
    * benchmark side reduced to distinct (hash, source) FIRST, so a
    * ubiquitous shingle fans out once per source that carries it (bounded
    * by |sources|, never by docs); one hash-keyed equi-join; then a single
    * grouped two-way distinct-count (Expand ×2, both map-side partial)
    * into the |sources|²-bounded card. No all-pairs stage, no driver
    * state — every shuffle is keyed on the shingle hash or the card key. */
  def contaminationCard(docs: DataFrame, w: Int = 5): DataFrame = {
    val src = docs.select(col("doc_id"), col("source"))
    val perSrc = src.groupBy("source").agg(count(lit(1)).cast("long").as("n_docs"))
    val sh = Dedup.shingles(docs, w)
      .select(col("doc_id"), md5(col("tok")).as("h")).distinct()
      .join(src, "doc_id")
    val bench = sh.select(col("h"), col("source").as("bench_source")).distinct()
    val hits = sh.join(bench, "h")
      .filter(col("source") =!= col("bench_source"))
      .select(col("doc_id"), col("source").as("cand_source"), col("bench_source"), col("h"))
    // Two SEPARATE single-distinct rollups joined on the (candidate,
    // benchmark) key instead of one multi-countDistinct aggregate: Spark's
    // RewriteDistinctAggregates assigns the Expand group ids by an
    // identity-hash map order (jvm-random — the r15 fingerprint
    // adjudication diffed the gid 1↔2 binding flapping across same-code
    // JVMs), and at scale the Expand form doubles the first shuffle's rows
    // while these rollups shuffle narrower distinct projections. The join
    // is inner: every (cand, bench) pair has ≥1 doc and ≥1 shingle by
    // construction.
    // the shingle-join relation feeds both rollups — staged once so the
    // second consumer scans the materialization instead of re-joining
    // (the StageStore fan-out contract)
    val hitsOnce = graft.etl.StageStore.materialize(hits, "contam_hits")
    val nDocs = hitsOnce.select(col("cand_source"), col("bench_source"), col("doc_id"))
      .distinct()
      .groupBy("cand_source", "bench_source")
      .agg(count(lit(1)).as("n_contaminated"))
    val nSh = hitsOnce.select(col("cand_source"), col("bench_source"), col("h"))
      .distinct()
      .groupBy("cand_source", "bench_source")
      .agg(count(lit(1)).as("n_shared_shingles"))
    nDocs.join(nSh, Seq("cand_source", "bench_source"))
      .join(broadcast(perSrc.select(col("source").as("cand_source"), col("n_docs"))),
        "cand_source")
      .select(col("cand_source"), col("bench_source"), col("n_docs"),
        col("n_contaminated"), col("n_shared_shingles"),
        (col("n_contaminated").cast("double") / col("n_docs").cast("double"))
          .as("contamination_rate"))
  }

  /** Within-document repeated-segment removal — the C4/FineWeb
    * line-deduplication cleaning step, adapted to consecutive `w`-token
    * segments (the fixture corpus carries no newlines; for real corpora
    * split on the line break instead — the keep-first algebra is
    * identical). A doc's token stream is cut into w-token segments; any
    * segment textually identical to an EARLIER segment of the same doc is
    * dropped, and the survivors rejoin in original order.
    *
    * Everything is per-row array algebra — tokenize → segment → keep-first
    * filter → rejoin — one narrow projection, no shuffle at any scale
    * (within-doc dedup is embarrassingly parallel; cross-doc identity is
    * [[Dedup]]'s job). The keep-first test is `first_index(x) == i`, the
    * same rule on both engines' 1-based `array_position`/`list_position`.
    * Zero-token docs produce no row (no segments — the
    * [[Chunking.chunkDocs]] contract). */
  def dedupSegments(docs: DataFrame, w: Int = 8, textCol: String = "text"): DataFrame = {
    require(w > 0, "w must be positive")
    docs
      .select(col("doc_id"), fastTokens(col(textCol)).as("toks"))
      .withColumn("n", size(col("toks")))
      .filter(col("n") > 0)
      .withColumn("segs", expr(
        s"transform(sequence(0, CAST((n + ${w - 1}) DIV $w AS INT) - 1), i -> array_join(slice(toks, i * $w + 1, $w), ' '))"))
      .withColumn("kept", expr("filter(segs, (x, i) -> array_position(segs, x) == i + 1)"))
      .select(col("doc_id"),
        size(col("segs")).cast("long").as("n_segments"),
        size(col("kept")).cast("long").as("n_kept"),
        array_join(col("kept"), " ").as("text_deduped"))
  }

  /** CORPUS-WIDE repeated-segment removal — the C4 boilerplate rule (Raffel
    * et al. 2020 §2.2: lines occurring ≥ 3 times in the corpus are removed
    * from every document; headers, footers, cookie banners). Counterpart of
    * [[dedupSegments]] (within-doc): here the count crosses documents, so
    * the op costs two keyed shuffles — segment-hash counts with map-side
    * partials (the repeated-segment relation is tiny: boilerplate by
    * definition concentrates), an anti join of the exploded segments
    * against it, and an ordered per-doc reassembly (`sort_array` over
    * (pos, seg) structs — deterministic on any partitioning; positions are
    * unique). Docs whose every segment was boilerplate survive as empty
    * rows (n_kept = 0), preserving corpus cardinality for downstream
    * stats. */
  def dedupSegmentsGlobal(docs: DataFrame, w: Int = 4, minRep: Long = 3,
      textCol: String = "text"): DataFrame = {
    require(w > 0 && minRep > 1, "w must be positive, minRep > 1")
    val segs = docs
      .select(col("doc_id"), fastTokens(col(textCol)).as("toks"))
      .withColumn("n", size(col("toks")))
      .filter(col("n") > 0)
      .select(col("doc_id"), posexplode(expr(
        s"transform(sequence(0, CAST((n + ${w - 1}) DIV $w AS INT) - 1), i -> array_join(slice(toks, i * $w + 1, $w), ' '))"
      )).as(Seq("pos", "seg")))
    val repeated = segs.groupBy("seg").agg(count(lit(1)).as("_c"))
      .filter(col("_c") >= minRep).select(col("seg"))
    val kept = segs.join(repeated, Seq("seg"), "left_anti")
    val base = segs.groupBy("doc_id").agg(count(lit(1)).cast("long").as("n_segments"))
    val agg = kept.groupBy("doc_id").agg(
      count(lit(1)).cast("long").as("n_kept"),
      array_join(expr("transform(sort_array(collect_list(struct(pos, seg))), x -> x.seg)"), " ")
        .as("text_deduped"))
    base.join(agg, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), col("n_segments"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("text_deduped"), lit("")).as("text_deduped"))
  }

  /** Exact SUBSTRING-level dedup with keep-first discipline — the
    * suffix-array family of Lee et al. 2022 ("Deduplicating Training Data
    * Makes Language Models Better", ExactSubstr), re-expressed as a
    * distributed shingle-run analysis instead of a monolithic suffix
    * array:
    *
    *  1. every sliding w-token shingle (doc-local position kept) streams
    *     into a corpus-wide aggregation that finds each shingle text's
    *     GLOBAL FIRST occurrence (lexicographic min of (doc_id, pos) — a
    *     map-side-combinable min(struct), never a per-key sort);
    *  2. every NON-first occurrence of a shingle seen ≥ 2 times marks its
    *     w positions as duplicated (the keep-first rule: the first copy of
    *     any repeated span survives, matching the paper's "keep one
    *     occurrence" and [[dedupSegments]]' within-doc keep-first);
    *  3. marked intervals merge per doc via a ±1 boundary difference
    *     array and a per-doc running sum — the sweep-line idiom, no
    *     interval pair enumeration;
    *  4. output per doc: kept token count, the LONGEST duplicated run
    *     (gaps-and-islands over covered positions), and the rewritten
    *     text.
    *
    * Variable length ℓ ∈ {w..∞} comes from the standard reduction the
    * suffix-array family rests on: a repeated substring of ℓ ≥ w tokens
    * repeats all of its ℓ−w+1 constituent w-shingles CONSECUTIVELY, so the
    * covered-position union (and hence `longest_dup_run`) recovers every
    * maximal repeated span of length ≥ w exactly — no per-ℓ passes.
    *
    * Scale shape: one n-row shingle stream; ONE (shingle)-keyed
    * aggregation with map-side partial min; one equi-join back (AQE
    * skew-split absorbs boilerplate mega-shingles, same adjudication as
    * [[dupFraction]]); then only doc_id-keyed shuffles (bounded by the
    * longest document). Nothing quadratic, no driver state; the paper's
    * O(corpus) suffix array never materializes.
    *
    * Cross-engine exactness: all BIGINT counts, integer position
    * arithmetic, and a lexicographic (doc_id, pos) min that DuckDB
    * reproduces as a two-level min — no floats anywhere. Zero-token docs
    * produce no row (the [[dedupSegmentsGlobal]] contract). */
  def dedupSubstrings(docs: DataFrame, w: Int = 8,
      textCol: String = "text"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(w > 0, "w must be positive")
    val t = docs
      .select(col("doc_id"), fastTokens(col(textCol)).as("toks"))
      .withColumn("n", size(col("toks")))
      .filter(col("n") > 0).persist()
    val tokpos = t.select(col("doc_id"),
      posexplode(col("toks")).as(Seq("pos", "tok")))
    val parts = (1 to w).map(j => s"element_at(toks, i + ${j - 1})")
      .mkString(", ' ', ")
    val sh = t.filter(col("n") >= w)
      .select(col("doc_id"), posexplode(expr(
        s"transform(sequence(1, size(toks) - ${w - 1}), i -> concat($parts))"
      )).as(Seq("spos", "s")))
    // global first occurrence per shingle text: lexicographic min — the
    // keep-first anchor. min(struct) combines map-side, so a mega-repeated
    // boilerplate shingle costs one partial row per task, not a sort.
    val first = sh.groupBy("s")
      .agg(min(struct(col("doc_id"), col("spos"))).as("f"))
    val dup = sh.join(first, Seq("s"))
      .filter(!(col("doc_id") === col("f.doc_id") && col("spos") === col("f.spos")))
      .select("doc_id", "spos")
    // boundary difference array: +1 at span start, −1 one past span end;
    // per-doc running sum > 0 = position inside some non-first repeat
    val deltas = dup.select(col("doc_id"), col("spos").as("pos"), lit(1L).as("dlt"))
      .unionByName(dup.select(col("doc_id"), (col("spos") + w).as("pos"),
        lit(-1L).as("dlt")))
      .groupBy("doc_id", "pos").agg(sum("dlt").as("dlt"))
    val wCov = Window.partitionBy("doc_id").orderBy("pos")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cv =
      tokpos.join(deltas, Seq("doc_id", "pos"), "left")
        .withColumn("cov", sum(coalesce(col("dlt"), lit(0L))).over(wCov)).persist()
    // gaps-and-islands: consecutive covered positions share pos − rank
    val isl = cv.filter(col("cov") > 0L)
      .withColumn("grp", col("pos") -
        row_number().over(Window.partitionBy("doc_id").orderBy("pos")))
    val longest = isl.groupBy("doc_id", "grp").agg(count(lit(1)).as("run"))
      .groupBy("doc_id").agg(max("run").cast("long").as("longest_dup_run"))
    val keptAgg = cv.filter(col("cov") === 0L)
      .groupBy("doc_id").agg(count(lit(1)).cast("long").as("n_kept"),
        array_join(expr(
          "transform(sort_array(collect_list(struct(pos, tok))), x -> x.tok)"),
          " ").as("text_deduped"))
    t.select(col("doc_id"), col("n").cast("long").as("n_tokens"))
      .join(keptAgg, Seq("doc_id"), "left")
      .join(longest, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("longest_dup_run"), lit(0L)).as("longest_dup_run"),
        coalesce(col("text_deduped"), lit("")).as("text_deduped"))
  }

  /** DuckDB oracle for [[dedupSubstrings]] — same shingles, the
    * lexicographic first-occurrence min as a two-level min (min doc, then
    * min pos within it), the same difference-array sweep, islands, and
    * ordered reassembly. */
  def dedupSubstringsSqlDuck(w: Int = 8): String =
    s"""WITH t AS (
       |  SELECT doc_id, ${tokensSqlDuck("text")} AS toks,
       |    len(${tokensSqlDuck("text")}) AS n
       |  FROM documents WHERE len(${tokensSqlDuck("text")}) > 0),
       | tok AS (SELECT doc_id, unnest(toks) AS tok,
       |    generate_subscripts(toks, 1) - 1 AS pos FROM t),
       | sh AS (SELECT doc_id, i - 1 AS spos,
       |    array_to_string(list_slice(toks, i, i + ${w - 1}), ' ') AS s
       |  FROM (SELECT doc_id, toks,
       |          unnest(generate_series(1, n - ${w - 1})) AS i
       |        FROM t WHERE n >= $w)),
       | f1 AS (SELECT s, min(doc_id) AS fdoc FROM sh GROUP BY s),
       | f2 AS (SELECT sh.s, f1.fdoc, min(sh.spos) AS fpos
       |   FROM sh JOIN f1 ON sh.s = f1.s AND sh.doc_id = f1.fdoc
       |   GROUP BY sh.s, f1.fdoc),
       | dup AS (SELECT sh.doc_id, sh.spos FROM sh JOIN f2 ON sh.s = f2.s
       |   WHERE NOT (sh.doc_id = f2.fdoc AND sh.spos = f2.fpos)),
       | dg AS (SELECT doc_id, pos, CAST(sum(dlt) AS BIGINT) AS dlt FROM (
       |     SELECT doc_id, spos AS pos, 1 AS dlt FROM dup
       |     UNION ALL SELECT doc_id, spos + $w AS pos, -1 AS dlt FROM dup)
       |   GROUP BY doc_id, pos),
       | cv AS (SELECT tok.doc_id, tok.pos, tok.tok,
       |    sum(coalesce(dg.dlt, 0)) OVER (PARTITION BY tok.doc_id
       |      ORDER BY tok.pos ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cov
       |  FROM tok LEFT JOIN dg ON tok.doc_id = dg.doc_id AND tok.pos = dg.pos),
       | isl AS (SELECT doc_id, pos - row_number() OVER (
       |     PARTITION BY doc_id ORDER BY pos) AS grp
       |   FROM cv WHERE cov > 0),
       | runs AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS run
       |   FROM isl GROUP BY doc_id, grp),
       | longest AS (SELECT doc_id, max(run) AS longest_dup_run
       |   FROM runs GROUP BY doc_id),
       | keptagg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
       |    array_to_string(list(tok ORDER BY pos), ' ') AS text_deduped
       |   FROM cv WHERE cov = 0 GROUP BY doc_id)
       |SELECT t.doc_id, CAST(t.n AS BIGINT) AS n_tokens,
       |  coalesce(k.n_kept, 0) AS n_kept,
       |  coalesce(l.longest_dup_run, 0) AS longest_dup_run,
       |  coalesce(k.text_deduped, '') AS text_deduped
       |FROM t LEFT JOIN keptagg k ON t.doc_id = k.doc_id
       |LEFT JOIN longest l ON t.doc_id = l.doc_id
       |ORDER BY t.doc_id""".stripMargin

  /** Model-based quality filtering, the FineWeb-Edu shape (Penedo et al.
    * 2024 §3.2: score every document with a learned classifier, keep above
    * a threshold): a LINEAR PROBE over engineered integer features. The
    * weights here are a deterministic stub — a trained probe's weights
    * drop in unchanged — because the contribution is the DATAFLOW: feature
    * extraction fused into one map-only pass over the token array,
    * broadcast-free scoring (weights are plan literals), and an exact
    * integer score both engines reproduce bit-for-bit (no sigmoid — the
    * decision threshold is monotone in the linear score, so production
    * keep/drop semantics are identical and the score stays oracle-exact).
    *
    * Features (all exact BIGINT): token count saturated at 1000; stopword,
    * alpha and distinct-token ratios in ppm (×10⁶ DIV). Zero-token docs
    * score bias-only with zero features. Max |term| ≈ 10³ × 10⁶ — far
    * inside i64. Scale: map-only, pipelined into the scan, like
    * [[gopherRules]]. */
  /** Linear-probe weights in micro-units, the seam a REAL trained probe
    * drops into (ClassifierScoreSpec proves supplied-vs-default weights
    * produce the identical plan and scores): one coefficient per engineered
    * feature of [[classifierScore]], all exact integers so the score stays
    * oracle-exact at any weight values. [[ProbeWeights.Stub]] is the
    * deterministic default the oracle SQL mirrors. */
  final case class ProbeWeights(bias: Long, wLen: Long, wStop: Long,
    wAlpha: Long, wUniq: Long)
  object ProbeWeights {
    /** Stub weights: favor stopword-bearing mid-length prose with diverse
      * vocabulary — the engineered-feature analogue of the published
      * educational-quality probe (Penedo et al. 2024). Kept for specs (the
      * seam's differential tests); the production row runs
      * [[TrainedGopherV1]]. */
    val Stub: ProbeWeights = ProbeWeights(-480000000L, 700L, 800L, 300L, 400L)

    /** TRAINED probe weights (VERDICT r14 #5) — an actual logistic fit
      * computed OFFLINE and committed as literals, the FineWeb-Edu recipe
      * at fixture scale (train a cheap linear classifier against a richer
      * quality teacher, then score the corpus with the probe):
      *
      *  - label: the repo's Gopher-rule cascade keep decision
      *    ([[gopherRules]] — token count, mean token length, stopword
      *    floor, distinct-token ratio) on the sf0.01 documents fixture
      *    (500 docs, 22.4% positive);
      *  - features: exactly [[classifierScore]]'s four integers (f_len,
      *    f_stop_ppm, f_alpha_ppm, f_uniq_ppm), standardized for the
      *    solver and un-standardized back to raw-feature weights;
      *  - method: iteratively reweighted least squares to the convex
      *    logistic optimum (ridge 1e-6; converged in 7 Newton steps);
      *  - quantization: weights scaled by 1e8 onto the raw integer
      *    features and rounded — at this scale the integer score's SIGN
      *    agrees with the float optimum on every training doc, so the
      *    committed probe IS the trained decision boundary (score units
      *    are 1e-8 rather than micro; the threshold semantics are
      *    unchanged — keep ⇔ score ≥ 0).
      *
      * A 4-feature linear probe cannot represent the cascade's AND
      * exactly; held-out accuracy 0.81 both at sf0.001 and sf0.1
      * (train 0.83) — honest distillation quality, recorded in
      * ClassifierScoreSpec. */
    val TrainedGopherV1: ProbeWeights =
      ProbeWeights(2300803173L, -13603717L, 2398L, -1623L, -1139L)
  }

  def classifierScore(docs: DataFrame, thresholdMicro: Long = 0L,
      textCol: String = "text",
      weights: ProbeWeights = ProbeWeights.Stub): DataFrame = {
    val enStops = LangProfiles.head._2
    val ProbeWeights(bias, wLen, wStop, wAlpha, wUniq) = weights
    docs
      .select(col("doc_id"), fastTokens(col(textCol)).as("_toks"),
        stopwordCount(textCol, enStops).as("_nstop"),
        alphaCount(textCol).as("_nalpha"), charCount(textCol).as("_nchars"))
      .withColumn("n_tok", size(col("_toks")).cast("long"))
      .withColumn("f_len", least(col("n_tok"), lit(1000L)))
      .withColumn("f_stop_ppm", when(col("n_tok") > 0L,
        expr("(_nstop * 1000000L) DIV n_tok")).otherwise(0L))
      .withColumn("f_alpha_ppm", when(col("_nchars") > 0L,
        expr("(_nalpha * 1000000L) DIV _nchars")).otherwise(0L))
      .withColumn("f_uniq_ppm", when(col("n_tok") > 0L,
        expr(s"(CAST(size(array_distinct(_toks)) AS BIGINT) * 1000000L) DIV n_tok"))
        .otherwise(0L))
      .withColumn("score_micro",
        lit(bias) + lit(wLen) * col("f_len") + lit(wStop) * col("f_stop_ppm") +
          lit(wAlpha) * col("f_alpha_ppm") + lit(wUniq) * col("f_uniq_ppm"))
      .select(col("doc_id"), col("n_tok"), col("f_len"), col("f_stop_ppm"),
        col("f_alpha_ppm"), col("f_uniq_ppm"), col("score_micro"),
        (col("score_micro") >= thresholdMicro).cast("int").as("keep"))
  }

  /** Oracle twin of [[classifierScore]] — same tokenization, same ppm
    * features, same literal weights, same integer score. */
  def classifierScoreSqlDuck(thresholdMicro: Long = 0L,
      weights: ProbeWeights = ProbeWeights.Stub): String = {
    val enStops = LangProfiles.head._2
    val ProbeWeights(bias, wLen, wStop, wAlpha, wUniq) = weights
    s"""SELECT doc_id, n_tok, f_len, f_stop_ppm, f_alpha_ppm, f_uniq_ppm,
       |  score_micro,
       |  CAST(CASE WHEN score_micro >= $thresholdMicro THEN 1 ELSE 0 END AS INT) AS keep
       |FROM (
       |  SELECT doc_id, n_tok, f_len, f_stop_ppm, f_alpha_ppm, f_uniq_ppm,
       |    $bias + $wLen * f_len + $wStop * f_stop_ppm
       |      + $wAlpha * f_alpha_ppm + $wUniq * f_uniq_ppm AS score_micro
       |  FROM (
       |    SELECT doc_id, n_tok,
       |      least(n_tok, 1000) AS f_len,
       |      CASE WHEN n_tok > 0 THEN (n_stop * 1000000) // n_tok ELSE 0 END AS f_stop_ppm,
       |      CASE WHEN n_chars > 0 THEN (n_alpha * 1000000) // n_chars ELSE 0 END AS f_alpha_ppm,
       |      CASE WHEN n_tok > 0 THEN (n_uniq * 1000000) // n_tok ELSE 0 END AS f_uniq_ppm
       |    FROM (
       |      SELECT doc_id,
       |        CAST(len(${tokensSqlDuck("text")}) AS BIGINT) AS n_tok,
       |        CAST(${stopCountSqlDuck("text", enStops)} AS BIGINT) AS n_stop,
       |        CAST(length(regexp_replace(lower(text), '[^a-z]', '', 'g')) AS BIGINT) AS n_alpha,
       |        CAST(length(text) AS BIGINT) AS n_chars,
       |        CAST(len(list_distinct(${tokensSqlDuck("text")})) AS BIGINT) AS n_uniq
       |      FROM documents)))
       |ORDER BY doc_id""".stripMargin
  }

  /** URL canonicalization for web-corpus curation — the dedup-key step
    * every crawl pipeline runs before exact/near dedup (two crawls of one
    * page differ only in tracking params, casing, default ports, and dot
    * segments; canonicalizing first is what makes URL-keyed dedup and
    * per-site caps meaningful). Rules (RFC 3986 normalization + the
    * standard tracking-param strip):
    *   1. fragment dropped;
    *   2. scheme and host lowercased (path/query casing preserved);
    *   3. default port stripped (http:80, https:443);
    *   4. path: runs of '/' collapse, '/./' resolves, 'seg/../' resolves
    *      (4 fixed passes — depth ≥ 5 chains stay unresolved identically
    *      on both engines);
    *   5. trailing slash dropped (except the root path);
    *   6. query: params split on '&', empties and the utm_-prefixed,
    *      gclid and fbclid tracking params dropped, the rest BYTE-SORTED
    *      and rejoined ('?' dropped when none survive).
    *
    * Contract: absolute http(s) URLs (scheme required). Engine and oracle
    * run the SAME function-by-function string surgery (instr/substr
    * positions, fixed-pass regex folds, lambda filter + binary sort) — no
    * engine-specific parsing anywhere; scale shape: pure per-row string
    * algebra, map-only, pipelined into the scan. */
  def urlCanonicalize(urlCol: String): Column = expr(urlCanonExpr(urlCol))

  /** The Spark SQL text of the canonicalization: each named step textually
    * substituted bottom-up (Spark has no scalar WITH; Catalyst CSE
    * collapses the duplicated sub-expressions, and everything stays
    * codegen'd scalar string algebra). */
  private def urlCanonExpr(u: String): String = {
    val nf = s"(CASE WHEN instr($u, '#') > 0 THEN substr($u, 1, instr($u, '#') - 1) ELSE $u END)"
    val scheme = s"lower(substr($nf, 1, instr($nf, '://') - 1))"
    val rest = s"substr($nf, instr($nf, '://') + 3)"
    val slash = s"instr($rest, '/')"
    val hostport = s"lower(CASE WHEN $slash > 0 THEN substr($rest, 1, $slash - 1) ELSE $rest END)"
    val host =
      s"""(CASE WHEN $scheme = 'https' AND $hostport LIKE '%:443' THEN substr($hostport, 1, length($hostport) - 4)
         | WHEN $scheme = 'http' AND $hostport LIKE '%:80' THEN substr($hostport, 1, length($hostport) - 3)
         | ELSE $hostport END)""".stripMargin
    val pathq = s"(CASE WHEN $slash > 0 THEN substr($rest, $slash) ELSE '/' END)"
    val qpos = s"instr($pathq, '?')"
    val path0 = s"(CASE WHEN $qpos > 0 THEN substr($pathq, 1, $qpos - 1) ELSE $pathq END)"
    val p1 = s"regexp_replace($path0, '/{2,}', '/')"
    val dot = (1 to 4).foldLeft(p1)((acc, _) => s"regexp_replace($acc, '/\\\\./', '/')")
    val ddot = (1 to 4).foldLeft(dot)((acc, _) => s"regexp_replace($acc, '/[^/]+/\\\\.\\\\./', '/')")
    val path = s"(CASE WHEN length($ddot) > 1 AND $ddot LIKE '%/' THEN substr($ddot, 1, length($ddot) - 1) ELSE $ddot END)"
    val rawq = s"(CASE WHEN $qpos > 0 THEN substr($pathq, $qpos + 1) ELSE '' END)"
    val keptq = s"""array_join(array_sort(filter(split($rawq, '&'), p ->
      | p != '' AND NOT startswith(p, 'utm_')
      | AND NOT startswith(p, 'gclid=') AND NOT startswith(p, 'fbclid='))), '&')""".stripMargin
    s"""CASE WHEN instr($nf, '://') = 0 THEN NULL ELSE
       | concat($scheme, '://', $host, $path,
       |   CASE WHEN $keptq = '' THEN '' ELSE concat('?', $keptq) END)
       |END""".stripMargin
  }

  /** DuckDB twin of [[urlCanonExpr]] — same instr/substr positions, same
    * fixed-pass regex folds, same lambda filter and byte sort. Dialect
    * deltas only: instr→strpos, split→string_split, array_*→list_*,
    * startswith→starts_with, != → <>. */
  def urlCanonSqlDuck(u: String): String = {
    val nf = s"(CASE WHEN strpos($u, '#') > 0 THEN substr($u, 1, strpos($u, '#') - 1) ELSE $u END)"
    val scheme = s"lower(substr($nf, 1, strpos($nf, '://') - 1))"
    val rest = s"substr($nf, strpos($nf, '://') + 3)"
    val slash = s"strpos($rest, '/')"
    val hostport = s"lower(CASE WHEN $slash > 0 THEN substr($rest, 1, $slash - 1) ELSE $rest END)"
    val host =
      s"""(CASE WHEN $scheme = 'https' AND $hostport LIKE '%:443' THEN substr($hostport, 1, length($hostport) - 4)
         | WHEN $scheme = 'http' AND $hostport LIKE '%:80' THEN substr($hostport, 1, length($hostport) - 3)
         | ELSE $hostport END)""".stripMargin
    val pathq = s"(CASE WHEN $slash > 0 THEN substr($rest, $slash) ELSE '/' END)"
    val qpos = s"strpos($pathq, '?')"
    val path0 = s"(CASE WHEN $qpos > 0 THEN substr($pathq, 1, $qpos - 1) ELSE $pathq END)"
    val p1 = s"regexp_replace($path0, '/{2,}', '/', 'g')"
    val dot = (1 to 4).foldLeft(p1)((acc, _) => s"regexp_replace($acc, '/\\./', '/', 'g')")
    val ddot = (1 to 4).foldLeft(dot)((acc, _) => s"regexp_replace($acc, '/[^/]+/\\.\\./', '/', 'g')")
    val path = s"(CASE WHEN length($ddot) > 1 AND $ddot LIKE '%/' THEN substr($ddot, 1, length($ddot) - 1) ELSE $ddot END)"
    val rawq = s"(CASE WHEN $qpos > 0 THEN substr($pathq, $qpos + 1) ELSE '' END)"
    val keptq = s"""array_to_string(list_sort(list_filter(string_split($rawq, '&'), p ->
      | p <> '' AND NOT starts_with(p, 'utm_')
      | AND NOT starts_with(p, 'gclid=') AND NOT starts_with(p, 'fbclid='))), '&')""".stripMargin
    s"""CASE WHEN strpos($nf, '://') = 0 THEN NULL ELSE
       | $scheme || '://' || $host || $path ||
       |   CASE WHEN $keptq = '' THEN '' ELSE '?' || $keptq END
       |END""".stripMargin
  }

  /** Gopher-style rule-bundle quality filter (Rae et al. 2021 §A1.1,
    * MassiveText; the same rule family FineWeb/RefinedWeb reuse) adapted to
    * this corpus's signals: per-doc boolean rules over exact integer counts,
    * a doc survives only if every rule passes. The published line-based
    * rules (bullet/ellipsis line fractions) don't apply here — the fixture
    * corpus is single-line — so the bundle keeps the word-level rules:
    * word count in [20, 100000], mean word length in [3, 10], ≥ 2 stopword
    * hits, and ≥ 50% distinct tokens (the duplicate-word-fraction rule).
    *
    * Cross-engine exactness: every ratio rule is compared CROSS-MULTIPLIED
    * in BIGINT (3·n ≤ Σlen ≤ 10·n; 2·distinct ≥ n) — no division, no
    * doubles, no epsilon. Rule flags are INT 0/1, `keep` their product.
    * Scale shape: pure per-row array algebra over the token array — one
    * narrow map, zero shuffles, fully codegen'd; at 100 TB this is a
    * map-only pass pipelined into the scan. */
  def gopherRules(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val enStops = LangProfiles.head._2
    docs
      .select(col("doc_id"), fastTokens(col(textCol)).as("_toks"),
        stopwordCount(textCol, enStops).as("n_stop"))
      .withColumn("n_tok", size(col("_toks")).cast("long"))
      .withColumn("sum_tok_len",
        expr("aggregate(transform(_toks, t -> CAST(length(t) AS BIGINT)), 0L, (a, x) -> a + x)"))
      .withColumn("n_distinct", size(array_distinct(col("_toks"))).cast("long"))
      .withColumn("r_count",
        (col("n_tok") >= 20L && col("n_tok") <= 100000L).cast("int"))
      .withColumn("r_meanlen",
        (lit(3L) * col("n_tok") <= col("sum_tok_len") &&
          col("sum_tok_len") <= lit(10L) * col("n_tok")).cast("int"))
      .withColumn("r_stop", (col("n_stop") >= 2L).cast("int"))
      .withColumn("r_uniq", (lit(2L) * col("n_distinct") >= col("n_tok")).cast("int"))
      .withColumn("keep",
        col("r_count") * col("r_meanlen") * col("r_stop") * col("r_uniq"))
      .select("doc_id", "n_tok", "sum_tok_len", "n_stop", "n_distinct",
        "r_count", "r_meanlen", "r_stop", "r_uniq", "keep")
  }

  /** Corpus-wide duplicate-shingle fraction per document (the substring-
    * level dedup signal of Lee et al. 2021, "Deduplicating Training Data
    * Makes Language Models Better", adapted from suffix arrays to sliding
    * w-gram coverage): for each doc, the fraction of its sliding w-token
    * shingle positions whose shingle text also occurs in at least one OTHER
    * document. Unlike [[dedupSegmentsGlobal]] (disjoint segments, ≥3 global
    * repeats, rewrites text) this measures per-position overlap density and
    * flags rather than rewrites — the filter form the paper applies.
    *
    * Cross-engine exactness: `dup_ppm = (n_dup · 1e6) DIV n_shingles` and
    * `keep = (5 · n_dup ≤ n_shingles)` (≤ 20% duplicated) are pure BIGINT
    * arithmetic. Scale shape: shingle stream → one distinct-docs aggregation
    * (map-side combined) to get the ≥2-doc shingle set, one equi-join of the
    * stream against that set, one per-doc count — all keyed shuffles, never
    * all-pairs; the duplicated-shingle relation is the join's small side in
    * a lightly-duplicated corpus (boilerplate concentrates). The shingle
    * stream is cached so the join probe doesn't re-tokenize. */
  def dupFraction(docs: DataFrame, w: Int = 8, textCol: String = "text"): DataFrame = {
    require(w > 0, "w must be positive")
    val sh = Dedup.shingles(docs, w, textCol).select(col("doc_id"), col("tok").as("s")).persist()
    // shingles present in >= 2 distinct docs (doc-distinct first so a
    // within-doc repeat doesn't count as cross-doc duplication)
    val dup = sh.distinct()
      .groupBy("s").agg(count(lit(1)).as("_df"))
      .filter(col("_df") >= 2L)
      .select(col("s"), lit(1).as("_isdup"))
    val agg = sh.join(dup, Seq("s"), "left_outer")
      .groupBy("doc_id")
      .agg(count(lit(1)).cast("long").as("n_shingles"),
        coalesce(sum(col("_isdup")), lit(0L)).cast("long").as("n_dup"))
    docs.select(col("doc_id"))
      .join(agg, Seq("doc_id"), "left_outer")
      .select(col("doc_id"),
        coalesce(col("n_shingles"), lit(0L)).as("n_shingles"),
        coalesce(col("n_dup"), lit(0L)).as("n_dup"))
      .withColumn("dup_ppm",
        when(col("n_shingles") > 0L,
          expr("(n_dup * 1000000L) DIV n_shingles")
        ).otherwise(lit(0L)).cast("long"))
      .withColumn("keep",
        (lit(5L) * col("n_dup") <= col("n_shingles")).cast("int"))
  }

  // ---- oracle SQL builders (DuckDB dialect) ----------------------------

  /** Ordered w-shingle CTE body (lead-based; incomplete tail shingles null
    * out — mirrors Dedup.shingles). Yields rows (doc_id, source, s). */
  private[ext] def shingleCtesDuck(w: Int, where: String): String = {
    val parts = ("tok" +: (1 until w).map(j =>
      s"lead(tok, $j) OVER (PARTITION BY doc_id ORDER BY i)")).mkString(" || ' ' || ")
    s"""SELECT doc_id, source, $parts AS s FROM (
       |  SELECT doc_id, source, unnest(tks) AS tok, generate_subscripts(tks, 1) AS i
       |  FROM (SELECT doc_id, source, ${tokensSqlDuck("text")} AS tks
       |        FROM documents $where))""".stripMargin
  }

  def repetitionSqlDuck(w: Int = 3): String =
    s"""WITH sh AS (${shingleCtesDuck(w, "")}),
       | c AS (SELECT doc_id, s, count(*) AS c FROM sh WHERE s IS NOT NULL
       |       GROUP BY doc_id, s),
       | st AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_shingles,
       |        CAST(count(*) AS BIGINT) AS n_distinct,
       |        CAST(max(c) AS BIGINT) AS max_rep FROM c GROUP BY doc_id)
       |SELECT d.doc_id, coalesce(n_shingles, 0) AS n_shingles,
       |  coalesce(n_distinct, 0) AS n_distinct, coalesce(max_rep, 0) AS max_rep,
       |  CASE WHEN coalesce(n_shingles, 0) > 0
       |    THEN CAST(n_shingles - n_distinct AS DOUBLE) / n_shingles
       |    ELSE 0.0 END AS dup_ratio
       |FROM documents d LEFT JOIN st ON d.doc_id = st.doc_id
       |ORDER BY d.doc_id""".stripMargin

  def decontaminateSqlDuck(benchSource: String, w: Int = 5): String =
    s"""WITH shc AS (SELECT DISTINCT doc_id, md5(s) AS h
       |   FROM (${shingleCtesDuck(w, s"WHERE source <> '$benchSource'")})
       |   WHERE s IS NOT NULL),
       | shb AS (SELECT DISTINCT md5(s) AS h
       |   FROM (${shingleCtesDuck(w, s"WHERE source = '$benchSource'")})
       |   WHERE s IS NOT NULL),
       | bad AS (SELECT DISTINCT doc_id FROM shc JOIN shb USING (h))
       |SELECT doc_id, source FROM documents
       |WHERE source <> '$benchSource'
       |  AND doc_id NOT IN (SELECT doc_id FROM bad)
       |ORDER BY doc_id""".stripMargin

  /** DuckDB oracle for [[contaminationCard]] — same distinct projections,
    * same hash join, same two distinct counts and rate division. */
  def contaminationCardSqlDuck(w: Int = 5): String =
    s"""WITH shs AS (SELECT DISTINCT doc_id, source, md5(s) AS h
       |   FROM (${shingleCtesDuck(w, "")}) WHERE s IS NOT NULL),
       | bench AS (SELECT DISTINCT h, source AS bench_source FROM shs),
       | hits AS (SELECT shs.doc_id, shs.source AS cand_source, bench_source, h
       |   FROM shs JOIN bench USING (h)
       |   WHERE shs.source <> bench_source),
       | card AS (SELECT cand_source, bench_source,
       |     CAST(count(DISTINCT doc_id) AS BIGINT) AS n_contaminated,
       |     CAST(count(DISTINCT h) AS BIGINT) AS n_shared_shingles
       |   FROM hits GROUP BY 1, 2),
       | ps AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs
       |   FROM documents GROUP BY source)
       |SELECT cand_source, bench_source, n_docs, n_contaminated,
       |  n_shared_shingles,
       |  CAST(n_contaminated AS DOUBLE) / CAST(n_docs AS DOUBLE)
       |    AS contamination_rate
       |FROM card JOIN ps ON ps.source = card.cand_source
       |ORDER BY cand_source, bench_source""".stripMargin

  /** DuckDB oracle for [[dedupSegments]] — same segmentation arithmetic and
    * the same keep-first rule via DuckDB's indexed lambda (`i` is 1-based
    * there, 0-based in Spark — hence `= i` vs `== i + 1`). */
  def dedupSegmentsSqlDuck(w: Int = 8): String =
    s"""WITH t AS (
       |  SELECT doc_id, ${tokensSqlDuck("text")} AS toks,
       |    len(${tokensSqlDuck("text")}) AS n
       |  FROM documents WHERE len(${tokensSqlDuck("text")}) > 0),
       | sg AS (
       |  SELECT doc_id,
       |    list_transform(generate_series(0, (n + ${w - 1}) // $w - 1),
       |      i -> array_to_string(list_slice(toks, i * $w + 1, i * $w + $w), ' ')) AS segs
       |  FROM t),
       | kp AS (
       |  SELECT doc_id, segs,
       |    list_filter(segs, (x, i) -> list_position(segs, x) = i) AS kept
       |  FROM sg)
       |SELECT doc_id,
       |  CAST(len(segs) AS BIGINT) AS n_segments,
       |  CAST(len(kept) AS BIGINT) AS n_kept,
       |  array_to_string(kept, ' ') AS text_deduped
       |FROM kp
       |ORDER BY doc_id""".stripMargin

  /** DuckDB oracle for [[dedupSegmentsGlobal]] — same segmentation, the
    * same corpus-wide count threshold, the same ordered reassembly. */
  def dedupSegmentsGlobalSqlDuck(w: Int = 4, minRep: Long = 3): String =
    s"""WITH t AS (
       |  SELECT doc_id, ${tokensSqlDuck("text")} AS toks,
       |    len(${tokensSqlDuck("text")}) AS n
       |  FROM documents WHERE len(${tokensSqlDuck("text")}) > 0),
       | sg AS (
       |  SELECT doc_id, unnest(segs) AS seg, generate_subscripts(segs, 1) AS pos
       |  FROM (SELECT doc_id,
       |    list_transform(generate_series(0, (n + ${w - 1}) // $w - 1),
       |      i -> array_to_string(list_slice(toks, i * $w + 1, i * $w + $w), ' ')) AS segs
       |  FROM t)),
       | rep AS (SELECT seg FROM sg GROUP BY seg HAVING count(*) >= $minRep),
       | kept AS (SELECT doc_id, pos, seg FROM sg
       |          WHERE seg NOT IN (SELECT seg FROM rep)),
       | agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
       |         array_to_string(list(seg ORDER BY pos), ' ') AS text_deduped
       |         FROM kept GROUP BY doc_id),
       | base AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_segments
       |          FROM sg GROUP BY doc_id)
       |SELECT b.doc_id, b.n_segments,
       |  coalesce(a.n_kept, 0) AS n_kept,
       |  coalesce(a.text_deduped, '') AS text_deduped
       |FROM base b LEFT JOIN agg a ON b.doc_id = a.doc_id
       |ORDER BY b.doc_id""".stripMargin

  /** DuckDB oracle for [[gopherRules]] — identical tokenization, identical
    * cross-multiplied BIGINT rule arithmetic, keep = product of flags. */
  def gopherRulesSqlDuck: String = {
    val enStops = LangProfiles.head._2
    val inList = enStops.map(w => s"'$w'").mkString(", ")
    s"""SELECT doc_id, n_tok, sum_tok_len, n_stop, n_distinct,
       |  r_count, r_meanlen, r_stop, r_uniq,
       |  r_count * r_meanlen * r_stop * r_uniq AS keep
       |FROM (
       |  SELECT doc_id, n_tok, sum_tok_len, n_stop, n_distinct,
       |    CAST(CASE WHEN n_tok >= 20 AND n_tok <= 100000 THEN 1 ELSE 0 END AS INT) AS r_count,
       |    CAST(CASE WHEN 3 * n_tok <= sum_tok_len AND sum_tok_len <= 10 * n_tok THEN 1 ELSE 0 END AS INT) AS r_meanlen,
       |    CAST(CASE WHEN n_stop >= 2 THEN 1 ELSE 0 END AS INT) AS r_stop,
       |    CAST(CASE WHEN 2 * n_distinct >= n_tok THEN 1 ELSE 0 END AS INT) AS r_uniq
       |  FROM (
       |    SELECT doc_id,
       |      CAST(len(toks) AS BIGINT) AS n_tok,
       |      CAST(coalesce(list_sum(list_transform(toks, t -> length(t))), 0) AS BIGINT) AS sum_tok_len,
       |      CAST(len(list_filter(toks, t -> t IN ($inList))) AS BIGINT) AS n_stop,
       |      CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct
       |    FROM (SELECT doc_id, ${tokensSqlDuck("text")} AS toks FROM documents)))
       |ORDER BY doc_id""".stripMargin
  }

  /** DuckDB oracle for [[dupFraction]] — same sliding shingles (lead form),
    * same doc-distinct ≥2-doc rule, same BIGINT ppm/keep arithmetic. */
  def dupFractionSqlDuck(w: Int = 8): String =
    s"""WITH sh AS (SELECT doc_id, s FROM (${shingleCtesDuck(w, "")})
       |   WHERE s IS NOT NULL),
       | dup AS (SELECT s FROM (SELECT DISTINCT doc_id, s FROM sh)
       |   GROUP BY s HAVING count(*) >= 2),
       | agg AS (SELECT sh.doc_id, CAST(count(*) AS BIGINT) AS n_shingles,
       |   CAST(sum(CASE WHEN dup.s IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_dup
       |   FROM sh LEFT JOIN dup ON sh.s = dup.s GROUP BY sh.doc_id)
       |SELECT d.doc_id,
       |  CAST(coalesce(a.n_shingles, 0) AS BIGINT) AS n_shingles,
       |  CAST(coalesce(a.n_dup, 0) AS BIGINT) AS n_dup,
       |  CAST(CASE WHEN coalesce(a.n_shingles, 0) > 0
       |    THEN (a.n_dup * 1000000) // a.n_shingles ELSE 0 END AS BIGINT) AS dup_ppm,
       |  CAST(CASE WHEN 5 * coalesce(a.n_dup, 0) <= coalesce(a.n_shingles, 0)
       |    THEN 1 ELSE 0 END AS INT) AS keep
       |FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id
       |ORDER BY d.doc_id""".stripMargin

  /** Weighted sparse document similarity: cosine over TF-IDF-weighted
    * `w`-token shingles, each doc represented by its `topM` highest-weight
    * shingles (standard sparse-vector truncation — the pruned inverted
    * index). Complements the set-based family: Jaccard treats all shared
    * shingles equally, while this weighs RARE shared phrasing far higher —
    * boilerplate overlap scores low even when it dominates the token count.
    *
    * Cross-engine exactness: the weight is the integer
    * `tf · (idfScale DIV df)` — idf as a quantized rational, no log, no
    * division by N (cosine is invariant to any all-docs constant factor, so
    * the N in N/df cancels; NOTES.md rule on libm). Dots and norms are then
    * exact BIGINT sums (bounded: iw ≤ maxTf·idfScale, products ≤ ~1e14 —
    * far inside int64 even summed over topM terms), and the final
    * dot/(√·√) runs in double over the exact integers — bit-identical on
    * any partitioning and both engines.
    *
    * Scale shape: tf/df are map-side-combined aggregations; top-M is a
    * WindowGroupLimit-capped rank per doc; the pair join is an equi-join on
    * the PRUNED posting lists, whose length is self-regularizing — a hot
    * (ubiquitous) shingle has low idf and drops out of every doc's top-M,
    * so candidate volume tracks rare-shingle co-occurrence, not corpus².
    * (An adversarial corpus of identical docs concentrates one posting
    * list; the salted-join treatment of [[Dedup.jaccardPairs]] applies —
    * here the fixture's max posting length is ~25 at sf0.1.) */
  def tfidfCosinePairs(docs: DataFrame, w: Int = 3, topM: Int = 10,
      idfScale: Long = 1000000L, threshold: Double = 0.5,
      textCol: String = "text"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tf = Dedup.shingles(docs, w, textCol)
      .groupBy(col("doc_id"), col("tok").as("term")).agg(count(lit(1)).as("tf"))
    val dfq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val win = Window.partitionBy("doc_id").orderBy(col("iw").desc, col("term"))
    // the pruned top-M posting relation is consumed THREE times (both
    // sides of the pair join + the norms rollup) and is deterministic from
    // the fixture — StageStore it once per JVM (VERDICT r15 #3) so every
    // later consumer/action scans the slim stage instead of re-running
    // shingle → tf → df → window; persist keeps the within-action fan-out
    // from re-scanning even when tmpfs is unavailable
    val topm = graft.etl.StageStore.materialize(
      tf.join(dfq, "term")
        .select(col("doc_id"), col("term"),
          (col("tf") * expr(s"$idfScale DIV df")).as("iw"))
        .withColumn("_rn", row_number().over(win)).filter(col("_rn") <= topM)
        .drop("_rn"), "tfidf_topm").persist()
    val norms = topm.groupBy("doc_id").agg(sum(col("iw") * col("iw")).as("n2"))
    topm.as("a").join(topm.as("b"),
        col("a.term") === col("b.term") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(sum(col("a.iw") * col("b.iw")).as("dot"))
      .join(norms.select(col("doc_id").as("doc_a"), col("n2").as("na2")), "doc_a")
      .join(norms.select(col("doc_id").as("doc_b"), col("n2").as("nb2")), "doc_b")
      .withColumn("cosine", col("dot").cast("double") /
        (sqrt(col("na2").cast("double")) * sqrt(col("nb2").cast("double"))))
      .filter(col("cosine") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("cosine"))
  }

  /** Oracle twin of [[tfidfCosinePairs]] — shingles via the same
    * unnest+lead construction as [[Dedup.minhashShinglesSqlDuck]], then the
    * identical integer weighting and double cosine. */
  def tfidfCosinePairsSqlDuck(w: Int = 3, topM: Int = 10,
      idfScale: Long = 1000000L, threshold: Double = 0.5): String = {
    val parts = ("tok" +: (1 until w).map(j =>
      s"lead(tok, $j) OVER (PARTITION BY doc_id ORDER BY i)")).mkString(" || ' ' || ")
    s"""WITH tk AS (SELECT doc_id, ${tokensSqlDuck("text")} AS tks FROM documents),
       | pos AS (SELECT doc_id, unnest(tks) AS tok, generate_subscripts(tks, 1) AS i FROM tk),
       | sh AS (SELECT doc_id, $parts AS term FROM pos),
       | tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
       |   FROM sh WHERE term IS NOT NULL GROUP BY doc_id, term),
       | dfq AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term),
       | wt AS (SELECT doc_id, tf.term, tf * ($idfScale // df) AS iw
       |   FROM tf JOIN dfq ON tf.term = dfq.term),
       | topm AS (SELECT doc_id, term, iw FROM (
       |    SELECT *, row_number() OVER (PARTITION BY doc_id
       |      ORDER BY iw DESC, term) AS rn FROM wt)
       |   WHERE rn <= $topM),
       | norms AS (SELECT doc_id, CAST(sum(iw * iw) AS BIGINT) AS n2
       |   FROM topm GROUP BY doc_id),
       | dots AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |    CAST(sum(a.iw * b.iw) AS BIGINT) AS dot
       |   FROM topm a JOIN topm b ON a.term = b.term AND a.doc_id < b.doc_id
       |   GROUP BY 1, 2)
       |SELECT doc_a, doc_b,
       |  CAST(dot AS DOUBLE) / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE))) AS cosine
       |FROM dots JOIN norms na ON na.doc_id = doc_a
       |  JOIN norms nb ON nb.doc_id = doc_b
       |WHERE CAST(dot AS DOUBLE) / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE)))
       |  >= CAST($threshold AS DOUBLE)
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  def tokensSqlDuck(textCol: String): String =
    s"regexp_extract_all(lower($textCol), '$TokenPattern', 0)"

  def stopCountSqlDuck(textCol: String, words: Seq[String]): String = {
    val inList = words.map(w => s"'$w'").mkString(", ")
    s"len(list_filter(${tokensSqlDuck(textCol)}, t -> t IN ($inList)))"
  }

  def qualitySqlDuck: String = {
    val enStops = LangProfiles.head._2
    s"""SELECT doc_id, n_chars, n_tokens, n_alpha, n_stop,
       |  CASE WHEN n_chars > 0 THEN CAST(n_alpha AS DOUBLE) / n_chars ELSE 0.0 END AS alpha_ratio,
       |  CASE WHEN n_tokens > 0 THEN CAST(n_stop AS DOUBLE) / n_tokens ELSE 0.0 END AS stop_ratio
       |FROM (
       |  SELECT doc_id,
       |    CAST(length(text) AS BIGINT) AS n_chars,
       |    CAST(len(${tokensSqlDuck("text")}) AS BIGINT) AS n_tokens,
       |    CAST(length(regexp_replace(lower(text), '[^a-z]', '', 'g')) AS BIGINT) AS n_alpha,
       |    CAST(${stopCountSqlDuck("text", enStops)} AS BIGINT) AS n_stop
       |  FROM documents)
       |ORDER BY doc_id""".stripMargin
  }

  def langIdSqlDuck: String = {
    val scores = LangProfiles.map { case (lang, words) =>
      s"CAST(${stopCountSqlDuck("text", words)} AS BIGINT) AS ${lang}_score"
    }.mkString(",\n    ")
    val langs = LangProfiles.map(_._1)
    val caseChain = langs.init.zipWithIndex.map { case (lang, i) =>
      val conds = langs.drop(i + 1).map(l2 => s"${lang}_score >= ${l2}_score").mkString(" AND ")
      s"WHEN $conds THEN '$lang'"
    }.mkString(" ")
    s"""SELECT doc_id, ${langs.map(l => s"${l}_score").mkString(", ")},
       |  CASE $caseChain ELSE '${langs.last}' END AS lang_pred
       |FROM (
       |  SELECT doc_id,
       |    $scores
       |  FROM documents)
       |ORDER BY doc_id""".stripMargin
  }

  /** Classifier evaluation for [[langId]]: the confusion matrix against
    * the corpus's own `lang` labels plus per-cell share of the true-label
    * row (micro-units) — the quality harness a langid gate ships with.
    * One narrow scoring pass + one (label, prediction)-keyed aggregate;
    * output is ≤ |langs|² rows. */
  def langIdEval(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val pred = langId(docs, textCol).select(col("doc_id"), col("lang_pred"))
    val cells = docs.select(col("doc_id"), col("lang"))
      .join(pred, "doc_id")
      .groupBy("lang", "lang_pred").agg(count(lit(1)).as("n"))
    val totals = cells.groupBy("lang").agg(sum(col("n")).as("n_true"))
    cells.join(totals, "lang")
      .select(col("lang"), col("lang_pred"), col("n"),
        expr("n * 1000000 DIV n_true").as("share_micro"))
      .orderBy("lang", "lang_pred")
  }

  def langIdEvalSqlDuck: String =
    s"""WITH pred AS (SELECT doc_id, lang_pred FROM ($langIdSqlDuck)),
       | cells AS (SELECT d.lang, p.lang_pred, CAST(count(*) AS BIGINT) AS n
       |   FROM documents d JOIN pred p ON d.doc_id = p.doc_id
       |   GROUP BY d.lang, p.lang_pred),
       | totals AS (SELECT lang, CAST(sum(n) AS BIGINT) AS n_true
       |   FROM cells GROUP BY lang)
       |SELECT c.lang, c.lang_pred, c.n, (c.n * 1000000) // t.n_true AS share_micro
       |FROM cells c JOIN totals t ON c.lang = t.lang
       |ORDER BY c.lang, c.lang_pred""".stripMargin

  def fingerprintSqlDuck: String =
    s"""SELECT doc_id, md5(array_to_string(${tokensSqlDuck("text")}, ' ')) AS fp
       |FROM documents ORDER BY doc_id""".stripMargin

  // =====================================================================
  // PII redaction
  // =====================================================================

  /** PII patterns, dialect-portable (no backslashes — Spark/Java and
    * DuckDB/RE2 parse these identically; see [[TokenPattern]]'s note). */
  val EmailPat = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+[.][a-zA-Z]{2,}"
  val PhonePat = "[0-9]{3}[-][0-9]{3}[-][0-9]{4}"
  val Ipv4Pat = "[0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}"

  /** Test/oracle helper, NOT part of redaction itself: the fixture corpus
    * is synthetic word salad with no PII in it, so the driver query seeds
    * the SAME deterministic doc_id-derived PII tail (an email, a phone, an
    * IPv4) on both engines before calling [[piiRedact]] — otherwise the
    * operator would be hash-checked on input it never fires on.
    * (Integer→string rendering is identical in Spark and DuckDB.) */
  def piiSeeded(textCol: String): Column =
    concat(col(textCol), lit(" contact user"), col("doc_id"),
      lit("@mail"), col("doc_id") % 7, lit(".example.com tel 415-555-"),
      lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
      lit(" ip 10."), col("doc_id") % 256, lit(".0."), (col("doc_id") * 7) % 256)

  def piiSeededSqlDuck(textCol: String): String =
    s"$textCol || ' contact user' || doc_id || '@mail' || (doc_id % 7) || " +
      "'.example.com tel 415-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || " +
      "' ip 10.' || (doc_id % 256) || '.0.' || ((doc_id * 7) % 256)"

  /** PII redaction of the text column AS GIVEN: count emails / phones /
    * IPv4s, then replace each with a typed redaction token. Redaction
    * order (email → phone → ip) matters when matches could overlap and is
    * fixed identically on both engines. Pure narrow projection — regexp
    * count + three chained global replaces per row, shuffle-free at any
    * scale. Counts are taken on the pre-redaction text. */
  def piiRedact(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs.select(col("doc_id"), col(textCol).as("_t"))
      .select(
        col("doc_id"),
        size(expr(s"regexp_extract_all(_t, '$EmailPat', 0)")).cast("long").as("n_email"),
        size(expr(s"regexp_extract_all(_t, '$PhonePat', 0)")).cast("long").as("n_phone"),
        size(expr(s"regexp_extract_all(_t, '$Ipv4Pat', 0)")).cast("long").as("n_ip"),
        regexp_replace(
          regexp_replace(
            regexp_replace(col("_t"), EmailPat, "[EMAIL]"),
            PhonePat, "[PHONE]"),
          Ipv4Pat, "[IP]").as("redacted"))

  /** Oracle twin of the driver query: seeded tail + redaction. */
  def piiRedactSqlDuck: String =
    s"""SELECT doc_id,
       |  CAST(len(regexp_extract_all(_t, '$EmailPat', 0)) AS BIGINT) AS n_email,
       |  CAST(len(regexp_extract_all(_t, '$PhonePat', 0)) AS BIGINT) AS n_phone,
       |  CAST(len(regexp_extract_all(_t, '$Ipv4Pat', 0)) AS BIGINT) AS n_ip,
       |  regexp_replace(
       |    regexp_replace(
       |      regexp_replace(_t, '$EmailPat', '[EMAIL]', 'g'),
       |      '$PhonePat', '[PHONE]', 'g'),
       |    '$Ipv4Pat', '[IP]', 'g') AS redacted
       |FROM (SELECT doc_id, ${piiSeededSqlDuck("text")} AS _t FROM documents)
       |ORDER BY doc_id""".stripMargin

  // =====================================================================
  // BM25 retrieval scoring
  // =====================================================================

  /** BM25 relevance of every document against a fixed query-term set — the
    * retrieval scorer a curation pipeline uses for query-driven corpus
    * selection (and decontamination triage). Standard Robertson tf
    * saturation; the idf is the exact rational (N - df + 0.5)/(df + 0.5) —
    * NOT log-scaled, same monotone-transform argument as [[tfidfTopTerms]]
    * (libm `ln` is not guaranteed identically rounded across engines, while
    * every op used here is IEEE-correctly-rounded and evaluated in the
    * same textual order on both sides, so scores are bit-identical).
    *
    * Shape: one narrow pass builds (dl, tf_i) per doc; corpus stats (N,
    * total length, per-term df) are ONE single-row aggregate, combined
    * back with a broadcast single-row cross join — the adjudicated
    * 1-row-aggregate crossJoin pattern. No per-term shuffle, no posting
    * lists; linear at any corpus size.
    */
  def bm25(docs: DataFrame, terms: Seq[String] = Seq("spark", "join", "stream"),
      k1: Double = 1.2, b: Double = 0.75, textCol: String = "text"): DataFrame = {
    require(terms.nonEmpty && terms == terms.distinct)
    val perDoc = docs
      .select(col("doc_id"), tokensArr(textCol).as("_toks"))
      .select(Seq(col("doc_id"), size(col("_toks")).cast("long").as("dl")) ++
        terms.map(t =>
          size(filter(col("_toks"), x => x === lit(t))).cast("long").as(s"tf_$t")): _*)
    val stats = perDoc.agg(
      count(lit(1)).as("n_docs"),
      sum(col("dl")).as("sum_dl") +: terms.map(t =>
        sum(when(col(s"tf_$t") > 0, 1L).otherwise(0L)).as(s"df_$t")): _*)
    perDoc.crossJoin(broadcast(stats))
      .select(Seq(col("doc_id")) ++ terms.map(t => col(s"tf_$t")) :+
        terms.map(t => bm25Term(col(s"tf_$t"), bm25Norm(k1, b),
          bm25Idf(col(s"df_$t")), k1)).reduce(_ + _).as("bm25"): _*)
  }

  /** One BM25 term contribution, `tf·(k1+1) / (tf + norm) · idf`: Robertson
    * tf saturation ([[bm25Norm]] is the doc-length part of its denominator)
    * times the ln-free rational idf ([[bm25Idf]]). The constants render
    * through Double.toString on BOTH engines (round-trip exact), so k1+1
    * parses to the identical double in the SQL twins. Every operand is cast
    * to DOUBLE explicitly BEFORE any arithmetic: DuckDB parses `0.5`-style
    * literals as exact DECIMAL and would carry wider intermediates than
    * IEEE double, diverging by an ulp. A part computed once into a column
    * gives the same double as the same part written inline. */
  private def bm25Term(tf: Column, norm: Column, idf: Column, k1: Double): Column =
    tf.cast("double") * lit(k1 + 1) / (tf.cast("double") + norm) * idf

  /** `k1·(1 − b + b·dl/avgdl)`, reading `dl`, `n_docs` and `sum_dl`. */
  private def bm25Norm(k1: Double, b: Double): Column =
    lit(k1) * (lit(1 - b) + lit(b) *
      ((col("dl") * col("n_docs")).cast("double") / col("sum_dl").cast("double")))

  /** `(N − df + 0.5) / (df + 0.5)`, reading `n_docs`. */
  private def bm25Idf(df: Column): Column =
    ((col("n_docs") - df).cast("double") + lit(0.5)) / (df.cast("double") + lit(0.5))

  def bm25SqlDuck(terms: Seq[String] = Seq("spark", "join", "stream"),
      k1: Double = 1.2, b: Double = 0.75): String = {
    val k1p1 = k1 + 1
    val oneMinusB = 1 - b
    val tfCols = terms.map(t =>
      s"CAST(len(list_filter(_toks, x -> x = '$t')) AS BIGINT) AS tf_$t").mkString(",\n    ")
    val dfCols = terms.map(t =>
      s"CAST(sum(CASE WHEN tf_$t > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df_$t").mkString(",\n    ")
    val score = terms.map(t =>
      s"CAST(tf_$t AS DOUBLE) * CAST($k1p1 AS DOUBLE) / " +
        s"(CAST(tf_$t AS DOUBLE) + CAST($k1 AS DOUBLE) * (CAST($oneMinusB AS DOUBLE) + CAST($b AS DOUBLE) * " +
        s"(CAST(dl * n_docs AS DOUBLE) / CAST(sum_dl AS DOUBLE)))) * " +
        s"((CAST(n_docs - df_$t AS DOUBLE) + CAST(0.5 AS DOUBLE)) / " +
        s"(CAST(df_$t AS DOUBLE) + CAST(0.5 AS DOUBLE)))").mkString(" + ")
    s"""WITH d AS (
       |  SELECT doc_id, CAST(len(_toks) AS BIGINT) AS dl,
       |    $tfCols
       |  FROM (SELECT doc_id, ${tokensSqlDuck("text")} AS _toks FROM documents)),
       | st AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(dl) AS BIGINT) AS sum_dl,
       |    $dfCols
       |  FROM d)
       |SELECT doc_id, ${terms.map(t => s"tf_$t").mkString(", ")},
       |  $score AS bm25
       |FROM d CROSS JOIN st ORDER BY doc_id""".stripMargin
  }

  /** Each query's distinct whitespace-split terms, in first-seen order. */
  private def queryTerms(queries: Seq[(String, String)]): Seq[(String, Seq[String])] =
    queries.map { case (qid, text) =>
      qid -> text.split("\\s+").filter(_.nonEmpty).distinct.toSeq }

  /** The scoring relation of the search family ([[searchTopK]],
    * [[searchRrf]], [[searchEval]]): one row per (query, doc) pair that
    * shares at least one query term, (query_id, doc_id, score_nano, rel).
    * `rel` is the number of the query's distinct terms in the doc;
    * `score_nano` is the BM25 score, each term's contribution floor-
    * quantized to 1e-9 units before an exact BIGINT sum (null for a null
    * doc_id, which never reaches a BM25 list but counts in the corpus
    * stats and can reach a `rel` ranking).
    *
    * Built the way [[bm25]] is built. One narrow pass counts each query
    * term in each document's tokens ([[graft.functions.TermCounts]]: one
    * hash lookup per token); rows sharing a doc_id merge into one
    * document through a doc_id-keyed sum of one slim row per document, and
    * only documents with a token survive it (n_docs counts only those).
    * The corpus stats (N, total length, each query term's df) are ONE
    * single-row aggregate over the merged documents, broadcast back; the
    * doc_id exchange under both is the same plan, so Spark reuses it and
    * the corpus is tokenized once per action. No (term, doc) relation
    * exists. */
  private def bm25Scored(docs: DataFrame, queries: Seq[(String, String)],
      k1: Double, b: Double, textCol: String): DataFrame = {
    import org.apache.spark.sql.GraftColumnBridge.{toColumn, toExpression}
    require(queries.nonEmpty && queries.map(_._1).distinct.size == queries.size)
    val qTerms = queryTerms(queries)
    val terms = qTerms.flatMap(_._2).distinct
    val tf = terms.indices.map(i => s"_tf$i")
    val df = terms.indices.map(i => s"_df$i")
    // dl > 0 is tested after the doc_id sum: a filter below it would be
    // pushed into the scan and tokenize every document twice
    val perDoc = docs.filter(col(textCol).isNotNull)
      .select(col("doc_id"), tokensArr(textCol).as("_toks"))
      .select(col("doc_id"), size(col("_toks")).cast("long").as("dl"),
        toColumn(graft.functions.TermCounts(toExpression(col("_toks")), terms)).as("_tfs"))
      .groupBy("doc_id")
      .agg(sum(col("dl")).as("dl"), tf.indices.map(i => sum(col("_tfs")(i)).as(tf(i))): _*)
      .filter(col("dl") > 0)
    // each term's idf once, in the 1-row stats; each doc's length norm once
    val idf = terms.indices.map(i => s"_idf$i")
    val stats = perDoc.agg(count(lit(1)).as("n_docs"),
        sum(col("dl")).as("sum_dl") +: tf.zip(df).map { case (t, d) =>
          sum(when(col(t) > 0, 1L).otherwise(0L)).as(d) }: _*)
      .select(col("n_docs") +: col("sum_dl") +:
        df.zip(idf).map { case (d, i) => bm25Idf(col(d)).as(i) }: _*)
    val index = terms.zipWithIndex.toMap
    def has(i: Int): Column = col(tf(i)) > 0
    val perQuery = qTerms.map { case (qid, ts) =>
      val is = ts.map(index)
      struct(lit(qid).as("query_id"),
        when(col("doc_id").isNotNull, is.map(i =>
          when(has(i), floor(bm25Term(col(tf(i)), col("_norm"), col(idf(i)), k1) *
            lit(1000000000.0)).cast("long")).otherwise(0L))
          .foldLeft(lit(0L))(_ + _)).as("score_nano"),
        is.map(i => when(has(i), 1L).otherwise(0L))
          .foldLeft(lit(0L))(_ + _).as("rel"))
    }
    perDoc.crossJoin(broadcast(stats))
      .withColumn("_norm", bm25Norm(k1, b))
      .select(col("doc_id"), explode(array(perQuery: _*)).as("_q"))
      .filter(col("_q.rel") > 0)
      .select(col("_q.query_id"), col("doc_id"), col("_q.score_nano"), col("_q.rel"))
  }

  /** The first `k` rows per query by `by` descending, then doc_id: a
    * row_number filter, which Spark plans as a partial WindowGroupLimit
    * before the one exchange on query_id. */
  private def topPerQuery(scored: DataFrame, by: String, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("query_id").orderBy(col(by).desc, col("doc_id"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
  }

  /** The BM25 list of every query: its top `k` docs by score_nano. */
  private def bm25List(scored: DataFrame, k: Int): DataFrame =
    topPerQuery(scored.filter(col("score_nano").isNotNull), "score_nano", k)

  /** Multi-query BM25 retrieval: rank the corpus against a SET of queries —
    * the serving-path complement to [[bm25]] (which scores every doc
    * against one fixed term list). Each query touches only docs sharing at
    * least one of its terms; never a queries × corpus cross product.
    *
    * Determinism: each per-term contribution is one fixed-order double
    * expression (identical text in the oracle), FLOOR-quantized to 1e-9
    * score units BEFORE the (query, doc) sum — the sum is then exact
    * BIGINT arithmetic, so partitioning cannot perturb ranking, and floor
    * (unlike a decimal CAST, which rounds Spark's shortest-repr string but
    * DuckDB's exact binary value) is representation-insensitive. The ≤
    * 1e-9-per-term bias is pinned into the score's semantics on both
    * engines. IDF is the same ln-free rational form as [[bm25]]. Rows that
    * share a doc_id are one document; a null doc_id is never ranked.
    *
    * Shape: the one-pass scoring relation [[bm25Scored]], then top-k per
    * query as a WindowGroupLimit (partial top-k before the one exchange on
    * query_id), so only k candidates per query leave each partition. */
  def searchTopK(docs: DataFrame,
      queries: Seq[(String, String)] = Seq(
        "q_hash" -> "hash join stream",
        "q_scan" -> "scan filter batch",
        "q_sort" -> "window sort order"),
      k: Int = 10, k1: Double = 1.2, b: Double = 0.75,
      textCol: String = "text"): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    bm25List(bm25Scored(docs, queries, k1, b, textCol), k)
      .select(col("query_id"), col("rank"), col("doc_id"),
        (col("score_nano").cast("double") / lit(1000000000.0)).as("score"))
  }

  /** RAKE keyword extraction (Rapid Automatic Keyword Extraction, Rose et
    * al. 2010), word-level variant: candidate phrases are the maximal runs
    * of non-stopword tokens (stopwords and document boundaries delimit),
    * each word scores `deg(w)/freq(w)` where `freq` counts the word's
    * occurrences in candidates and `deg` sums the lengths of the phrases
    * those occurrences sit in, and a phrase scores the sum of its words'
    * scores. Output: the corpus's top-`k` distinct phrases by score with
    * occurrence counts — the unsupervised keyword list a corpus card or
    * search-suggestion pipeline starts from.
    *
    * Exactness: per-word scores floor-quantize to micro-units
    * (`deg·10^6 DIV freq`, exact while deg ≤ 9.2·10^12 — the surprisal
    * bound class) and phrase scores are exact BIGINT sums of them; a given
    * phrase TEXT always has one score (word scores are global), so the
    * distinct-phrase rollup is well-defined.
    *
    * Scale shape: one posexplode projection; run ids from a PER-DOCUMENT
    * running count (partitioned window — never global); phrase texts
    * rebuilt from sort_array(collect_list(struct(pos, w))) so assembly is
    * partitioning-invariant; word stats are vocabulary-keyed rollups; the
    * global top-k is TakeOrdered with rank over the k survivors
    * ([[Chunking.topNgrams]]'s idiom). */
  def rakeKeywords(docs: DataFrame, k: Int = 50,
      textCol: String = "text"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k >= 1 && k <= 100000, s"k out of range: $k")
    val stops = LangProfiles.head._2
    val w = Window.partitionBy("doc_id").orderBy("pos")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val pt =
      docs.filter(col("doc_id").isNotNull)
        .select(col("doc_id"), posexplode(tokensArr(textCol)).as(Seq("pos", "w")))
        .withColumn("is_stop", col("w").isin(stops: _*).cast("int"))
        .withColumn("run", sum(col("is_stop")).over(w))
        .filter(col("is_stop") === 0)
        .select(col("doc_id"), col("run"), col("pos"), col("w")).persist()
    // persisted (r17): plen feeds both the word-stats join and the final
    // phrase rollup — unpersisted, the collect_list phrase assembly ran
    // twice; one slim row per candidate phrase
    val plen = pt.groupBy("doc_id", "run")
      .agg(count(lit(1)).as("len"),
        array_join(expr("transform(sort_array(collect_list(" +
          "struct(pos, w))), x -> x.w)"), " ").as("phrase")).persist()
    val ws = pt.join(plen.select(col("doc_id"), col("run"), col("len")),
        Seq("doc_id", "run"))
      .groupBy("w")
      .agg(count(lit(1)).as("freq"), sum(col("len")).as("deg"))
      .select(col("w"),
        expr("(deg * CAST(1000000 AS BIGINT)) DIV freq").as("wscore"))
    val psc = pt.join(ws, "w")
      .groupBy("doc_id", "run").agg(sum(col("wscore")).as("score_micro"))
    val agg = plen.join(psc, Seq("doc_id", "run"))
      .groupBy("phrase")
      .agg(max(col("len")).as("n_words"), max(col("score_micro")).as("score_micro"),
        count(lit(1)).as("n_occurrences"))
    val topK = agg.orderBy(col("score_micro").desc, col("phrase")).limit(k).persist()
    val ahead = broadcast(topK.select(col("score_micro").as("_bs"),
      col("phrase").as("_bp")))
    topK.join(ahead, col("_bs") > col("score_micro") ||
        (col("_bs") === col("score_micro") && col("_bp") < col("phrase")),
        "left_outer")
      .groupBy(col("phrase"), col("n_words"), col("score_micro"),
        col("n_occurrences"))
      .agg((count(col("_bp")) + 1L).as("rank"))
      .select("rank", "phrase", "n_words", "score_micro", "n_occurrences")
  }

  /** Oracle twin of [[rakeKeywords]]: 1-based subscripts, running stopword
    * count for run ids, string_agg phrase assembly, identical integer
    * scoring, plain row_number top-k. */
  def rakeKeywordsSqlDuck(k: Int = 50): String = {
    val stopsIn = LangProfiles.head._2.map(s => s"'$s'").mkString(", ")
    s"""WITH tk AS (SELECT doc_id, ${tokensSqlDuck("text")} AS tks
       |  FROM documents WHERE doc_id IS NOT NULL),
       | pos AS (SELECT doc_id, unnest(tks) AS w,
       |     generate_subscripts(tks, 1) AS pos FROM tk),
       | m AS (SELECT doc_id, w, pos,
       |    CASE WHEN w IN ($stopsIn) THEN 1 ELSE 0 END AS is_stop FROM pos),
       | r AS (SELECT doc_id, w, pos, is_stop,
       |    CAST(sum(is_stop) OVER (PARTITION BY doc_id ORDER BY pos
       |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS run FROM m),
       | pt AS (SELECT doc_id, run, pos, w FROM r WHERE is_stop = 0),
       | plen AS (SELECT doc_id, run, CAST(count(*) AS BIGINT) AS len,
       |     string_agg(w, ' ' ORDER BY pos) AS phrase
       |   FROM pt GROUP BY doc_id, run),
       | ws AS (SELECT w, (CAST(sum(plen.len) AS BIGINT) * 1000000)
       |      // CAST(count(*) AS BIGINT) AS wscore
       |   FROM pt JOIN plen USING (doc_id, run) GROUP BY w),
       | psc AS (SELECT pt.doc_id, pt.run,
       |     CAST(sum(ws.wscore) AS BIGINT) AS score_micro
       |   FROM pt JOIN ws USING (w) GROUP BY pt.doc_id, pt.run),
       | agg AS (SELECT plen.phrase, max(plen.len) AS n_words,
       |     max(psc.score_micro) AS score_micro,
       |     CAST(count(*) AS BIGINT) AS n_occurrences
       |   FROM plen JOIN psc USING (doc_id, run) GROUP BY plen.phrase)
       |SELECT CAST(row_number() OVER (ORDER BY score_micro DESC, phrase)
       |    AS BIGINT) AS rank,
       |  phrase, n_words, score_micro, n_occurrences
       |FROM agg ORDER BY score_micro DESC, phrase LIMIT $k""".stripMargin
  }

  /** Positional PHRASE search — the retrieval operator BM25's bag-of-words
    * scoring cannot express: a document matches only where the query's
    * tokens appear CONSECUTIVELY. Implementation is the classic positional-
    * postings intersection, join-shaped the way a distributed index runs
    * it: each posting (doc, pos, term) that matches a phrase term at offset
    * `off` votes for anchor `pos − off`; an anchor with votes from ALL
    * offsets is a full occurrence (correct even for phrases with repeated
    * words — for a fixed anchor each offset can only be matched by one
    * position). Output: top-k docs per phrase by occurrence count,
    * (phrase_id, rank, doc_id, n_hits).
    *
    * Scale shape: ONE posexplode projection of the corpus; the broadcast
    * phrase-term join discards every posting whose term is not in any
    * phrase (the selectivity a real inverted index gets from seek); the
    * anchor rollup and hit rollup are map-side combinable; the rank window
    * partitions by phrase over docs-with-hits only. All exact integers. */
  def phraseSearch(docs: DataFrame,
      phrases: Seq[(String, String)] = Seq(
        "p_tablehash" -> "table hash",
        "p_custjoin" -> "customer join",
        "p_filterscan" -> "part filter scan"),
      k: Int = 10, textCol: String = "text"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(phrases.nonEmpty && phrases.map(_._1).distinct.size == phrases.size)
    require(k >= 1, s"k must be >= 1, got $k")
    val spark = docs.sparkSession
    import spark.implicits._
    val pos = docs.select(col("doc_id"),
      posexplode(tokensArr(textCol)).as(Seq("pos", "term")))
    val pt = phrases.flatMap { case (pid, text) =>
        text.split("\\s+").filter(_.nonEmpty).zipWithIndex
          .map { case (w, i) => (pid, w, i) } }
      .toDF("phrase_id", "term", "off")
    val lens = phrases.map { case (pid, t) =>
        (pid, t.split("\\s+").count(_.nonEmpty).toLong) }
      .toDF("phrase_id", "plen")
    val hits = pos.join(broadcast(pt), "term")
      .select(col("phrase_id"), col("doc_id"),
        (col("pos") - col("off")).as("anchor"))
      .groupBy("phrase_id", "doc_id", "anchor")
      .agg(count(lit(1)).as("nmatch"))
      .join(broadcast(lens), "phrase_id")
      .filter(col("nmatch") === col("plen"))
      .groupBy("phrase_id", "doc_id").agg(count(lit(1)).as("n_hits"))
    val w = Window.partitionBy("phrase_id")
      .orderBy(col("n_hits").desc, col("doc_id"))
    hits.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("phrase_id", "rank", "doc_id", "n_hits")
  }

  /** Oracle twin of [[phraseSearch]]: 1-based generate_subscripts positions
    * (anchor arithmetic is engine-internal — only full-match counts
    * surface), same anchor-vote intersection. */
  def phraseSearchSqlDuck(
      phrases: Seq[(String, String)] = Seq(
        "p_tablehash" -> "table hash",
        "p_custjoin" -> "customer join",
        "p_filterscan" -> "part filter scan"),
      k: Int = 10): String = {
    val ptRows = phrases.flatMap { case (pid, text) =>
        text.split("\\s+").filter(_.nonEmpty).zipWithIndex
          .map { case (w, i) => s"('$pid', '$w', $i)" } }.mkString(", ")
    val lenRows = phrases.map { case (pid, t) =>
        s"('$pid', ${t.split("\\s+").count(_.nonEmpty)})" }.mkString(", ")
    s"""WITH tk AS (SELECT doc_id, ${tokensSqlDuck("text")} AS tks FROM documents),
       | pos AS (SELECT doc_id, unnest(tks) AS term,
       |     generate_subscripts(tks, 1) - 1 AS pos FROM tk),
       | pt(phrase_id, term, off) AS (VALUES $ptRows),
       | pl(phrase_id, plen) AS (VALUES $lenRows),
       | anchors AS (SELECT pt.phrase_id, pos.doc_id,
       |     pos.pos - pt.off AS anchor, CAST(count(*) AS BIGINT) AS nmatch
       |   FROM pos JOIN pt ON pos.term = pt.term GROUP BY 1, 2, 3),
       | hits AS (SELECT a.phrase_id, a.doc_id,
       |     CAST(count(*) AS BIGINT) AS n_hits
       |   FROM anchors a JOIN pl USING (phrase_id)
       |   WHERE a.nmatch = pl.plen GROUP BY 1, 2)
       |SELECT phrase_id, rank, doc_id, n_hits FROM (
       |  SELECT phrase_id, doc_id, n_hits,
       |    CAST(row_number() OVER (PARTITION BY phrase_id
       |      ORDER BY n_hits DESC, doc_id) AS BIGINT) AS rank
       |  FROM hits)
       |WHERE rank <= $k ORDER BY phrase_id, rank""".stripMargin
  }

  /** The BM25 scoring chain as a reusable CTE body ending in
    * `sc(query_id, doc_id, score_nano)` — shared by [[searchTopKSqlDuck]]
    * and oracles that build ON the BM25 ranking (RRF fusion, nDCG). */
  private[ext] def bm25CteDuck(
      queries: Seq[(String, String)], k1: Double, b: Double): String = {
    val k1p1 = k1 + 1
    val oneMinusB = 1 - b
    val qRows = queryTerms(queries)
      .flatMap { case (qid, ts) => ts.map(t => s"('$qid', '$t')") }.mkString(", ")
    s""" toks AS (SELECT doc_id, unnest(${tokensSqlDuck("text")}) AS term
       |    FROM documents),
       | tf AS (SELECT term, doc_id, CAST(count(*) AS BIGINT) AS tf
       |   FROM toks GROUP BY term, doc_id),
       | dl AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dl
       |   FROM toks GROUP BY doc_id),
       | df AS (SELECT term, CAST(count(*) AS BIGINT) AS df
       |   FROM tf GROUP BY term),
       | st AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
       |     CAST(sum(dl) AS BIGINT) AS sum_dl FROM dl),
       | q(query_id, term) AS (VALUES $qRows),
       | sc AS (SELECT q.query_id, tf.doc_id,
       |    CAST(sum(CAST(floor((
       |      CAST(tf.tf AS DOUBLE) * CAST($k1p1 AS DOUBLE) /
       |      (CAST(tf.tf AS DOUBLE) + CAST($k1 AS DOUBLE) * (CAST($oneMinusB AS DOUBLE) + CAST($b AS DOUBLE) *
       |        (CAST(dl.dl * st.n_docs AS DOUBLE) / CAST(st.sum_dl AS DOUBLE)))) *
       |      ((CAST(st.n_docs - df.df AS DOUBLE) + CAST(0.5 AS DOUBLE)) /
       |       (CAST(df.df AS DOUBLE) + CAST(0.5 AS DOUBLE)))
       |      ) * 1000000000.0E0) AS BIGINT)) AS BIGINT) AS score_nano
       |   FROM tf JOIN q ON tf.term = q.term
       |   JOIN df ON df.term = tf.term
       |   JOIN dl ON dl.doc_id = tf.doc_id
       |   CROSS JOIN st
       |   GROUP BY q.query_id, tf.doc_id)""".stripMargin
  }

  def searchTopKSqlDuck(
      queries: Seq[(String, String)] = Seq(
        "q_hash" -> "hash join stream",
        "q_scan" -> "scan filter batch",
        "q_sort" -> "window sort order"),
      k: Int = 10, k1: Double = 1.2, b: Double = 0.75): String =
    s"""WITH${bm25CteDuck(queries, k1, b)}
       |SELECT query_id, rank, doc_id,
       |  CAST(score_nano AS DOUBLE) / 1000000000.0E0 AS score FROM (
       |  SELECT query_id, doc_id, score_nano,
       |    CAST(row_number() OVER (PARTITION BY query_id
       |      ORDER BY score_nano DESC, doc_id) AS BIGINT) AS rank
       |  FROM sc)
       |WHERE rank <= $k ORDER BY query_id, rank""".stripMargin

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
    * Scale shape: both rankings read the one scoring relation
    * ([[bm25Scored]]), each a partial WindowGroupLimit before its exchange
    * on query_id; fusion is a (query, doc)-keyed max over the union of the
    * two ≤ depth-per-query lists, which that shared partitioning already
    * clusters — list-sized, never corpus-sized, and no further exchange. */
  def searchRrf(docs: DataFrame,
      queries: Seq[(String, String)] = Seq(
        "q_hash" -> "hash join stream",
        "q_scan" -> "scan filter batch",
        "q_sort" -> "window sort order"),
      k: Int = 10, kRrf: Int = 60, depth: Int = 50,
      textCol: String = "text"): DataFrame = {
    require(k >= 1 && kRrf >= 1 && depth >= k,
      s"bad params: k=$k kRrf=$kRrf depth=$depth")
    val scored = bm25Scored(docs, queries, 1.2, 0.75, textCol)
    val none = lit(null).cast("long")
    val bm = bm25List(scored, depth)
      .select(col("query_id"), col("doc_id"), col("rank").as("r1"), none.as("r2"))
    val ov = topPerQuery(scored, "rel", depth)
      .select(col("query_id"), col("doc_id"), none.as("r1"), col("rank").as("r2"))
    val fused = bm.union(ov)
      .groupBy("query_id", "doc_id").agg(max(col("r1")).as("r1"), max(col("r2")).as("r2"))
      .select(col("query_id"), col("doc_id"),
        (coalesce(expr(s"CAST(1000000 AS BIGINT) DIV ($kRrf + r1)"), lit(0L)) +
          coalesce(expr(s"CAST(1000000 AS BIGINT) DIV ($kRrf + r2)"), lit(0L)))
          .as("rrf_micro"),
        coalesce(col("r1"), lit(0L)).as("bm_rank"),
        coalesce(col("r2"), lit(0L)).as("ov_rank"))
    topPerQuery(fused, "rrf_micro", k)
      .select("query_id", "rank", "doc_id", "rrf_micro", "bm_rank", "ov_rank")
  }

  /** Oracle twin of [[searchRrf]]: the shared BM25 CTE, the overlap
    * ranking, the same integer fusion. */
  def searchRrfSqlDuck(
      queries: Seq[(String, String)] = Seq(
        "q_hash" -> "hash join stream",
        "q_scan" -> "scan filter batch",
        "q_sort" -> "window sort order"),
      k: Int = 10, kRrf: Int = 60, depth: Int = 50,
      k1: Double = 1.2, b: Double = 0.75): String =
    s"""WITH${bm25CteDuck(queries, k1, b)},
       | bm AS (SELECT query_id, doc_id,
       |    CAST(row_number() OVER (PARTITION BY query_id
       |      ORDER BY score_nano DESC, doc_id) AS BIGINT) AS r1 FROM sc),
       | bmk AS (SELECT * FROM bm WHERE r1 <= $depth),
       | rel AS (SELECT q.query_id, d.doc_id,
       |     CAST(count(*) AS BIGINT) AS rel
       |   FROM (SELECT DISTINCT doc_id, term FROM toks) d
       |   JOIN q ON d.term = q.term GROUP BY q.query_id, d.doc_id),
       | ov AS (SELECT query_id, doc_id,
       |    CAST(row_number() OVER (PARTITION BY query_id
       |      ORDER BY rel DESC, doc_id) AS BIGINT) AS r2 FROM rel),
       | ovk AS (SELECT * FROM ov WHERE r2 <= $depth),
       | fused AS (SELECT coalesce(b.query_id, o.query_id) AS query_id,
       |     coalesce(b.doc_id, o.doc_id) AS doc_id,
       |     coalesce(1000000 // ($kRrf + b.r1), 0)
       |       + coalesce(1000000 // ($kRrf + o.r2), 0) AS rrf_micro,
       |     coalesce(b.r1, 0) AS bm_rank, coalesce(o.r2, 0) AS ov_rank
       |   FROM bmk b FULL JOIN ovk o
       |     ON b.query_id = o.query_id AND b.doc_id = o.doc_id)
       |SELECT query_id, rank, doc_id, CAST(rrf_micro AS BIGINT) AS rrf_micro,
       |  bm_rank, ov_rank FROM (
       |  SELECT *, CAST(row_number() OVER (PARTITION BY query_id
       |    ORDER BY rrf_micro DESC, doc_id) AS BIGINT) AS rank
       |  FROM fused)
       |WHERE rank <= $k ORDER BY query_id, rank""".stripMargin

  // =====================================================================
  // Inverted-index posting lists
  // =====================================================================
  // BPE merge learning (tokenizer training, the distributed half)
  // =====================================================================

  /** The first `rounds` byte-pair-encoding merges learned from the corpus
    * (Sennrich et al. ACL'16), one row per round: (merge_round, left_sym,
    * right_sym, pair_count). This is the distributed half of tokenizer
    * training — the part that must see all 100 TB.
    *
    * Scale shape: the ONLY corpus-sized pass is the initial word-frequency
    * rollup (one map-side-combinable groupBy). Every merge round then runs
    * over the WORD-TYPE table (|vocab| rows — Heaps'-law-bounded, millions
    * at worst, corpus-size-independent): adjacent-pair counting explodes
    * ≤ word-length pairs per type weighted by freq, and the argmax pulls
    * exactly ONE row to the driver per round (bounded driver state, the
    * same adjudicated pattern as the IVF centroid pull).
    *
    * Exactness: counts are BIGINT sums; the winning pair is the (count
    * DESC, left, right) total order — no floats anywhere. Words render as
    * '|'-delimited symbol strings ('|h|e|y|'); a merge is one literal
    * `replace` of '|a|b|' with '|ab|' — leftmost non-overlapping in BOTH
    * engines (UTF8String.replace and DuckDB replace verified to agree,
    * incl. the overlapped 'aaa' case → '|aa|a|'). '|' cannot collide:
    * symbols are [a-z0-9] concatenations. Pair positions count WITH
    * overlap ('aaa' counts (a,a) twice), matching the reference
    * get_stats() semantics.
    *
    * Rounds stop early if no pair remains (every word fused to one
    * symbol); real corpora never get close at small `rounds`. */
  def bpeMerges(docs: DataFrame, rounds: Int = 6,
      textCol: String = "text"): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    bpeLearn(docs, rounds, textCol)._2
      .toDF("merge_round", "left_sym", "right_sym", "pair_count")
      .orderBy("merge_round")
  }

  /** Shared learner for [[bpeMerges]] / [[bpeEncode]]: returns the
    * post-merge word-type table (word, s = '|'-delimited symbols, freq)
    * and the learned merges. */
  private[ext] def bpeLearn(docs: DataFrame, rounds: Int, textCol: String)
      : (DataFrame, Seq[(Long, String, String, Long)]) = {
    require(rounds >= 1 && rounds <= 32, s"rounds must be in [1,32], got $rounds")
    val wf =
      docs.select(explode(tokensArr(textCol)).as("word"))
        .groupBy("word").agg(count(lit(1)).as("freq")).persist()
    var w = wf.select(col("word"),
      concat(lit("|"), regexp_replace(col("word"), "(.)", "$1|")).as("s"),
      col("freq"))
    val merges = scala.collection.mutable.ArrayBuffer[(Long, String, String, Long)]()
    var r = 1
    var exhausted = false
    while (r <= rounds && !exhausted) {
      val syms = filter(split(col("s"), "\\|"), x => x =!= "")
      val pairs = w.select(col("freq"), syms.as("syms"))
        .filter(size(col("syms")) >= 2)
        .select(col("freq"), explode(transform(
          sequence(lit(1), size(col("syms")) - 1),
          i => struct(element_at(col("syms"), i).as("a"),
            element_at(col("syms"), i + 1).as("b")))).as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum(col("freq")).as("cnt"))
      val top = pairs.orderBy(col("cnt").desc, col("a"), col("b")).limit(1).collect()
      if (top.isEmpty) exhausted = true
      else {
        val (a, b, c) = (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        merges += ((r.toLong, a, b, c))
        // a, b are [a-z0-9]+ — safe to inline as SQL literals
        w = w.select(col("word"),
          expr(s"replace(s, '|$a|$b|', '|$a$b|')").as("s"), col("freq"))
        r += 1
      }
    }
    (w, merges.toSeq)
  }

  /** The APPLY half of BPE — the part that actually runs over all 100 TB:
    * tokenize the corpus with the [[bpeLearn]]ed merges and report per
    * source (n_words, n_pieces, pieces_per_word_micro). The encode itself
    * is ONE equi-join of corpus word occurrences against the Heaps-bounded
    * word-type table (Spark broadcasts it when small; a shuffle join
    * otherwise) plus a map-side-combinable per-source sum — no per-round
    * corpus passes, because all merging happened on word TYPES. Exact
    * BIGINT counts; the ratio is a micro-unit integer DIV. */
  def bpeEncode(docs: DataFrame, rounds: Int = 6,
      textCol: String = "text"): DataFrame = {
    val (w, _) = bpeLearn(docs, rounds, textCol)
    val pieces = w.select(col("word"),
      size(filter(split(col("s"), "\\|"), x => x =!= "")).cast("long").as("np"))
    docs.select(col("source"), explode(tokensArr(textCol)).as("word"))
      .join(pieces, "word")
      .groupBy("source")
      .agg(count(lit(1)).as("n_words"), sum(col("np")).as("n_pieces"))
      .select(col("source"), col("n_words"), col("n_pieces"),
        expr("n_pieces * 1000000 DIV n_words").as("pieces_per_word_micro"))
      .orderBy("source")
  }

  /** Oracle twin of [[bpeMerges]]: `rounds` chained CTE triples
    * (pairs → argmax → replace), identical delimiter rendering, identical
    * (cnt DESC, a, b) tie-break, the same leftmost-non-overlapping
    * `replace`. An independent fixpoint-free formulation — DuckDB holds
    * every round as a relation while the engine iterates. Every CTE is
    * AS MATERIALIZED: wN is referenced by both pN+1 and wN+1 (and mN three
    * times), so inlined CTEs re-evaluate the whole prefix chain per
    * reference — exponential in rounds (measured: >120 s vs 0.1 s at
    * sf0.001). */
  /** The shared round-chain CTE body (w0..wN, pN, mN — all MATERIALIZED;
    * wN carries the original word so the encode oracle can join back). */
  private def bpeChainCteDuck(rounds: Int): String = {
    val init =
      s""" w0 AS MATERIALIZED (SELECT word,
         |     '|' || regexp_replace(word, '(.)', '\\1|', 'g') AS s, freq
         |   FROM (SELECT word, CAST(count(*) AS BIGINT) AS freq FROM (
         |     SELECT unnest(${tokensSqlDuck("text")}) AS word FROM documents)
         |     GROUP BY word))""".stripMargin
    val rounds_ = (1 to rounds).map { i =>
      val prev = s"w${i - 1}"
      s""" p$i AS MATERIALIZED (
         |   SELECT syms[i] AS a, syms[i+1] AS b, CAST(sum(freq) AS BIGINT) AS cnt
         |   FROM (
         |     SELECT syms, freq, unnest(generate_series(1, len(syms)-1)) AS i
         |     FROM (SELECT list_filter(string_split(s, '|'), x -> x <> '') AS syms,
         |       freq FROM $prev))
         |   GROUP BY 1, 2),
         | m$i AS MATERIALIZED (SELECT a, b, cnt FROM p$i ORDER BY cnt DESC, a, b LIMIT 1),
         | w$i AS MATERIALIZED (SELECT word, replace(s,
         |     '|' || (SELECT a FROM m$i) || '|' || (SELECT b FROM m$i) || '|',
         |     '|' || (SELECT a FROM m$i) || (SELECT b FROM m$i) || '|') AS s, freq
         |   FROM $prev)""".stripMargin
    }.mkString(",\n")
    s"$init,\n$rounds_"
  }

  def bpeMergesSqlDuck(rounds: Int = 6): String = {
    val union = (1 to rounds).map { i =>
      s"SELECT CAST($i AS BIGINT) AS merge_round, a AS left_sym, b AS right_sym, cnt AS pair_count FROM m$i"
    }.mkString("\n UNION ALL ")
    s"""WITH${bpeChainCteDuck(rounds)}
       |$union
       |ORDER BY merge_round""".stripMargin
  }

  /** Oracle twin of [[bpeEncode]]: the same chain, then one join of word
    * occurrences (with source) against the final word table's piece
    * counts. */
  def bpeEncodeSqlDuck(rounds: Int = 6): String =
    s"""WITH${bpeChainCteDuck(rounds)},
       | pieces AS MATERIALIZED (SELECT word,
       |   CAST(len(list_filter(string_split(s, '|'), x -> x <> '')) AS BIGINT) AS np
       |   FROM w$rounds),
       | occ AS (SELECT source, unnest(${tokensSqlDuck("text")}) AS word
       |   FROM documents)
       |SELECT occ.source,
       |  CAST(count(*) AS BIGINT) AS n_words,
       |  CAST(sum(pieces.np) AS BIGINT) AS n_pieces,
       |  (CAST(sum(pieces.np) AS BIGINT) * 1000000) // CAST(count(*) AS BIGINT)
       |    AS pieces_per_word_micro
       |FROM occ JOIN pieces USING (word)
       |GROUP BY occ.source
       |ORDER BY occ.source""".stripMargin

  // =====================================================================
  // Retrieval evaluation: nDCG@k + MRR over the BM25 ranking
  // =====================================================================

  /** Pinned 1/log2(rank+1) DCG discount literals for ranks 1..10 — decimal
    * strings embedded VERBATIM in both the Scala plan and the DuckDB oracle,
    * so each engine parses the identical nearest-double (the repo-wide
    * libm-free rule: Java and DuckDB log() disagree at 1 ulp, literals
    * cannot). */
  private[ext] val DcgDiscounts: Seq[(Long, String)] = Seq(
    1L -> "1.0", 2L -> "0.6309297535714574", 3L -> "0.5",
    4L -> "0.43067655807339306", 5L -> "0.38685280723454163",
    6L -> "0.3562071871080222", 7L -> "0.3333333333333333",
    8L -> "0.3154648767857287", 9L -> "0.30102999566398114",
    10L -> "0.2890648263178878")

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
    * Shape: the BM25 ranking, the ideal ranking and the rel ≥ 2 count all
    * read the one scoring relation ([[bm25Scored]]), whose rows carry rel,
    * so no join looks rel up; each ranking is a partial WindowGroupLimit
    * before its exchange on query_id, the discount is an element of a
    * k-literal array, and the three parts meet in one query_id-keyed
    * aggregate over their union, which that shared partitioning already
    * clusters. Output is |queries| rows — driver-safe at any corpus size. */
  def searchEval(docs: DataFrame,
      queries: Seq[(String, String)] = Seq(
        "q_hash" -> "hash join stream",
        "q_scan" -> "scan filter batch",
        "q_sort" -> "window sort order"),
      k: Int = 10, k1: Double = 1.2, b: Double = 0.75,
      textCol: String = "text"): DataFrame = {
    require(k >= 1 && k <= DcgDiscounts.size,
      s"k must be in [1, ${DcgDiscounts.size}], got $k")
    val scored = bm25Scored(docs, queries, k1, b, textCol)
    val discounts = typedLit(DcgDiscounts.take(k).map(_._2.toDouble))
    val gainNano = floor(col("rel").cast("double") *
      element_at(discounts, col("rank").cast("int")) * lit(1000000000.0)).cast("long")
    val none = lit(null).cast("long")
    // the three per-query parts, each already partitioned on query_id, meet
    // in one query_id-keyed aggregate; a query with no BM25 list (its only
    // match a null doc_id) has no dcg and no row
    val bm = bm25List(scored, k).select(col("query_id"), gainNano.as("dcg"),
      when(col("rel") >= 2, col("rank")).as("first_rel"), none.as("idcg"),
      none.as("n_rel"))
    val ideal = topPerQuery(scored, "rel", k)
      .select(col("query_id"), none, none, gainNano, none)
    val nRel = scored.filter(col("rel") >= 2)
      .groupBy("query_id").agg(count(lit(1)).as("n_rel"))
      .select(col("query_id"), none, none, none, col("n_rel"))
    bm.union(ideal).union(nRel)
      .groupBy("query_id")
      .agg(sum(col("dcg")).as("dcg_nano"), min(col("first_rel")).as("first_rel_rank"),
        sum(col("idcg")).as("idcg_nano"), sum(col("n_rel")).as("n_rel"))
      .filter(col("dcg_nano").isNotNull)
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

  /** Oracle twin of [[searchEval]]: the shared BM25 scoring CTEs, a rel
    * CTE, the same pinned discount VALUES table, identical floor-to-nano
    * quantization and integer DIVs. */
  def searchEvalSqlDuck(
      queries: Seq[(String, String)] = Seq(
        "q_hash" -> "hash join stream",
        "q_scan" -> "scan filter batch",
        "q_sort" -> "window sort order"),
      k: Int = 10, k1: Double = 1.2, b: Double = 0.75): String = {
    val wRows = DcgDiscounts.take(k)
      .map { case (r, s) => s"($r, CAST($s AS DOUBLE))" }.mkString(", ")
    s"""WITH${bm25CteDuck(queries, k1, b)},
       | w(rank, w) AS (VALUES $wRows),
       | topk AS (SELECT query_id, doc_id, rank FROM (
       |   SELECT query_id, doc_id,
       |     CAST(row_number() OVER (PARTITION BY query_id
       |       ORDER BY score_nano DESC, doc_id) AS BIGINT) AS rank
       |   FROM sc) WHERE rank <= $k),
       | rel AS (SELECT q.query_id, t.doc_id, CAST(count(*) AS BIGINT) AS rel
       |   FROM (SELECT DISTINCT doc_id, term FROM toks) t
       |   JOIN q ON t.term = q.term
       |   GROUP BY q.query_id, t.doc_id),
       | dcg AS (SELECT topk.query_id,
       |     CAST(sum(CAST(floor((CAST(coalesce(rel.rel, 0) AS DOUBLE) * w.w)
       |       * 1000000000.0E0) AS BIGINT)) AS BIGINT) AS dcg_nano,
       |     min(CASE WHEN coalesce(rel.rel, 0) >= 2 THEN topk.rank END)
       |       AS first_rel_rank
       |   FROM topk
       |   LEFT JOIN rel ON rel.query_id = topk.query_id
       |     AND rel.doc_id = topk.doc_id
       |   JOIN w ON w.rank = topk.rank
       |   GROUP BY topk.query_id),
       | ideal AS (SELECT query_id, rel, rank FROM (
       |   SELECT query_id, rel,
       |     CAST(row_number() OVER (PARTITION BY query_id
       |       ORDER BY rel DESC, doc_id) AS BIGINT) AS rank
       |   FROM rel) WHERE rank <= $k),
       | idcg AS (SELECT ideal.query_id,
       |     CAST(sum(CAST(floor((CAST(ideal.rel AS DOUBLE) * w.w)
       |       * 1000000000.0E0) AS BIGINT)) AS BIGINT) AS idcg_nano
       |   FROM ideal JOIN w ON w.rank = ideal.rank
       |   GROUP BY ideal.query_id),
       | nrel AS (SELECT query_id, CAST(count(*) AS BIGINT) AS n_rel
       |   FROM rel WHERE rel >= 2 GROUP BY query_id)
       |SELECT dcg.query_id,
       |  coalesce(nrel.n_rel, 0) AS n_rel,
       |  dcg.dcg_nano,
       |  coalesce(idcg.idcg_nano, 0) AS idcg_nano,
       |  CASE WHEN coalesce(idcg.idcg_nano, 0) > 0
       |    THEN (dcg.dcg_nano * 1000000) // idcg.idcg_nano ELSE 0 END
       |    AS ndcg_micro,
       |  coalesce(1000000 // dcg.first_rel_rank, 0) AS mrr_micro
       |FROM dcg
       |LEFT JOIN idcg ON idcg.query_id = dcg.query_id
       |LEFT JOIN nrel ON nrel.query_id = dcg.query_id
       |ORDER BY dcg.query_id""".stripMargin
  }

  /** Capped posting lists: for every term, its document frequency, and the
    * top-`k` documents by term frequency (ties to the lower doc_id) — the
    * inverted-index slice a retrieval layer serves from, flattened to one
    * row per posting so the relation stays hashable/oracle-comparable.
    *
    * Shape: tf counting is one keyed shuffle with map-side combine on
    * (term, doc); df and rank then share a single term-keyed exchange.
    * Every (term, doc) tf row crosses that exchange exactly once — df must
    * count them all, so that traffic is the operator's information floor —
    * and the rank cap plans as a WindowGroupLimit on the sorted stream, so
    * only k rows per term reach the row_number window and everything above
    * it. Output volume is |vocab| · k, independent of corpus row count.
    * A hot term is one sort-key group, not one reducer's hash entry; AQE
    * skew-split handles the partition if a term dominates. */
  def postings(docs: DataFrame, k: Int = 3, minDf: Long = 2,
      textCol: String = "text"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tf = docs
      .select(col("doc_id"), explode(tokensArr(textCol)).as("term"))
      .groupBy("term", "doc_id").agg(count(lit(1)).as("tf"))
    val w = Window.partitionBy("term").orderBy(col("tf").desc, col("doc_id"))
    val wc = Window.partitionBy("term")
    // df window BELOW the rank window: the rank filter must sit directly on
    // its own Window node for Catalyst's InsertWindowGroupLimit to rewrite
    // it into a group limit (stacked the other way the df window blocks the
    // rewrite and every tf row reaches the row_number window)
    tf.withColumn("df", count(lit(1)).over(wc))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k && col("df") >= minDf)
      .select("term", "rank", "doc_id", "tf", "df")
  }

  def postingsSqlDuck(k: Int = 3, minDf: Long = 2): String =
    s"""WITH tf AS (
       |  SELECT t.term, doc_id, CAST(count(*) AS BIGINT) AS tf
       |  FROM (SELECT doc_id, unnest(${tokensSqlDuck("text")}) AS term
       |        FROM documents) t
       |  GROUP BY t.term, doc_id),
       | r AS (
       |  SELECT *, CAST(row_number() OVER (PARTITION BY term ORDER BY tf DESC, doc_id) AS BIGINT) AS rank,
       |    CAST(count(*) OVER (PARTITION BY term) AS BIGINT) AS df
       |  FROM tf)
       |SELECT term, rank, doc_id, tf, df FROM r
       |WHERE rank <= $k AND df >= $minDf
       |ORDER BY term, rank""".stripMargin

  // =====================================================================
  // N-gram novelty scoring
  // =====================================================================

  /** Corpus-order novelty: the fraction of a document's DISTINCT
    * `w`-shingles whose globally FIRST occurrence (minimum doc_id) is this
    * document — high for fresh content, near zero for boilerplate
    * recombinations. The curriculum/quality signal dual to keep-first
    * dedup: where [[Dedup.dropNearDuplicates]] removes repeats, novelty
    * GRADES them.
    *
    * Shape: distinct (shingle-hash, doc) relation → global min-doc per
    * hash (keyed shuffle, map-side combine over a slim 2-column relation)
    * → join back on hash → per-doc counts. All bucketed equi-joins on
    * content hashes; no quadratic pair enumeration anywhere. The ratio is
    * one int/int double division — exact on both engines. */
  def novelty(docs: DataFrame, w: Int = 5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sh = Dedup.shingles(docs, w)
      .select(col("doc_id"), md5(col("tok")).as("_h")).distinct()
    // first occurrence as a whole-partition window min on the hash — the
    // aggregate+join-back formulation costs one more exchange (the join
    // side must re-partition on _h); the window reuses the single _h
    // partitioning directly
    sh.withColumn("first_doc",
        min(col("doc_id")).over(Window.partitionBy("_h")))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L)).as("n_novel"))
      .withColumn("novelty",
        col("n_novel").cast("double") / col("n_shingles").cast("double"))
  }

  def noveltySqlDuck(w: Int = 5): String =
    s"""WITH sh AS (${shingleCtesDuck(w, "")}),
       | dsh AS (SELECT DISTINCT doc_id, md5(s) AS h FROM sh WHERE s IS NOT NULL),
       | f AS (SELECT h, min(doc_id) AS first_doc FROM dsh GROUP BY h)
       |SELECT dsh.doc_id,
       |  CAST(count(*) AS BIGINT) AS n_shingles,
       |  CAST(sum(CASE WHEN f.first_doc = dsh.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
       |  CAST(sum(CASE WHEN f.first_doc = dsh.doc_id THEN 1 ELSE 0 END) AS DOUBLE)
       |    / CAST(count(*) AS DOUBLE) AS novelty
       |FROM dsh JOIN f USING (h)
       |GROUP BY dsh.doc_id ORDER BY dsh.doc_id""".stripMargin

  // =====================================================================
  // Bloom-prefiltered decontamination
  // =====================================================================

  /** [[decontaminate]] with a broadcast Bloom prefilter — the 100 TB shape
    * for a SMALL benchmark side: instead of shuffling every candidate
    * shingle into the semi-join, a fixed-size Bloom filter built over the
    * benchmark shingle hashes (distributed `treeAggregate`; only the
    * filter's bounded bits ever reach the driver) drops the overwhelming
    * majority of corpus shingles map-side. Survivors are CONFIRMED by the
    * exact equi-join, so false positives cannot leak into the output and
    * the result — and the oracle — are identical to [[decontaminate]]:
    * the Bloom stage is pure pre-shuffle data reduction, never semantics.
    *
    * The eager `count()` runs on the BENCHMARK side only (the small side
    * by contract — benchmark suites are KBs against a 100 TB corpus);
    * sizing the filter from it is one tiny pass, never a corpus scan. */
  def decontaminateBloom(candidates: DataFrame, benchmark: DataFrame,
      w: Int = 5, fpp: Double = 0.01): DataFrame = {
    val candSh = Dedup.shingles(candidates, w)
      .select(col("doc_id"), md5(col("tok")).as("_h"))
    val benchSh = Dedup.shingles(benchmark, w)
      .select(md5(col("tok")).as("_h")).distinct()
    val benchLong = benchSh.select(xxhash64(col("_h")).as("_hl"))
    val expected = benchLong.count()
    // empty benchmark → nothing can be contaminated (and Spark's
    // bloomFilter aggregate NPEs on empty input — EdgeCasesSpec)
    if (expected == 0L) return candidates
    val bf = benchLong.stat.bloomFilter("_hl", expected, fpp)
    val bfBc = candidates.sparkSession.sparkContext.broadcast(bf)
    // native codegen'd probe (functions/BloomMightContainLong) — a closure
    // udf here would break whole-stage fusion around the hottest filter
    import org.apache.spark.sql.GraftColumnBridge.{toColumn, toExpression}
    val pre = candSh.withColumn("_hl", xxhash64(col("_h")))
      .filter(toColumn(graft.functions.BloomMightContainLong(
        toExpression(col("_hl")), bfBc)))
    val bad = pre.join(benchSh, "_h").select("doc_id").distinct()
    candidates.join(bad, Seq("doc_id"), "left_anti")
  }

  /** Vocabulary coverage curve — the tokenizer-budget planning question:
    * how many distinct terms (frequency-ranked) does it take to cover p% of
    * all token OCCURRENCES in the corpus? One row per requested micro-unit
    * fraction with the minimal vocab size and the coverage it actually
    * achieves.
    *
    * The standard formulation walks terms in frequency-descending order and
    * cumulates — a global sort over |vocab| rows. This implementation
    * collapses terms into FREQUENCY CLASSES first (all terms with count n
    * are interchangeable: any prefix of a class contributes extra·n tokens
    * regardless of which terms are picked, so the minimal vocab size is
    * invariant under within-class order — no term-level tie-break needed and
    * none is defined). Classes are ≤ O(√Σn) rows by the usual
    * distinct-count bound, cumulated in n-DESC order by the bucketed
    * [[graft.etl.IngestOps.withGlobalRunningSum]] prefix machinery (key
    * −n; never a single-reducer global window), and the boundary class per
    * threshold is a 3-row broadcast range join. All arithmetic is BIGINT
    * (need = ⌈p·total⌉ and extra = ⌈rem/n⌉ as integer DIV chains), so both
    * engines agree exactly. */
  def vocabCoverage(docs: DataFrame,
      pMicros: Seq[Long] = Seq(500000L, 900000L, 990000L)): DataFrame = {
    import docs.sparkSession.implicits._
    val tf = docs.filter(col("text").isNotNull)
      .select(explode(tokensArr("text")).as("term"))
      .groupBy("term").agg(count(lit(1)).as("n"))
    // persisted (r17): cls is ≤ O(√Σn) rows, but the nested prefix-sum
    // machinery below makes ~8 driver-bounded passes over it (2× count/
    // sample/sums + the totals agg + the final join) — unpersisted, each
    // pass re-ran the full corpus tokenize + term aggregation.
    val cls =
      tf.groupBy("n").agg(count(lit(1)).as("c"))
        .withColumn("mass", col("n") * col("c")).persist()
    val cum = graft.etl.IngestOps.withGlobalRunningSum(
      graft.etl.IngestOps.withGlobalRunningSum(cls, -col("n"), col("mass"), "cm"),
      -col("n"), col("c"), "ct")
    val tot = cls.agg(sum("mass").as("total"))
    val ts = pMicros.toDF("p_micro").crossJoin(broadcast(tot))
      .withColumn("need", expr("(p_micro * total + 999999) DIV 1000000"))
    // boundary class: the first (in n-DESC order) whose cumulative mass
    // reaches the target — prev_cm < need <= cm picks it exactly
    cum.join(broadcast(ts),
        col("cm") >= col("need") && (col("cm") - col("mass")) < col("need"))
      .select(col("p_micro"),
        (col("ct") - col("c") +
          expr("(need - (cm - mass) + n - 1) DIV n")).as("vocab_size"),
        (col("cm") - col("mass") +
          expr("((need - (cm - mass) + n - 1) DIV n) * n")).as("covered_tokens"),
        col("total").as("total_tokens"))
      .withColumn("coverage_micro",
        expr("covered_tokens * 1000000 DIV total_tokens"))
      .orderBy("p_micro")
  }

  /** Oracle twin of [[vocabCoverage]]: identical frequency-class integer
    * chain, with the window cumulative sums in place of the bucketed
    * prefix machinery. */
  def vocabCoverageSqlDuck(
      pMicros: Seq[Long] = Seq(500000L, 900000L, 990000L)): String = {
    val vals = pMicros.map(p => s"(CAST($p AS BIGINT))").mkString(", ")
    s"""WITH tf AS (SELECT term, CAST(count(*) AS BIGINT) AS n FROM (
       |    SELECT unnest(${tokensSqlDuck("text")}) AS term
       |    FROM documents WHERE text IS NOT NULL) GROUP BY term),
       | cls AS (SELECT n, CAST(count(*) AS BIGINT) AS c,
       |    CAST(n * count(*) AS BIGINT) AS mass FROM tf GROUP BY n),
       | cum AS (SELECT n, c, mass,
       |    CAST(SUM(mass) OVER (ORDER BY n DESC) AS BIGINT) AS cm,
       |    CAST(SUM(c) OVER (ORDER BY n DESC) AS BIGINT) AS ct FROM cls),
       | t AS (SELECT CAST(sum(mass) AS BIGINT) AS total FROM cls),
       | p(p_micro) AS (VALUES $vals),
       | ts AS (SELECT p_micro, total,
       |    CAST((p_micro * total + 999999) // 1000000 AS BIGINT) AS need
       |  FROM p CROSS JOIN t),
       | sel AS (SELECT p_micro, total, need, n, c, mass, cm, ct
       |  FROM cum JOIN ts ON cm >= need AND cm - mass < need)
       |SELECT p_micro,
       |  CAST(ct - c + (need - (cm - mass) + n - 1) // n AS BIGINT)
       |    AS vocab_size,
       |  CAST(cm - mass + ((need - (cm - mass) + n - 1) // n) * n AS BIGINT)
       |    AS covered_tokens,
       |  total AS total_tokens,
       |  CAST((cm - mass + ((need - (cm - mass) + n - 1) // n) * n) * 1000000
       |    // total AS BIGINT) AS coverage_micro
       |FROM sel ORDER BY p_micro""".stripMargin
  }
}
