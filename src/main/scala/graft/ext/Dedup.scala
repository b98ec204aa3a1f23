package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators (north-star M5): exact, MinHash+LSH, SimHash,
  * n-gram Jaccard. Embedding-cosine near-dup lives in [[Similarity]].
  *
  * Scale design (100 TB):
  *  - exact dedup = hash-groupBy → one shuffle on the content hash; map-side
  *    partial aggregation keeps the shuffle small (one record per distinct
  *    hash per map task).
  *  - MinHash: signature computation is a narrow map + one groupBy(doc_id)
  *    over the exploded token stream; LSH banding turns the O(n²) pair search
  *    into an equi-join on (band_index, band_hash) — shuffle keyed by band
  *    buckets, which is the standard scalable formulation.
  *  - SimHash: same shape (map + groupBy doc).
  *  - n-gram Jaccard is only run on LSH-bucketed candidates (or cheap
  *    blocking keys), never all-pairs.
  *
  * Hash-function portability: the oracle runs in DuckDB, whose hash() is not
  * Spark's; both engines share md5. MinHash permutations are realized as
  * `min(md5(seed_i || token))` — lexicographic min over a 128-bit hash-hex is
  * a valid min-wise hash family and is byte-identical across engines.
  *
  * Literature: MinHash/min-wise permutations — Broder, "On the resemblance
  * and containment of documents" (SEQUENCES 1997); LSH banding — Leskovec/
  * Rajaraman/Ullman, "Mining of Massive Datasets" ch.3; SimHash — Charikar,
  * "Similarity estimation techniques from rounding algorithms" (STOC 2002)
  * and Manku et al., "Detecting near-duplicates for web crawling" (WWW 2007).
  */
object Dedup {

  /** Exact dedup groups: content-hash groupBy; keep-first policy = min key.
    * (reference ties: the absent downstream `Deduplicator` module,
    * HighVolumeExcelConverter-Contract-v2.0.1.md:44-49). */
  def exactGroups(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs.groupBy(md5(col(textCol)).as("h"))
      .agg(count(lit(1)).as("n_dups"), min(col("doc_id")).as("keep_id"))

  /** Distinct-token stream (doc_id, tok). */
  def tokens(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs.select(col("doc_id"),
      explode(array_distinct(TextOps.fastTokens(col(textCol)))).as("tok"))

  val NumHashes = 8
  val RowsPerBand = 4
  val NumBands: Int = NumHashes / RowsPerBand

  /** MinHash signatures + LSH band hashes.
    *
    * Formulation note: explode(tokens) + groupBy(doc_id) + min aggregates.
    * A shuffle-free variant (`array_min(transform(toks, t -> md5(...)))`)
    * was measured 2-8× SLOWER: Spark's higher-order-function lambdas
    * evaluate interpreted per element, while the exploded pipeline stays in
    * whole-stage codegen and its shuffle is tiny — map-side partial
    * aggregation reduces it to one signature row per document per map task
    * (docs are never split across partitions). The shuffle volume therefore
    * scales with document COUNT, not token count, which holds at 100 TB. */
  def minhashSignatures(docs: DataFrame, textCol: String = "text"): DataFrame =
    minhashFromTokens(tokens(docs, textCol))

  /** MinHash+band signatures from any (doc_id, tok) stream — shared by the
    * unigram path ([[tokens]]) and the shingle path ([[shingles]]).
    * `carry`: extra per-document columns to keep on the signature rows
    * (they join the groupBy key — sound because callers only pass columns
    * functionally dependent on doc_id, e.g. a corpus-side tag; this rides
    * the flag through the aggregation instead of re-joining it after). */
  def minhashFromTokens(toks: DataFrame, carry: Seq[String] = Nil): DataFrame = {
    val aggs = (0 until NumHashes).map(i =>
      min(md5(concat(lit(s"mh$i"), col("tok")))).as(s"s$i"))
    val sigs = toks.groupBy("doc_id", carry: _*).agg(aggs.head, aggs.tail: _*)
    (0 until NumBands).foldLeft(sigs) { (d, b) =>
      val cols = (b * RowsPerBand until (b + 1) * RowsPerBand).map(i => col(s"s$i"))
      d.withColumn(s"band$b", md5(concat(cols: _*)))
    }
  }

  /** Word w-shingle stream (doc_id, tok): each tok is `w` consecutive
    * lowercase tokens joined by spaces — the standard MinHash document
    * representation (Broder 1997 §4): near-dup detection on shingles is
    * order-sensitive where bag-of-tokens is not. Docs with fewer than `w`
    * tokens produce no shingles (absent from downstream signatures, same as
    * token-less docs on the unigram path). */
  def shingles(docs: DataFrame, w: Int = 3, textCol: String = "text"): DataFrame = {
    val parts = (1 to w).map(j => s"element_at(_tks, i + ${j - 1})").mkString(", ' ', ")
    docs.select(col("doc_id"),
      TextOps.fastTokens(col(textCol)).as("_tks"))
      .select(col("doc_id"), explode(expr(
        s"""CASE WHEN size(_tks) >= $w
           | THEN transform(sequence(1, size(_tks) - ${w - 1}), i -> concat($parts))
           | ELSE array() END""".stripMargin)).as("tok"))
  }

  /** LSH candidate pairs: docs sharing any band hash (band index must match).
    * Equi-join on (band_index, band_hash) — shuffle-partitioned by bucket.
    * The bucket table (NumBands short rows per doc, independent of doc size)
    * is cached so the self-join doesn't recompute tokenize+minhash twice.
    *
    * Hot-bucket bound: a popular band hash (r1 measured ~45% of docs in two
    * buckets) makes the within-bucket pair enumeration O(k²) on ONE reducer —
    * the 100 TB job-killer. The self-join is therefore salted: the x side
    * keeps one deterministic salt from its doc id, the y side is replicated
    * to every salt, and the join key includes the salt — each (x,y) pair
    * still appears exactly once (at x's salt), so the output is byte-identical
    * to the unsalted join, but a bucket of size k costs k²/saltBuckets per
    * reducer instead of k² on one. Shuffle volume grows only on the tiny
    * bucket relation (NumBands rows per doc × saltBuckets). */
  /** (doc_id, bi, band) membership rows — NumBands per doc. Staged through
    * [[graft.etl.StageStore]]: the bucket relation is the second shared
    * intermediate of the near-dup family (cluster labels, bucket
    * representatives, incremental pipelines all start from it), and it is
    * small (NumBands rows per doc) — one write, many scans. */
  def bandBuckets(sigs: DataFrame, carry: Seq[String] = Nil): DataFrame = {
    val bandStructs = (0 until NumBands).map(b =>
      struct(lit(b).as("bi"), col(s"band$b").as("band")))
    graft.etl.StageStore.materialize(
      sigs.select(col("doc_id") +: explode(array(bandStructs: _*)).as("b") +:
          carry.map(col): _*)
        .select(col("doc_id") +: col("b.bi").as("bi") +: col("b.band").as("band") +:
          carry.map(col): _*),
      "band_buckets")
  }

  val DefaultSaltBuckets = 16

  def lshCandidatePairs(sigs: DataFrame, saltBuckets: Int = DefaultSaltBuckets): DataFrame =
    // the candidate-pair relation is THE shared intermediate of the
    // near-dup family (keep-first, clustering, LPA, link prediction, the
    // recall eval) and each consumer is a separate action — stage it once
    // per (plan, salt) per JVM instead of re-running tokenize → minhash →
    // salted self-join → distinct for every consumer
    graft.etl.StageStore.materialize(
      lshCandidatePairsFromBuckets(
        graft.etl.CacheRegistry.persist(bandBuckets(sigs)), saltBuckets),
      s"lsh_pairs_$saltBuckets")

  /** Salted within-bucket pair generation over a PRE-BUILT (doc_id, bi,
    * band) relation — callers that already hold the bucket relation (e.g.
    * [[graft.ext.Pipelines.incrementalIngestNearDup]], which uses it for a
    * cross-corpus stage too) skip a second signature computation. */
  def lshCandidatePairsFromBuckets(buckets: DataFrame,
      saltBuckets: Int = DefaultSaltBuckets): DataFrame = {
    val x = buckets.withColumn("_salt", pmod(hash(col("doc_id")), lit(saltBuckets)))
    val y = buckets.withColumn("_salt",
      explode(array((0 until saltBuckets).map(lit(_)): _*)))
    x.as("x").join(y.as("y"),
        col("x.bi") === col("y.bi") && col("x.band") === col("y.band") &&
        col("x._salt") === col("y._salt") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
  }

  /** The 16-bit SimHash aggregation expression — identical SQL text for Spark
    * and DuckDB (substr/IN/CASE/sum only, no dialect-specific syntax).
    * Expects a relation (doc_id, h) where h = md5(token); bit b of the
    * simhash is set iff the population balance of bit b across token hashes
    * is positive. Bit b lives in hex digit (b div 4) (1-based position),
    * bit (b mod 4) within the digit. */
  def simhash16Expr(hCol: String): String = {
    val bitDigits = Seq(
      Seq("1", "3", "5", "7", "9", "b", "d", "f"), // bit 0 of a hex digit
      Seq("2", "3", "6", "7", "a", "b", "e", "f"), // bit 1
      Seq("4", "5", "6", "7", "c", "d", "e", "f"), // bit 2
      Seq("8", "9", "a", "b", "c", "d", "e", "f")) // bit 3
    val terms = (0 until 16).map { b =>
      val pos = b / 4 + 1
      val inList = bitDigits(b % 4).map(d => s"'$d'").mkString(",")
      val bal = s"sum(CASE WHEN substr($hCol, $pos, 1) IN ($inList) THEN 1 ELSE -1 END)"
      s"(CASE WHEN $bal > 0 THEN ${1 << b} ELSE 0 END)"
    }
    s"CAST(${terms.mkString(" + ")} AS BIGINT)"
  }

  /** SimHash per document (explode + groupBy — same codegen rationale as
    * [[minhashSignatures]]: the 16 per-bit balances compile to one
    * whole-stage-codegen'd hash aggregation with map-side partials). */
  def simhash(docs: DataFrame, textCol: String = "text"): DataFrame =
    tokens(docs, textCol).select(col("doc_id"), md5(col("tok")).as("h"))
      .groupBy("doc_id")
      .agg(expr(simhash16Expr("h")).as("simhash16"))

  /** EXACT SimHash near-dup pairs at Hamming distance ≤ `maxHamming` via
    * PIGEONHOLE banding (Manku, Jain & Das Sarma, WWW'07 — the web-scale
    * simhash dedup recipe): split the 16-bit signature into `maxHamming+1`
    * bands; two signatures within distance h must agree on at least one
    * whole band (h differing bits cannot touch all h+1 bands), so the
    * equi-join on (band, band value) is a COMPLETE candidate set — LSH's
    * shape with a deterministic no-false-negative guarantee, the same
    * relationship [[jaccardPrefixJoin]] has to [[lshCandidatePairs]].
    * Each candidate then verifies with one XOR + popcount.
    *
    * Shape: one band-keyed equi-join shuffle over 4 rows per doc; the
    * verify is integer bit arithmetic (engine-exact), so the oracle's
    * quadratic form hash-matches bit for bit. */
  def simhashHammingPairs(docs: DataFrame, maxHamming: Int = 3,
      textCol: String = "text"): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 15,
      s"maxHamming must be in [0,15], got $maxHamming")
    val bands = maxHamming + 1
    val bits = 16
    val bandBitsList = {
      // band b covers bit range [lo, lo+len): split 16 bits as evenly as
      // the band count allows, low bits first
      val base = bits / bands; val extra = bits % bands
      val lens = Seq.tabulate(bands)(b => base + (if (b < extra) 1 else 0))
      lens.scanLeft(0)(_ + _).zip(lens).take(bands)
    }
    val sigs = graft.etl.CacheRegistry.persist(simhash(docs, textCol))
    val banded = bandBitsList.zipWithIndex.map { case ((lo, len), b) =>
      sigs.select(col("doc_id"), col("simhash16"), lit(b).as("band"),
        (shiftright(col("simhash16"), lo) % (1L << len)).as("bval"))
    }.reduce(_ unionByName _)
    banded.as("a")
      .join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bval") === col("b.bval") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        expr("bit_count(a.simhash16 ^ b.simhash16)").cast("long").as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** Oracle for [[simhashHammingPairs]]: the quadratic exact form over the
    * shared simhash derivation. */
  def simhashHammingPairsSqlDuck(maxHamming: Int = 3): String =
    s"""WITH $toksCteDuck,
       | sigs AS (SELECT doc_id, ${simhash16Expr("h")} AS simhash16
       |   FROM (SELECT doc_id, md5(tok) AS h FROM toks)
       |   GROUP BY doc_id)
       |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |  CAST(bit_count(xor(a.simhash16, b.simhash16)) AS BIGINT) AS hamming
       |FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.simhash16, b.simhash16)) <= $maxHamming
       |ORDER BY doc_a, doc_b""".stripMargin

  /** LSH candidate-generation QUALITY evaluation — "measure, don't guess"
    * applied to the engine's own dedup scale path: the banded-MinHash
    * candidate pairs (the probabilistic path) scored against the EXACT
    * prefix-filter join at Jaccard ≥ θ over the same w-shingle sets.
    * Emits one row: exact-pair count, candidate count, true positives,
    * FALSE NEGATIVES (the near-dup pairs LSH missed — the number that
    * decides whether the band/row configuration is safe to ship), and
    * candidate precision / recall. Both operands are oracle-checked
    * operators in their own right; this row pins their RELATIONSHIP.
    *
    * Shape: the two pair relations (each corpus-linear), one semi-join on
    * the pair key, three 1-row aggregates crossJoined (adjudicated). */
  def lshEval(docs: DataFrame, theta: Double = 0.8,
      shingleW: Int = 3): DataFrame = {
    val exact = graft.etl.CacheRegistry.persist(
      jaccardPrefixJoin(docs, "text", theta, shingleW)
        .select(col("doc_a"), col("doc_b")))
    val cand = graft.etl.CacheRegistry.persist(
      lshCandidatePairs(minhashFromTokens(shingles(docs, shingleW)))
        .select(col("doc_a"), col("doc_b")))
    val nExact = exact.agg(count(lit(1)).as("n_exact"))
    val nCand = cand.agg(count(lit(1)).as("n_candidates"))
    val tp = exact.join(cand, Seq("doc_a", "doc_b"), "left_semi")
      .agg(count(lit(1)).as("tp"))
    nExact.crossJoin(broadcast(nCand)).crossJoin(broadcast(tp))
      .select(col("n_exact"), col("n_candidates"), col("tp"),
        (col("n_exact") - col("tp")).as("fn"),
        when(col("n_candidates") > 0,
          col("tp").cast("double") / col("n_candidates").cast("double"))
          .as("precision"),
        when(col("n_exact") > 0,
          col("tp").cast("double") / col("n_exact").cast("double"))
          .as("recall"))
  }

  /** Exact distinct-unigram Jaccard over an arbitrary (doc_a, doc_b)
    * candidate relation — the batch rescore pass every LSH candidate
    * source feeds, including the streaming near-dup's matched side output
    * ([[graft.streaming.DocStreams.NdVerdict]] rep column, VERDICT r16
    * #3): two id-equi-joins fetch the sorted distinct token sets, then
    * the codegen'd linear-merge intersect scores each pair. Cost is
    * candidate-bounded, never all-pairs; the token relation joins by id,
    * so the array payload is never replicated across pair fan-out. */
  def rescorePairs(pairs: DataFrame, docs: DataFrame): DataFrame = {
    val toks = docs.select(col("doc_id"),
      array_sort(array_distinct(TextOps.fastTokens(col("text")))).as("toks"))
    pairs
      .join(toks.select(col("doc_id").as("doc_a"), col("toks").as("ta"),
        size(col("toks")).as("na")), "doc_a")
      .join(toks.select(col("doc_id").as("doc_b"), col("toks").as("tb"),
        size(col("toks")).as("nb")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        jaccardFromIntersect(intersectCount(col("ta"), col("tb")),
          col("na"), col("nb")).as("jaccard"))
  }

  /** Oracle for [[lshEval]]: shingle sigs + band buckets for the candidate
    * side, the quadratic exact form for the truth side. */
  def lshEvalSqlDuck(theta: Double = 0.8, w: Int = 3): String = {
    val mins = (0 until NumHashes).map(i => s"min(md5('mh$i' || tok)) AS s$i").mkString(", ")
    val parts = ("tok" +: (1 until w).map(j =>
      s"lead(tok, $j) OVER (PARTITION BY doc_id ORDER BY i)")).mkString(" || ' ' || ")
    val bandUnion = (0 until NumBands)
      .map(b => s"SELECT doc_id, $b AS bi, band$b AS band FROM bands")
      .mkString(" UNION ALL ")
    s"""WITH tk AS (SELECT doc_id, ${TextOps.tokensSqlDuck("text")} AS tks FROM documents),
       | pos AS (SELECT doc_id, unnest(tks) AS tok, generate_subscripts(tks, 1) AS i FROM tk),
       | sh AS (SELECT doc_id, $parts AS tok FROM pos),
       | t AS (SELECT doc_id, list_distinct(list(tok)) AS toks
       |   FROM sh WHERE tok IS NOT NULL GROUP BY doc_id),
       | exact AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
       |   FROM t a JOIN t b ON a.doc_id < b.doc_id
       |   WHERE ${jaccardExprDuck("a.toks", "b.toks")} >= $theta),
       | sigs AS (SELECT doc_id, $mins FROM sh WHERE tok IS NOT NULL GROUP BY doc_id),
       | ${bucketsCteDuck},
       | prs AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
       |   FROM buckets x JOIN buckets y
       |   ON x.bi = y.bi AND x.band = y.band AND x.doc_id < y.doc_id),
       | ne AS (SELECT CAST(count(*) AS BIGINT) AS n_exact FROM exact),
       | nc AS (SELECT CAST(count(*) AS BIGINT) AS n_candidates FROM prs),
       | tp AS (SELECT CAST(count(*) AS BIGINT) AS tp FROM exact
       |   WHERE EXISTS (SELECT 1 FROM prs
       |                 WHERE prs.doc_a = exact.doc_a AND prs.doc_b = exact.doc_b))
       |SELECT n_exact, n_candidates, tp, n_exact - tp AS fn,
       |  CASE WHEN n_candidates > 0
       |    THEN CAST(tp AS DOUBLE) / CAST(n_candidates AS DOUBLE) END AS precision,
       |  CASE WHEN n_exact > 0
       |    THEN CAST(tp AS DOUBLE) / CAST(n_exact AS DOUBLE) END AS recall
       |FROM ne CROSS JOIN nc CROSS JOIN tp""".stripMargin
  }

  /** n-gram (token-set) Jaccard similarity over blocked candidate pairs.
    * Blocking key: (lang, n_chars div 100) — cheap deterministic buckets that
    * bound the pair count; at scale, replace blocking with
    * [[lshCandidatePairs]] output.
    *
    * Skew/payload shape: the self-join that enumerates pairs runs on a SLIM
    * (doc_id, lang, bkt) relation, salted with the identical construction as
    * [[dropNearDuplicates]] (one deterministic salt on the left from the doc
    * id, right side replicated across all salts, salt in the join key) so a
    * hot (lang, bkt) block costs k²/salts per reducer instead of k² on one.
    * Token arrays join back BY ID after pair enumeration — the ×salts
    * replication only ever touches 3-column rows, never the array payload.
    * Output is byte-identical to the unsalted direct join. */
  def jaccardPairs(docs: DataFrame, textCol: String = "text",
      salts: Int = 8): DataFrame = {
    // persisted: the slim pair side plus BOTH array join-backs read it
    val t = graft.etl.CacheRegistry.persist(docs.select(col("doc_id"), col("lang"),
      expr("CAST(n_chars DIV 100 AS BIGINT)").as("bkt"),
      array_sort(array_distinct(TextOps.fastTokens(col(textCol)))).as("toks")))
    val slim = t.select("doc_id", "lang", "bkt")
    val x = slim.withColumn("_salt", pmod(hash(col("doc_id")), lit(salts)))
    val y = slim.withColumn("_salt", explode(array((0 until salts).map(lit(_)): _*)))
    val pairs = x.as("a").join(y.as("b"),
        col("a.lang") === col("b.lang") && col("a.bkt") === col("b.bkt") &&
        col("a._salt") === col("b._salt") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
    pairs
      .join(t.select(col("doc_id").as("doc_a"), col("toks").as("ta")), "doc_a")
      .join(t.select(col("doc_id").as("doc_b"), col("toks").as("tb")), "doc_b")
      .withColumn("_i", intersectCount(col("ta"), col("tb")))
      .select(col("doc_a"), col("doc_b"),
        jaccardFromIntersect(col("_i"), size(col("ta")), size(col("tb"))).as("jaccard"))
  }

  /** EXACT all-pairs Jaccard ≥ θ via PREFIX FILTERING (Chaudhuri et al.
    * SSJoin ICDE'06; Bayardo et al. "Scaling Up All Pairs Similarity
    * Search" WWW'07) — the deterministic complement to [[lshCandidatePairs]]
    * with NO false negatives: tokens are globally ordered by rarity
    * (document frequency asc, token asc), each doc exposes only its first
    * |T| − ⌈θ·|T|⌉ + 1 rarest tokens, and a pair can reach Jaccard ≥ θ only
    * if the prefixes share a token. Soundness: J ≥ θ implies the length
    * bound θ·|A| ≤ |B| ≤ |A|/θ, under which the required overlap
    * ⌈θ/(1+θ)·(|A|+|B|)⌉ ≥ ⌈θ·max(|A|,|B|)⌉, so a disjoint-prefix pair
    * cannot overlap enough — the equi-join on prefix tokens (plus the
    * length filter as a join predicate) is a complete candidate set.
    * Candidate volume is driven by RARE tokens (the frequent ones never
    * make a prefix), the inverse of the hot-bucket problem: no salting
    * needed. Exact Jaccard then verifies each distinct candidate once via
    * the codegen'd sorted-merge intersect. Empty token sets are excluded —
    * an empty set carries no similarity evidence (the pairwise convention
    * J(∅,∅)=1 would otherwise emit all-pairs of empty docs).
    * Plan: two token-keyed shuffles (df + prefix join) and two id-keyed
    * array join-backs — every join an equi-join, nothing quadratic in the
    * corpus. */
  /** The three deterministic relations every prefix-filter similarity join
    * rebuilds — distinct (doc, w-shingle), per-doc sorted shingle sets, and
    * per-doc rarity-ranked arrays — staged once per (docs, w) via
    * [[graft.etl.StageStore]]: [[jaccardPrefixJoin]] and
    * [[containmentPrefixJoin]] consume the identical triple (θ only shapes
    * the downstream prefix/verify stages), so the explode+distinct shuffle
    * and the two collect aggregations run once per JVM, not once per
    * operator. All three are deterministic (sort_array pins set and rank
    * order; ties impossible — shingles are distinct per doc) and parquet-
    * exact. Falls back to the previous per-op persist when staging is
    * unavailable. */
  private def prefixJoinRelations(docs: DataFrame, textCol: String,
      shingleW: Int): (DataFrame, DataFrame, DataFrame) = {
    val tok0 =
      if (shingleW <= 1)
        docs.select(col("doc_id"),
          explode(array_distinct(TextOps.fastTokens(col(textCol)))).as("tok"))
      else shingles(docs, shingleW, textCol).distinct()
    def staged(tag: String)(df: => DataFrame): DataFrame =
      graft.etl.StageStore.materializeBy(s"${tag}_$shingleW", Seq(tok0))(df)
        .getOrElse(graft.etl.CacheRegistry.persist(df))
    val tok = staged("pj_tok")(tok0)
    val t = staged("pj_sets")(
      tok.groupBy("doc_id").agg(sort_array(collect_set(col("tok"))).as("toks")))
    val ranked = staged("pj_ranked") {
      val dfreq = tok.groupBy("tok").agg(count(lit(1)).as("df"))
      tok.join(dfreq, "tok")
        .groupBy("doc_id")
        .agg(sort_array(collect_list(struct(col("df"), col("tok")))).as("_ord"))
        .select(col("doc_id"), expr("transform(_ord, x -> x.tok)").as("rtoks"))
    }
    (tok, t, ranked)
  }

  def jaccardPrefixJoin(docs: DataFrame, textCol: String = "text",
      theta: Double = 0.8, shingleW: Int = 3): DataFrame = {
    require(theta > 0.0 && theta <= 1.0, "theta must be in (0, 1]")
    // similarity is over DISTINCT w-shingle sets, not unigram token sets:
    // the fixture vocabulary is ~31 unigrams, so unigram sets collide for
    // nearly every doc pair (measured: 3.0M pairs ≥ 0.8 at sf0.1 — the
    // output itself is quadratic); w=3 shingles restore discriminative
    // sets, the same reason the MinHash/LSH family shingles first.
    // shingleW = 1 degenerates to unigram sets for corpora where that is
    // the intended granularity. Docs with fewer than w tokens have no
    // shingles and are excluded (no similarity evidence).
    // per-doc tokens re-sorted by global rarity; the (df, tok) struct sort
    // is the total order, no global rank assignment (and no global window)
    val (_, t, ranked) = prefixJoinRelations(docs, textCol, shingleW)
    val pre = ranked
      .select(col("doc_id"), size(col("rtoks")).as("n"),
        posexplode(expr(
          s"slice(rtoks, 1, size(rtoks) - CAST(ceil($theta * size(rtoks)) AS INT) + 1)")))
      .withColumnRenamed("col", "tok").withColumn("pos", col("pos") + 1)
    // PPJoin positional filter (Xiao et al., WWW'08): a shared prefix token
    // at (1-based) positions p_a, p_b bounds the whole-set overlap by
    // 1 + min(n_a − p_a, n_b − p_b); pairs whose bound at the FIRST shared
    // token already misses the required overlap ⌈θ/(1+θ)·(n_a+n_b)⌉ are
    // pruned before the pair ever materializes — on a dense shared-vocabulary
    // corpus this is the difference between candidate volume tracking TRUE
    // near-dups vs tracking token co-occurrence. Sound per-instance: the
    // first shared token has the LARGEST bound, so if every instance fails,
    // the first does too.
    val reqOverlap = ceil(lit(theta / (1.0 + theta)) *
      (col("a.n") + col("b.n")))
    val cand = pre.as("a").join(pre.as("b"),
        col("a.tok") === col("b.tok") && col("a.doc_id") < col("b.doc_id") &&
        col("b.n") >= col("a.n") * lit(theta) &&
        col("a.n") >= col("b.n") * lit(theta) &&
        (lit(1) + least(col("a.n") - col("a.pos"), col("b.n") - col("b.pos")))
          >= reqOverlap)
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    // staged: the exact-pair relation is consumed both as its own operator
    // and as [[lshEval]]'s ground truth — identical (plan, θ, w) ⇒ one
    // computation per JVM (jaccard is a double; parquet round-trip exact)
    graft.etl.StageStore.materialize(
      cand
        .join(t.select(col("doc_id").as("doc_a"), col("toks").as("ta")), "doc_a")
        .join(t.select(col("doc_id").as("doc_b"), col("toks").as("tb")), "doc_b")
        .withColumn("_i", intersectCount(col("ta"), col("tb")))
        .withColumn("jaccard",
          jaccardFromIntersect(col("_i"), size(col("ta")), size(col("tb"))))
        .filter(col("jaccard") >= theta)
        .select(col("doc_a"), col("doc_b"), col("jaccard")),
      "jacc_prefix")
  }

  /** Oracle for [[jaccardPrefixJoin]]: the quadratic exact form — every
    * doc pair with a non-empty distinct w-shingle set, threshold applied
    * to the same i/(na+nb−i) arithmetic. */
  def jaccardPrefixJoinSqlDuck(theta: Double, w: Int = 3): String =
    s"""WITH sh AS (${TextOps.shingleCtesDuck(w, "")}),
       | t AS (SELECT doc_id, list_distinct(list(s)) AS toks
       |   FROM sh WHERE s IS NOT NULL GROUP BY doc_id),
       | p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |    ${jaccardExprDuck("a.toks", "b.toks")} AS jaccard
       |  FROM t a JOIN t b ON a.doc_id < b.doc_id)
       |SELECT doc_a, doc_b, jaccard FROM p WHERE jaccard >= $theta
       |ORDER BY doc_a, doc_b""".stripMargin

  /** EXACT directed CONTAINMENT join |A∩B|/|A| ≥ θ via prefix filtering —
    * the asymmetric sibling of [[jaccardPrefixJoin]] and the right measure
    * for QUOTE/SUBSET duplication: a short doc wholly embedded in a long
    * one has high containment but low Jaccard (the length filter that makes
    * the Jaccard join cheap is exactly what hides these pairs). Training
    * pipelines run this to catch boilerplate wrappers and excerpt reposts.
    *
    * Prefix soundness (Chaudhuri et al. SSJoin ICDE'06): the required
    * overlap is o = ⌈θ·|A|⌉, so if A∩B avoided A's first |A|−o+1
    * rarity-ordered shingles entirely, at most o−1 shared shingles would
    * remain — the equi-join of A-prefixes against B's FULL shingle index is
    * a complete candidate set. There is deliberately no |B| upper bound
    * (containment has none — that asymmetry is the point); the only B-side
    * predicate is |B| ≥ o. Join-key volume stays rare-token-bounded on the
    * prefix side, and each distinct candidate verifies once via the
    * codegen'd sorted-merge intersect.
    *
    * Emits DIRECTED pairs (doc_a contained-in doc_b, doc_a ≠ doc_b) — a
    * near-dup pair at θ appears in both directions, a strict excerpt in
    * one. Plan: two token-keyed equi-join shuffles + two id-keyed
    * join-backs, nothing quadratic in the corpus. */
  def containmentPrefixJoin(docs: DataFrame, textCol: String = "text",
      theta: Double = 0.8, shingleW: Int = 3): DataFrame = {
    require(theta > 0.0 && theta <= 1.0, "theta must be in (0, 1]")
    val (tok, t, ranked) = prefixJoinRelations(docs, textCol, shingleW)
    // A exposes its prefix (|A| − ⌈θ|A|⌉ + 1 rarest shingles); B exposes all
    val pre = ranked.select(col("doc_id"), size(col("rtoks")).as("n"),
      explode(expr(
        s"slice(rtoks, 1, size(rtoks) - CAST(ceil($theta * size(rtoks)) AS INT) + 1)"))
        .as("tok"))
    val idx = tok.join(t.select(col("doc_id"), size(col("toks")).as("nb")), "doc_id")
    val cand = pre.as("a").join(idx.as("b"),
        col("a.tok") === col("b.tok") &&
        col("a.doc_id") =!= col("b.doc_id") &&
        col("b.nb") >= lit(theta) * col("a.n"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    cand
      .join(t.select(col("doc_id").as("doc_a"), col("toks").as("ta")), "doc_a")
      .join(t.select(col("doc_id").as("doc_b"), col("toks").as("tb")), "doc_b")
      .withColumn("_i", intersectCount(col("ta"), col("tb")))
      .withColumn("containment", col("_i").cast("double") / size(col("ta")))
      .filter(col("containment") >= theta)
      .select(col("doc_a"), col("doc_b"), col("containment"))
  }

  /** Oracle for [[containmentPrefixJoin]]: the quadratic directed form. */
  def containmentPrefixJoinSqlDuck(theta: Double, w: Int = 3): String =
    s"""WITH sh AS (${TextOps.shingleCtesDuck(w, "")}),
       | t AS (SELECT doc_id, list_distinct(list(s)) AS toks
       |   FROM sh WHERE s IS NOT NULL GROUP BY doc_id),
       | p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |    CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) /
       |      len(a.toks) AS containment
       |  FROM t a JOIN t b ON a.doc_id <> b.doc_id)
       |SELECT doc_a, doc_b, containment FROM p WHERE containment >= $theta
       |ORDER BY doc_a, doc_b""".stripMargin

  /** |A∩B| of sorted distinct string arrays via the codegen'd linear merge
    * ([[graft.functions.SortedIntersectCount]]) — callers sort once per doc
    * with array_sort before pair enumeration. */
  private[ext] def intersectCount(a: Column, b: Column): Column = {
    import org.apache.spark.sql.GraftColumnBridge.{toColumn, toExpression}
    toColumn(graft.functions.SortedIntersectCount(toExpression(a), toExpression(b)))
  }

  /** Jaccard from the intersection size and the two (distinct-)set sizes:
    * |A∪B| = na + nb - |A∩B|, so ONE array_intersect replaces the
    * union-twice-plus-intersect expression tree — measured 2× on the pair
    * pipeline (each array pass over ~600k pairs costs ~3s at sf0.1). Two
    * empty sets are Jaccard-1.0 (the oracle's CASE ... ELSE 1.0 branch);
    * the produced doubles are bit-identical to i/|A∪B| (same integers). */
  private[ext] def jaccardFromIntersect(i: Column, na: Column, nb: Column): Column =
    when(na + nb > 0, i.cast("double") / (na + nb - i)).otherwise(lit(1.0))

  /** Token document-frequency cap for [[dropNearDuplicates]]: inside a block
    * of `n ≥ MinBlockForCap` docs, tokens appearing in more than
    * `n × maxDocFreq` of them are dropped before pairing (the idf/stop-word
    * rationale: block-ubiquitous tokens drive the quadratic pair cost — a
    * token shared by k docs enumerates k² candidates — and carry little
    * discriminative signal). The ORACLE mirrors the cap exactly
    * ([[losersCteDuck]]), so similarity is "Jaccard over df-capped token
    * sets" on both engines at every scale factor and any cap value.
    *
    * Default 1.0 = cap OFF (df can never exceed the block size), keeping
    * exact uncapped-Jaccard semantics. Measured on the sf0.1 fixture, a 0.5
    * cap is counterproductive: the synthetic corpus draws from ~930 distinct
    * block-tokens, so 84% of docs (4182/5000) lose EVERY token to the cap
    * and the pair work just moves from the shared-token join (11.3M → 0.13M
    * enumerations) into the capped-empty comparison (bench 7.8s → 13.1s).
    * On a real Zipfian vocabulary the capped-empty population is ~0 and the
    * cap is the difference between a bounded and an unbounded hot-token
    * reducer — set it (e.g. 0.5) via the parameter for such
    * corpora. */
  val MaxDocFreq = 1.0
  val MinBlockForCap = 8

  /** Adaptive salt count from the corpus row count: enough salts to bound a
    * worst-case hot block's per-reducer pair work, capped — at true 100 TB
    * scale pass an explicit count via config instead. */
  def adaptiveSalts(nDocs: Long): Int =
    math.max(1, math.min(64, ((nDocs + 1999) / 2000).toInt))

  /** Row-count estimate for [[adaptiveSalts]] WITHOUT running a job at
    * DataFrame-construction time: Catalyst's stats rowCount when available,
    * else sizeInBytes / 2 KB (documents average ~1 KB of text plus columns).
    * Only the salt COUNT depends on this — outputs are salt-invariant — so
    * estimate error shifts balance, never results. */
  def adaptiveSaltsFor(df: DataFrame): Int = {
    val stats = df.queryExecution.optimizedPlan.stats
    // BigInt → Long must clamp, not truncate: the size-only estimator
    // MULTIPLIES child sizes across joins, so sizeInBytes can exceed
    // Long.MaxValue exactly on the giant inputs that need the most salts —
    // a wrapped (possibly negative) toLong would collapse salting to 1
    val rows = stats.rowCount.map(_.min(BigInt(Long.MaxValue)).toLong)
      .getOrElse(stats.sizeInBytes.min(BigInt(Long.MaxValue)).toLong / 2000L)
    adaptiveSalts(rows)
  }

  /** End-to-end near-duplicate removal, greedy keep-first-by-id: a document
    * is dropped iff some lower-id document in its blocking bucket is at
    * least `threshold`-Jaccard-similar (Jaccard over df-capped token sets
    * when `maxDocFreq < 1`, see [[MaxDocFreq]]). One anti-join against the
    * close-pair set — the standard production shape (candidates from
    * blocking, exact similarity on candidates only, survivors by anti-join).
    *
    * Plan shape (same as [[jaccardPairs]]): pairs enumerate on a SLIM salted
    * (doc_id, lang, bkt) relation; token arrays join back BY ID and the
    * Jaccard is an array intersect/union expression. An earlier formulation
    * computed |A∩B| via a salted shared-token equi-join + count — its shuffle
    * enumerates one row per shared token per pair (Σ df² rows; 11.3M at
    * sf0.1 on the vocabulary-dense fixture) and measured ~20× slower than
    * this shape (10s vs 0.5s), because the array payloads here move through
    * hash joins keyed by doc id (once per side), never through the
    * salt-replicated join.
    *
    * @param salts 0 = adaptive from plan statistics ([[adaptiveSaltsFor]] —
    *   no job runs at DataFrame-construction time; at 100 TB an extra
    *   corpus scan just to pick a salt count is a full pass over the world). */
  def dropNearDuplicates(docs: DataFrame, threshold: Double = 0.8,
      textCol: String = "text", maxDocFreq: Double = MaxDocFreq,
      minBlockForCap: Int = MinBlockForCap, salts: Int = 0): DataFrame = {
    val nSalts = if (salts > 0) salts else adaptiveSaltsFor(docs)
    // sorted once per doc: pair checks run the linear-merge intersect count
    // (array_except preserves the first array's order, so `toks` stays sorted)
    val t0 = docs.select(col("doc_id"), col("lang"),
      expr("CAST(n_chars DIV 100 AS BIGINT)").as("bkt"),
      array_sort(array_distinct(TextOps.fastTokens(col(textCol)))).as("toks0"))
    // Document-frequency cap (off at the 1.0 default): each block's hot
    // tokens (df > blockSize × maxDocFreq) collect into one small per-block
    // array, broadcast, and subtract from every doc's set. Docs capped to
    // EMPTY sets are compared by their ORIGINAL sets instead — two docs
    // sharing zero actual tokens must never be declared duplicates, while
    // identical boilerplate still dedups (mirrored in losersCteDuck).
    val t =
      if (maxDocFreq >= 1.0) t0.withColumn("toks", col("toks0"))
      else {
        val tok0 = t0.select(col("lang"), col("bkt"), explode(col("toks0")).as("tok"))
        val bn = t0.groupBy("lang", "bkt").agg(count(lit(1)).as("_bn"))
        val hot = tok0.groupBy("lang", "bkt", "tok").agg(count(lit(1)).as("_df"))
          .join(broadcast(bn), Seq("lang", "bkt"))
          .filter(col("_bn") >= minBlockForCap && col("_df") > col("_bn") * maxDocFreq)
          .groupBy("lang", "bkt").agg(collect_list("tok").as("_hot"))
        t0.join(broadcast(hot), Seq("lang", "bkt"), "left")
          .withColumn("toks", when(col("_hot").isNull, col("toks0"))
            .otherwise(array_except(col("toks0"), col("_hot"))))
          .drop("_hot")
      }
    val tt = graft.etl.CacheRegistry.persist(
      t.withColumn("_n", size(col("toks"))).withColumn("_n0", size(col("toks0"))))
    // Slim salted pair enumeration — identical construction to jaccardPairs:
    // a hot (lang, bkt) block costs k²/salts per reducer, and the ×salts
    // replication only touches 3-column rows.
    val slim = tt.select("doc_id", "lang", "bkt")
    val x = slim.withColumn("_salt", pmod(hash(col("doc_id")), lit(nSalts)))
    val y = slim.withColumn("_salt", explode(array((0 until nSalts).map(lit(_)): _*)))
    val pairs = x.as("a").join(y.as("b"),
        col("a.lang") === col("b.lang") && col("a.bkt") === col("b.bkt") &&
        col("a._salt") === col("b._salt") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
    val sim =
      if (maxDocFreq >= 1.0)
        pairs
          .join(tt.select(col("doc_id").as("doc_a"),
            col("toks").as("ta"), col("_n").as("na")), "doc_a")
          .join(tt.select(col("doc_id").as("doc_b"),
            col("toks").as("tb"), col("_n").as("nb")), "doc_b")
          .withColumn("_i", intersectCount(col("ta"), col("tb")))
          .filter(jaccardFromIntersect(col("_i"), col("na"), col("nb")) >= threshold)
      else
        // capped-empty pairs (na+nb == 0) fall back to ORIGINAL sets; the
        // `when` keeps the second intersect conditional, so it only
        // evaluates for that (tiny) population
        pairs
          .join(tt.select(col("doc_id").as("doc_a"), col("toks").as("ta"),
            col("toks0").as("ta0"), col("_n").as("na"), col("_n0").as("na0")), "doc_a")
          .join(tt.select(col("doc_id").as("doc_b"), col("toks").as("tb"),
            col("toks0").as("tb0"), col("_n").as("nb"), col("_n0").as("nb0")), "doc_b")
          .filter(when(col("na") + col("nb") > 0,
            jaccardFromIntersect(intersectCount(col("ta"), col("tb")),
              col("na"), col("nb")))
            .otherwise(jaccardFromIntersect(
              intersectCount(col("ta0"), col("tb0")),
              col("na0"), col("nb0"))) >= threshold)
    // the losers id-set is deterministic per (docs, params) and consumed
    // once per invocation by several callers (the standalone operator, the
    // curation pipelines) — staged so repeat invocations in a JVM scan it
    // instead of re-running the pair enumeration + verify
    def losers0 = sim.select(col("doc_b").as("doc_id")).distinct()
    val losers = graft.etl.StageStore.materializeBy(
      s"nd_losers_${textCol}_${threshold}_${maxDocFreq}_${minBlockForCap}_$nSalts",
      Seq(docs))(losers0).getOrElse(losers0)
    docs.join(losers, Seq("doc_id"), "left_anti")
  }

  /** Keep-first near-duplicate removal with LSH candidates — the 100 TB
    * replacement for [[dropNearDuplicates]]'s char-length blocking. The
    * blocking form enumerates all pairs within `(lang, n_chars DIV 100)`, so
    * a hot block of k docs costs k² pair work no matter how the salt spreads
    * it — a 100× corpus does 10,000× the work. Here candidates are bounded
    * by MinHash signature collisions ([[lshCandidatePairs]] — salted band
    * equi-join, pair count grows with actual near-duplicate density, not
    * block size²), then exact Jaccard re-scores candidates only with the
    * same slim-pairs/join-back-by-id payload discipline. Approximate by
    * design (a true near-dup pair missing every band collision escapes —
    * P(miss) = (1-J^r)^b; ≈0.35 at J=0.8 under the compact in-repo 2-band ×
    * 4-row family, shrinking geometrically as bands grow — production sizes
    * the family, e.g. 16×4 → P(miss) ≈ 0.02%); the oracle replicates the
    * exact band arithmetic so the CHECK is exact at any family size.
    * Docs with no tokens have no signature, hence no candidates: unlike the
    * blocking form they always survive (Jaccard-1.0-on-empty needs the
    * block prior to be meaningful; LSH has no block). */
  def dropNearDuplicatesLsh(docs: DataFrame, threshold: Double = 0.8,
      textCol: String = "text"): DataFrame = {
    // ONE tokenizer pass: the cached distinct-token arrays feed both the
    // signature build (exploded back to a (doc_id, tok) stream — sort order
    // is irrelevant to the min aggregates) and the exact re-score below
    val t = graft.etl.CacheRegistry.persist(docs.select(col("doc_id"),
      array_sort(array_distinct(TextOps.fastTokens(col(textCol)))).as("toks")))
    val pairs = lshCandidatePairs(
      minhashFromTokens(t.select(col("doc_id"), explode(col("toks")).as("tok"))))
    val sim = pairs
      .join(t.select(col("doc_id").as("doc_a"),
        col("toks").as("ta"), size(col("toks")).as("na")), "doc_a")
      .join(t.select(col("doc_id").as("doc_b"),
        col("toks").as("tb"), size(col("toks")).as("nb")), "doc_b")
      .filter(jaccardFromIntersect(intersectCount(col("ta"), col("tb")),
        col("na"), col("nb")) >= threshold)
    // staged for the same reason as the blocking form's losers set
    def losers0 = sim.select(col("doc_b").as("doc_id")).distinct()
    val losers = graft.etl.StageStore.materializeBy(
      s"ndlsh_losers_${textCol}_$threshold", Seq(docs))(losers0)
      .getOrElse(losers0)
    docs.join(losers, Seq("doc_id"), "left_anti")
  }

  /** Keep-first near-dup removal against BUCKET REPRESENTATIVES — the
    * strictly-linear candidate scheme for corpora where near-duplicate
    * density itself is high (boilerplate floods, template spam: the 100 TB
    * web reality). [[dropNearDuplicatesLsh]] re-scores every within-bucket
    * pair, which is exact over the band candidates but quadratic in bucket
    * occupancy — a 10× denser corpus measured ~500× the work (see
    * NOTES.md round-7 probe). Here each (band, bucket) elects its min-id
    * member as representative via a PARTIAL-AGGREGATING min (map-side
    * combine — no reducer ever holds a bucket), and every other member is
    * re-scored against representatives only: candidate volume is exactly
    * |buckets·members| ≤ n·bands, linear at any density, no hot reducer
    * anywhere in the plan.
    *
    * Recall tradeoff, stated honestly: b is dropped iff some bucket
    * representative (min id) is `threshold`-similar to b. In a true
    * near-dup cluster sharing a bucket, all members are mutually similar,
    * so everyone but the min drops — the intended outcome. A miss needs b
    * to collide with a DISSIMILAR min while a similar non-min shares the
    * bucket — second-order under banding (collision correlates with
    * similarity). The oracle replicates the representative arithmetic
    * exactly, so the check stays exact. */
  def dropNearDuplicatesLshRep(docs: DataFrame, threshold: Double = 0.8,
      textCol: String = "text"): DataFrame = {
    val t = graft.etl.CacheRegistry.persist(docs.select(col("doc_id"),
      array_sort(array_distinct(TextOps.fastTokens(col(textCol)))).as("toks")))
    val buckets = graft.etl.CacheRegistry.persist(bandBuckets(
      minhashFromTokens(t.select(col("doc_id"), explode(col("toks")).as("tok")))))
    val reps = buckets.groupBy("bi", "band").agg(min("doc_id").as("doc_a"))
    val pairs = buckets.join(reps, Seq("bi", "band"))
      .filter(col("doc_id") =!= col("doc_a"))
      .select(col("doc_a"), col("doc_id").as("doc_b")).distinct()
    val sim = pairs
      .join(t.select(col("doc_id").as("doc_a"),
        col("toks").as("ta"), size(col("toks")).as("na")), "doc_a")
      .join(t.select(col("doc_id").as("doc_b"),
        col("toks").as("tb"), size(col("toks")).as("nb")), "doc_b")
      .filter(jaccardFromIntersect(intersectCount(col("ta"), col("tb")),
        col("na"), col("nb")) >= threshold)
    val losers = sim.select(col("doc_b").as("doc_id")).distinct()
    docs.join(losers, Seq("doc_id"), "left_anti")
  }

  /** Connected components over the bipartite doc–bucket membership graph —
    * docs sharing any (band index, band hash) bucket are connected — WITHOUT
    * ever materializing candidate pairs: label propagation alternates a
    * doc→bucket and a bucket→doc min aggregation, so one round costs two
    * joins + two groupBys over O(NumBands · nDocs) membership rows. The pair
    * graph ([[lshCandidatePairs]]) is k² per hot bucket — at scale
    * this bipartite form is the difference between feasible and not, and it
    * computes the SAME components (a shared bucket connects its members
    * through the bucket node). Labels decrease monotonically to the
    * component minimum; rounds ≈ component diameter (cliques: 2). */
  def clusterByBuckets(docs: DataFrame, memberships: DataFrame,
      maxIters: Int = 20): DataFrame =
    // staged by INPUT plans (the loop's result is a localCheckpoint chain —
    // fresh RDD ids every call, no stable output key): five public
    // operators (clusters, keep-best, leakage-safe splits, dedup weights,
    // the corpus card) run this exact CC on the same memberships
    graft.etl.StageStore.materializeBy(s"cc_$maxIters", Seq(docs, memberships)) {
      clusterByBucketsCompute(docs, memberships, maxIters)
    }.getOrElse(clusterByBucketsCompute(docs, memberships, maxIters))

  private def clusterByBucketsCompute(docs: DataFrame, memberships: DataFrame,
      maxIters: Int): DataFrame = {
    val m = graft.etl.CacheRegistry.persist(
      memberships.select(col("doc_id"),
        concat_ws(":", col("bi"), col("band")).as("bucket")))
    var labels = docs.select(col("doc_id"), col("doc_id").as("cluster_id"))
    // prop carries the round's INPUT label alongside the output (`_prev`), so
    // the convergence test below is a scan-side aggregate over the round's
    // own result — not the extra doc-sized join-per-round this used to cost.
    def prop(l: DataFrame): DataFrame = {
      val bucketMin = m.join(l, "doc_id")
        .groupBy("bucket").agg(min("cluster_id").as("_bmin"))
      val docMin = m.join(bucketMin, "bucket")
        .groupBy("doc_id").agg(min("_bmin").as("_nmin"))
      val stepped = l.join(docMin, Seq("doc_id"), "left")
        .select(col("doc_id"), col("cluster_id").as("_prev"),
          least(col("cluster_id"), coalesce(col("_nmin"), col("cluster_id")))
            .as("cluster_id"))
      // pointer jumping (path halving): follow cluster_id one hop through the
      // label table itself, so label chains collapse in O(log diameter)
      // rounds instead of O(diameter) — the standard CC acceleration; one
      // extra self-join keyed by the (doc-count-sized) label relation
      stepped.as("l")
        .join(stepped.select(col("doc_id").as("cluster_id"),
          col("cluster_id").as("_root")).as("r"), Seq("cluster_id"), "left")
        .select(col("doc_id"), col("l._prev").as("_prev"),
          least(col("cluster_id"), coalesce(col("_root"), col("cluster_id")))
            .as("cluster_id"))
    }
    var changed = 1L
    var i = 0
    while (changed > 0 && i < maxIters) {
      // lazy localCheckpoint EVERY round: prop references its step result
      // twice (the pointer-jump self-join), so un-truncated logical plans
      // would double per round and Catalyst re-analysis — not execution —
      // becomes the cost (measured: 41s for round 7 without truncation).
      // Lazy = the convergence count below is the one action materializing it.
      val next = prop(labels).localCheckpoint(eager = false)
      changed = next.filter(col("cluster_id") =!= col("_prev")).count()
      // rounds are localCheckpoints: Dataset.unpersist cannot free their
      // blocks; dropping the reference each round hands them to the
      // ContextCleaner (the registry deliberately does NOT hold them — a
      // strong ref would only delay that GC-driven cleanup)
      labels = next.select("doc_id", "cluster_id")
      i += 1
    }
    labels
  }

  /** Quality-aware canonical selection: within each LSH-connected duplicate
    * cluster keep the BEST member, not the first — the rule production
    * curation stacks actually use (RefinedWeb/FineWeb keep the
    * highest-quality capture of a near-dup group; keep-first is only the
    * id-ordering special case). "Best" is an exact-integer key — most
    * alphabetic characters, then most characters, then smallest doc_id —
    * so the argmax is bit-identical on both engines (no double ratios in
    * the ordering).
    *
    * Plan shape: the cluster labels are [[clusterByBuckets]]'s bipartite
    * label propagation (already scale-adjudicated; candidate pairs never
    * materialize), the per-doc quality key is a narrow projection, and the
    * selection itself is ONE map-side-combinable `max(struct(...))`
    * aggregate keyed by cluster id plus an id-keyed join-back — no windows,
    * nothing quadratic, the cluster-sized state is a single 3-field struct.
    * Returns one row per cluster: (doc_id kept, cluster_id, cluster_size,
    * n_alpha, n_chars). */
  def keepBestInCluster(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val labels = clusterByBuckets(docs, bandBuckets(minhashSignatures(docs, textCol)))
    val keyed = labels.join(
      docs.select(col("doc_id"),
        TextOps.alphaCount(textCol).as("n_alpha"),
        TextOps.charCount(textCol).as("n_chars")), "doc_id")
    keyed.groupBy("cluster_id")
      .agg(count(lit(1)).as("cluster_size"),
        max(struct(col("n_alpha"), col("n_chars"), (-col("doc_id")).as("ni")))
          .as("_best"))
      .select((-col("_best.ni")).as("doc_id"), col("cluster_id"),
        col("cluster_size"), col("_best.n_alpha").as("n_alpha"),
        col("_best.n_chars").as("n_chars"))
  }

  /** DuckDB oracle for [[keepBestInCluster]]: the shared recursive-CTE
    * component computation ([[clustersCteDuck]] — an independent fixpoint
    * formulation of the same components), then a window row_number over
    * (n_alpha DESC, n_chars DESC, doc_id) per cluster. The engine's
    * max-of-struct and the oracle's row_number are different mechanisms
    * over the same total order, which is what makes the check real. */
  def keepBestSqlDuck: String =
    s"""$clustersCteDuck,
       | q AS (SELECT doc_id,
       |   CAST(length(regexp_replace(lower(text), '[^a-z]', '', 'g')) AS BIGINT) AS n_alpha,
       |   CAST(length(text) AS BIGINT) AS n_chars FROM documents),
       | m AS (SELECT cl.doc_id, cl.cluster_id, q.n_alpha, q.n_chars
       |   FROM cl JOIN q USING (doc_id)),
       | sz AS (SELECT cluster_id, count(*) AS cluster_size FROM m GROUP BY cluster_id)
       |SELECT m.doc_id, m.cluster_id, sz.cluster_size, m.n_alpha, m.n_chars
       |FROM m JOIN sz USING (cluster_id)
       |QUALIFY row_number() OVER (PARTITION BY m.cluster_id
       |  ORDER BY m.n_alpha DESC, m.n_chars DESC, m.doc_id) = 1
       |ORDER BY doc_id""".stripMargin

  /** DuckDB oracle for LSH-connected duplicate clusters ([[clusterByBuckets]]
    * over [[bandBuckets]], or equivalently min-label propagation over
    * [[lshCandidatePairs]]): connected components as a recursive CTE — `reach` holds
    * every (doc, reachable doc) pair over the undirected edge set, and the
    * cluster id is the minimum reachable doc id. Independent formulation
    * (fixpoint set-semantics recursion vs the engine's iterative min-label
    * propagation), same result — which is what makes it a real oracle. */
  def clustersSqlDuck: String =
    s"""$clustersCteDuck
       |SELECT doc_id, cluster_id FROM cl ORDER BY doc_id""".stripMargin

  /** The same component computation as a reusable CTE chain ending in
    * `cl(doc_id, cluster_id)` — shared with oracles that build ON the
    * clusters (e.g. the leakage-safe split). */
  def clustersCteDuck: String = {
    val bandUnion = (0 until NumBands)
      .map(b => s"SELECT doc_id, $b AS bi, band$b AS band FROM bands")
      .mkString(" UNION ALL ")
    s"""WITH RECURSIVE $toksCteDuck, $sigsCteDuck,
       | bands AS (SELECT doc_id, $bandsExprDuck FROM sigs),
       | buckets AS ($bandUnion),
       | prs AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
       |   FROM buckets x JOIN buckets y
       |   ON x.bi = y.bi AND x.band = y.band AND x.doc_id < y.doc_id),
       | edges AS (SELECT a AS src, b AS dst FROM prs
       |   UNION ALL SELECT b AS src, a AS dst FROM prs),
       | reach AS (
       |  SELECT doc_id, doc_id AS r FROM documents
       |  UNION
       |  SELECT e.src AS doc_id, reach.r FROM edges e
       |  JOIN reach ON e.dst = reach.doc_id),
       | cl AS (SELECT doc_id, CAST(min(r) AS BIGINT) AS cluster_id
       |  FROM reach GROUP BY doc_id)""".stripMargin
  }

  // ---- oracle SQL builders (DuckDB dialect) ----------------------------

  def toksCteDuck: String = toksCteDuck("documents")

  def toksCteDuck(rel: String): String =
    s"toks AS (SELECT doc_id, unnest(list_distinct(${TextOps.tokensSqlDuck("text")})) AS tok FROM $rel)"

  def sigsCteDuck: String = {
    val mins = (0 until NumHashes).map(i => s"min(md5('mh$i' || tok)) AS s$i").mkString(", ")
    s"sigs AS (SELECT doc_id, $mins FROM toks GROUP BY doc_id)"
  }

  /** `bands` + exploded `buckets` CTEs over an existing `sigs` CTE — the
    * shared band-bucket relation for pair-generating oracles
    * ([[lshLosersCteDuck]], [[graft.ext.Pipelines.incrementalIngestNearDupSqlDuck]]). */
  def bucketsCteDuck: String = {
    val bandUnion = (0 until NumBands)
      .map(b => s"SELECT doc_id, $b AS bi, band$b AS band FROM bands")
      .mkString(" UNION ALL ")
    s"""bands AS (SELECT doc_id, $bandsExprDuck FROM sigs),
       | buckets AS ($bandUnion)""".stripMargin
  }

  /** `md5(s0 || s1 || ...) AS bandN` projections, shared by the signature
    * and pair oracles. */
  private def bandsExprDuck: String =
    (0 until NumBands).map { b =>
      val cols = (b * RowsPerBand until (b + 1) * RowsPerBand).map(i => s"s$i").mkString(" || ")
      s"md5($cols) AS band$b"
    }.mkString(", ")

  def minhashSqlDuck: String = {
    val sigCols = (0 until NumHashes).map(i => s"s$i").mkString(", ")
    s"WITH $toksCteDuck, $sigsCteDuck SELECT doc_id, $sigCols, $bandsExprDuck FROM sigs ORDER BY doc_id"
  }

  /** Shingle-MinHash oracle: the ordered (duplicate-preserving) token list
    * unnests with positions, each position's shingle assembles via window
    * `lead` (a NULL lead past the end nulls the whole concat, dropping
    * incomplete shingles), then the same min-md5 signature + band
    * construction as [[sigsCteDuck]]. */
  def minhashShinglesSqlDuck(w: Int = 3): String = {
    val sigCols = (0 until NumHashes).map(i => s"s$i").mkString(", ")
    val mins = (0 until NumHashes).map(i => s"min(md5('mh$i' || tok)) AS s$i").mkString(", ")
    val parts = ("tok" +: (1 until w).map(j =>
      s"lead(tok, $j) OVER (PARTITION BY doc_id ORDER BY i)")).mkString(" || ' ' || ")
    s"""WITH tk AS (SELECT doc_id, ${TextOps.tokensSqlDuck("text")} AS tks FROM documents),
       | pos AS (SELECT doc_id, unnest(tks) AS tok, generate_subscripts(tks, 1) AS i FROM tk),
       | sh AS (SELECT doc_id, $parts AS tok FROM pos),
       | sigs AS (SELECT doc_id, $mins FROM sh WHERE tok IS NOT NULL GROUP BY doc_id)
       |SELECT doc_id, $sigCols, $bandsExprDuck FROM sigs ORDER BY doc_id""".stripMargin
  }

  def lshPairsSqlDuck: String =
    s"""WITH $lshPairsCteDuck
       |SELECT a AS doc_a, b AS doc_b FROM prs
       |ORDER BY doc_a, doc_b""".stripMargin

  /** The LSH candidate-pair computation as a reusable CTE chain ending in
    * `prs(a, b)` with a < b — shared by [[lshPairsSqlDuck]] and oracles
    * that build ON the pair graph (e.g. the PageRank oracle). */
  def lshPairsCteDuck: String = {
    val bandUnion = (0 until NumBands)
      .map(b => s"SELECT doc_id, $b AS bi, band$b AS band FROM bands")
      .mkString(" UNION ALL ")
    s"""$toksCteDuck, $sigsCteDuck,
       | bands AS (SELECT doc_id, $bandsExprDuck FROM sigs),
       | buckets AS ($bandUnion),
       | prs AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
       |   FROM buckets x JOIN buckets y
       |   ON x.bi = y.bi AND x.band = y.band AND x.doc_id < y.doc_id)""".stripMargin
  }

  def simhashSqlDuck: String =
    s"""WITH $toksCteDuck
       |SELECT doc_id, ${simhash16Expr("h")} AS simhash16
       |FROM (SELECT doc_id, md5(tok) AS h FROM toks)
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Blocked-Jaccard CASE expression over two token-list columns. */
  def jaccardExprDuck(a: String, b: String): String =
    s"""CASE WHEN len(list_distinct(list_concat($a, $b))) > 0
       |    THEN CAST(len(list_intersect($a, $b)) AS DOUBLE) /
       |      len(list_distinct(list_concat($a, $b)))
       |    ELSE 1.0 END""".stripMargin

  /** Shared CTE chain ending in `losers`: near-dup losers (higher id of each
    * close pair) of relation `rel` with (doc_id, lang, n_chars, text)
    * columns. Mirrors [[dropNearDuplicates]] exactly, including the
    * document-frequency cap: Jaccard is computed over df-capped token sets
    * (`pt.toks`), so both engines implement the same similarity measure. */
  def losersCteDuck(rel: String, threshold: Double,
      maxDocFreq: Double = MaxDocFreq, minBlockForCap: Int = MinBlockForCap): String =
    s"""t AS (SELECT doc_id, lang, CAST(n_chars // 100 AS BIGINT) AS bkt,
       |    list_distinct(${TextOps.tokensSqlDuck("text")}) AS toks FROM $rel),
       | bn AS (SELECT lang, bkt, COUNT(*) AS n FROM t GROUP BY lang, bkt),
       | tok0 AS (SELECT doc_id, lang, bkt, unnest(toks) AS tok FROM t),
       | hot AS (
       |  SELECT d.lang, d.bkt, d.tok
       |  FROM (SELECT lang, bkt, tok, COUNT(*) AS df FROM tok0 GROUP BY lang, bkt, tok) d
       |  JOIN bn ON d.lang = bn.lang AND d.bkt = bn.bkt
       |  WHERE bn.n >= $minBlockForCap AND d.df > bn.n * $maxDocFreq),
       | kept AS (
       |  SELECT * FROM tok0 WHERE NOT EXISTS (SELECT 1 FROM hot h
       |    WHERE h.lang = tok0.lang AND h.bkt = tok0.bkt AND h.tok = tok0.tok)),
       | pt AS (
       |  SELECT t.doc_id, t.lang, t.bkt, t.toks AS toks0,
       |    coalesce(k.toks, CAST([] AS VARCHAR[])) AS toks
       |  FROM t LEFT JOIN (SELECT doc_id, list(tok) AS toks FROM kept GROUP BY doc_id) k
       |    ON t.doc_id = k.doc_id),
       | losers AS (
       |  SELECT DISTINCT b.doc_id FROM pt a JOIN pt b
       |    ON a.lang = b.lang AND a.bkt = b.bkt AND a.doc_id < b.doc_id
       |  WHERE CASE WHEN len(list_distinct(list_concat(a.toks, b.toks))) > 0
       |    THEN ${jaccardExprDuck("a.toks", "b.toks")} >= $threshold
       |    ELSE ${jaccardExprDuck("a.toks0", "b.toks0")} >= $threshold END)""".stripMargin

  /** CTE chain ending in `losers` for [[dropNearDuplicatesLsh]]: candidate
    * pairs from the exact MinHash band arithmetic ([[lshPairsSqlDuck]]'s
    * bucket-join CTEs), then the Jaccard re-score — the LSH counterpart of
    * [[losersCteDuck]]. */
  def lshLosersCteDuck(rel: String, threshold: Double): String =
    lshLosersCteDuck(rel, threshold, repMode = false)

  /** @param repMode false = every within-bucket pair ([[dropNearDuplicatesLsh]]);
    *   true = member-vs-bucket-representative only ([[dropNearDuplicatesLshRep]]). */
  def lshLosersCteDuck(rel: String, threshold: Double, repMode: Boolean): String = {
    val bandUnion = (0 until NumBands)
      .map(b => s"SELECT doc_id, $b AS bi, band$b AS band FROM bands")
      .mkString(" UNION ALL ")
    val prs =
      if (repMode)
        s"""reps AS (SELECT bi, band, min(doc_id) AS doc_a FROM buckets GROUP BY bi, band),
           | prs AS (SELECT DISTINCT r.doc_a, m.doc_id AS doc_b
           |   FROM buckets m JOIN reps r ON m.bi = r.bi AND m.band = r.band
           |   WHERE m.doc_id <> r.doc_a)""".stripMargin
      else
        s"""prs AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
           |   FROM buckets x JOIN buckets y
           |   ON x.bi = y.bi AND x.band = y.band AND x.doc_id < y.doc_id)""".stripMargin
    s"""${toksCteDuck(rel)}, $sigsCteDuck,
       | bands AS (SELECT doc_id, $bandsExprDuck FROM sigs),
       | buckets AS ($bandUnion),
       | $prs,
       | tl AS (SELECT doc_id, list_distinct(${TextOps.tokensSqlDuck("text")}) AS toks FROM $rel),
       | losers AS (SELECT DISTINCT p.doc_b AS doc_id FROM prs p
       |   JOIN tl a ON a.doc_id = p.doc_a JOIN tl b ON b.doc_id = p.doc_b
       |   WHERE ${jaccardExprDuck("a.toks", "b.toks")} >= $threshold)""".stripMargin
  }

  def dropNearDuplicatesLshSqlDuck(threshold: Double = 0.8): String =
    s"""WITH ${lshLosersCteDuck("documents", threshold)}
       |SELECT d.* FROM documents d
       |WHERE NOT EXISTS (SELECT 1 FROM losers l WHERE l.doc_id = d.doc_id)
       |ORDER BY d.doc_id""".stripMargin

  def dropNearDuplicatesLshRepSqlDuck(threshold: Double = 0.8): String =
    s"""WITH ${lshLosersCteDuck("documents", threshold, repMode = true)}
       |SELECT d.* FROM documents d
       |WHERE NOT EXISTS (SELECT 1 FROM losers l WHERE l.doc_id = d.doc_id)
       |ORDER BY d.doc_id""".stripMargin

  def dropNearDuplicatesSqlDuck(threshold: Double = 0.8): String =
    s"""WITH ${losersCteDuck("documents", threshold)}
       |SELECT d.* FROM documents d
       |WHERE NOT EXISTS (SELECT 1 FROM losers l WHERE l.doc_id = d.doc_id)
       |ORDER BY d.doc_id""".stripMargin

  /** Edit-distance (Levenshtein) near-dup candidate pairs over the docs'
    * normalized 8-token prefixes — the string-similarity complement to the
    * set-based (Jaccard/MinHash) and bit-based (SimHash) families: it
    * catches single-character edits and reorder-free typos that token-set
    * measures under-weigh, and it's the standard blocking+verify shape of
    * entity-resolution pipelines.
    *
    * Blocking: (lang, first token) — only docs agreeing on both are
    * compared, so candidate volume tracks block sizes, never n². The
    * enumeration self-join is salted exactly like [[jaccardPairs]] (left
    * salt from doc_id, right side replicated, salt in the join key) so a
    * hot first-token block spreads over `salts` reducers. Unlike the token
    * arrays there, the ≤8-token prefix is a bounded ~50-byte payload, so it
    * rides through the salted join directly instead of joining back by id
    * (one shuffle instead of three).
    *
    * The verify step is the exact quadratic-DP `levenshtein` on the two
    * prefixes (identical classic definition in Spark and DuckDB — pinned by
    * a differential in DedupSpec); cost per pair is bounded by the prefix
    * cap, not document length. Docs with no tokens have no prefix and join
    * nowhere (NULL first token on both engines). */
  def editDistancePairs(docs: DataFrame, maxDist: Int = 10,
      prefixTokens: Int = 8, salts: Int = 8,
      textCol: String = "text"): DataFrame = {
    // persisted (r17): both sides of the salted self-join derive from t —
    // unpersisted, the corpus tokenize ran twice; t is a slim ~60 B/doc
    // (id, lang, tok1, prefix) relation
    val t = graft.etl.CacheRegistry.persist(
      docs.select(col("doc_id"), col("lang"),
        TextOps.fastTokens(col(textCol)).as("_toks"))
      .select(col("doc_id"), col("lang"), element_at(col("_toks"), 1).as("tok1"),
        array_join(slice(col("_toks"), 1, prefixTokens), " ").as("pfx"))
      .filter(col("tok1").isNotNull))
    val x = t.withColumn("_salt", pmod(hash(col("doc_id")), lit(salts)))
    val y = t.withColumn("_salt", explode(array((0 until salts).map(lit(_)): _*)))
    x.as("a").join(y.as("b"),
        col("a.lang") === col("b.lang") && col("a.tok1") === col("b.tok1") &&
        col("a._salt") === col("b._salt") && col("a.doc_id") < col("b.doc_id"))
      // bounded 3-arg levenshtein: O(maxDist·len) banded DP with early
      // exit, returning −1 above the threshold — for surviving pairs the
      // value equals the exact distance, so the oracle's unbounded form
      // matches while the engine skips most of each rejected pair's DP
      // table (bench: 3.8 s → 3-arg on the same 107k sf0.1 candidates)
      .withColumn("dist",
        levenshtein(col("a.pfx"), col("b.pfx"), maxDist).cast("long"))
      .filter(col("dist") >= 0 && col("dist") <= maxDist)
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"), col("dist"))
  }

  def editDistancePairsSqlDuck(maxDist: Int = 10, prefixTokens: Int = 8): String =
    s"""WITH t AS (SELECT doc_id, lang, toks[1] AS tok1,
       |    array_to_string(list_slice(toks, 1, $prefixTokens), ' ') AS pfx
       |  FROM (SELECT doc_id, lang, ${TextOps.tokensSqlDuck("text")} AS toks
       |        FROM documents)
       |  WHERE toks[1] IS NOT NULL)
       |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |  CAST(levenshtein(a.pfx, b.pfx) AS BIGINT) AS dist
       |FROM t a JOIN t b ON a.lang = b.lang AND a.tok1 = b.tok1
       |  AND a.doc_id < b.doc_id
       |WHERE levenshtein(a.pfx, b.pfx) <= $maxDist
       |ORDER BY doc_a, doc_b""".stripMargin

  def jaccardSqlDuck: String =
    s"""WITH t AS (SELECT doc_id, lang, CAST(n_chars // 100 AS BIGINT) AS bkt,
       |    list_distinct(${TextOps.tokensSqlDuck("text")}) AS toks FROM documents)
       |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |  ${jaccardExprDuck("a.toks", "b.toks")} AS jaccard
       |FROM t a JOIN t b ON a.lang = b.lang AND a.bkt = b.bkt AND a.doc_id < b.doc_id
       |ORDER BY doc_a, doc_b""".stripMargin

  /** Cross-source contamination matrix: for every source pair (a < b) the
    * number of DISTINCT w-shingles both emit, each side's distinct-shingle
    * count, and the overlap coefficient shared/min(|A|,|B|) floor-quantized
    * to micro-units (integer until the one DIV) — the "is benchmark/source
    * B leaking into training source A" audit at corpus granularity, the
    * between-slice companion of the per-doc decontaminate gate.
    *
    * Scale shape: the distinct (shingle, source) projection collapses every
    * repeat BEFORE the join, so each shingle key carries at most |sources|
    * rows and the self-equi-join emits ≤ C(|sources|,2) pairs per distinct
    * shingle — never doc×doc, unsaltable-hot only if one shingle spanned
    * most sources (bounded by the |sources|² output anyway). Shingles ride
    * as md5 digests: fixed-width shuffle keys, bit-identical on both
    * engines. */
  def crossSourceOverlap(docs: DataFrame, w: Int = 5): DataFrame = {
    // (r18) grouped-sets form replaces the r17 distinct + self-join: the
    // corpus-sized (shingle, source) relation is exchanged exactly ONCE —
    // groupBy(h) with map-side partial collect_set both deduplicates
    // (subsuming the old distinct) and assembles each shingle's source
    // set; ordered pairs (a ≤ b, sorted set) then explode per shingle and
    // partial-count down to a |sources|²-bounded rollup before the only
    // other (tiny) exchange. The diagonal (s, s) carries the per-source
    // distinct-shingle totals, so no second pass over the corpus and no
    // corpus-sized persist (the r17 persist of `ds` REGRESSED the row
    // 1.52→2.65 s at 32 cores — cache write of a corpus-wide relation
    // cost more than the recompute it saved; VERDICT r17 item 1).
    // Equivalence: n_shared(a,b) = |{h : a ∈ srcs(h) ∧ b ∈ srcs(h)}| and
    // n_s = |{h : s ∈ srcs(h)}| are exactly the old self-join/groupBy
    // counts over distinct (h, source); a null source never reached the
    // old output either (pairs required a.source < b.source, and perSrc
    // rows only surfaced through joins on pair keys).
    val sets = shingles(docs, w)
      .join(docs.select(col("doc_id"), col("source")), "doc_id")
      .filter(col("source").isNotNull)
      .groupBy(md5(col("tok")).as("h"))
      .agg(array_sort(collect_set(col("source"))).as("srcs"))
    val cnt = graft.etl.CacheRegistry.persist(sets
      .select(explode(expr(
        """flatten(transform(srcs, (a, i) ->
          |  transform(slice(srcs, i + 1, size(srcs) - i), b ->
          |    named_struct('src_a', a, 'src_b', b))))""".stripMargin)).as("p"))
      .groupBy(col("p.src_a").as("src_a"), col("p.src_b").as("src_b"))
      .agg(count(lit(1)).as("n")))
    val perSrc = cnt.filter(col("src_a") === col("src_b"))
      .select(col("src_a").as("source"), col("n"))
    cnt.filter(col("src_a") =!= col("src_b"))
      .select(col("src_a"), col("src_b"), col("n").as("n_shared"))
      .join(broadcast(perSrc.select(col("source").as("src_a"), col("n").as("n_a"))), "src_a")
      .join(broadcast(perSrc.select(col("source").as("src_b"), col("n").as("n_b"))), "src_b")
      .withColumn("overlap_micro", expr("n_shared * 1000000 DIV least(n_a, n_b)"))
      .select(col("src_a"), col("src_b"), col("n_shared"), col("n_a"),
        col("n_b"), col("overlap_micro"))
      .orderBy("src_a", "src_b")
  }

  /** Oracle twin of [[crossSourceOverlap]] — same distinct-projection,
    * self-join, and integer overlap-coefficient chain. */
  def crossSourceOverlapSqlDuck(w: Int = 5): String =
    s"""WITH sh AS (${TextOps.shingleCtesDuck(w, "")}),
       | ds AS (SELECT DISTINCT md5(s) AS h, source FROM sh WHERE s IS NOT NULL),
       | ps AS (SELECT source, CAST(count(*) AS BIGINT) AS n FROM ds GROUP BY source),
       | pr AS (SELECT a.source AS src_a, b.source AS src_b,
       |    CAST(count(*) AS BIGINT) AS n_shared
       |  FROM ds a JOIN ds b ON a.h = b.h AND a.source < b.source
       |  GROUP BY 1, 2)
       |SELECT src_a, src_b, n_shared, pa.n AS n_a, pb.n AS n_b,
       |  CAST(n_shared * 1000000 // least(pa.n, pb.n) AS BIGINT) AS overlap_micro
       |FROM pr JOIN ps pa ON pr.src_a = pa.source
       |  JOIN ps pb ON pr.src_b = pb.source
       |ORDER BY src_a, src_b""".stripMargin

  /** Sorted-neighborhood near-dup pairs (Hernández & Stolfo, SIGMOD'95 —
    * the classic entity-resolution BLOCKING alternative to hash blocks and
    * LSH): sort the corpus by a normalized blocking key (here the first
    * `keyLen` chars of the token-normalized text), then compare each record
    * only to its `window−1` successors in the sort order; exact token-set
    * Jaccard ≥ `theta` verifies each candidate. Linear candidate count
    * (n·(w−1)) by construction — the method's whole selling point — at the
    * price of the documented miss class: near-dups whose keys sort far
    * apart (e.g. a rotated first token) are invisible, which is why
    * production stacks multi-pass SNM with different keys or falls back to
    * [[lshCandidatePairs]].
    *
    * Scale shape: the global sort position comes from
    * [[graft.etl.IngestOps.withGlobalPos]] (deterministic range buckets +
    * ≤numParts driver scalars — no single-partition window); neighbor
    * enumeration is ONE equi-join on position after a (w−1)-way offset
    * explode of a SLIM (doc_id, pos) relation; token arrays join back by id
    * only for the n·(w−1) candidates. Every join an equi-join. */
  def sortedNeighborhoodPairs(docs: DataFrame, window: Int = 5,
      theta: Double = 0.5, keyLen: Int = 16,
      textCol: String = "text"): DataFrame = {
    require(window >= 2 && window <= 1000, s"window out of range: $window")
    require(keyLen >= 1 && keyLen <= 1000, s"keyLen out of range: $keyLen")
    val t = graft.etl.CacheRegistry.persist(docs.filter(col("doc_id").isNotNull)
      .select(col("doc_id"),
        array_sort(array_distinct(TextOps.fastTokens(col(textCol)))).as("toks"),
        substring(array_join(TextOps.fastTokens(col(textCol)), " "), 1, keyLen)
          .as("snkey")))
    val pos = graft.etl.IngestOps.withGlobalPos(t.select("doc_id", "snkey"),
      col("snkey"), "_pos", order = Seq(col("snkey"), col("doc_id")))
    val right = pos.select(col("doc_id").as("doc_b"), col("_pos").as("pb"))
      .withColumn("_off", explode(array((1 until window).map(lit(_)): _*)))
      .select(col("doc_b"), (col("pb") - col("_off")).as("pa"))
    val cand = pos.select(col("doc_id").as("doc_a"), col("_pos").as("pa"))
      .join(right, "pa")
      .select(col("doc_a"), col("doc_b"))
    cand
      .join(t.select(col("doc_id").as("doc_a"), col("toks").as("ta")), "doc_a")
      .join(t.select(col("doc_id").as("doc_b"), col("toks").as("tb")), "doc_b")
      .withColumn("_i", intersectCount(col("ta"), col("tb")))
      .withColumn("jaccard",
        jaccardFromIntersect(col("_i"), size(col("ta")), size(col("tb"))))
      .filter(col("jaccard") >= theta)
      .select(least(col("doc_a"), col("doc_b")).as("doc_a"),
        greatest(col("doc_a"), col("doc_b")).as("doc_b"), col("jaccard"))
  }

  /** Oracle twin of [[sortedNeighborhoodPairs]]: plain row_number ranking
    * (the semantics withGlobalPos replaces), position-band self-join, the
    * shared Jaccard expression. */
  def sortedNeighborhoodPairsSqlDuck(window: Int = 5, theta: Double = 0.5,
      keyLen: Int = 16): String =
    s"""WITH t AS (SELECT doc_id,
       |    list_sort(list_distinct(${TextOps.tokensSqlDuck("text")})) AS toks,
       |    substring(array_to_string(${TextOps.tokensSqlDuck("text")}, ' '),
       |      1, $keyLen) AS snkey
       |  FROM documents WHERE doc_id IS NOT NULL),
       | p AS (SELECT doc_id, toks,
       |    CAST(row_number() OVER (ORDER BY snkey, doc_id) AS BIGINT) AS pos
       |   FROM t),
       | cand AS (SELECT a.doc_id AS da, b.doc_id AS db,
       |     ${jaccardExprDuck("a.toks", "b.toks")} AS jaccard
       |   FROM p a JOIN p b
       |     ON b.pos > a.pos AND b.pos <= a.pos + ${window - 1})
       |SELECT least(da, db) AS doc_a, greatest(da, db) AS doc_b, jaccard
       |FROM cand WHERE jaccard >= $theta
       |ORDER BY doc_a, doc_b""".stripMargin
}
