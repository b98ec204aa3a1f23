package graft.ext

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession.spark

class TextOpsSpec extends AnyFunSuite {
  import spark.implicits._

  private def docs(rows: (Long, String)*) = rows.toDF("doc_id", "text")

  test("quality: counts and ratios on a known string") {
    val d = docs((1L, "The cat, the hat!")) // tokens: the,cat,the,hat
    val r = TextOps.quality(d).collect().head
    assert(r.getAs[Long]("n_chars") == 17)
    assert(r.getAs[Long]("n_tokens") == 4)
    assert(r.getAs[Long]("n_alpha") == 12) // Thecatthehat
    assert(r.getAs[Long]("n_stop") == 2) // 'the' twice
    assert(r.getAs[Double]("alpha_ratio") == 12.0 / 17)
    assert(r.getAs[Double]("stop_ratio") == 0.5)
  }

  test("surprisal: hand-computed MLE bigram model on a 3-doc corpus") {
    // bigram stream: d1 = (a,b)(b,a)(a,b); d2 = (a,b)(b,c); d3 excluded
    // (single token). C(a·)=3, C(b·)=2; C(ab)=3, C(ba)=1, C(bc)=1.
    // q(ab) = floor(3e6/3) = 1e6; q(ba) = q(bc) = 2e6.
    val d = docs((1L, "a b a b"), (2L, "a b c"), (3L, "c"))
    val out = TextOps.surprisal(d).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(out.keySet == Set(1L, 2L)) // doc 3 has no bigrams
    assert(out(1L) == ((3L, 4000000.0 / 3.0 / 1000000.0))) // (1e6+2e6+1e6)/3
    assert(out(2L) == ((2L, 3000000.0 / 2.0 / 1000000.0))) // (1e6+2e6)/2
    // a uniformly predictable doc scores exactly 1.0
    val mono = docs((9L, "x x x x"))
    val m = TextOps.surprisal(mono).collect().head
    assert(m.getLong(1) == 3L && m.getDouble(2) == 1.0)
  }

  test("gopherRules: hand-computed signals and rule flags") {
    // d1: 4 tokens (below the 20-word floor), 2 stopword hits, mean len 3
    // d2: 24 tokens (the + w01..w22 + the), all rules pass
    // d3: empty text — count rule fails, vacuous rules pass
    val d2Text = "the " + (1 to 22).map(i => f"w$i%02d").mkString(" ") + " the"
    val r = TextOps.gopherRules(docs((1L, "The cat, the hat!"), (2L, d2Text), (3L, "")))
      .collect().map(x => x.getAs[Long]("doc_id") -> x).toMap
    assert(r(1L).getAs[Long]("n_tok") == 4L)
    assert(r(1L).getAs[Long]("sum_tok_len") == 12L)
    assert(r(1L).getAs[Long]("n_stop") == 2L)
    assert(r(1L).getAs[Long]("n_distinct") == 3L)
    assert(r(1L).getAs[Int]("r_count") == 0 && r(1L).getAs[Int]("r_meanlen") == 1 &&
      r(1L).getAs[Int]("r_stop") == 1 && r(1L).getAs[Int]("r_uniq") == 1)
    assert(r(1L).getAs[Int]("keep") == 0)
    assert(r(2L).getAs[Long]("n_tok") == 24L)
    assert(r(2L).getAs[Long]("sum_tok_len") == 72L) // mean exactly 3.0
    assert(r(2L).getAs[Int]("keep") == 1)
    assert(r(3L).getAs[Long]("n_tok") == 0L)
    assert(r(3L).getAs[Int]("r_count") == 0 && r(3L).getAs[Int]("r_meanlen") == 1 &&
      r(3L).getAs[Int]("keep") == 0)
  }

  test("dupFraction: cross-doc shingles only; within-doc repeats don't count") {
    // w=2: d1 'a b','b c'; d2 'a b','b d' → 'a b' is the only cross-doc
    // shingle; d3 has no shingles; d4's repeated 'q q' is single-doc
    val r = TextOps.dupFraction(
      docs((1L, "a b c"), (2L, "a b d"), (3L, "x"), (4L, "q q q")), w = 2)
      .collect().map(x => (x.getAs[Long]("doc_id"),
        (x.getAs[Long]("n_shingles"), x.getAs[Long]("n_dup"),
         x.getAs[Long]("dup_ppm"), x.getAs[Int]("keep")))).toMap
    assert(r(1L) == ((2L, 1L, 500000L, 0)))
    assert(r(2L) == ((2L, 1L, 500000L, 0)))
    assert(r(3L) == ((0L, 0L, 0L, 1)))
    assert(r(4L) == ((2L, 0L, 0L, 1)))
  }

  test("quality: empty text → zero ratios, no division error") {
    val r = TextOps.quality(docs((1L, ""))).collect().head
    assert(r.getAs[Long]("n_tokens") == 0 && r.getAs[Double]("stop_ratio") == 0.0)
  }

  test("langId: stopword-profile argmax with deterministic tie-break") {
    val d = docs(
      (1L, "the cat and the dog in a house"),
      (2L, "der hund und die katze ist nicht da"),
      (3L, "xyzzy qwerty")) // no hits anywhere → tie → first profile (en)
    val out = TextOps.langId(d).collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("lang_pred")).toMap
    assert(out(1L) == "en")
    assert(out(2L) == "de")
    assert(out(3L) == "en")
  }

  test("fingerprint: whitespace/punctuation-insensitive, case-insensitive") {
    val d = docs((1L, "Hello,   World!"), (2L, "hello world"), (3L, "different"))
    val fps = TextOps.fingerprint(d).collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("fp")).toMap
    assert(fps(1L) == fps(2L))
    assert(fps(1L) != fps(3L))
  }

  test("fastTokens equals the regex tokenizer on adversarial strings") {
    import org.apache.spark.sql.functions.{col, expr}
    val kelvin = 'K' // unicode K: Character.toLowerCase → ASCII 'k'
    val cases = Seq(
      "", "   ", "a", "A1b2C3", "héllo wörld", "ÇA VA", s"${kelvin}elvin grade",
      "a-b_c.d", "123 456", "\ttabs\nnewlines\r", "ψαρι fish 42", "ab" * 300)
    val rnd = new scala.util.Random(17)
    val pool = "aZ9 .,-\nÉψK"
    val fuzz = Seq.fill(50)(Seq.fill(rnd.nextInt(40))(pool(rnd.nextInt(pool.length))).mkString)
    val df = (cases ++ fuzz).zipWithIndex.map { case (s, i) => (i.toLong, s) }.toDF("id", "s")
    val both = df.select(col("id"),
      TextOps.fastTokens(col("s")).as("fast"),
      expr(TextOps.tokensSqlSpark("s")).as("re")).collect()
    both.foreach { r =>
      assert(r.getSeq[String](1) == r.getSeq[String](2),
        s"mismatch on ${df.filter(col("id") === r.getLong(0)).collect().head.getString(1)}")
    }
  }

  test("clean: redacts emails/urls, collapses whitespace, truncates") {
    val d = docs(
      (1L, "Contact Bob.Smith+x@Example.ORG   or  https://ex.org/a?b=1 now"),
      (2L, "plain\t text \n here"),
      (3L, "x" * 600))
    val out = TextOps.clean(d, maxChars = 500).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_emails"), r.getAs[Long]("n_urls"), r.getAs[String]("cleaned"))).toMap
    assert(out(1L) == ((1L, 1L, "contact <email> or <url> now")))
    assert(out(2L) == ((0L, 0L, "plain text here")))
    assert(out(3L)._3.length == 500)
  }

  test("tfidf: doc-distinctive terms outrank corpus-wide terms; top-k bounded") {
    // "shared" is in every doc (idf = 3/3 = 1); "rare" only in doc 1
    // (idf = 3). doc 1: rare tf=2 → score 6; shared tf=1 → score 1.
    val d = docs(
      (1L, "shared rare rare"),
      (2L, "shared other other"),
      (3L, "shared thing"))
    val out = TextOps.tfidfTopTerms(d, k = 2).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("rank")) ->
        (r.getAs[String]("term"), r.getAs[Double]("score"))).toMap
    assert(out((1L, 1L)) == ("rare", 6.0))
    assert(out((1L, 2L)) == ("shared", 1.0))
    assert(out((2L, 1L)) == ("other", 6.0))
    assert(out.size == 6) // k=2 per doc, 3 docs
  }

  test("repetition: duplicate 3-grams counted; short docs all-zero") {
    val d = docs(
      (1L, "a b c a b c a b c"),   // 7 shingles, 3 distinct (abc,bca,cab), max 3
      (2L, "one two three four"),  // 2 shingles, both distinct
      (3L, "too short"))           // < 3 tokens: no shingles
    val out = TextOps.repetition(d).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4))).toMap
    assert(out(1L) == ((7L, 3L, 3L, 4.0 / 7)))
    assert(out(2L) == ((2L, 2L, 1L, 0.0)))
    assert(out(3L) == ((0L, 0L, 0L, 0.0)))
  }

  test("dedupSegments: keep-first within doc; order preserved; short tail distinct") {
    val d = docs(
      // segments of 2: "a b" | "c d" | "a b" | "e f" -> middle repeat dropped
      (1L, "a b c d a b e f"),
      // repeated tail shorter than w stays: "x y" | "x" (distinct strings)
      (2L, "x y x"),
      (3L, ""))                    // zero tokens: no row
    val out = TextOps.dedupSegments(d, w = 2).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    assert(out(1L) == ((4L, 3L, "a b c d e f")))
    assert(out(2L) == ((2L, 2L, "x y x")))
    assert(!out.contains(3L))
    // idempotence: a deduped doc dedups to itself
    val again = TextOps.dedupSegments(
      Seq((1L, out(1L)._3)).toDF("doc_id", "text"), w = 2).collect().head
    assert(again.getString(3) == out(1L)._3)
  }

  test("classifierScore: hand-computed integer features and linear score; zero-token doc scores bias-only") {
    // "The cat the hat": n_tok=4, stops=2 ('the' twice), alpha=12,
    // chars=15, distinct=3 -> f_len=4, f_stop=500000, f_alpha=800000,
    // f_uniq=750000; score = bias + 700*4 + 800*5e5 + 300*8e5 + 400*75e4
    val d = docs((1L, "The cat the hat"), (2L, "!!!"))
    val out = TextOps.classifierScore(d).collect()
      .map(r => r.getLong(0) -> r).toMap
    val r1 = out(1L)
    assert(r1.getAs[Long]("f_len") == 4L)
    assert(r1.getAs[Long]("f_stop_ppm") == 500000L)
    assert(r1.getAs[Long]("f_alpha_ppm") == 800000L)
    assert(r1.getAs[Long]("f_uniq_ppm") == 750000L)
    val expected = -480000000L + 700L * 4 + 800L * 500000 + 300L * 800000 + 400L * 750000
    assert(r1.getAs[Long]("score_micro") == expected)
    assert(r1.getAs[Int]("keep") == (if (expected >= 0) 1 else 0))
    // no tokens: every feature 0, score = bias, dropped
    val r2 = out(2L)
    assert(r2.getAs[Long]("n_tok") == 0L && r2.getAs[Long]("score_micro") == -480000000L)
    assert(r2.getAs[Int]("keep") == 0)
  }

  test("urlCanonicalize: scheme/host case, default port, dot segments, tracking params, fragment") {
    import org.apache.spark.sql.functions.col
    val urls = Seq(
      (1L, "HTTPS://Example.COM:443//a/./b/c/../d/?utm_source=x&b=2&a=1#frag"),
      (2L, "http://Host.net:80/path/"),          // default port + trailing slash
      (3L, "https://h.io"),                      // no path at all -> root
      (4L, "https://h.io/?utm_campaign=c&gclid=g&fbclid=f"), // all params tracked
      (5L, "https://h.io:8443/x?z=1&y=2"),       // NON-default port kept, params sorted
      (6L, "not a url")                          // no scheme -> null
    ).toDF("doc_id", "url")
    val got = urls.select(col("doc_id"), TextOps.urlCanonicalize("url").as("c"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got(1L) == "https://example.com/a/b/d?a=1&b=2")
    assert(got(2L) == "http://host.net/path")
    assert(got(3L) == "https://h.io/")
    assert(got(4L) == "https://h.io/")
    assert(got(5L) == "https://h.io:8443/x?y=2&z=1")
    assert(got(6L) == null)
  }

  test("UnicodeNormalize: NFC composes combining marks, keeps compatibility forms") {
    import org.apache.spark.sql.functions.{col, length}
    import graft.functions.UnicodeNormalize
    // decomposed e + U+0301, ligature U+FB01 (fi), circled one U+2460
    val d = Seq((1L, "café ﬁle ①")).toDF("doc_id", "s")
    val r = d.select(
      length(col("s")).as("raw"),
      UnicodeNormalize.nfc(col("s")).as("nfc")).collect().head
    assert(r.getInt(0) == 11) // 5 (cafe+mark) + 1 + 3 (fi-ligature,l,e) + 1 + 1
    assert(r.getString(1) == "café ﬁle ①") // é composed; fi/1 untouched
  }

  test("dedupSubstrings: keep-first across docs; overlap merge; short/empty docs") {
    val d = docs(
      (1L, "a b c d a b"), // "a b" repeats within doc: second copy removed
      (2L, "a b"),         // same shingle, later doc: whole doc removed
      (3L, "x"),           // shorter than w: no shingles, kept whole
      (4L, ""))            // zero tokens: no row
    val out = TextOps.dedupSubstrings(d, w = 2).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))).toMap
    assert(out(1L) == ((6L, 4L, 2L, "a b c d")))
    assert(out(2L) == ((2L, 0L, 2L, "")))   // keep-first: doc 1's copy survives
    assert(out(3L) == ((1L, 1L, 0L, "x")))
    assert(!out.contains(4L))
  }

  test("dedupSubstrings: consecutive dup shingles merge into one maximal span (the l >= w reduction)") {
    // "p q r" three times: every shingle after pos 2 is a repeat, so the
    // covered union is one 6-token run [3..8] — the length-6 repeated span
    // detected purely from w=2 shingle runs
    val d = docs((1L, "p q r p q r p q r"))
    val r = TextOps.dedupSubstrings(d, w = 2).collect().head
    assert(r.getLong(1) == 9L && r.getLong(2) == 3L)
    assert(r.getLong(3) == 6L)
    assert(r.getString(4) == "p q r")
  }

  test("dedupSubstrings differential vs dedupSegments at l = w: segment-aligned repeats agree") {
    // single-doc corpus whose only repeat is exactly one w-aligned disjoint
    // segment: the sliding-shingle sweep must remove exactly what the
    // disjoint-segment keep-first rule removes
    val text = "t1 t2 t3 t4 u1 u2 u3 u4 t1 t2 t3 t4 v1 v2 v3 v4"
    val d = docs((1L, text))
    val sub = TextOps.dedupSubstrings(d, w = 4).collect().head
    val seg = TextOps.dedupSegments(d, w = 4).collect().head
    assert(sub.getString(4) == seg.getString(3))
    assert(sub.getLong(2) == seg.getLong(2) * 4) // n_kept tokens = kept segs * w
    // and a no-repeat doc passes through both untouched
    val clean = docs((1L, "one two three four five six seven eight"))
    assert(TextOps.dedupSubstrings(clean, w = 4).collect().head.getString(4)
      == TextOps.dedupSegments(clean, w = 4).collect().head.getString(3))
  }

  test("dedupSegmentsGlobal: corpus-wide boilerplate removed everywhere; all-boilerplate doc empties") {
    // "cookie banner text here" appears in 3 docs (>= minRep) -> removed
    // from ALL of them, including doc 4 which is nothing but the banner
    val d = docs(
      (1L, "cookie banner text here real content one two"),
      (2L, "cookie banner text here other body words four"),
      (3L, "cookie banner text here third unique tail words"),
      (4L, "cookie banner text here"),
      (5L, "entirely original document body with words here"))
    val out = TextOps.dedupSegmentsGlobal(d, w = 4, minRep = 3).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    assert(out(1L) == ((2L, 1L, "real content one two")))
    assert(out(2L) == ((2L, 1L, "other body words four")))
    assert(out(3L) == ((2L, 1L, "third unique tail words")))
    assert(out(4L) == ((1L, 0L, ""))) // survives as an empty row
    assert(out(5L) == ((2L, 2L, "entirely original document body with words here")))
    // below the repetition threshold nothing is touched
    val two = TextOps.dedupSegmentsGlobal(d.filter($"doc_id" <= 2), w = 4, minRep = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(two == Map(1L -> 2L, 2L -> 2L))
  }

  test("tfidfCosinePairs: rare shared phrasing outscores boilerplate overlap") {
    // docs 1/2 share a RARE 5-token phrase; docs 3/4 share only the
    // boilerplate that every doc carries (low idf → low weight, and
    // ubiquitous shingles fall out of every doc's top-M)
    val common = "standard footer text appears everywhere always"
    val d = docs(
      (1L, s"unique alpha beta gamma delta phrase one $common"),
      (2L, s"unique alpha beta gamma delta phrase two $common"),
      (3L, s"totally different body number three it has $common"),
      (4L, s"another unrelated document body four entirely so $common"))
    val pairs = TextOps.tfidfCosinePairs(d, threshold = 0.0)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    graft.etl.CacheRegistry.releaseAll()
    // each doc's OWN df=1 shingles outweigh the shared df=2 phrase, so the
    // absolute cosine is modest — the property under test is the ORDERING
    val rarePair = pairs((1L, 2L))
    assert(rarePair > 0.2, s"rare-phrase pair scored $rarePair")
    // every other pair shares at most boilerplate → strictly lower
    (pairs - ((1L, 2L))).foreach { case (k, c) =>
      assert(c < rarePair, s"pair $k ($c) not below rare pair ($rarePair)")
    }
  }

  test("tfidfCosinePairs: partitioning-invariant (exact integer sums)") {
    val d = graft.etl.IngestOps.table(spark, graft.SparkTestSession.sf0001, "documents")
    val a = TextOps.tfidfCosinePairs(d).orderBy("doc_a", "doc_b").collect().toSeq
    graft.etl.CacheRegistry.releaseAll()
    val b = TextOps.tfidfCosinePairs(d.repartition(7)).orderBy("doc_a", "doc_b")
      .collect().toSeq
    graft.etl.CacheRegistry.releaseAll()
    assert(a === b && a.nonEmpty)
  }

  test("decontaminate: drops exactly the candidates sharing a 5-shingle with the benchmark") {
    val bench = docs((100L, "alpha beta gamma delta epsilon zeta"))
    val cand = docs(
      (1L, "prefix words alpha beta gamma delta epsilon suffix"), // shares 5-gram
      (2L, "alpha beta gamma delta unrelated epsilon"),           // only 4-gram runs
      (3L, "completely different text with many words here"))
    val kept = TextOps.decontaminate(cand, bench, w = 5)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(kept == Seq(2L, 3L))
  }

  test("contaminationCard: hand-computed per-(cand, bench) leakage cells") {
    // 2-shingles: d1={pq,qr} d2={xy} (source A); d3={pq,qz} (B);
    // d4={qr,rx,xy} (C). Expected nonzero cells:
    //   A→B: d1 shares pq          → (1 doc, 1 shingle), n_docs(A)=2
    //   A→C: d1 (qr), d2 (xy)      → (2 docs, 2 shingles)
    //   B→A: d3 shares pq          → (1, 1), n_docs(B)=1
    //   C→A: d4 shares qr, xy      → (1, 2), n_docs(C)=1
    // B↔C share nothing → no rows.
    val d = Seq(
      (1L, "p q r", "A"), (2L, "x y", "A"),
      (3L, "p q z", "B"), (4L, "q r x y", "C"))
      .toDF("doc_id", "text", "source")
    val out = TextOps.contaminationCard(d, w = 2).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5)))).toMap
    assert(out.keySet == Set(("A", "B"), ("A", "C"), ("B", "A"), ("C", "A")))
    assert(out(("A", "B")) == ((2L, 1L, 1L, 0.5)))
    assert(out(("A", "C")) == ((2L, 2L, 2L, 1.0)))
    assert(out(("B", "A")) == ((1L, 1L, 1L, 1.0)))
    assert(out(("C", "A")) == ((1L, 1L, 2L, 1.0)))
  }

  test("searchTopK: single-term query matches the hand-computed BM25 score") {
    // 3 docs, dl 2/2/4; 'cat' appears in doc 1 (tf 1) and doc 3 (tf 2)
    val d = docs(
      (1L, "cat dog"),
      (2L, "fish bird"),
      (3L, "cat cat dog dog"))
    val got = TextOps.searchTopK(d, queries = Seq("q" -> "cat"), k = 5)
      .collect().map(r => (r.getLong(2), r.getLong(1), r.getDouble(3)))
    assert(got.map(_._1).toSet == Set(1L, 3L)) // doc 2 never touched
    def score(tf: Long, dl: Long): Double = {
      val n = 3.0; val sumDl = 8.0; val df = 2.0
      val t = tf.toDouble * 2.2 / (tf.toDouble + 1.2 * (0.25 + 0.75 * (dl * n / sumDl)))
      val s = t * ((n - df + 0.5) / (df + 0.5))
      // the operator floor-quantizes each contribution to 1e-9 score units
      math.floor(s * 1000000000.0) / 1000000000.0
    }
    val byDoc = got.map(g => g._1 -> g).toMap
    assert(byDoc(3L)._3 == score(2L, 4L) && byDoc(1L)._3 == score(1L, 2L))
    // doc 3's higher tf outweighs its longer length here → rank 1
    assert(byDoc(3L)._2 == 1L && byDoc(1L)._2 == 2L)
  }

  test("searchTopK: k caps per query; ranks are dense from 1; partition-invariant") {
    val d = docs((1L to 40L).map(i =>
      i -> Seq.fill(5)(s"w${i % 7} common").mkString(" ")): _*)
    val q = Seq("a" -> "common w1", "b" -> "w2 w3")
    val got = TextOps.searchTopK(d, queries = q, k = 4).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val byQ = got.groupBy(_._1)
    assert(byQ.keySet == Set("a", "b"))
    byQ.values.foreach { rows =>
      assert(rows.length == 4 && rows.map(_._2).sorted.toSeq == Seq(1L, 2L, 3L, 4L))
    }
    val again = TextOps.searchTopK(d.repartition(7), queries = q, k = 4)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(got.toSet == again.toSet)
  }

  test("vocabCoverage: hand-computed boundary classes; coverage >= target; partition-invariant") {
    // term freqs: a×4, b×2, c×2, d×1, e×1 → total 10.
    // p=.5: need 5 → class n=2, vocab 2, covered 6
    // p=.9: need 9 → class n=1, vocab 4, covered 9
    // p=.99: need 10 → class n=1, vocab 5, covered 10
    val d = docs(1L -> "a a a a b b", 2L -> "c c d e")
    val got = TextOps.vocabCoverage(d).collect().map(r =>
      (r.getAs[Long]("p_micro"), r.getAs[Long]("vocab_size"),
        r.getAs[Long]("covered_tokens"), r.getAs[Long]("total_tokens"),
        r.getAs[Long]("coverage_micro")))
    assert(got.toSeq == Seq(
      (500000L, 2L, 6L, 10L, 600000L),
      (900000L, 4L, 9L, 10L, 900000L),
      (990000L, 5L, 10L, 10L, 1000000L)))
    // fixture corpus: vocab_size and coverage both non-decreasing in p,
    // coverage always reaches the target, vocab never exceeds |vocab|
    val fx = graft.etl.IngestOps.table(spark, graft.SparkTestSession.sf0001,
      "documents")
    val rows = TextOps.vocabCoverage(fx).collect().map(r =>
      (r.getAs[Long]("p_micro"), r.getAs[Long]("vocab_size"),
        r.getAs[Long]("coverage_micro")))
    assert(rows.map(_._1).toSeq == Seq(500000L, 900000L, 990000L))
    rows.foreach { case (p, _, cov) => assert(cov >= p) }
    assert(rows.map(_._2).toSeq == rows.map(_._2).sorted.toSeq)
    val again = TextOps.vocabCoverage(fx.repartition(13)).collect().map(r =>
      (r.getAs[Long]("p_micro"), r.getAs[Long]("vocab_size"),
        r.getAs[Long]("coverage_micro")))
    assert(rows.toSeq == again.toSeq)
  }

  test("bpeMerges learns hand-computed merges incl. the overlap count and early stop") {
    val d = Seq((1L, "aaa ab"), (2L, "aaa")).toDF("doc_id", "text")
    // wf: aaa×2, ab×1. Round 1: (a,a) counts WITH overlap = 2·2 = 4 beats
    // (a,b)=1 → merge. Round 2: greedy leftmost replace gave '|aa|a|' so
    // (aa,a)=2 → merge. Round 3: (a,b)=1. Round 4: nothing left → stop.
    val got = TextOps.bpeMerges(d, rounds = 6).collect()
      .map(r => (r.getAs[Long]("merge_round"), r.getAs[String]("left_sym"),
        r.getAs[String]("right_sym"), r.getAs[Long]("pair_count"))).toSeq
    assert(got == Seq((1L, "a", "a", 4L), (2L, "aa", "a", 2L), (3L, "a", "b", 1L)))
    // tie-break: equal counts pick the lexicographically smallest (a, b)
    val tie = Seq((1L, "xy zw")).toDF("doc_id", "text")
    val t1 = TextOps.bpeMerges(tie, rounds = 1).collect().head
    assert((t1.getAs[String]("left_sym"), t1.getAs[String]("right_sym")) == (("x", "y")))
    // fixture corpus: exact BIGINT chain → partition invariance
    val fx = graft.etl.IngestOps.table(spark, graft.SparkTestSession.sf0001,
      "documents")
    val a = TextOps.bpeMerges(fx, rounds = 3).collect().map(_.toString).toSeq
    val b = TextOps.bpeMerges(fx.repartition(13), rounds = 3).collect().map(_.toString).toSeq
    assert(a == b && a.size == 3)
  }

  test("langIdEval: confusion cells conserve docs; shares sum to ~1 per true row") {
    val fx = graft.etl.IngestOps.table(spark, graft.SparkTestSession.sf0001,
      "documents")
    val ev = TextOps.langIdEval(fx).collect()
    assert(ev.map(_.getAs[Long]("n")).sum == fx.count())
    // per true-label row the micro shares sum to 1e6 within flooring loss
    ev.groupBy(_.getAs[String]("lang")).foreach { case (_, rows) =>
      val s = rows.map(_.getAs[Long]("share_micro")).sum
      assert(s <= 1000000L && s > 1000000L - rows.length)
    }
    val again = TextOps.langIdEval(fx.repartition(13)).collect()
    assert(ev.map(_.toString).toSeq == again.map(_.toString).toSeq)
  }

  test("bpeEncode: pieces-per-word shrinks with rounds; hand-counted pieces") {
    val d = Seq((1L, "aaa ab", "s1"), (2L, "aaa", "s1"))
      .toDF("doc_id", "text", "source")
    // rounds=1 merges only (a,a): aaa→|aa|a| (2 pieces), ab→|a|b| (2 pieces)
    val r1 = TextOps.bpeEncode(d, rounds = 1).collect().head
    assert(r1.getAs[Long]("n_words") == 3L && r1.getAs[Long]("n_pieces") == 6L)
    assert(r1.getAs[Long]("pieces_per_word_micro") == 2000000L)
    // rounds=3 learns (a,a),(aa,a),(a,b): both words fuse to 1 piece
    val r3 = TextOps.bpeEncode(d, rounds = 3).collect().head
    assert(r3.getAs[Long]("n_pieces") == 3L)
    assert(r3.getAs[Long]("pieces_per_word_micro") == 1000000L)
    // fixture: partition invariance of the whole learn+encode chain
    val fx = graft.etl.IngestOps.table(spark, graft.SparkTestSession.sf0001,
      "documents")
    val a = TextOps.bpeEncode(fx, rounds = 2).collect().map(_.toString).toSeq
    val b = TextOps.bpeEncode(fx.repartition(13), rounds = 2).collect().map(_.toString).toSeq
    assert(a == b && a.nonEmpty)
  }

  test("searchEval: perfect ranking scores ndcg=mrr=1.0; no strict-relevant doc zeroes mrr") {
    val d = Seq(
      (1L, "apple banana cherry"),
      (2L, "apple dog"),
      (3L, "fish fowl")).toDF("doc_id", "text")
    // q1 "apple banana": doc1 rel=2 (strict-relevant), doc2 rel=1; BM25 ranks
    // doc1 first (two matched terms incl. the rarer banana) → DCG == IDCG
    val r1 = TextOps.searchEval(d, Seq("q1" -> "apple banana"), k = 3).collect()
    assert(r1.length == 1)
    assert(r1.head.getAs[Long]("n_rel") == 1L)
    assert(r1.head.getAs[Long]("ndcg_micro") == 1000000L)
    assert(r1.head.getAs[Long]("mrr_micro") == 1000000L)
    // q2 "dog fish": both matches have rel=1 < 2 → n_rel=0, mrr=0; the two
    // rel-1 docs are the ideal set too, so ndcg is still exactly 1.0
    val r2 = TextOps.searchEval(d, Seq("q2" -> "dog fish"), k = 3).collect()
    assert(r2.head.getAs[Long]("n_rel") == 0L)
    assert(r2.head.getAs[Long]("mrr_micro") == 0L)
    assert(r2.head.getAs[Long]("ndcg_micro") == 1000000L)
    // fixture corpus: exact BIGINT chain → partition invariance
    val fx = graft.etl.IngestOps.table(spark, graft.SparkTestSession.sf0001,
      "documents")
    val a = TextOps.searchEval(fx).collect().map(_.toString).toSeq
    val b = TextOps.searchEval(fx.repartition(13)).collect().map(_.toString).toSeq
    assert(a == b)
    a.foreach(r => assert(r != null))
  }

  test("searchRrf: exact reciprocal-rank fusion of BM25 and overlap lists") {
    val qs = Seq("q" -> "hash join")
    val d = docs(
      (1L, "hash join hash join"), // top of BOTH lists
      (2L, "hash alpha alpha alpha"), // overlap 1
      (3L, "join beta beta")) // overlap 1
    val out = TextOps.searchRrf(d, queries = qs, k = 10)
      .collect().map(r => r.getLong(2) -> ((r.getLong(1), r.getLong(3),
        r.getLong(4), r.getLong(5)))).toMap
    // d1: rank 1 on both lists → rrf = 2 · (10^6 DIV 61) = 2·16393
    assert(out(1L) == ((1L, 32786L, 1L, 1L)))
    // every doc fused carries both source ranks; absent = 0 never happens
    // here (all three docs are on both depth-50 lists)
    assert(out.size == 3 && out.values.forall(v => v._3 > 0 && v._4 > 0))
    // depth truncation: at depth 1 only the head of each list survives
    val d1 = TextOps.searchRrf(d, queries = qs, k = 1, depth = 1).collect()
    assert(d1.length == 1 && d1.head.getLong(2) == 1L)
    // fixture: dense ranks per query, fused score non-increasing
    val fx = graft.etl.IngestOps.table(spark, graft.SparkTestSession.sf0001,
      "documents")
    val rows = TextOps.searchRrf(fx).collect()
    val byQ = rows.groupBy(_.getString(0))
    byQ.foreach { case (_, rs) =>
      val sorted = rs.sortBy(_.getLong(1))
      assert(sorted.map(_.getLong(1)).toSeq == (1L to sorted.length).toSeq)
      val scores = sorted.map(_.getLong(3)).toSeq
      assert(scores == scores.sorted.reverse)
    }
    val again = TextOps.searchRrf(fx.repartition(7)).collect()
      .map(_.toString).sorted.toSeq
    assert(rows.map(_.toString).sorted.toSeq == again)
  }

  test("rakeKeywords: stopword-delimited phrases, deg/freq scores, top-k") {
    // 'the' is a stopword (LangProfiles head). d1 yields TWO occurrences
    // of the phrase "big data": freq(big)=2, deg(big)=2+2=4 → wscore
    // 2e6 each → phrase score 4e6. d2's "solo" scores 1e6 (freq 1, deg 1).
    val d = docs(
      (1L, "big data the big data"),
      (2L, "solo"),
      (3L, "the the")) // stopwords only → no candidate phrases
    val got = TextOps.rakeKeywords(d, k = 10).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq.sortBy(_._1)
    assert(got == Seq(
      (1L, "big data", 2L, 4000000L, 2L),
      (2L, "solo", 1L, 1000000L, 1L)))
    // k truncates
    assert(TextOps.rakeKeywords(d, k = 1).count() == 1L)
    // exact integers → identical under repartition; fixture non-empty
    val fx = graft.etl.IngestOps.table(spark, graft.SparkTestSession.sf0001,
      "documents")
    val x = TextOps.rakeKeywords(fx).collect().map(_.toString).toSeq
    val y = TextOps.rakeKeywords(fx.repartition(7)).collect()
      .map(_.toString).toSeq
    assert(x == y && x.length == 50)
  }

  test("phraseSearch: consecutive-token anchors, overlaps, repeated words") {
    val d = docs(
      (1L, "a b c a b"), // "a b" at 0 and 3 → 2 hits
      (2L, "a c b a c"), // tokens present, never consecutive → 0 hits
      (3L, "x a b x"), // 1 hit
      (4L, "b b b"), // phrase "b b" overlapping: anchors 0,1 → 2 hits
      (5L, "p q r p q r p q r")) // "p q r" → 3 hits
    val out = TextOps.phraseSearch(d, phrases = Seq(
        "ab" -> "a b", "bb" -> "b b", "pqr" -> "p q r"), k = 10)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    assert(out == Set(
      ("ab", 1L, 1L, 2L), ("ab", 2L, 3L, 1L), // rank: hits desc, doc asc
      ("bb", 1L, 4L, 2L),
      ("pqr", 1L, 5L, 3L)))
    // k truncates: three docs match "z", k = 2 keeps the two best
    val d2 = docs((1L, "z z z"), (2L, "z z"), (3L, "z"))
    val topped = TextOps.phraseSearch(d2, phrases = Seq("z" -> "z"), k = 2)
      .collect().map(r => (r.getLong(1), r.getLong(2))).toSet
    assert(topped == Set((1L, 1L), (2L, 2L)))
    // exact integers → identical under repartition; fixture non-empty
    val fx = graft.etl.IngestOps.table(spark, graft.SparkTestSession.sf0001,
      "documents")
    val x = TextOps.phraseSearch(fx).collect().map(_.toString).toSeq
    val y = TextOps.phraseSearch(fx.repartition(7)).collect()
      .map(_.toString).toSeq
    assert(x == y && x.nonEmpty)
  }
}
