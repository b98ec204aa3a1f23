package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Graph analytics over the near-dup pair graph — the structural view of a
  * corpus the dedup family only looks at locally: [[Dedup.clusterByBuckets]]
  * answers "which component", PageRank answers "which documents sit at the
  * CENTER of a duplication neighborhood" (the natural cluster
  * representatives, and the first signal for template/boilerplate mining).
  *
  * All arithmetic is scaled-integer (BIGINT), never floating point: rank
  * mass is `scale`-scaled, per-edge contributions use integer division, so
  * every sum is exact and associative — partitioning cannot change a single
  * output bit, and the DuckDB oracle reproduces the iteration bit-for-bit.
  * The deliberate cost is the truncation remainder (≤ deg per node per
  * round, ~1e-10 of the mass at the default scale), which is part of the
  * operator's pinned semantics, identical on both engines.
  */
object Graph {

  /** Symmetrized (src, dst) edge list of an undirected pair relation,
    * staged ONCE per JVM via [[graft.etl.StageStore]] when tmpfs is
    * available: PageRank, k-core, LPA and link prediction all consume this
    * exact relation, and the iterative ones re-scan it every round — a
    * vectorized parquet scan off tmpfs beats re-deserializing a
    * java-serialized DISK_ONLY block each time (measured on LPA: the
    * per-round InMemoryTableScan of 8.8M cached rows dominated the round).
    * Falls back to a DISK_ONLY persist when staging is unavailable: with
    * mega-hub buckets the edge list is O(Σ bucket²), and deserialized
    * on-heap it starves the per-round aggregation hash maps (the 10× probe
    * OOM'd in LPA before DISK_ONLY), while disk blocks cost one re-read per
    * round. */
  private def symEdges(pairs: DataFrame): DataFrame = {
    val sym = pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .unionByName(pairs.select(col("doc_b").as("src"),
        col("doc_a").as("dst")))
    graft.etl.StageStore.materializeBy("graph_sym_edges", Seq(sym))(sym)
      .getOrElse(sym.persist(org.apache.spark.storage.StorageLevel.DISK_ONLY))
  }

  /** Damped PageRank with a FIXED iteration count over an undirected pair
    * graph (each pair contributes both directed edges).
    *
    * Per iteration: every node sends `r DIV deg` along each out-edge, and
    * ranks rebuild as `base + (dampPct · Σ incoming) DIV 100` where
    * `base = ((100 − dampPct) · scale DIV 100) DIV n`. Isolated nodes hold
    * `base` from round 1 on; dangling mass is dropped (no edges out of a
    * node with deg 0 — the standard simplification, pinned in the oracle).
    *
    * Scale shape: the edge and degree relations are computed once and
    * persisted; each of the `iters` rounds is one equi-join of edges to the
    * current rank vector (shuffle keyed on the node id) plus one map-side-
    * combined sum — the canonical distributed PageRank step, nothing
    * quadratic, no driver state beyond the node count. Rank mass totals
    * ≤ `scale`, so per-node sums never approach Long range at any corpus
    * size. */
  def pageRank(nodes: DataFrame, pairs: DataFrame, idCol: String = "doc_id",
      iters: Int = 3, dampPct: Long = 85L,
      scale: Long = 1000000000000L): DataFrame = {
    require(iters >= 1 && dampPct >= 0 && dampPct <= 100 && scale > 0)
    val ids = nodes.select(col(idCol).as("id")).persist()
    val edges = symEdges(pairs)
    val deg = edges.groupBy("src").agg(count(lit(1)).as("d")).persist()
    val n = ids.count()
    require(n > 0, "pageRank needs at least one node")
    val base = ((100L - dampPct) * scale / 100L) / n
    // NOTE (r17): the [[lpaCommunities]] eager-materialization rewrite was
    // tried here and on [[kCore]] and REGRESSED both (0.58→2.06 s /
    // 0.52→1.60 s at sf0.1): their per-round joins key on the same edge
    // columns every round, so the single lazy action plans ONE reusable
    // edge Exchange (ReuseExchange) — eager per-round actions traded that
    // one shuffle for a full edge scan per round per join. LPA keeps the
    // eager form because its per-round cache boundary already blocks
    // exchange reuse there. Left exactly as the baseline.
    var r = ids.withColumn("r", lit(scale / n))
    for (_ <- 1 to iters) {
      val in = edges.join(r, edges("src") === r("id"))
        .join(deg, "src")
        .select(col("dst").as("id"), expr("r DIV d").as("c"))
        .groupBy("id").agg(sum("c").as("m"))
      r = ids.join(in, Seq("id"), "left")
        .select(col("id"),
          (lit(base) + expr(s"($dampPct * coalesce(m, 0L)) DIV 100")).as("r"))
    }
    r.select(col("id").as(idCol), col("r").as("pr_scaled"),
      (col("r").cast("double") / lit(scale.toDouble)).as("pr"))
  }

  /** Per-node triangle count + local clustering coefficient over an
    * undirected pair graph — the density fingerprint of a duplication
    * neighborhood (a high-coefficient node sits inside a near-clique of
    * mutual near-dups: template/boilerplate material; a high-degree,
    * low-coefficient node is a hub joining otherwise-unrelated docs).
    *
    * Node-iterator formulation (Suri & Vassilvitskii, WWW'11): with every
    * edge ORIENTED low→high id, a triangle a<b<c is found exactly once as
    * wedge (a,b)+(b,c) closed by (a,c) — two equi-joins on the oriented
    * edge list, wedge volume bounded by Σ outdeg², never an unordered
    * deg² enumeration per endpoint. Each triangle then credits its three
    * corners (one explode + count). Isolated nodes keep (deg 0, tri 0,
    * coeff 0). The coefficient 2·tri/(deg·(deg−1)) divides two exact
    * integers once — identical doubles on any engine. */
  def triangles(nodes: DataFrame, pairs: DataFrame,
      idCol: String = "doc_id"): DataFrame = {
    val e = pairs.select(col("doc_a").as("a"), col("doc_b").as("b")).persist()
    val tri = e.as("e1")
      .join(e.as("e2"), col("e1.b") === col("e2.a"))
      .join(e.as("e3"),
        col("e3.a") === col("e1.a") && col("e3.b") === col("e2.b"),
        "left_semi")
      .select(col("e1.a").as("x"), col("e1.b").as("y"), col("e2.b").as("z"))
    val triN = tri.select(explode(array(col("x"), col("y"), col("z"))).as("id"))
      .groupBy("id").agg(count(lit(1)).as("n_tri"))
    val deg = e.select(col("a").as("id"))
      .unionByName(e.select(col("b").as("id")))
      .groupBy("id").agg(count(lit(1)).as("deg"))
    nodes.select(col(idCol).as("id"))
      .join(deg, Seq("id"), "left").join(triN, Seq("id"), "left")
      .select(col("id").as(idCol),
        coalesce(col("deg"), lit(0L)).as("deg"),
        coalesce(col("n_tri"), lit(0L)).as("n_tri"))
      .withColumn("clustering",
        when(col("deg") >= 2,
          lit(2.0) * col("n_tri") / (col("deg") * (col("deg") - 1)))
          .otherwise(lit(0.0)))
  }

  /** k-core peeling (Seidman 1983; distributed rounds per Montresor et al.)
    * over an undirected pair graph: iteratively delete nodes of degree < k
    * until none remain — the surviving subgraph is the k-core, the standard
    * "dense duplication neighborhood" extractor (a near-clique of mutual
    * near-dups survives peeling; hub-and-spoke structure does not, however
    * high the hub's raw degree — the failure mode of degree thresholds).
    *
    * Runs a FIXED `rounds` count, so the iteration is deterministic and
    * oracle-unrollable (same contract as [[pageRank]]); each round is one
    * degree aggregation + one semi-join against the survivor set — shuffles
    * keyed on node id, nothing quadratic, no driver state. Peeling is
    * monotone (survivor sets only shrink), so if a round removes nothing
    * the answer is the true k-core; `converged` reports exactly that bit
    * per node so a caller (and the spec) can SEE whether `rounds` sufficed
    * rather than trust it. */
  def kCore(nodes: DataFrame, pairs: DataFrame, k: Int = 2, rounds: Int = 3,
      idCol: String = "doc_id"): DataFrame = {
    require(k >= 1 && rounds >= 1, s"need k >= 1, rounds >= 1; got k=$k rounds=$rounds")
    val e = symEdges(pairs)
    var alive = e.select(col("src").as("id")).distinct().persist()
    // (r17) deliberately NOT eager-materialized — see the pageRank note:
    // the lazy single action reuses one edge Exchange across all rounds.
    for (_ <- 1 to rounds) {
      val deg = e
        .join(alive.select(col("id").as("src")), "src")
        .join(alive.select(col("id").as("dst")), "dst")
        .groupBy("src").agg(count(lit(1)).as("deg"))
        .select(col("src").as("id"), col("deg"))
      alive = deg.filter(col("deg") >= k).select("id").persist()
    }
    // converged = one more half-round removes nothing: every survivor still
    // has degree >= k within the final survivor set
    val finalDeg = e
      .join(alive.select(col("id").as("src")), "src")
      .join(alive.select(col("id").as("dst")), "dst")
      .groupBy("src").agg(count(lit(1)).as("deg"))
      .select(col("src").as("id"), col("deg"))
    nodes.select(col(idCol).as("id"))
      .join(finalDeg, Seq("id"), "left")
      .select(col("id").as(idCol),
        col("deg").isNotNull.as("in_core"),
        coalesce(col("deg"), lit(0L)).as("core_deg"),
        (col("deg").isNull || col("deg") >= k).as("converged"))
  }

  /** Oracle for [[kCore]] over the LSH candidate-pair graph: the peeling
    * rounds unrolled as one CTE pair per round. */
  def kCoreLshSqlDuck(k: Int = 2, rounds: Int = 3): String = {
    val roundCtes = (1 to rounds).map { i =>
      val prev = s"a${i - 1}"
      s""" d$i AS (SELECT e.src AS id, CAST(count(*) AS BIGINT) AS deg
         |   FROM e JOIN $prev x ON e.src = x.id JOIN $prev y ON e.dst = y.id
         |   GROUP BY e.src),
         | a$i AS (SELECT id FROM d$i WHERE deg >= $k)""".stripMargin
    }.mkString(",\n")
    s"""WITH ${Dedup.lshPairsCteDuck},
       | e AS (SELECT a AS src, b AS dst FROM prs
       |   UNION ALL SELECT b AS src, a AS dst FROM prs),
       | a0 AS (SELECT DISTINCT src AS id FROM e),
       |$roundCtes,
       | fd AS (SELECT e.src AS id, CAST(count(*) AS BIGINT) AS deg
       |   FROM e JOIN a$rounds x ON e.src = x.id JOIN a$rounds y ON e.dst = y.id
       |   GROUP BY e.src)
       |SELECT d.doc_id, fd.deg IS NOT NULL AS in_core,
       |  coalesce(fd.deg, 0) AS core_deg,
       |  (fd.deg IS NULL OR fd.deg >= $k) AS converged
       |FROM documents d LEFT JOIN fd ON d.doc_id = fd.id
       |ORDER BY d.doc_id""".stripMargin
  }

  /** Common-neighbor link prediction (Liben-Nowell & Kleinberg, CIKM'03)
    * over an undirected pair graph: for every NON-edge pair sharing at
    * least one neighbor, the common-neighbor count and the neighborhood
    * Jaccard cn/(deg_a + deg_b − cn). On the near-dup graph this predicts
    * MISSED near-dup pairs — two docs that each near-duplicate the same
    * third documents but fell just under the LSH band threshold themselves:
    * exactly the pairs a curation pass should re-check at a lower θ.
    *
    * Shape: one wedge self-join on the shared middle node, an anti-join
    * that removes existing edges, one groupBy on the (a,c) pair, then a
    * global TakeOrdered top-k (a k-row driver result, not a sort of the
    * corpus). Scores are exact integers plus ONE double division, so
    * ranking and values are engine-independent; ties break on (a,c).
    *
    * Wedge volume is Σ deg(m)² over MIDDLE nodes — on a near-dup graph
    * with template mega-hubs (r11 measured two LSH buckets holding ~45% of
    * docs) that is ~10¹⁰ wedges and filled the spill disk at sf0.1. The
    * operator therefore counts common neighbors THROUGH middles of degree
    * ≤ `maxMiddleDeg` only (the Adamic-Adar rationale made hard: a
    * neighbor shared with half the corpus carries ~zero link evidence —
    * AA weights it 1/log deg → ~0 — so dropping it changes ranking
    * little and bounds wedges by n·cap²). The cap is PINNED semantics,
    * mirrored exactly in the oracle; deg_a/deg_b/jaccard still use full
    * degrees, so cn is a lower bound exactly where AA says it should be. */
  def linkPrediction(pairs: DataFrame, topK: Int = 100,
      maxMiddleDeg: Long = 64L): DataFrame = {
    require(topK > 0, s"topK must be > 0, got $topK")
    require(maxMiddleDeg >= 1, s"maxMiddleDeg must be >= 1, got $maxMiddleDeg")
    val e = symEdges(pairs)
    // persisted (r17): deg is consumed three times (the middle-degree
    // filter and the two per-endpoint joins below) — unpersisted, each
    // consumer re-ran the edge-list aggregation; |V| slim rows
    val deg = e.groupBy("src").agg(count(lit(1)).as("d")).persist()
    // wedges centered only on low-degree middles: edge (m→x) survives iff
    // deg(m) <= cap, so the self-join's key distribution is cap-bounded
    val eMid = e.join(deg.filter(col("d") <= maxMiddleDeg).select(col("src")), "src").persist()
    val cand = eMid.as("e1").join(eMid.as("e2"), col("e1.src") === col("e2.src"))
      .filter(col("e1.dst") < col("e2.dst"))
      .select(col("e1.dst").as("a"), col("e2.dst").as("c"))
      .join(pairs.select(col("doc_a").as("a"), col("doc_b").as("c")),
        Seq("a", "c"), "left_anti")
      .groupBy("a", "c").agg(count(lit(1)).as("cn"))
    cand
      .join(deg.select(col("src").as("a"), col("d").as("da")), "a")
      .join(deg.select(col("src").as("c"), col("d").as("dc")), "c")
      .select(col("a").as("doc_a"), col("c").as("doc_b"), col("cn"),
        (col("cn").cast("double") /
          (col("da") + col("dc") - col("cn")).cast("double")).as("nbr_jaccard"))
      .orderBy(col("cn").desc, col("doc_a"), col("doc_b"))
      .limit(topK)
  }

  /** Oracle for [[linkPrediction]] over the LSH candidate-pair graph. */
  def linkPredictionLshSqlDuck(topK: Int = 100, maxMiddleDeg: Long = 64L): String =
    s"""WITH ${Dedup.lshPairsCteDuck},
       | e AS (SELECT a AS src, b AS dst FROM prs
       |   UNION ALL SELECT b AS src, a AS dst FROM prs),
       | dg AS (SELECT src, CAST(count(*) AS BIGINT) AS d FROM e GROUP BY src),
       | em AS (SELECT e.src, e.dst FROM e JOIN dg ON e.src = dg.src
       |   WHERE dg.d <= $maxMiddleDeg),
       | cand AS (SELECT e1.dst AS a, e2.dst AS c, CAST(count(*) AS BIGINT) AS cn
       |   FROM em e1 JOIN em e2 ON e1.src = e2.src
       |   WHERE e1.dst < e2.dst
       |     AND NOT EXISTS (SELECT 1 FROM prs
       |                     WHERE prs.a = e1.dst AND prs.b = e2.dst)
       |   GROUP BY e1.dst, e2.dst)
       |SELECT cand.a AS doc_a, cand.c AS doc_b, cn,
       |  CAST(cn AS DOUBLE) / CAST(da.d + dc.d - cn AS DOUBLE) AS nbr_jaccard
       |FROM cand JOIN dg da ON da.src = cand.a JOIN dg dc ON dc.src = cand.c
       |ORDER BY cn DESC, doc_a, doc_b LIMIT $topK""".stripMargin

  /** Oracle for [[triangles]] over the LSH candidate-pair graph: the same
    * oriented triple join on DuckDB's side of the shared `prs` chain. */
  def trianglesLshSqlDuck: String =
    s"""WITH ${Dedup.lshPairsCteDuck},
       | tri AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
       |   FROM prs e1 JOIN prs e2 ON e1.b = e2.a
       |   WHERE EXISTS (SELECT 1 FROM prs e3
       |                 WHERE e3.a = e1.a AND e3.b = e2.b)),
       | tn AS (SELECT id, CAST(count(*) AS BIGINT) AS n_tri FROM (
       |     SELECT x AS id FROM tri UNION ALL SELECT y FROM tri
       |     UNION ALL SELECT z FROM tri) GROUP BY id),
       | dg AS (SELECT id, CAST(count(*) AS BIGINT) AS deg FROM (
       |     SELECT a AS id FROM prs UNION ALL SELECT b AS id FROM prs)
       |   GROUP BY id)
       |SELECT d.doc_id, coalesce(dg.deg, 0) AS deg,
       |  coalesce(tn.n_tri, 0) AS n_tri,
       |  CASE WHEN coalesce(dg.deg, 0) >= 2
       |    THEN 2.0 * coalesce(tn.n_tri, 0) / (dg.deg * (dg.deg - 1))
       |    ELSE 0.0 END AS clustering
       |FROM documents d LEFT JOIN dg ON d.doc_id = dg.id
       |LEFT JOIN tn ON d.doc_id = tn.id
       |ORDER BY d.doc_id""".stripMargin

  /** Oracle for [[pageRank]] over the LSH candidate-pair graph: the same
    * integer iteration unrolled as one CTE per round on DuckDB's side of
    * the same `prs` chain. */
  def pageRankLshSqlDuck(iters: Int = 3, dampPct: Long = 85L,
      scale: Long = 1000000000000L): String = {
    val rounds = (1 to iters).map { i =>
      val prev = s"r${i - 1}"
      s""" s$i AS (SELECT e.dst AS id, CAST(sum($prev.r // dg.d) AS BIGINT) AS m
         |   FROM edges e JOIN $prev ON e.src = $prev.id
         |   JOIN dg ON dg.id = e.src GROUP BY e.dst),
         | r$i AS (SELECT $prev.id,
         |     (SELECT base FROM consts) + ($dampPct * coalesce(s$i.m, 0)) // 100 AS r
         |   FROM $prev LEFT JOIN s$i ON $prev.id = s$i.id)""".stripMargin
    }.mkString(",\n")
    s"""WITH ${Dedup.lshPairsCteDuck},
       | edges AS (SELECT a AS src, b AS dst FROM prs
       |   UNION ALL SELECT b AS src, a AS dst FROM prs),
       | dg AS (SELECT src AS id, CAST(count(*) AS BIGINT) AS d
       |   FROM edges GROUP BY src),
       | nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
       | consts AS (SELECT ((${100L - dampPct} * $scale) // 100) // n AS base FROM nn),
       | r0 AS (SELECT doc_id AS id, $scale // (SELECT n FROM nn) AS r
       |   FROM documents),
       |$rounds
       |SELECT id AS doc_id, r AS pr_scaled, CAST(r AS DOUBLE) / $scale AS pr
       |FROM r$iters ORDER BY doc_id""".stripMargin
  }

  /** SYNCHRONOUS label-propagation communities (Raghavan et al. 2007) with
    * a FIXED round count and deterministic tie-breaks: every node starts
    * labeled with its own id; each round every node adopts the label most
    * frequent among its neighbors, ties to the SMALLEST label. Fixed
    * rounds + the smallest-label tie rule make the algorithm fully
    * deterministic. REQUIRES a duplicate-free undirected pair list
    * (multigraphs would break the round-1 closed form and weight round-2+
    * votes) — see the contract note at the edge build below
    * (classic LPA randomizes update order precisely to break
    * the oscillations synchronous updates can fall into; here any residual
    * oscillation is part of the pinned semantics, identical in the
    * oracle). Communities differ from [[Dedup]]'s connected components:
    * CC merges everything reachable, LPA splits a component along its
    * density structure — on a near-dup graph that separates template
    * families that merely touch.
    *
    * Scale shape: each round is ONE edge→label equi-join (shuffle keyed on
    * the node id), a map-side-combinable (node, label) count, and a
    * per-node WindowGroupLimit argmax — the canonical distributed LPA
    * step; nothing quadratic, no driver state. Output: every document with
    * its community label and the community size (docs outside the pair
    * graph are their own singleton communities). */
  def lpaCommunities(nodes: DataFrame, pairs: DataFrame, rounds: Int = 4,
      idCol: String = "doc_id"): DataFrame = {
    require(rounds >= 1 && rounds <= 50, s"rounds out of range: $rounds")
    // DISK_ONLY: on a near-dup graph the edge list is O(Σ bucket²) — kept
    // deserialized on-heap across rounds it starves the aggregation maps
    // (10× probe OOM'd before this); labels are |V|-sized and stay hot
    // CONTRACT: `pairs` must be a duplicate-free undirected pair list
    // (doc_a < doc_b, no repeats) — the round-1 closed form below
    // (min-neighbor) equals the frequency argmax ONLY then, and round 2+'s
    // count-based argmax would weight multi-edges. The repo's caller
    // guarantees it ([[Dedup.lshCandidatePairs]] ends in distinct()); a
    // defensive distinct() here would re-shuffle the O(Σ bucket²) edge
    // list — the op's biggest relation — to protect against a misuse this
    // codebase never performs (measured ~+1 s at sf0.1 when tried).
    val e = symEdges(pairs)
    // ROUND 1 CLOSED FORM: with every neighbor holding its own unique id as
    // label, all per-label counts are 1 and the smallest-label tie rule
    // makes the argmax exactly min(neighbor id) — ONE |V|-keyed aggregate.
    // The generic (src, label) rollup here would carry |E| DISTINCT keys
    // (labels still unique), which on a mega-bucket near-dup graph is
    // O(Σ bucket²) aggregate state — the 10× probe OOM'd on exactly that
    // before this rewrite. From round 2 on, labels have collapsed along
    // cliques, so the (src, label) key space combines map-side to ~|V|.
    var lab =
      e.groupBy("src").agg(min(col("dst")).as("label"))
        .select(col("src").as("id"), col("label")).persist()
    // eager materialization (r17, guide §3.1): left lazy, EVERY round's
    // label cache has unknown size when the final action plans, so each
    // edge⋈label join statically plans SortMergeJoin and pays a full map-
    // side shuffle write of the O(Σ bucket²) edge list before AQE flips it
    // to broadcast (observed in the r17 baseline plan: one
    // Exchange hashpartitioning(dst) per round under a BroadcastHashJoin).
    // Materializing each round's |V|-sized cache up front gives the
    // planner its REAL size: at fixture scale the label side broadcasts
    // statically and the staged edge scan is never exchanged; on a corpus
    // where |V| outgrows the broadcast threshold the same stats keep the
    // shuffle — the decision stays size-adaptive, nothing is pinned.
    lab.count()
    for (_ <- 2 to rounds) {
      // argmax as max(struct(count, −label)) — map-side combinable on both
      // aggregates (the window row_number form sorts per node and buffers
      // the whole (node, label) relation through one sort exchange)
      lab =
        e.join(lab.select(col("id").as("dst"), col("label")), "dst")
          .groupBy("src", "label").agg(count(lit(1)).as("c"))
          .groupBy("src")
          .agg(max(struct(col("c"), (-col("label")).as("nl"))).as("m"))
          .select(col("src").as("id"), (-col("m.nl")).as("label")).persist()
      lab.count()
    }
    val sizes = lab.groupBy("label").agg(count(lit(1)).as("n"))
    nodes.select(col(idCol).as("id"))
      .join(lab, Seq("id"), "left")
      .join(sizes, Seq("label"), "left")
      .select(col("id").as(idCol),
        coalesce(col("label"), col("id")).as("community"),
        coalesce(col("n"), lit(1L)).as("community_size"))
  }

  /** Oracle for [[lpaCommunities]] over the LSH candidate-pair graph: the
    * propagation rounds unrolled as one CTE pair per round, identical
    * argmax tie-breaks. */
  def lpaCommunitiesLshSqlDuck(rounds: Int = 4): String = {
    val roundCtes = (1 to rounds).map { i =>
      val prev = s"l${i - 1}"
      s""" c$i AS (SELECT e.src, l.label, CAST(count(*) AS BIGINT) AS c
         |   FROM e JOIN $prev l ON e.dst = l.id GROUP BY e.src, l.label),
         | l$i AS (SELECT src AS id, label FROM (
         |   SELECT src, label,
         |     row_number() OVER (PARTITION BY src ORDER BY c DESC, label) AS r
         |   FROM c$i) WHERE r = 1)""".stripMargin
    }.mkString(",\n")
    s"""WITH ${Dedup.lshPairsCteDuck},
       | e AS (SELECT a AS src, b AS dst FROM prs
       |   UNION ALL SELECT b AS src, a AS dst FROM prs),
       | l0 AS (SELECT DISTINCT src AS id, src AS label FROM e),
       |$roundCtes,
       | sz AS (SELECT label, CAST(count(*) AS BIGINT) AS n
       |   FROM l$rounds GROUP BY label)
       |SELECT d.doc_id, coalesce(l.label, d.doc_id) AS community,
       |  coalesce(sz.n, 1) AS community_size
       |FROM documents d
       |LEFT JOIN l$rounds l ON d.doc_id = l.id
       |LEFT JOIN sz ON l.label = sz.label
       |ORDER BY d.doc_id""".stripMargin
  }
}
