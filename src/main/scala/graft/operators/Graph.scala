package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables
import graft.Pin.PinOps
import Fingerprint.{bandSql, fold, minhashOf, sigsCte, tokCte, tokenCodes,
  tokens}
import TextOps.{minhashCandidates, minhashPairsCte}

/** Graph analytics: the `graph_*` queries and the kernels they share.
  *
  * Most queries run on the near-dup graph of `documents`: the minhash-LSH
  * candidate pairs, or the GROUP-contracted graph whose nodes are
  * identical-signature groups ([[groupFrame]], [[groupPairsOf]]). HITS
  * runs on the customer→part purchase graph. The kernels are shared with
  * the dedup and similarity queries: [[starContraction]] (connected
  * components) and its reachability oracle [[reachCte]], [[pageRankBsp]]
  * and its oracle [[pageRankCtes]], the MPS triangle close
  * ([[triTuples]]), the BFS round loop ([[bfs]], [[bfsCtes]]) and
  * [[jaccardEdges]].
  *
  * Every loop runs a fixed round count or checks its convergence, and
  * all arithmetic is integer, so each oracle is an exact hash gate.
  */
object Graph {
  /** Round count of every PageRank loop ([[pageRankBsp]]) and of its
    * oracle ([[pageRankCtes]]).
    */
  val PrIters = 3

  /** Both orientations (`x`, `y`) of an undirected (a, b) edge list. */
  private def undirected(pairs: DataFrame, x: String,
      y: String): DataFrame =
    pairs.select(col("a").as(x), col("b").as(y))
      .unionByName(pairs.select(col("b").as(x), col("a").as(y)))

  /** deg(v, d): how many edges of an (a, b) edge list end at each node. */
  private[operators] def degrees(pairs: DataFrame): DataFrame =
    pairs.select(col("a").as("v")).unionByName(pairs.select(col("b").as("v")))
      .groupBy(col("v")).agg(count(lit(1)).as("d"))

  /** Signature-group node frame (s0, s1, gid), checkpointed — the
    * contracted graph's vertex set (one node per identical-signature
    * group, gid = min member doc_id), shared by [[groupPairsOf]] and
    * [[componentSizes]].
    */
  private[operators] def groupFrame(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val bs = minhashOf(tokenCodes(s, dir)).select($"doc_id",
      fold((0 until 4).map(i => col(s"mh$i"))).as("s0"),
      fold((4 until 8).map(i => col(s"mh$i"))).as("s1"))
    bs.groupBy($"s0", $"s1").agg(min($"doc_id").as("gid"))
      .pin // both sides of both band joins
  }

  /** Edges of the contracted graph from an already-built group frame. */
  private def groupPairsFromG(g: DataFrame): DataFrame = {
    val s = g.sparkSession
    import s.implicits._
    def bandEdges(c: String): DataFrame =
      g.select(col(c).as("k"), $"gid".as("a"))
        .join(g.select(col(c).as("k"), $"gid".as("b")), Seq("k"))
        .filter($"a" < $"b").select($"a", $"b")
    bandEdges("s0").unionByName(bandEdges("s1")).distinct()
  }

  /** Group-contracted near-dup graph: edges (a, b), a < b, between
    * identical-signature GROUPS, not documents. The doc-level near-dup
    * graph is clique-structured by construction (every member of an
    * identical-signature group pairs with every other) and graph
    * algorithms over cliques are degenerate AND super-linear: measured at
    * sf0.1 the doc-level wedge join emitted ~4·10⁹ rows, filled the disk
    * and killed the SparkContext after 400 s. Groups collapse each clique
    * to one node (sf0.1: 5000 docs → 1048 groups, 4.36M doc pairs → 12k
    * group edges, max degree 83), leaving the informative structure at a
    * size that scales with content diversity instead of duplication
    * volume. The input of every group-level query here and of
    * `dedup_edit_pairs` and `dedup_single_linkage`.
    */
  private[operators] def groupPairsOf(s: SparkSession, dir: String): DataFrame =
    groupPairsFromG(groupFrame(s, dir))

  /** CTE prefix ending in `gp(a, b)` — the group-contracted graph, shared
    * by the group-level oracles. Lazy: `TextOps.singleLinkageSql` can read
    * it while this object is still initializing.
    */
  private[operators] lazy val groupGraphCte: String = tokCte + sigsCte +
    s""",
       |bsig AS (SELECT doc_id, ${bandSql(0, 4)} AS s0, ${bandSql(1, 4)} AS s1
       |  FROM sigs),
       |g AS (SELECT s0, s1, min(doc_id) AS gid FROM bsig GROUP BY s0, s1),
       |gp AS (
       |  SELECT DISTINCT l.gid AS a, r.gid AS b
       |  FROM g l JOIN g r ON (l.s0 = r.s0 OR l.s1 = r.s1)
       |    AND l.gid < r.gid)
       |""".stripMargin

  /** Connected components by alternating large-star / small-star edge
    * contraction (Kiveris et al., "Connected Components in MapReduce and
    * Beyond", SoCC'14): each round relinks every node toward the minimum
    * id in its neighborhood, which contracts path-shaped components
    * exponentially — O(log n) rounds regardless of graph diameter, where
    * plain min-label propagation needs O(diameter) rounds (a 10M-node
    * chain would take 10M Spark jobs; this takes ~25).
    *
    * Invariant: `edges` is always oriented (hi, lo) with hi > lo and no
    * self-loops, so the fixed point is a star forest where every non-root
    * carries one edge to its component's minimum node.
    *  - large-star(u): for every neighbor v > u, emit (v, m) where m =
    *    min(neighborhood(u) ∪ u) — preserves connectivity, strictly
    *    shrinks big endpoints toward the min;
    *  - small-star(u): for the smaller-side neighbors, emit (v, m) and
    *    (u, m) — re-centers each local star on its minimum.
    * Each half-round is one shuffle (groupBy min + join); convergence is
    * an exact set comparison of consecutive checkpointed edge frames.
    *
    * Returns the per-node assignment (doc_id, label) — label = component
    * minimum, isolated nodes label themselves — plus the round count the
    * caller can assert O(log n) bounds on.
    */
  def starContraction(nodes: DataFrame, pairs: DataFrame,
      maxRounds: Int = 50): (DataFrame, Int) = {
    val s = nodes.sparkSession
    import s.implicits._
    var edges = pairs.filter($"a" =!= $"b")
      .select(greatest($"a", $"b").as("hi"), least($"a", $"b").as("lo"))
      .distinct().pin
    var round = 0
    var converged = edges.isEmpty
    while (!converged && round < maxRounds) {
      // large-star over the symmetric adjacency
      val sym = edges.select($"hi".as("u"), $"lo".as("v"))
        .unionByName(edges.select($"lo".as("u"), $"hi".as("v")))
      val mins = sym.groupBy($"u")
        .agg(min($"v").as("mn"))
        .select($"u", least($"mn", $"u").as("m"))
      // NO distinct on the large-star emission (r17): small-star's min is
      // duplicate-insensitive and `next` ends in its own distinct, so the
      // across-u duplicate (v, m) pairs are harmless — the dedup cost a
      // full (hi, lo) exchange + aggregate per round, after which both
      // consumers re-exchanged by hi anyway; now the single hi exchange
      // is built once and reused by the groupBy and the join (guide §2.4)
      val large = sym.filter($"v" > $"u")
        .join(mins, Seq("u"))
        .select($"v".as("hi"), $"m".as("lo"))
      // small-star on the (hi, lo) orientation large-star guarantees
      val smins = large.groupBy($"hi").agg(min($"lo").as("m"))
      val next = large.join(smins, Seq("hi"))
        .select($"lo".as("hi"), $"m".as("lo"))
        .filter($"hi" =!= $"lo")
        .unionByName(smins.select($"hi", $"m".as("lo")))
        .distinct().pin
      // Fixpoint test (r16): the alternating rounds reach their fixed
      // point exactly when the edge frame is a STAR FOREST — no node is
      // both a child (hi) and a parent (lo). (⇐: on a star forest both
      // half-rounds re-emit the same edges, shown by direct computation;
      // ⇒: a depth-2 chain h2 > x > l1 makes large-star re-point h2 at
      // min(N(x) ∪ x) < x, so the frame changes.) One early-exit
      // semi-join probe on the pinned frame replaces the old
      // count()+exceptAll set-equality pair — and fires one round
      // EARLIER: equality could only observe stability on the round
      // AFTER the star forest formed, paying two full no-op shuffle
      // half-rounds per call. This is the hot inner loop of every
      // contraction query (components, clusters, single-linkage, MSF).
      converged = next.select($"hi")
        .join(next.select($"lo".as("hi")), Seq("hi"), "left_semi")
        .isEmpty
      edges = next
      round += 1
    }
    // converging within the cap is a hard contract: a partially contracted
    // forest would silently disagree with the exact reachability oracle
    require(converged,
      s"star contraction did not converge within $round rounds")
    val labels = nodes.join(edges.select($"hi".as(nodes.columns.head),
        $"lo".as("label")), Seq(nodes.columns.head), "left")
      .select(col(nodes.columns.head),
        coalesce($"label", col(nodes.columns.head)).as("label"))
    (labels, round)
  }

  /** The oracle twin of [[starContraction]]: `reach(node, m)` pairs every
    * node of `seed` (rows `SELECT x, x FROM ...`) with every node it
    * reaches over the symmetric `edges` (a, b) CTE; a node's component
    * label is its min(m). The query must start `WITH RECURSIVE`.
    */
  private[operators] def reachCte(edges: String, seed: String,
      alias: String = "e"): String =
    s"""reach(node, m) AS (
       |  SELECT $seed
       |  UNION
       |  SELECT $alias.a, r.m
       |  FROM $edges $alias JOIN reach r ON $alias.b = r.node)""".stripMargin

  /** `name`: both orientations of the (a, b) CTE `pairs`, selected as
    * `cols` — by default the (a, b) `edges` input of [[reachCte]]. */
  private[operators] def undirectedCte(name: String, pairs: String,
      cols: String = "a, b"): String =
    s"$name AS (SELECT $cols FROM $pairs UNION ALL SELECT b, a FROM $pairs)"

  /** Round count shared by [[katzGroups]] and its SQL oracle. */
  val KatzIters = 3

  /** Katz centrality (1953) on the contracted near-dup graph — the
    * path-counting complement of [[pageRankGroups]]: each node scores
    * Σ_k β^k · (walks of length k into it) with attenuation β = 1/2,
    * computed as 3 pinned rounds of r ← 10⁶ + (Σ_in r) div 2 in exact
    * integer arithmetic (the fixed-round doctrine; β as an integer div
    * keeps both engines bit-identical). Where PageRank normalizes by
    * out-degree (a random surfer), Katz counts raw walks — a family
    * adjacent to two hubs outscores one adjacent to two leaves even at
    * equal degree, the "connected to important things" signal.
    *
    * Headroom: r_k ≤ 10⁶·(d_max/2)^k — int64-safe at the pinned 3 rounds
    * while 10⁶·(d_max/2)³ < 2⁶³−1, i.e. d_max ≤ ~41.9k (2·(2⁶³/10⁶)^⅓);
    * the contracted graph's degrees sit orders below.
    *
    * Scale: per round one edge⋈rank join + one dst-keyed sum over the
    * group-contracted edge frame — the [[pageRankBsp]] shape without the
    * degree join.
    */
  def katzGroups(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val nodes = groupFrame(s, dir).select($"gid")
    val pairs = groupPairsOf(s, dir).pin // union reads it twice
    val edges = undirected(pairs, "src", "dst")
      .pin // re-joined every round
    var r = nodes.select($"gid", lit(1000000L).as("r"))
    for (_ <- 1 to KatzIters) {
      val in = edges.join(r.withColumnRenamed("gid", "src"), "src")
        .groupBy($"dst".as("gid")).agg(sum($"r").as("s"))
      r = nodes.join(in, Seq("gid"), "left")
        .select($"gid",
          (lit(1000000L) + expr("coalesce(s, 0) div 2")).as("r"))
    }
    r.select($"gid", $"r".as("katz")).orderBy($"gid")
  }

  lazy val katzGroupsSql: String = {
    def iterCte(k: Int): String =
      s""",
         |k$k AS (
         |  SELECT n.gid,
         |    (1000000 + COALESCE(c.s, 0) // 2)::BIGINT AS r
         |  FROM nodes n LEFT JOIN (
         |    SELECT e.dst AS gid, sum(r.r)::BIGINT AS s
         |    FROM edges e JOIN k${k - 1} r ON e.src = r.gid
         |    GROUP BY e.dst) c ON n.gid = c.gid)""".stripMargin
    groupGraphCte +
      s""", nodes AS (SELECT gid FROM g),
        |${undirectedCte("edges", "gp", "a AS src, b AS dst")},
        |k0 AS (SELECT gid, 1000000::BIGINT AS r FROM nodes)""".stripMargin +
      (1 to KatzIters).map(iterCte).mkString +
      s"\nSELECT gid, r AS katz FROM k$KatzIters ORDER BY gid"
  }

  /** PageRank over the minhash near-dup graph — the Pregel-style iterative
    * graph op (Page et al. 1999; used in practice as a document-quality /
    * centrality feature over dedup and link graphs in pretraining
    * pipelines). Nodes = all docs, edges = the LSH candidate pairs (both
    * directions); k power-iteration rounds in FIXED-POINT integer
    * arithmetic: rank scaled by 10^6, damping 85/100, every division an
    * integer `div` — both engines compute bit-identical ranks (floor-div
    * ≡ DuckDB `//` on the non-negative domain), so the oracle is an exact
    * hash gate, not a tolerance compare. Dangling/singleton docs hold the
    * teleport mass 150000 (= 0.15 × 10^6); mass lost to floors is the
    * standard fixed-point tradeoff and identical cross-engine.
    *
    * Runs [[pageRankBsp]] with every document a seed (uniform init and
    * uniform teleport).
    */
  def pageRank(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    pageRankBsp(
      Tables.documents(s, dir).select($"doc_id".as("v"), lit(true).as("seed")),
      minhashCandidates(s, dir))
      .select($"v".as("doc_id"), $"rank").orderBy($"doc_id")
  }

  val pageRankSql: String = minhashPairsCte +
    pageRankCtes("pairs", "SELECT doc_id FROM documents", "doc_id",
      personalized = false) +
    s"\nSELECT doc_id, r AS rank FROM r$PrIters ORDER BY doc_id"

  /** The one fixed-point BSP PageRank loop, shared by [[pageRank]],
    * [[pprRank]], [[pprRankGroups]], [[pageRankGroups]] and
    * [[TextOps.textRankTerms]]: `nodes0` carries (v, seed), `pairs` the undirected
    * edge list (a, b); returns the FULL (v, seed, rank) frame. With
    * seed = true on every node this is exactly plain PageRank (uniform
    * init 10^6, uniform teleport 150000); with a seed subset it is
    * Haveliwala PPR. [[pprLoop]] layers the top-20 readout on top.
    *
    * Scale: the canonical BSP shape — per round one join of edges against
    * the rank frame (both hash-partitioned on src), one map-side
    * combinable contribution sum keyed by dst, one left join back to
    * nodes. Edges and nodes are computed ONCE and pinned (every round
    * re-reads them — the multiply-consumed-frame rule); the rank frame
    * itself is consumed once per round, so it stays lazy and the whole
    * k-round recursion is one DAG. At real scale this is exactly
    * GraphX/Pregel's data layout: partition edges by src, ship ranks to
    * edges, aggregate messages by dst.
    */
  private[operators] def pageRankBsp(nodes0: DataFrame,
      pairs0: DataFrame): DataFrame = {
    val s = nodes0.sparkSession
    import s.implicits._
    val pairs = pairs0.pin // union reads it twice
    val edges = undirected(pairs, "src", "dst")
      .pin // re-joined every round (2 narrow columns)
    // fold the out-degree INTO the |V|-row node/rank frame: the degree
    // divides the SOURCE's rank, so it rides the rank frame through each
    // round's join instead of being duplicated onto every out-edge — the
    // per-round edge exchange drops a column of |E| longs and the setup
    // pays a |V|-row join instead of re-joining the |E|-row edge frame
    // (guide §2.3: shuffle keys and small metadata, not per-edge copies)
    val deg = edges.groupBy($"src").agg(count(lit(1)).as("d"))
    val nodes = nodes0
      .join(deg.withColumnRenamed("src", "v"), Seq("v"), "left")
      .select($"v", $"seed", coalesce($"d", lit(1L)).as("d"))
      .pin // re-read every round (rank join base, degree inline)
    var r = nodes.select($"v", $"d",
      when($"seed", 1000000L).otherwise(0L).as("r"))
    for (_ <- 1 to PrIters) {
      val contrib = edges
        .join(r.withColumnRenamed("v", "src"), "src")
        .select($"dst".as("v"), expr("r div d").as("c"))
        .groupBy($"v").agg(sum($"c").as("s"))
      r = nodes.join(contrib, Seq("v"), "left")
        .select($"v", $"seed", $"d",
          (when($"seed", 150000L).otherwise(0L)
            + expr("(85 * coalesce(s, 0)) div 100")).as("r"))
    }
    r.select($"v", $"seed", $"r".as("rank"))
  }

  /** The oracle twin of [[pageRankBsp]], appended to the caller's CTEs:
    * `nodes` from `nodesSql` (column `id`, plus `seed` when
    * `personalized`), `edges(src, dst)` both ways over the (a, b) CTE
    * `pairs`, the out-degree `deg`, and the rank rounds r0..r[[PrIters]]
    * (p0.. when personalized) of (id, [seed,] r). The caller reads the
    * last round.
    */
  private[operators] def pageRankCtes(pairs: String, nodesSql: String,
      id: String, personalized: Boolean): String = {
    val (k, seed, init, teleport) =
      if (personalized) ("p", "seed, ",
        "(CASE WHEN seed THEN 1000000 ELSE 0 END)::BIGINT",
        "CASE WHEN n.seed THEN 150000 ELSE 0 END")
      else ("r", "", "1000000::BIGINT", "150000")
    def round(i: Int): String =
      s""",
         |$k$i AS (
         |  SELECT n.$id, ${if (personalized) "n.seed," else ""}
         |    ($teleport + (85 * COALESCE(c.s, 0)) // 100)::BIGINT AS r
         |  FROM nodes n LEFT JOIN (
         |    SELECT e.dst AS $id, sum(r.r // deg.d)::BIGINT AS s
         |    FROM edges e JOIN $k${i - 1} r ON e.src = r.$id
         |                 JOIN deg ON deg.src = e.src
         |    GROUP BY e.dst) c ON n.$id = c.$id)""".stripMargin
    s""", nodes AS ($nodesSql),
       |${undirectedCte("edges", pairs, "a AS src, b AS dst")},
       |deg AS (SELECT src, count(*)::BIGINT AS d FROM edges GROUP BY src),
       |${k}0 AS (SELECT $id, $seed$init AS r FROM nodes)""".stripMargin +
      (1 to PrIters).map(round).mkString
  }

  private def pprLoop(nodes0: DataFrame, pairs0: DataFrame): DataFrame =
    pageRankBsp(nodes0, pairs0)
      .orderBy(col("rank").desc, col("v")).limit(20)

  /** Personalized PageRank (Haveliwala, WWW'02; the push/seed-restart
    * form every "find documents related to THIS set" expansion uses —
    * seed-set expansion over the near-dup graph is how a curation
    * pipeline grows a topic slice from a few exemplars). Identical BSP
    * loop, fixed-point arithmetic, and edge layout as [[pageRank]]; the
    * ONE change is the teleport vector: mass restarts only at the seed
    * set (here the deterministic ~1% slice doc_id ≡ 0 mod 97), so rank
    * measures proximity to the seeds instead of global centrality —
    * non-seed docs hold rank 0 until contribution mass reaches them,
    * and anything outside the seeds' components stays exactly 0 (the
    * locality that makes PPR the scalable choice: mass touches only
    * the seeds' neighborhoods, however big the graph).
    *
    * Output: the top-20 ranked docs (rank desc, doc_id) with their seed
    * flag — the expansion list, seeds naturally at the top.
    */
  def pprRank(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    pprLoop(
      Tables.documents(s, dir)
        .select($"doc_id".as("v"), ($"doc_id" % 97L === 0L).as("seed")),
      minhashCandidates(s, dir))
      .withColumnRenamed("v", "doc_id")
  }

  /** [[pprRank]] on the CONTRACTED group graph — the production form
    * (the doc-level loop is the oracle-exact per-document surface, but
    * ScalingBench measured both doc-level BSP loops at ×27–28 wall for
    * ×10 docs: the clique-structured doc graph's ~87M-edge checkpointed
    * adjacency saturates local unified memory, the same degeneracy that
    * moved triangles/LPA/ANF/MST to groups). Nodes are signature groups
    * (gid = min member doc_id), seeds the gid ≡ 0 mod 97 slice, and the
    * expansion list reads "which duplicate FAMILIES are near the seed
    * families" — the cluster-level answer a curation pipeline acts on.
    */
  def pprRankGroups(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    pprLoop(
      groupFrame(s, dir)
        .select($"gid".as("v"), ($"gid" % 97L === 0L).as("seed")),
      groupPairsOf(s, dir))
      .withColumnRenamed("v", "gid")
  }

  /** [[pageRank]] on the CONTRACTED group graph — the production plain
    * PageRank (VERDICT r13 #1: the doc-level BSP measured ×28 wall at
    * ×10 docs because the clique-structured near-dup doc graph's
    * checkpointed adjacency grows ~quadratically in family width; its
    * PPR twin's contracted sibling [[pprRankGroups]] measured FLAT).
    * Same fixed-point arithmetic and per-round plan as [[pageRank]] via
    * the shared [[pageRankBsp]] with every node a seed (uniform init +
    * uniform teleport ≡ plain PageRank); nodes are signature groups
    * (gid = min member doc_id), so rank reads "how central is this
    * duplicate FAMILY in the near-dup graph" — the form a curation
    * pipeline ranks clusters by. The doc-level [[pageRank]] stays as the
    * oracle-exact per-document surface.
    */
  def pageRankGroups(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    pageRankBsp(
      groupFrame(s, dir).select($"gid".as("v"), lit(true).as("seed")),
      groupPairsOf(s, dir))
      .select($"v".as("gid"), $"rank").orderBy($"gid")
  }

  val pageRankGroupsSql: String = groupGraphCte +
    pageRankCtes("gp", "SELECT gid FROM g", "gid", personalized = false) +
    s"\nSELECT gid, r AS rank FROM r$PrIters ORDER BY gid"

  val pprRankGroupsSql: String = groupGraphCte +
    pageRankCtes("gp", "SELECT gid, gid % 97 = 0 AS seed FROM g", "gid",
      personalized = true) +
    s"\nSELECT gid, seed, r AS rank FROM p$PrIters " +
    "ORDER BY rank DESC, gid LIMIT 20"

  val pprRankSql: String = minhashPairsCte +
    pageRankCtes("pairs", "SELECT doc_id, doc_id % 97 = 0 AS seed FROM documents",
      "doc_id", personalized = true) +
    s"\nSELECT doc_id, seed, r AS rank FROM p$PrIters " +
    "ORDER BY rank DESC, doc_id LIMIT 20"

  /** Component-size histogram of the contracted near-dup graph: how many
    * connected components have exactly k signature groups — the
    * macro-structure readout (is duplication a sea of small families or
    * one giant percolated blob?) a pipeline checks BEFORE trusting
    * cluster-level dedup actions; a giant component here is the signal
    * that banding parameters percolated (the 16-bit simhash failure mode,
    * measured in PLANS.md) and cluster-keeper logic would nuke unrelated
    * content. Singleton groups (no edges) are size-1 components — the
    * histogram conserves the vertex set.
    *
    * Scale: components via the same large-star/small-star contraction as
    * [[TextOps.dedupClusters]] (O(log n) rounds on the contracted graph), then
    * two |nodes|-bounded aggs. Oracle: reachability as a recursive CTE.
    */
  def componentSizes(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val g = groupFrame(s, dir)
    val (labels, _) = starContraction(
      g.select($"gid"), groupPairsFromG(g))
    labels.groupBy($"label").agg(count(lit(1)).as("size"))
      .groupBy($"size").agg(count(lit(1)).as("n_components"))
      .orderBy($"size")
  }

  val componentSizesSql: String =
    groupGraphCte.replaceFirst("WITH ", "WITH RECURSIVE ") +
      s""", ${undirectedCte("edges", "gp")},
        |${reachCte("edges", "gid, gid FROM g")},
        |lab AS (SELECT node, min(m) AS label FROM reach GROUP BY node),
        |sz AS (SELECT label, count(*)::BIGINT AS size FROM lab
        |       GROUP BY label)
        |SELECT size, count(*)::BIGINT AS n_components
        |FROM sz GROUP BY size ORDER BY size""".stripMargin

  /** deg(v, d) of an undirected a<b edge list, and each edge oriented
    * low-(deg,id) → high-(deg,id) as (src, dst, dd), carrying the dst's
    * degree so wedge ordering and the closing join need no further lookup
    * — the MPS orientation, unpinned. */
  private[graft] def orientEdges(pairs: DataFrame): (DataFrame, DataFrame) = {
    val s = pairs.sparkSession
    import s.implicits._
    val deg = degrees(pairs)
    val edges = pairs
      .join(deg.select($"v".as("a"), $"d".as("da")), "a")
      .join(deg.select($"v".as("b"), $"d".as("db")), "b")
      .select(
        when($"da" < $"db" || ($"da" === $"db" && $"a" < $"b"),
          struct($"a".as("src"), $"b".as("dst"), $"db".as("dd")))
          .otherwise(struct($"b".as("src"), $"a".as("dst"), $"da".as("dd")))
          .as("e"))
      .select($"e.src", $"e.dst", $"e.dd")
    (deg, edges)
  }

  /** Triangle tuples (v, u, w) of an undirected a<b edge list via the
    * degree-oriented MPS wedge close — the tri frame is pinned (three
    * member-explode consumers in the node close; three edge-explode
    * consumers in the truss support). With a `cap`, each source builds
    * wedges only among its `cap` first out-neighbors in the (dd, dst)
    * wedge order ([[clusteringCoeffCapped]]); the close is unchanged.
    */
  private def triTuples(pairs: DataFrame,
      cap: Option[Int] = None): (DataFrame, DataFrame) = {
    val s = pairs.sparkSession
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val (deg, edges) = orientEdges(pairs)
    val oriented = edges.pin // both wedge sides (or the cap rank) + close
    // deterministic per-source prefix in the wedge order (dd, dst)
    val sides = cap.fold(oriented)(c => oriented
      .withColumn("rn", row_number().over(
        Window.partitionBy($"src").orderBy($"dd", $"dst")))
      .filter($"rn" <= c)
      .drop("rn")
      .pin) // both wedge sides
    val wedges = sides.as("x")
      .join(sides.as("y"), $"x.src" === $"y.src" &&
        ($"x.dd" < $"y.dd" || ($"x.dd" === $"y.dd" && $"x.dst" < $"y.dst")))
      .select($"x.src".as("v"), $"x.dst".as("u"), $"y.dst".as("w"))
    val tri = wedges
      .join(oriented.as("z"), $"u" === $"z.src" && $"w" === $"z.dst")
      .select($"v", $"u", $"w")
      .pin
    (deg, tri)
  }

  /** Degree frame + per-node triangle membership over a checkpointed
    * (a, b) edge frame — the MPS degree-oriented machinery shared by
    * [[triangles]] and [[ccOnEdges]]. Returns (deg(v, d),
    * triCnt(group_id, tri_cnt)); triCnt covers only nodes in ≥1 triangle.
    */
  private def degAndTriCounts(pairs: DataFrame,
      cap: Option[Int] = None): (DataFrame, DataFrame) = {
    val s = pairs.sparkSession
    import s.implicits._
    val (deg, tri) = triTuples(pairs, cap)
    val triCnt = tri.select($"v".as("group_id"))
      .unionByName(tri.select($"u".as("group_id")))
      .unionByName(tri.select($"w".as("group_id")))
      .groupBy($"group_id").agg(count(lit(1)).as("tri_cnt"))
    (deg, triCnt)
  }

  /** Triangle counting over the minhash near-dup graph (node-iterator++ /
    * MPS degree orientation — Suri & Vassilvitskii 2011, the MapReduce
    * formulation): per doc, the number of triangles it belongs to — the
    * local-density signal that separates template/boilerplate families
    * (clique-like, high count) from chance LSH collisions (count 0).
    *
    * The algorithm IS the scale story: every edge is oriented from its
    * lower-(degree, id) endpoint to its higher one, wedges are built only
    * between OUT-neighbors of the shared low-degree center, and one join
    * against the oriented edge list closes them. Out-degree under this
    * orientation is O(√m) even for a hub vertex, so wedge volume is
    * O(m^1.5) worst-case instead of the Σd(v)² blow-up a star vertex
    * causes under naive id-orientation — this is the standard distributed
    * triangle algorithm at any scale. Because the closing edge {u,w} gets
    * the SAME orientation rule, wedge order ((du,u) < (dw,w)) aligns with
    * it and the close is a single equi-join, no per-row normalization.
    * Pure integer compares; each triangle is found exactly once (from its
    * unique lowest-(degree,id) vertex), so the oracle is an exact hash
    * gate.
    */
  def triangles(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val pairs = groupPairsOf(s, dir)
      .pin // degree agg + both orientation joins
    degAndTriCounts(pairs)._2.orderBy($"group_id")
  }

  /** Local clustering coefficient per node of the group-contracted
    * near-dup graph: cc = 2·T(v) / (d(v)·(d(v)−1)) in exact integer
    * permille — the template-family cohesion score (cc ≈ 1: the node's
    * neighborhood is one template clique even after contraction; cc ≈ 0:
    * a hub stitching unrelated families, usually an LSH-band artifact
    * worth auditing). Complements [[kcore]] (which finds dense REGIONS)
    * with a per-node density that needs no iteration.
    *
    * Scale: triangle membership via the same degree-oriented MPS wedge
    * close as [[triangles]] (wedge volume O(m^1.5) on the contracted
    * graph), one degree agg, one |nodes|-row left join — no new shuffle
    * shape beyond what triangles already pays.
    */
  def clusteringCoeff(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val pairs = groupPairsOf(s, dir)
      .pin // degree agg + both orientation joins
    ccOnEdges(pairs)
  }

  /** The close of [[clusteringCoeff]], or with a `cap` of
    * [[clusteringCoeffCapped]], parameterized by an edge list (`a`,`b`
    * undirected pairs, already pinned) — shared by the corpus-derived
    * queries and ScalingBench's synthetic heavy-tail decade measurement.
    */
  private[graft] def ccOnEdges(pairs: DataFrame,
      cap: Option[Int] = None): DataFrame = {
    val s = pairs.sparkSession
    import s.implicits._
    val (deg, triCnt) = degAndTriCounts(pairs, cap)
    deg.join(triCnt, $"v" === $"group_id", "left")
      .select($"v".as("group_id"), $"d".as("deg"),
        coalesce($"tri_cnt", lit(0L)).as("tri_cnt"))
      .withColumn("cc_pm",
        when($"deg" >= 2L,
          floor(lit(2000L) * $"tri_cnt" / ($"deg" * ($"deg" - 1L)))
            .cast("long"))
          .otherwise(0L))
      .orderBy($"group_id")
  }

  /** Degree-CAPPED variant of [[clusteringCoeff]] — the wedge-volume
    * mitigation for the 100×+ regime. The exact MPS close's cost is the
    * wedge volume Σ od(v)² over oriented out-degrees; it is the first
    * corpus-volume term to surface in the graph battery (×12.7 wall at
    * ×100, PLANS.md round 11) because a few high-out-degree sources
    * dominate the sum. Here each source emits wedges only among its
    * `cap` FIRST out-neighbors in the (dd, dst) wedge order — a
    * deterministic prefix, not a sample — bounding wedge volume by
    * cap·m while the closing join is unchanged.
    *
    * Exactness contract: every node whose oriented out-degree is ≤ cap
    * emits ALL its wedges, so any triangle whose minimum-degree vertex
    * is below the cap is counted exactly; triangles are only ever
    * UNDER-counted (cc_pm is a lower bound), and with cap ≥ max
    * out-degree the output is bit-identical to [[clusteringCoeff]]
    * (CappedWedgeSpec). The per-source neighbor rank is a window
    * PARTITIONED by src — never a global window.
    *
    * Not oracle-gated: the exact form remains the gate; this is the
    * measured scale path (ScalingBench `graph_clustering_capped`).
    */
  def clusteringCoeffCapped(s: SparkSession, dir: String,
      cap: Int): DataFrame = {
    val pairs = groupPairsOf(s, dir)
      .pin // degree agg + both orientation joins
    ccOnEdges(pairs, Some(cap))
  }

  /** Degree HISTOGRAM of the near-dup candidate graph in log2 buckets
    * (bucket = bitlength(degree), isolated docs in bucket 0): the
    * graph-shape diagnostic a pipeline reads BEFORE running contraction /
    * PageRank at scale — a heavy tail here predicts skewed shuffles and
    * says whether the salting/AQE-skew machinery will be needed.
    * Bit-length bucketing keeps the histogram integer-exact (no float
    * log); counting every document (left join) makes the histogram
    * conserve the corpus.
    */
  def degreeHist(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val deg = Tables.documents(s, dir).select($"doc_id".as("v"))
      .join(degrees(minhashCandidates(s, dir)), Seq("v"), "left")
      .select($"v", coalesce($"d", lit(0L)).as("d"))
    deg.withColumn("bucket",
        when($"d" === 0, 0L).otherwise(length(bin($"d")).cast("long")))
      .groupBy($"bucket")
      .agg(count(lit(1)).as("n_nodes"), min($"d").as("min_deg"),
        max($"d").as("max_deg"))
      .orderBy($"bucket")
  }

  val degreeHistSql: String = minhashPairsCte +
    """,
      |nd AS (SELECT a AS v FROM pairs UNION ALL SELECT b FROM pairs),
      |dg AS (SELECT v, count(*)::BIGINT AS d FROM nd GROUP BY v),
      |alldeg AS (
      |  SELECT doc.doc_id AS v, coalesce(dg.d, 0)::BIGINT AS deg
      |  FROM documents doc LEFT JOIN dg ON doc.doc_id = dg.v)
      |SELECT (CASE WHEN deg = 0 THEN 0
      |             ELSE length(bin(deg)) END)::BIGINT AS bucket,
      |  count(*)::BIGINT AS n_nodes, min(deg)::BIGINT AS min_deg,
      |  max(deg)::BIGINT AS max_deg
      |FROM alldeg GROUP BY 1 ORDER BY bucket""".stripMargin

  /** The k of [[truss]], shared with its SQL oracle. */
  val TrussK = 4

  /** k-TRUSS of the contracted near-dup graph (Cohen 2008; the Graph
    * Challenge kernel), k = 4: the maximal subgraph in which every
    * surviving edge sits in ≥ k−2 = 2 triangles OF THE SUBGRAPH — the
    * edge-level density filter one notch stricter than triangle counting
    * (an edge in 2 triangles of the full graph can still die when its
    * supporting edges are peeled). Where [[kcore]] keeps dense NODES and
    * [[triangles]] scores them, the truss keeps certified-dense EDGES —
    * the subgraph a cluster-keeper can act on without the bridge-edge
    * false merges plain CC inherits.
    *
    * Shape: iterative peel — each round one degree-oriented MPS wedge
    * close ([[triTuples]], wedge volume O(m^1.5)) restricted to the
    * surviving edges, one 3-way edge explode + keyed count, one filter.
    * ROUNDS ARE PINNED at 5 in BOTH engines (peeling is idempotent at
    * the fixpoint, so extra rounds are no-ops) and the Spark side
    * REQUIRES convergence by round 5 — the same fixed-round doctrine as
    * the MST/PCA oracles, without a data-dependent round count leaking
    * into the oracle string.
    */
  def truss(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    def support(edges: DataFrame): DataFrame = {
      val (_, tri) = triTuples(edges)
      val mem = tri.select(least($"v", $"u").as("a"),
          greatest($"v", $"u").as("b"))
        .unionByName(tri.select(least($"v", $"w").as("a"),
          greatest($"v", $"w").as("b")))
        .unionByName(tri.select(least($"u", $"w").as("a"),
          greatest($"u", $"w").as("b")))
      mem.groupBy($"a", $"b").agg(count(lit(1)).as("support"))
    }
    var edges = groupPairsOf(s, dir).pin
    var lastCount = -1L
    for (_ <- 1 to 5) {
      lastCount = edges.count()
      edges = support(edges).filter($"support" >= TrussK - 2L)
        .select($"a", $"b").pin
    }
    require(edges.count() == lastCount,
      "truss peeling did not converge within the 5 pinned rounds")
    support(edges).filter($"support" >= TrussK - 2L)
      .orderBy($"a", $"b")
  }

  val trussSql: String = groupGraphCte + {
    val rounds = (1 to 6).map { r =>
      s""",
         |tr$r AS MATERIALIZED (
         |  SELECT e1.a AS x, e1.b AS y, e2.b AS z
         |  FROM e${r - 1} e1
         |  JOIN e${r - 1} e2 ON e2.a = e1.a AND e2.b > e1.b
         |  JOIN e${r - 1} e3 ON e3.a = e1.b AND e3.b = e2.b),
         |sup$r AS MATERIALIZED (
         |  SELECT a, b, count(*)::BIGINT AS support FROM (
         |    SELECT x AS a, y AS b FROM tr$r
         |    UNION ALL SELECT x, z FROM tr$r
         |    UNION ALL SELECT y, z FROM tr$r) m GROUP BY 1, 2),
         |e$r AS MATERIALIZED (
         |  SELECT s.a, s.b FROM sup$r s
         |  WHERE s.support >= ${TrussK - 2})""".stripMargin
    }.mkString
    s""", e0 AS MATERIALIZED (SELECT a, b FROM gp)$rounds
       |SELECT a, b, support FROM sup6
       |WHERE support >= ${TrussK - 2} ORDER BY a, b""".stripMargin
  }

  /** The oracle twin of [[degAndTriCounts]]: the group-graph CTEs through
    * the degree frame `dg(v, d)` and the triangle membership rows
    * `mem(gid)`, one per (triangle, member). */
  private lazy val triMembersCte: String = groupGraphCte +
    """, nd AS (SELECT a AS v FROM gp UNION ALL SELECT b FROM gp),
      |dg AS (SELECT v, count(*)::BIGINT AS d FROM nd GROUP BY v),
      |o AS (SELECT
      |    CASE WHEN da.d < db.d OR (da.d = db.d AND p.a < p.b)
      |         THEN p.a ELSE p.b END AS src,
      |    CASE WHEN da.d < db.d OR (da.d = db.d AND p.a < p.b)
      |         THEN p.b ELSE p.a END AS dst
      |  FROM gp p JOIN dg da ON p.a = da.v JOIN dg db ON p.b = db.v),
      |od AS (SELECT o.src, o.dst, dg.d AS dd FROM o JOIN dg ON o.dst = dg.v),
      |tri AS (
      |  SELECT x.src AS v, x.dst AS u, y.dst AS ww
      |  FROM od x JOIN od y ON x.src = y.src
      |    AND (x.dd < y.dd OR (x.dd = y.dd AND x.dst < y.dst))
      |  WHERE EXISTS (SELECT 1 FROM od z
      |                WHERE z.src = x.dst AND z.dst = y.dst)),
      |mem AS (SELECT v AS gid FROM tri
      |        UNION ALL SELECT u FROM tri
      |        UNION ALL SELECT ww FROM tri)""".stripMargin

  val trianglesSql: String = triMembersCte +
    """
      |SELECT gid AS group_id, count(*)::BIGINT AS tri_cnt
      |FROM mem GROUP BY gid ORDER BY group_id""".stripMargin

  val clusteringCoeffSql: String = triMembersCte +
    """,
      |tc AS (SELECT gid, count(*)::BIGINT AS tri_cnt FROM mem GROUP BY gid)
      |SELECT dg.v AS group_id, dg.d AS deg,
      |  coalesce(tc.tri_cnt, 0)::BIGINT AS tri_cnt,
      |  (CASE WHEN dg.d >= 2
      |        THEN (2000 * coalesce(tc.tri_cnt, 0)) // (dg.d * (dg.d - 1))
      |        ELSE 0 END)::BIGINT AS cc_pm
      |FROM dg LEFT JOIN tc ON dg.v = tc.gid ORDER BY group_id""".stripMargin

  /** Link prediction over the group-contracted near-dup graph: the top-20
    * NON-adjacent group pairs by common-neighbor count — the classic
    * triadic-closure predictor ("these two template families share many
    * near-dup neighbors but never collided in a band; check them") that a
    * dedup pipeline uses to audit LSH recall: a high-common-neighbor
    * non-edge is exactly where banding most likely missed a true pair.
    *
    * Scale: wedges enumerate each center's neighbor pairs (Σ C(d,2) —
    * bounded on the CONTRACTED graph, whose max degree scales with
    * content diversity, not duplication volume; [[degreeHist]] is the
    * pre-flight check), count per candidate pair with one mergeable agg,
    * anti-join the existing edges out, then TakeOrdered for the top-20.
    * No all-pairs step anywhere.
    */
  def commonNeighbors(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val pairs = groupPairsOf(s, dir)
      .pin // symmetrization + the non-edge anti-join
    val sym = undirected(pairs, "c", "x")
      .pin // both wedge sides
    val cand = sym.as("l")
      .join(sym.as("r"), $"l.c" === $"r.c" && $"l.x" < $"r.x")
      .select($"l.x".as("a"), $"r.x".as("b"))
      .groupBy($"a", $"b").agg(count(lit(1)).as("common"))
    val top = cand.join(pairs, Seq("a", "b"), "left_anti")
      .orderBy($"common".desc, $"a", $"b").limit(20)
    top.withColumn("rnk", row_number().over(
        Window.orderBy($"common".desc, $"a", $"b"))) // 20-row frame
      .orderBy($"rnk")
  }

  val commonNeighborsSql: String = groupGraphCte +
    s""", ${undirectedCte("sym", "gp", "a AS c, b AS x")},
      |cand AS (
      |  SELECT l.x AS a, r.x AS b, count(*)::BIGINT AS common
      |  FROM sym l JOIN sym r ON l.c = r.c AND l.x < r.x
      |  GROUP BY 1, 2),
      |ne AS (SELECT c.a, c.b, c.common FROM cand c
      |       LEFT JOIN gp ON gp.a = c.a AND gp.b = c.b
      |       WHERE gp.a IS NULL),
      |top AS (SELECT * FROM ne ORDER BY common DESC, a, b LIMIT 20)
      |SELECT a, b, common,
      |  row_number() OVER (ORDER BY common DESC, a, b) AS rnk
      |FROM top ORDER BY rnk""".stripMargin

  /** Resource-Allocation link-prediction index (Zhou, Lü & Zhang, Eur.
    * Phys. J. B 2009) over the contracted near-dup graph: for each
    * NON-adjacent group pair, Σ over common neighbors z of 1/deg(z) —
    * [[commonNeighbors]] re-weighted so a promiscuous hub certifies
    * nothing while a low-degree bridge certifies a lot (RA beats
    * Adamic–Adar's 1/log deg on most link-prediction benchmarks, and its
    * reciprocal is integer-exact where 1/log is not: each term is
    * floor(10⁹/deg z), so the cross-engine sum needs no float fold). The
    * pipeline reading: "which duplicate families are ABOUT to merge" —
    * the pairs a slightly looser banding would connect next.
    *
    * Scale: the same one-wedge-join shape as [[commonNeighbors]] /
    * triangles (volume Σ deg z², the measured family); the per-z term
    * rides the wedge join's left leg, so scoring adds no extra pass.
    */
  def resourceAlloc(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val pairs = groupPairsOf(s, dir)
      .pin // symmetrization + the non-edge anti-join
    val sym = undirected(pairs, "c", "x")
      .pin // degree agg + both wedge sides
    val deg = sym.groupBy($"c").agg(count(lit(1)).as("d"))
    val wz = sym.join(deg, Seq("c"))
      .withColumn("t", expr("1000000000 div d"))
      .select($"c", $"x", $"t")
    val cand = wz.as("l")
      .join(wz.as("r"), $"l.c" === $"r.c" && $"l.x" < $"r.x")
      .select($"l.x".as("a"), $"r.x".as("b"), $"l.t".as("t"))
      .groupBy($"a", $"b").agg(sum($"t").as("ra"))
    val top = cand.join(pairs, Seq("a", "b"), "left_anti")
      .orderBy($"ra".desc, $"a", $"b").limit(20)
    top.withColumn("rnk", row_number().over(
        Window.orderBy($"ra".desc, $"a", $"b"))) // 20-row frame
      .orderBy($"rnk")
  }

  val resourceAllocSql: String = groupGraphCte +
    s""", ${undirectedCte("sym", "gp", "a AS c, b AS x")},
      |dg AS (SELECT c, count(*)::BIGINT AS d FROM sym GROUP BY c),
      |wz AS (SELECT s.c, s.x, (1000000000 // d.d)::BIGINT AS t
      |       FROM sym s JOIN dg d ON s.c = d.c),
      |cand AS (
      |  SELECT l.x AS a, r.x AS b, sum(l.t)::BIGINT AS ra
      |  FROM wz l JOIN wz r ON l.c = r.c AND l.x < r.x
      |  GROUP BY 1, 2),
      |ne AS (SELECT c.a, c.b, c.ra FROM cand c
      |       LEFT JOIN gp ON gp.a = c.a AND gp.b = c.b
      |       WHERE gp.a IS NULL),
      |top AS (SELECT * FROM ne ORDER BY ra DESC, a, b LIMIT 20)
      |SELECT a, b, ra,
      |  row_number() OVER (ORDER BY ra DESC, a, b) AS rnk
      |FROM top ORDER BY rnk""".stripMargin

  /** Label-propagation communities (Raghavan et al. 2007, synchronous
    * variant, 3 fixed rounds) over the group-contracted near-dup graph,
    * scored by Newman modularity (Newman & Girvan 2004) in EXACT
    * integers — the community-structure readout between
    * [[componentSizes]]' too-coarse components and [[triangles]]' too-
    * local clique signal: which template FAMILIES exist inside the giant
    * component, and is the partition better than chance? Each node
    * adopts the plurality label of its neighbors (ties → smallest
    * label, so the fixed-point is deterministic without per-node
    * randomness); after 3 rounds each community c reports its size,
    * internal edge count e_c, degree mass d_c, and the modularity cell
    * 4m·e_c − d_c² — Q·4m² = Σ_c cells, so the float-free cells ARE the
    * score (headroom: d_c < 3·10⁹ keeps d_c² in int64).
    *
    * Scale: per round ONE edge⋈label join + a (node,label)-keyed count +
    * a per-node struct-max argmax — all mergeable keyed aggs, linear in
    * |E| per round, never per-source or all-pairs; the label frame is
    * checkpointed so 3-round lineage stays flat. Modularity is two keyed
    * aggs over the final labels plus an m-sized literal.
    */
  def lpaModularity(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val pairs = groupPairsOf(s, dir)
      .pin // symmetrization, e_in count, and m
    val m = pairs.count()
    val sym = undirected(pairs, "v", "u")
      .pin // re-joined every round
    val deg = sym.groupBy($"v").agg(count(lit(1)).as("d"))
      .pin // initial labels + the degree-mass agg
    var lbl = deg.select($"v", $"v".as("lbl"))
    for (_ <- 1 to 3) {
      lbl = sym
        .join(lbl.select($"v".as("u"), $"lbl"), "u")
        .groupBy($"v", $"lbl").agg(count(lit(1)).as("cnt"))
        .groupBy($"v")
        .agg(max(struct($"cnt", (-$"lbl").as("neg"))).as("w"))
        .select($"v", (-$"w.neg").as("lbl"))
        .pin // flatten the per-round lineage
    }
    val dsum = lbl.join(deg, "v")
      .groupBy($"lbl")
      .agg(count(lit(1)).as("size"), sum($"d").as("d_sum"))
    val ein = pairs
      .join(lbl.select($"v".as("a"), $"lbl".as("la")), "a")
      .join(lbl.select($"v".as("b"), $"lbl".as("lb")), "b")
      .filter($"la" === $"lb")
      .groupBy($"la".as("lbl")).agg(count(lit(1)).as("e_in"))
    dsum.join(ein, Seq("lbl"), "left")
      .select($"lbl".as("label"), $"size", $"d_sum",
        coalesce($"e_in", lit(0L)).as("e_in"),
        (lit(4L * m) * coalesce($"e_in", lit(0L)) - $"d_sum" * $"d_sum")
          .as("q_cell"))
      .orderBy($"label")
  }

  /** One synchronous LPA round as SQL: plurality neighbor label with
    * smallest-label tie-break, argmax encoded scalar (cnt·2⁴⁰ − (lbl+1):
    * max score ⇔ max cnt then min lbl; decoded exactly) — semantics, not
    * implementation, mirrored from the Spark struct-max.
    */
  val lpaModularitySql: String = {
    val S = 1099511627776L // 2^40 > any gid+1 at gate scale
    def round(k: Int): String =
      s""",
         |v$k AS (SELECT s.v, l.lbl, count(*)::BIGINT AS cnt
         |        FROM sym s JOIN l${k - 1} l ON s.u = l.v
         |        GROUP BY s.v, l.lbl),
         |l$k AS (SELECT v,
         |    ((max(cnt * $S - (lbl + 1)) // $S + 1) * $S
         |     - max(cnt * $S - (lbl + 1)) - 1)::BIGINT AS lbl
         |  FROM v$k GROUP BY v)""".stripMargin
    groupGraphCte +
      s""", nd AS (SELECT a AS v FROM gp UNION ALL SELECT b FROM gp),
        |dg AS (SELECT v, count(*)::BIGINT AS d FROM nd GROUP BY v),
        |${undirectedCte("sym", "gp", "a AS v, b AS u")},
        |mm AS (SELECT count(*)::BIGINT AS m FROM gp),
        |l0 AS (SELECT v, v AS lbl FROM dg)""".stripMargin +
      (1 to 3).map(round).mkString +
      """,
        |dsum AS (SELECT l.lbl, count(*)::BIGINT AS size,
        |           sum(dg.d)::BIGINT AS d_sum
        |         FROM l3 l JOIN dg ON l.v = dg.v GROUP BY l.lbl),
        |ein AS (SELECT la.lbl, count(*)::BIGINT AS e_in
        |        FROM gp JOIN l3 la ON gp.a = la.v
        |                JOIN l3 lb ON gp.b = lb.v
        |        WHERE la.lbl = lb.lbl GROUP BY la.lbl)
        |SELECT d.lbl AS label, d.size, d.d_sum,
        |  coalesce(e.e_in, 0)::BIGINT AS e_in,
        |  (4 * mm.m * coalesce(e.e_in, 0) - d.d_sum * d.d_sum)::BIGINT
        |    AS q_cell
        |FROM dsum d LEFT JOIN ein e ON d.lbl = e.lbl CROSS JOIN mm
        |ORDER BY label""".stripMargin
  }

  /** Minimum spanning forest of the contracted near-dup graph under
    * exact Jaccard DISTANCE (Borůvka 1926 — the parallel MST algorithm;
    * distributed form as in Karloff–Suri–Vassilvitskii MRC) — the
    * single-linkage hierarchy backbone (HDBSCAN's first stage): the MSF
    * orders near-dup families by merge distance, so cutting it at any
    * threshold yields exactly the single-linkage clustering at that
    * radius without re-running anything. Edge weight = 1000 − exact
    * distinct-token Jaccard permille between the groups' representative
    * docs, totally ordered by (w, a, b) so the forest is UNIQUE and
    * both engines converge to the same edge set.
    *
    * Scale: Borůvka is the MST algorithm that parallelizes — per round
    * every component picks its lightest outgoing edge (one keyed
    * struct-min agg), selected edges contract via [[starContraction]]
    * (O(log n) keyed rounds), and the component count at least HALVES
    * per round, so rounds ≤ log₂(largest component). Every step is a
    * keyed join/agg over the edge frame — no sequential union-find, no
    * driver-side edges. The oracle mirrors the rounds exactly (7 ≥
    * ⌈log₂ 77⌉, the gate's largest component), each contraction a
    * recursive reachability CTE.
    */
  def mstForest(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val edges = jaccardEdges(s, dir).pin
    // ACTIVE frame (r16): the edge frame carries its endpoints' CURRENT
    // component labels inline (ca, cb) and is re-labeled in place each
    // round — the r15 form kept a separate |V|-row (v → c) vertex map,
    // re-tagged the FULL edge frame against it every round (2 joins over
    // a non-shrinking input), and paid one more pinned job per round to
    // maintain the map. The active frame only ever SHRINKS (cross-edges
    // that become internal are filtered out for good), relabeling joins
    // the ≤#components-row label frame, and the vertex map is gone —
    // one fewer pinned action per round and monotonically less shuffle
    // volume, which is what round-latency-bound Borůvka actually pays.
    var act = edges.select($"a", $"b", $"w", $"a".as("ca"), $"b".as("cb"))
      .pin
    val sel = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    // round cap = ⌈log₂ |V|⌉ (VERDICT r14 #2): Borůvka at least halves
    // every component per round, so ⌈log₂(largest component)⌉ ≤
    // ⌈log₂ |V|⌉ rounds always suffice — the generic 32 was a fuse sized
    // for no particular input, and each surplus probe round costs a full
    // tag+min-agg action after convergence. (Gate: |V| = 1291 → cap 11;
    // the data-driven mr.isEmpty termination usually fires far earlier —
    // the cap only bounds the adversarial worst case at ANY scale, where
    // a fixed 7 would silently truncate the forest on a bigger corpus.)
    val nVertices = degrees(edges).count()
    val cap = math.max(1, 64 - java.lang.Long.numberOfLeadingZeros(
      math.max(1L, nVertices - 1)))
    var done = false
    var rounds = 0
    while (!done && rounds < cap) {
      val e = struct($"w", $"a", $"b", $"ca", $"cb").as("e")
      val mr = act.select($"ca".as("cc"), e)
        .unionByName(act.select($"cb".as("cc"), e))
        .groupBy($"cc").agg(min($"e").as("e"))
        .select($"e.w", $"e.a", $"e.b", $"e.ca", $"e.cb")
        .distinct() // the two endpoints of a mutual-min edge pick it twice
        .pin
      // termination fused into the min-edge agg (VERDICT r13 #8): mr is
      // empty iff act is (every component with a cross edge picks one),
      // and mr is pinned anyway
      if (mr.isEmpty) done = true
      else {
        sel += mr.select($"a", $"b", $"w")
        // contraction = components of the selected-edge graph, via the
        // shared starContraction (O(log) keyed rounds). A pointer-
        // doubling contraction (the textbook Borůvka step) was tried
        // and reverted: with pins per doubling it pays MORE fixed job
        // latency than starContraction, and without them the self-join
        // chain doubles the plan per step and froze the optimizer —
        // gate wall here is round-latency-bound, not volume-bound, and
        // starContraction is the proven form.
        // Every ACTIVE component is an endpoint of some selected edge
        // (it picked one), so the selected-edge node set covers every
        // label the relabel below can meet — no separate vertex frame.
        val (labels, _) = starContraction(
          mr.select($"ca".as("c")).unionByName(mr.select($"cb".as("c")))
            .distinct(),
          mr.select($"ca".as("a"), $"cb".as("b")))
        // broadcast: the label frame is ≤#components rows (halving each
        // round) but reaches Catalyst as an unestimated join lineage —
        // without the hint it can fall to a sort-merge join that
        // shuffles the whole active frame twice per round
        val lab = labels.select($"c", $"label")
        act = act
          .join(broadcast(lab.select($"c".as("ca"), $"label".as("la"))),
            Seq("ca"))
          .join(broadcast(lab.select($"c".as("cb"), $"label".as("lb"))),
            Seq("cb"))
          .filter($"la" =!= $"lb")
          .select($"a", $"b", $"w", $"la".as("ca"), $"lb".as("cb"))
          .pin
        rounds += 1
      }
    }
    if (sel.isEmpty) edges.select($"a", $"b", $"w").limit(0)
    else sel.reduce(_.unionByName(_)).orderBy($"a", $"b")
  }

  /** Borůvka mirrored round-by-round in SQL: per round the component-
    * tagged active edges, a row_number()=1 lightest-outgoing pick per
    * component (the struct-min), and a recursive-reachability
    * contraction of the selected edges; 7 rounds ≥ ⌈log₂(largest gate
    * component)⌉, later rounds no-op once converged.
    */
  lazy val mstForestSql: String = {
    // every multiply-referenced CTE is AS MATERIALIZED: DuckDB inlines
    // plain CTEs per reference, and with each round reading the previous
    // round's labels twice the 7-round chain would inline the whole
    // band-join pipeline 2^7 times (measured: file-handle exhaustion)
    def round(r: Int): String =
      s""",
         |t$r AS MATERIALIZED (
         |        SELECT e.a, e.b, e.w, x.c AS ca, y.c AS cb
         |        FROM ew e JOIN c${r - 1} x ON e.a = x.v
         |                  JOIN c${r - 1} y ON e.b = y.v
         |        WHERE x.c <> y.c),
         |s$r AS (SELECT w, a, b, ca, cb FROM (
         |          SELECT cc, w, a, b, ca, cb,
         |            row_number() OVER (PARTITION BY cc ORDER BY w, a, b)
         |              AS rn
         |          FROM (SELECT ca AS cc, w, a, b, ca, cb FROM t$r
         |                UNION ALL SELECT cb, w, a, b, ca, cb FROM t$r))
         |        WHERE rn = 1),
         |m$r AS MATERIALIZED (SELECT DISTINCT w, a, b, ca, cb FROM s$r),
         |y$r AS MATERIALIZED (SELECT ca AS x, cb AS y FROM m$r
         |        UNION ALL SELECT cb, ca FROM m$r),
         |r$r(n, m) AS (SELECT x, x FROM y$r
         |        UNION SELECT y$r.x, r$r.m FROM y$r JOIN r$r ON y$r.y = r$r.n),
         |l$r AS MATERIALIZED (SELECT n, min(m) AS lbl FROM r$r GROUP BY n),
         |c$r AS MATERIALIZED (
         |        SELECT p.v, coalesce(l$r.lbl, p.c) AS c
         |        FROM c${r - 1} p LEFT JOIN l$r ON p.c = l$r.n)""".stripMargin
    jaccardEdgesCte +
      """,
        |vn AS (SELECT DISTINCT v FROM
        |        (SELECT a AS v FROM ew UNION ALL SELECT b FROM ew)),
        |c0 AS MATERIALIZED (SELECT v, v AS c FROM vn)""".stripMargin +
      (1 to 7).map(round).mkString +
      """
        |SELECT a, b, w FROM (
        |  SELECT w, a, b FROM m1 UNION ALL SELECT w, a, b FROM m2
        |  UNION ALL SELECT w, a, b FROM m3 UNION ALL SELECT w, a, b FROM m4
        |  UNION ALL SELECT w, a, b FROM m5 UNION ALL SELECT w, a, b FROM m6
        |  UNION ALL SELECT w, a, b FROM m7)
        |ORDER BY a, b""".stripMargin
  }

  /** Shared weighted edge frame of the contracted near-dup graph —
    * (a, b, w) with w = 1000 − exact distinct-token Jaccard permille of
    * the group representatives; the input of [[mstForest]] and
    * [[TextOps.singleLinkage]].
    */
  private[operators] def jaccardEdges(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val pairs = groupPairsOf(s, dir).pin
    val tok = tokens(s, dir).pin // intersection join + size agg
    val sz = tok.groupBy($"doc_id").agg(count(lit(1)).as("n")).pin
    val it = pairs
      .join(tok.select($"doc_id".as("a"), $"w"), "a")
      .join(tok.select($"doc_id".as("b"), $"w"), Seq("b", "w"))
      .groupBy($"a", $"b").agg(count(lit(1)).as("c"))
    pairs
      .join(it, Seq("a", "b"), "left")
      .join(sz.select($"doc_id".as("a"), $"n".as("na")), "a")
      .join(sz.select($"doc_id".as("b"), $"n".as("nb")), "b")
      .select($"a", $"b",
        (lit(1000L) - expr(
          "(1000 * coalesce(c, 0)) div (na + nb - coalesce(c, 0))")).as("w"))
  }

  /** The oracle twin of [[jaccardEdges]]: the recursive group-graph CTEs
    * through `ew(a, b, w)`. */
  private[operators] lazy val jaccardEdgesCte: String =
    groupGraphCte.replaceFirst("WITH ", "WITH RECURSIVE ") +
      """, sz AS (SELECT doc_id, count(*) AS n FROM tok GROUP BY doc_id),
        |it AS (SELECT p.a, p.b, count(*) AS c
        |       FROM gp p JOIN tok x ON x.doc_id = p.a
        |                 JOIN tok y ON y.doc_id = p.b AND y.w = x.w
        |       GROUP BY 1, 2),
        |ew AS MATERIALIZED (
        |       SELECT p.a, p.b,
        |         (1000 - (1000 * coalesce(it.c, 0))
        |          // (sa.n + sb.n - coalesce(it.c, 0)))::BIGINT AS w
        |       FROM gp p LEFT JOIN it ON p.a = it.a AND p.b = it.b
        |       JOIN sz sa ON sa.doc_id = p.a
        |       JOIN sz sb ON sb.doc_id = p.b)""".stripMargin

  /** Multi-source BFS over the group-contracted near-dup graph: minimum
    * hop distance (≤ 3) from the seed set (every 17th group id) — the
    * "contamination blast radius" question: if these seed documents are
    * tainted (benchmark leakage, spam cluster, licensing), which template
    * families are within k near-dup hops and should be quarantined too?
    *
    * Scale: the canonical BSP frontier shape (same layout as
    * [[pageRank]]): per round ONE join of the current distance frame
    * against the symmetrized edge list and ONE min-agg, checkpointed so
    * the 3-round lineage stays flat. d_{i+1} = min(d_i ∪ expand(d_i)) —
    * re-expanding the full reached set instead of the delta frontier costs
    * one extra scan of an already-small frame and keeps the operator a
    * pure dataflow (no driver-side frontier bookkeeping); a cluster run
    * with large k switches to delta frontiers, same DAG per round.
    */
  def bfsReach(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val pairs = groupPairsOf(s, dir)
      .pin // node set + both edge orientations
    val sym = undirected(pairs, "u", "v")
      .pin // re-joined every round
    val seeds = sym.select($"u".as("v")).distinct()
      .filter($"v" % 17 === 0)
      .select($"v", lit(0L).as("dist"))
    bfs(seeds, sym, 3)
      .select($"v".as("group_id"), $"dist").orderBy($"group_id")
  }

  val bfsReachSql: String = groupGraphCte + {
    val seeds = """
      |  SELECT DISTINCT u AS v, 0::BIGINT AS dist FROM sym
      |  WHERE u % 17 = 0""".stripMargin
    s""", ${undirectedCte("sym", "gp", "a AS u, b AS v")},
       |${bfsCtes("d", seeds, 3)}
       |SELECT v AS group_id, dist FROM d3 ORDER BY group_id""".stripMargin
  }

  /** `rounds` BFS rounds from `seed` (v, dist) over the symmetric (u, v)
    * edge frame `sym`: d_h = min(d_{h−1} ∪ expand(d_{h−1})), every round
    * pinned so the lineage stays flat. Oracle: [[bfsCtes]].
    */
  private def bfs(seed: DataFrame, sym: DataFrame, rounds: Int): DataFrame = {
    val s = seed.sparkSession
    import s.implicits._
    var dist = seed.pin
    for (h <- 1 to rounds) {
      // explicit subquery aliases on BOTH join sides: dist derives from
      // sym, so without them the rebuilt (un-pinned) plan resolves
      // sym("v") against two candidate attributes and throws
      // AnalysisException — the pinned build only worked because the
      // checkpoint minted fresh attribute ids (VERDICT r12 #3)
      dist = dist.unionByName(
          dist.as("d").join(sym.as("s"), $"d.v" === $"s.u")
            .select($"s.v".as("v"), lit(h.toLong).as("dist")))
        .groupBy($"v").agg(min($"dist").as("dist"))
        .pin
    }
    dist
  }

  /** The oracle twin of [[bfs]]: `<tag>0` from `seedSql`, then rounds
    * `<tag>1..<tag><rounds>` over the symmetric `sym(u, v)` CTE. */
  private def bfsCtes(tag: String, seedSql: String, rounds: Int): String = {
    val steps = (1 to rounds).map { i =>
      s"""$tag$i AS MATERIALIZED (
         |  SELECT v, min(dist)::BIGINT AS dist FROM (
         |    SELECT v, dist FROM $tag${i - 1}
         |    UNION ALL
         |    SELECT s.v, d.dist + 1
         |    FROM $tag${i - 1} d JOIN sym s ON d.v = s.u) z
         |  GROUP BY v)""".stripMargin
    }.mkString(",\n")
    s"""${tag}0 AS MATERIALIZED ($seedSql),
       |$steps""".stripMargin
  }

  /** Diameter probe by DOUBLE-SWEEP BFS (Magnien–Latapy–Habib): BFS from
    * a fixed start node, jump to the farthest node found, BFS again — the
    * second eccentricity is the standard tight lower bound on the
    * component's diameter (exact on trees, near-exact on real graphs),
    * at the cost of exactly two BFS runs instead of all-pairs. The number
    * a pipeline reads to budget iterative algorithms: PageRank mixing,
    * label-prop rounds, and contraction depth all scale with it.
    *
    * Rounds are PINNED at 6 per sweep (the oracle replays the identical
    * prefix; the gate graph's components are far shallower), so the
    * result is a lower bound twice over — by sweep count and by round
    * cap — which is exactly how the probe is used at scale. Start node =
    * the smallest group id; ties on farthest break toward the smaller
    * node, so the whole probe is deterministic.
    *
    * Scale: same per-round one-join + min-agg shape as [[bfsReach]],
    * checkpointed per round; the argmax picks are 1-row TakeOrdereds.
    */
  def diameterProbe(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val pairs = groupPairsOf(s, dir)
      .pin
    val sym = undirected(pairs, "u", "v")
      .pin
    def far(dist: DataFrame): DataFrame =
      dist.orderBy($"dist".desc, $"v").limit(1)
    val start = sym.select($"u".as("v")).agg(min($"v").as("v"))
      .select($"v", lit(0L).as("dist"))
    val f1 = far(bfs(start, sym, 6)).pin
    val f2 = far(bfs(f1.select($"v", lit(0L).as("dist")), sym, 6))
    f1.select($"v".as("sweep1_far"), $"dist".as("sweep1_ecc"))
      .crossJoin(f2.select($"v".as("sweep2_far"),
        $"dist".as("diameter_lb")))
  }

  val diameterProbeSql: String = groupGraphCte +
    s""", ${undirectedCte("sym", "gp", "a AS u, b AS v")},
       |${bfsCtes("x", "SELECT min(u) AS v, 0::BIGINT AS dist FROM sym", 6)},
       |p1 AS (SELECT v, dist FROM x6 ORDER BY dist DESC, v LIMIT 1),
       |${bfsCtes("y", "SELECT v, 0::BIGINT AS dist FROM p1", 6)},
       |p2 AS (SELECT v, dist FROM y6 ORDER BY dist DESC, v LIMIT 1)
       |SELECT p1.v AS sweep1_far, p1.dist AS sweep1_ecc,
       |  p2.v AS sweep2_far, p2.dist AS diameter_lb
       |FROM p1 CROSS JOIN p2""".stripMargin

  /** Approximate Neighborhood Function via HyperBall (Palmer/Gibbons/
    * Faloutsos ANF, KDD 2002; Boldi/Vigna "In-Core Computation of
    * Geometric Centralities with HyperBall", 2013 — the algorithm behind
    * the Facebook four-degrees measurement): per node of the contracted
    * near-dup graph, the ESTIMATED size of its radius-t ball for
    * t = 0..3, maintained as a 64-register HyperLogLog per node whose
    * per-round update is register-wise max over neighbors —
    * B_{t+1}(v) = B_t(v) ⊔ ⊔_{u~v} B_t(u). The per-node ball-growth
    * profile is the blast-radius/centrality read the exact per-source
    * BFS cannot deliver at scale (all-sources BFS is |V|·BFS; HyperBall
    * is |V|·64 longs per round whatever |V| is).
    *
    * Determinism & parity: registers use the [[Sketches.avalanche]]d
    * 31-bit hash and the exact dyadic estimator of
    * [[Sketches.hllDistinct]] (no linear-counting ln()), so register
    * contents — and the estimates — hash-match DuckDB bit-for-bit. The
    * raw estimator's small-n bias (visible at t=0, where every true ball
    * is 1) ships as part of the result surface, exactly as in
    * `sketch_hll_distinct`; `n_zero` accompanies each estimate for
    * callers that apply their own correction.
    *
    * Scale: per round ONE edge join + one (v, register)-keyed mergeable
    * max — the BSP register-merge shape, linear in |E| with constant 64;
    * the estimate read-off is a nodes×64 fold. Nothing is per-source.
    */
  def anfHyperball(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val pairs = groupPairsOf(s, dir)
      .pin
    val sym = undirected(pairs, "u", "v")
      .pin
    val nodes = sym.select($"u".as("v")).distinct().pin
    val hv = Sketches.avalanche(
      Sketches.h($"v", 2654435761L, 12007L), 1779033703L, 514229L)
    var regs = nodes
      .select($"v", (hv % 64L).as("j"), floor(hv / 64L).cast("long").as("w"))
      .withColumn("mx",
        when($"w" === 0L, lit(26)).otherwise(lit(26) - length(bin($"w"))))
      .select($"v", $"j", $"mx")
      .pin
    val perRound = (0 to 3).map { t =>
      if (t > 0) {
        regs = regs.unionByName(
            regs.as("r").join(sym.as("s"), $"r.v" === $"s.u")
              .select($"s.v".as("v"), $"r.j".as("j"), $"r.mx".as("mx")))
          .groupBy($"v", $"j").agg(max($"mx").as("mx"))
          .pin
      }
      // readout WITHOUT the 64-way explode + left join the r16 shape
      // paid per t (4 × a |V|·64-row join): a PRESENT register always
      // has mx ≥ 1 (w = 0 maps to 26, w ≥ 1 to 26 − bitlength ≥ 1), so
      // n_zero = 64 − #present and each absent register contributes
      // exactly 2⁻⁰ = 1.0 to the sum. Every node has ≥ 1 register from
      // round 0, so the groupBy covers all nodes. Exactness: 2⁻ᵐˣ terms
      // are multiples of 2⁻²⁶ with total < 2⁶, so every partial sum is
      // exact in double — summation order cannot change est_ball.
      regs.groupBy($"v")
        .agg(count(lit(1)).as("cnt"), sum(pow(lit(2.0), -$"mx")).as("sp"))
        .select($"v".as("group_id"), lit(t.toLong).as("t"),
          (lit(64L) - $"cnt").as("n_zero"),
          floor(lit(0.709) * lit(4096.0)
            / ($"sp" + (lit(64L) - $"cnt").cast("double"))).cast("long")
            .as("est_ball"))
    }
    perRound.reduce(_ unionByName _).orderBy($"group_id", $"t")
  }

  val anfHyperballSql: String = groupGraphCte + {
    val rounds = (1 to 3).map { i =>
      s"""r$i AS MATERIALIZED (
         |  SELECT v, j, max(mx) AS mx FROM (
         |    SELECT v, j, mx FROM r${i - 1}
         |    UNION ALL
         |    SELECT s.v, r.j, r.mx FROM r${i - 1} r JOIN sym s ON r.v = s.u) z
         |  GROUP BY v, j)""".stripMargin
    }.mkString(",\n")
    val ests = (0 to 3).map { t =>
      s"""SELECT f.v AS group_id, $t::BIGINT AS t,
         |  sum(CASE WHEN f.mx = 0 THEN 1 ELSE 0 END)::BIGINT AS n_zero,
         |  floor(0.709::DOUBLE * 4096::DOUBLE
         |        / sum(pow(2.0::DOUBLE, -f.mx)))::BIGINT AS est_ball
         |FROM (SELECT nodes.v, u.j, coalesce(r$t.mx, 0) AS mx
         |      FROM nodes CROSS JOIN (SELECT unnest(range(0, 64)) AS j) u
         |      LEFT JOIN r$t ON r$t.v = nodes.v AND r$t.j = u.j) f
         |GROUP BY f.v""".stripMargin
    }.mkString("\nUNION ALL\n")
    s""", ${undirectedCte("sym", "gp", "a AS u, b AS v")},
       |nodes AS (SELECT DISTINCT u AS v FROM sym),
       |h1 AS (SELECT v,
       |  xor((2654435761 * v + 12007) % 2147483647,
       |      ((2654435761 * v + 12007) % 2147483647) >> 15) AS y1
       |  FROM nodes),
       |hs AS (SELECT v,
       |  xor((1779033703 * y1 + 514229) % 2147483647,
       |      ((1779033703 * y1 + 514229) % 2147483647) >> 13) AS hv
       |  FROM h1),
       |r0 AS MATERIALIZED (
       |  SELECT v, hv % 64 AS j,
       |    CASE WHEN hv // 64 = 0 THEN 26
       |         ELSE 26 - length(bin(hv // 64)) END AS mx
       |  FROM hs),
       |$rounds
       |SELECT group_id, t, n_zero, est_ball FROM (
       |$ests
       |) ORDER BY group_id, t""".stripMargin
  }

  /** Harmonic centrality (lower bound, radius ≤ 3) from the HyperBall
    * register rounds — the read HyperBall was BUILT for (Boldi & Vigna
    * 2013 compute exactly this on web-scale graphs): H(v) =
    * Σ_{t≥1} (|B_t(v)| − |B_{t−1}(v)|)/t, i.e. each newly reached node
    * weighted by 1/distance, with ball sizes from [[anfHyperball]]'s
    * estimates. Kept exact-integer as Σ ⌊1000/t⌋·(est_t − est_{t−1})
    * (weights 1000/500/333) so the ranking is bit-deterministic; the
    * truncation at t=3 makes it a lower bound, which is how the
    * centrality is consumed on graphs whose diameter exceeds the budget.
    * Estimator noise can make est_t locally dip; deltas clamp at 0
    * (a ball never shrinks — the clamp applies the known monotonicity).
    *
    * Scale: [[anfHyperball]]'s register rounds (one edge join + keyed
    * max per round) plus a per-node 4-row pivot — nothing new shuffles.
    */
  def harmonicCentrality(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val anf = anfHyperball(s, dir)
    anf.groupBy($"group_id")
      .agg(
        sum(when($"t" === 0L, $"est_ball").otherwise(0L)).as("e0"),
        sum(when($"t" === 1L, $"est_ball").otherwise(0L)).as("e1"),
        sum(when($"t" === 2L, $"est_ball").otherwise(0L)).as("e2"),
        sum(when($"t" === 3L, $"est_ball").otherwise(0L)).as("e3"))
      .select($"group_id",
        (lit(1000L) * greatest($"e1" - $"e0", lit(0L))
          + lit(500L) * greatest($"e2" - $"e1", lit(0L))
          + lit(333L) * greatest($"e3" - $"e2", lit(0L)))
          .as("harmonic_x1000"))
      .orderBy($"harmonic_x1000".desc, $"group_id")
  }

  val harmonicCentralitySql: String = {
    val inner = anfHyperballSql
    s"""WITH anf AS ($inner)
       |SELECT group_id,
       |  (1000 * greatest(e1 - e0, 0) + 500 * greatest(e2 - e1, 0)
       |    + 333 * greatest(e3 - e2, 0))::BIGINT AS harmonic_x1000
       |FROM (
       |  SELECT group_id,
       |    sum(CASE WHEN t = 0 THEN est_ball ELSE 0 END) AS e0,
       |    sum(CASE WHEN t = 1 THEN est_ball ELSE 0 END) AS e1,
       |    sum(CASE WHEN t = 2 THEN est_ball ELSE 0 END) AS e2,
       |    sum(CASE WHEN t = 3 THEN est_ball ELSE 0 END) AS e3
       |  FROM anf GROUP BY group_id)
       |ORDER BY harmonic_x1000 DESC, group_id""".stripMargin
  }

  /** Degree ASSORTATIVITY (Newman's r) of the contracted near-dup graph:
    * the Pearson correlation of endpoint degrees over the directed edge
    * list. Because the edge list is symmetrized, the two marginals are
    * identical and r = (m·Σxy − (Σx)²) / (m·Σx² − (Σx)²) EXACTLY — no
    * square root, so the permille result is pure integer arithmetic.
    * Disassortative (r < 0) is the organic-web signature; strongly
    * assortative near-dup graphs indicate template families linking to
    * each other — another banding-health probe next to
    * [[componentSizes]] and [[clusteringCoeff]].
    *
    * Scale: two degree joins + one mergeable 4-sum aggregation over the
    * edge list; int64 headroom holds while m·maxdeg² < 2^63 (≈10¹²
    * edges at hub degree 10³ — beyond any contracted graph here; beyond
    * it, the sums move to DECIMAL(38)).
    */
  def assortativity(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val pairs = groupPairsOf(s, dir)
      .pin
    val sym = undirected(pairs, "u", "v")
    val deg = sym.groupBy($"u").agg(count(lit(1)).as("d"))
      .pin // joined at both endpoints
    val st = sym
      .join(deg.select($"u", $"d".as("x")), Seq("u"))
      .join(deg.select($"u".as("v"), $"d".as("y")), Seq("v"))
      .agg(count(lit(1)).as("m"), sum($"x").as("sx"),
        sum($"x" * $"x").as("sxx"), sum($"x" * $"y").as("sxy"))
    st.select($"m".as("m_edges"),
        ($"m" * $"sxy" - $"sx" * $"sx").as("num"),
        ($"m" * $"sxx" - $"sx" * $"sx").as("den"))
      .withColumn("r_pm",
        floor(lit(1000L) * $"num" / $"den").cast("long"))
  }

  val assortativitySql: String = groupGraphCte +
    s""", ${undirectedCte("sym", "gp", "a AS u, b AS v")},
      |dg AS (SELECT u, count(*)::BIGINT AS d FROM sym GROUP BY u),
      |st AS (
      |  SELECT count(*)::BIGINT AS m, sum(dx.d)::BIGINT AS sx,
      |    sum(dx.d * dx.d)::BIGINT AS sxx,
      |    sum(dx.d * dy.d)::BIGINT AS sxy
      |  FROM sym JOIN dg dx ON sym.u = dx.u JOIN dg dy ON sym.v = dy.u)
      |SELECT m AS m_edges, (m * sxy - sx * sx)::BIGINT AS num,
      |  (m * sxx - sx * sx)::BIGINT AS den,
      |  floor(1000.0 * (m * sxy - sx * sx)
      |        / (m * sxx - sx * sx))::BIGINT AS r_pm
      |FROM st""".stripMargin

  /** k-core decomposition (k=3, 4 peel rounds) of the group-contracted
    * near-dup graph: iteratively strip nodes with degree < k until a
    * fixpoint; what survives is the dense template-family core — the spam
    * / boilerplate-farm detector of a curation pipeline (a node that
    * keeps ≥3 near-dup neighbors even after its low-degree fringe is peeled
    * sits inside a heavily templated region, exactly where aggressive
    * dedup/downweighting pays off; the sparse fringe is organic text).
    *
    * Output: the 3-core membership with each survivor's degree in the
    * final peeled edge set.
    *
    * Scale: each peel round is ONE mergeable degree count plus two
    * node-keyed semi-joins of the edge list — the same per-round
    * join+agg bound as [[pageRank]]/[[bfsReach]], checkpointed per round
    * so the 4-round lineage stays flat. The round count is pinned (4) so
    * the oracle replays the identical prefix; peeling monotonically
    * shrinks the edge set, so a fixpoint reached early makes the
    * remaining rounds no-ops over the final set (same answer, wasted
    * passes only — a cluster run loops with a convergence counter the
    * way [[starContraction]] does).
    */
  def kcore(s: SparkSession, dir: String, k: Int = 3,
      rounds: Int = 4): DataFrame = {
    import s.implicits._
    var edges = groupPairsOf(s, dir).pin
    for (_ <- 1 to rounds) {
      val keep = degrees(edges).filter($"d" >= k).select($"v")
      edges = edges
        .join(keep.select($"v".as("a")), Seq("a"), "left_semi")
        .join(keep.select($"v".as("b")), Seq("b"), "left_semi")
        .select($"a", $"b").pin
    }
    degrees(edges).select($"v".as("group_id"), $"d".as("core_deg"))
      .orderBy($"group_id")
  }

  val kcoreSql: String = groupGraphCte + {
    val rounds = (1 to 4).map { r =>
      s""", nd$r AS (SELECT a AS v FROM e${r - 1} UNION ALL
         |           SELECT b FROM e${r - 1}),
         |dg$r AS (SELECT v, count(*)::BIGINT AS d FROM nd$r GROUP BY v),
         |kp$r AS (SELECT v FROM dg$r WHERE d >= 3),
         |e$r AS MATERIALIZED (
         |  SELECT e.a, e.b FROM e${r - 1} e
         |  JOIN kp$r ka ON e.a = ka.v JOIN kp$r kb ON e.b = kb.v)""".stripMargin
    }.mkString
    s""", e0 AS MATERIALIZED (SELECT a, b FROM gp)$rounds,
       |ndf AS (SELECT a AS v FROM e4 UNION ALL SELECT b FROM e4)
       |SELECT v AS group_id, count(*)::BIGINT AS core_deg
       |FROM ndf GROUP BY v ORDER BY group_id""".stripMargin
  }

  /** Round count shared by [[graphHits]] and [[graphHitsSql]]: the SQL
    * oracle is generated from the SAME constant as the Scala loop, so a
    * caller can never run a different number of rounds than the
    * registered oracle replays (the kmeansIters pattern; r15 ADVICE).
    */
  val HitsIters = 3

  /** HITS (Kleinberg, JACM 1999) on the bipartite customer→part purchase
    * graph: hubs are customers, authorities are parts, h(c) ← Σ a(p) over
    * parts c bought, a(p) ← Σ h(c) over c buying p — mutual reinforcement
    * instead of PageRank's random surfer (a part is authoritative because
    * big buyers buy it; a buyer is a hub because it buys authoritative
    * parts). The missing member of the spectral-graph battery: PageRank/
    * PPR/Katz walk ONE vector on a homogeneous graph; HITS
    * ping-pongs TWO vectors across a bipartite one — exactly the
    * [[graft.operators.TextOps.lsaPower]] u←Av/v←Aᵀu shape with A the
    * 0/1 purchase matrix, and the same integer per-half-round rescale
    * (max div 2²⁰ + 1) keeps 3 rounds exact in int64 at any corpus size
    * (post-rescale scores ≤ ~2²¹, a half-round sum ≤ n·2²¹ ≪ 2⁶³).
    * Output: top-15 authorities and top-15 hubs, one frame.
    *
    * Scale: edges = distinct (custkey, partkey) — one lineitem⋈orders
    * join, checkpointed once, re-joined per half-round; each half-round
    * is one keyed join + one keyed sum over the edge frame (work ∝ |E|),
    * the sparse-matrix BSP layout — the dense A never exists.
    */
  def graphHits(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val edges = Tables.lineitem(s, dir)
      .join(Tables.orders(s, dir), $"l_orderkey" === $"o_orderkey")
      .select($"o_custkey".as("c"), $"l_partkey".as("p")).distinct()
      .pin // re-joined every half-round
    var h = edges.select($"c").distinct()
      .select($"c", lit(1048576L).as("h"))
    var a = edges.limit(0).select($"p", lit(0L).as("a")) // replaced below
    for (_ <- 1 to HitsIters) {
      // pin the PRE-rescale half-round aggregate (a0/h0): the max-divisor
      // agg and the rescale projection both read it, so pinning the
      // POST-rescale frame (the r16 shape) recomputed the |E|-sized
      // edges⋈vector join+agg TWICE per half-round — once under the
      // divisor's broadcast subtree, once on the main stream (guide §2.4).
      // The rescaled a/h stay lazy: two cheap scans of the pinned bounded
      // aggregate replace a second edge-frame join.
      val a0 = edges.join(h, Seq("c")).groupBy($"p").agg(sum($"h").as("a"))
        .pin // max-divisor agg + rescale both read it
      val da = a0.agg((expr("max(a) div 1048576") + 1L).as("d"))
      a = a0.crossJoin(broadcast(da))
        .select($"p", expr("a div d").as("a"))
      val h0 = edges.join(a, Seq("p")).groupBy($"c").agg(sum($"a").as("s"))
        .pin // max-divisor agg + rescale both read it
      val dh = h0.agg((expr("max(s) div 1048576") + 1L).as("d"))
      h = h0.crossJoin(broadcast(dh))
        .select($"c", expr("s div d").as("h"))
    }
    a.orderBy($"a".desc, $"p").limit(15)
      .select(lit("authority").as("side"), $"p".as("id"), $"a".as("score"))
      .unionByName(h.orderBy($"h".desc, $"c").limit(15)
        .select(lit("hub").as("side"), $"c".as("id"), $"h".as("score")))
      .orderBy($"side", $"score".desc, $"id")
  }

  lazy val graphHitsSql: String = {
    def round(k: Int): String =
      s""",
         |a$k AS MATERIALIZED (
         |  SELECT p, sum(h)::BIGINT AS a
         |  FROM edges JOIN h${k - 1} USING (c) GROUP BY p),
         |da$k AS (SELECT (max(a) // 1048576 + 1)::BIGINT AS d FROM a$k),
         |as$k AS MATERIALIZED (
         |  SELECT p, (a // d)::BIGINT AS a FROM a$k CROSS JOIN da$k),
         |hh$k AS MATERIALIZED (
         |  SELECT c, sum(a)::BIGINT AS s
         |  FROM edges JOIN as$k USING (p) GROUP BY c),
         |dh$k AS (SELECT (max(s) // 1048576 + 1)::BIGINT AS d FROM hh$k),
         |h$k AS MATERIALIZED (
         |  SELECT c, (s // d)::BIGINT AS h FROM hh$k CROSS JOIN dh$k)"""
        .stripMargin
    """WITH edges AS MATERIALIZED (
      |  SELECT DISTINCT o_custkey AS c, l_partkey AS p
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
      |h0 AS (SELECT DISTINCT c, 1048576::BIGINT AS h FROM edges)"""
      .stripMargin +
      (1 to HitsIters).map(round).mkString +
      s"""
        |SELECT * FROM (
        |  (SELECT 'authority' AS side, p AS id, a AS score FROM as$HitsIters
        |   ORDER BY score DESC, id LIMIT 15)
        |  UNION ALL
        |  (SELECT 'hub', c, h FROM h$HitsIters ORDER BY h DESC, c LIMIT 15))
        |ORDER BY side, score DESC, id""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "graph_katz" -> katzGroups _,
    "graph_degree_hist" -> degreeHist _,
    "graph_kcore" -> ((s: SparkSession, dir: String) => kcore(s, dir)),
    "graph_pagerank" -> pageRank _,
    "graph_pagerank_groups" -> pageRankGroups _,
    "graph_resource_alloc" -> resourceAlloc _,
    "graph_ppr" -> pprRank _,
    "graph_ppr_groups" -> pprRankGroups _,
    "graph_triangles" -> triangles _,
    "graph_truss" -> truss _,
    "graph_clustering_coeff" -> clusteringCoeff _,
    "graph_component_sizes" -> componentSizes _,
    "graph_diameter_probe" -> diameterProbe _,
    "graph_assortativity" -> assortativity _,
    "graph_common_neighbors" -> commonNeighbors _,
    "graph_anf" -> anfHyperball _,
    "graph_harmonic" -> harmonicCentrality _,
    "graph_lpa_modularity" -> lpaModularity _,
    "graph_mst" -> mstForest _,
    "graph_bfs_reach" -> bfsReach _,
    "graph_hits" -> graphHits _,
  )

  val oracles: Map[String, String] = Map(
    "graph_katz" -> katzGroupsSql,
    "graph_degree_hist" -> degreeHistSql,
    "graph_kcore" -> kcoreSql,
    "graph_pagerank" -> pageRankSql,
    "graph_pagerank_groups" -> pageRankGroupsSql,
    "graph_resource_alloc" -> resourceAllocSql,
    "graph_ppr" -> pprRankSql,
    "graph_ppr_groups" -> pprRankGroupsSql,
    "graph_triangles" -> trianglesSql,
    "graph_truss" -> trussSql,
    "graph_clustering_coeff" -> clusteringCoeffSql,
    "graph_component_sizes" -> componentSizesSql,
    "graph_diameter_probe" -> diameterProbeSql,
    "graph_assortativity" -> assortativitySql,
    "graph_common_neighbors" -> commonNeighborsSql,
    "graph_anf" -> anfHyperballSql,
    "graph_harmonic" -> harmonicCentralitySql,
    "graph_lpa_modularity" -> lpaModularitySql,
    "graph_mst" -> mstForestSql,
    "graph_bfs_reach" -> bfsReachSql,
    "graph_hits" -> graphHitsSql,
  )
}
