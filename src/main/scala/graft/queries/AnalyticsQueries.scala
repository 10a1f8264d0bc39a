package graft.queries

import graft.model.TpchGraph
import graft.operators.{Betweenness, DataFramePregel, GraphAnalytics, LocalGraph}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Whole-graph analytics queries (SURVEY §2.4) — all five are
  * oracle-checked. Fixed-round iterative algorithms (fixed-point
  * PageRank, label propagation) replay their rounds as chained CTEs;
  * connected components replays a generous fixed count of star rounds
  * (identity at the fixpoint); triangles are a 3-way self-join and the
  * degree distribution a plain aggregate.
  */
object AnalyticsQueries {

  /** Quantized PageRank (10 rounds,
    * [[GraphAnalytics.pageRankQuantizedDF]]): ranks are BIGINT
    * micro-units and every step is integer arithmetic, so the result is
    * reproducible across engines and backends, and the fixed rounds
    * replay as chained CTEs in the oracle — the same technique as
    * g_label_propagation. Under [[LocalGraph.EdgeCap]] edge rows the
    * rounds run on the driver, past it as a distributed loop. Agreement
    * with GraphX staticPageRank (the test tree's `GraphXOracles.pageRank`)
    * is spec-checked. */
  def pagerank(s: SparkSession, dir: String): DataFrame = {
    val (edges, labels) = GraphAnalytics.unifiedEdges(TpchGraph.load(s, dir))
    GraphAnalytics.decode(
      GraphAnalytics.pageRankQuantizedDF(edges, numIter = PrRounds), "vid", labels)
      .select(col("label"), col("node_id"), col("rank").as("pagerank"))
  }

  private val PrRounds = 10
  private val PrReset = 0.15

  /** Katz centrality (6 rounds, α = 1/4, β = 1): attenuated in-walk
    * counts WITHOUT PageRank's out-degree normalization — the
    * link-prediction/influence form. Same fixed-point micro-unit
    * integer algebra as [[pagerank]] (BIGINT scores, integral
    * attenuation division), so the fixed rounds replay as chained CTEs
    * in the oracle. */
  def katz(s: SparkSession, dir: String): DataFrame = {
    val (edges, labels) = GraphAnalytics.unifiedEdges(TpchGraph.load(s, dir))
    GraphAnalytics.decode(
      GraphAnalytics.katzCentralityDF(edges, numIter = KatzRounds, atten = KatzAtten),
      "vid", labels)
      .select(col("label"), col("node_id"), col("katz"))
  }

  private val KatzRounds = 6
  private val KatzAtten = 4L

  /** Deterministic HUB fixture for the iterative loops' skew story
    * (every TPC-H-derived bench graph has benign degrees, so the
    * per-round joins' behavior under power-law hubs was previously
    * unmeasured): 8 hub vertices each absorb |orders|/8 in-edges
    * (~V/100-degree hot keys at every SF), plus customer→order edges
    * for depth. Vid spaces are disjoint integer constants (orders raw,
    * customers +10¹², hubs +2·10¹²) so the identical graph replays in
    * SQL. The hub edges concentrate the staging repartition(dst) and
    * every per-round groupBy(dst) onto 8 keys — the skew pressure point
    * the fixture exists to keep measured. */
  private val SkewCustBase = 1000000000000L
  private val SkewHubBase = 2000000000000L
  private val SkewHubs = 8
  private val SkewPrRounds = 6
  private def skewEdges(s: SparkSession, dir: String): DataFrame = {
    val o = graft.Tables(s, dir, "orders")
    o.select(col("o_orderkey").cast("long").as("src"),
        (lit(SkewHubBase) + col("o_orderkey").cast("long") % SkewHubs).as("dst"))
      .unionAll(o.select((col("o_custkey").cast("long") + SkewCustBase).as("src"),
        col("o_orderkey").cast("long").as("dst")))
  }
  private val SkewEdgesSql =
    s"""  SELECT CAST(o_orderkey AS BIGINT) AS src,
       |    CAST($SkewHubBase + o_orderkey % $SkewHubs AS BIGINT) AS dst FROM orders
       |  UNION ALL SELECT CAST($SkewCustBase + o_custkey AS BIGINT),
       |    CAST(o_orderkey AS BIGINT) FROM orders""".stripMargin

  /** Quantized PageRank over the hub fixture — same integer round
    * algebra as [[pagerank]]; the point is the 8 hot dst keys under the
    * staging exchange and every per-round in-sum aggregation. */
  def skewPagerank(s: SparkSession, dir: String): DataFrame =
    GraphAnalytics.pageRankQuantizedDF(skewEdges(s, dir), numIter = SkewPrRounds)
      .select(col("vid").as("node_id"), col("rank").as("pagerank"))

  /** Star-round CC over the hub fixture — hub neighborhoods put a
    * V/100-sized group under each large-star window (and the two-level
    * contraction's local union-find absorbs whole hub stars where a hub's
    * edges co-locate). */
  def skewCc(s: SparkSession, dir: String): DataFrame =
    DataFramePregel.connectedComponents(skewEdges(s, dir))
      .select(col("vid").as("node_id"), col("component"))

  /** Connected components over the unified graph via the DataFrame scale
    * path (star rounds + adaptive local fallback). Output is identical to
    * GraphX's connectedComponents — both label every vertex with the
    * minimum global vid of its component (GraphX/DF agreement is
    * spec-checked against the test tree's
    * `GraphXOracles.connectedComponents`). */
  def connectedComponents(s: SparkSession, dir: String): DataFrame = {
    val (edges, labels) = GraphAnalytics.unifiedEdges(TpchGraph.load(s, dir))
    GraphAnalytics.decode(
      DataFramePregel.connectedComponents(edges), "vid", labels)
      .select(col("label"), col("node_id"), col("component"))
  }

  /** StreamingCc generation fold under the oracle (the q_hll_compacted
    * recipe, r14 item #6 / r15 verdict #8): the unified edges land in
    * [[CcGenerations]] batch-id slices through the REAL per-micro-batch
    * body (prev star assignment ∪ batch edges → star rounds →
    * publishBatch), then the newest complete generation is read back.
    * Component structure has a true incremental form — the previous
    * assignment is a star graph with identical connectivity — so the
    * folded labels must equal batch CC over the full edge history; the
    * oracle replays exactly that (the g_connected_components star-round
    * replay), and n_generations pins that the fold actually ran all
    * [[CcGenerations]] generations. */
  def ccGenerations(s: SparkSession, dir: String): DataFrame = {
    val (edges, labels) = GraphAnalytics.unifiedEdges(TpchGraph.load(s, dir))
    val stateDir = java.nio.file.Files.createTempDirectory("graft_cc_state").toString
    (0L until CcGenerations).foreach { i =>
      graft.streaming.StreamingCc.processCcBatch(
        edges.where(pmod(col("src"), lit(CcGenerations)) === i), i,
        "src", "dst", stateDir)
    }
    val nGen = graft.streaming.StreamingDedup
      .listBatchDirs(s, s"$stateDir/labels").size
    val out = GraphAnalytics.decode(
        graft.streaming.StreamingCc.latestLabels(s, stateDir), "vid", labels)
      .select(col("label"), col("node_id"), col("component"),
        lit(nGen.toLong).as("n_generations"))
      .localCheckpoint(true)
    graft.tools.Fs.deleteRecursively(stateDir)
    out
  }

  private val CcGenerations = 3L

  /** Triangle counts over the part co-occurrence graph (parts sharing an
    * order). The raw TPC-H-mapped graph is multipartite by label — it has
    * no 3-cycles at all, so counting triangles on it can never catch a
    * regression; the co-occurrence projection is also the graph a basket/
    * recommendation analysis actually runs on. */
  def triangles(s: SparkSession, dir: String): DataFrame = {
    val li = graft.Tables(s, dir, "lineitem")
    val edges = GraphAnalytics.coOccurrenceEdges(li, "l_orderkey", "l_partkey")
    // assumeCanonical: the projection's pairs are distinct item_a < item_b,
    // so the operator's canonicalize+distinct staging would re-exchange
    // the edge list to change nothing
    GraphAnalytics.triangleCountsDF(edges, "item_a", "item_b", assumeCanonical = true)
      .select(lit("Part").as("label"), col("vid").as("node_id"), col("triangles"))
  }

  /** Label-propagation community detection over the unified graph: 5
    * synchronous rounds of most-frequent-neighbor-community adoption
    * (ties → smallest id). Unlike connected components (the coarsest
    * partition, see g_connected_components), LPA exposes denser
    * sub-communities. Deterministic, fixed-round → fully
    * SQL-expressible: the oracle replays the identical rounds as chained
    * CTEs. */
  def labelPropagation(s: SparkSession, dir: String): DataFrame = {
    val (edges, labels) = GraphAnalytics.unifiedEdges(TpchGraph.load(s, dir))
    GraphAnalytics.decode(
      GraphAnalytics.labelPropagationDF(edges, numIter = LpaRounds), "vid", labels)
      .select(col("label"), col("node_id"), col("community"))
  }

  private val LpaRounds = 5

  /** Modularity-optimizing community detection (synchronous Louvain
    * local moves, 4 rounds) over the unified graph. Where LPA adopts the
    * most FREQUENT neighbor community, this weighs each candidate by the
    * exact integer modularity gain `2m·w(u→C) − k_u·vol'(C)` — so small
    * tight groups resist absorption by high-volume communities. Fully
    * integer → the oracle replays the rounds as chained CTEs (HUGEINT =
    * the operator's DECIMAL(38,0)). */
  def modularityCommunities(s: SparkSession, dir: String): DataFrame = {
    val g = TpchGraph.load(s, dir)
    val (edges, labels) = GraphAnalytics.unifiedEdges(g)
    GraphAnalytics.decode(
      GraphAnalytics.modularityCommunitiesDF(edges, numIter = ModRounds,
        stagingRowsHint = Some(2 * GraphAnalytics.unifiedEdgeRowsBound(g))),
      "vid", labels)
      .select(col("label"), col("node_id"), col("community"))
  }

  /** FULL multi-level Louvain over the unified graph (g_modularity with
    * the contraction phase): ModRounds local-move rounds, CONTRACT the
    * communities to a weighted super-graph, ModRounds more rounds on
    * that. Contraction is the term that bounds per-round exchange volume
    * at scale (the sf10 21x byte ratio fix); the whole trajectory —
    * contraction included — replays as chained CTEs in the oracle. */
  def modularityCommunitiesL2(s: SparkSession, dir: String): DataFrame = {
    val g = TpchGraph.load(s, dir)
    val (edges, labels) = GraphAnalytics.unifiedEdges(g)
    GraphAnalytics.decode(
      GraphAnalytics.modularityCommunitiesMultiLevelDF(edges,
        numIter = ModL2Rounds, levels = 2,
        stagingRowsHint = Some(2 * GraphAnalytics.unifiedEdgeRowsBound(g))),
      "vid", labels)
      .select(col("label"), col("node_id"), col("community"))
  }

  /** 2 rounds PER LEVEL, not 4: measured on the sf0.01 unified graph,
    * 2+2 DOMINATES the flat 4-round single level on both axes
    * (Q 0.1011 vs 0.0865, 2509 vs 4022 communities, 10.1 vs 13.5 s) —
    * contraction converts two expensive E-sized rounds into two rounds
    * on the community graph. At sf10 the level-1 rounds are the entire
    * byte story (4 rounds = 66.3 GB), so halving them IS the scale fix
    * the contraction buys (bench_history/r13_sf10_modfamily.jsonl). */
  private val ModL2Rounds = 2

  private val ModRounds = 4
  private val ModScoreRounds = 3

  /** Global modularity Q of the communities the local moves find on the
    * part co-occurrence graph (the one with real community structure —
    * the unified graph is multipartite). Exact DECIMAL sums down to one
    * final correctly-rounded division (the assortativity technique), so
    * even this global statistic hash-checks. */
  def modularityScore(s: SparkSession, dir: String): DataFrame = {
    val li = graft.Tables(s, dir, "lineitem")
    // pinned once: both the community rounds and the scoring pass
    // consume the projection, and its lineage (window + self-join)
    // should not execute twice
    val edges = GraphAnalytics.coOccurrenceEdges(li, "l_orderkey", "l_partkey")
      .localCheckpoint(true)
    val comm = GraphAnalytics.modularityCommunitiesDF(edges,
      numIter = ModScoreRounds, srcCol = "item_a", dstCol = "item_b")
    GraphAnalytics.modularityScore(edges, comm,
      srcCol = "item_a", dstCol = "item_b")
  }

  /** Pivot-sampled bounded-horizon betweenness centrality (Brandes 2001
    * accumulation; Brandes & Pich 2007 pivots; Brandes 2008 bounded
    * distance) over the unified graph: 4 md5-selected pivots, 6-hop
    * horizon, δ in micro-units with exact integral division — the whole
    * forward-σ/reverse-δ computation replays as chained CTEs. */
  def betweenness(s: SparkSession, dir: String): DataFrame = {
    val g = TpchGraph.load(s, dir)
    val (edges, labels) = GraphAnalytics.unifiedEdges(g)
    GraphAnalytics.decode(
      Betweenness.pivotBetweenness(edges, nPivots = BcPivots,
        horizon = BcHorizon, seed = BcSeed),
      "vid", labels)
      .select(col("label"), col("node_id"), col("betweenness"))
  }

  private val BcPivots = 4
  private val BcHorizon = 6
  private val BcSeed = 11L

  def degreeDistribution(s: SparkSession, dir: String): DataFrame =
    GraphAnalytics.degreeDistribution(TpchGraph.load(s, dir))

  /** Multi-source BFS over the undirected unified graph from all Region
    * vertices: hop distance to every reachable vertex. The unified
    * graph's diameter from the region side is 4 (region → nation →
    * customer/supplier → order → part), so maxHops = 5 converges with a
    * verification round to spare; the fixed rounds replay as chained
    * CTEs (a relaxation round at the fixpoint is the identity). */
  def bfsDistances(s: SparkSession, dir: String): DataFrame = {
    val (edges, labels) = GraphAnalytics.unifiedEdges(TpchGraph.load(s, dir))
    val regionIdx = labels.indexOf("Region").toLong
    val sources = edges.select(col("src").as("vid"))
      .unionAll(edges.select(col("dst").as("vid")))
      .where(shiftright(col("vid"), 44) === regionIdx)
    GraphAnalytics.decode(
      GraphAnalytics.bfsDistances(edges, sources, maxHops = BfsHops), "vid", labels)
      .select(col("label"), col("node_id"), col("dist"))
  }

  private val BfsHops = 5

  /** 3-core of the part co-occurrence graph (the triangle projection):
    * parts that survive iterative peeling of degree-<3 vertices — the
    * dense-neighborhood subgraph basket analyses mine. Synchronous
    * peeling rounds replay as chained CTEs; 8 rounds is well past the
    * measured convergence of the sf graphs. */
  def kCore(s: SparkSession, dir: String): DataFrame = {
    val li = graft.Tables(s, dir, "lineitem")
    val edges = GraphAnalytics.coOccurrenceEdges(li, "l_orderkey", "l_partkey")
    // assumeCanonical: the projection emits distinct item_a < item_b
    // pairs, so kCore's staging dedup would re-shuffle the edge list
    // to remove nothing
    GraphAnalytics.kCore(edges, k = KCoreK, rounds = KCoreRounds, "item_a", "item_b",
      assumeCanonical = true)
      .select(lit("Part").as("label"), col("vid").as("node_id"), col("core_degree"))
  }

  private val KCoreK = 3
  private val KCoreRounds = 8

  /** Weighted shortest paths from every Region vertex over the unified
    * graph, Bellman-Ford relaxation with per-relationship-TYPE costs
    * (distinct small integers, so alternative route classes — e.g.
    * reaching a Part through the customer side vs the supplier side —
    * produce genuinely different path sums and the min is discriminating;
    * a weighted shortest path may take MORE hops than the hop-shortest
    * one). 12 rounds is ~2.5× the hop diameter; the oracle's convergence
    * sentinel turns under-provisioning into a visible extra row. */
  def sssp(s: SparkSession, dir: String): DataFrame = {
    val (edges, labels) = GraphAnalytics.unifiedEdgesWeighted(
      TpchGraph.load(s, dir), p => SsspWeights(p.key))
    val regionIdx = labels.indexOf("Region").toLong
    val sources = edges.select(col("src").as("vid"))
      .unionAll(edges.select(col("dst").as("vid")))
      .where(shiftright(col("vid"), 44) === regionIdx)
    GraphAnalytics.decode(
      GraphAnalytics.ssspDistances(edges, sources, rounds = SsspRounds), "vid", labels)
      .select(col("label"), col("node_id"), col("dist"))
  }

  /** Personalized PageRank from the BUILDING-segment customers: teleport
    * returns only to that cohort, so ranks measure importance RELATIVE to
    * it (which orders/parts/suppliers matter to these customers — the
    * recommendation-feature form). Customers are sources with real
    * out-paths (→ nation → region, → order → part/supplier), so mass
    * genuinely propagates; Region sources would be rank sinks (no
    * out-edges). Same fixed-point integer arithmetic as g_pagerank; the
    * sparse rank table covers only vertices reached from the cohort. */
  def ppr(s: SparkSession, dir: String): DataFrame = {
    val (edges, labels) = GraphAnalytics.unifiedEdges(TpchGraph.load(s, dir))
    val customerIdx = labels.indexOf("Customer").toLong
    val sources = graft.Tables(s, dir, "customer")
      .where(col("c_mktsegment") === "BUILDING" && col("c_custkey").isNotNull)
      .select((col("c_custkey").cast("long") + lit(customerIdx << 44)).as("vid"))
    GraphAnalytics.decode(
      GraphAnalytics.personalizedPageRankDF(edges, sources, numIter = PprRounds, resetProb = PrReset),
      "vid", labels)
      .select(col("label"), col("node_id"), col("ppr"))
  }

  private val PprRounds = 10

  /** DeepWalk-style walk corpus: 4 derandomized walks of 8 hops from
    * every Nation vertex over the undirected unified graph. Each hop's
    * "random" neighbor choice is argmin of md5(walk_id:step:neighbor) —
    * reproducible, independent across walks, and exactly replayable in
    * SQL. Output size is start-count-bounded (25 nations × 4 × 9 steps),
    * not graph-bounded. */
  def randomWalks(s: SparkSession, dir: String): DataFrame = {
    val (edges, labels) = GraphAnalytics.unifiedEdges(TpchGraph.load(s, dir))
    val nationIdx = labels.indexOf("Nation").toLong
    // src ∪ dst read back from the staged walk adjacency (one columnar
    // scan; value-identical on this self-loop-free graph — see
    // walkEndpointStream) instead of re-executing the unified lineage
    val starts = GraphAnalytics.walkEndpointStream(edges)
      .where(shiftright(col("vid"), 44) === nationIdx)
    GraphAnalytics.decode(
      GraphAnalytics.randomWalks(edges, starts, walksPerVertex = WalkCount, steps = WalkSteps),
      "vid", labels)
      .select(col("walk_id"), col("step"), col("label"), col("node_id"))
  }

  private val WalkCount = 4
  private val WalkSteps = 8

  /** Node2vec-biased walk corpus: 3 walks of 6 hops per Nation vertex
    * with p=4 (return discouraged ×0.25) and q=0.25 (outward favored ×4 —
    * DFS-flavored exploration). Every biased choice is derandomized
    * weighted sampling over per-candidate md5 uniforms — exactly
    * replayable. */
  def biasedWalks(s: SparkSession, dir: String): DataFrame = {
    val (edges, labels) = GraphAnalytics.unifiedEdges(TpchGraph.load(s, dir))
    val nationIdx = labels.indexOf("Nation").toLong
    val starts = GraphAnalytics.walkEndpointStream(edges)
      .where(shiftright(col("vid"), 44) === nationIdx)
    GraphAnalytics.decode(
      GraphAnalytics.biasedRandomWalks(edges, starts,
        walksPerVertex = BiasedWalkCount, steps = BiasedWalkSteps,
        returnParam = BiasedP, inOutParam = BiasedQ),
      "vid", labels)
      .select(col("walk_id"), col("step"), col("label"), col("node_id"))
  }

  /** Skip-gram (center, context) pair corpus from the g_random_walks
    * walks, window 2 — the training-pair table an embedding trainer
    * consumes. Decoded labels on both sides. */
  def skipgram(s: SparkSession, dir: String): DataFrame = {
    val (edges, labels) = GraphAnalytics.unifiedEdges(TpchGraph.load(s, dir))
    val nationIdx = labels.indexOf("Nation").toLong
    val starts = GraphAnalytics.walkEndpointStream(edges)
      .where(shiftright(col("vid"), 44) === nationIdx)
    val walks = GraphAnalytics.randomWalks(edges, starts,
      walksPerVertex = WalkCount, steps = WalkSteps)
    val pairs = GraphAnalytics.skipGramPairs(walks, window = SkipgramWindow)
    val c = GraphAnalytics.decode(pairs, "center", labels)
      .withColumnRenamed("label", "center_label").withColumnRenamed("node_id", "center_id")
    GraphAnalytics.decode(c, "context", labels)
      .withColumnRenamed("label", "context_label").withColumnRenamed("node_id", "context_id")
      .select(col("center_label"), col("center_id"),
        col("context_label"), col("context_id"), col("n_pairs"))
  }

  private val SkipgramWindow = 2
  private val NegK = 3
  private val TrussK = 4
  private val TrussRounds = 8

  /** k-truss over the 1999-window part co-occurrence projection: the
    * dense-cohesion subgraph (every surviving edge in ≥ k−2 triangles).
    * The peel fixpoint lands in 3 rounds at every gate SF; the oracle
    * replays [[TrussRounds]] identity-padded rounds (a converged round
    * removes nothing) and recomputes support on the final set — the
    * fixpoint is UNIQUE, so round counts never show in the result. */
  def kTruss(s: SparkSession, dir: String): DataFrame = {
    val li = graft.Tables(s, dir, "lineitem")
      .where(to_date(col("l_shipdate")) >= lit("1999-01-01") &&
        to_date(col("l_shipdate")) < lit("2000-01-01"))
    val edges = GraphAnalytics.coOccurrenceEdges(li, "l_orderkey", "l_partkey")
    GraphAnalytics.kTruss(edges, k = TrussK, srcCol = "item_a", dstCol = "item_b",
      maxRounds = TrussRounds)
  }

  private def kTrussOracleSql(k: Int, rounds: Int): String = {
    val peels = (1 to rounds).map { t =>
      s"""t$t AS MATERIALIZED (
         |  SELECT e.a, e.b FROM t${t - 1} e
         |  JOIN (SELECT e.a, e.b, COUNT(*) AS s
         |    FROM t${t - 1} e
         |    JOIN (SELECT a AS u, b AS v FROM t${t - 1}
         |          UNION ALL SELECT b, a FROM t${t - 1}) x ON x.u = e.a
         |    JOIN (SELECT a AS u, b AS v FROM t${t - 1}
         |          UNION ALL SELECT b, a FROM t${t - 1}) y
         |      ON y.u = e.b AND y.v = x.v
         |    GROUP BY e.a, e.b) sup ON sup.a = e.a AND sup.b = e.b
         |  WHERE sup.s >= ${k - 2})""".stripMargin
    }.mkString(",\n")
    s"""WITH li AS (SELECT l_orderkey, l_partkey FROM lineitem
       |  WHERE CAST(l_shipdate AS DATE) >= DATE '1999-01-01'
       |    AND CAST(l_shipdate AS DATE) < DATE '2000-01-01'),
       |op AS (SELECT DISTINCT l_orderkey AS o, CAST(l_partkey AS BIGINT) AS p FROM li),
       |sz AS (SELECT o FROM op GROUP BY o HAVING COUNT(*) <= 10),
       |t0 AS MATERIALIZED (
       |  SELECT DISTINCT LEAST(x.p, y.p) AS a, GREATEST(x.p, y.p) AS b
       |  FROM op x JOIN op y ON x.o = y.o AND x.p < y.p
       |  JOIN sz ON sz.o = x.o),
       |$peels
       |SELECT e.a, e.b, COALESCE(sup.s, 0) AS support
       |FROM t$rounds e
       |LEFT JOIN (SELECT e.a, e.b, COUNT(*) AS s
       |  FROM t$rounds e
       |  JOIN (SELECT a AS u, b AS v FROM t$rounds
       |        UNION ALL SELECT b, a FROM t$rounds) x ON x.u = e.a
       |  JOIN (SELECT a AS u, b AS v FROM t$rounds
       |        UNION ALL SELECT b, a FROM t$rounds) y
       |    ON y.u = e.b AND y.v = x.v
       |  GROUP BY e.a, e.b) sup ON sup.a = e.a AND sup.b = e.b""".stripMargin
  }

  /** Degree-weighted negative samples for the skip-gram pair corpus —
    * the third stage of the embedding training-data pipeline (walks →
    * pairs → negatives). Integer degree weights keep every inverse-CDF
    * draw exact; the oracle replays the walks, the pair join, the
    * cumulative weights and each md5 draw, then does the interval
    * lookup as a plain range join (the bucketized equi-join is the
    * ENGINE's scale mechanics, not part of the answer). */
  def negativeSamples(s: SparkSession, dir: String): DataFrame = {
    val (edges, labels) = GraphAnalytics.unifiedEdges(TpchGraph.load(s, dir))
    val nationIdx = labels.indexOf("Nation").toLong
    val endpoints = GraphAnalytics.walkEndpointStream(edges)
    val starts = endpoints.where(shiftright(col("vid"), 44) === nationIdx)
    val walks = GraphAnalytics.randomWalks(edges, starts,
      walksPerVertex = WalkCount, steps = WalkSteps)
    val pairs = GraphAnalytics.skipGramPairs(walks, window = SkipgramWindow)
    // degree weights off the SAME staged scan (identical multiset of
    // endpoint occurrences — the doubled list carries each edge's two
    // endpoints once each; self-loop-free by the label encoding)
    val deg = endpoints.groupBy("vid").agg(count(lit(1)).as("w"))
    GraphAnalytics.weightedNegativeSamples(pairs, deg, k = NegK)
  }

  private val BiasedWalkCount = 3
  private val BiasedWalkSteps = 6
  private val BiasedP = 4.0
  private val BiasedQ = 0.25

  /** Degree assortativity (Newman 2002, Phys. Rev. Lett. 89): the Pearson
    * correlation of endpoint degrees across edge ends — positive =
    * hubs attach to hubs (social shape), negative = hubs attach to
    * leaves (star/infrastructure shape). One degree aggregation + one
    * vertex-sized join per side + a single six-sum pass; every sum is an
    * exact DECIMAL of integers, and the closed-form r is a handful of
    * IEEE ops on identically-rounded doubles — so even this global
    * statistic is hash-checkable. Computed for both graph projections. */
  def assortativity(s: SparkSession, dir: String): DataFrame = {
    def statsOf(name: String, canon: DataFrame): DataFrame = {
      // degrees from the CANONICAL list: each undirected edge appears
      // exactly once as (u < v), so deg(x) = #rows with u=x + #rows with
      // v=x — one explode-agg whose exchange carries vertex-sized
      // map-side partials, never edges. explode(array(u, v)) instead of
      // a two-projection union: ONE scan task per partition feeding one
      // shared partial hash table, so each partition emits
      // distinct(u ∪ v) partial rows rather than distinct(u) +
      // distinct(v) across two tasks
      val degBase = canon.select(explode(array(col("u"), col("v"))).as("u"))
        .groupBy("u").agg(count(lit(1)).as("d")).localCheckpoint(true)
      // guarded broadcast: the degree table is vertex-sized and its two
      // edge-list joins silently flipped from planner auto-broadcast to
      // two-sided shuffle joins in the sf1 bench (17x shuffle on 10x
      // data); the explicit hint holds to 50M vertices. Its row count IS
      // the vertex count, so it doubles as the guard.
      val deg = if (degBase.count()
          <= GraphAnalytics.maxBroadcastVerticesDyn) broadcast(degBase) else degBase
      val pairs = canon
        .join(deg.select(col("u").as("__a"), col("d").as("dx")), col("u") === col("__a"))
        .join(deg.select(col("u").as("__b"), col("d").as("dy")), col("v") === col("__b"))
        .select(col("dx"), col("dy"))
      // the DOUBLED list's six sums, folded over the canonical list: each
      // edge contributes both (dx, dy) and (dy, dx), so n = 2·C,
      // sx = sy = Σ(dx+dy), sxx = syy = Σ(dx²+dy²), sxy = Σ(2·dx·dy).
      // Every per-row term is a long (deg² ≪ 2⁶³) cast to DECIMAL before
      // the sum, so the fold is bit-identical to evaluating the doubled
      // list — and to the oracle's HUGEINT replay of it.
      val sums = pairs.agg(
        (count(lit(1)) * 2).cast("double").as("n"),
        sum((col("dx") + col("dy")).cast("decimal(38,0)"))
          .cast("double").as("sx"),
        sum((col("dx") * col("dy") * 2).cast("decimal(38,0)"))
          .cast("double").as("sxy"),
        sum((col("dx") * col("dx") + col("dy") * col("dy")).cast("decimal(38,0)"))
          .cast("double").as("sxx"))
      // sy = sx and syy = sxx by the fold's symmetry — the closed form
      // below substitutes them, leaving the IEEE op sequence unchanged
      val denom = sqrt((col("n") * col("sxx") - col("sx") * col("sx"))
        * (col("n") * col("sxx") - col("sx") * col("sx")))
      sums.select(lit(name).as("graph"), col("n").cast("long").as("n_edge_ends"),
        when(denom === 0.0, lit(0.0)).otherwise(
          round((col("n") * col("sxy") - col("sx") * col("sx")) / denom, 6))
          .as("assortativity"))
    }
    val li = graft.Tables(s, dir, "lineitem")
    // staged once per side as the CANONICAL (u < v) edge set: a bare
    // dropDuplicates IS the staging exchange (HashAggregate partial →
    // exchange → final), so map-side combine collapses the projection's
    // duplicate pairs BEFORE the wire. The previous shape's explicit
    // repartition(u) shipped every duplicate of the DOUBLED list —
    // 4× the bytes — to buy a hash(u) layout nothing downstream needs:
    // the degree joins are guarded broadcasts and the six-sum fold is a
    // scalar aggregate. (At the non-broadcast fallback both shapes pay
    // comparable sort-merge exchanges; canonical still halves the rows.)
    def stage(proj: DataFrame): DataFrame =
      // two-phase heap-budgeted pin: the canonical row count is
      // unknowable before the dedup materializes
      GraphAnalytics.persistPinnedTwoPhase(proj.dropDuplicates("u", "v"))._1
    val co = GraphAnalytics.coOccurrenceEdges(li, "l_orderkey", "l_partkey",
      distinctPairs = false)
    val coCanon = stage(co.select(col("item_a").as("u"), col("item_b").as("v")))
    val (e, _) = GraphAnalytics.unifiedEdges(TpchGraph.load(s, dir))
    val ed = e.where(col("src") =!= col("dst"))
    val uniCanon = stage(ed.select(least(col("src"), col("dst")).as("u"),
      greatest(col("src"), col("dst")).as("v")))
    val out = statsOf("co_occurrence", coCanon).unionAll(statsOf("unified", uniCanon))
      .localCheckpoint(true)
    coCanon.unpersist(blocking = false)
    uniCanon.unpersist(blocking = false)
    out
  }

  /** Local clustering coefficient per part over the co-occurrence graph:
    * 2·triangles(v) / (deg(v)·(deg(v)−1)) — how close each vertex's
    * neighborhood is to a clique, the standard community-density signal
    * next to triangle counts. Composes the existing wedge-close triangle
    * operator with one degree aggregation; the coefficient is a single
    * rounded IEEE division of engine-identical integers. */
  def clusteringCoeff(s: SparkSession, dir: String): DataFrame = {
    val li = graft.Tables(s, dir, "lineitem")
    // two consumers (triangle close + degree agg) — materialize the
    // co-occurrence projection once
    val edges = GraphAnalytics.coOccurrenceEdges(li, "l_orderkey", "l_partkey")
      .localCheckpoint(true)
    val tri = GraphAnalytics.triangleCountsDF(edges, "item_a", "item_b",
      assumeCanonical = true)
    val und = edges.select(col("item_a").as("u"), col("item_b").as("v"))
      .unionAll(edges.select(col("item_b").as("u"), col("item_a").as("v")))
    val deg = und.groupBy(col("u").as("vid")).agg(count(lit(1)).as("degree"))
    tri.join(deg, Seq("vid"))
      .select(lit("Part").as("label"), col("vid").as("node_id"),
        col("degree"), col("triangles"),
        when(col("degree") < 2, lit(0.0)).otherwise(
          round(col("triangles").cast("double") * 2.0
            / (col("degree") * (col("degree") - 1)).cast("double"), 6))
          .as("clustering_coeff"))
  }

  /** Weighted PageRank over the unified graph with per-relationship-type
    * affinities (the SSSP cost table reused as weights — distinct small
    * integers, so rank splits genuinely unevenly at every multi-type
    * vertex). Same fixed-point arithmetic as g_pagerank; the oracle
    * replays the weighted contribution rounds verbatim. */
  def pagerankWeighted(s: SparkSession, dir: String): DataFrame = {
    val (edges, labels) = GraphAnalytics.unifiedEdgesWeighted(
      TpchGraph.load(s, dir), p => SsspWeights(p.key))
    GraphAnalytics.decode(
      GraphAnalytics.pageRankWeightedDF(edges, numIter = PrwRounds), "vid", labels)
      .select(col("label"), col("node_id"), col("rank").as("wpagerank"))
  }

  private val PrwRounds = 8

  /** HITS hubs/authorities over the unified graph, 5 rounds of L1-
    * normalized fixed-point half-updates — every intermediate (raw sums,
    * normalizers, normalized scores) is an exact integer, so the oracle
    * replays the complete loop as chained CTEs. Orders are the natural
    * hubs here (they point at parts and suppliers), parts/suppliers the
    * authorities. */
  def hits(s: SparkSession, dir: String): DataFrame = {
    val (edges, labels) = GraphAnalytics.unifiedEdges(TpchGraph.load(s, dir))
    GraphAnalytics.decode(GraphAnalytics.hitsDF(edges, numIter = HitsRounds), "vid", labels)
      .select(col("label"), col("node_id"), col("hub"), col("authority"))
  }

  private val HitsRounds = 5

  /** Link-prediction features over the part co-occurrence graph (the
    * triangle projection), ANCHORED to the p_size = 50 part cohort:
    * top-5 two-hop candidates per anchor by Jaccard with
    * common-neighbor/Adamic-Adar/is_edge columns — the training table a
    * recommender's candidate generator consumes. The anchor set is the
    * scale lever (see linkFeatures scaladoc): the co-occurrence graph is
    * DENSE (median degree 116 at sf0.1 → 285M all-pairs wedges); the
    * cohort prunes the wedge join's left side ~50× while the feature
    * values stay exact over the full graph. */
  def linkFeatures(s: SparkSession, dir: String): DataFrame = {
    val li = graft.Tables(s, dir, "lineitem")
    // distinctPairs = false: linkFeatures dedups in its own hash(u)
    // staging, so the projection's pair-level distinct would be a full
    // extra exchange of the pair stream for identical results
    val edges = GraphAnalytics.coOccurrenceEdges(li, "l_orderkey", "l_partkey",
      distinctPairs = false)
    val anchors = graft.Tables(s, dir, "part")
      .where(col("p_size") === 50).select(col("p_partkey"))
    // stagingRowsHint: bounded-group pairs (≤ 10 items/order, avg ~4)
    // stay under ~1.5 × lineitem rows; 4 × doubled covers the union
    // without an exact count of the pair-join lineage
    GraphAnalytics.linkFeatures(edges, "item_a", "item_b",
      topPerVertex = LinkTopK, minCommon = LinkMinCommon, anchors = Some(anchors),
      stagingRowsHint = Some(4L * li.count()))
      .select(col("a").as("item_a"), col("b").as("item_b"),
        col("n_common"), col("jaccard"), col("adamic_adar"), col("is_edge"))
  }

  private val LinkTopK = 5
  private val LinkMinCommon = 2

  private val SsspWeights: Map[String, Long] = Map(
    "Nation_IN_REGION_Region" -> 2L,
    "Customer_IN_NATION_Nation" -> 3L,
    "Supplier_LOCATED_IN_Nation" -> 4L,
    "Customer_PLACED_Order" -> 5L,
    "Order_CONTAINS_Part" -> 7L,
    "Order_SUPPLIED_BY_Supplier" -> 6L)
  // hop diameter from the region side is 4 and every per-type cost makes
  // the customer route strictly cheapest, so weighted shortest paths use
  // ≤4 edges; 6 rounds = diameter + 2 verification margin, and the
  // oracle's convergence sentinel turns a wrong guess into a visible row
  private val SsspRounds = 6

  /** Strongly connected components over a DERIVED cyclic graph (the TPC-H
    * FK mapping is acyclic, so the fixture builds real cycles from the
    * supplier table): per-(nation, bucket-of-8) rings — each a genuine
    * directed cycle, hence one SCC — plus one-way bridges from a hub ring
    * to every other ring's minimum vertex. The bridges connect everything
    * WEAKLY: connected components would report a single component, while
    * SCC must keep every ring separate because a one-way bridge is not
    * mutual — exactly the semantic distinction the mutual-reachability
    * oracle checks (and where a naive (fwd-min, bwd-min) label pairing
    * gives wrong answers — see the diamond spec). */
  def scc(s: SparkSession, dir: String): DataFrame =
    GraphAnalytics.stronglyConnectedComponents(sccFixtureEdges(s, dir))
      .select(col("vid").as("s_suppkey"), col("scc_id"))

  private[graft] def sccFixtureEdges(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sup = graft.Tables(s, dir, "supplier")
      .select(col("s_suppkey").cast("long").as("sk"), col("s_nationkey").cast("long").as("nk"))
    val wRank = Window.partitionBy("nk").orderBy("sk")
    val ringed = sup.withColumn("rn", row_number().over(wRank))
      .withColumn("bk", expr(s"CAST((rn - 1) div $SccRingSize AS BIGINT)"))
    val wRing = Window.partitionBy("nk", "bk").orderBy("sk")
    // next supplier in the ring; the last row wraps to the ring's first
    val ringEdges = ringed.select(col("sk").as("src"),
      coalesce(lead("sk", 1).over(wRing), first("sk").over(wRing)).as("dst"))
    val mins = ringed.groupBy("nk", "bk").agg(min("sk").as("msk"))
    val hub = mins.select(min(struct(col("nk"), col("bk"), col("msk"))).as("h"))
      .select(col("h.nk").as("hnk"), col("h.bk").as("hbk"), col("h.msk").as("hsk"))
    val bridges = mins.crossJoin(broadcast(hub))
      .where(!(col("nk") === col("hnk") && col("bk") === col("hbk")))
      .select(col("hsk").as("src"), col("msk").as("dst"))
    ringEdges.unionAll(bridges)
  }

  private val SccRingSize = 8
  private val AnfRounds = 10

  /** Full coreness decomposition of the unified TPC-H graph via
    * h-index iteration — 16 rounds converge at every gate SF (probed;
    * the sentinel row would appear otherwise). The dense part
    * co-occurrence graph is the slow-convergence case (≈60 rounds at
    * sf0.1) — the layered unified graph is the honest fast one. */
  def corenessQuery(s: SparkSession, dir: String): DataFrame = {
    val (edges, _) = GraphAnalytics.unifiedEdges(graft.model.TpchGraph.load(s, dir))
    GraphAnalytics.coreness(edges, rounds = CorenessRounds)
  }

  private val CorenessRounds = 16

  private def corenessOracleSql(rounds: Int): String = {
    val sb = new StringBuilder
    sb ++= s"WITH e AS (\n$WeightedEdgesSql\n),\n"
    sb ++= """und AS MATERIALIZED (SELECT DISTINCT u, v FROM (
             |  SELECT src AS u, dst AS v FROM e WHERE src <> dst
             |  UNION ALL SELECT dst AS u, src AS v FROM e WHERE src <> dst)),
             |c0 AS MATERIALIZED (
             |  SELECT u, CAST(COUNT(*) AS BIGINT) AS cv FROM und GROUP BY u)""".stripMargin
    (1 to rounds).foreach { i =>
      sb ++= s""",
                |c$i AS MATERIALIZED (
                |  SELECT u, CAST(MAX(LEAST(rn, cv)) AS BIGINT) AS cv FROM (
                |    SELECT und.u AS u, c.cv AS cv,
                |      row_number() OVER (PARTITION BY und.u ORDER BY c.cv DESC, und.v) AS rn
                |    FROM und JOIN c${i - 1} c ON c.u = und.v) t
                |  GROUP BY u)""".stripMargin
    }
    sb ++= s"""
              |SELECT u AS vid, cv AS coreness FROM c$rounds
              |UNION ALL
              |SELECT -1, CAST(COUNT(*) AS BIGINT)
              |FROM c$rounds a JOIN c${rounds - 1} b ON a.u = b.u AND a.cv <> b.cv
              |HAVING COUNT(*) > 0""".stripMargin
    sb.toString
  }

  /** Landmark hop-distance features over the cyclic fixture: 4
    * md5-minimum landmarks, one labeled BFS (state keyed (vid,
    * landmark)), 12 rounds ≥ the fixture diameter. Sparse: unreached
    * pairs absent. */
  def landmarkDist(s: SparkSession, dir: String): DataFrame =
    graft.operators.Landmarks.landmarkDistances(sccFixtureEdges(s, dir),
      nLandmarks = LmCount, rounds = LmRounds, seed = MisSeed)
      .select(col("vid").as("s_suppkey"), col("landmark"), col("dist"))

  private val LmCount = 4
  private val LmRounds = 12

  /** Eccentricity summary from the landmark BFS (horizon ≥ fixture
    * diameter, so each landmark's eccentricity is exact): diameter ≥
    * max landmark ecc, radius ≤ min — the classic landmark bounds. */
  def graphRadius(s: SparkSession, dir: String): DataFrame =
    graft.operators.Landmarks.landmarkDistances(sccFixtureEdges(s, dir),
      nLandmarks = LmCount, rounds = LmRounds, seed = MisSeed)
      .groupBy("landmark").agg(max(col("dist")).as("ecc"), count(lit(1)).as("reached"))
      .agg(count(lit(1)).as("n_landmarks"),
        max(col("ecc")).as("diameter_lower_bound"),
        min(col("ecc")).as("radius_upper_bound"),
        sum(col("reached")).cast("long").as("n_reached_pairs"))

  private def landmarkOracleSql(ringSize: Int, n: Int, rounds: Int, seed: Long,
      finalSelect: String = ""): String = {
    val sb = new StringBuilder
    sb ++= s"""WITH ringed AS (
              |  SELECT CAST(s_suppkey AS BIGINT) AS sk, CAST(s_nationkey AS BIGINT) AS nk,
              |    (row_number() OVER (PARTITION BY s_nationkey ORDER BY s_suppkey) - 1) // $ringSize AS bk
              |  FROM supplier),
              |ring_edges AS (
              |  SELECT sk AS src,
              |    COALESCE(lead(sk) OVER (PARTITION BY nk, bk ORDER BY sk),
              |             first_value(sk) OVER (PARTITION BY nk, bk ORDER BY sk)) AS dst
              |  FROM ringed),
              |mins AS (SELECT nk, bk, MIN(sk) AS msk FROM ringed GROUP BY nk, bk),
              |hub AS (SELECT nk AS hnk, bk AS hbk, msk AS hsk FROM mins ORDER BY nk, bk LIMIT 1),
              |edges AS (
              |  SELECT src, dst FROM (
              |    SELECT src, dst FROM ring_edges
              |    UNION ALL
              |    SELECT h.hsk, m.msk FROM mins m, hub h WHERE NOT (m.nk = h.hnk AND m.bk = h.hbk))
              |  WHERE src <> dst),
              |und AS MATERIALIZED (
              |  SELECT src AS u, dst AS v FROM (
              |    SELECT src, dst FROM edges UNION SELECT dst, src FROM edges)
              |  WHERE src <> dst),
              |lm AS MATERIALIZED (SELECT u AS landmark FROM (
              |  SELECT u, ('0x' || substring(md5('$seed:' || CAST(u AS VARCHAR)), 1, 15))::BIGINT AS p
              |  FROM (SELECT DISTINCT u FROM und))
              |  ORDER BY p, u LIMIT $n),
              |d0 AS MATERIALIZED (
              |  SELECT landmark AS vid, landmark, CAST(0 AS BIGINT) AS dist FROM lm)""".stripMargin
    (1 to rounds).foreach { i =>
      sb ++= s""",
                |d$i AS MATERIALIZED (SELECT vid, landmark, MIN(dist) AS dist FROM (
                |  SELECT vid, landmark, dist FROM d${i - 1}
                |  UNION ALL
                |  SELECT und.v, d.landmark, d.dist + 1 FROM und JOIN d${i - 1} d ON d.vid = und.u)
                |  GROUP BY vid, landmark)""".stripMargin
    }
    sb ++= "\n" + (if (finalSelect.nonEmpty) finalSelect
      else s"SELECT vid AS s_suppkey, landmark, dist FROM d$rounds")
    sb.toString
  }

  /** Jones–Plassmann greedy coloring over the cyclic fixture (the
    * bounded-degree graph where JP's ready-fraction is ~⅓/round; on the
    * dense unified graph 16 rounds color only ~30% — probed, the known
    * JP shape): 12 rounds converge at every SF (10 probed), 4 colors. */
  def jpColoring(s: SparkSession, dir: String): DataFrame =
    graft.operators.Mis.jpColoring(sccFixtureEdges(s, dir),
      rounds = JpRounds, seed = MisSeed)
      .select(col("vid").as("s_suppkey"), col("color"))

  private val JpRounds = 12

  private def jpOracleSql(ringSize: Int, rounds: Int, seed: Long): String = {
    val sb = new StringBuilder
    sb ++= s"""WITH ringed AS (
              |  SELECT CAST(s_suppkey AS BIGINT) AS sk, CAST(s_nationkey AS BIGINT) AS nk,
              |    (row_number() OVER (PARTITION BY s_nationkey ORDER BY s_suppkey) - 1) // $ringSize AS bk
              |  FROM supplier),
              |ring_edges AS (
              |  SELECT sk AS src,
              |    COALESCE(lead(sk) OVER (PARTITION BY nk, bk ORDER BY sk),
              |             first_value(sk) OVER (PARTITION BY nk, bk ORDER BY sk)) AS dst
              |  FROM ringed),
              |mins AS (SELECT nk, bk, MIN(sk) AS msk FROM ringed GROUP BY nk, bk),
              |hub AS (SELECT nk AS hnk, bk AS hbk, msk AS hsk FROM mins ORDER BY nk, bk LIMIT 1),
              |edges AS (
              |  SELECT src, dst FROM (
              |    SELECT src, dst FROM ring_edges
              |    UNION ALL
              |    SELECT h.hsk, m.msk FROM mins m, hub h WHERE NOT (m.nk = h.hnk AND m.bk = h.hbk))
              |  WHERE src <> dst),
              |und AS MATERIALIZED (
              |  SELECT src AS u, dst AS v FROM (
              |    SELECT src, dst FROM edges UNION SELECT dst, src FROM edges)
              |  WHERE src <> dst),
              |unc0 AS MATERIALIZED (
              |  SELECT u, ('0x' || substring(md5('$seed:' || CAST(u AS VARCHAR)), 1, 15))::BIGINT AS p
              |  FROM (SELECT DISTINCT u FROM und)),
              |col0 AS (SELECT CAST(NULL AS BIGINT) AS vid, CAST(NULL AS BIGINT) AS color WHERE FALSE)""".stripMargin
    (1 to rounds).foreach { i =>
      sb ++= s""",
                |blocked$i AS (SELECT DISTINCT und.u FROM und
                |  JOIN unc${i - 1} a ON a.u = und.u JOIN unc${i - 1} b ON b.u = und.v
                |  WHERE b.p > a.p OR (b.p = a.p AND und.v > und.u)),
                |ready$i AS MATERIALIZED (SELECT a.u FROM unc${i - 1} a
                |  WHERE NOT EXISTS (SELECT 1 FROM blocked$i x WHERE x.u = a.u)),
                |nbrc$i AS (SELECT DISTINCT und.u, c.color AS c FROM und
                |  JOIN ready$i r ON r.u = und.u JOIN col${i - 1} c ON c.vid = und.v),
                |gaps$i AS (SELECT u,
                |    COALESCE(MIN(CASE WHEN c <> rn - 1 THEN rn - 1 END), COUNT(*)) AS color
                |  FROM (SELECT u, c, row_number() OVER (PARTITION BY u ORDER BY c) AS rn FROM nbrc$i)
                |  GROUP BY u),
                |col$i AS MATERIALIZED (
                |  SELECT vid, color FROM col${i - 1}
                |  UNION ALL
                |  SELECT r.u, CAST(COALESCE(g.color, 0) AS BIGINT)
                |  FROM ready$i r LEFT JOIN gaps$i g ON g.u = r.u),
                |unc$i AS MATERIALIZED (SELECT a.u, a.p FROM unc${i - 1} a
                |  WHERE NOT EXISTS (SELECT 1 FROM ready$i r WHERE r.u = a.u))""".stripMargin
    }
    sb ++= s"""
              |SELECT vid AS s_suppkey, color FROM col$rounds
              |UNION ALL
              |SELECT -1, CAST(COUNT(*) AS BIGINT) FROM unc$rounds HAVING COUNT(*) > 0""".stripMargin
    sb.toString
  }

  /** Luby MIS over the unified graph with derandomized md5 priorities:
    * 8 rounds converge at every gate SF (4 used at sf0.1, probed); the
    * sentinel row would surface an unfinished run. */
  def misQuery(s: SparkSession, dir: String): DataFrame = {
    val g = graft.model.TpchGraph.load(s, dir)
    val (edges, _) = GraphAnalytics.unifiedEdges(g)
    graft.operators.Mis.maximalIndependentSet(edges, rounds = MisRounds, seed = MisSeed)
  }

  private val MisRounds = 8
  private val MisSeed = 7L

  private def misOracleSql(rounds: Int, seed: Long): String = {
    val sb = new StringBuilder
    sb ++= s"WITH e AS (\n$WeightedEdgesSql\n),\n"
    sb ++= s"""und AS MATERIALIZED (SELECT DISTINCT u, v FROM (
              |  SELECT src AS u, dst AS v FROM e WHERE src <> dst
              |  UNION ALL SELECT dst AS u, src AS v FROM e WHERE src <> dst)),
              |a0 AS MATERIALIZED (
              |  SELECT u, ('0x' || substring(md5('$seed:' || CAST(u AS VARCHAR)), 1, 15))::BIGINT AS p
              |  FROM (SELECT DISTINCT u FROM und))""".stripMargin
    (1 to rounds).foreach { i =>
      // selection = no active neighbor with lexicographically smaller
      // (p, vid) — the same tie-break the Scala side applies, so a
      // priority collision resolves identically in both engines
      sb ++= s""",
                |s$i AS MATERIALIZED (SELECT a.u FROM a${i - 1} a
                |  WHERE NOT EXISTS (SELECT 1 FROM und JOIN a${i - 1} b ON b.u = und.v
                |    WHERE und.u = a.u
                |      AND (b.p < a.p OR (b.p = a.p AND b.u < a.u)))),
                |a$i AS MATERIALIZED (SELECT a.u, a.p FROM a${i - 1} a
                |  WHERE NOT EXISTS (SELECT 1 FROM s$i s WHERE s.u = a.u)
                |    AND NOT EXISTS (SELECT 1 FROM und e2 JOIN s$i s ON s.u = e2.u
                |                    WHERE e2.v = a.u))""".stripMargin
    }
    val union = (1 to rounds).map(i =>
      s"SELECT u AS vid, CAST($i AS BIGINT) AS mis_round FROM s$i").mkString("\nUNION ALL ")
    sb ++= s"""
              |$union
              |UNION ALL
              |SELECT -1, CAST(COUNT(*) AS BIGINT) FROM a$rounds HAVING COUNT(*) > 0""".stripMargin
    sb.toString
  }

  /** Butterfly statistics of the customer×part bipartite graph (edges
    * via orders⋈lineitem, parts capped to < 2000 so the oracle's wedge
    * join stays bounded at every SF). */
  def butterflies(s: SparkSession, dir: String): DataFrame =
    graft.operators.Butterflies.globalCount(
      butterflyEdges(s, dir), "l", "r")

  /** Per-customer butterfly participation over the same bipartite
    * projection. */
  def butterflyVertices(s: SparkSession, dir: String): DataFrame =
    graft.operators.Butterflies.perLeftVertex(
      butterflyEdges(s, dir), "l", "r")
      .select(col("vid").as("c_custkey"), col("butterflies"))

  private def butterflyEdges(s: SparkSession, dir: String): DataFrame = {
    val o = graft.Tables(s, dir, "orders")
    val li = graft.Tables(s, dir, "lineitem").where(col("l_partkey") < 2000)
    o.join(li, o("o_orderkey") === li("l_orderkey"))
      .select(col("o_custkey").as("l"), col("l_partkey").as("r"))
  }

  private val butterflyEdgeCte: String =
    """e AS (SELECT DISTINCT o.o_custkey AS l, li.l_partkey AS r
      |  FROM orders o JOIN lineitem li ON li.l_orderkey = o.o_orderkey
      |  WHERE li.l_partkey < 2000),
      |deg AS (SELECT r FROM e GROUP BY r HAVING COUNT(*) <= 10000),
      |ec AS (SELECT e.l, e.r FROM e JOIN deg USING (r)),
      |wed AS (SELECT x.l AS a, y.l AS b, COUNT(*) AS w
      |  FROM ec x JOIN ec y ON x.r = y.r AND x.l < y.l GROUP BY x.l, y.l)""".stripMargin

  private val butterfliesOracle: String =
    s"""WITH $butterflyEdgeCte
       |SELECT (SELECT COUNT(*) FROM ec) AS n_edges,
       |  CAST(COALESCE(SUM(w), 0) AS BIGINT) AS n_wedges,
       |  CAST(COALESCE(SUM((w * (w - 1)) // 2), 0) AS BIGINT) AS n_butterflies
       |FROM wed""".stripMargin

  private val butterflyVerticesOracle: String =
    s"""WITH $butterflyEdgeCte
       |SELECT vid AS c_custkey, CAST(SUM(bf) AS BIGINT) AS butterflies FROM (
       |  SELECT a AS vid, (w * (w - 1)) // 2 AS bf FROM wed
       |  UNION ALL
       |  SELECT b, (w * (w - 1)) // 2 FROM wed)
       |GROUP BY vid HAVING SUM(bf) > 0""".stripMargin

  /** WL color refinement over the cyclic fixture (rings + hub bridges):
    * 3 rounds separate the hub, its bridge targets, near-bridge ring
    * vertices and interior ring vertices by neighborhood-tree shape —
    * every round's 60-bit md5 relabeling replays as a chained CTE. */
  def wlColors(s: SparkSession, dir: String): DataFrame =
    graft.operators.WlRefinement.wlColors(sccFixtureEdges(s, dir), WlRounds)
      .select(col("vid").as("s_suppkey"), col("color"))

  private val WlRounds = 3

  /** The WL-kernel feature map over the same fixture: color → vertex
    * count. Two graphs' histograms join on color for the kernel
    * product (colors are cross-graph-comparable by construction). */
  def wlHistogram(s: SparkSession, dir: String): DataFrame =
    graft.operators.WlRefinement.wlHistogram(sccFixtureEdges(s, dir), WlRounds)

  private def wlHistogramOracleSql(ringSize: Int, rounds: Int): String =
    wlOracleSql(ringSize, rounds, finalSelect =
      s"SELECT color, COUNT(*) AS n_vertices FROM c$rounds GROUP BY color")

  private def wlOracleSql(ringSize: Int, rounds: Int, finalSelect: String = ""): String = {
    val rds = (1 to rounds).map { t =>
      s"""c$t AS MATERIALIZED (
         |  SELECT u.src AS vid,
         |    ('0x' || substring(md5(CAST(c.color AS VARCHAR) || '|' ||
         |      array_to_string(list(cn.color ORDER BY cn.color), ',')), 1, 15))::BIGINT AS color
         |  FROM und u JOIN c${t - 1} cn ON cn.vid = u.dst JOIN c${t - 1} c ON c.vid = u.src
         |  GROUP BY u.src, c.color)""".stripMargin
    }.mkString(",\n")
    s"""WITH ringed AS (
       |  SELECT CAST(s_suppkey AS BIGINT) AS sk, CAST(s_nationkey AS BIGINT) AS nk,
       |    (row_number() OVER (PARTITION BY s_nationkey ORDER BY s_suppkey) - 1) // $ringSize AS bk
       |  FROM supplier),
       |ring_edges AS (
       |  SELECT sk AS src,
       |    COALESCE(lead(sk) OVER (PARTITION BY nk, bk ORDER BY sk),
       |             first_value(sk) OVER (PARTITION BY nk, bk ORDER BY sk)) AS dst
       |  FROM ringed),
       |mins AS (SELECT nk, bk, MIN(sk) AS msk FROM ringed GROUP BY nk, bk),
       |hub AS (SELECT nk AS hnk, bk AS hbk, msk AS hsk FROM mins ORDER BY nk, bk LIMIT 1),
       |edges AS (
       |  SELECT src, dst FROM (
       |    SELECT src, dst FROM ring_edges
       |    UNION ALL
       |    SELECT h.hsk, m.msk FROM mins m, hub h WHERE NOT (m.nk = h.hnk AND m.bk = h.hbk))
       |  WHERE src <> dst),
       |und AS MATERIALIZED (
       |  SELECT src, dst FROM (
       |    SELECT src, dst FROM edges UNION SELECT dst, src FROM edges)
       |  WHERE src <> dst),
       |c0 AS MATERIALIZED (
       |  SELECT src AS vid, CAST(COUNT(*) AS BIGINT) AS color FROM und GROUP BY src),
       |$rds
       |${if (finalSelect.nonEmpty) finalSelect else s"SELECT vid AS s_suppkey, color FROM c$rounds"}""".stripMargin
  }

  /** HyperANF over the same cyclic fixture SCC uses — rings give every
    * vertex a genuine multi-hop ball and the hub bridges give a few
    * vertices large ones, so the NF(t) curve actually climbs. The exact
    * side is a bounded closure replay for the oracle comparison ONLY
    * (fixture reach sets are ring-sized); [[GraphAnalytics.hyperAnf]]
    * itself never materializes pairs — that is its point at scale. */
  def hyperAnf(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = sccFixtureEdges(s, dir).where(col("src") =!= col("dst"))
      .distinct().localCheckpoint(true)
    val approx = GraphAnalytics.hyperAnf(e, AnfRounds)
    // the exact side is oracle-comparison-only and fixture-sized BY
    // CONTRACT (ring-sized reach sets); under the cap the bounded
    // closure is a driver BFS over the [[LocalGraph]] — set semantics,
    // value-identical to the distributed per-round distinct/count loop
    // (which pays ~3 jobs + an eager checkpoint per round on
    // metadata-sized frames)
    val exact: Seq[(Int, Long)] = localFixture(e) match {
      case Some(g) =>
        val counts = new Array[Long](AnfRounds + 1)
        (0 until g.numVertices).foreach { a =>
          val reach = new java.util.HashSet[Int]()
          reach.add(a)
          var frontier = List(a)
          counts(0) += 1
          (1 to AnfRounds).foreach { t =>
            val next = scala.collection.mutable.ListBuffer.empty[Int]
            frontier.foreach(v => g.foreachNbr(v) { w =>
              if (reach.add(w)) next += w
            })
            frontier = next.toList
            counts(t) += reach.size.toLong
          }
        }
        (0 to AnfRounds).map(t => (t, counts(t)))
      case None =>
        val verts = e.select(col("src").as("a")).unionAll(e.select(col("dst").as("a"))).distinct()
        var pairs = verts.select(col("a"), col("a").as("b")).localCheckpoint(true)
        val acc = scala.collection.mutable.ListBuffer((0, pairs.count()))
        (1 to AnfRounds).foreach { t =>
          pairs = pairs.unionAll(
            e.join(pairs, e("dst") === pairs("a")).select(e("src").as("a"), pairs("b")))
            .distinct().localCheckpoint(true)
          acc += ((t, pairs.count()))
        }
        acc.toSeq
    }
    approx
      // micro-units: the decimal total is exact, so ×1e6 → BIGINT is the
      // engine-portable all-integer form (the fixed-point PageRank trick)
      .select(col("t"), (col("approx_pairs") * lit(1000000)).cast("long")
        .as("approx_pairs_micro"))
      .join(exact.toDF("t", "exact_pairs"), Seq("t"))
  }

  /** The fixture's directed edges as a [[LocalGraph]] under the
    * wide-state cap (per-source closures), for the exact-closure sides;
    * past it the distributed loops run. */
  private def localFixture(e: DataFrame): Option[LocalGraph] =
    LocalGraph.collect(e, LocalGraph.WideStateCap, undirected = false)

  /** Effective diameter (90%, linearly interpolated) and mean distance
    * from the HyperANF curve — the graph-shape statistics the
    * neighborhood function exists to answer (Boldi–Vigna's headline
    * numbers), derived WITHOUT any pairs table. All arithmetic stays in
    * integer micro-units; the threshold test is the cross-multiplied
    * `10·NF(t) ≥ 9·NF(T)` (no integer division, no rounding), and the
    * only floating ops are the two final single divisions — portable by
    * IEEE correct rounding. The 11-row curve is collected to the driver
    * (it is already a global aggregate; the propagation ran distributed). */
  def anfSummary(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = sccFixtureEdges(s, dir).where(col("src") =!= col("dst"))
      .distinct().localCheckpoint(true)
    val curve = GraphAnalytics.hyperAnf(e, AnfRounds)
      .select(col("t"), (col("approx_pairs") * lit(1000000)).cast("long").as("m"))
      .orderBy("t").as[(Int, Long)].collect()
    val m = curve.map(_._2)
    val nf0 = m.head
    val nfT = m.last
    val avgDistance =
      if (nfT > nf0)
        m.indices.drop(1).map(t => t.toLong * (m(t) - m(t - 1))).sum.toDouble /
          (nfT - nf0).toDouble
      else 0.0
    val ts = m.indices.find(t => 10L * m(t) >= 9L * nfT).get // t=T always satisfies
    val effDiameter =
      if (ts == 0) 0.0
      else (ts - 1).toDouble +
        (9L * nfT - 10L * m(ts - 1)).toDouble / (10L * (m(ts) - m(ts - 1))).toDouble
    Seq((nfT, avgDistance, effDiameter))
      .toDF("nf_final_micro", "avg_distance", "eff_diameter_90")
  }

  /** HyperBall harmonic centrality on the fixture, next to the EXACT
    * truncated harmonic centrality at the same horizon (min-distance
    * closure — fixture-sized, oracle-comparison only). `h_scaled_micro`
    * is the sketch value ×2520·10⁶, `exact_h_scaled` the true value
    * ×2520 — both all-integer, both inside the hash gate. */
  def harmonic(s: SparkSession, dir: String): DataFrame = {
    val e = sccFixtureEdges(s, dir).where(col("src") =!= col("dst"))
      .distinct().localCheckpoint(true)
    val approx = GraphAnalytics.hyperBallHarmonic(e, AnfRounds)
    // exact side localized under the same cap and argument as
    // [[hyperAnf]]'s: min-distance BFS ≡ the per-round min-t fold, and
    // HarmonicScale = LCM(1..10) keeps every 2520 div t term exact in
    // both formulations
    val exact: DataFrame = localFixture(e) match {
      case Some(g) =>
        val scores = (0 until g.numVertices).map { a =>
          val seen = new java.util.HashSet[Int]()
          seen.add(a)
          var frontier = List(a)
          var h = 0L
          (1 to AnfRounds).foreach { t =>
            val next = scala.collection.mutable.ListBuffer.empty[Int]
            frontier.foreach(v => g.foreachNbr(v) { w =>
              if (seen.add(w)) next += w
            })
            h += (GraphAnalytics.HarmonicScale / t) * next.size
            frontier = next.toList
          }
          h
        }.toArray
        val scored = scores.indices.filter(scores(_) != 0L).toArray
        org.apache.spark.sql.graft.DatasetBridge.arrayFrame(s,
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("vid", g.vidType),
            org.apache.spark.sql.types.StructField("exact_h_scaled",
              org.apache.spark.sql.types.LongType))), Seq(scored.map(g.vids), scored.map(scores)))
      case None =>
        var pairs = e.select(col("src").as("a")).unionAll(e.select(col("dst").as("a")))
          .distinct().select(col("a"), col("a").as("b"), lit(0).as("t"))
          .localCheckpoint(true)
        (1 to AnfRounds).foreach { t =>
          pairs = pairs.unionAll(
            e.join(pairs, e("dst") === pairs("a"))
              .select(e("src").as("a"), pairs("b"), lit(t).as("t")))
            .groupBy("a", "b").agg(min(col("t")).as("t")).localCheckpoint(true)
        }
        pairs.where(col("t") >= 1)
          .select(col("a").as("vid"), col("t"))
          .groupBy("vid")
          .agg(sum(expr(s"${GraphAnalytics.HarmonicScale} div t")).cast("long").as("exact_h_scaled"))
    }
    approx.join(exact, Seq("vid"), "left")
      .select(col("vid").as("s_suppkey"), col("h_scaled").as("h_scaled_micro"),
        coalesce(col("exact_h_scaled"), lit(0L)).as("exact_h_scaled"))
  }

  /** The SCC oracle needs no round replay: SCC output is trajectory-
    * independent (unlike fixed-point PageRank), so DuckDB derives the
    * same fixture edges and checks the DEFINITION — scc_id(v) = min{u :
    * v↔u mutually reachable} via a recursive-CTE transitive closure.
    * Quadratic closure is oracle-side only; the fixture's reach sets are
    * ring-sized (~16k pairs at sf0.1). */
  private def sccOracleSql(ringSize: Int): String =
    s"""WITH RECURSIVE ringed AS (
       |  SELECT CAST(s_suppkey AS BIGINT) AS sk, CAST(s_nationkey AS BIGINT) AS nk,
       |    (row_number() OVER (PARTITION BY s_nationkey ORDER BY s_suppkey) - 1) // $ringSize AS bk
       |  FROM supplier),
       |ring_edges AS (
       |  SELECT sk AS src,
       |    COALESCE(lead(sk) OVER (PARTITION BY nk, bk ORDER BY sk),
       |             first_value(sk) OVER (PARTITION BY nk, bk ORDER BY sk)) AS dst
       |  FROM ringed),
       |mins AS (SELECT nk, bk, MIN(sk) AS msk FROM ringed GROUP BY nk, bk),
       |hub AS (SELECT nk AS hnk, bk AS hbk, msk AS hsk FROM mins ORDER BY nk, bk LIMIT 1),
       |edges AS (
       |  SELECT src, dst FROM (
       |    SELECT src, dst FROM ring_edges
       |    UNION ALL
       |    SELECT h.hsk, m.msk FROM mins m, hub h WHERE NOT (m.nk = h.hnk AND m.bk = h.hbk))
       |  WHERE src <> dst),
       |verts AS (SELECT src AS v FROM edges UNION SELECT dst FROM edges),
       |reach AS (
       |  SELECT v AS a, v AS b FROM verts
       |  UNION
       |  SELECT r.a, e.dst FROM reach r JOIN edges e ON e.src = r.b)
       |SELECT r1.a AS s_suppkey, MIN(r1.b) AS scc_id
       |FROM reach r1 JOIN reach r2 ON r2.a = r1.b AND r2.b = r1.a
       |GROUP BY r1.a""".stripMargin

  /** Replays the WHOLE HyperANF run: fixture edges (same derivation as
    * the SCC oracle), the singleton-ball registers via the portable md5
    * hash, `rounds` chained register-max CTEs (the ball union), the
    * per-vertex HLL estimates (HUGEINT harmonic sums, the identical
    * α·m²·2^60 double literal, linear-counting branch), the exact
    * DECIMAL(38,6) totals, AND the exact closure counts they are
    * compared against — estimates inside the hash gate, as with every
    * graft sketch. */
  /** Shared oracle prefix for the HyperBall family: the SCC fixture edge
    * derivation, the vertex set, and `rounds` chained MATERIALIZED
    * register-max CTEs r0..r{rounds} (plain CTEs referencing their
    * predecessor twice would inline EXPONENTIALLY — 2^rounds scans). */
  private def anfPrefixSql(ringSize: Int, rounds: Int): String = {
    val regRounds = (1 to rounds).map { t =>
      s"""r$t AS MATERIALIZED (SELECT vid, bucket, MAX(register) AS register FROM (
         |    SELECT vid, bucket, register FROM r${t - 1}
         |    UNION ALL
         |    SELECT e.src AS vid, r.bucket, r.register
         |    FROM r${t - 1} r JOIN edges e ON e.dst = r.vid)
         |  GROUP BY 1, 2)""".stripMargin
    }.mkString(",\n")
    s"""WITH ringed AS (
       |  SELECT CAST(s_suppkey AS BIGINT) AS sk, CAST(s_nationkey AS BIGINT) AS nk,
       |    (row_number() OVER (PARTITION BY s_nationkey ORDER BY s_suppkey) - 1) // $ringSize AS bk
       |  FROM supplier),
       |ring_edges AS (
       |  SELECT sk AS src,
       |    COALESCE(lead(sk) OVER (PARTITION BY nk, bk ORDER BY sk),
       |             first_value(sk) OVER (PARTITION BY nk, bk ORDER BY sk)) AS dst
       |  FROM ringed),
       |mins AS (SELECT nk, bk, MIN(sk) AS msk FROM ringed GROUP BY nk, bk),
       |hub AS (SELECT nk AS hnk, bk AS hbk, msk AS hsk FROM mins ORDER BY nk, bk LIMIT 1),
       |edges AS MATERIALIZED (
       |  SELECT src, dst FROM (
       |    SELECT src, dst FROM ring_edges
       |    UNION ALL
       |    SELECT h.hsk, m.msk FROM mins m, hub h WHERE NOT (m.nk = h.hnk AND m.bk = h.hbk))
       |  WHERE src <> dst),
       |verts AS MATERIALIZED (SELECT src AS v FROM edges UNION SELECT dst FROM edges),
       |r0 AS MATERIALIZED (
       |  SELECT v AS vid, h % 256 AS bucket,
       |    MAX(CASE WHEN h >> 8 = 0 THEN 53
       |        ELSE 53 - length(ltrim(bin(h >> 8), '0')) END) AS register
       |  FROM (SELECT v, ('0x' || substring(md5(CAST(v AS VARCHAR)), 1, 15))::BIGINT AS h
       |    FROM verts)
       |  GROUP BY 1, 2),
       |$regRounds""".stripMargin
  }

  /** Union of per-round NF totals in micro-units: (t, m) — shared by the
    * hyperAnf and anf-summary oracles. */
  private def anfCurveSelects(rounds: Int): String = {
    val numer = graft.operators.Sketches.hllNumer(8)
    (0 to rounds).map { t =>
      s"""SELECT CAST($t AS INTEGER) AS t,
         |    CAST(COALESCE(SUM(CAST(round(
         |      CASE WHEN v > 0 AND $numer / CAST(s_total AS DOUBLE) <= 640.0
         |        THEN 256.0 * ln(256.0 / v)
         |        ELSE $numer / CAST(s_total AS DOUBLE) END, 6) AS DECIMAL(38,6))), 0)
         |      * 1000000 AS BIGINT) AS m
         |  FROM (SELECT vid,
         |      COALESCE(SUM(1::BIGINT << (60 - register)), 0)
         |        + (256 - COUNT(*))::HUGEINT * (1::BIGINT << 60) AS s_total,
         |      256 - COUNT(*) AS v
         |    FROM r$t GROUP BY vid)""".stripMargin
    }.mkString("\n  UNION ALL ")
  }

  private def hyperAnfOracleSql(ringSize: Int, rounds: Int): String = {
    val pairRounds = (1 to rounds).map { t =>
      s"""p$t AS MATERIALIZED (SELECT DISTINCT a, b FROM (
         |    SELECT a, b FROM p${t - 1}
         |    UNION ALL
         |    SELECT e.src AS a, p.b FROM p${t - 1} p JOIN edges e ON e.dst = p.a))""".stripMargin
    }.mkString(",\n")
    val ests = anfCurveSelects(rounds)
    val exacts = (0 to rounds).map { t =>
      s"SELECT CAST($t AS INTEGER) AS t, COUNT(*) AS exact_pairs FROM p$t"
    }.mkString("\n  UNION ALL ")
    s"""${anfPrefixSql(ringSize, rounds)},
       |p0 AS MATERIALIZED (SELECT v AS a, v AS b FROM verts),
       |$pairRounds,
       |est AS (
       |  $ests),
       |ex AS (
       |  $exacts)
       |SELECT est.t, est.m AS approx_pairs_micro, ex.exact_pairs
       |FROM est JOIN ex USING (t)""".stripMargin
  }

  /** Replays the curve then the summary statistics: cross-multiplied 90%
    * threshold (`10·m ≥ 9·NF(T)` — all-integer), then the two single
    * IEEE divisions for interpolation and mean distance. */
  private def anfSummaryOracleSql(ringSize: Int, rounds: Int): String =
    s"""${anfPrefixSql(ringSize, rounds)},
       |curve AS MATERIALIZED (
       |  ${anfCurveSelects(rounds)}),
       |agg AS (SELECT (SELECT m FROM curve WHERE t = $rounds) AS nft,
       |    (SELECT m FROM curve WHERE t = 0) AS nf0),
       |diffs AS (SELECT t, m, m - lag(m) OVER (ORDER BY t) AS dm FROM curve),
       |avgd AS (SELECT CAST(COALESCE(SUM(CAST(t AS BIGINT) * dm), 0) AS BIGINT) AS num
       |  FROM diffs WHERE t >= 1),
       |tstar AS (SELECT MIN(t) AS ts FROM curve, agg WHERE 10 * m >= 9 * nft),
       |lohi AS (SELECT ts,
       |    (SELECT m FROM curve WHERE t = ts) AS m_hi,
       |    (SELECT m FROM curve WHERE t = ts - 1) AS m_lo
       |  FROM tstar)
       |SELECT agg.nft AS nf_final_micro,
       |  CASE WHEN agg.nft > agg.nf0
       |    THEN CAST(avgd.num AS DOUBLE) / CAST(agg.nft - agg.nf0 AS DOUBLE)
       |    ELSE 0.0 END AS avg_distance,
       |  CASE WHEN lohi.ts = 0 THEN 0.0
       |    ELSE CAST(lohi.ts - 1 AS DOUBLE)
       |      + CAST(9 * agg.nft - 10 * lohi.m_lo AS DOUBLE)
       |        / CAST(10 * (lohi.m_hi - lohi.m_lo) AS DOUBLE)
       |    END AS eff_diameter_90
       |FROM agg, avgd, lohi""".stripMargin

  /** Replays the HyperBall harmonic run end to end: the shared register
    * rounds, per-(vid, t) micro-unit estimates, the lag-window ball
    * differences with exact integer 1/t weights (2520 // t), and the
    * exact min-distance closure it is compared against. */
  private def harmonicOracleSql(ringSize: Int, rounds: Int): String = {
    val numer = graft.operators.Sketches.hllNumer(8)
    val scale = graft.operators.GraphAnalytics.HarmonicScale
    val ests = (0 to rounds).map { t =>
      s"""SELECT vid, CAST($t AS INTEGER) AS t,
         |    CAST(CAST(round(
         |      CASE WHEN v > 0 AND $numer / CAST(s_total AS DOUBLE) <= 640.0
         |        THEN 256.0 * ln(256.0 / v)
         |        ELSE $numer / CAST(s_total AS DOUBLE) END, 6) AS DECIMAL(32,6))
         |      * 1000000 AS BIGINT) AS m
         |  FROM (SELECT vid,
         |      COALESCE(SUM(1::BIGINT << (60 - register)), 0)
         |        + (256 - COUNT(*))::HUGEINT * (1::BIGINT << 60) AS s_total,
         |      256 - COUNT(*) AS v
         |    FROM r$t GROUP BY vid)""".stripMargin
    }.mkString("\n  UNION ALL ")
    val distRounds = (1 to rounds).map { t =>
      s"""pd$t AS MATERIALIZED (SELECT a, b, MIN(t) AS t FROM (
         |    SELECT a, b, t FROM pd${t - 1}
         |    UNION ALL
         |    SELECT e.src AS a, p.b, $t AS t
         |    FROM pd${t - 1} p JOIN edges e ON e.dst = p.a)
         |  GROUP BY a, b)""".stripMargin
    }.mkString(",\n")
    s"""${anfPrefixSql(ringSize, rounds)},
       |estv AS (
       |  $ests),
       |diff AS (SELECT vid, t,
       |    m - lag(m) OVER (PARTITION BY vid ORDER BY t) AS dm
       |  FROM estv),
       |appr AS (SELECT vid,
       |    CAST(COALESCE(SUM(dm * ($scale // t)), 0) AS BIGINT) AS h_scaled_micro
       |  FROM diff WHERE t >= 1 GROUP BY vid),
       |pd0 AS MATERIALIZED (SELECT v AS a, v AS b, 0 AS t FROM verts),
       |$distRounds,
       |ex AS (SELECT a AS vid, CAST(SUM($scale // t) AS BIGINT) AS exact_h_scaled
       |  FROM pd$rounds WHERE t >= 1 GROUP BY a)
       |SELECT appr.vid AS s_suppkey, appr.h_scaled_micro,
       |  COALESCE(ex.exact_h_scaled, 0) AS exact_h_scaled
       |FROM appr LEFT JOIN ex USING (vid)""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "g_scc" -> (scc _),
    "g_wl_colors" -> (wlColors _),
    "g_wl_histogram" -> (wlHistogram _),
    "g_butterflies" -> (butterflies _),
    "g_coreness" -> (corenessQuery _),
    "g_mis" -> (misQuery _),
    "g_coloring" -> (jpColoring _),
    "g_landmark_dist" -> (landmarkDist _),
    "g_graph_radius" -> (graphRadius _),
    "g_butterfly_vertices" -> (butterflyVertices _),
    "g_hyperanf" -> (hyperAnf _),
    "g_anf_summary" -> (anfSummary _),
    "g_harmonic" -> (harmonic _),
    "g_pagerank" -> (pagerank _),
    "g_connected_components" -> (connectedComponents _),
    "g_cc_generations" -> (ccGenerations _),
    "g_triangles" -> (triangles _),
    "g_label_propagation" -> (labelPropagation _),
    "g_degree_distribution" -> (degreeDistribution _),
    "g_bfs_distances" -> (bfsDistances _),
    "g_kcore" -> (kCore _),
    "g_sssp" -> (sssp _),
    "g_random_walks" -> (randomWalks _),
    "g_biased_walks" -> (biasedWalks _),
    "g_skipgram" -> (skipgram _),
    "g_negative_samples" -> (negativeSamples _),
    "g_ktruss" -> (kTruss _),
    "g_pagerank_weighted" -> (pagerankWeighted _),
    "g_clustering_coeff" -> (clusteringCoeff _),
    "g_assortativity" -> (assortativity _),
    "g_hits" -> (hits _),
    "g_link_features" -> (linkFeatures _),
    "g_ppr" -> (ppr _),
    "g_skew_pagerank" -> (skewPagerank _),
    "g_skew_cc" -> (skewCc _),
    "g_modularity" -> (modularityCommunities _),
    "g_modularity_l2" -> (modularityCommunitiesL2 _),
    "g_modularity_score" -> (modularityScore _),
    "g_betweenness" -> (betweenness _),
    "g_katz" -> (katz _))

  // Global vertex ids in SQL: labelIndex << 44 + key, labels sorted:
  // Customer=0 Nation=1 Order=2 Part=3 Region=4 Supplier=5 (2^44 = 17592186044416).
  private val UnifiedEdgesSql =
    """  SELECT n_nationkey + 1*17592186044416 AS src, n_regionkey + 4*17592186044416 AS dst
      |    FROM nation WHERE n_nationkey IS NOT NULL AND n_regionkey IS NOT NULL
      |  UNION ALL SELECT c_custkey, c_nationkey + 1*17592186044416
      |    FROM customer WHERE c_custkey IS NOT NULL AND c_nationkey IS NOT NULL
      |  UNION ALL SELECT s_suppkey + 5*17592186044416, s_nationkey + 1*17592186044416
      |    FROM supplier WHERE s_suppkey IS NOT NULL AND s_nationkey IS NOT NULL
      |  UNION ALL SELECT o_custkey, o_orderkey + 2*17592186044416
      |    FROM orders WHERE o_custkey IS NOT NULL AND o_orderkey IS NOT NULL
      |  UNION ALL SELECT l_orderkey + 2*17592186044416, l_partkey + 3*17592186044416
      |    FROM lineitem WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL
      |  UNION ALL SELECT l_orderkey + 2*17592186044416, l_suppkey + 5*17592186044416
      |    FROM lineitem WHERE l_orderkey IS NOT NULL AND l_suppkey IS NOT NULL""".stripMargin

  /** The LPA oracle replays labelPropagationDF's rounds as chained CTEs:
    * round i picks, per vertex, the (max count, then min community)
    * neighbor community of round i−1 — `row_number() OVER (ORDER BY n
    * DESC, community ASC)` in SQL ≡ `max(struct(n, -community))` in
    * Spark; all values are integers, so the hash comparison is exact. */
  private def lpaOracleSql(rounds: Int): String = {
    val sb = new StringBuilder
    sb ++= s"WITH e AS (\n$UnifiedEdgesSql\n), "
    sb ++= """und AS (SELECT DISTINCT u, v FROM (
             |  SELECT src AS u, dst AS v FROM e WHERE src <> dst
             |  UNION ALL SELECT dst AS u, src AS v FROM e WHERE src <> dst)),
             |l0 AS (SELECT DISTINCT u AS vid, u AS community FROM und)""".stripMargin
    (1 to rounds).foreach { i =>
      sb ++= s""",
                |c$i AS (SELECT und.u AS u, l.community AS community, count(*) AS n
                |  FROM und JOIN l${i - 1} l ON und.v = l.vid GROUP BY 1, 2),
                |l$i AS (SELECT u AS vid, community FROM (
                |  SELECT u, community,
                |    row_number() OVER (PARTITION BY u ORDER BY n DESC, community ASC) AS rn
                |  FROM c$i) WHERE rn = 1)""".stripMargin
    }
    sb ++= s"""
              |SELECT CASE vid // 17592186044416
              |    WHEN 0 THEN 'Customer' WHEN 1 THEN 'Nation' WHEN 2 THEN 'Order'
              |    WHEN 3 THEN 'Part' WHEN 4 THEN 'Region' WHEN 5 THEN 'Supplier' END AS label,
              |  vid % 17592186044416 AS node_id, community
              |FROM l$rounds""".stripMargin
    sb.toString
  }

  /** Modularity round replay: appends `m2`/`s0` and per-round
    * `v`/`a`/`g`/`s` CTEs on top of an `und` CTE already in scope
    * (symmetric distinct doubled edges, u <> v) — mirroring
    * [[GraphAnalytics.modularityCommunitiesDF]]'s integer gain algebra
    * term for term; DuckDB's HUGEINT plays the operator's
    * DECIMAL(38,0). */
  private def modularityRoundCtes(rounds: Int): String = {
    val sb = new StringBuilder
    // state CTEs are MATERIALIZED: DuckDB inlines multiply-referenced
    // CTEs, and each round references s{i-1} five times (volumes, both
    // candidate branches, the gain join, the carryover) — inlined, the
    // replay re-evaluates the whole round prefix combinatorially
    // (measured: >70 GB of duckdb temp spill at sf1 before ENOSPC;
    // materialized, the replay is linear in rounds)
    sb ++= """m2 AS (SELECT CAST(COUNT(*) AS HUGEINT) AS m2 FROM und),
             |s0 AS MATERIALIZED (SELECT u AS vid, u AS community, COUNT(*) AS k FROM und GROUP BY 1, 2)""".stripMargin
    (1 to rounds).foreach { i =>
      val par = i % 2
      sb ++= s""",
                |v$i AS (SELECT community, SUM(k) AS vol FROM s${i - 1} GROUP BY 1),
                |a$i AS (SELECT u, community, SUM(w) AS w FROM (
                |  SELECT und.u AS u, s.community AS community, 1 AS w
                |  FROM und JOIN s${i - 1} s ON und.v = s.vid WHERE und.u % 2 = $par
                |  UNION ALL SELECT vid AS u, community, 0 AS w FROM s${i - 1}
                |  WHERE vid % 2 = $par) GROUP BY 1, 2),
                |g$i AS (SELECT a.u AS u, a.community AS community, s.k AS k,
                |    m2.m2 * a.w - CAST(s.k AS HUGEINT) *
                |      (v.vol - CASE WHEN a.community = s.community THEN s.k ELSE 0 END) AS gain,
                |    CASE WHEN a.community = s.community THEN 1 ELSE 0 END AS is_cur
                |  FROM a$i a JOIN s${i - 1} s ON a.u = s.vid
                |  JOIN v$i v ON v.community = a.community CROSS JOIN m2),
                |s$i AS MATERIALIZED (SELECT vid, community, k FROM (
                |    SELECT u AS vid, community, k,
                |      row_number() OVER (PARTITION BY u
                |        ORDER BY gain DESC, is_cur DESC, community ASC) AS rn
                |    FROM g$i) WHERE rn = 1
                |  UNION ALL SELECT vid, community, k FROM s${i - 1} WHERE vid % 2 <> $par)""".stripMargin
    }
    sb.toString
  }

  /** Betweenness oracle: replay the forward σ levels (labeled BFS with
    * HUGEINT path counts, NOT EXISTS = the operator's anti-join) and the
    * reverse δ accumulation (`//` = Spark's `div` — both truncate), then
    * the per-vertex dependency sum over levels 1..horizon; one
    * correctly-rounded /1e6 at the end. */
  private def betweennessOracleSql(nPivots: Int, horizon: Int, seed: Long): String = {
    val sb = new StringBuilder
    sb ++= s"""WITH e AS (
              |$UnifiedEdgesSql
              |), und AS MATERIALIZED (SELECT DISTINCT u, v FROM (
              |  SELECT src AS u, dst AS v FROM e WHERE src <> dst
              |  UNION ALL SELECT dst AS u, src AS v FROM e WHERE src <> dst)),
              |verts AS MATERIALIZED (SELECT DISTINCT u AS vid FROM und),
              |pv AS MATERIALIZED (SELECT vid AS pvt FROM (
              |  SELECT vid, ('0x' || substring(md5('$seed:' || CAST(vid AS VARCHAR)), 1, 15))::BIGINT AS p
              |  FROM verts) ORDER BY p, vid LIMIT $nPivots),
              |l0 AS (SELECT pvt AS vid, pvt, CAST(1 AS HUGEINT) AS sigma FROM pv),
              |r0 AS (SELECT vid, pvt FROM l0)""".stripMargin
    (1 to horizon).foreach { i =>
      sb ++= s""",
                |l$i AS MATERIALIZED (SELECT vid, pvt, sigma FROM (
                |  SELECT und.v AS vid, l.pvt AS pvt, SUM(l.sigma) AS sigma
                |  FROM und JOIN l${i - 1} l ON und.u = l.vid GROUP BY 1, 2) m
                |  WHERE NOT EXISTS (SELECT 1 FROM r${i - 1} r
                |    WHERE r.vid = m.vid AND r.pvt = m.pvt)),
                |r$i AS (SELECT vid, pvt FROM r${i - 1}
                |  UNION ALL SELECT vid, pvt FROM l$i)""".stripMargin
    }
    sb ++= s""",
              |d$horizon AS (SELECT vid, pvt, CAST(0 AS HUGEINT) AS delta FROM l$horizon)""".stripMargin
    (horizon to 1 by -1).foreach { i =>
      sb ++= s""",
                |c$i AS (SELECT lp.vid AS vid, lp.pvt AS pvt,
                |    SUM(lp.sigma * (1000000 + d.delta) // lw.sigma) AS dsum
                |  FROM und JOIN l$i lw ON und.v = lw.vid
                |  JOIN d$i d ON d.vid = lw.vid AND d.pvt = lw.pvt
                |  JOIN l${i - 1} lp ON lp.vid = und.u AND lp.pvt = lw.pvt
                |  GROUP BY 1, 2),
                |d${i - 1} AS (SELECT l.vid, l.pvt, COALESCE(c.dsum, CAST(0 AS HUGEINT)) AS delta
                |  FROM l${i - 1} l LEFT JOIN c$i c ON c.vid = l.vid AND c.pvt = l.pvt)""".stripMargin
    }
    sb ++= s""",
              |alld AS (${(1 to horizon).map(i => s"SELECT vid, delta FROM d$i").mkString("\n  UNION ALL ")}),
              |bc AS (SELECT vid, SUM(delta) AS bcm FROM alld GROUP BY 1)
              |SELECT CASE v.vid // 17592186044416
              |    WHEN 0 THEN 'Customer' WHEN 1 THEN 'Nation' WHEN 2 THEN 'Order'
              |    WHEN 3 THEN 'Part' WHEN 4 THEN 'Region' WHEN 5 THEN 'Supplier' END AS label,
              |  v.vid % 17592186044416 AS node_id,
              |  CAST(COALESCE(bc.bcm, 0) AS DOUBLE) / 1000000.0 AS betweenness
              |FROM verts v LEFT JOIN bc ON bc.vid = v.vid""".stripMargin
    sb.toString
  }

  private def modularityOracleSql(rounds: Int): String =
    s"""WITH e AS (
       |$UnifiedEdgesSql
       |), und AS MATERIALIZED (SELECT DISTINCT u, v FROM (
       |  SELECT src AS u, dst AS v FROM e WHERE src <> dst
       |  UNION ALL SELECT dst AS u, src AS v FROM e WHERE src <> dst)),
       |${modularityRoundCtes(rounds)}
       |SELECT CASE vid // 17592186044416
       |    WHEN 0 THEN 'Customer' WHEN 1 THEN 'Nation' WHEN 2 THEN 'Order'
       |    WHEN 3 THEN 'Part' WHEN 4 THEN 'Region' WHEN 5 THEN 'Supplier' END AS label,
       |  vid % 17592186044416 AS node_id, community
       |FROM s$rounds""".stripMargin

  /** Weighted (contracted-level) modularity rounds over a `cund` CTE
    * already in scope (u, v, w — self rows carry a super-vertex's
    * internal edge ends): the [[modularityRoundCtes]] algebra with
    * SUM(w) in place of the unit counts, self rows excluded from w(u->C)
    * (`u <> v`), and m2 carried over from level 1 (contraction preserves
    * total edge weight). State CTEs are t0..tN. */
  private def modularityWeightedRoundCtes(rounds: Int): String = {
    val sb = new StringBuilder
    sb ++= """t0 AS MATERIALIZED (SELECT u AS vid, u AS community, SUM(w) AS k FROM cund GROUP BY 1, 2)"""
    (1 to rounds).foreach { i =>
      val par = i % 2
      sb ++= s""",
                |tv$i AS (SELECT community, SUM(k) AS vol FROM t${i - 1} GROUP BY 1),
                |ta$i AS (SELECT u, community, SUM(wn) AS w FROM (
                |  SELECT cund.u AS u, t.community AS community, cund.w AS wn
                |  FROM cund JOIN t${i - 1} t ON cund.v = t.vid
                |  WHERE cund.u <> cund.v AND ${hp("cund.u")} = $par
                |  UNION ALL SELECT vid AS u, community, 0 AS wn FROM t${i - 1}
                |  WHERE ${hp("vid")} = $par) GROUP BY 1, 2),
                |tg$i AS (SELECT a.u AS u, a.community AS community, t.k AS k,
                |    m2.m2 * a.w - CAST(t.k AS HUGEINT) *
                |      (v.vol - CASE WHEN a.community = t.community THEN t.k ELSE 0 END) AS gain,
                |    CASE WHEN a.community = t.community THEN 1 ELSE 0 END AS is_cur
                |  FROM ta$i a JOIN t${i - 1} t ON a.u = t.vid
                |  JOIN tv$i v ON v.community = a.community CROSS JOIN m2),
                |t$i AS MATERIALIZED (SELECT vid, community, k FROM (
                |    SELECT u AS vid, community, k,
                |      row_number() OVER (PARTITION BY u
                |        ORDER BY gain DESC, is_cur DESC, community ASC) AS rn
                |    FROM tg$i) WHERE rn = 1
                |  UNION ALL SELECT vid, community, k FROM t${i - 1} WHERE ${hp("vid")} <> $par)""".stripMargin
    }
    sb.toString
  }

  /** The contracted-level update-class hash: the operator's
    * Dedup.md5Long("lmod:" || id) % 2 — 60-bit md5 prefix, replayed the
    * betweenness-pivot way. A SQL macro-ish string function: callers
    * interpolate `$hp(expr)`. */
  private def hp(expr: String): String =
    s"(('0x' || substring(md5('lmod:' || CAST($expr AS VARCHAR)), 1, 15))::BIGINT % 2)"

  /** Multi-level oracle: level-1 rounds (s CTEs), contraction to the
    * weighted community graph (COUNT(*) over the doubled list = the
    * operator's SUM of unit weights; self rows included), level-2
    * weighted rounds (t CTEs), then label composition. */
  private def modularityL2OracleSql(rounds: Int): String =
    s"""WITH e AS (
       |$UnifiedEdgesSql
       |), und AS MATERIALIZED (SELECT DISTINCT u, v FROM (
       |  SELECT src AS u, dst AS v FROM e WHERE src <> dst
       |  UNION ALL SELECT dst AS u, src AS v FROM e WHERE src <> dst)),
       |${modularityRoundCtes(rounds)},
       |cund AS MATERIALIZED (SELECT la.community AS u, lb.community AS v,
       |    COUNT(*) AS w
       |  FROM und JOIN s$rounds la ON und.u = la.vid
       |  JOIN s$rounds lb ON und.v = lb.vid GROUP BY 1, 2),
       |${modularityWeightedRoundCtes(rounds)}
       |SELECT CASE s.vid // 17592186044416
       |    WHEN 0 THEN 'Customer' WHEN 1 THEN 'Nation' WHEN 2 THEN 'Order'
       |    WHEN 3 THEN 'Part' WHEN 4 THEN 'Region' WHEN 5 THEN 'Supplier' END AS label,
       |  s.vid % 17592186044416 AS node_id, t.community AS community
       |FROM s$rounds s JOIN t$rounds t ON s.community = t.vid""".stripMargin

  /** Score oracle: the same rounds over the co-occurrence graph, then
    * Q = (2m·Σin − Σvol²)/(2m)² with exact HUGEINT sums and the final
    * two casts + one IEEE division + round(…, 6) — the identical op
    * sequence Spark executes on its DECIMAL sums. */
  private def modularityScoreOracleSql(rounds: Int): String =
    s"""WITH li AS (SELECT DISTINCT l_orderkey AS g, l_partkey AS item FROM lineitem),
       |sized AS (SELECT g, item FROM (
       |  SELECT g, item, count(*) OVER (PARTITION BY g) AS n FROM li) WHERE n <= 10),
       |co AS (SELECT DISTINCT a.item AS u, b.item AS v
       |  FROM sized a JOIN sized b ON a.g = b.g AND a.item < b.item),
       |und AS MATERIALIZED (SELECT u, v FROM co UNION ALL SELECT v AS u, u AS v FROM co),
       |${modularityRoundCtes(rounds)},
       |ends AS (SELECT la.community AS cu, lb.community AS cv FROM und
       |  JOIN s$rounds la ON und.u = la.vid JOIN s$rounds lb ON und.v = lb.vid),
       |perc AS (SELECT cu, CAST(COUNT(*) AS HUGEINT) AS vol,
       |  CAST(SUM(CASE WHEN cu = cv THEN 1 ELSE 0 END) AS HUGEINT) AS in_c
       |  FROM ends GROUP BY 1)
       |SELECT COUNT(*) AS n_communities,
       |  round(CAST(SUM(vol) * SUM(in_c) - SUM(vol * vol) AS DOUBLE)
       |    / CAST(SUM(vol) * SUM(vol) AS DOUBLE), 6) AS modularity
       |FROM perc""".stripMargin

  /** PageRank oracle: replay the fixed-point rounds. All arithmetic is
    * BIGINT (micro-units, integral division), so every intermediate is
    * engine-exact; the only floating-point op is the final /1e6, one
    * correctly-rounded IEEE division of an exactly-representable
    * integer. */
  private def pagerankOracleSql(rounds: Int, resetProb: Double): String =
    pagerankOracleSqlOver(UnifiedEdgesSql, rounds, resetProb,
      s"""SELECT CASE vid // 17592186044416
         |    WHEN 0 THEN 'Customer' WHEN 1 THEN 'Nation' WHEN 2 THEN 'Order'
         |    WHEN 3 THEN 'Part' WHEN 4 THEN 'Region' WHEN 5 THEN 'Supplier' END AS label,
         |  vid % 17592186044416 AS node_id,
         |  CAST(rank_micro AS DOUBLE) / 1000000.0 AS pagerank
         |FROM r$rounds""".stripMargin)

  /** [[pagerankOracleSql]] over an arbitrary integer edge list — the
    * quantized micro-unit round replay is graph-independent; the skew
    * fixture reuses it over the hub graph. */
  private def pagerankOracleSqlOver(edgesSql: String, rounds: Int,
      resetProb: Double, finalSelect: String): String = {
    val micro = 1000000L
    val resetMicro = math.round(resetProb * micro)
    val dampMicro = micro - resetMicro
    val sb = new StringBuilder
    sb ++= s"WITH e AS (\n$edgesSql\n),\n"
    sb ++= s"""deg AS (SELECT src, count(*) AS deg FROM e GROUP BY src),
              |verts AS (SELECT src AS vid FROM e UNION SELECT dst FROM e),
              |r0 AS (SELECT vid, CAST($micro AS BIGINT) AS rank_micro FROM verts)""".stripMargin
    (1 to rounds).foreach { i =>
      sb ++= s""",
                |c$i AS (SELECT e.dst AS vid,
                |  CAST(SUM(r.rank_micro // d.deg) AS BIGINT) AS in_sum
                |  FROM e JOIN r${i - 1} r ON e.src = r.vid JOIN deg d ON d.src = e.src
                |  GROUP BY e.dst),
                |r$i AS (SELECT v.vid,
                |  CAST($resetMicro + COALESCE(c.in_sum, 0) * $dampMicro // $micro AS BIGINT) AS rank_micro
                |  FROM verts v LEFT JOIN c$i c ON c.vid = v.vid)""".stripMargin
    }
    sb ++= "\n" + finalSelect
    sb.toString
  }

  /** Katz oracle: replay the fixed-point rounds — x_i(v) = 10⁶ +
    * Σ_{u→v} x_{i−1}(u) // atten. All arithmetic is BIGINT (DuckDB's
    * `//` floors ≡ Spark's `div` truncation on these non-negative
    * values; SUM(BIGINT) runs in HUGEINT, same exact integers); the
    * only floating-point op is the final /1e6 of an
    * exactly-representable integer. */
  private def katzOracleSql(rounds: Int, atten: Long): String = {
    val sb = new StringBuilder
    sb ++= s"WITH e AS (\n$UnifiedEdgesSql\n),\n"
    sb ++= """verts AS (SELECT src AS vid FROM e UNION SELECT dst FROM e),
             |x0 AS (SELECT vid, CAST(1000000 AS BIGINT) AS x FROM verts)""".stripMargin
    (1 to rounds).foreach { i =>
      sb ++= s""",
                |c$i AS (SELECT e.dst AS vid, CAST(SUM(r.x) AS BIGINT) AS in_sum
                |  FROM e JOIN x${i - 1} r ON e.src = r.vid GROUP BY e.dst),
                |x$i AS (SELECT v.vid,
                |  CAST(1000000 + COALESCE(c.in_sum, 0) // $atten AS BIGINT) AS x
                |  FROM verts v LEFT JOIN c$i c ON c.vid = v.vid)""".stripMargin
    }
    sb ++= s"""
              |SELECT CASE vid // 17592186044416
              |    WHEN 0 THEN 'Customer' WHEN 1 THEN 'Nation' WHEN 2 THEN 'Order'
              |    WHEN 3 THEN 'Part' WHEN 4 THEN 'Region' WHEN 5 THEN 'Supplier' END AS label,
              |  vid % 17592186044416 AS node_id,
              |  CAST(x AS DOUBLE) / 1000000.0 AS katz
              |FROM x$rounds""".stripMargin
    sb.toString
  }

  /** CC oracle: replay `rounds` alternating large-star/small-star rounds
    * (DataFramePregel's exact per-round algebra — min-neighbor attach,
    * canonical shrink). The round count is data-dependent in the engine
    * (it stops at the fixpoint, or solves locally via union-find), but a
    * star round applied AT the fixpoint is the identity, so replaying a
    * generous fixed count ≥ the convergence point yields the identical
    * (child → min-id root) assignment; 16 rounds is ~3x the measured
    * convergence of the sf graphs (O(log n) bound). All integers —
    * hash-exact. */
  private def ccOracleSql(rounds: Int): String =
    ccOracleSqlOver(UnifiedEdgesSql, rounds,
      s"""SELECT CASE a.vid // 17592186044416
         |    WHEN 0 THEN 'Customer' WHEN 1 THEN 'Nation' WHEN 2 THEN 'Order'
         |    WHEN 3 THEN 'Part' WHEN 4 THEN 'Region' WHEN 5 THEN 'Supplier' END AS label,
         |  a.vid % 17592186044416 AS node_id,
         |  COALESCE(s.v, a.vid) AS component
         |FROM allv a LEFT JOIN s$rounds s ON s.u = a.vid
         |UNION ALL
         |SELECT 'ORACLE_UNDERCONVERGED', -1, -1
         |WHERE EXISTS (
         |  SELECT u, v FROM s$rounds EXCEPT SELECT u, v FROM s${rounds - 1})""".stripMargin)

  /** [[ccOracleSql]] over an arbitrary integer edge list (the star-round
    * replay is graph-independent; the skew fixture reuses it). */
  private def ccOracleSqlOver(edgesSql: String, rounds: Int, finalSelect: String): String = {
    // AS MATERIALIZED is load-bearing: each s_i is referenced twice by
    // round i+1, and DuckDB's default CTE inlining would expand the
    // chain EXPONENTIALLY (observed as "too many open files" from 2^16
    // inlined lineitem scans).
    val sb = new StringBuilder
    sb ++= s"WITH e AS MATERIALIZED (\n$edgesSql\n),\n"
    sb ++= """allv AS (SELECT src AS vid FROM e UNION SELECT dst FROM e),
             |s0 AS MATERIALIZED (SELECT DISTINCT GREATEST(src, dst) AS u, LEAST(src, dst) AS v
             |  FROM e WHERE src <> dst)""".stripMargin
    (1 to rounds).foreach { i =>
      sb ++= s""",
                |und$i AS MATERIALIZED (SELECT u, v FROM s${i - 1} UNION ALL SELECT v AS u, u AS v FROM s${i - 1}),
                |m1_$i AS (SELECT u, LEAST(MIN(v), u) AS m FROM und$i GROUP BY u),
                |lg$i AS (SELECT und$i.v AS u, m AS v FROM und$i JOIN m1_$i USING (u)
                |  WHERE und$i.v > und$i.u),
                |m2_$i AS (SELECT u, MIN(v) AS m FROM lg$i GROUP BY u),
                |s$i AS MATERIALIZED (SELECT DISTINCT u, v FROM (
                |  SELECT lg$i.v AS u, m AS v FROM lg$i JOIN m2_$i USING (u) WHERE lg$i.v <> m2_$i.m
                |  UNION ALL SELECT u, m AS v FROM m2_$i))""".stripMargin
    }
    sb ++= "\n" + finalSelect
    sb.toString
  }

  /** BFS oracle: replay the unit-weight relaxation rounds — round i's
    * distance table is the min-combine of round i−1's and every
    * neighbor's distance + 1. All integers; a round at the fixpoint is
    * the identity, so the fixed count is exact. */
  private def bfsOracleSql(maxHops: Int): String = {
    val sb = new StringBuilder
    sb ++= s"WITH e AS (\n$UnifiedEdgesSql\n),\n"
    sb ++= """und AS MATERIALIZED (SELECT DISTINCT u, v FROM (
             |  SELECT src AS u, dst AS v FROM e WHERE src <> dst
             |  UNION ALL SELECT dst AS u, src AS v FROM e WHERE src <> dst)),
             |d0 AS (SELECT DISTINCT u AS vid, CAST(0 AS BIGINT) AS dist FROM und
             |  WHERE u // 17592186044416 = 4)""".stripMargin
    (1 to maxHops).foreach { i =>
      sb ++= s""",
                |d$i AS MATERIALIZED (SELECT vid, MIN(dist) AS dist FROM (
                |  SELECT vid, dist FROM d${i - 1}
                |  UNION ALL SELECT und.v AS vid, d.dist + 1 AS dist
                |    FROM und JOIN d${i - 1} d ON und.u = d.vid) GROUP BY vid)""".stripMargin
    }
    sb ++= s"""
              |SELECT CASE vid // 17592186044416
              |    WHEN 0 THEN 'Customer' WHEN 1 THEN 'Nation' WHEN 2 THEN 'Order'
              |    WHEN 3 THEN 'Part' WHEN 4 THEN 'Region' WHEN 5 THEN 'Supplier' END AS label,
              |  vid % 17592186044416 AS node_id, dist
              |FROM d$maxHops""".stripMargin
    sb.toString
  }

  /** k-core oracle: replay the synchronous peeling rounds — round i
    * keeps the edges whose BOTH endpoints had degree ≥ k in round
    * i−1's subgraph. A peeling round at the fixpoint is the identity,
    * so the generous fixed count yields the exact core. */
  private def kcoreOracleSql(k: Int, rounds: Int): String = {
    val sb = new StringBuilder
    sb ++= s"""WITH li AS (SELECT DISTINCT l_orderkey AS g, l_partkey AS item FROM lineitem),
              |sized AS (SELECT g, item FROM (
              |  SELECT g, item, count(*) OVER (PARTITION BY g) AS n FROM li) WHERE n <= 10),
              |co AS (SELECT DISTINCT a.item AS u, b.item AS v
              |  FROM sized a JOIN sized b ON a.g = b.g AND a.item < b.item),
              |e0 AS MATERIALIZED (SELECT u, v FROM co WHERE u <> v
              |  UNION ALL SELECT v AS u, u AS v FROM co WHERE u <> v)""".stripMargin
    (1 to rounds).foreach { i =>
      sb ++= s""",
                |k$i AS MATERIALIZED (SELECT u FROM e${i - 1} GROUP BY u HAVING count(*) >= $k),
                |e$i AS MATERIALIZED (SELECT e.u, e.v FROM e${i - 1} e
                |  JOIN k$i a ON e.u = a.u JOIN k$i b ON e.v = b.u)""".stripMargin
    }
    sb ++= s"""
              |SELECT 'Part' AS label, u AS node_id, CAST(count(*) AS BIGINT) AS core_degree
              |FROM e$rounds GROUP BY u""".stripMargin
    sb.toString
  }

  /** SSSP oracle: the weighted relaxation rounds replay verbatim (all
    * BIGINT); parallel edges collapse to min weight up front exactly as
    * the operator does, and the convergence sentinel (round N ≠ round
    * N−1 → extra diagnosable row) guards the fixed round count, as in
    * the CC oracle. */
  /** The SsspWeights map rendered over the unified edges — shared by the
    * SSSP and weighted-PageRank oracles. */
  private val WeightedEdgesSql =
    """  SELECT n_nationkey + 1*17592186044416 AS src, n_regionkey + 4*17592186044416 AS dst, 2 AS w
      |    FROM nation WHERE n_nationkey IS NOT NULL AND n_regionkey IS NOT NULL
      |  UNION ALL SELECT c_custkey, c_nationkey + 1*17592186044416, 3
      |    FROM customer WHERE c_custkey IS NOT NULL AND c_nationkey IS NOT NULL
      |  UNION ALL SELECT s_suppkey + 5*17592186044416, s_nationkey + 1*17592186044416, 4
      |    FROM supplier WHERE s_suppkey IS NOT NULL AND s_nationkey IS NOT NULL
      |  UNION ALL SELECT o_custkey, o_orderkey + 2*17592186044416, 5
      |    FROM orders WHERE o_custkey IS NOT NULL AND o_orderkey IS NOT NULL
      |  UNION ALL SELECT l_orderkey + 2*17592186044416, l_partkey + 3*17592186044416, 7
      |    FROM lineitem WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL
      |  UNION ALL SELECT l_orderkey + 2*17592186044416, l_suppkey + 5*17592186044416, 6
      |    FROM lineitem WHERE l_orderkey IS NOT NULL AND l_suppkey IS NOT NULL""".stripMargin

  private def ssspOracleSql(rounds: Int): String = {
    val sb = new StringBuilder
    sb ++= s"WITH e AS (\n$WeightedEdgesSql\n),\n"
    sb ++= """und AS MATERIALIZED (SELECT u, v, CAST(MIN(w) AS BIGINT) AS w FROM (
             |  SELECT src AS u, dst AS v, w FROM e WHERE src <> dst
             |  UNION ALL SELECT dst AS u, src AS v, w FROM e WHERE src <> dst) GROUP BY u, v),
             |d0 AS (SELECT DISTINCT u AS vid, CAST(0 AS BIGINT) AS dist FROM und
             |  WHERE u // 17592186044416 = 4)""".stripMargin
    (1 to rounds).foreach { i =>
      sb ++= s""",
                |d$i AS MATERIALIZED (SELECT vid, MIN(dist) AS dist FROM (
                |  SELECT vid, dist FROM d${i - 1}
                |  UNION ALL SELECT und.v AS vid, d.dist + und.w AS dist
                |    FROM und JOIN d${i - 1} d ON und.u = d.vid) GROUP BY vid)""".stripMargin
    }
    sb ++= s"""
              |SELECT CASE vid // 17592186044416
              |    WHEN 0 THEN 'Customer' WHEN 1 THEN 'Nation' WHEN 2 THEN 'Order'
              |    WHEN 3 THEN 'Part' WHEN 4 THEN 'Region' WHEN 5 THEN 'Supplier' END AS label,
              |  vid % 17592186044416 AS node_id, dist
              |FROM d$rounds
              |UNION ALL
              |SELECT 'ORACLE_UNDERCONVERGED', -1, -1
              |WHERE EXISTS (
              |  SELECT vid, dist FROM d$rounds EXCEPT SELECT vid, dist FROM d${rounds - 1})""".stripMargin
    sb.toString
  }

  /** Random-walk oracle: replay every derandomized hop — step t's CTE
    * picks, per walk, the neighbor with the smallest md5(walk_id:t:v)
    * (row_number ORDER BY h, v ≡ Spark's min(struct(h, v))); the output
    * is the union of all step frontiers. */
  /** Shared CTE prefix for the walk oracles: unified edges, undirected
    * distinct edge set, Nation starts, and the s0..sN per-step frontier
    * CTEs; plus the all-steps union subquery. */
  private def walkCteSql(walksPerVertex: Int, steps: Int): (String, String) = {
    val sb = new StringBuilder
    sb ++= s"WITH e AS (\n$UnifiedEdgesSql\n),\n"
    sb ++= s"""und AS MATERIALIZED (SELECT DISTINCT u, v FROM (
             |  SELECT src AS u, dst AS v FROM e WHERE src <> dst
             |  UNION ALL SELECT dst AS u, src AS v FROM e WHERE src <> dst)),
             |starts AS (SELECT DISTINCT u AS vid FROM und WHERE u // 17592186044416 = 1),
             |s0 AS (SELECT vid * $walksPerVertex + w AS walk_id, vid
             |  FROM starts, (SELECT unnest(generate_series(0, ${walksPerVertex - 1})) AS w))""".stripMargin
    (1 to steps).foreach { t =>
      sb ++= s""",
                |s$t AS MATERIALIZED (SELECT walk_id, v AS vid FROM (
                |  SELECT f.walk_id, und.v,
                |    row_number() OVER (PARTITION BY f.walk_id ORDER BY
                |      ('0x' || substring(md5(CAST(f.walk_id AS VARCHAR) || ':$t:' || CAST(und.v AS VARCHAR)), 1, 15))::BIGINT,
                |      und.v) AS rn
                |  FROM s${t - 1} f JOIN und ON und.u = f.vid) WHERE rn = 1)""".stripMargin
    }
    val unions = (0 to steps).map(t =>
      s"SELECT walk_id, CAST($t AS BIGINT) AS step, vid FROM s$t").mkString("\nUNION ALL ")
    (sb.toString, unions)
  }

  private def walkOracleSql(walksPerVertex: Int, steps: Int): String = {
    val (ctes, unions) = walkCteSql(walksPerVertex, steps)
    s"""$ctes
       |SELECT walk_id, step,
       |  CASE vid // 17592186044416
       |    WHEN 0 THEN 'Customer' WHEN 1 THEN 'Nation' WHEN 2 THEN 'Order'
       |    WHEN 3 THEN 'Part' WHEN 4 THEN 'Region' WHEN 5 THEN 'Supplier' END AS label,
       |  vid % 17592186044416 AS node_id
       |FROM (
       |$unions)""".stripMargin
  }

  /** Skip-gram oracle: replay the walks, then the window self-join and
    * pair count — all integers. */
  private def skipgramOracleSql(walksPerVertex: Int, steps: Int, window: Int): String = {
    val (ctes, unions) = walkCteSql(walksPerVertex, steps)
    s"""$ctes,
       |wk AS MATERIALIZED (
       |$unions),
       |pairs AS (
       |  SELECT a.vid AS center, b.vid AS context
       |  FROM wk a JOIN wk b ON a.walk_id = b.walk_id
       |    AND a.step <> b.step AND abs(a.step - b.step) <= $window)
       |SELECT
       |  CASE center // 17592186044416
       |    WHEN 0 THEN 'Customer' WHEN 1 THEN 'Nation' WHEN 2 THEN 'Order'
       |    WHEN 3 THEN 'Part' WHEN 4 THEN 'Region' WHEN 5 THEN 'Supplier' END AS center_label,
       |  center % 17592186044416 AS center_id,
       |  CASE context // 17592186044416
       |    WHEN 0 THEN 'Customer' WHEN 1 THEN 'Nation' WHEN 2 THEN 'Order'
       |    WHEN 3 THEN 'Part' WHEN 4 THEN 'Region' WHEN 5 THEN 'Supplier' END AS context_label,
       |  context % 17592186044416 AS context_id,
       |  COUNT(*) AS n_pairs
       |FROM pairs GROUP BY 1, 2, 3, 4""".stripMargin
  }

  /** Negative-sampling oracle: walks + pair join (same CTEs as the
    * skip-gram oracle), degree cumsum, one md5 draw per (pair, i), then
    * a plain range join for the inverse-CDF lookup — the bucketed
    * equi-join is engine mechanics, the answer is interval containment. */
  private def negativeSamplesOracleSql(walksPerVertex: Int, steps: Int,
      window: Int, k: Int): String = {
    val (ctes, unions) = walkCteSql(walksPerVertex, steps)
    s"""$ctes,
       |wk AS MATERIALIZED (
       |$unions),
       |pairs AS (
       |  SELECT DISTINCT a.vid AS center, b.vid AS context
       |  FROM wk a JOIN wk b ON a.walk_id = b.walk_id
       |    AND a.step <> b.step AND abs(a.step - b.step) <= $window),
       |deg AS (SELECT vid, COUNT(*) AS w FROM (
       |    SELECT src AS vid FROM e UNION ALL SELECT dst AS vid FROM e)
       |  GROUP BY vid),
       |cum AS MATERIALIZED (SELECT vid, w,
       |    SUM(w) OVER (ORDER BY vid ROWS UNBOUNDED PRECEDING) AS hi
       |  FROM deg WHERE w > 0),
       |tot AS (SELECT MAX(hi) AS total FROM cum),
       |draws AS (
       |  SELECT center, context, CAST(i AS INTEGER) AS draw_i,
       |    ('0x' || substring(md5('neg:' || CAST(center AS VARCHAR) || ':'
       |      || CAST(context AS VARCHAR) || ':' || CAST(i AS VARCHAR)), 1, 15))::BIGINT
       |      % (SELECT total FROM tot) AS u
       |  FROM pairs, (SELECT unnest(generate_series(0, ${k - 1})) AS i))
       |SELECT d.center, d.context, d.draw_i, c.vid AS neg_vid,
       |  (c.vid = d.center OR c.vid = d.context) AS is_collision
       |FROM draws d JOIN cum c ON d.u >= c.hi - c.w AND d.u < c.hi""".stripMargin
  }

  /** PPR oracle: replay the source-teleport fixed-point rounds — r0 is
    * 10⁶ micro-units per source; round i full-outer-merges the source
    * set with the damped in-sums. HUGEINT `//` ≡ Spark's DECIMAL div;
    * every intermediate is an exact integer. */
  private def pprOracleSql(rounds: Int, resetProb: Double): String = {
    val micro = 1000000L
    val resetMicro = math.round(resetProb * micro)
    val dampMicro = micro - resetMicro
    val sb = new StringBuilder
    sb ++= s"WITH e AS (\n$UnifiedEdgesSql\n),\n"
    sb ++= s"""deg AS (SELECT src, count(*) AS deg FROM e GROUP BY src),
              |s AS (SELECT DISTINCT c_custkey AS vid FROM customer
              |  WHERE c_mktsegment = 'BUILDING' AND c_custkey IS NOT NULL),
              |r0 AS (SELECT vid, CAST($micro AS BIGINT) AS rank_micro FROM s)""".stripMargin
    (1 until rounds).foreach { i =>
      sb ++= s""",
                |c$i AS (SELECT e.dst AS vid, SUM(r.rank_micro // d.deg) AS in_sum
                |  FROM e JOIN r${i - 1} r ON e.src = r.vid JOIN deg d ON d.src = e.src
                |  GROUP BY e.dst),
                |r$i AS (SELECT COALESCE(s.vid, c.vid) AS vid,
                |  CAST((CASE WHEN s.vid IS NOT NULL THEN $resetMicro ELSE 0 END)
                |    + COALESCE(c.in_sum, 0) * $dampMicro // $micro AS BIGINT) AS rank_micro
                |  FROM s FULL OUTER JOIN c$i c ON s.vid = c.vid)""".stripMargin
    }
    sb ++= s"""
              |SELECT CASE vid // 17592186044416
              |    WHEN 0 THEN 'Customer' WHEN 1 THEN 'Nation' WHEN 2 THEN 'Order'
              |    WHEN 3 THEN 'Part' WHEN 4 THEN 'Region' WHEN 5 THEN 'Supplier' END AS label,
              |  vid % 17592186044416 AS node_id,
              |  CAST(rank_micro AS DOUBLE) / 1000000.0 AS ppr
              |FROM r${rounds - 1}""".stripMargin
    sb.toString
  }

  /** Biased-walk oracle: per step, every candidate's A-Res key
    * round(ln(u)/bias, 6) + 0.0 is recomputed from the same md5 uniform
    * and bias class (NULL prev → uniform; v = prev → 1/p; (prev, v) an
    * edge → 1; else → 1/q), and the walk takes row_number() == 1 over
    * (key DESC, v ASC) ≡ Spark's max(struct(key, -v)). */
  private def biasedWalkOracleSql(walksPerVertex: Int, steps: Int,
      p: Double, q: Double): String = {
    val retW = 1.0 / p
    val outW = 1.0 / q
    val sb = new StringBuilder
    sb ++= s"WITH e AS (\n$UnifiedEdgesSql\n),\n"
    sb ++= s"""und AS MATERIALIZED (SELECT DISTINCT u, v FROM (
             |  SELECT src AS u, dst AS v FROM e WHERE src <> dst
             |  UNION ALL SELECT dst AS u, src AS v FROM e WHERE src <> dst)),
             |starts AS (SELECT DISTINCT u AS vid FROM und WHERE u // 17592186044416 = 1),
             |s0 AS (SELECT vid * $walksPerVertex + w AS walk_id, vid, CAST(NULL AS BIGINT) AS prev
             |  FROM starts, (SELECT unnest(generate_series(0, ${walksPerVertex - 1})) AS w))""".stripMargin
    (1 to steps).foreach { t =>
      sb ++= s""",
                |s$t AS MATERIALIZED (SELECT walk_id, vid, prev FROM (
                |  SELECT f.walk_id, und.v AS vid, f.vid AS prev,
                |    row_number() OVER (PARTITION BY f.walk_id ORDER BY
                |      round(ln((('0x' || substring(md5(CAST(f.walk_id AS VARCHAR) || ':$t:' || CAST(und.v AS VARCHAR)), 1, 15))::BIGINT + 1)::DOUBLE
                |          / 1152921504606846976.0)
                |        / (CASE WHEN f.prev IS NULL THEN 1.0
                |                WHEN und.v = f.prev THEN $retW
                |                WHEN pe.u IS NOT NULL THEN 1.0
                |                ELSE $outW END), 6) + 0.0 DESC,
                |      und.v ASC) AS rn
                |  FROM s${t - 1} f
                |  JOIN und ON und.u = f.vid
                |  LEFT JOIN und pe ON pe.u = f.prev AND pe.v = und.v
                |) WHERE rn = 1)""".stripMargin
    }
    val unions = (0 to steps).map(t =>
      s"SELECT walk_id, CAST($t AS BIGINT) AS step, vid FROM s$t").mkString("\nUNION ALL ")
    sb ++= s"""
              |SELECT walk_id, step,
              |  CASE vid // 17592186044416
              |    WHEN 0 THEN 'Customer' WHEN 1 THEN 'Nation' WHEN 2 THEN 'Order'
              |    WHEN 3 THEN 'Part' WHEN 4 THEN 'Region' WHEN 5 THEN 'Supplier' END AS label,
              |  vid % 17592186044416 AS node_id
              |FROM (
              |$unions)""".stripMargin
    sb.toString
  }

  /** Weighted-PageRank oracle: replay the weighted contribution rounds —
    * parallel edges SUM-collapse, per-edge contribution
    * `rank · w // wsum` (BIGINT truncation ≡ Spark's `div`), in-sums in
    * HUGEINT ≡ DECIMAL(38,0). */
  private def pagerankWeightedOracleSql(rounds: Int, resetProb: Double): String = {
    val micro = 1000000L
    val resetMicro = math.round(resetProb * micro)
    val dampMicro = micro - resetMicro
    val sb = new StringBuilder
    sb ++= s"WITH e AS (\n$WeightedEdgesSql\n),\n"
    sb ++= s"""ew AS MATERIALIZED (SELECT src, dst, CAST(SUM(w) AS BIGINT) AS w
              |  FROM e GROUP BY src, dst),
              |ws AS (SELECT src, SUM(w) AS wsum FROM ew GROUP BY src),
              |ed AS MATERIALIZED (SELECT ew.src, ew.dst, ew.w, CAST(ws.wsum AS BIGINT) AS wsum
              |  FROM ew JOIN ws ON ws.src = ew.src),
              |verts AS (SELECT src AS vid FROM ew UNION SELECT dst FROM ew),
              |c1 AS (SELECT dst AS vid, SUM($micro * w // wsum) AS in_sum FROM ed GROUP BY dst),
              |r1 AS (SELECT vid,
              |  CAST($resetMicro + in_sum * $dampMicro // $micro AS BIGINT) AS rank_micro FROM c1)""".stripMargin
    (2 to rounds).foreach { i =>
      sb ++= s""",
                |c$i AS (SELECT ed.dst AS vid,
                |  SUM(COALESCE(r.rank_micro, $resetMicro) * ed.w // ed.wsum) AS in_sum
                |  FROM ed LEFT JOIN r${i - 1} r ON ed.src = r.vid GROUP BY ed.dst),
                |r$i AS (SELECT vid,
                |  CAST($resetMicro + in_sum * $dampMicro // $micro AS BIGINT) AS rank_micro FROM c$i)""".stripMargin
    }
    sb ++= s"""
              |SELECT CASE v.vid // 17592186044416
              |    WHEN 0 THEN 'Customer' WHEN 1 THEN 'Nation' WHEN 2 THEN 'Order'
              |    WHEN 3 THEN 'Part' WHEN 4 THEN 'Region' WHEN 5 THEN 'Supplier' END AS label,
              |  v.vid % 17592186044416 AS node_id,
              |  CAST(COALESCE(r.rank_micro, $resetMicro) AS DOUBLE) / 1000000.0 AS wpagerank
              |FROM verts v LEFT JOIN r$rounds r ON r.vid = v.vid""".stripMargin
    sb.toString
  }

  /** HITS oracle: replay the L1-normalized half-updates. SUM over BIGINT
    * is HUGEINT in DuckDB ≡ Spark's DECIMAL(38,0); `//` ≡ `div`; the
    * normalizers are scalar subqueries over one-row CTEs. */
  private def hitsOracleSql(rounds: Int): String = {
    val sb = new StringBuilder
    sb ++= s"WITH e AS MATERIALIZED (\n$UnifiedEdgesSql\n),\n"
    sb ++= """verts AS MATERIALIZED (SELECT src AS vid FROM e UNION SELECT dst FROM e),
             |nv AS (SELECT 1000000::HUGEINT * COUNT(*) AS scale FROM verts),
             |a0 AS (SELECT vid, 1000000::BIGINT AS a FROM verts)""".stripMargin
    (1 to rounds).foreach { i =>
      sb ++= s""",
                |hr$i AS (SELECT e.src AS vid, SUM(a) AS raw
                |  FROM e JOIN a${i - 1} ON e.dst = a${i - 1}.vid GROUP BY e.src),
                |ht$i AS (SELECT SUM(raw) AS tot FROM hr$i),
                |h$i AS MATERIALIZED (SELECT vid,
                |  CAST(raw * (SELECT scale FROM nv) // (SELECT tot FROM ht$i) AS BIGINT) AS h FROM hr$i),
                |ar$i AS (SELECT e.dst AS vid, SUM(h) AS raw
                |  FROM e JOIN h$i ON e.src = h$i.vid GROUP BY e.dst),
                |at$i AS (SELECT SUM(raw) AS tot FROM ar$i),
                |a$i AS MATERIALIZED (SELECT vid,
                |  CAST(raw * (SELECT scale FROM nv) // (SELECT tot FROM at$i) AS BIGINT) AS a FROM ar$i)""".stripMargin
    }
    sb ++= s"""
              |SELECT CASE v.vid // 17592186044416
              |    WHEN 0 THEN 'Customer' WHEN 1 THEN 'Nation' WHEN 2 THEN 'Order'
              |    WHEN 3 THEN 'Part' WHEN 4 THEN 'Region' WHEN 5 THEN 'Supplier' END AS label,
              |  v.vid % 17592186044416 AS node_id,
              |  CAST(COALESCE(h.h, 0) AS DOUBLE) / 1000000.0 AS hub,
              |  CAST(COALESCE(a.a, 0) AS DOUBLE) / 1000000.0 AS authority
              |FROM verts v
              |LEFT JOIN h$rounds h ON h.vid = v.vid
              |LEFT JOIN a$rounds a ON a.vid = v.vid""".stripMargin
    sb.toString
  }

  /** Link-features oracle: co-occurrence edges (the kcore/triangle CTE),
    * anchor-pruned wedge join on the shared neighbor, per-term-rounded
    * DECIMAL Adamic-Adar sum, rounded-Jaccard ranking with id tie-break. */
  private def linkFeaturesOracleSql(top: Int, minCommon: Int): String =
    s"""WITH li AS (SELECT DISTINCT l_orderkey AS g, l_partkey AS item FROM lineitem),
       |sized AS (SELECT g, item FROM (
       |  SELECT g, item, count(*) OVER (PARTITION BY g) AS n FROM li) WHERE n <= 10),
       |co AS (SELECT DISTINCT a.item AS u, b.item AS v
       |  FROM sized a JOIN sized b ON a.g = b.g AND a.item < b.item),
       |und AS MATERIALIZED (SELECT u, v FROM co UNION ALL SELECT v AS u, u AS v FROM co),
       |deg AS MATERIALIZED (SELECT u, COUNT(*) AS deg FROM und GROUP BY u),
       |anchors AS (SELECT p_partkey AS a FROM part WHERE p_size = 50),
       |wedges AS (SELECT x.u AS a, y.u AS b, x.v AS w
       |  FROM und x JOIN anchors ON x.u = anchors.a
       |  JOIN und y ON x.v = y.v AND x.u <> y.u),
       |pairs AS (SELECT a, b, COUNT(*) AS n_common,
       |    SUM(CAST(round(1.0 / ln(d.deg), 6) AS DECIMAL(18,6))) AS aa
       |  FROM wedges JOIN deg d ON d.u = wedges.w GROUP BY a, b),
       |feat AS (SELECT p.a, p.b, p.n_common,
       |    round(CAST(p.n_common AS DOUBLE) / (da.deg + db.deg - p.n_common), 6) AS jaccard,
       |    CAST(CAST(p.aa AS VARCHAR) AS DOUBLE) AS adamic_adar,
       |    CAST(CASE WHEN EXISTS (SELECT 1 FROM und WHERE und.u = p.a AND und.v = p.b)
       |      THEN 1 ELSE 0 END AS BIGINT) AS is_edge
       |  FROM pairs p JOIN deg da ON da.u = p.a JOIN deg db ON db.u = p.b
       |  WHERE p.n_common >= $minCommon)
       |SELECT a AS item_a, b AS item_b, n_common, jaccard, adamic_adar, is_edge
       |FROM (SELECT *, row_number() OVER (PARTITION BY a ORDER BY jaccard DESC, b) AS rn
       |  FROM feat) WHERE rn <= $top""".stripMargin

  /** Assortativity oracle: same six exact sums (HUGEINT ≡ DECIMAL(38,0),
    * cast to double as the single rounding point), same closed form. */
  private val assortativityOracle: String = {
    def statsSql(name: String, undCte: String) =
      s"""SELECT '$name' AS graph, CAST(n AS BIGINT) AS n_edge_ends,
         |  CASE WHEN (n * sxx - sx * sx) * (n * syy - sy * sy) = 0 THEN 0.0
         |    ELSE round((n * sxy - sx * sy)
         |      / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) END AS assortativity
         |FROM (
         |  SELECT CAST(COUNT(*) AS DOUBLE) AS n,
         |    CAST(SUM(dx) AS DOUBLE) AS sx, CAST(SUM(dy) AS DOUBLE) AS sy,
         |    CAST(SUM(dx * dy) AS DOUBLE) AS sxy,
         |    CAST(SUM(dx * dx) AS DOUBLE) AS sxx,
         |    CAST(SUM(dy * dy) AS DOUBLE) AS syy
         |  FROM (
         |    SELECT da.d AS dx, db.d AS dy
         |    FROM $undCte e
         |    JOIN (SELECT u, COUNT(*) AS d FROM $undCte GROUP BY u) da ON da.u = e.u
         |    JOIN (SELECT u, COUNT(*) AS d FROM $undCte GROUP BY u) db ON db.u = e.v))""".stripMargin
    s"""WITH li AS (SELECT DISTINCT l_orderkey AS g, l_partkey AS item FROM lineitem),
       |sized AS (SELECT g, item FROM (
       |  SELECT g, item, count(*) OVER (PARTITION BY g) AS n FROM li) WHERE n <= 10),
       |co AS (SELECT DISTINCT a.item AS u, b.item AS v
       |  FROM sized a JOIN sized b ON a.g = b.g AND a.item < b.item),
       |co_und AS MATERIALIZED (SELECT u, v FROM co UNION ALL SELECT v AS u, u AS v FROM co),
       |ue AS (
       |$UnifiedEdgesSql
       |),
       |uni_und AS MATERIALIZED (SELECT DISTINCT u, v FROM (
       |  SELECT src AS u, dst AS v FROM ue WHERE src <> dst
       |  UNION ALL SELECT dst AS u, src AS v FROM ue WHERE src <> dst))
       |${statsSql("co_occurrence", "co_und")}
       |UNION ALL
       |${statsSql("unified", "uni_und")}""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    "g_assortativity" -> assortativityOracle,
    "g_clustering_coeff" ->
      """WITH li AS (SELECT DISTINCT l_orderkey AS g, l_partkey AS item FROM lineitem),
        |sized AS (SELECT g, item FROM (
        |  SELECT g, item, count(*) OVER (PARTITION BY g) AS n FROM li) WHERE n <= 10),
        |e AS MATERIALIZED (SELECT DISTINCT a.item AS u, b.item AS v
        |  FROM sized a JOIN sized b ON a.g = b.g AND a.item < b.item),
        |tri AS (SELECT e1.u AS a, e1.v AS b, e2.v AS c
        |  FROM e e1 JOIN e e2 ON e1.v = e2.u JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v),
        |pv AS (SELECT a AS vid FROM tri UNION ALL SELECT b FROM tri UNION ALL SELECT c FROM tri),
        |tcnt AS (SELECT vid, count(*) AS cnt FROM pv GROUP BY vid),
        |und AS (SELECT u, v FROM e UNION ALL SELECT v AS u, u AS v FROM e),
        |deg AS (SELECT u AS vid, COUNT(*) AS degree FROM und GROUP BY u)
        |SELECT 'Part' AS label, d.vid AS node_id, d.degree,
        |  CAST(COALESCE(t.cnt, 0) AS BIGINT) AS triangles,
        |  CASE WHEN d.degree < 2 THEN 0.0
        |    ELSE round(CAST(COALESCE(t.cnt, 0) AS DOUBLE) * 2.0 / (d.degree * (d.degree - 1)), 6)
        |  END AS clustering_coeff
        |FROM deg d LEFT JOIN tcnt t ON t.vid = d.vid""".stripMargin,
    "g_scc" -> sccOracleSql(SccRingSize),
    "g_wl_colors" -> wlOracleSql(SccRingSize, WlRounds),
    "g_wl_histogram" -> wlHistogramOracleSql(SccRingSize, WlRounds),
    "g_butterflies" -> butterfliesOracle,
    "g_coreness" -> corenessOracleSql(CorenessRounds),
    "g_mis" -> misOracleSql(MisRounds, MisSeed),
    "g_coloring" -> jpOracleSql(SccRingSize, JpRounds, MisSeed),
    "g_landmark_dist" -> landmarkOracleSql(SccRingSize, LmCount, LmRounds, MisSeed),
    "g_graph_radius" -> landmarkOracleSql(SccRingSize, LmCount, LmRounds, MisSeed,
      finalSelect = s"""SELECT CAST(COUNT(*) AS BIGINT) AS n_landmarks,
        |  MAX(ecc) AS diameter_lower_bound, MIN(ecc) AS radius_upper_bound,
        |  CAST(SUM(reached) AS BIGINT) AS n_reached_pairs
        |FROM (SELECT landmark, MAX(dist) AS ecc, COUNT(*) AS reached
        |      FROM d$LmRounds GROUP BY landmark)""".stripMargin),
    "g_butterfly_vertices" -> butterflyVerticesOracle,
    "g_hyperanf" -> hyperAnfOracleSql(SccRingSize, AnfRounds),
    "g_harmonic" -> harmonicOracleSql(SccRingSize, AnfRounds),
    "g_anf_summary" -> anfSummaryOracleSql(SccRingSize, AnfRounds),
    "g_pagerank_weighted" -> pagerankWeightedOracleSql(PrwRounds, PrReset),
    "g_hits" -> hitsOracleSql(HitsRounds),
    "g_link_features" -> linkFeaturesOracleSql(LinkTopK, LinkMinCommon),
    "g_biased_walks" -> biasedWalkOracleSql(BiasedWalkCount, BiasedWalkSteps, BiasedP, BiasedQ),
    "g_skipgram" -> skipgramOracleSql(WalkCount, WalkSteps, SkipgramWindow),
    "g_negative_samples" -> negativeSamplesOracleSql(WalkCount, WalkSteps, SkipgramWindow, NegK),
    "g_ktruss" -> kTrussOracleSql(TrussK, TrussRounds),
    "g_ppr" -> pprOracleSql(PprRounds, PrReset),
    "g_random_walks" -> walkOracleSql(WalkCount, WalkSteps),
    "g_sssp" -> ssspOracleSql(SsspRounds),
    "g_pagerank" -> pagerankOracleSql(PrRounds, PrReset),
    "g_katz" -> katzOracleSql(KatzRounds, KatzAtten),
    "g_skew_pagerank" -> pagerankOracleSqlOver(SkewEdgesSql, SkewPrRounds, PrReset,
      s"""SELECT vid AS node_id, CAST(rank_micro AS DOUBLE) / 1000000.0 AS pagerank
         |FROM r$SkewPrRounds""".stripMargin),
    "g_skew_cc" -> ccOracleSqlOver(SkewEdgesSql, 16,
      """SELECT a.vid AS node_id, COALESCE(s.v, a.vid) AS component
        |FROM allv a LEFT JOIN s16 s ON s.u = a.vid
        |UNION ALL
        |SELECT -1, -1
        |WHERE EXISTS (SELECT u, v FROM s16 EXCEPT SELECT u, v FROM s15)""".stripMargin),
    "g_connected_components" -> ccOracleSql(16),
    // the generation fold must equal batch CC over the full history —
    // same star-round replay, plus the generation-count pin
    "g_cc_generations" ->
      s"""SELECT *, CAST($CcGenerations AS BIGINT) AS n_generations FROM (
         |${ccOracleSql(16)}
         |)""".stripMargin,
    "g_label_propagation" -> lpaOracleSql(LpaRounds),
    "g_modularity" -> modularityOracleSql(ModRounds),
    "g_modularity_l2" -> modularityL2OracleSql(ModL2Rounds),
    "g_modularity_score" -> modularityScoreOracleSql(ModScoreRounds),
    "g_betweenness" -> betweennessOracleSql(BcPivots, BcHorizon, BcSeed),
    "g_bfs_distances" -> bfsOracleSql(BfsHops),
    "g_kcore" -> kcoreOracleSql(KCoreK, KCoreRounds),
    "g_triangles" ->
      """WITH li AS (SELECT DISTINCT l_orderkey AS g, l_partkey AS item FROM lineitem),
        |sized AS (SELECT g, item FROM (
        |  SELECT g, item, count(*) OVER (PARTITION BY g) AS n FROM li) WHERE n <= 10),
        |e AS (SELECT DISTINCT a.item AS u, b.item AS v
        |  FROM sized a JOIN sized b ON a.g = b.g AND a.item < b.item),
        |tri AS (SELECT e1.u AS a, e1.v AS b, e2.v AS c
        |  FROM e e1 JOIN e e2 ON e1.v = e2.u JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v),
        |pv AS (SELECT a AS vid FROM tri UNION ALL SELECT b FROM tri UNION ALL SELECT c FROM tri),
        |verts AS (SELECT u AS vid FROM e UNION SELECT v FROM e)
        |SELECT 'Part' AS label, verts.vid AS node_id,
        |  CAST(COALESCE(t.cnt, 0) AS BIGINT) AS triangles
        |FROM verts LEFT JOIN (SELECT vid, count(*) AS cnt FROM pv GROUP BY vid) t
        |  ON t.vid = verts.vid""".stripMargin,
    "g_degree_distribution" ->
      s"""WITH e AS (
        |$UnifiedEdgesSql
        |), d AS (
        |  SELECT vid, count(*) AS degree FROM (
        |    SELECT src AS vid FROM e UNION ALL SELECT dst FROM e) GROUP BY vid)
        |SELECT degree, count(*) AS n_vertices FROM d GROUP BY degree""".stripMargin)
}
