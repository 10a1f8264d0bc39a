package graft.operators

import graft.SparkTestBase
import graft.model.{GraphSchema, PropertyGraph, RelPattern}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, lit, pmod, sum}

class GraphAnalyticsSpec extends SparkTestBase {
  import spark.implicits._

  /** Two labels A,B; A1->B1->((A2 via pattern2)); A3 isolated-ish pair. */
  private def tinyGraph(): PropertyGraph = {
    val aNodes = Seq(1L, 2L, 3L).toDF("aid")
    val bNodes = Seq(1L, 9L).toDF("bid")
    val e1 = Seq((1L, 1L), (2L, 1L)).toDF("A_aid", "B_bid") // A1->B1, A2->B1
    val e2 = Seq((3L, 9L)).toDF("A_aid", "B_bid")           // A3->B9
    PropertyGraph(
      nodes = Map("A" -> aNodes, "B" -> bNodes),
      rels = Map(
        RelPattern("A", "R", "B") -> e1,
        RelPattern("A", "S", "B") -> e2),
      schema = GraphSchema(Nil, Nil))
  }

  test("connected components: two components, GraphX and DataFramePregel agree") {
    val g = tinyGraph()
    val gx = GraphXOracles.connectedComponents(g)
      .as[(String, Long, Long)].collect().toSet
    // component ids are min global vid per component; comp1 = {A1,A2,B1}, comp2 = {A3,B9}
    val comps = gx.groupBy(_._3).values.map(_.map(t => (t._1, t._2)).toSet).toSet
    assert(comps == Set(
      Set(("A", 1L), ("A", 2L), ("B", 1L)),
      Set(("A", 3L), ("B", 9L))))

    val (edges, labels) = GraphAnalytics.unifiedEdges(g)
    val df = GraphAnalytics.decode(DataFramePregel.connectedComponents(edges), "vid", labels)
      .select("label", "node_id", "component").as[(String, Long, Long)].collect().toSet
    assert(df == gx)
  }

  test("connected components: O(log n) rounds on a chain, reliable checkpoint agrees") {
    // a 256-vertex chain has diameter 255: plain min-id propagation needs
    // ~255 rounds; large-star/small-star must finish in O(log n)
    val n = 256L
    val chain = (1L until n).map(i => (i, i + 1)).toDF("src", "dst")
    // localThreshold = 0 forces the distributed star rounds (the adaptive
    // fallback would otherwise solve a 255-edge graph on the driver)
    val (df, rounds) = DataFramePregel.connectedComponentsWithRounds(
      chain, "src", "dst", maxIter = 30, localThreshold = 0L)
    val comps = df.as[(Long, Long)].collect()
    assert(comps.length == n && comps.forall(_._2 == 1L))
    assert(rounds > 0 && rounds <= 12, s"expected O(log n) rounds on a 256-chain, got $rounds")

    val ckptDir = java.nio.file.Files.createTempDirectory("graft_ckpt").toString
    val reliable = DataFramePregel.connectedComponents(chain, "src", "dst",
      checkpointDir = Some(ckptDir), localThreshold = 0L).as[(Long, Long)].collect().toSet
    assert(reliable == comps.toSet)
  }

  test("contraction segment streaming: a tiny flush cap yields identical components") {
    // flushEntries = 3 forces the partition-local union-find to flush a
    // forest segment every ~3 live vertices — dozens of segments per
    // partition on this graph — exercising every segment boundary of the
    // streaming emitter (live map → primitive-array segment → reset).
    // Segment forests are still valid star pieces, so the result must be
    // bit-identical to the default one-segment-per-partition run.
    val rnd = new scala.util.Random(23)
    val edges = (Seq.tabulate(400)(_ => (rnd.nextInt(150).toLong, rnd.nextInt(150).toLong)) ++
      (700L until 760L).map(i => (i, i + 1)))
      .toDF("src", "dst")
    val tiny = DataFramePregel.connectedComponentsWithRounds(
      edges, "src", "dst", maxIter = 30, localThreshold = 0L, flushEntries = 3)
      ._1.as[(Long, Long)].collect().toSet
    val full = DataFramePregel.connectedComponentsWithRounds(
      edges, "src", "dst", maxIter = 30, localThreshold = 0L)
      ._1.as[(Long, Long)].collect().toSet
    assert(tiny == full)
  }

  test("local union-find fallback agrees with the distributed star rounds") {
    val rnd = new scala.util.Random(11)
    // random sparse graph + a long chain + singleton-producing self-loop
    val edges = (Seq.tabulate(300)(_ => (rnd.nextInt(200).toLong, rnd.nextInt(200).toLong)) ++
      (500L until 540L).map(i => (i, i + 1)) :+ (900L, 900L))
      .toDF("src", "dst")
    val local = DataFramePregel.connectedComponents(edges) // default threshold → local
      .as[(Long, Long)].collect().toSet
    val dist = DataFramePregel.connectedComponents(edges, localThreshold = 0L)
      .as[(Long, Long)].collect().toSet
    assert(local == dist)
    // min-id invariant: every component id is a member of its own component
    val byComp = local.groupBy(_._2)
    byComp.foreach { case (cid, members) => assert(members.map(_._1).min == cid) }
  }

  test("connected components: non-integral (string) vertex ids stay correct") {
    // string vids cannot ride the cast("long") shortcuts (contraction,
    // pre-probe, local union-find) — a silent cast would null every id
    // and collapse all components onto 0. The integral-type gate must
    // route them straight to the type-generic star rounds.
    val edges = Seq(("a", "b"), ("b", "c"), ("x", "y"), ("z", "z"))
      .toDF("src", "dst")
    val got = DataFramePregel.connectedComponents(edges)
      .as[(String, String)].collect().toSet
    assert(got == Set(("a", "a"), ("b", "a"), ("c", "a"),
      ("x", "x"), ("y", "x"), ("z", "z")))
  }

  test("maxBroadcastRows scales the 2-column row ceiling by build-side width") {
    val base = GraphAnalytics.MaxBroadcastVertices
    assert(GraphAnalytics.maxBroadcastRows(base, 2) == base)
    assert(GraphAnalytics.maxBroadcastRows(base, 3) == base * 2 / 3)
    assert(GraphAnalytics.maxBroadcastRows(base, 5) == base * 2 / 5)
    // width below the 2-column calibration never RAISES the ceiling
    assert(GraphAnalytics.maxBroadcastRows(base, 1) == base)
    // the MP stat-table ceiling derives from the same helper (5 columns)
    assert(Sketches.MpMaxBroadcastStatRows == base * 2 / 5)
  }

  test("maxBroadcastVerticesDyn: min of the 8GiB-cap ceiling and one executor heap/900") {
    // the V-row broadcast guards compare against this, not the static
    // cap. heap/900 is calibrated to the sf10 probe on a 17 GB heap:
    // single-family 2-col broadcasts measured green at 18.6M vertices
    // (17e9/900 ≈ 18.9M keeps them), while weighted pagerank's TWO-family
    // shape (which crashed there) width-scales this by 4 → shuffle joins;
    // a production 64 GB executor re-binds at the static 50M cap
    val dyn = GraphAnalytics.maxBroadcastVerticesDyn
    val heap = Runtime.getRuntime.maxMemory // local mode: driver == executor
    assert(dyn == math.min(GraphAnalytics.MaxBroadcastVertices, heap / 900))
  }

  test("label propagation: barbell graph splits one component into two communities") {
    // two triangles {1,2,3} and {10,11,12} joined by bridge 3-10: connected
    // components would merge everything into one; LPA keeps two dense
    // communities. Hand-computed synchronous rounds (ties -> min id):
    //   r1: 1->2 2->1 3->1 10->3 11->10 12->10
    //   r2: 1->1 2->1 3->1 10->10 11->3 12->3
    //   r3: 1->1 2->1 3->1 10->3  11->3 12->3   (stable from here)
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (10L, 11L), (11L, 12L), (12L, 10L), (3L, 10L))
      .toDF("src", "dst")
    val got = GraphAnalytics.labelPropagationDF(edges, numIter = 4)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 3L, 11L -> 3L, 12L -> 3L))
    // disconnected triangles converge to per-component minimum labels
    val two = Seq((1L, 2L), (2L, 3L), (3L, 1L), (10L, 11L), (11L, 12L), (12L, 10L))
      .toDF("src", "dst")
    val sep = GraphAnalytics.labelPropagationDF(two, numIter = 3)
      .as[(Long, Long)].collect().toMap
    assert(sep == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L, 12L -> 10L))
  }

  test("BFS distances: hand-computed hops, unreached vertices absent") {
    // path 1-2-3-4-5 plus disconnected pair 10-11; 3 hops from {1}
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (10L, 11L)).toDF("src", "dst")
    val sources = Seq(1L).toDF("vid")
    val got = GraphAnalytics.bfsDistances(edges, sources, maxHops = 3)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> 3L))
    // directed: edges only relax forward
    val dgot = GraphAnalytics.bfsDistances(
      Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("src", "dst"),
      Seq(2L).toDF("vid"), maxHops = 2, undirected = false)
      .as[(Long, Long)].collect().toMap
    assert(dgot == Map(2L -> 0L, 3L -> 1L, 1L -> 2L))
    // multi-source: nearer source wins
    val mgot = GraphAnalytics.bfsDistances(edges, Seq(1L, 5L).toDF("vid"), maxHops = 2)
      .as[(Long, Long)].collect().toMap
    assert(mgot == Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 5L -> 0L, 4L -> 1L))
  }

  test("k-core: peeling removes the tail, keeps the triangle") {
    // triangle {1,2,3} + tail 3-4-5: the 2-core is exactly the triangle
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 5L)).toDF("src", "dst")
    val got = GraphAnalytics.kCore(edges, k = 2, rounds = 5)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 2L, 2L -> 2L, 3L -> 2L))
    // k above the max core empties the graph
    assert(GraphAnalytics.kCore(edges, k = 3, rounds = 5).count() == 0)
  }

  test("label propagation: broadcast and shuffle physical paths agree") {
    val rnd = new scala.util.Random(23)
    val edges = Seq.tabulate(400)(_ => (rnd.nextInt(120).toLong, rnd.nextInt(120).toLong))
      .toDF("src", "dst")
    val bc = GraphAnalytics.labelPropagationDF(edges, numIter = 4, broadcastLabels = true)
      .as[(Long, Long)].collect().toSet
    val sh = GraphAnalytics.labelPropagationDF(edges, numIter = 4, broadcastLabels = false)
      .as[(Long, Long)].collect().toSet
    assert(bc == sh)
  }

  test("sssp: broadcast and shuffle physical paths agree") {
    // the MaxBroadcastVertices guard swaps plan shape, never semantics —
    // integer math is partitioning-independent, so the paths must agree
    // bit for bit on random graphs (the rank family's branches are
    // compared in RankLoopSpec)
    val rnd = new scala.util.Random(31)
    val wEdges = Seq.tabulate(300)(_ =>
      (rnd.nextInt(80).toLong, rnd.nextInt(80).toLong, (1 + rnd.nextInt(5)).toLong))
      .toDF("src", "dst", "w")
    val srcs = Seq(0L, 7L).toDF("vid")
    def setOf(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSet
    assert(setOf(GraphAnalytics.ssspDistances(wEdges, srcs, rounds = 8,
        broadcastDist = true)) ==
      setOf(GraphAnalytics.ssspDistances(wEdges, srcs, rounds = 8,
        broadcastDist = false)))
  }

  test("triangle counts: one triangle, hand-computed") {
    // single-label triangle 1-2-3 plus pendant 4
    val nodes = Seq(1L, 2L, 3L, 4L).toDF("nid")
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L)).toDF("N_nid_source", "N_nid_target")
    val g = PropertyGraph(Map("N" -> nodes), Map(RelPattern("N", "KNOWS", "N") -> edges),
      GraphSchema(Nil, Nil))
    val got = GraphXOracles.triangleCounts(g)
      .as[(String, Long, Long)].collect().map(t => t._2 -> t._3).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 0L))
  }

  test("co-occurrence projection: pairs within groups, skew cap, triangles") {
    // order 10 carries parts {1,2,3} → a triangle; order 11 only {3,4}
    val li = Seq((10L, 1L), (10L, 2L), (10L, 3L), (11L, 3L), (11L, 4L))
      .toDF("l_orderkey", "l_partkey")
    val edges = GraphAnalytics.coOccurrenceEdges(li, "l_orderkey", "l_partkey")
      .as[(Long, Long)].collect().toSet
    assert(edges == Set((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L)))
    // a group above the cap is dropped before the pair explosion
    val big = (1L to 11L).map(i => (99L, i)).toDF("l_orderkey", "l_partkey")
    assert(GraphAnalytics.coOccurrenceEdges(big, "l_orderkey", "l_partkey").count() == 0)
  }

  test("g_triangles on the co-occurrence projection finds real triangles") {
    val got = graft.queries.AnalyticsQueries.triangles(spark, "/root/testdata/sf0.001")
    val nonZero = got.where($"triangles" > 0).count()
    assert(nonZero > 0, "part co-occurrence graph at sf0.001 must contain triangles")
  }

  test("DataFrame triangle count agrees with GraphX and hand-computed values") {
    // triangle 1-2-3, pendant 4, plus a second triangle 3-5-6 sharing vertex 3
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (3L, 5L), (5L, 6L), (6L, 3L))
      .toDF("src", "dst")
    val got = GraphAnalytics.triangleCountsDF(edges)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 2L, 4L -> 0L, 5L -> 1L, 6L -> 1L))
    // duplicate + reversed + self-loop edges don't change the counts
    val noisy = edges.unionAll(Seq((2L, 1L), (3L, 3L), (1L, 2L)).toDF("src", "dst"))
    assert(GraphAnalytics.triangleCountsDF(noisy).as[(Long, Long)].collect().toMap == got)
  }

  test("DataFrame pagerank agrees with GraphX staticPageRank") {
    val nodes = Seq(1L, 2L, 3L, 4L, 5L).toDF("nid")
    val edgeSeq = Seq((2L, 1L), (3L, 1L), (4L, 1L), (5L, 1L), (1L, 2L))
    val g = PropertyGraph(Map("N" -> nodes),
      Map(RelPattern("N", "LINKS", "N") -> edgeSeq.toDF("N_nid_source", "N_nid_target")),
      GraphSchema(Nil, Nil))
    val gx = GraphXOracles.pageRank(g, numIter = 10)
      .as[(String, Long, Double)].collect().map(t => t._2 -> t._3).toMap
    val (edges, _) = GraphAnalytics.unifiedEdges(g)
    // the fixed-point (oracle-able) DataFrame loop stays within micro-unit
    // floor-bias noise (≤ deg·1e-6 per round)
    val qu = GraphAnalytics.pageRankQuantizedDF(edges, numIter = 10)
      .select("vid", "rank").as[(Long, Double)].collect()
      .map { case (vid, r) => (vid & ((1L << 44) - 1)) -> r }.toMap
    assert(qu.keySet == gx.keySet)
    gx.foreach { case (vid, r) =>
      assert(math.abs(r - qu(vid)) < 1e-4, s"vertex $vid: graphx=$r quantized=${qu(vid)}")
    }
  }

  test("pagerank: star graph center ranks highest, mass ≈ N") {
    val nodes = Seq(1L, 2L, 3L, 4L, 5L).toDF("nid")
    val edges = Seq((2L, 1L), (3L, 1L), (4L, 1L), (5L, 1L)).toDF("N_nid_source", "N_nid_target")
    val g = PropertyGraph(Map("N" -> nodes), Map(RelPattern("N", "LINKS", "N") -> edges),
      GraphSchema(Nil, Nil))
    val pr = GraphXOracles.pageRank(g, numIter = 20)
      .as[(String, Long, Double)].collect().map(t => t._2 -> t._3).toMap
    assert(pr(1L) > pr(2L))
    assert(math.abs(pr.values.sum - 5.0) < 0.3)
  }

  test("local union-find fallback handles integer vid columns, preserves type") {
    // int-typed ids: the local path must not ClassCastException on getLong
    // and must emit the same column type as the distributed star rounds
    val edges = Seq((1, 2), (2, 3), (5, 5)).toDF("src", "dst")
    val local = DataFramePregel.connectedComponents(edges)
    val dist = DataFramePregel.connectedComponents(edges, localThreshold = 0L)
    assert(local.schema("component").dataType == dist.schema("component").dataType)
    assert(local.as[(Int, Int)].collect().toSet == dist.as[(Int, Int)].collect().toSet)
    assert(local.as[(Int, Int)].collect().toSet ==
      Set((1, 1), (2, 1), (3, 1), (5, 5)))
  }

  test("quantized pagerank: hub in-sum past the old BIGINT ceiling stays exact") {
    // 11M leaves all pointing at one hub: the hub's round-1 in-sum is
    // 1.1e13 micro-units, far inside its BIGINT accumulator, but the
    // damping product 1.1e13·850000 ≈ 9.35e18 exceeds 2⁶³−1 ≈ 9.22e18 —
    // an all-BIGINT update silently wrapped negative here; the V-row
    // DECIMAL(38,0) damping product is exact. numIter=1: the overflow
    // fired in the first round's update already.
    val n = 11000000L
    val edges = spark.range(1, n + 1).select($"id".as("src"), lit(0L).as("dst"))
    val hub = GraphAnalytics.pageRankQuantizedDF(edges, numIter = 1)
      .where($"vid" === 0L).select("rank").as[Double].head()
    val expected = 0.15 + 0.85 * n.toDouble // leaves contribute 1e6 div 1 each
    assert(hub > 0, s"hub rank overflowed: $hub")
    assert(math.abs(hub - expected) / expected < 1e-6, s"hub=$hub expected≈$expected")
  }

  test("degree distribution on tiny graph") {
    val g = tinyGraph()
    val got = GraphAnalytics.degreeDistribution(g)
      .as[(Long, Long)].collect().toMap
    // degrees: A1=1 A2=1 A3=1 B9=1 (4 vertices deg1), B1=2 (1 vertex deg2)
    assert(got == Map(1L -> 4L, 2L -> 1L))
  }

  test("weighted PageRank: rank splits by weight, hand-computed one round") {
    // 1 -> 2 (w=1), 1 -> 3 (w=3): vertex 1 sends 1/4 of its rank to 2 and
    // 3/4 to 3. Round 1: in(2) = 1e6*1 div 4 = 250000, in(3) = 750000;
    // rank = 150000 + in*850000 div 1e6 -> 2: 362500, 3: 787500; 1 gets
    // nothing -> resetMicro.
    val edges = Seq((1L, 2L, 1L), (1L, 3L, 3L)).toDF("src", "dst", "w")
    val got = GraphAnalytics.pageRankWeightedDF(edges, numIter = 1)
      .as[(Long, Double)].collect().toMap
    assert(got == Map(1L -> 0.15, 2L -> 0.3625, 3L -> 0.7875))
    // parallel edges SUM their weights: (1->2 w=1) twice == (1->2 w=2)
    val par = GraphAnalytics.pageRankWeightedDF(
      Seq((1L, 2L, 1L), (1L, 2L, 1L), (1L, 3L, 2L)).toDF("src", "dst", "w"), numIter = 1)
      .as[(Long, Double)].collect().toMap
    val merged = GraphAnalytics.pageRankWeightedDF(
      Seq((1L, 2L, 2L), (1L, 3L, 2L)).toDF("src", "dst", "w"), numIter = 1)
      .as[(Long, Double)].collect().toMap
    assert(par == merged)
  }

  test("weighted PageRank: a weight below 1 fails the query naming the edge") {
    // a source whose weights sum to 0 would otherwise fail with an
    // anonymous [DIVIDE_BY_ZERO] in the contribution `div`
    val edges = Seq((1L, 2L, 1L), (3L, 4L, 0L), (3L, 5L, 0L)).toDF("src", "dst", "w")
    val err = intercept[Exception](GraphAnalytics.pageRankWeightedDF(edges).collect())
    val msgs = Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
      .map(e => String.valueOf(e.getMessage)).toSeq
    assert(msgs.exists(_.contains("needs edge weights >= 1; edge 3 -> ")), msgs.mkString("\n"))
    assert(!msgs.exists(_.contains("DIVIDE_BY_ZERO")), msgs.mkString("\n"))
  }

  test("HITS one iteration, hand-computed fixed-point values") {
    // 1->3, 2->3, 3->4; n=4, scale=4e6. h_raw = 1e6 each (tot 3e6) ->
    // h = 1333333 each; a_raw: 3 gets 2666666, 4 gets 1333333
    // (tot 3999999) -> a(3) = 2666666*4e6//3999999 = 2666666,
    // a(4) = 1333333*4e6//3999999 = 1333333. Vertices 1,2 have no
    // in-edges -> authority exactly 0; 4 has no out-edges -> hub 0.
    val edges = Seq((1L, 3L), (2L, 3L), (3L, 4L)).toDF("src", "dst")
    val got = GraphAnalytics.hitsDF(edges, numIter = 1)
      .as[(Long, Double, Double)].collect().map(t => t._1 -> ((t._2, t._3))).toMap
    assert(got == Map(
      1L -> ((1.333333, 0.0)), 2L -> ((1.333333, 0.0)),
      3L -> ((1.333333, 2.666666)), 4L -> ((0.0, 1.333333))))
  }

  test("HITS invariants: symmetric hubs tie, L1 mass conserved within truncation") {
    val edges = Seq((1L, 3L), (2L, 3L), (3L, 4L), (4L, 1L)).toDF("src", "dst")
    val rows = GraphAnalytics.hitsDF(edges, numIter = 5)
      .as[(Long, Double, Double)].collect()
    val byVid = rows.map(t => t._1 -> t).toMap
    // 1 and 2 have identical out-neighborhoods -> identical hub scores
    assert(byVid(1L)._2 == byVid(2L)._2)
    // each normalized vector sums to scale = n (in units), minus <1 unit
    // truncation per vertex
    val n = rows.length
    val hubMass = rows.map(_._2).sum
    val authMass = rows.map(_._3).sum
    assert(hubMass <= n + 1e-9 && hubMass > n - n * 1e-6 - 1e-3, s"hub mass $hubMass")
    assert(authMass <= n + 1e-9 && authMass > n - n * 1e-6 - 1e-3, s"auth mass $authMass")
  }

  test("Katz centrality: hand-computed two rounds, sparse defaults exact") {
    // 1->3, 2->3, 3->4; atten=4, beta=1e6.
    // Round 1: in(3)=2e6 -> x=1e6+500000; in(4)=1e6 -> x=1e6+250000.
    // Round 2: in(3)=x1(1)+x1(2)=2e6 -> 1.5e6 again;
    //          in(4)=x1(3)=1.5e6 -> 1e6+375000. 1,2 stay exactly beta.
    val edges = Seq((1L, 3L), (2L, 3L), (3L, 4L)).toDF("src", "dst")
    val got = GraphAnalytics.katzCentralityDF(edges, numIter = 2, atten = 4L)
      .as[(Long, Double)].collect().toMap
    assert(got == Map(1L -> 1.0, 2L -> 1.0, 3L -> 1.5, 4L -> 1.375))
  }

  test("Katz centrality: cycle symmetry and geometric accumulation") {
    // 3-cycle, atten=2: x_i = 1e6 + x_{i-1}/2 for every vertex ->
    // after 5 rounds x = 1e6 * (1 + 1/2 + ... + 1/32 truncated) = 1.96875.
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("src", "dst")
    val got = GraphAnalytics.katzCentralityDF(edges, numIter = 5, atten = 2L)
      .as[(Long, Double)].collect().toMap
    assert(got == Map(1L -> 1.96875, 2L -> 1.96875, 3L -> 1.96875))
  }

  test("link features: hand-computed wedge graph, anchored and unanchored") {
    // edges (1,2),(2,3),(1,3),(3,4): deg 1=2, 2=2, 3=3, 4=1
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L)).toDF("item_a", "item_b")
    val invLn2 = math.rint(1.0 / math.log(2.0) * 1e6) / 1e6 // 1.442695
    val invLn3 = math.rint(1.0 / math.log(3.0) * 1e6) / 1e6 // 0.910239
    val anchored = GraphAnalytics.linkFeatures(edges, "item_a", "item_b",
      topPerVertex = 5, minCommon = 1, anchors = Some(Seq(1L).toDF("id")))
      .as[(Long, Long, Long, Double, Double, Long)].collect().toSet
    assert(anchored == Set(
      (1L, 4L, 1L, 0.5, invLn3, 0L),      // via 3; NOT an edge -> negative example
      (1L, 2L, 1L, 0.333333, invLn3, 1L), // via 3
      (1L, 3L, 1L, 0.25, invLn2, 1L)))    // via 2
    // unanchored = per-vertex candidate lists: features are symmetric
    // and every pair appears once per side
    val all = GraphAnalytics.linkFeatures(edges, "item_a", "item_b",
      topPerVertex = 5, minCommon = 1)
      .as[(Long, Long, Long, Double, Double, Long)].collect().toSet
    assert(all.count(_._1 == 1L) == 3)
    assert(all.map(r => (r._2, r._1, r._3, r._4, r._5, r._6)) == all) // symmetric
  }

  test("link features: minCommon filters and topPerVertex bounds the output") {
    // star: 1..6 all connected to hub 0 -> every leaf pair shares only {0}
    val edges = (1L to 6L).map(i => (0L, i)).toDF("item_a", "item_b")
    val all = GraphAnalytics.linkFeatures(edges, "item_a", "item_b",
      topPerVertex = 3, minCommon = 1)
    // 30 directed leaf pairs, capped at 3 per anchor; the hub itself has
    // no 2-hop partners (its neighbors' only neighbor is the hub)
    val perA = all.groupBy("a").count().as[(Long, Long)].collect().toMap
    assert(perA.values.forall(_ <= 3) && !perA.contains(0L))
    // minCommon = 2 kills every pair (single shared hub)
    assert(GraphAnalytics.linkFeatures(edges, "item_a", "item_b",
      topPerVertex = 3, minCommon = 2).count() == 0)
  }

  // ------------------------------------------------- strongly connected

  private def sccMap(edges: Seq[(Long, Long)]): Map[Long, Long] =
    GraphAnalytics.stronglyConnectedComponents(edges.toDF("src", "dst"))
      .as[(Long, Long)].collect().toMap

  test("SCC: one-way bridges connect but never merge cycles") {
    // {1,2} -> {3,4} -> {5,6,7}: weakly one component, strongly three
    val scc = sccMap(Seq((1L, 2L), (2L, 1L), (3L, 4L), (4L, 3L),
      (5L, 6L), (6L, 7L), (7L, 5L), (2L, 3L), (4L, 5L)))
    assert(scc == Map(1L -> 1L, 2L -> 1L, 3L -> 3L, 4L -> 3L,
      5L -> 5L, 6L -> 5L, 7L -> 5L))
    // same edges as an UNDIRECTED CC problem collapse to one component —
    // the distinction the g_scc oracle checks at table scale
    val cc = DataFramePregel.connectedComponents(
      Seq((1L, 2L), (2L, 1L), (3L, 4L), (4L, 3L), (5L, 6L), (6L, 7L),
        (7L, 5L), (2L, 3L), (4L, 5L)).toDF("src", "dst"), "src", "dst")
      .as[(Long, Long)].collect().toMap
    assert(cc.values.toSet.size == 1)
  }

  test("SCC: diamond DAG is all singletons (the case that breaks fwd/bwd label pairing)") {
    // 1->3, 1->4, 3->2, 4->2: vertices 3 and 4 share min-forward-reacher 1
    // and min-backward-reachable 2, yet are NOT one SCC
    val scc = sccMap(Seq((1L, 3L), (1L, 4L), (3L, 2L), (4L, 2L)))
    assert(scc == Map(1L -> 1L, 2L -> 2L, 3L -> 3L, 4L -> 4L))
  }

  test("SCC: deep condensation chain needs multiple outer passes and stays correct") {
    // five 2-cycles chained by one-way bridges: condensation depth 5
    val rings = (0 until 5).flatMap { i =>
      val a = 2L * i + 1; val b = 2L * i + 2
      Seq((a, b), (b, a))
    }
    val bridges = (0 until 4).map(i => (2L * i + 2, 2L * i + 3))
    val scc = sccMap(rings ++ bridges)
    (0 until 5).foreach { i =>
      assert(scc(2L * i + 1) == 2L * i + 1 && scc(2L * i + 2) == 2L * i + 1)
    }
  }

  test("SCC: self-loops and duplicate edges are harmless; result is partition-independent") {
    val edges = Seq((1L, 1L), (1L, 2L), (2L, 1L), (1L, 2L), (2L, 3L), (3L, 3L))
    val a = sccMap(edges)
    val b = GraphAnalytics.stronglyConnectedComponents(
      edges.toDF("src", "dst").repartition(7)).as[(Long, Long)].collect().toMap
    assert(a == Map(1L -> 1L, 2L -> 1L, 3L -> 3L) && a == b)
  }

  test("SCC: empty edge set yields empty output") {
    assert(GraphAnalytics.stronglyConnectedComponents(
      Seq.empty[(Long, Long)].toDF("src", "dst")).count() == 0)
  }

  test("hyperAnf: ball registers equal the HLL of the true closure (cycle + tail)") {
    // 1→2→3→1 cycle with tail 4→1: balls are fully determined by hand.
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (4L, 1L)).toDF("src", "dst")
    // true t-balls: pairs (v, u) with dist(v→u) ≤ t
    def ballPairs(t: Int): Seq[(Long, Long)] = {
      val e = Seq((1L, 2L), (2L, 3L), (3L, 1L), (4L, 1L))
      var p = (1L to 4L).map(v => (v, v))
      (1 to t).foreach { _ =>
        p = (p ++ e.flatMap { case (s, d) => p.collect { case (a, b) if a == d => (s, b) } }).distinct
      }
      p
    }
    // the propagated sketch of B_t(v) must EQUAL the sketch built directly
    // from the true closure — identical registers ⇒ identical estimates,
    // so comparing the (exact-decimal) NF totals round by round pins it
    (0 to 4).foreach { t =>
      val truth = ballPairs(t).toDF("vid", "u")
      val wantEst = Sketches.hllEstimateGrouped(
        Sketches.hllRegistersGrouped(truth, "vid", col("u")), "vid")
        .agg(sum(col("approx_distinct").cast("decimal(38,6)"))).as[java.math.BigDecimal]
        .head
      val gotEst = GraphAnalytics.hyperAnf(edges, t)
        .where(col("t") === t).select(col("approx_pairs")).as[java.math.BigDecimal].head
      assert(gotEst.compareTo(wantEst) == 0, s"round $t: $gotEst != $wantEst")
    }
  }

  test("hllBallDeltas: local-state loop ≡ legacy distributed loop, value for value") {
    // cycle+tail, two components, and a hub — est0 AND every per-round
    // delta frame must match bit-for-bit (the estimates run through the
    // same Sketches expressions in both paths)
    val graphs = Seq(
      Seq((1L, 2L), (2L, 3L), (3L, 1L), (4L, 1L)),
      Seq((1L, 2L), (2L, 1L), (10L, 11L)),
      (2L to 7L).map(i => (1L, i)).toSeq)
    graphs.foreach { g =>
      val df = g.toDF("src", "dst")
      def run(cap: Long) = {
        val (est0, deltas, _) = GraphAnalytics.hllBallDeltas(df, 4, 8,
          "src", "dst", collectStats = false, localStateCap = cap)
        (est0.collect().map(r => (r.getLong(0), r.getDouble(1))).toSet,
          deltas.map(_.collect()
            .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2))).toSet))
      }
      val (e0l, dl) = run(LocalGraph.WideStateCap)
      val (e0d, dd) = run(0L)
      assert(e0l == e0d, s"est0 diverged on $g")
      assert(dl == dd, s"deltas diverged on $g")
    }
  }

  test("hyperAnf: curve is monotone and plateaus at the diameter") {
    // directed path 1→2→…→6: NF(t) grows by (6−t) new pairs per round,
    // reaching the full 21 pairs at t = 5, flat afterwards
    val edges = (1L to 5L).map(v => (v, v + 1)).toDF("src", "dst")
    val curve = GraphAnalytics.hyperAnf(edges, 8)
      .orderBy("t").as[(Int, java.math.BigDecimal)].collect()
    assert(curve.length == 9)
    curve.sliding(2).foreach { case Array((_, a), (_, b)) =>
      assert(b.compareTo(a) >= 0, "NF must be non-decreasing")
    }
    assert(curve(5)._2.compareTo(curve(8)._2) == 0, "plateau past the diameter")
    // n ≤ 6 per ball → linear counting regime: estimates within 2% of 21
    val err = math.abs(curve(8)._2.doubleValue() - 21.0) / 21.0
    assert(err < 0.02, s"relative error $err")
  }

  test("hyperBallHarmonic: path graph — hand-computed values, sink exactly 0") {
    // 1→2→3: H(1) = 1/1 + 1/2 = 1.5, H(2) = 1, H(3) = 0 (empty ball,
    // identically zero — no estimate noise possible when dm = 0)
    val edges = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
    val h = GraphAnalytics.hyperBallHarmonic(edges, 4)
      .as[(Long, Long)].collect().toMap
    val unit = GraphAnalytics.HarmonicScale * 1e6 // h_scaled per 1.0 of H
    assert(h(3L) == 0L)
    assert(math.abs(h(1L) / unit - 1.5) < 0.03, s"H(1)=${h(1L) / unit}")
    assert(math.abs(h(2L) / unit - 1.0) < 0.03, s"H(2)=${h(2L) / unit}")
  }

  test("hyperBallHarmonic: 5-cycle — every vertex near the closed-form value") {
    // each vertex reaches the other 4 at distances 1..4:
    // H = 1 + 1/2 + 1/3 + 1/4 = 25/12
    val edges = (0L to 4L).map(v => (v, (v + 1) % 5)).toDF("src", "dst")
    val unit = GraphAnalytics.HarmonicScale * 1e6
    val want = 25.0 / 12.0
    GraphAnalytics.hyperBallHarmonic(edges, 6).as[(Long, Long)].collect()
      .foreach { case (v, s) =>
        assert(math.abs(s / unit - want) / want < 0.03, s"H($v)=${s / unit}")
      }
  }

  private def trussSet(edges: Seq[(Long, Long)], k: Int): Set[(Long, Long, Long)] =
    GraphAnalytics.kTruss(edges.toDF("src", "dst"), k)
      .as[(Long, Long, Long)].collect().toSet

  test("kTruss: K4 is a 4-truss (every edge closes two triangles)") {
    val k4 = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L))
    assert(trussSet(k4, 4) == k4.map { case (a, b) => (a, b, 2L) }.toSet)
  }

  test("kTruss: pendant edges die at k=3, the triangle survives") {
    val g = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 9L))
    assert(trussSet(g, 3) == Set((1L, 2L, 1L), (2L, 3L, 1L), (1L, 3L, 1L)))
  }

  test("kTruss: bowtie cascade — peeling the wings starves the shared edge") {
    // two triangles sharing edge (2,3): the shared edge has support 2 but
    // every wing edge has 1; k=4 peels the wings, the NEXT round starves
    // the shared edge — the cascade a single-pass support filter misses
    val bowtie = Seq((1L, 2L), (1L, 3L), (2L, 3L), (2L, 4L), (3L, 4L))
    assert(trussSet(bowtie, 4).isEmpty)
    assert(trussSet(bowtie, 3).size == 5) // all survive at k=3
  }

  test("kTruss: empty input, duplicate/reversed edges canonicalized") {
    assert(trussSet(Seq.empty, 3).isEmpty)
    val dup = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 1L), (1L, 3L))
    assert(trussSet(dup, 3).map(e => (e._1, e._2)) == Set((1L, 2L), (2L, 3L), (1L, 3L)))
  }

  test("weightedNegativeSamples: draws match hand-checked inverse-CDF intervals") {
    // weights a=1 b=2 c=3 → cum a:[0,1) b:[1,3) c:[3,6), total 6
    val weights = Seq((100L, 1L), (200L, 2L), (300L, 3L)).toDF("vid", "w")
    val pairs = Seq((10L, 20L), (30L, 40L)).toDF("center", "context")
    val out = GraphAnalytics.weightedNegativeSamples(pairs, weights, k = 4)
      .as[(Long, Long, Int, Long, Boolean)].collect()
    assert(out.length == 8) // 2 pairs × 4 draws, interval lookup total
    assert(out.forall { case (_, _, _, neg, coll) =>
      Seq(100L, 200L, 300L).contains(neg) && !coll })
    // recompute each u with the same portable hash and map through the
    // known intervals — the operator's bucketed join must agree
    val expected = pairs.as[(Long, Long)].collect().flatMap { case (c1, c2) =>
      (0 to 3).map { i =>
        val u = Seq((s"neg:$c1:$c2:$i")).toDF("s")
          .select(pmod(Dedup.md5Long(col("s")), lit(6L))).as[Long].head
        val neg = if (u < 1) 100L else if (u < 3) 200L else 300L
        ((c1, c2, i), neg)
      }
    }.toMap
    out.foreach { case (c1, c2, i, neg, _) =>
      assert(expected((c1, c2, i)) == neg, s"draw ($c1,$c2,$i)")
    }
    // partitioning-invariant: same result from a different layout
    val again = GraphAnalytics.weightedNegativeSamples(
      pairs.repartition(7), weights.repartition(5), k = 4, cumPartitions = 3)
      .as[(Long, Long, Int, Long, Boolean)].collect()
    assert(again.sortBy(r => (r._1, r._2, r._3)).toSeq ==
      out.sortBy(r => (r._1, r._2, r._3)).toSeq)
  }

  test("weightedNegativeSamples: collisions flagged, zero/negative weights excluded") {
    val weights = Seq((10L, 5L), (99L, 0L), (98L, -3L)).toDF("vid", "w")
    val pairs = Seq((10L, 20L)).toDF("center", "context")
    val out = GraphAnalytics.weightedNegativeSamples(pairs, weights, k = 2)
      .as[(Long, Long, Int, Long, Boolean)].collect()
    // only vid 10 has positive weight → every draw lands on it and collides
    assert(out.length == 2 && out.forall { case (_, _, _, neg, coll) =>
      neg == 10L && coll })
  }

  test("hyperAnf: rounds=0 is the vertex count (singleton balls)") {
    val edges = Seq((1L, 2L), (3L, 4L)).toDF("src", "dst")
    val nf0 = GraphAnalytics.hyperAnf(edges, 0)
      .as[(Int, java.math.BigDecimal)].collect()
    assert(nf0.length == 1 && nf0.head._1 == 0)
    assert(math.abs(nf0.head._2.doubleValue() - 4.0) < 0.05)
  }
}
