package graft.operators

import graft.SparkTestBase
import graft.model.TpchGraph
import org.apache.spark.graft.JobCount
import org.apache.spark.sql.functions.{concat, lit}

class BetweennessSpec extends SparkTestBase {
  import spark.implicits._

  private def bc(edges: Seq[(Long, Long)], nPivots: Int, horizon: Int,
      broadcast: Boolean = true): Map[Long, Double] =
    Betweenness.pivotBetweenness(edges.toDF("src", "dst"), nPivots, horizon,
      broadcastState = broadcast)
      .as[(Long, Double)].collect().toMap

  test("path graph, all pivots: exact Brandes values") {
    // 1-2-3-4-5: unnormalized directed-pair betweenness is
    // BC(3)=8, BC(2)=BC(4)=6, endpoints 0 (σ=1 everywhere → no rounding)
    val m = bc((1L to 4L).map(i => (i, i + 1)), nPivots = 5, horizon = 6)
    assert(m == Map(1L -> 0.0, 2L -> 6.0, 3L -> 8.0, 4L -> 6.0, 5L -> 0.0))
  }

  test("square graph, all pivots: fractional path counts split evenly") {
    // 1-2-4-3-1: each vertex mediates one opposite pair via σ=2 → 2·(1/2)
    val m = bc(Seq((1L, 2L), (2L, 4L), (4L, 3L), (3L, 1L)), nPivots = 4, horizon = 4)
    assert(m == Map(1L -> 1.0, 2L -> 1.0, 3L -> 1.0, 4L -> 1.0))
  }

  test("bounded horizon truncates far pairs") {
    // path 1..5 with horizon 2: only ≤2-hop pairs count; BC(3) = pairs
    // (1,5) dropped, (2,4)/(4,2) kept + (1,3)... hand sum: from each
    // endpoint s, δ_s(mid)=1 for the one 2-hop pair through it
    val full = bc((1L to 4L).map(i => (i, i + 1)), nPivots = 5, horizon = 6)
    val cut = bc((1L to 4L).map(i => (i, i + 1)), nPivots = 5, horizon = 2)
    assert(cut(3L) == 2.0) // (1,3)?? no: pairs THROUGH 3 within 2 hops: (2,4),(4,2)
    assert(cut(2L) == 2.0 && cut(4L) == 2.0)
    assert(cut.values.sum < full.values.sum)
  }

  test("pivot subset: dependency sums only from selected pivots; deterministic") {
    val edges = (1L to 4L).map(i => (i, i + 1))
    val two = bc(edges, nPivots = 2, horizon = 6)
    val five = bc(edges, nPivots = 5, horizon = 6)
    assert(two.values.sum < five.values.sum)
    assert(bc(edges, nPivots = 2, horizon = 6) == two)
  }

  test("broadcast and shuffle plans agree") {
    val edges = Seq((1L, 2L), (2L, 4L), (4L, 3L), (3L, 1L), (4L, 5L))
    def legacy(broadcast: Boolean): Map[Long, Double] =
      Betweenness.pivotBetweenness(edges.toDF("src", "dst"), 5, 4,
        broadcastState = broadcast, localStateCap = 0L)
        .as[(Long, Double)].collect().toMap
    assert(legacy(true) == legacy(false))
  }

  test("local-state loop ≡ legacy distributed loop, value for value") {
    // ring + chords, K4, star, disconnected; pivot subsets and a
    // truncating horizon so σ > 1 and the micro-δ division both replay
    val graphs = Seq(
      (1L to 12L).map(i => (i, i % 12 + 1)) ++ Seq((1L, 7L), (3L, 9L)),
      for { a <- 1L to 4L; b <- 1L to 4L if a < b } yield (a, b),
      (2L to 9L).map(i => (1L, i)),
      Seq((1L, 2L), (2L, 3L), (10L, 11L)))
    for (g <- graphs; (k, h) <- Seq((2, 2), (4, 6))) {
      val local = Betweenness.pivotBetweenness(g.toDF("src", "dst"), k, h)
        .as[(Long, Double)].collect().toMap
      val legacy = Betweenness.pivotBetweenness(g.toDF("src", "dst"), k, h,
        localStateCap = 0L).as[(Long, Double)].collect().toMap
      assert(local == legacy, s"diverged on $g with k=$k h=$h")
    }
  }

  test("g_betweenness at sf0.001: the edge bound is one job, the driver path two") {
    // each read in a fresh session, where no graph of these files is cached
    def load() = TpchGraph.load(spark.newSession(), "/root/testdata/sf0.001")
    val g = load()
    val (edges, _) = GraphAnalytics.unifiedEdges(g)
    val (bound, boundJobs) = JobCount(spark.sparkContext)(GraphAnalytics.unifiedEdgeRowsBound(g))
    assert(boundJobs == 1)
    assert(bound == edges.count())
    // the edge read (its own gate) and the pivot md5 job, with or without
    // a hint; the replay runs no job
    val (out, bcJobs) = JobCount(spark.sparkContext)(Betweenness.pivotBetweenness(edges,
      nPivots = 4, horizon = 6, seed = 11L, stagingRowsHint = Some(bound)))
    assert(bcJobs == 2)
    val (noHint, noHintJobs) = JobCount(spark.sparkContext)(Betweenness.pivotBetweenness(
      GraphAnalytics.unifiedEdges(load())._1, nPivots = 4, horizon = 6, seed = 11L))
    assert(noHintJobs == 2)
    // the same frame again: the cached graph, so the md5 job alone
    val (again, againJobs) = JobCount(spark.sparkContext)(Betweenness.pivotBetweenness(edges,
      nPivots = 4, horizon = 6, seed = 11L))
    assert(againJobs == 1)
    assert(out.where("betweenness > 0").count() > 0)
    assert(noHint.collect().toSet == out.collect().toSet)
    assert(again.collect().toSet == out.collect().toSet)
  }

  test("a σ·(10⁶+δ) past 2⁶³ leaves the long replay for the DECIMAL loop, same rows") {
    // root, then `depth` layers of 8 vertices, each layer joined to the
    // next completely: σ at layer l is 8^(l−1), so the last reverse step
    // multiplies σ = 8^(depth−2) by 10⁶ — 3.5e19 > 2⁶³ at depth 17, and
    // at most 4.4e18 (no overflow) at depth 16. The root is the vertex the
    // single md5 pivot picks, so the BFS from it reaches every layer.
    val depth = 17
    val vids = 0L until 1L + 8L * depth
    val root = vids.toDF("vid")
      .withColumn("p", Dedup.md5Long(concat(lit("11:"), $"vid".cast("string"))))
      .orderBy($"p", $"vid").as[(Long, Long)].head()._1
    val others = vids.filter(_ != root)
    val layers = Seq(root) +: others.grouped(8).toSeq
    val edges = layers.sliding(2).flatMap { case Seq(a, b) =>
      for (u <- a; v <- b) yield (u, v) }.toSeq.toDF("src", "dst")
    def run(horizon: Int, cap: Long) = JobCount(spark.sparkContext) {
      Betweenness.pivotBetweenness(edges, nPivots = 1, horizon = horizon,
        localStateCap = cap).as[(Long, Double)].collect().sortBy(_._1).toSeq
    }
    val (below, belowJobs) = run(depth - 1, LocalGraph.EdgeCap)
    val (past, pastJobs) = run(depth, LocalGraph.EdgeCap)
    val (loop, _) = run(depth, 0L)
    assert(belowJobs <= 3, "below 2⁶³ the replay stays on the driver")
    assert(pastJobs > belowJobs + 2 * depth, "past 2⁶³ the DECIMAL loop runs")
    assert(past == loop)
    assert(below.map(_._2).max > 0.0 && past.map(_._2).max > below.map(_._2).max)
  }

  test("disconnected vertices score zero; short-circuit past the true diameter") {
    val edges = Seq((1L, 2L), (2L, 3L), (10L, 11L))
    val m = bc(edges, nPivots = 5, horizon = 10) // horizon ≫ diameter
    assert(m(2L) == 2.0 && m(1L) == 0.0 && m(3L) == 0.0)
    assert(m(10L) == 0.0 && m(11L) == 0.0)
  }
}
