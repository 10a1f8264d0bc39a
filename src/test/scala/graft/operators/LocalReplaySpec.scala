package graft.operators

import org.apache.spark.sql.functions._

/** Every [[LocalGraph]] replay against its distributed loop on random
  * graphs: the same schema (names and types) and the same rows. The
  * distributed side is forced through each operator's spec hook —
  * `localStateCap = 0`, or `collectStats = true` for MIS. */
class LocalReplaySpec extends RandomGraphs {

  test("betweenness: local Brandes ≡ distributed loop") {
    check("betweenness") { g =>
      val k = 1 + g.edges.size % 4
      val h = 1 + g.sources.size
      same(rows(Betweenness.pivotBetweenness(g.df, k, h)),
        rows(Betweenness.pivotBetweenness(g.df, k, h, localStateCap = 0L)), g)
    }
  }

  test("MIS: local Luby ≡ distributed loop, sentinel included") {
    check("mis") { g =>
      val rounds = 1 + g.edges.size % 3
      same(rows(Mis.maximalIndependentSet(g.df, rounds)),
        rows(Mis.misWithStats(g.df, rounds, collectStats = true)._1), g)
    }
  }

  test("SSSP: local relaxation ≡ distributed loop, frontier sizes included") {
    check("sssp") { g =>
      val undirected = g.edges.size % 2 == 0
      def run(cap: Long) = {
        val (d, sizes) = GraphAnalytics.ssspDistancesWithStats(g.df, g.sourceDf,
          rounds = 4, undirected = undirected, localStateCap = cap)
        (rows(d), sizes)
      }
      same(run(LocalGraph.EdgeCap), run(0L), g)
    }
  }

  test("BFS: local unit-weight relaxation ≡ distributed loop") {
    check("bfs") { g =>
      val e = g.df.drop("w")
      same(rows(GraphAnalytics.bfsDistances(e, g.sourceDf, maxHops = 3)),
        rows(GraphAnalytics.ssspDistancesWithStats(e.withColumn("__unit_w", lit(1L)),
          g.sourceDf, 3, weightCol = "__unit_w", collectStats = false,
          unitWeight = true, localStateCap = 0L)._1), g)
    }
  }

  test("hllBallDeltas: local registers ≡ distributed loop, per-round deltas included") {
    check("hllBallDeltas") { g =>
      def run(cap: Long) = {
        val (est0, deltas, sizes) = GraphAnalytics.hllBallDeltas(g.df, 3, 6,
          "src", "dst", collectStats = true, localStateCap = cap)
        (rows(est0), deltas.map(rows), sizes)
      }
      same(run(LocalGraph.WideStateCap), run(0L), g)
    }
  }
}
