package graft.operators

import org.apache.spark.sql.functions._

/** Every [[LocalGraph]] replay against its distributed loop on random
  * graphs: the same schema (names and types) and the same rows. The
  * distributed side is forced through each operator's spec hook —
  * `localStateCap = 0`, or `collectStats = true` for MIS. The rank
  * family's sum-collapse is checked against a Spark `groupBy` here; its
  * driver backend is checked in [[RankLoopSpec]]. Each replay, run
  * twice on one frame, reads the cached graph the second time and
  * returns the same rows: no replay writes into the shared arrays. */
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

  test("coreness: local h-index rounds ≡ join loop, frontier sizes and sentinels included") {
    // 2-4 rounds leave some graphs still moving (the -1 row); with
    // toFixpoint the budget stops two rounds later (-2 row, sometimes -1)
    val sentinels = scala.collection.mutable.Set.empty[String]
    check("coreness") { g =>
      val rounds = 2 + g.edges.size % 3
      Seq(false, true).map { toFixpoint =>
        def run(cap: Long) = {
          val (c, sizes) = GraphAnalytics.corenessWithStats(g.df, rounds, toFixpoint = toFixpoint,
            maxRounds = rounds + 2, localStateCap = cap)
          (rows(c), sizes)
        }
        val local = run(LocalGraph.EdgeCap)
        local._1._2.foreach(r => if (r.startsWith("-")) sentinels += r.take(2))
        same(local, run(0L), g)
      }.reduce(_ && _)
    }
    info(s"coreness: sentinel rows seen: ${sentinels.toSeq.sorted.mkString(", ")}")
    assert(sentinels == Set("-1", "-2"))
  }

  test("sum-collapse: per-pair multiplicities and weight sums ≡ a Spark groupBy") {
    check("sum-collapse") { g =>
      val undirected = g.edges.size % 2 == 0
      val e = if (undirected) g.df.unionAll(g.df.select(col("dst"), col("src"), col("w")))
        else g.df
      val want = e.groupBy("src", "dst").agg(count(lit(1)), sum(col("w"))).collect()
        .map(r => ((r.get(0).toString.toLong, r.get(1).toString.toLong),
          (r.getLong(2), r.getLong(3)))).toMap
      def pairs(w: Option[String]): Map[(Long, Long), Long] = {
        val lg = LocalGraph.collect(g.df, LocalGraph.EdgeCap, undirected,
          weightCol = w, sumParallel = true).get
        lg.vids.indices.flatMap(i => (lg.offsets(i) until lg.offsets(i + 1))
          .map(j => (lg.vids(i), lg.vids(lg.nbrs(j))) -> lg.weights.get(j))).toMap
      }
      same(pairs(None), want.map { case (k, v) => k -> v._1 }, g) &&
        same(pairs(Some("w")), want.map { case (k, v) => k -> v._2 }, g)
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

  test("every driver replay, run twice on one frame, returns identical rows") {
    check("replay twice") { g =>
      val pe = g.df.select("src", "dst")
      val runs = Seq[(String, () => Any)](
        "betweenness" -> (() => rows(Betweenness.pivotBetweenness(g.df, 2, 3))),
        "mis" -> (() => rows(Mis.maximalIndependentSet(g.df, 3))),
        "sssp" -> (() => {
          val (d, sizes) = GraphAnalytics.ssspDistancesWithStats(g.df, g.sourceDf, rounds = 4)
          (rows(d), sizes)
        }),
        "bfs" -> (() => rows(GraphAnalytics.bfsDistances(pe, g.sourceDf, maxHops = 3))),
        "coreness" -> (() => {
          val (c, sizes) = GraphAnalytics.corenessWithStats(g.df, 3, toFixpoint = true)
          (rows(c), sizes)
        }),
        "pagerank" -> (() => rows(RankLoop.pageRank(pe, 3, 0.15))),
        "weighted" -> (() => rows(RankLoop.weighted(
          g.df.selectExpr("src", "dst", "w + 1 AS w"), 3, 0.15))),
        "katz" -> (() => rows(RankLoop.katz(pe, 3, 2L))),
        "hllBallDeltas" -> (() => {
          val (est0, deltas, sizes) = GraphAnalytics.hllBallDeltas(g.df, 3, 6, "src", "dst",
            collectStats = true)
          (rows(est0), deltas.map(rows), sizes)
        }))
      runs.map { case (name, run) =>
        val first = run()
        same(first, run(), g) :| name
      }.reduce(_ && _)
    }
  }
}
