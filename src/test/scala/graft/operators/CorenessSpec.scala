package graft.operators

import graft.model.TpchGraph
import org.apache.spark.graft.JobCount
import org.apache.spark.sql.DataFrame

/** Coreness on hand fixtures. The default cap runs the driver replay;
  * `localStateCap = 0` forces the join loop, and the frontier-size cases
  * run both. */
class CorenessSpec extends RandomGraphs {
  import spark.implicits._

  private val caps = Seq(LocalGraph.EdgeCap, 0L)

  private def run(edges: Seq[(Long, Long)], rounds: Int = 8): Map[Long, Long] =
    GraphAnalytics.coreness(edges.toDF("src", "dst"), rounds)
      .as[(Long, Long)].collect().toMap

  test("K4 with a pendant: core 3 inside, 1 on the tail") {
    val k4 = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L), (4L, 5L))
    val c = run(k4)
    assert(!c.contains(-1L), "unexpectedly unconverged")
    assert(c == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L, 5L -> 1L))
  }

  test("triangle with tail and coreness-vs-kCore consistency") {
    val g = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 5L))
    val c = run(g)
    assert(c == Map(1L -> 2L, 2L -> 2L, 3L -> 2L, 4L -> 1L, 5L -> 1L))
    // {v : coreness >= k} must equal the k-core survivor set
    val core2 = GraphAnalytics.kCore(g.toDF("src", "dst"), k = 2)
      .select("vid").as[Long].collect().toSet
    assert(c.filter(_._2 >= 2L).keySet == core2)
  }

  test("frontier shrinks: star graph re-ranks only the changed set's neighborhoods") {
    // star K1,8: round 1 drops the hub 8→1 (leaves stay 1), so the
    // round-1 frontier is exactly {hub}; round 2 re-ranks only the
    // hub's neighbors, none change, frontier empties and the remaining
    // rounds short-circuit — per-round work tracks |changed|, not V
    val star = (2L to 9L).map(l => (1L, l))
    caps.foreach { cap =>
      val (df, sizes) = GraphAnalytics.corenessWithStats(star.toDF("src", "dst"), rounds = 8,
        localStateCap = cap)
      val c = df.as[(Long, Long)].collect().toMap
      assert(c == ((2L to 9L).map(_ -> 1L) :+ (1L -> 1L)).toMap, s"cap $cap")
      assert(sizes == Seq(1L, 0L),
        s"cap $cap: expected frontier [1, 0] (hub only, then converged), got $sizes")
    }
  }

  test("frontier sizes are monotone-shrinking work on a path") {
    val path = (1L until 14L).map(i => (i, i + 1))
    caps.foreach { cap =>
      val (df, sizes) = GraphAnalytics.corenessWithStats(path.toDF("src", "dst"), rounds = 12,
        localStateCap = cap)
      assert(!df.as[(Long, Long)].collect().toMap.contains(-1L), s"cap $cap")
      // the path drains from both ends: each round's changed set is the
      // two next-innermost vertices, never the whole graph after round 1
      assert(sizes.head < 14L && sizes.last == 0L, s"cap $cap: $sizes")
      assert(sizes.zip(sizes.tail).forall { case (a, b) => b <= a },
        s"cap $cap: frontier must never grow on a path: $sizes")
    }
  }

  test("toFixpoint continues past an under-provisioned round count") {
    // rounds = 2 under-provisions the 14-path (sentinel test below);
    // with toFixpoint the operator runs extra frontier rounds to the
    // true coreness and reports them on the vid = -2 row
    val path = (1L until 14L).map(i => (i, i + 1))
    val c = GraphAnalytics.coreness(path.toDF("src", "dst"), rounds = 2, toFixpoint = true)
      .as[(Long, Long)].collect().toMap
    assert(!c.contains(-1L), "fixpoint mode must not leave the convergence sentinel")
    assert(c.contains(-2L) && c(-2L) > 0L, "expected the extra-rounds row")
    assert(c.filter(_._1 > 0).values.forall(_ == 1L), "path coreness is 1 everywhere")
  }

  test("frontier rounds equal dense textbook rounds on a pseudo-random graph") {
    // deterministic LCG multigraph, ~150 edges over 60 vertices: the
    // frontier plan must reproduce the dense per-round recompute
    // value-for-value (the oracle replays the dense form)
    var s = 12345L
    def next(): Long = { s = (s * 6364136223846793005L + 1442695040888963407L) >>> 1; s }
    val edges = (1 to 150).map { _ => (next() % 60, next() % 60) }.filter(e => e._1 != e._2)
    val rounds = 16
    val got = run(edges, rounds)
    // dense reference: full h-index recompute every round, on the driver
    val und = edges.flatMap(e => Seq(e, e.swap)).distinct
    val adj = und.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    var c: Map[Long, Long] = adj.view.mapValues(_.size.toLong).toMap
    (1 to rounds).foreach { _ =>
      c = adj.map { case (u, ns) =>
        val vals = ns.map(c).sortBy(v => (-v, 0L))
        u -> vals.zipWithIndex.map { case (v, i) => math.min(i + 1L, v) }.max
      }
    }
    assert(!got.contains(-1L))
    assert(got == c, "frontier result diverged from dense recompute")
  }

  test("replay ≡ join loop, string vids on the loop") {
    // integral vids under the cap take the driver replay; localStateCap
    // = 0 and string vids (no driver form) take the join loop. All three
    // must agree value for value, frontier sizes included.
    var s = 777L
    def next(): Long = { s = (s * 6364136223846793005L + 1442695040888963407L) >>> 1; s }
    val edges = (1 to 200).map(_ => (next() % 80, next() % 80)).filter(e => e._1 != e._2)
    def decompose(df: DataFrame, cap: Long) = {
      val (out, sizes) = GraphAnalytics.corenessWithStats(df, rounds = 12, localStateCap = cap)
      (out.collect().map(r => (r.get(0).toString.stripPrefix("v").toLong, r.getLong(1))).toMap,
        sizes)
    }
    val replay = decompose(edges.toDF("src", "dst"), LocalGraph.EdgeCap)
    assert(replay == decompose(edges.toDF("src", "dst"), 0L), "replay diverged from the join loop")
    val strEdges = edges.map { case (a, b) => (s"v$a", s"v$b") }
    assert(replay == decompose(strEdges.toDF("src", "dst"), LocalGraph.EdgeCap),
      "string vids diverged from the replay")
  }

  test("sf0.001 unified graph: 1 job on the driver") {
    // a fresh session: no other spec's read of these files is cached in it
    val (e, _) = GraphAnalytics.unifiedEdges(
      TpchGraph.load(spark.newSession(), "/root/testdata/sf0.001"))
    val ((driver, driverSizes), jobs) =
      JobCount(spark.sparkContext)(GraphAnalytics.corenessWithStats(e, rounds = 16))
    val (dist, distSizes) = GraphAnalytics.corenessWithStats(e, rounds = 16, localStateCap = 0L)
    // the edge read, which is its own gate
    assert(jobs == 1, s"$jobs jobs under the cap")
    assert(rows(driver) == rows(dist))
    assert(driverSizes == distSizes)
  }

  test("sentinel row appears when rounds are too few on a slow chain") {
    // a 14-vertex path: degree-2 interior needs ~half the path length of
    // rounds to drain to coreness 1 from both ends
    val path = (1L until 14L).map(i => (i, i + 1))
    val under = run(path, rounds = 2)
    assert(under.contains(-1L), "expected the convergence sentinel")
    val enough = run(path, rounds = 10)
    assert(!enough.contains(-1L) && enough.filter(_._1 > 0).values.forall(_ == 1L))
  }
}
