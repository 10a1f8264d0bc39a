package graft.operators

import graft.model.TpchGraph
import org.apache.spark.graft.JobCount
import org.apache.spark.sql.DataFrame
import org.scalacheck.Prop

/** The five [[RankLoop]] operators on random graphs: the three kernel
  * branches (broadcast, narrow band, shuffle) return identical rows, and
  * those rows equal a plain-Scala fixed-point reference. For the dense
  * operators (PageRank, weighted PageRank, Katz) the branches run with
  * `localCap = 0`, and the driver backend, under its default cap, is a
  * fourth branch that must return the same rows. */
class RankLoopSpec extends RandomGraphs {
  import RankLoopSpec._
  import spark.implicits._

  private def values(df: DataFrame): Seq[(Long, Seq[Double])] =
    df.collect().map(r => (r.get(0).toString.toLong,
      (1 until r.length).map(r.getDouble))).toSeq.sortBy(_._1)

  /** Runs the operator under three ceilings — the default (broadcast),
    * one whose width-scaled cap is exactly the distinct-source count (the
    * narrow band, whenever some vertex has no out-edge) and 0 (shuffle,
    * unless the graph is empty) — and compares their rows with each
    * other, with `driver`'s when given, and with `reference`'s
    * micro-units. */
  private def agree(g: RandomGraph, width: Int, reference: Map[Long, Seq[Long]],
      driver: Option[() => DataFrame] = None)(run: Long => DataFrame): Prop = {
    val nSrc = g.edges.map(_._1).distinct.size.toLong
    if (nSrc < g.edges.flatMap(e => Seq(e._1, e._2)).distinct.size) narrowGraphs += 1
    val dfs = Seq(GraphAnalytics.maxBroadcastVerticesDyn, (nSrc * width + 1) / 2, 0L).map(run)
    val Seq(bc, narrow, shuffle) = dfs.map(rows)
    val want = reference.toSeq.sortBy(_._1)
      .map { case (v, xs) => (v + g.base, xs.map(_.toDouble / 1e6)) }
    driver.fold(Prop.passed)(d => same(rows(d()), bc, g)) &&
      same(bc, narrow, g) && same(bc, shuffle, g) && same(values(dfs.head), want, g)
  }

  private var narrowGraphs = 0

  /** [[check]], asserting that some graphs had a dst-only vertex, so the
    * middle ceiling really took the narrow band. */
  private def checkBranches(name: String)(prop: RandomGraph => Prop): Unit = {
    narrowGraphs = 0
    check(name)(prop)
    info(s"$name: $narrowGraphs graphs took the narrow band")
    assert(narrowGraphs > 0)
  }

  private def edgesOf(g: RandomGraph): Seq[(Long, Long)] = g.edges.map(e => (e._1, e._2))
  private def rounds(g: RandomGraph): Int = 1 + g.edges.size % 4

  test("pageRankQuantizedDF: broadcast ≡ narrow band ≡ shuffle ≡ reference") {
    checkBranches("pagerank") { g =>
      val e = g.df.select("src", "dst")
      agree(g, 2, pageRank(edgesOf(g), rounds(g), 150000L),
        Some(() => RankLoop.pageRank(e, rounds(g), 0.15)))(
        c => RankLoop.pageRank(e, rounds(g), 0.15, c, localCap = 0L))
    }
  }

  test("personalizedPageRankDF: broadcast ≡ narrow band ≡ shuffle ≡ reference") {
    checkBranches("ppr") { g =>
      val e = g.df.select("src", "dst")
      agree(g, 2, personalized(edgesOf(g), g.sources.toSet, rounds(g), 150000L))(
        c => RankLoop.personalized(e, g.sourceDf, rounds(g), 0.15, c))
    }
  }

  test("pageRankWeightedDF: broadcast ≡ narrow band ≡ shuffle ≡ reference") {
    checkBranches("weighted pagerank") { g =>
      val e = g.df.selectExpr("src", "dst", "w + 1 AS w")
      val weighted = g.edges.map { case (a, b, w) => (a, b, w + 1) }
      agree(g, 4, weightedPageRank(weighted, rounds(g), 150000L),
        Some(() => RankLoop.weighted(e, rounds(g), 0.15)))(
        c => RankLoop.weighted(e, rounds(g), 0.15, c, localCap = 0L))
    }
  }

  test("katzCentralityDF: broadcast ≡ narrow band ≡ shuffle ≡ reference") {
    checkBranches("katz") { g =>
      val e = g.df.select("src", "dst")
      val atten = 2L + g.edges.size % 3
      agree(g, 3, katz(edgesOf(g), rounds(g), atten),
        Some(() => RankLoop.katz(e, rounds(g), atten)))(
        c => RankLoop.katz(e, rounds(g), atten, c, localCap = 0L))
    }
  }

  test("hitsDF: broadcast ≡ narrow band ≡ shuffle ≡ reference") {
    checkBranches("hits") { g =>
      val e = g.df.select("src", "dst")
      agree(g, 2, hits(edgesOf(g), rounds(g)))(c => RankLoop.hits(e, rounds(g), c))
    }
  }

  test("null endpoints or weights take the distributed loop under the cap") {
    // a null row has no driver form: sum-collapse would have to drop it
    // from every count it belongs to. The null key is one vertex on
    // every branch: broadcast, narrow band (the four sources fit, the
    // five vertices do not: 4 is dst-only) and shuffle
    // Each operator reads its own frame (vids shifted by `by`), so none
    // is served the graph another one cached.
    def frame(by: Int) = Seq[(Option[Int], Option[Int], Option[Long])](
      (Some(1), Some(2), Some(1L)), (Some(1), None, Some(2L)), (None, Some(2), Some(1L)),
      (Some(2), Some(3), None), (Some(3), Some(1), Some(3L)), (Some(1), Some(2), Some(1L)),
      (Some(3), Some(4), Some(1L)))
      .map { case (u, v, w) => (u.map(_ + by), v.map(_ + by), w) }
      .toDF("src", "dst", "w")
    val (e, pe, ke) = (frame(0), frame(0).select("src", "dst"), frame(10).select("src", "dst"))
    val default = GraphAnalytics.maxBroadcastVerticesDyn
    Seq[(String, Int, (Long, Long) => DataFrame)](
      ("pagerank", 2, (cap, c) => RankLoop.pageRank(pe, 3, 0.15, c, localCap = cap)),
      ("weighted", 4, (cap, c) => RankLoop.weighted(e, 3, 0.15, c, localCap = cap)),
      ("katz", 3, (cap, c) => RankLoop.katz(ke, 3, 2L, c, localCap = cap))).foreach {
      case (op, width, run) =>
        val (under, underJobs) =
          JobCount(spark.sparkContext)(rows(run(LocalGraph.EdgeCap, default)))
        val (dist, distJobs) = JobCount(spark.sparkContext)(rows(run(0L, default)))
        assert(under == dist, op)
        // the driver gate's collect is the only extra job
        assert(underJobs == distJobs + 1, s"$op: $underJobs jobs under the cap, $distJobs at 0")
        Seq((4L * width + 1) / 2, 0L).foreach(c =>
          assert(rows(run(0L, c)) == dist, s"$op: ceiling $c differs from the default"))
    }
  }

  test("pageRankQuantizedDF on the sf0.001 unified graph: 1 job on the driver") {
    // a fresh session: no other spec's read of these files is cached in it
    val (e, _) = GraphAnalytics.unifiedEdges(
      TpchGraph.load(spark.newSession(), "/root/testdata/sf0.001"))
    val (driver, driverJobs) =
      JobCount(spark.sparkContext)(GraphAnalytics.pageRankQuantizedDF(e, numIter = 10))
    val (dist, distJobs) =
      JobCount(spark.sparkContext)(RankLoop.pageRank(e, 10, 0.15, localCap = 0L))
    // the edge read, which is its own gate
    assert(driverJobs == 1, s"$driverJobs jobs under the cap")
    assert(distJobs == DistributedJobs, s"$distJobs jobs with localCap = 0")
    assert(rows(driver) == rows(dist))
  }

  test("past the cap: at most the distributed loop's jobs plus the stopped read") {
    val (e, _) = GraphAnalytics.unifiedEdges(TpchGraph.load(spark, "/root/testdata/sf0.001"))
    val (past, pastJobs) =
      JobCount(spark.sparkContext)(RankLoop.pageRank(e, 10, 0.15, localCap = 10L))
    val (dist, distJobs) =
      JobCount(spark.sparkContext)(RankLoop.pageRank(e, 10, 0.15, localCap = 0L))
    assert(pastJobs <= distJobs + 1, s"$pastJobs jobs past the cap, $distJobs at 0")
    assert(rows(past) == rows(dist))
  }
}

/** Plain-Scala fixed-point references: dense maps over every vertex,
  * with BigInt where the kernel computes in DECIMAL. Each returns the
  * output's micro-unit integers per vid. */
object RankLoopSpec {
  private val Micro = 1000000L

  /** The distributed loop's jobs for 10 PageRank rounds on the sf0.001
    * unified graph: staging plus the every-third-round and last-round
    * score pins (27 while the edge pin's count was a `Dataset.count`). */
  private val DistributedJobs = 26

  private def vertices(edges: Seq[(Long, Long)]): Set[Long] =
    edges.flatMap(e => Seq(e._1, e._2)).toSet

  private def damped(inSum: Long, reset: Long): Long =
    (BigInt(inSum) * (Micro - reset) / Micro).toLong

  /** Σ contribution(score(u)) over u→v per v, for senders that have a
    * score. */
  private def inSums(edges: Seq[(Long, Long)], score: Map[Long, Long])(
      contrib: (Long, Long, Long) => Long): Map[Long, Long] =
    edges.collect { case (u, v) if score.contains(u) => v -> contrib(u, v, score(u)) }
      .groupMapReduce(_._1)(_._2)(_ + _)

  def pageRank(edges: Seq[(Long, Long)], rounds: Int, reset: Long): Map[Long, Seq[Long]] = {
    val vs = vertices(edges)
    val deg = edges.groupMapReduce(_._1)(_ => 1L)(_ + _)
    val r = (1 to rounds).foldLeft(vs.map(_ -> Micro).toMap) { (r, _) =>
      val in = inSums(edges, r)((u, _, x) => x / deg(u))
      vs.map(v => v -> (reset + damped(in.getOrElse(v, 0L), reset))).toMap
    }
    r.map { case (v, x) => v -> Seq(x) }
  }

  def personalized(edges: Seq[(Long, Long)], sources: Set[Long], numIter: Int,
      reset: Long): Map[Long, Seq[Long]] = {
    val deg = edges.groupMapReduce(_._1)(_ => 1L)(_ + _)
    val r = (1 until numIter).foldLeft(sources.map(_ -> Micro).toMap) { (r, _) =>
      val in = inSums(edges, r)((u, _, x) => x / deg(u))
      (sources ++ in.keySet).map { v =>
        v -> ((if (sources(v)) reset else 0L) + damped(in.getOrElse(v, 0L), reset))
      }.toMap
    }
    r.map { case (v, x) => v -> Seq(x) }
  }

  def weightedPageRank(edges: Seq[(Long, Long, Long)], rounds: Int,
      reset: Long): Map[Long, Seq[Long]] = {
    val w = edges.groupMapReduce(e => (e._1, e._2))(_._3)(_ + _)
    val wsum = w.toSeq.groupMapReduce(_._1._1)(_._2)(_ + _)
    val pairs = w.keys.toSeq
    val vs = vertices(pairs)
    val r = (1 to rounds).foldLeft(vs.map(_ -> Micro).toMap) { (r, _) =>
      val in = inSums(pairs, r)((u, v, x) => x * w((u, v)) / wsum(u))
      vs.map(v => v -> (reset + damped(in.getOrElse(v, 0L), reset))).toMap
    }
    r.map { case (v, x) => v -> Seq(x) }
  }

  def katz(edges: Seq[(Long, Long)], rounds: Int, atten: Long): Map[Long, Seq[Long]] = {
    val vs = vertices(edges)
    val x = (1 to rounds).foldLeft(vs.map(_ -> Micro).toMap) { (x, _) =>
      val in = inSums(edges, x)((_, _, s) => s)
      vs.map(v => v -> (Micro + in.getOrElse(v, 0L) / atten)).toMap
    }
    x.map { case (v, s) => v -> Seq(s) }
  }

  def hits(edges: Seq[(Long, Long)], rounds: Int): Map[Long, Seq[Long]] = {
    val vs = vertices(edges)
    val scale = BigInt(Micro) * vs.size
    def normalized(raw: Map[Long, Long]): Map[Long, Long] = {
      val tot = raw.values.map(BigInt(_)).sum
      raw.map { case (v, x) => v -> (BigInt(x) * scale / tot).toLong }
    }
    val reversed = edges.map(_.swap)
    val (hub, auth) = (1 to rounds).foldLeft((Map.empty[Long, Long], vs.map(_ -> Micro).toMap)) {
      case ((_, auth), _) =>
        val hub = normalized(inSums(reversed, auth)((_, _, a) => a))
        (hub, normalized(inSums(edges, hub)((_, _, h) => h)))
    }
    vs.map(v => v -> Seq(hub.getOrElse(v, 0L), auth.getOrElse(v, 0L))).toMap
  }
}
