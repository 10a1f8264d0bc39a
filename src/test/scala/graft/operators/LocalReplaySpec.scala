package graft.operators

import graft.SparkTestBase
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.rng.Seed
import org.scalacheck.util.Pretty

/** Every [[LocalGraph]] replay against its distributed loop on random
  * graphs: the same schema (names and types) and the same rows. The
  * distributed side is forced through each operator's spec hook —
  * `localStateCap = 0`, or `collectStats = true` for MIS. */
class LocalReplaySpec extends SparkTestBase {
  import spark.implicits._

  /** Up to 40 edges over a small vid range, so parallel edges and
    * self-loops are common, sometimes none; vids are int or long (long
    * ones offset past the int range); sources may be isolated. */
  case class RandomGraph(edges: Seq[(Long, Long, Long)], vidType: String,
      sources: Seq[Long], sourceType: String) {
    private val base = if (vidType == "long") 1L << 40 else 0L
    def df: DataFrame = edges.toDF("src", "dst", "w").select(
      (col("src") + base).cast(vidType).as("src"),
      (col("dst") + base).cast(vidType).as("dst"), col("w"))
    def sourceDf: DataFrame = sources.toDF("vid")
      .select((col("vid") + base).cast(sourceType).as("vid"))
  }

  private val genGraph: Gen[RandomGraph] = for {
    span <- Gen.choose(1, 12)
    m <- Gen.frequency(1 -> Gen.const(0), 6 -> Gen.choose(1, 40))
    edges <- Gen.listOfN(m, for {
      a <- Gen.choose(0L, span.toLong)
      b <- Gen.frequency(1 -> Gen.const(a), 6 -> Gen.choose(0L, span.toLong))
      w <- Gen.choose(0L, 5L)
    } yield (a, b, w))
    vidType <- Gen.oneOf("int", "long")
    sources <- Gen.nonEmptyListOf(Gen.choose(0L, span + 3L)).map(_.take(3))
    sourceType <- Gen.oneOf(vidType, "long")
  } yield RandomGraph(edges, vidType, sources, sourceType)

  private def rows(df: DataFrame): (Seq[(String, String)], Seq[String]) =
    (df.schema.map(f => (f.name, f.dataType.simpleString)),
      df.collect().map(_.toSeq.map(v => s"$v:${v.getClass.getSimpleName}")
        .mkString(",")).toSeq.sorted)

  /** Checks `prop` over 20 random graphs with a fixed seed. */
  private def check(name: String)(prop: RandomGraph => Prop): Unit = {
    val t0 = System.nanoTime()
    val res = Test.check(Test.Parameters.default.withMinSuccessfulTests(20)
      .withWorkers(1).withInitialSeed(Seed(20261017L)),
      Prop.forAllNoShrink(genGraph)(prop))
    info(f"$name: 20 graphs in ${(System.nanoTime() - t0) / 1e9}%.1f s")
    assert(res.passed, Pretty.pretty(res))
  }

  private def same[A](local: A, dist: A, g: RandomGraph): Prop =
    Prop(local == dist) :| s"local=$local\ndistributed=$dist\ngraph=$g"

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
