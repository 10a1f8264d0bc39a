package graft.operators

import graft.SparkTestBase
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.rng.Seed
import org.scalacheck.util.Pretty

/** One seeded random-graph generator for the specs that compare two
  * implementations of an operator row for row. */
trait RandomGraphs extends SparkTestBase {
  import spark.implicits._

  /** Up to 40 edges over a small vid range, so parallel edges and
    * self-loops are common, sometimes none; vids are int or long (long
    * ones offset past the int range); sources may be isolated. */
  case class RandomGraph(edges: Seq[(Long, Long, Long)], vidType: String,
      sources: Seq[Long], sourceType: String) {
    val base: Long = if (vidType == "long") 1L << 40 else 0L
    def df: DataFrame = edges.toDF("src", "dst", "w").select(
      (col("src") + base).cast(vidType).as("src"),
      (col("dst") + base).cast(vidType).as("dst"), col("w"))
    def sourceDf: DataFrame = sources.toDF("vid")
      .select((col("vid") + base).cast(sourceType).as("vid"))
  }

  protected val genGraph: Gen[RandomGraph] = for {
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

  /** Schema (names and types) and sorted rows, each value tagged with
    * its class (a null with none). */
  protected def rows(df: DataFrame): (Seq[(String, String)], Seq[String]) =
    (df.schema.map(f => (f.name, f.dataType.simpleString)),
      df.collect().map(_.toSeq.map(v => s"$v:${Option(v).fold("")(_.getClass.getSimpleName)}")
        .mkString(",")).toSeq.sorted)

  /** Checks `prop` over 20 random graphs with a fixed seed. */
  protected def check(name: String)(prop: RandomGraph => Prop): Unit = {
    val t0 = System.nanoTime()
    val res = Test.check(Test.Parameters.default.withMinSuccessfulTests(20)
      .withWorkers(1).withInitialSeed(Seed(20261017L)),
      Prop.forAllNoShrink(genGraph)(prop))
    info(f"$name: 20 graphs in ${(System.nanoTime() - t0) / 1e9}%.1f s")
    assert(res.passed, Pretty.pretty(res))
  }

  protected def same[A](a: A, b: A, g: RandomGraph): Prop =
    Prop(a == b) :| s"first=$a\nsecond=$b\ngraph=$g"
}
