package graft.operators

import graft.SparkTestBase
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

class LocalGraphSpec extends SparkTestBase {
  import spark.implicits._

  /** (vid, vid) adjacency pairs and aligned weights, for exact pins. */
  private def edgesOf(g: LocalGraph): Seq[(Long, Long)] =
    g.vids.indices.flatMap(i =>
      (g.offsets(i) until g.offsets(i + 1)).map(j => (g.vids(i), g.vids(g.nbrs(j)))))

  private def collect(df: org.apache.spark.sql.DataFrame, undirected: Boolean,
      weightCol: Option[String] = None,
      extraVids: Option[org.apache.spark.sql.DataFrame] = None): LocalGraph =
    LocalGraph.collect(df, df.count(), LocalGraph.EdgeCap, undirected,
      weightCol, extraVids).get

  test("directed: duplicates collapse, self-loops stay, CSR sorted by (src, dst)") {
    val g = collect(Seq((3L, 1L), (1L, 2L), (3L, 1L), (2L, 2L), (1L, 3L))
      .toDF("src", "dst"), undirected = false)
    assert(g.vids.toSeq == Seq(1L, 2L, 3L))
    assert(g.offsets.toSeq == Seq(0, 2, 3, 4))
    assert(edgesOf(g) == Seq((1L, 2L), (1L, 3L), (2L, 2L), (3L, 1L)))
    assert(g.weights.isEmpty && g.extra.isEmpty && g.vidType == LongType)
  }

  test("undirected doubles every edge and dedups the mirror copies") {
    val g = collect(Seq((1L, 2L), (2L, 1L), (2L, 3L)).toDF("src", "dst"),
      undirected = true)
    assert(edgesOf(g) == Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L)))
  }

  test("parallel weighted edges collapse to their minimum weight; null rows drop") {
    val df = Seq[(java.lang.Long, java.lang.Long, java.lang.Long)](
      (1L, 2L, 7L), (1L, 2L, 3L), (2L, 3L, 5L), (1L, 2L, 4L),
      (2L, 3L, null), (null, 3L, 1L))
      .toDF("src", "dst", "w")
    val g = collect(df, undirected = false, weightCol = Some("w"))
    assert(edgesOf(g) == Seq((1L, 2L), (2L, 3L)))
    assert(g.weights.get.toSeq == Seq(3L, 5L))
    val u = collect(df, undirected = true, weightCol = Some("w"))
    assert(edgesOf(u) == Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L)))
    assert(u.weights.get.toSeq == Seq(3L, 3L, 5L, 5L))
  }

  test("sum-collapse: parallel rows sum their weights or count; a null row gives None") {
    val df = Seq[(java.lang.Long, java.lang.Long, java.lang.Long)](
      (1L, 2L, 7L), (1L, 2L, 3L), (2L, 3L, 5L), (1L, 2L, 4L), (2L, 2L, 1L))
      .toDF("src", "dst", "w")
    def sums(df: org.apache.spark.sql.DataFrame, w: Option[String]) =
      LocalGraph.collect(df, df.count(), LocalGraph.EdgeCap, undirected = false,
        weightCol = w, sumParallel = true)
    val g = sums(df, Some("w")).get
    assert(edgesOf(g) == Seq((1L, 2L), (2L, 2L), (2L, 3L)))
    assert(g.weights.get.toSeq == Seq(14L, 1L, 5L))
    assert(sums(df.select("src", "dst"), None).get.weights.get.toSeq == Seq(3L, 1L, 1L))
    val nulls = Seq[(java.lang.Long, java.lang.Long, java.lang.Long)](
      (1L, 2L, 1L), (2L, 3L, null)).toDF("src", "dst", "w")
    assert(sums(nulls, Some("w")).isEmpty)
    assert(sums(nulls.select("src", "dst"), None).isDefined)
    assert(sums(nulls.select(col("src"), col("w").as("dst")), None).isEmpty)
    assert(sums(df.select(col("src"), col("dst"), col("w").cast("double")), Some("w")).isEmpty)
  }

  test("extra vids join as isolated vertices and widen the vid type") {
    val g = collect(Seq((5, 6)).toDF("src", "dst"), undirected = true,
      extraVids = Some(Seq(9L, 5L, 9L, 1L).toDF("vid")))
    assert(g.vids.toSeq == Seq(1L, 5L, 6L, 9L))
    assert(g.extra.toSeq == Seq(0, 1, 3))
    assert(g.offsets.toSeq == Seq(0, 0, 1, 2, 2))
    assert(g.vidType == LongType)
    val i = collect(Seq((5, 6)).toDF("src", "dst"), undirected = true)
    assert(i.vidType == IntegerType && i.vid(0) == 5)
    val f = i.vertexFrame(spark, "v")
    assert(f.schema == StructType(Seq(StructField("v", IntegerType))))
    assert(f.as[Int].collect().toSeq == Seq(5, 6))
  }

  test("empty edge list: an empty graph, or just the extra vids") {
    val empty = Seq.empty[(Long, Long)].toDF("src", "dst")
    val g = collect(empty, undirected = true)
    assert(g.numVertices == 0 && g.offsets.toSeq == Seq(0) && g.nbrs.isEmpty)
    assert(g.reverse.numVertices == 0)
    val x = collect(empty, undirected = true, extraVids = Some(Seq(4L).toDF("vid")))
    assert(x.vids.toSeq == Seq(4L) && x.extra.toSeq == Seq(0) && x.nbrs.isEmpty)
  }

  test("reverse: in-adjacency with weights carried along") {
    val g = collect(Seq((1L, 2L, 4L), (1L, 3L, 1L), (3L, 2L, 2L)).toDF("src", "dst", "w"),
      undirected = false, weightCol = Some("w"))
    val r = g.reverse
    assert(r.vids.toSeq == g.vids.toSeq)
    assert(edgesOf(r) == Seq((2L, 1L), (2L, 3L), (3L, 1L)))
    assert(r.weights.get.toSeq == Seq(4L, 2L, 1L))
  }

  test("index: binary search over the sorted vids, -1 when absent") {
    val g = collect(Seq((10L, 30L), (30L, 20L)).toDF("src", "dst"), undirected = false)
    assert(Seq(10L, 20L, 30L).map(g.index) == Seq(0, 1, 2))
    assert(Seq(5L, 25L, 40L).map(g.index) == Seq(-1, -1, -1))
  }

  test("None: non-integral vids, rows over the cap, or a non-positive cap") {
    val longs = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
    assert(LocalGraph.collect(Seq(("a", "b")).toDF("src", "dst"), 1, 10,
      undirected = true).isEmpty)
    assert(LocalGraph.collect(longs, 2, 10, undirected = true,
      extraVids = Some(Seq("a").toDF("vid"))).isEmpty)
    assert(LocalGraph.collect(longs.select(col("src").cast("double"), col("dst")), 2, 10,
      undirected = true).isEmpty)
    assert(LocalGraph.collect(longs, 3, 2, undirected = true).isEmpty)
    assert(LocalGraph.collect(longs, 2, 2, undirected = true).isDefined)
    assert(LocalGraph.collect(longs, 0, 0, undirected = true).isEmpty)
  }
}
