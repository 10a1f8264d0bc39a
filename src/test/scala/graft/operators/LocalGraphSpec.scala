package graft.operators

import graft.SparkTestBase
import graft.cache.StageCache
import org.apache.spark.graft.JobCount
import org.apache.spark.sql.{DataFrame, SparkSession}
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
    LocalGraph.collect(df, LocalGraph.EdgeCap, undirected, weightCol, extraVids).get

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
      LocalGraph.collect(df, LocalGraph.EdgeCap, undirected = false,
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
    assert(i.vidType == IntegerType)
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
    assert(LocalGraph.collect(Seq(("a", "b")).toDF("src", "dst"), 10,
      undirected = true).isEmpty)
    assert(LocalGraph.collect(longs, 10, undirected = true,
      extraVids = Some(Seq("a").toDF("vid"))).isEmpty)
    assert(LocalGraph.collect(longs.select(col("src").cast("double"), col("dst")), 10,
      undirected = true).isEmpty)
    assert(LocalGraph.collect(longs, 1, undirected = true).isEmpty)
    assert(LocalGraph.collect(longs, 2, undirected = true).isDefined)
    val (none, jobs) = JobCount(spark.sparkContext)(
      LocalGraph.collect(longs, 0, undirected = true))
    assert(none.isEmpty && jobs == 0, s"cap 0 ran $jobs jobs")
  }

  test("a non-integral weight gives None under either collapse") {
    val df = Seq((1L, 2L, 1.5), (2L, 3L, 2.0)).toDF("src", "dst", "w")
    Seq(false, true).foreach { sum =>
      assert(LocalGraph.collect(df, LocalGraph.EdgeCap, undirected = false,
        weightCol = Some("w"), sumParallel = sum).isEmpty, s"sumParallel = $sum")
      assert(LocalGraph.collect(df.select(col("src"), col("dst"),
        col("w").cast("decimal(10,2)").as("w")), LocalGraph.EdgeCap, undirected = false,
        weightCol = Some("w"), sumParallel = sum).isEmpty, s"DECIMAL, sumParallel = $sum")
    }
  }

  /** `rows` (i, i + 1) edges spread over 64 partitions. */
  private def spread(rows: Long): org.apache.spark.sql.DataFrame =
    spark.range(0L, rows, 1L, 64).select(col("id").as("src"), (col("id") + 1).as("dst"))

  test("gate: exactly cap rows is Some in one job") {
    val (g, jobs) = JobCount(spark.sparkContext)(
      LocalGraph.collect(spread(500), 500, undirected = false))
    assert(jobs == 1, s"$jobs jobs")
    assert(g.get.vids.toSeq == (0L to 500L) && g.get.nbrs.length == 500)
  }

  test("gate: cap + 1 rows is None in at most one job, and stops early") {
    val (g, jobs) = JobCount(spark.sparkContext)(
      LocalGraph.collect(spread(501), 500, undirected = false))
    assert(g.isEmpty && jobs <= 1, s"$jobs jobs")
    // far past the cap a task packs nothing: the job ends without
    // shipping a million rows, and the context stays usable
    val (big, bigJobs) = JobCount(spark.sparkContext)(
      LocalGraph.collect(spark.range(0L, 1000000L, 1L, 64)
        .select(col("id").as("src"), col("id").as("dst")), 1000, undirected = true))
    assert(big.isEmpty && bigJobs <= 1, s"$bigJobs jobs")
    assert(spread(10).count() == 10)
  }

  test("gate: null-endpoint rows count toward the cap; min-collapse drops them") {
    val e = spark.range(0L, 200L, 1L, 50).select(
      when(col("id") % 4 === 0, lit(null)).otherwise(col("id")).as("src"),
      (col("id") + 1).as("dst"))
    assert(LocalGraph.collect(e, 199, undirected = false).isEmpty)
    val g = LocalGraph.collect(e, 200, undirected = false).get
    val kept = (0L until 200L).filter(_ % 4 != 0)
    assert(edgesOf(g) == kept.map(i => (i, i + 1)))
    assert(g.vids.toSeq == kept.flatMap(i => Seq(i, i + 1)).distinct.sorted)
  }

  test("gate: a null under sum-collapse gives None") {
    val e = spark.range(0L, 200L, 1L, 50).select(col("id").as("src"),
      when(col("id") === 123, lit(null)).otherwise(col("id") + 1).as("dst"))
    assert(LocalGraph.collect(e, LocalGraph.EdgeCap, undirected = false,
      sumParallel = true).isEmpty)
    assert(LocalGraph.collect(e, LocalGraph.EdgeCap, undirected = false).isDefined)
  }

  test("Byte, Short and Int vid columns give the same graph as Long") {
    val e = spark.range(0L, 120L, 1L, 50).select((col("id") % 37).as("src"),
      (col("id") * 7 % 41).as("dst"), (col("id") % 5 + 1).as("w"))
    val want = LocalGraph.collect(e, LocalGraph.EdgeCap, undirected = true,
      weightCol = Some("w")).get
    Seq(ByteType, ShortType, IntegerType).foreach { t =>
      val g = LocalGraph.collect(e.select(col("src").cast(t), col("dst").cast(t),
        col("w").cast(t)), LocalGraph.EdgeCap, undirected = true, weightCol = Some("w")).get
      assert(g.vidType == t)
      assert(g.vids.toSeq == want.vids.toSeq && g.offsets.toSeq == want.offsets.toSeq &&
        g.nbrs.toSeq == want.nbrs.toSeq && g.weights.get.toSeq == want.weights.get.toSeq, t)
    }
  }

  /** `rows` (i, i + 1) edges over 8 partitions of `s`'s range. */
  private def chain(s: SparkSession, rows: Long): DataFrame =
    s.range(0L, rows, 1L, 8).select(col("id").as("src"), (col("id") + 1).as("dst"))

  // the cache specs read in a fresh session, whose StageCache entries no
  // other spec can have made

  test("cache: a second collect of the same frame runs no job and returns the same arrays") {
    val s = spark.newSession()
    def run() = JobCount(spark.sparkContext)(
      LocalGraph.collect(chain(s, 300), LocalGraph.EdgeCap, undirected = true))
    val (g, jobs) = run()
    val (again, againJobs) = run()
    assert(jobs == 1 && againJobs == 0, s"$jobs then $againJobs jobs")
    assert(again.get.vids.toSeq == g.get.vids.toSeq && again.get.offsets.toSeq ==
      g.get.offsets.toSeq && again.get.nbrs.toSeq == g.get.nbrs.toSeq)
    assert(again.get eq g.get)
  }

  test("cache: a different cap gets its own entry") {
    val s = spark.newSession()
    def run(cap: Long) = JobCount(spark.sparkContext)(
      LocalGraph.collect(chain(s, 300), cap, undirected = false))._2
    assert(Seq(300L, 400L, 300L, 400L).map(run) == Seq(1, 1, 0, 0))
  }

  test("cache: an over-cap result repeats with no job") {
    val s = spark.newSession()
    val runs = (1 to 2).map(_ => JobCount(spark.sparkContext)(
      LocalGraph.collect(chain(s, 300), 100, undirected = false)))
    assert(runs.forall(_._1.isEmpty))
    assert(runs.map(_._2) == Seq(1, 0))
  }

  test("cache: the least recently used graphs are evicted past the byte budget") {
    val s = spark.newSession()
    def run(rows: Long) = JobCount(spark.sparkContext)(
      LocalGraph.collect(chain(s, rows), LocalGraph.EdgeCap, undirected = false))
    val Seq(a, b, c) = Seq(100L, 200L, 300L).map(run(_)._1.get)
    assert(run(100L)._2 == 0) // a is now the most recently used
    StageCache.evict(a.sizeInBytes + c.sizeInBytes)
    assert(Seq(300L, 100L, 200L).map(run(_)._2) == Seq(0, 0, 1))
    assert(a.sizeInBytes == 8L * 101 + 4L * 102 + 4L * 100)
  }
}
