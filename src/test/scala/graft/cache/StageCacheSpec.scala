package graft.cache

import java.nio.file.{Files, Paths, StandardCopyOption}

import graft.{SparkEntry, SparkTestBase, Tables, WarnLines}
import graft.operators.{Bpe, GraphAnalytics, LocalGraph, Similarity}
import org.apache.spark.graft.JobCount
import org.apache.spark.sql.graft.DatasetBridge
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** StageCache on a scratch copy of sf0.001: a corpus rewritten under the
  * same path is never served stale, sessions do not share entries, the
  * Bench unpersist sweep cannot break a cached checkpointed frame and
  * logs no WARN for it, an unchanged input hits, and an input that can
  * change under the same plan is never cached. */
class StageCacheSpec extends SparkTestBase {

  private val Source = Paths.get("/root/testdata/sf0.001")

  /** A test run on a fresh corpus dir holding copies of the sf0.001
    * tables the specs use; the dir is deleted afterwards. */
  private def corpusTest(name: String,
      tables: Seq[String] = Seq("orders", "customer", "embeddings", "documents"))(
      body: String => Unit): Unit = test(name) {
    val dir = Files.createTempDirectory("graft_stage_cache_spec")
    try {
      tables.foreach { t =>
        Files.copy(Source.resolve(s"$t.parquet"), dir.resolve(s"$t.parquet"))
      }
      body(dir.toString)
    } finally graft.tools.Fs.deleteRecursively(dir.toString)
  }

  /** Rewrite `dir/table.parquet` in place with the rows `keep` selects. */
  private def rewrite(dir: String, table: String)(keep: DataFrame => DataFrame): Long = {
    val tmp = s"$dir/.$table.rewrite"
    val kept = keep(Tables(spark, dir, table))
    kept.write.parquet(tmp)
    val target = Paths.get(dir, s"$table.parquet")
    Files.delete(target)
    Files.move(Paths.get(tmp), target, StandardCopyOption.ATOMIC_MOVE)
    spark.read.parquet(target.toString).count()
  }

  private def run(name: String, dir: String): Array[Row] =
    SparkEntry.queries(name)(spark, dir).collect()

  private def sorted(rows: Array[Row]): Seq[String] = rows.map(_.toString).toSeq.sorted

  corpusTest("g_csv_typed reports the rewritten orders row count") { dir =>
    assert(run("g_csv_typed", dir).head.getAs[Long]("n_rows") == 1500L)
    val n = rewrite(dir, "orders")(_.where(col("o_orderkey") % 2 === 0))
    assert(n > 0 && n < 1500)
    assert(run("g_csv_typed", dir).head.getAs[Long]("n_rows") == n)
  }

  corpusTest("ss_pq_topk returns only neighbours present in the rewritten corpus") { dir =>
    val before = run("ss_pq_topk", dir)
    assert(before.nonEmpty)
    rewrite(dir, "embeddings")(_.where(col("vec_id") < 10 || col("vec_id") % 2 === 0))
    val live = Tables(spark, dir, "embeddings").select("vec_id").collect()
      .map(_.get(0).toString).toSet
    val after = run("ss_pq_topk", dir)
    assert(after.nonEmpty)
    val absent = after.map(_.getAs[Any]("neighbor_id").toString).filterNot(live)
    assert(absent.isEmpty, s"neighbours no longer in the corpus: ${absent.mkString(",")}")
  }

  corpusTest("dd_semantic and tx_bpe_merges retrain on a rewritten corpus") { dir =>
    def sdModel = Similarity.trainIvf(Tables(spark, dir, "embeddings"), "embedding",
      nCells = 16, seed = 13L, sampleRows = 4096)
    def bpeModel = Bpe.train(Tables(spark, dir, "documents"), "text", 32)
    run("dd_semantic", dir)
    run("tx_bpe_merges", dir)
    val (oldSd, oldBpe) = (sdModel, bpeModel)
    rewrite(dir, "embeddings")(_.where(col("vec_id") % 3 =!= 0))
    rewrite(dir, "documents")(_.where(col("doc_id") % 2 === 0))
    val e = Tables(spark, dir, "embeddings")
    def dedup(m: Similarity.IvfModel) =
      sorted(Similarity.semanticDedup(e, "vec_id", "embedding", m, threshold = 0.3).collect())
    val (newSd, newBpe) = (sdModel, bpeModel)
    // the rewrite must change both models, or the checks below prove nothing
    assert(dedup(newSd) != dedup(oldSd))
    assert(newBpe != oldBpe)
    assert(sorted(run("dd_semantic", dir)) == dedup(newSd))
    assert(sorted(run("tx_bpe_merges", dir)) ==
      sorted(Bpe.mergeTable(spark, newBpe).collect()))
  }

  corpusTest("stageWalkAdjacency restages a rewritten edge input") { dir =>
    def edges = Tables(spark, dir, "orders")
      .select(col("o_custkey").as("src"), col("o_orderkey").as("dst"))
    // the stage drops self-loops and doubles the rest
    def doubledRows = 2 * edges.where(col("src") =!= col("dst")).count()
    def stageRows(d: String) = spark.read.parquet(d).count()
    val (d1, _) = GraphAnalytics.stageWalkAdjacency(edges, "src", "dst", undirected = true)
    val (again, _) = GraphAnalytics.stageWalkAdjacency(edges, "src", "dst", undirected = true)
    assert(again == d1)
    assert(stageRows(d1) == doubledRows)
    rewrite(dir, "orders")(_.where(col("o_orderkey") % 2 === 0))
    val (d2, _) = GraphAnalytics.stageWalkAdjacency(edges, "src", "dst", undirected = true)
    assert(d2 != d1)
    assert(stageRows(d2) == doubledRows)
    assert(stageRows(d2) < stageRows(d1))
  }

  corpusTest("a second session does not see the first session's entries") { dir =>
    val other = spark.newSession()
    var computed = 0
    def probe(s: SparkSession): Int =
      StageCache.getOrCompute(s, "spec.probe", 1, Tables(s, dir, "orders")) {
        computed += 1
        computed
      }
    assert(probe(spark) == 1)
    assert(probe(spark) == 1)
    assert(probe(other) == 2)
    assert(probe(other) == 2)
    def edges(s: SparkSession) = Tables(s, dir, "orders")
      .select(col("o_custkey").as("src"), col("o_orderkey").as("dst"))
    val (d1, _) = GraphAnalytics.stageWalkAdjacency(edges(spark), "src", "dst", undirected = false)
    val (d2, _) = GraphAnalytics.stageWalkAdjacency(edges(other), "src", "dst", undirected = false)
    assert(d1 != d2)
  }

  corpusTest("cached checkpointed code tables survive a Bench-style unpersist sweep") { dir =>
    val keys = Seq("ss_pq_topk", "ss_ivfpq_topk")
    val before = keys.map(k => sorted(run(k, dir)))
    DatasetBridge.unpersistAll(spark.sparkContext)
    val after = keys.map(k => sorted(run(k, dir)))
    assert(after == before)
  }

  private val Truncated = "was locally checkpointed, its lineage has been truncated"

  test("the Bench sweep frees local checkpoints without a lineage-truncated WARN") {
    val pins = Seq(spark.range(100).selectExpr("id * 2 AS x").localCheckpoint(true),
      spark.range(100).selectExpr("id * 3 AS x").persist())
    pins.foreach(_.count())
    // the catcher sees the WARN when a checkpoint is freed by RDD.unpersist
    val control = spark.range(10).toDF().localCheckpoint(true)
    val controlRdd = DatasetBridge.analyzedPlan(control)
      .collectFirst { case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd }.get
    assert(WarnLines.during(controlRdd.unpersist(blocking = true)).exists(_.contains(Truncated)))
    assert(spark.sparkContext.getPersistentRDDs.size >= 2)
    val warns = WarnLines.during(DatasetBridge.unpersistAll(spark.sparkContext))
    assert(!warns.exists(_.contains(Truncated)), warns.mkString("\n"))
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
  }

  corpusTest("an unchanged input hits: the warm call runs fewer jobs") { dir =>
    val (cold, coldJobs) = JobCount(spark.sparkContext)(sorted(run("dd_semantic", dir)))
    val (warm, warmJobs) = JobCount(spark.sparkContext)(sorted(run("dd_semantic", dir)))
    assert(warm == cold)
    assert(warmJobs < coldJobs, s"cold $coldJobs jobs, warm $warmJobs")
  }

  corpusTest("g_pagerank and g_betweenness reflect a rewritten lineitem",
      Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem")) { dir =>
    val keys = Seq("g_pagerank", "g_betweenness")
    val before = keys.map(k => sorted(run(k, dir)))
    rewrite(dir, "lineitem")(_.where(col("l_orderkey") % 2 === 0))
    val after = keys.map(k => sorted(run(k, dir)))
    // a new session has no cached graph: what an uncached read returns
    val fresh = spark.newSession()
    val want = keys.map(k => sorted(SparkEntry.queries(k)(fresh, dir).collect()))
    keys.indices.foreach { i =>
      assert(after(i) != before(i), s"${keys(i)}: the rewrite changed nothing")
      assert(after(i) == want(i), s"${keys(i)}: served the graph of the old lineitem")
    }
  }

  test("an edge frame with a nondeterministic or clock-reading filter is read on every call") {
    val s = spark.newSession()
    def edges = s.range(0L, 250L, 1L, 4).select(col("id").as("src"), (col("id") + 1).as("dst"))
    val sometimes = udf((id: Long) => id >= 0).asNondeterministic()
    def reads(e: => DataFrame): Seq[Int] = (1 to 2).map(_ => JobCount(spark.sparkContext)(
      LocalGraph.collect(e, LocalGraph.EdgeCap, undirected = false))._2)
    assert(reads(edges) == Seq(1, 0))
    assert(reads(edges.where(rand(3) >= 0)) == Seq(1, 1))
    assert(reads(edges.where(sometimes(col("src")))) == Seq(1, 1))
    assert(reads(edges.where(current_timestamp() > lit("2000-01-01").cast("timestamp"))) ==
      Seq(1, 1))
  }
}
