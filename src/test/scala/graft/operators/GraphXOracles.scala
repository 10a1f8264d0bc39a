package graft.operators

import graft.model.PropertyGraph
import org.apache.spark.graphx.{Edge, Graph}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** GraphX reference operators over the unified graph
  * ([[GraphAnalytics.unifiedEdges]]): the oracles the DataFrame operators
  * are checked against in [[GraphAnalyticsSpec]]. */
object GraphXOracles {
  def toGraphX(edges: DataFrame): Graph[Int, Int] = {
    val edgeRdd: RDD[Edge[Int]] = edges.select(col("src"), col("dst")).rdd
      .map(r => Edge(r.getLong(0), r.getLong(1), 1))
    Graph.fromEdges(edgeRdd, defaultValue = 0)
  }

  /** Static PageRank over the unified graph. */
  def pageRank(g: PropertyGraph, numIter: Int = 10, resetProb: Double = 0.15): DataFrame = {
    val (edges, labels) = GraphAnalytics.unifiedEdges(g)
    val spark = edges.sparkSession
    val ranks = toGraphX(edges).staticPageRank(numIter, resetProb).vertices
    import spark.implicits._
    GraphAnalytics.decode(ranks.toDF("vid", "pagerank"), "vid", labels)
      .select(col("label"), col("node_id"), col("pagerank"))
  }

  /** Connected components (undirected) via GraphX. */
  def connectedComponents(g: PropertyGraph): DataFrame = {
    val (edges, labels) = GraphAnalytics.unifiedEdges(g)
    val spark = edges.sparkSession
    val cc = toGraphX(edges).connectedComponents().vertices
    import spark.implicits._
    GraphAnalytics.decode(cc.toDF("vid", "component"), "vid", labels)
      .select(col("label"), col("node_id"), col("component"))
  }

  /** Per-vertex triangle counts via GraphX (canonicalized edges). */
  def triangleCounts(g: PropertyGraph): DataFrame = {
    val (edges, labels) = GraphAnalytics.unifiedEdges(g)
    val spark = edges.sparkSession
    val canonical = edges.where(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("src"), greatest(col("src"), col("dst")).as("dst"))
      .distinct()
    val tc = toGraphX(canonical).triangleCount().vertices
    import spark.implicits._
    GraphAnalytics.decode(tc.toDF("vid", "triangles"), "vid", labels)
      .select(col("label"), col("node_id"), col("triangles").cast("long").as("triangles"))
  }
}
