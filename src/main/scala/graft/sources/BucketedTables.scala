package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Bucketed-table layout for co-located joins (SURVEY §4).
  *
  * At 100 TB the dominant cost of fact-to-fact joins is the shuffle. When
  * both sides are written bucketed (and sorted) on the join key with the
  * same bucket count, Spark's scan-time bucketing makes the join a
  * zero-exchange sort-merge join: each task reads bucket i of both sides.
  * This is the "pre-partition once, join many times" pattern for node/edge
  * tables keyed by vertex id.
  */
object BucketedTables {

  def writeBucketed(df: DataFrame, table: String, key: String, buckets: Int,
      sorted: Boolean = true, path: Option[String] = None): Unit = {
    var w = df.write.mode("overwrite").format("parquet").bucketBy(buckets, key)
    path.foreach(p => w = w.option("path", p)) // external table — explicit location
    (if (sorted) w.sortBy(key) else w).saveAsTable(table)
  }

  /** Join two same-bucketed tables on their bucket key — planner elides
    * both exchanges (verified in BucketedTablesSpec). */
  def coLocatedJoin(spark: SparkSession, left: String, right: String,
      key: String): DataFrame =
    spark.table(left).join(spark.table(right), key)
}
