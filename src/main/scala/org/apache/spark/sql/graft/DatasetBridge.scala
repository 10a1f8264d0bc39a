package org.apache.spark.sql.graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.{Dataset => ClassicDataset, SparkSession => ClassicSparkSession}

/** Bridge for constructing DataFrames from custom logical plans —
  * `Dataset.ofRows` is `private[sql]`, so custom operators (graft.plans.*)
  * cross through this shim, like [[ColumnBridge]] does for expressions. */
object DatasetBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    ClassicDataset.ofRows(spark.asInstanceOf[ClassicSparkSession], plan)

  def analyzedPlan(df: DataFrame): LogicalPlan = df.queryExecution.analyzed

  /** True LocalRelation DataFrame from driver-collected rows. Unlike
    * `createDataFrame(java.util.List, schema)`, which PARALLELIZES the
    * rows into defaultParallelism partitions (32 near-empty tasks per
    * downstream touch — measured as 288-task stages under a 9-leg walk
    * union), a LocalRelation is a driver-local leaf: broadcasts of it
    * build without a job and unions of per-step frontiers stay local
    * plans. */
  def localRelation(spark: SparkSession,
      schema: org.apache.spark.sql.types.StructType,
      rows: Seq[org.apache.spark.sql.Row]): DataFrame =
    ofRows(spark, org.apache.spark.sql.catalyst.plans.logical.LocalRelation
      .fromExternalRows(
        org.apache.spark.sql.catalyst.types.DataTypeUtils.toAttributes(schema), rows))

  /** Drop the block-manager blocks behind a locally-checkpointed
    * DataFrame (`LogicalRDD` is `private[sql]`). ONLY safe when nothing
    * will read `df` again: a localCheckpoint truncates lineage, so the
    * data is unrecoverable after this. Used to demote an oversized
    * staging pin — re-checkpoint to DISK_ONLY first, then free the
    * memory copy through this. No-op for non-checkpoint plans.
    *
    * Frees through `SparkContext.unpersistRDD` (`private[spark]`), the
    * call `RDD.unpersist` makes after it logs a "locally checkpointed,
    * lineage truncated" WARN for every such RDD: the same blocks and the
    * same `getPersistentRDDs` entry go, without a WARN per freed pin. */
  def unpersistCheckpoint(df: DataFrame): Unit =
    df.queryExecution.analyzed.foreach {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.sparkContext.unpersistRDD(lr.rdd.id, blocking = false)
      case _ => ()
    }

  /** Row count of the physical plan projected to no columns: one job
    * for an exchange-free plan (a parquet scan then reads no column
    * data), where `Dataset.count` plans an aggregate whose exchange
    * adaptive execution runs as a second job. */
  def countRows(df: DataFrame): Long = df.select().queryExecution.toRdd.count()

  /** Frees every persistent RDD of `sc` — the sweep between independent
    * queries — through `SparkContext.unpersistRDD`, as
    * [[unpersistCheckpoint]] does, so a locally checkpointed RDD logs no
    * "lineage truncated" WARN. Each RDD keeps its storage level, which
    * only matters to a caller that reads a swept frame again: a cached
    * Dataset then re-caches its blocks, and a swept checkpoint fails
    * either way. */
  def unpersistAll(sc: org.apache.spark.SparkContext): Unit =
    sc.getPersistentRDDs.keys.foreach(sc.unpersistRDD(_, blocking = false))
}
