package org.apache.spark.sql.graft

import java.io.{InputStream, OutputStream}

import org.apache.spark.SparkEnv
import org.apache.spark.io.CompressionCodec
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.SpecificInternalRow
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Statistics}
import org.apache.spark.sql.catalyst.plans.logical.statsEstimation.EstimationUtils
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.classic.{Dataset => ClassicDataset, SparkSession => ClassicSparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.types._

/** Bridge for constructing DataFrames from custom logical plans —
  * `Dataset.ofRows` is `private[sql]`, so custom operators (graft.plans.*)
  * cross through this shim, like [[ColumnBridge]] does for expressions. */
object DatasetBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    ClassicDataset.ofRows(spark.asInstanceOf[ClassicSparkSession], plan)

  def analyzedPlan(df: DataFrame): LogicalPlan = df.queryExecution.analyzed

  /** True LocalRelation DataFrame from a few driver-collected rows: walk
    * frontiers, per-round MIS/JP state, one-row tables. Unlike
    * `createDataFrame(java.util.List, schema)`, which PARALLELIZES the
    * rows into defaultParallelism partitions (32 near-empty tasks per
    * downstream touch — measured as 288-task stages under a 9-leg walk
    * union), a LocalRelation is a driver-local leaf: broadcasts of it
    * build without a job and unions of per-step frontiers stay local
    * plans. Its scan serializes the rows into its tasks, so V-row replay
    * outputs go through [[arrayFrame]] instead. */
  def localRelation(spark: SparkSession, schema: StructType,
      rows: Seq[org.apache.spark.sql.Row]): DataFrame =
    ofRows(spark, org.apache.spark.sql.catalyst.plans.logical.LocalRelation
      .fromExternalRows(DataTypeUtils.toAttributes(schema), rows))

  /** A driver-built frame served from ONE broadcast of its columns — the
    * output of a driver replay (V rows). `columns` holds one primitive
    * array per field of `schema`, all of one length: `Array[Long]` for a
    * Byte/Short/Int/Long field (narrowed per row) or `Array[Double]` for
    * a DOUBLE one. No value is null. The scan is a `LogicalRDD` over the
    * slices `LocalTableScanExec` would cut, so no row rides inside a task
    * closure, and it carries LocalRelation's exact `Statistics` (size per
    * row times the row count), so join planning sees the real size. A
    * broadcast join that builds on it runs one job where a LocalRelation
    * build ran none. */
  def arrayFrame(spark: SparkSession, schema: StructType, columns: Seq[AnyRef]): DataFrame = {
    require(columns.size == schema.size, s"${columns.size} columns for $schema")
    val n = columns.headOption.fold(0)(java.lang.reflect.Array.getLength)
    val sc = spark.sparkContext
    val slices = math.min(math.max(n, 1), sc.defaultParallelism)
    val values = sc.broadcast(columns.toArray)
    val types = schema.map(_.dataType)
    val rdd = sc.parallelize(0 until slices, slices).mapPartitions { it =>
      val row = new SpecificInternalRow(types)
      val set: Array[Int => Unit] = types.zip(values.value).zipWithIndex.toArray.map {
        case ((ByteType, a: Array[Long]), c) => (i: Int) => row.setByte(c, a(i).toByte)
        case ((ShortType, a: Array[Long]), c) => (i: Int) => row.setShort(c, a(i).toShort)
        case ((IntegerType, a: Array[Long]), c) => (i: Int) => row.setInt(c, a(i).toInt)
        case ((LongType, a: Array[Long]), c) => (i: Int) => row.setLong(c, a(i))
        case ((DoubleType, a: Array[Double]), c) => (i: Int) => row.setDouble(c, a(i))
        case ((t, a), _) => throw new IllegalArgumentException(s"$t from ${a.getClass}")
      }
      it.flatMap(s => Iterator.range((s.toLong * n / slices).toInt,
        ((s + 1).toLong * n / slices).toInt).map { i => set.foreach(_(i)); row: InternalRow })
    }
    val attrs = DataTypeUtils.toAttributes(schema)
    ofRows(spark, LogicalRDD(attrs, rdd)(spark.asInstanceOf[ClassicSparkSession],
      Some(Statistics(EstimationUtils.getSizePerRow(attrs) * n, Some(BigInt(n))))))
  }

  /** `out` compressed with Spark's configured I/O codec, as
    * `SparkPlan.executeCollect` compresses its task results. */
  def compressed(out: OutputStream): OutputStream =
    CompressionCodec.createCodec(SparkEnv.get.conf).compressedOutputStream(out)

  /** Reads what [[compressed]] wrote. */
  def decompressed(in: InputStream): InputStream =
    CompressionCodec.createCodec(SparkEnv.get.conf).compressedInputStream(in)

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
