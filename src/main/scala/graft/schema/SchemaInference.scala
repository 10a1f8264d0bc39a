package graft.schema

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed schema/metadata inference — the engine-side analog of
  * `apoc.meta.data` (neo4j_export.py:58-81).
  *
  * The reference asks the database for per-label property metadata; here
  * we compute it from the data itself in ONE aggregation pass per table
  * (a map-side-combinable `count(col)` per column + `count(*)`), so the
  * cost is a single scan regardless of column count — no per-property
  * scans, no driver-side row iteration. At 100 TB this is the only shape
  * that works: one job, partial aggregation, tiny (1-row) result.
  */
object SchemaInference {

  final case class ColumnStats(name: String, typeToken: String, total: Long, nonNull: Long)

  /** One aggregation pass: per-column non-null counts + total row count. */
  def columnStats(df: DataFrame): Seq[ColumnStats] = {
    val cols = df.columns.toSeq
    val aggs = count(lit(1)).as("__total") +: cols.map(c => count(col(c)).as(s"__nn_$c"))
    val row = df.agg(aggs.head, aggs.tail: _*).head()
    val total = row.getLong(0)
    cols.zipWithIndex.map { case (c, i) =>
      ColumnStats(c, TypeInference.fromCatalyst(df.schema(c).dataType), total, row.getLong(i + 1))
    }
  }

  /** ANALYZE-style column profile: per column, null count, exact distinct
    * count, and min/max (rendered as strings so one schema carries every
    * column type; the reference scans per property — neo4j_export.py:58-81
    * walks sampled rows).
    *
    * Plan shape: one aggregation BRANCH per column, unioned — deliberately
    * NOT a single agg carrying N `count_distinct`s. N distinct aggregates
    * in one Aggregate trigger Catalyst's RewriteDistinctAggregates, which
    * Expands every input row (N+1)× and pushes the blown-up set through a
    * double aggregation — measured at sf1 as a 100× slowdown (40.5 s vs
    * 0.35 s on 1.5M-row orders). A branch per column reads just that
    * column (columnar parquet: N one-column scans ≈ one full-row scan in
    * bytes), plans the single distinct as a cheap two-phase partial agg,
    * and the branches schedule concurrently inside one job. At 100 TB
    * swap the exact distinct for the one-buffer DataSketches HLL that
    * IdentifierDetector's rule-4 screen uses (`hll_sketch_agg` over a
    * hashed long), not Spark's built-in HLL++ distinct-count aggregate:
    * that one lays its registers out as separate `LongType` buffer fields
    * (410 per column at rsd 0.02), which every partial and final
    * aggregate and every task binary carries. Exact kept here because
    * exactness is what the cross-engine oracle can check. */
  def profile(df: DataFrame): DataFrame = {
    df.columns.toSeq.map { c =>
      df.select(col(c))
        .agg(count(lit(1)).as("__total"), count(col(c)).as("__nn"),
          count_distinct(col(c)).as("__nd"),
          min(col(c)).cast("string").as("__min"),
          max(col(c)).cast("string").as("__max"))
        .select(lit(c).as("column_name"),
          (col("__total") - col("__nn")).as("n_nulls"),
          col("__nd").as("n_distinct"),
          col("__min").as("min_value"),
          col("__max").as("max_value"))
    }.reduce(_.unionAll(_))
  }
}
