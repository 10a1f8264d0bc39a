package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Loader for the test star schema — one parquet per table under a
  * scale-factor directory. */
object Tables {
  def apply(spark: SparkSession, dir: String, name: String): DataFrame =
    parquet(spark, s"$dir/$name.parquet")

  /** `spark.read.parquet(path)` without its schema job: the one footer
    * schema inference reads is read on the driver
    * ([[org.apache.spark.sql.execution.datasources.parquet.FooterSchemaParquetFileFormat]]).
    * Same schema, same plan, no Spark job until the frame is used. */
  def parquet(spark: SparkSession, path: String): DataFrame =
    spark.read.format(FooterSchemaFormat).load(path)

  private val FooterSchemaFormat = classOf[
    org.apache.spark.sql.execution.datasources.parquet.FooterSchemaParquetFileFormat].getName

  /** Queries treat `events.ts` as int64 *nanoseconds* since epoch
    * (EventQueries contract; bit-exact with DuckDB `epoch_ns(ts)`). The
    * generated parquet's physical encoding has changed across testdata
    * regenerations (TIMESTAMP(NANOS) ↔ timestamp[us]), so the loader
    * adapts to whatever it finds instead of assuming one encoding:
    *
    *  - int64 via `nanosAsLong` (TIMESTAMP(NANOS) files): already ns.
    *  - TIMESTAMP (µs, UTC-adjusted): `unix_micros * 1000`.
    *  - TIMESTAMP_NTZ (µs, no zone — what pyarrow `timestamp[us]`
    *    becomes): rebuilt from wall-clock fields; see [[tsToNanos]].
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = parquet(spark, s"$dir/events.parquet")
    raw.withColumn("ts", tsToNanos(raw.schema("ts").dataType, col("ts")))
  }

  /** Column expression converting a `ts` column of physical type `dt` to
    * int64 epoch-nanoseconds, independent of the session timezone.
    *
    * The NTZ branch deliberately avoids `cast(ts as timestamp)` — that
    * cast interprets the wall clock in the session timezone and would
    * shift the epoch value by the zone offset. Instead the epoch is
    * rebuilt from the date/hour/minute/second fields, which are
    * zone-independent on NTZ values (verified bit-exact with DuckDB
    * `epoch_us` under a non-UTC session timezone). All pieces are
    * codegen'd built-ins, evaluated once at the scan projection.
    */
  def tsToNanos(dt: DataType, ts: Column): Column = dt match {
    case LongType => ts
    case TimestampType => unix_micros(ts) * lit(1000L)
    case TimestampNTZType =>
      val micros = unix_date(ts.cast(DateType)).cast(LongType) * lit(86400000000L) +
        hour(ts).cast(LongType) * lit(3600000000L) +
        minute(ts).cast(LongType) * lit(60000000L) +
        (date_part(lit("SECOND"), ts) * lit(1000000)).cast(LongType)
      micros * lit(1000L)
    case other =>
      throw new IllegalStateException(
        s"events.ts has unsupported physical type $other; expected int64-nanos, TIMESTAMP or TIMESTAMP_NTZ")
  }
}
