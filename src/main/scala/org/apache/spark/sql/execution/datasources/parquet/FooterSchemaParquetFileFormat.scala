package org.apache.spark.sql.execution.datasources.parquet

import java.io.DataOutput

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.FileStatus
import org.apache.hadoop.io.{Text, WritableUtils}
import org.apache.parquet.hadoop.ParquetFileWriter
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.{FileSourceOptions, InternalRow}
import org.apache.spark.sql.catalyst.util.CaseInsensitiveMap
import org.apache.spark.sql.execution.datasources.PartitionedFile
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.StructType

/** The parquet source with schema inference that runs no Spark job.
  *
  * Without schema merging, `ParquetUtils.inferSchema` reads exactly one
  * footer: the first `_common_metadata` file, else the first `_metadata`,
  * else the first data file in path order. It still reads it through
  * `mergeSchemasInParallel`, a one-task Spark job per table opened. This
  * format reads that same footer on the driver, through the same footer
  * reader and a converter built from the same session settings, so the
  * schema is the one the job would return. With `mergeSchema` on it
  * defers to the parent, which must read every footer.
  *
  * Open with `spark.read.format(classOf[FooterSchemaParquetFileFormat]
  * .getName).load(path)` (graft.Tables does). Spark's `DataSource` lists
  * the files and raises the missing-path error as for `spark.read
  * .parquet`. The format equals `ParquetFileFormat` and hashes like it,
  * so a relation opened either way has the same plan and the same
  * `semanticHash`. Lives in Spark's package because the footer reader
  * is `private[parquet]`.
  *
  * Each scan broadcasts its Hadoop conf. `Configuration.write` gzips,
  * for every one of its ~1,100 properties, the list of resources that
  * set it, which no reader of the broadcast uses; this format
  * broadcasts a copy that writes the same keys and values without
  * those lists ([[FooterSchemaParquetFileFormat.SourcelessConf]]). */
class FooterSchemaParquetFileFormat extends ParquetFileFormat {

  override def inferSchema(sparkSession: SparkSession, parameters: Map[String, String],
      files: Seq[FileStatus]): Option[StructType] = {
    val conf = getSqlConf(sparkSession)
    if (new ParquetOptions(parameters, conf).mergeSchema) {
      super.inferSchema(sparkSession, parameters, files)
    } else {
      val leaves = files.sortBy(_.getPath.toString)
      def named(n: String) = leaves.find(_.getPath.getName == n)
      val footerFile = named(ParquetFileWriter.PARQUET_COMMON_METADATA_FILE)
        .orElse(named(ParquetFileWriter.PARQUET_METADATA_FILE))
        .orElse(leaves.find { f =>
          val n = f.getPath.getName
          n != ParquetFileWriter.PARQUET_COMMON_METADATA_FILE &&
            n != ParquetFileWriter.PARQUET_METADATA_FILE
        })
      // the converter settings of mergeSchemasInParallel's reader
      val converter = new ParquetToSparkSchemaConverter(
        assumeBinaryIsString = conf.isParquetBinaryAsString,
        assumeInt96IsTimestamp = conf.isParquetINT96AsTimestamp,
        inferTimestampNTZ = conf.parquetInferTimestampNTZEnabled,
        nanosAsLong = conf.legacyParquetNanosAsLong,
        respectUnknownTypeAnnotation = conf.parquetReaderRespectUnknownTypeAnnotation)
      val ignoreCorruptFiles =
        new FileSourceOptions(CaseInsensitiveMap(parameters)).ignoreCorruptFiles
      ParquetFileFormat.readParquetFootersInParallel(
          getHadoopConf(sparkSession, parameters), footerFile.toSeq, ignoreCorruptFiles)
        .headOption.map(ParquetFileFormat.readSchemaFromFooter(_, converter))
    }
  }

  override def buildReaderWithPartitionValues(sparkSession: SparkSession,
      dataSchema: StructType, partitionSchema: StructType, requiredSchema: StructType,
      filters: Seq[Filter], options: Map[String, String],
      hadoopConf: Configuration): PartitionedFile => Iterator[InternalRow] =
    super.buildReaderWithPartitionValues(sparkSession, dataSchema, partitionSchema,
      requiredSchema, filters, options,
      new FooterSchemaParquetFileFormat.SourcelessConf(hadoopConf))

  // ParquetFileFormat.equals accepts any ParquetFileFormat; hash like it
  override def hashCode(): Int = classOf[ParquetFileFormat].hashCode()
}

object FooterSchemaParquetFileFormat {

  /** A copy of `conf` whose `write` emits its keys and values with a
    * null source array each: the wire format `Configuration.readFields`
    * reads (a source count of -1, written by `writeInt` as
    * `WritableUtils.writeCompressedStringArray` writes a null), so the
    * reader gets the same key/value set and loses only the record of
    * which resource set each key. */
  final class SourcelessConf(conf: Configuration) extends Configuration(conf) {
    override def write(out: DataOutput): Unit = {
      val props = getProps
      WritableUtils.writeVInt(out, props.size)
      props.forEach { (k, v) =>
        Text.writeString(out, k.asInstanceOf[String])
        Text.writeString(out, v.asInstanceOf[String])
        out.writeInt(-1)
      }
    }
  }
}
