package graft

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.example.data.simple.{NanoTime, SimpleGroupFactory}
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.graft.JobCount
import org.apache.spark.sql.{AnalysisException, DataFrame, Row}
import org.apache.spark.sql.execution.datasources.parquet.FooterSchemaParquetFileFormat
import org.apache.spark.sql.functions._
import org.apache.spark.util.SerializableConfiguration

/** `Tables.apply`/`Tables.parquet` open a table with the schema, plan and
  * rows of `spark.read.parquet`, without the schema-inference job. */
class TablesOpenSpec extends SparkTestBase {
  import spark.implicits._

  private val sfDirs = Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")
    .filter(d => Files.isDirectory(Paths.get(d)))

  /** Row count and an order-free hash sum over every column. */
  private def fingerprint(df: DataFrame): (Long, java.math.BigDecimal) = {
    val r = df.select(xxhash64(df.columns.toSeq.map(c => col(s"`$c`")): _*)
        .cast("decimal(38,0)").as("h"))
      .agg(count(lit(1)), coalesce(sum(col("h")), lit(BigDecimal(0)))).head()
    (r.getLong(0), r.getDecimal(1))
  }

  private def openNoJob(path: String): DataFrame = {
    val (df, jobs) = JobCount(spark.sparkContext)(Tables.parquet(spark, path))
    assert(jobs == 0, s"$path: opening ran $jobs jobs")
    df
  }

  private def assertSameOpen(df: DataFrame, ref: DataFrame, what: String): Unit = {
    assert(df.schema == ref.schema, s"$what: schema")
    assert(df.queryExecution.analyzed.semanticHash() ==
      ref.queryExecution.analyzed.semanticHash(), s"$what: plan")
  }

  test("every testdata table opens with spark.read.parquet's schema, plan and rows, and no job") {
    assert(sfDirs.nonEmpty, "no testdata directories found")
    val opened = sfDirs.flatMap { dir =>
      Files.list(Paths.get(dir)).toArray.map(_.asInstanceOf[Path].getFileName.toString)
        .filter(_.endsWith(".parquet")).sorted.map { file =>
          val name = file.stripSuffix(".parquet")
          val (df, jobs) = JobCount(spark.sparkContext)(Tables(spark, dir, name))
          assert(jobs == 0, s"$dir/$file: opening ran $jobs jobs")
          val ref = spark.read.parquet(s"$dir/$file")
          assertSameOpen(df, ref, s"$dir/$file")
          assert(fingerprint(df) == fingerprint(ref), s"$dir/$file: rows")
          file
        }
    }
    assert(opened.size >= 2 * 9)
  }

  test("graft-written parquet: nested and temporal types, several parts, summary files first") {
    val dir = Files.createTempDirectory("graft-open").resolve("t").toString
    Seq.tabulate(40)(i => (i.toLong, s"s$i")).toDF("id", "s")
      .select(col("id"), col("s"),
        (col("id") * 1000 + 7).cast("decimal(20,3)").as("dec"),
        date_add(lit("2024-01-01").cast("date"), col("id").cast("int")).as("day"),
        timestamp_micros(col("id") * 3600000000L).as("ts"),
        array(col("s"), lit("x")).as("arr"),
        map(col("s"), col("id")).as("m"),
        struct(col("id").as("a"), col("s").as("b")).as("st"))
      .repartition(3).write.parquet(dir)
    assert(new java.io.File(dir).list().count(_.endsWith(".parquet")) == 3)
    val df = openNoJob(dir)
    val ref = spark.read.parquet(dir)
    assertSameOpen(df, ref, dir)
    assert(df.orderBy("id").collect().toSeq == ref.orderBy("id").collect().toSeq)

    // a _common_metadata footer, else a _metadata footer, wins over the
    // data files; a wider footer gives each a schema of its own
    val wide = Files.createTempDirectory("graft-open-wide").resolve("w").toString
    Seq((1L, "a", 2.5)).toDF("id", "s", "extra").write.parquet(wide)
    val wideFooter = new java.io.File(wide).listFiles().find(_.getName.endsWith(".parquet")).get
    def withSummary(name: String): String = {
      val d = Files.createTempDirectory("graft-open-summary")
      Seq((1L, "a")).toDF("id", "s").coalesce(1).write.mode("overwrite").parquet(d.toString)
      Files.copy(wideFooter.toPath, d.resolve(name), StandardCopyOption.REPLACE_EXISTING)
      d.toString
    }
    Seq("_common_metadata", "_metadata").foreach { name =>
      val d = withSummary(name)
      val opened = openNoJob(d)
      assert(opened.schema.fieldNames.toSeq == Seq("id", "s", "extra"), name)
      assertSameOpen(opened, spark.read.parquet(d), name)
    }
  }

  test("binary, INT96 and timestamp_ntz columns follow the session's parquet read settings") {
    // written without Spark's schema in the footer metadata, which Spark
    // would read in place of converting the parquet types
    val dir = Files.createTempDirectory("graft-open-conv").toString
    val parquetSchema = MessageTypeParser.parseMessageType(
      """message m { required int64 id; optional binary bin; optional int96 ts96;
        |  optional int64 ntz (TIMESTAMP(MICROS,false)); }""".stripMargin)
    val writer = ExampleParquetWriter.builder(new HPath(s"$dir/part-0.parquet"))
      .withType(parquetSchema).withConf(new Configuration()).build()
    try writer.write(new SimpleGroupFactory(parquetSchema).newGroup()
      .append("id", 1L).append("bin", "a").append("ts96", new NanoTime(2460311, 0L))
      .append("ntz", 1704067200000000L))
    finally writer.close()
    def schemaOrError(df: => DataFrame): Either[String, org.apache.spark.sql.types.StructType] =
      try Right(df.schema) catch {
        case e: Exception if !e.isInstanceOf[org.scalatest.exceptions.TestFailedException] =>
          Left(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).toSeq.last.getMessage)
      }
    // each setting away from its default, and the defaults themselves
    val settings = Seq(
      Map.empty[String, String],
      Map("spark.sql.parquet.binaryAsString" -> "true"),
      Map("spark.sql.parquet.int96AsTimestamp" -> "false"),
      Map("spark.sql.parquet.inferTimestampNTZ.enabled" -> "false"))
    val outcomes = settings.map { kv =>
      kv.foreach { case (k, v) => spark.conf.set(k, v) }
      try {
        val got = schemaOrError(openNoJob(dir))
        val want = schemaOrError(spark.read.parquet(dir))
        assert(got == want, s"$kv")
        // the scan reads the settings from the conf it broadcasts
        if (got.isRight) {
          assert(openNoJob(dir).collect().toSeq == spark.read.parquet(dir).collect().toSeq, s"$kv")
        }
        got
      } finally kv.keys.foreach(spark.conf.unset)
    }
    // every setting changes the schema, so each is really exercised
    assert(outcomes.distinct.size == settings.size, outcomes.mkString("\n"))
  }

  test("with schema merging on, two parts with different columns still merge") {
    val dir = Files.createTempDirectory("graft-open-merge").toString
    Seq((1L, "a")).toDF("id", "x").write.parquet(s"$dir/k=1")
    Seq((2L, 3.5)).toDF("id", "y").write.parquet(s"$dir/k=2")
    spark.conf.set("spark.sql.parquet.mergeSchema", "true")
    try {
      val df = Tables.parquet(spark, dir)
      val ref = spark.read.parquet(dir)
      assert(df.schema.fieldNames.toSeq == Seq("id", "x", "y", "k"))
      assertSameOpen(df, ref, dir)
      assert(df.orderBy("id").collect().toSeq ==
        Seq(Row(1L, "a", null, 1), Row(2L, null, 3.5, 2)))
    } finally spark.conf.unset("spark.sql.parquet.mergeSchema")
    // without merging the first data file's footer decides, as in Spark
    assertSameOpen(Tables.parquet(spark, dir), spark.read.parquet(dir), dir)
  }

  test("a missing path raises spark.read.parquet's error") {
    val path = Files.createTempDirectory("graft-open-missing").resolve("absent.parquet").toString
    val got = intercept[AnalysisException](Tables.parquet(spark, path))
    val want = intercept[AnalysisException](spark.read.parquet(path))
    assert(got.getCondition == "PATH_NOT_FOUND")
    assert(got.getCondition == want.getCondition)
    assert(got.getMessage == want.getMessage)
  }

  test("a scan's broadcast conf round-trips to the same keys and values, in fewer bytes") {
    val conf = spark.sessionState.newHadoopConf()
    conf.set("graft.spec.key", "graft.spec.value")
    def serialized(c: Configuration): Array[Byte] = {
      val bytes = new java.io.ByteArrayOutputStream
      val out = new java.io.ObjectOutputStream(bytes)
      try out.writeObject(new SerializableConfiguration(c)) finally out.close()
      bytes.toByteArray
    }
    def roundTrip(c: Configuration): Configuration = new java.io.ObjectInputStream(
      new java.io.ByteArrayInputStream(serialized(c))).readObject()
      .asInstanceOf[SerializableConfiguration].value
    def pairs(c: Configuration): Map[String, String] =
      c.iterator.asScala.map(e => e.getKey -> e.getValue).toMap
    val copy = new FooterSchemaParquetFileFormat.SourcelessConf(conf)
    val back = roundTrip(copy)
    assert(pairs(copy) == pairs(conf))
    assert(pairs(back) == pairs(roundTrip(conf)))
    assert(back.get("graft.spec.key") == "graft.spec.value")
    assert(serialized(copy).length < serialized(conf).length)
  }
}
