package graft.export

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import graft.SparkTestBase
import graft.model.{GraphSchema, LabelSchema, PropertyGraph, PropertyMeta, TableGraphMapper, TpchGraph}
import graft.schema.GraphCatalog
import org.apache.spark.graft.JobCount
import org.apache.spark.sql.Row
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.rng.Seed
import org.scalacheck.util.Pretty

class ExporterSpec extends SparkTestBase {
  import ExporterSpec._

  private lazy val outDir = {
    val dir = Files.createTempDirectory("graft-export").toString
    val g = TpchGraph.load(spark, "/root/testdata/sf0.001")
    GraphExporter.exportAll(g, dir, formatVersion = "3.0", singleFileCsv = true, createZip = true)
    dir
  }

  test("node CSVs written with identifier-first header and NULL restval convention") {
    val customer = Paths.get(outDir, "Customer.csv")
    assert(Files.exists(customer))
    val header = Files.readAllLines(customer).get(0)
    assert(header == "c_custkey,c_acctbal,c_mktsegment,c_name,c_nationkey")
  }

  test("relationship CSVs use pattern-key filenames and label-prefixed columns") {
    val rel = Paths.get(outDir, "Customer_PLACED_Order.csv")
    assert(Files.exists(rel))
    val header = Files.readAllLines(rel).get(0)
    assert(header == "Customer_c_custkey,Order_o_orderkey")
  }

  test("v3 model structure: ids, mappings, constraints") {
    val model = Files.readString(Paths.get(outDir, "neo4j_importer_model.json"))
    assert(model.contains(""""version": "3.0.0""""))
    assert(model.contains(""""$id": "nl:0""""))
    assert(model.contains(""""$id": "n:0""""))
    assert(model.contains(""""token": "Customer""""))
    assert(model.contains(""""token": "PLACED""""))
    assert(model.contains(""""constraintType": "uniqueness""""))
    assert(model.contains(""""nodeKeyProperties""""))
    // from/to mappings carry the #-prefixed property refs (v3 quirk)
    assert(model.contains("\"#p:"))
    // node property ids are p:<node>_<prop>
    assert(model.contains(""""$id": "p:0_0""""))
  }

  test("zip contains all CSVs and the model json") {
    val zipPath = Paths.get(outDir).resolveSibling(
      s"${Paths.get(outDir).getFileName}-export.zip")
    assert(Files.exists(zipPath))
    val zf = new java.util.zip.ZipFile(zipPath.toFile)
    try {
      val names = zf.entries().asIterator()
      var entries = Set.empty[String]
      while (names.hasNext) entries += names.next().getName
      assert(entries.contains("neo4j_importer_model.json"))
      assert(entries.contains("Customer.csv"))
      assert(entries.contains("Order_CONTAINS_Part.csv"))
    } finally zf.close()
  }

  test("v2.4 model: global property counter, from/to on types, index/constraint sections") {
    val g = TpchGraph.load(spark, "/root/testdata/sf0.001")
    val dir = Files.createTempDirectory("graft-export24").toString
    GraphExporter.exportAll(g, dir, formatVersion = "2.4.0", createZip = false)
    val model = Files.readString(Paths.get(dir, "neo4j_importer_model.json"))
    assert(model.contains(""""version": "2.4.0-beta.0""""))
    assert(model.contains(""""$id": "nl:n0""""))
    assert(model.contains(""""$id": "p:1""""))
    assert(model.contains(""""indexes""""))
    assert(model.contains("c_mktsegment_Customer_idx"))
    assert(model.contains("c_custkey_Customer_uniq"))
  }

  test("round trip: import the exported package back into a PropertyGraph") {
    val g0 = graft.model.TpchGraph.load(spark, "/root/testdata/sf0.001")
    val g1 = GraphImporter.fromPackage(spark, outDir)
    assert(g1.nodes.keySet == g0.nodes.keySet)
    assert(g1.rels.keySet == g0.rels.keySet)
    // counts survive the round trip
    assert(g1.nodes("Customer").count() == g0.nodes("Customer").count())
    val pattern = graft.model.RelPattern("Order", "CONTAINS", "Part")
    assert(g1.rels(pattern).count() == g0.rels(pattern).count())
    // identifiers recovered from nodeKeyProperties
    assert(g1.schema.identifierOf("Customer").contains("c_custkey"))
    // typed columns: quantity came back numeric and sums agree
    import org.apache.spark.sql.functions._
    val s0 = g0.rels(pattern).agg(sum(col("l_quantity").cast("decimal(18,2)"))).head().getDecimal(0)
    val s1 = g1.rels(pattern).agg(sum(col("l_quantity").cast("decimal(18,2)"))).head().getDecimal(0)
    assert(s0 == s1)
  }

  test("distributed (multi-part) export zips part files under their csv dir") {
    val dir = Files.createTempDirectory("graft-multipart").toString
    val g = TpchGraph.load(spark, "/root/testdata/sf0.001")
    val res = GraphExporter.exportAll(g, dir, singleFileCsv = false, createZip = true)
    val zip = new java.util.zip.ZipFile(res.zipPath.get)
    try {
      val entries = scala.jdk.CollectionConverters.EnumerationHasAsScala(zip.entries())
        .asScala.map(_.getName).toSeq
      assert(entries.contains("neo4j_importer_model.json"))
      assert(entries.exists(e => e.startsWith("Customer.csv/") && e.endsWith(".csv")),
        s"expected Customer.csv/part entries, got ${entries.take(8)}")
      // and the multi-part package round-trips through the importer
      val re = GraphImporter.fromPackage(spark, dir)
      assert(re.nodes("Customer").count() == g.nodes("Customer").count())
    } finally zip.close()
  }

  test("CSV quotes escape RFC-4180 style (doubled quote) and round-trip") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-quote").toString
    val df = Seq((1L, """say "hi" now"""), (2L, "plain")).toDF("id", "note")
    CsvPackageWriter.write(df, dir, "Quoted", singleFile = true)
    val lines = Files.readAllLines(Paths.get(dir, "Quoted.csv"))
    // python csv / Data Importer dialect: "say ""hi"" now", never \"
    assert(lines.contains("""1,"say ""hi"" now""""), s"got: $lines")
    assert(!lines.toString.contains("\\\""))
    val back = spark.read.options(CsvPackageWriter.CsvOptions)
      .csv(s"$dir/Quoted.csv").orderBy("id")
      .collect().map(r => (r.getString(0), r.getString(1)))
    assert(back.toSeq == Seq(("1", """say "hi" now"""), ("2", "plain")))
  }

  test("multi-label mapping exports one table per label and round-trips the model") {
    import graft.model.{NodeMapping, TableGraphMapper}
    val catalog = graft.schema.GraphCatalog.empty
      .withUnique("Supplier", "s_suppkey")
      .withUnique("Vendor", "s_name")
    val mapper = new TableGraphMapper(
      Seq(NodeMapping("Supplier", "supplier", extraLabels = Seq("Vendor"))), Nil, catalog)
    val g = mapper.load(spark, "/root/testdata/sf0.001")
    // one node table per label, each under its own identifier
    assert(g.nodes.keySet == Set("Supplier", "Vendor"))
    assert(g.schema.labels.map(l => l.label -> l.identifier).toMap ==
      Map("Supplier" -> "s_suppkey", "Vendor" -> "s_name"))
    // per-label column order: identifier first
    assert(g.nodes("Supplier").columns.head == "s_suppkey")
    assert(g.nodes("Vendor").columns.head == "s_name")
    // the model JSON carries both labels and survives a package round trip
    val dir = Files.createTempDirectory("graft-multilabel").toString
    GraphExporter.exportAll(g, dir, formatVersion = "3.0", singleFileCsv = true, createZip = false)
    val re = GraphImporter.fromPackage(spark, dir)
    assert(re.nodes.keySet == Set("Supplier", "Vendor"))
    assert(re.schema.labels.map(l => l.label -> l.identifier).toMap ==
      Map("Supplier" -> "s_suppkey", "Vendor" -> "s_name"))
    assert(re.nodes("Supplier").count() == g.nodes("Supplier").count())
    assert(re.nodes("Vendor").count() == g.nodes("Vendor").count())
  }

  test("v0.1 model: legacy layout with deterministic identifiers") {
    val g = TpchGraph.load(spark, "/root/testdata/sf0.001")
    val dir = Files.createTempDirectory("graft-export01").toString
    GraphExporter.exportAll(g, dir, formatVersion = "0.1.0", createZip = false)
    val model = Files.readString(Paths.get(dir, "neo4j_importer_model.json"))
    assert(model.contains(""""version": "0.1.0-beta.0""""))
    assert(model.contains(""""caption": "Customer""""))
    assert(model.contains(""""fileSchemas""""))
    // deterministic: generating twice yields identical output
    val dir2 = Files.createTempDirectory("graft-export01b").toString
    GraphExporter.exportAll(g, dir2, formatVersion = "0.1.0", createZip = false)
    val model2 = Files.readString(Paths.get(dir2, "neo4j_importer_model.json"))
    assert(model == model2)
  }

  test("g_model_mappings deletes the export zip it writes beside its temp dir") {
    val tmp = Paths.get(System.getProperty("java.io.tmpdir"))
    def zips(): Long = {
      val ls = Files.list(tmp)
      try ls.filter { p =>
        val n = p.getFileName.toString
        n.startsWith("graft_model_mappings") && n.endsWith("-export.zip")
      }.count()
      finally ls.close()
    }
    val before = zips()
    val rows = graft.queries.GraphQueries.modelMappings(spark, "/root/testdata/sf0.001").collect()
    assert(rows.nonEmpty)
    assert(zips() == before)
  }

  test("string values keep their leading and trailing whitespace in the CSV and on import") {
    import spark.implicits._
    val values = Seq("  lead", "trail  ", " both ", "\tTab")
    val df = values.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("id", "note")
    val g = PropertyGraph(Map("Padded" -> df), Map.empty, GraphSchema(
      Seq(LabelSchema("Padded", "id",
        Seq(PropertyMeta("id", "integer", false), PropertyMeta("note", "string", true)))), Nil))
    val dir = Files.createTempDirectory("graft-padded").toString
    GraphExporter.exportAll(g, dir, createZip = false)
    assert(Files.readString(Paths.get(dir, "Padded.csv")) ==
      "id,note\n0,  lead\n1,trail  \n2, both \n3,\tTab\n")
    val back = GraphImporter.fromPackage(spark, dir).nodes("Padded")
      .orderBy("id").collect().map(_.getString(1)).toSeq
    assert(back == values)
  }

  test("an empty-catalog TPC-H load plus exportAll runs one read per table, two jobs per " +
    "rule-4 label, then one job for all single-file CSVs or one job per multi-part table") {
    // 7 distinct tables, each read once and opened with no job (the
    // footer schema is read on the driver), 6 labels whose first property
    // is their key, and 6 node + 6 relationship CSVs written by one job;
    // the samples are read from the files
    val (g, jobs) = JobCount(spark.sparkContext) {
      val g = new TableGraphMapper(TpchGraph.nodes, TpchGraph.edges, GraphCatalog.empty)
        .load(spark, "/root/testdata/sf0.001")
      GraphExporter.exportAll(g, Files.createTempDirectory("graft-jobs").toString)
      g
    }
    assert(jobs == 2 * 6 + 1)
    // and a distributed export of the same graph: one job per table
    val (_, distJobs) = JobCount(spark.sparkContext)(GraphExporter.exportAll(g,
      Files.createTempDirectory("graft-jobs-dist").toString, singleFileCsv = false))
    assert(distJobs == 12)
  }

  test("a single-file CSV keeps every row when Spark's writer would split it into files") {
    import spark.implicits._
    val df = (1L to 5L).map(i => (i, s"v$i")).toDF("id", "v")
    spark.conf.set("spark.sql.files.maxRecordsPerFile", "2")
    try {
      val dir = Files.createTempDirectory("graft-max-records").toString
      val csv = CsvPackageWriter.write(df, dir, "T", singleFile = true)
      assert(Files.readString(csv) == "id,v\n1,v1\n2,v2\n3,v3\n4,v4\n5,v5\n")
    } finally spark.conf.unset("spark.sql.files.maxRecordsPerFile")
  }

  test("writeSingleFiles writes each table's file byte for byte as Spark's coalesce(1) CSV " +
    "writer does, in one job") {
    val prop = Prop.forAllNoShrink(Gen.choose(1, 4).flatMap(n => Gen.listOfN(n, genTable))) { ts =>
      val tables = ts.zipWithIndex.map { case (t, i) => s"T$i" -> t.toDF(spark) }
      val dir = Files.createTempDirectory("graft-single").toString
      val (files, jobs) = JobCount(spark.sparkContext)(CsvPackageWriter.writeSingleFiles(tables, dir))
      val same = tables.zip(files).map { case ((name, df), file) =>
        val ref = Paths.get(Files.createTempDirectory("graft-spark-csv").toString, name)
        CsvPackageWriter.stringified(df).coalesce(1).write.options(CsvPackageWriter.CsvOptions)
          .csv(ref.toString)
        java.util.Arrays.equals(Files.readAllBytes(file), Files.readAllBytes(sparkPart(ref)))
      }
      Prop(jobs == 1 && same.forall(identity)) :| s"jobs=$jobs same=$same tables=$ts"
    }
    val res = Test.check(Test.Parameters.default
      .withMinSuccessfulTests(30).withWorkers(1).withInitialSeed(Seed(20261020L)), prop)
    assert(res.passed, Pretty.pretty(res))
  }

  test("writeSingleFiles writes an empty table's header-only file as Spark's writer does") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    // empty before planning, and empty only once a shuffle stage has run
    val empties = Seq(
      "Local" -> Seq.empty[(Long, String)].toDF("id", "v"),
      "Shuffled" -> spark.range(10).repartition(3).where(col("id") < 0)
        .select(col("id"), col("id").cast("string").as("v")))
    val dir = Files.createTempDirectory("graft-empty").toString
    val files = CsvPackageWriter.writeSingleFiles(empties, dir)
    empties.zip(files).foreach { case ((name, df), csv) =>
      assert(Files.readString(csv) == "id,v\n", name)
      val ref = Paths.get(dir, s"spark-$name")
      df.coalesce(1).write.options(CsvPackageWriter.CsvOptions).csv(ref.toString)
      assert(Files.readString(sparkPart(ref)) == "id,v\n", name)
    }
  }

  test("a task that fails mid-table fails writeSingleFiles and leaves no temp file") {
    import org.apache.spark.sql.functions.{col, udf}
    import spark.implicits._
    // over a range, not a local relation, whose projection the optimizer
    // would evaluate on the driver
    val boom = udf((i: Long) => if (i == 2) throw new IllegalStateException("boom") else i)
    val bad = spark.range(4).select(boom(col("id")).as("v"))
    val ok = Seq("x", "y").toDF("v")
    val dir = Files.createTempDirectory("graft-failed-write")
    val e = intercept[org.apache.spark.SparkException](
      CsvPackageWriter.writeSingleFiles(Seq("Ok" -> ok, "Bad" -> bad), dir.toString))
    assert(e.getMessage.contains("boom"), e.getMessage)
    // a sibling task the failed job killed cleans up on its own thread
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    while (spark.sparkContext.statusTracker.getExecutorInfos.exists(_.numRunningTasks > 0) &&
      System.nanoTime() < deadline) Thread.sleep(20)
    val ls = Files.list(dir)
    val names = try ls.iterator().asScala.map(_.getFileName.toString).toList finally ls.close()
    assert(!names.exists(_.endsWith(".tmp")), names)
    assert(!names.contains("Bad.csv"), names)
  }

  test("writeSingleFiles runs the largest-estimate table as partition 0 and returns files " +
    "in the order of its tables") {
    import org.apache.spark.TaskContext
    import org.apache.spark.sql.functions.{col, udf}
    // each table records the union partition its task ran as; over ranges,
    // whose size estimates grow with their row counts
    def table(name: String, rows: Long) = {
      val mark = udf { (id: Long) =>
        ExporterSpec.partitionOf.put(name, TaskContext.getPartitionId())
        id
      }
      name -> spark.range(rows).select(mark(col("id")).as("id"))
    }
    ExporterSpec.partitionOf.clear()
    val tables = Seq(table("Small", 10), table("Big", 5000), table("Mid", 100))
    val dir = Files.createTempDirectory("graft-largest-first").toString
    val files = CsvPackageWriter.writeSingleFiles(tables, dir)
    assert(files == tables.map { case (name, _) => Paths.get(dir, s"$name.csv") })
    assert(ExporterSpec.partitionOf.asScala.toMap == Map("Big" -> 0, "Mid" -> 1, "Small" -> 2))
    assert(files.map(f => Files.readAllLines(f).size) == Seq(11, 5001, 101))
  }

  test("the sample read from the written CSV is buildExports' sniff, in both CSV modes") {
    val prop = Prop.forAllNoShrink(genTable) { t =>
      val df = t.toDF(spark)
      val g = PropertyGraph(Map("T" -> df), Map.empty, GraphSchema(
        Seq(LabelSchema("T", df.columns.head, Nil)), Nil))
      val sniffed = GraphExporter.buildExports(g)._1.head.sample
      val read = Seq(true, false).map { single =>
        val dir = Files.createTempDirectory("graft-sample").toString
        CsvPackageWriter.firstRow(CsvPackageWriter.write(df, dir, "T", single), df.columns.toSeq)
      }
      Prop(read.forall(_ == sniffed)) :| s"sniffed=$sniffed read=$read table=$t"
    }
    val res = Test.check(Test.Parameters.default
      .withMinSuccessfulTests(40).withWorkers(1).withInitialSeed(Seed(20261019L)), prop)
    assert(res.passed, Pretty.pretty(res))
  }
}

object ExporterSpec {

  /** Table name -> the partition its task ran as, written by the tasks
    * of the local-mode executor this JVM hosts. */
  val partitionOf = new java.util.concurrent.ConcurrentHashMap[String, Int]()

  /** The one part file Spark's CSV writer wrote into `dir`. */
  def sparkPart(dir: java.nio.file.Path): java.nio.file.Path = {
    val ls = Files.list(dir)
    val parts = try ls.iterator().asScala.filter { p =>
      val n = p.getFileName.toString
      n.startsWith("part-") && n.endsWith(".csv")
    }.toList finally ls.close()
    assert(parts.size == 1, parts)
    parts.head
  }

  /** String values a CSV dialect can get wrong: quotes, separators, line
    * breaks, the empty string and the literal "NULL" (both sentinels in
    * the reference), null, padding, a value past univocity's default
    * 4,096-character column limit, univocity's default comment character
    * and non-ASCII text. */
  val genValue: Gen[String] = Gen.frequency(
    3 -> Gen.alphaNumStr.map(_.take(8)),
    6 -> Gen.oneOf(null, "", "NULL", "\"", "say \"hi\"", "a,b", ",", "line\nbreak", "cr\rlf\r\n",
      "\r\n", "  lead", "trail  ", " both ", "\tTab", "'single'", "\"\"",
      "naïve café", "日本語", "emoji \ud83d\ude00"),
    1 -> Gen.oneOf("#hash", "# a, b"),
    1 -> Gen.choose(4000, 6000).map(n => "x" * n))

  /** Rows laid out over explicit partitions, any of which may be empty. */
  final case class Table(width: Int, parts: Seq[Seq[Seq[String]]]) {
    def toDF(spark: org.apache.spark.sql.SparkSession): org.apache.spark.sql.DataFrame = {
      val schema = StructType((0 until width).map(i => StructField(s"c$i", StringType)))
      val layout = parts.map(_.map(Row.fromSeq))
      val rdd = spark.sparkContext.parallelize(layout.indices, layout.size)
        .flatMap(i => layout(i))
      spark.createDataFrame(rdd, schema)
    }
    override def toString: String = parts.map(_.map(_.map(v =>
      if (v == null) "null" else v.take(12).replace("\n", "\\n").replace("\r", "\\r"))
      .mkString("[", "|", "]")).mkString("{", " ", "}")).mkString(" ")
  }

  val genTable: Gen[Table] = for {
    width <- Gen.choose(1, 3)
    nParts <- Gen.choose(1, 4)
    parts <- Gen.listOfN(nParts, Gen.frequency(
      1 -> Gen.const(Nil),
      2 -> Gen.choose(1, 4).flatMap(n => Gen.listOfN(n, Gen.listOfN(width, genValue)))))
  } yield Table(width, parts)
}
