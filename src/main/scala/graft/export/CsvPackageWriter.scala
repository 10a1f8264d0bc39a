package graft.export

import java.io.{BufferedOutputStream, OutputStreamWriter}
import java.nio.charset.Charset
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.jdk.CollectionConverters._
import org.apache.spark.TaskContext
import org.apache.spark.rdd.UnionRDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.csv.{CSVOptions, UnivocityGenerator}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** CSV export matching the reference's writer behavior
  * (neo4j_export.py:319-327): header row, missing values rendered as the
  * literal `NULL` (DictWriter restval), UTF-8.
  *
  * Two modes:
  *   - `singleFile = false` (default): a distributed write — one
  *     directory of part files per table. The only mode that makes sense
  *     at 100 TB; Data Importer-style consumers glob the directory.
  *   - `singleFile = true`: one `<name>.csv` per table, written by one
  *     task of one Spark job for all tables ([[writeSingleFiles]]) —
  *     byte-compatible with the reference's one-file-per-label layout
  *     for small exports.
  */
object CsvPackageWriter {

  /** RFC-4180 dialect shared by writer and readers: quotes inside quoted
    * values are escaped by DOUBLING the quote (escape = quote char), which
    * is what Python's csv module — the reference's writer AND the Data
    * Importer's parser — produces and expects. Spark's default escape of
    * backslash would serialize `say "hi"` as `"say \"hi\""`, which those
    * consumers misparse. Values are written verbatim like the reference's
    * `csv.DictWriter`: Spark's CSV *writer* trims leading and trailing
    * whitespace unless told not to (its readers already default to not
    * trimming). The default emptyValue (a quoted `""`) keeps empty strings
    * distinguishable from the NULL sentinel, so export -> import
    * round-trips losslessly. */
  val CsvOptions: Map[String, String] = Map("header" -> "true", "escape" -> "\"",
    "ignoreLeadingWhiteSpace" -> "false", "ignoreTrailingWhiteSpace" -> "false")

  /** Render every column as string with NULL sentinel — the reference's
    * `restval='NULL'`. Public so the model generators sniff samples from
    * the SAME rendering the CSV contains (Row.get.toString differs, e.g.
    * java.sql.Timestamp appends ".0"). */
  def stringified(df: DataFrame): DataFrame = {
    val cols = df.columns.map(c => coalesce(col(c).cast("string"), lit("NULL")).as(c))
    df.select(cols.toSeq: _*)
  }

  def write(df: DataFrame, outputDir: String, name: String, singleFile: Boolean = false): Path =
    if (singleFile) writeSingleFiles(Seq(name -> df), outputDir).head
    else {
      val target = Paths.get(outputDir, s"$name.csv")
      stringified(df).write.mode("overwrite").options(CsvOptions).csv(target.toString)
      target
    }

  /** Writes each `(name, table)` to `<outputDir>/<name>.csv` in ONE Spark
    * job, byte for byte the part file of
    * `stringified(table).coalesce(1).write.options(CsvOptions).csv`
    * (an adaptive plan with a shuffle still runs its shuffle stages when
    * it is built, as Spark's writer would).
    *
    * The tables' `stringified(table).coalesce(1)` plans are built
    * concurrently on `ec`, and their RDDs are unioned so that each task
    * reads one table's one partition (a table whose plan has no
    * partition gets an empty one, and so its header-only file). The
    * union takes the tables largest first, by their optimized plans'
    * `sizeInBytes` estimates, so the longest task is not queued behind
    * the small ones. Each task streams its rows through Spark's own CSV
    * generator as `CsvOutputWriter` does: headers at open, one `write`
    * per row. It
    * writes a temp file in `outputDir` named for its attempt and renames
    * it to `<name>.csv`; a failed attempt deletes its temp file. There is
    * no commit protocol, so `outputDir` must be a filesystem the tasks
    * share with the driver. Returns the files in the order of `tables`. */
  def writeSingleFiles(tables: Seq[(String, DataFrame)], outputDir: String)
      (implicit ec: ExecutionContext = ExecutionContext.parasitic): Seq[Path] = {
    val names = tables.map(_._1)
    require(names.distinct.size == names.size, s"duplicate CSV names: ${names.mkString(", ")}")
    Files.createDirectories(Paths.get(outputDir))
    if (tables.isEmpty) return Nil
    val spark = tables.head._2.sparkSession
    val sc = spark.sparkContext
    val plans = Await.result(Future.traverse(tables) { case (_, df) => Future {
      val out = stringified(df).coalesce(1)
      val rdd = out.queryExecution.toRdd
      // Spark's CoalesceExec gives even an empty input one partition; a
      // plan that scans none would still get its header-only file
      val one = if (rdd.getNumPartitions == 0) sc.parallelize(Seq.empty[InternalRow], 1) else rdd
      require(one.getNumPartitions == 1, s"a coalesce(1) plan has ${one.getNumPartitions} partitions")
      (out.schema, one, out.queryExecution.optimizedPlan.stats.sizeInBytes)
    }}, Duration.Inf)
    val order = plans.indices.sortBy(i => -plans(i)._3).toArray // stable: ties keep input order
    val schemas = order.map(plans(_)._1)
    val nameArr = order.map(names)
    val opts = new CSVOptions(CsvOptions, false, spark.sessionState.conf.sessionLocalTimeZone)
    sc.runJob(new UnionRDD(sc, order.toSeq.map(plans(_)._2)),
      (ctx: TaskContext, rows: Iterator[InternalRow]) =>
        writeTask(ctx, rows, outputDir, nameArr(ctx.partitionId()), schemas(ctx.partitionId()), opts))
    names.map(n => Paths.get(outputDir, s"$n.csv"))
  }

  private def writeTask(ctx: TaskContext, rows: Iterator[InternalRow], outputDir: String,
      name: String, schema: StructType, opts: CSVOptions): Unit = {
    val tmp = Paths.get(outputDir, s".$name.csv.${ctx.taskAttemptId()}.tmp")
    val gen = new UnivocityGenerator(schema, new OutputStreamWriter(
      new BufferedOutputStream(Files.newOutputStream(tmp), 1 << 16), Charset.forName(opts.charset)), opts)
    ctx.addTaskFailureListener((_, _) => try gen.close() finally Files.deleteIfExists(tmp))
    if (opts.headerFlag) gen.writeHeaders()
    rows.foreach(gen.write)
    gen.close()
    // rename(2): atomic, and it replaces an existing file
    Files.move(tmp, Paths.get(outputDir, s"$name.csv"), StandardCopyOption.ATOMIC_MOVE)
  }

  /** First data row of a table [[write]] wrote to `target`, as column ->
    * CSV value ("NULL" for null); empty when the table has no rows. A
    * distributed write is read part by part in partition order up to the
    * first part with a data row, which is the row `take(1)` returns. Runs
    * on the driver and reads only the head of one or a few files, so the
    * sample costs no Spark job and matches the file by construction. */
  def firstRow(target: Path, columns: Seq[String]): Map[String, String] = {
    val files =
      if (!Files.isDirectory(target)) Seq(target)
      else {
        val ls = Files.list(target)
        val parts = try ls.iterator().asScala.filter { p =>
          val n = p.getFileName.toString
          n.startsWith("part-") && n.endsWith(".csv")
        }.toList finally ls.close()
        parts.sortBy(p => (partIndex(p.getFileName.toString), p.getFileName.toString))
      }
    files.iterator.flatMap(firstDataRow).nextOption()
      .fold(Map.empty[String, String])(values => columns.zip(values).toMap)
  }

  /** The partition index in Spark's `part-<index>-<job uuid>...` names;
    * numeric, since the zero padding stops at five digits. */
  private def partIndex(name: String): Long =
    name.stripPrefix("part-").takeWhile(_.isDigit).toLong

  /** The record after the header, parsed in the dialect Spark writes
    * under [[CsvOptions]]. Univocity's defaults already match it in
    * delimiter, quote, doubled-quote escape and comment handling (the
    * writer quotes a leading `#`); the rest is set here. */
  private def firstDataRow(file: Path): Option[Array[String]] = {
    val settings = new com.univocity.parsers.csv.CsvParserSettings()
    settings.getFormat.setLineSeparator("\n") // Spark's, whatever the OS
    settings.setIgnoreLeadingWhitespaces(false)
    settings.setIgnoreTrailingWhitespaces(false)
    settings.setEmptyValue("") // a quoted `""`
    settings.setMaxCharsPerColumn(-1)
    settings.setMaxColumns(20480) // Spark's CSV reader limit
    settings.setReadInputOnSeparateThread(false)
    val parser = new com.univocity.parsers.csv.CsvParser(settings)
    parser.beginParsing(Files.newBufferedReader(file, java.nio.charset.StandardCharsets.UTF_8))
    try {
      parser.parseNext() // header
      Option(parser.parseNext())
    } finally parser.stopParsing()
  }
}

/** Zip packaging of an export directory (neo4j_export.py:1246-1276):
  * all `*.csv` files + `neo4j_importer_model.json`. Single-file exports
  * zip flat like the reference; distributed exports have `<name>.csv/`
  * *directories* of part files, whose CSV parts are added under their
  * relative path so the package stays self-describing. */
object ZipPackager {
  def zipDirectory(dir: String, zipPath: String): Path = {
    val dirPath = Paths.get(dir)
    val out = Paths.get(zipPath)
    val zos = new java.util.zip.ZipOutputStream(Files.newOutputStream(out))
    // DEFLATED like the reference (neo4j_export.py:1264), at BEST_SPEED:
    // the packaging step is single-threaded by zip's nature, so the
    // compression level is the only knob that matters for export latency
    zos.setLevel(java.util.zip.Deflater.BEST_SPEED)

    def addFile(p: Path, entryName: String): Unit = {
      zos.putNextEntry(new java.util.zip.ZipEntry(entryName))
      Files.copy(p, zos)
      zos.closeEntry()
    }

    try {
      val top = Files.list(dirPath)
      try {
        top.sorted().forEach { p =>
          val n = p.getFileName.toString
          if (Files.isRegularFile(p) && (n.endsWith(".csv") || n == "neo4j_importer_model.json"))
            addFile(p, n)
          else if (Files.isDirectory(p) && n.endsWith(".csv")) {
            val parts = Files.list(p)
            try parts.sorted().filter(f => Files.isRegularFile(f)
              && f.getFileName.toString.endsWith(".csv"))
              .forEach(f => addFile(f, s"$n/${f.getFileName}"))
            finally parts.close()
          }
        }
      } finally top.close()
    } finally zos.close()
    out
  }
}
