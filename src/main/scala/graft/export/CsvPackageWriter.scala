package graft.export

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** CSV export matching the reference's writer behavior
  * (neo4j_export.py:319-327): header row, missing values rendered as the
  * literal `NULL` (DictWriter restval), UTF-8.
  *
  * Two modes:
  *   - `singleFile = false` (default): a distributed write — one
  *     directory of part files per table. The only mode that makes sense
  *     at 100 TB; Data Importer-style consumers glob the directory.
  *   - `singleFile = true`: `coalesce(1)` then rename the part file to
  *     `<name>.csv` — byte-compatible with the reference's one-file-per-
  *     label layout for small exports.
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
    * trimming). */
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

  def write(df: DataFrame, outputDir: String, name: String, singleFile: Boolean = false): Path = {
    // default emptyValue (quoted "") keeps empty strings distinguishable
    // from the NULL sentinel, so export -> import round-trips losslessly
    val out = stringified(df)
    if (singleFile) {
      val tmp = Paths.get(outputDir, s".__${name}_tmp")
      out.coalesce(1).write.mode("overwrite").options(CsvOptions).csv(tmp.toString)
      val listing = Files.list(tmp)
      val part = try {
        listing.filter(p => p.getFileName.toString.startsWith("part-")
          && p.getFileName.toString.endsWith(".csv")).findFirst().get()
      } finally listing.close()
      val target = Paths.get(outputDir, s"$name.csv")
      Files.createDirectories(target.getParent)
      Files.move(part, target, StandardCopyOption.REPLACE_EXISTING)
      // clean the temp dir (part metadata files)
      val walk = Files.walk(tmp)
      try walk.sorted(java.util.Comparator.reverseOrder())
        .forEach(p => Files.deleteIfExists(p))
      finally walk.close()
      target
    } else {
      val target = Paths.get(outputDir, s"$name.csv")
      out.write.mode("overwrite").options(CsvOptions).csv(target.toString)
      target
    }
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
