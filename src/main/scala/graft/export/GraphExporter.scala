package graft.export

import java.nio.file.{Files, Paths}
import graft.model.{PropertyGraph, RelSchema}
import org.apache.spark.sql.{DataFrame, Row}

/** End-to-end export pipeline — the engine's `export_all`
  * (neo4j_export.py:1278-1333): node CSVs per label, relationship CSVs per
  * pattern, `neo4j_importer_model.json` in the chosen format, optional
  * zip. Everything data-sized is a distributed write; only the model JSON
  * (schema-sized metadata) is assembled on the driver, which is also how
  * the reference behaves — minus its full-database driver collect.
  */
object GraphExporter {

  final case class ExportResult(
      outputDir: String,
      nodeFiles: Map[String, String],
      relFiles: Map[String, String],
      modelPath: String,
      zipPath: Option[String])

  /** CSV-rendered first row of a table: prop -> string ("NULL" for null),
    * for the model-only [[buildExports]], which writes no CSV to read the
    * sample back from. One `take(1)` job per table; it uses
    * CsvPackageWriter's own stringification, so the sniffed sample matches
    * what a written CSV would contain (Row.get.toString would render e.g.
    * timestamps differently). [[exportAll]] instead reads each sample
    * from the file it wrote ([[CsvPackageWriter.firstRow]]). */
  private def sampleRow(df: DataFrame): Map[String, String] =
    CsvPackageWriter.stringified(df).take(1).headOption.map { row: Row =>
      df.columns.zipWithIndex.map { case (c, i) =>
        c -> (if (row.isNullAt(i)) "NULL" else row.getString(i))
      }.toMap
    }.getOrElse(Map.empty)

  /** Export metadata (NodeExport/RelExport incl. one-row CSV-rendered
    * samples) WITHOUT writing any CSVs — for generating model JSONs alone.
    * Sample sniffs run concurrently like exportAll's. */
  def buildExports(graph: PropertyGraph): (Seq[NodeExport], Seq[RelExport]) = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(8, graph.schema.labels.size + graph.schema.rels.size max 1))
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    try {
      val nodeF = Future.traverse(graph.schema.labels) { ls => Future {
        val df = graph.nodes(ls.label)
        NodeExport(ls.label, ls.identifier, df.columns.toSeq, sampleRow(df))
      }}
      val relF = Future.traverse(graph.schema.rels) { rs => Future {
        val df = graph.rels(rs.pattern)
        RelExport(rs.pattern, rs.srcIdProp, rs.dstIdProp, rs.srcColName, rs.dstColName,
          rs.properties.map(_.name).sorted, sampleRow(df))
      }}
      (Await.result(nodeF, Duration.Inf), Await.result(relF, Duration.Inf))
    } finally pool.shutdown()
  }

  def exportAll(
      graph: PropertyGraph,
      outputDir: String,
      formatVersion: String = "3.0",
      singleFileCsv: Boolean = true,
      createZip: Boolean = true,
      zipName: Option[String] = None): ExportResult = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    Files.createDirectories(Paths.get(outputDir))

    // Single-file CSVs are written by ONE Spark job for all tables, with
    // the tables' plans built concurrently on the pool; a distributed
    // export runs one write job per table, concurrently from the pool so
    // that their fixed job-launch latencies overlap (output paths are
    // distinct per table, so the writes never contend). Either way each
    // sample is then read back from the head of the written file on the
    // driver, with no job.
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(8, graph.schema.labels.size + graph.schema.rels.size max 1))
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    try {
      // identifier-first ordering is already the node tables' shape
      val nodes = graph.schema.labels.map(ls => ls.label -> graph.nodes(ls.label))
      val rels = graph.schema.rels.map(rs => rs.pattern.key -> graph.rels(rs.pattern))
      val tables = nodes ++ rels
      val files =
        if (singleFileCsv) CsvPackageWriter.writeSingleFiles(tables, outputDir)
        else Await.result(Future.traverse(tables) { case (name, df) =>
          Future(CsvPackageWriter.write(df, outputDir, name))
        }, Duration.Inf)
      val samples = Await.result(Future.traverse(tables.zip(files)) { case ((_, df), csv) =>
        Future(CsvPackageWriter.firstRow(csv, df.columns.toSeq))
      }, Duration.Inf)
      val (nodeSamples, relSamples) = samples.splitAt(nodes.size)
      val nodeExports = graph.schema.labels.lazyZip(nodes).lazyZip(nodeSamples).map {
        case (ls, (_, df), sample) => NodeExport(ls.label, ls.identifier, df.columns.toSeq, sample)
      }
      val relExports = graph.schema.rels.lazyZip(relSamples).map { (rs, sample) =>
        RelExport(rs.pattern, rs.srcIdProp, rs.dstIdProp, rs.srcColName, rs.dstColName,
          rs.properties.map(_.name).sorted, sample)
      }
      finish(graph, outputDir, formatVersion, createZip, zipName, nodeExports, relExports)
    } finally pool.shutdown()
  }

  private def finish(
      graph: PropertyGraph,
      outputDir: String,
      formatVersion: String,
      createZip: Boolean,
      zipName: Option[String],
      nodeExports: Seq[NodeExport],
      relExports: Seq[RelExport]): ExportResult = {

    // --- importer model
    val model = ImporterModel.generate(formatVersion, nodeExports, relExports,
      graph.schema.constraints, graph.schema.indexes)
    val modelPath = Paths.get(outputDir, "neo4j_importer_model.json")
    Files.writeString(modelPath, model.render() + "\n")

    // --- zip
    val zipPath = if (createZip) {
      val name = zipName.getOrElse(s"${Paths.get(outputDir).getFileName}-export.zip")
      Some(ZipPackager.zipDirectory(outputDir, Paths.get(outputDir).resolveSibling(name).toString).toString)
    } else None

    ExportResult(
      outputDir,
      nodeExports.map(n => n.label -> n.csvFileName).toMap,
      relExports.map(r => r.pattern.key -> r.csvFileName).toMap,
      modelPath.toString,
      zipPath)
  }
}
