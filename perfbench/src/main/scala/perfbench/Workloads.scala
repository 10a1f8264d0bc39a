package perfbench

import java.nio.file.{Files, Path}
import graft.SparkEntry
import graft.export.{CsvPackageWriter, GraphExporter, ImporterModel, ZipPackager}
import graft.model.{PropertyGraph, TableGraphMapper, TpchGraph}
import graft.operators.{Betweenness, GraphAnalytics}
import graft.schema.{GraphCatalog, IdentifierDetector}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Result of an operation's untimed check: the output's fingerprint, any
  * problems found, and sizes worth reporting. */
final case class Checked(fingerprint: String, problems: Seq[String] = Nil,
    stats: Map[String, Double] = Map.empty)

/** What a timed call leaves behind for the untimed checks. `df` is the
  * query result (dumped once for the DuckDB oracle); `graph` and `outDir`
  * are the exported graph and package. */
final case class Outcome(check: () => Checked, df: Option[DataFrame] = None,
    graph: Option[PropertyGraph] = None, outDir: Option[Path] = None)

/** One operation of a workload. `run` is what a user calls and is timed;
  * `traced` composes the same public calls under spans and must reach
  * the same fingerprint. */
trait Op {
  def name: String
  def run(s: SparkSession, dir: String, out: Path): Outcome
  def traced(s: SparkSession, dir: String, out: Path, t: Tracer): Outcome
}

/** A `SparkEntry.queries` key, timed up to its output fingerprint. */
abstract class QueryOp(val name: String) extends Op {
  def run(s: SparkSession, dir: String, out: Path): Outcome = {
    val df = SparkEntry.queries(name)(s, dir)
    val fp = Checks.fingerprint(df)
    Outcome(() => Checked(fp), Some(df))
  }
}

/** Graph keys: the key's own composition of public calls, one span per
  * layer. The constants are the key's; the fingerprint comparison with
  * the untimed key catches any drift. */
object GraphOps {
  private def fp(t: Tracer, layer: String, df: => DataFrame): Outcome = {
    val f = t.span(layer)(Checks.fingerprint(df))
    Outcome(() => Checked(f))
  }

  private def load(s: SparkSession, dir: String, t: Tracer): PropertyGraph =
    t.span("model.load")(TpchGraph.load(s, dir))

  private def edges(g: PropertyGraph, t: Tracer): (DataFrame, Seq[String]) =
    t.span("ops.unified_edges")(GraphAnalytics.unifiedEdges(g))

  val pagerank: Op = new QueryOp("g_pagerank") {
    def traced(s: SparkSession, dir: String, out: Path, t: Tracer): Outcome = {
      val (e, labels) = edges(load(s, dir, t), t)
      val pr = t.span("ops.pagerank")(GraphAnalytics.pageRankQuantizedDF(e, numIter = 10))
      fp(t, "ops.decode", GraphAnalytics.decode(pr, "vid", labels)
        .select(col("label"), col("node_id"), col("rank").as("pagerank")))
    }
  }

  val betweenness: Op = new QueryOp("g_betweenness") {
    def traced(s: SparkSession, dir: String, out: Path, t: Tracer): Outcome = {
      val g = load(s, dir, t)
      val (e, labels) = edges(g, t)
      val bound = t.span("ops.unified_edges")(GraphAnalytics.unifiedEdgeRowsBound(g))
      val bc = t.span("ops.betweenness")(Betweenness.pivotBetweenness(e, nPivots = 4,
        horizon = 6, seed = 11L, stagingRowsHint = Some(bound)))
      fp(t, "ops.decode", GraphAnalytics.decode(bc, "vid", labels)
        .select(col("label"), col("node_id"), col("betweenness")))
    }
  }
}

/** Training-data keys: one span per key call, cold or warm. */
final class TrainingOp(name: String) extends QueryOp(name) {
  def traced(s: SparkSession, dir: String, out: Path, t: Tracer): Outcome = {
    val f = t.span(s"queries.$name")(Checks.fingerprint(SparkEntry.queries(name)(s, dir)))
    Outcome(() => Checked(f))
  }
}

/** The paper's product: load the TPC-H graph with an empty catalog (so
  * identifiers come from the rule-4 uniqueness scan) and export it as a
  * format-3.0 package of single-file CSVs plus a zip. */
object ExportOp extends Op {
  val name = "export_all"
  private def zipOf(out: Path): Path = out.resolveSibling(s"${out.getFileName}-export.zip")

  private def outcome(g: PropertyGraph, out: Path): Outcome = Outcome(() => {
    val pkg = Checks.packageDigest(out, zipOf(out))
    Checked(pkg.digest, Checks.packageStructure(g, out, pkg),
      Map("package_bytes" -> pkg.zipBytes.toDouble, "csv_bytes" -> pkg.csvBytes.toDouble,
        "rows" -> pkg.rows.toDouble))
  }, graph = Some(g), outDir = Some(out))

  def run(s: SparkSession, dir: String, out: Path): Outcome = {
    val g = new TableGraphMapper(TpchGraph.nodes, TpchGraph.edges, GraphCatalog.empty).load(s, dir)
    GraphExporter.exportAll(g, out.toString, formatVersion = "3.0", singleFileCsv = true,
      createZip = true)
    outcome(g, out)
  }

  /** exportAll's steps as separate public calls: identifier detection per
    * label, the load with those identifiers, one CSV write per table on a
    * pool as exportAll does, the sample sniff, the model JSON, the zip. */
  def traced(s: SparkSession, dir: String, out: Path, t: Tracer): Outcome = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    def onPool[A, B](xs: Seq[A])(f: A => B): Seq[B] = {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(math.max(1, math.min(8, xs.size)))
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
      try Await.result(Future.traverse(xs)(x => Future(f(x))), Duration.Inf)
      finally pool.shutdown()
    }
    Files.createDirectories(out)
    val ids: Map[String, String] = onPool(TpchGraph.nodes) { nm =>
      nm.label -> t.span("schema.detect", nm.label)(IdentifierDetector.detect(
        s.read.parquet(s"$dir/${nm.table}.parquet"), nm.label, GraphCatalog.empty))
    }.toMap
    val nodes = TpchGraph.nodes.map(nm => nm.copy(idProp = Some(ids(nm.label))))
    val g = t.span("model.load")(
      new TableGraphMapper(nodes, TpchGraph.edges, GraphCatalog.empty).load(s, dir))
    val tables: Seq[(String, String, DataFrame)] =
      g.schema.labels.map(ls => ("export.node_csv", ls.label, g.nodes(ls.label))) ++
        g.schema.rels.map(rs => ("export.rel_csv", rs.pattern.key, g.rels(rs.pattern)))
    onPool(tables) { case (layer, file, df) =>
      t.span(layer, file)(CsvPackageWriter.write(df, out.toString, file, singleFile = true))
    }
    val (nodeExports, relExports) = t.span("export.sample")(GraphExporter.buildExports(g))
    t.span("export.model_json") {
      val model = ImporterModel.generate("3.0", nodeExports, relExports,
        g.schema.constraints, g.schema.indexes)
      Files.writeString(out.resolve("neo4j_importer_model.json"), model.render() + "\n")
    }
    t.span("export.zip")(ZipPackager.zipDirectory(out.toString, zipOf(out).toString))
    outcome(g, out)
  }
}

object Workloads {
  /** Keys that train a model into graft's JVM-lifetime memos on their
    * first call and reuse it afterwards. */
  val trainingKeys: Seq[String] = Seq("dd_semantic")

  val all: Map[String, Seq[Op]] = Map(
    "export" -> Seq(ExportOp),
    "analytics" -> (Seq(GraphOps.pagerank, GraphOps.betweenness) ++
      trainingKeys.map(k => new TrainingOp(k))))
}
