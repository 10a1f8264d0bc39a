package perfbench

import java.nio.file.{Files, Path}
import graft.export.{CsvPackageWriter, GraphImporter}
import graft.export.JsonParser.JOps
import graft.model.PropertyGraph
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._
import scala.util.hashing.MurmurHash3

/** Output checks. [[fingerprint]] is the timed action of every query
  * operation; the package checks run outside the timed region. */
object Checks {

  /** Order-independent fingerprint of every row and column: row count and
    * the exact sum of per-row xxhash64 values. Hashing every column keeps
    * the optimizer from pruning any output the way `count()` would. */
  def fingerprint(df: DataFrame): String = {
    val cols = df.columns.toSeq.map(c => col(s"`$c`"))
    val r = df.select(xxhash64(cols: _*).cast("decimal(38,0)").as("h"))
      .agg(count(lit(1)), coalesce(sum(col("h")), lit(BigDecimal(0))))
      .head()
    s"${r.getLong(0)}:${r.getDecimal(1).toPlainString}"
  }

  /** Per table: row count and fingerprint of its CSV rendering with
    * columns in name order, so a source table and its re-imported copy
    * compare directly. One job covers every table. */
  def csvFingerprints(tables: Seq[(String, DataFrame)]): Map[String, String] = {
    val parts = tables.map { case (name, df) =>
      val s = CsvPackageWriter.stringified(df)
      s.select(lit(name).as("t"),
        xxhash64(s.columns.sorted.toSeq.map(c => col(s"`$c`")): _*).cast("decimal(38,0)").as("h"))
    }
    parts.reduce(_ unionAll _).groupBy("t").agg(count(lit(1)), sum(col("h"))).collect()
      .map(r => r.getString(0) -> s"${r.getLong(1)}:${r.getDecimal(2).toPlainString}").toMap
  }

  final case class Package(digest: String, zipBytes: Long, csvBytes: Long, rows: Long,
      entries: Seq[String])

  /** Digest of an export package: zip entry names, the model JSON bytes
    * and, per CSV, its header plus an order-independent sum of line
    * hashes (a single-file CSV's row order is not part of the contract). */
  def packageDigest(outDir: Path, zip: Path): Package = {
    val zf = new java.util.zip.ZipFile(zip.toFile)
    val entries = try zf.entries().asScala.map(_.getName).toSeq.sorted finally zf.close()
    var csvBytes = 0L
    var rows = 0L
    val parts = Files.list(outDir).iterator().asScala.toSeq.sortBy(_.getFileName.toString).flatMap { p =>
      val n = p.getFileName.toString
      if (n.endsWith(".csv") && Files.isRegularFile(p)) {
        csvBytes += Files.size(p)
        val it = Files.lines(p)
        try {
          val lines = it.iterator().asScala
          val header = if (lines.hasNext) lines.next() else ""
          var sum = 0L; var k = 0L
          lines.foreach { l => sum += MurmurHash3.stringHash(l).toLong & 0xffffffffL; k += 1 }
          rows += k
          Some(s"$n:${MurmurHash3.stringHash(header)}:$k:$sum")
        } finally it.close()
      } else if (n == "neo4j_importer_model.json")
        Some(s"$n:${MurmurHash3.stringHash(Files.readString(p))}")
      else None
    }
    Package((entries ++ parts).mkString("|"), Files.size(zip), csvBytes, rows, entries)
  }

  /** The package must hold one CSV per label and per pattern plus the
    * model, and the model must name exactly the graph's labels and
    * relationship patterns. Returns the problems found. */
  def packageStructure(g: PropertyGraph, outDir: Path, pkg: Package): Seq[String] = {
    val labels = g.schema.labels.map(_.label).toSet
    val patterns = g.schema.rels.map(_.pattern.key).toSet
    val wantEntries = (labels ++ patterns).map(_ + ".csv") + "neo4j_importer_model.json"
    val problems = Seq.newBuilder[String]
    if (pkg.entries.toSet != wantEntries || pkg.entries.size != wantEntries.size)
      problems += s"zip entries ${pkg.entries.mkString(",")}"
    val model = graft.export.JsonParser.parse(
      Files.readString(outDir.resolve("neo4j_importer_model.json")))
    val schema = model / "dataModel" / "graphSchemaRepresentation" / "graphSchema"
    val modelLabels = (schema / "nodeLabels").items.map(nl => (nl / "token").str)
    if (modelLabels.toSet != labels || modelLabels.size != labels.size)
      problems += s"model labels ${modelLabels.mkString(",")}"
    val byRef = (schema / "nodeLabels").items.zipWithIndex
      .map { case (nl, i) => s"n:$i" -> (nl / "token").str }.toMap
    val relTypes = (schema / "relationshipTypes").items
      .map(rt => (rt / "$id").str -> (rt / "token").str).toMap
    def ref(v: graft.export.JValue): String = (v / "$ref").str.stripPrefix("#")
    val modelPatterns = (schema / "relationshipObjectTypes").items.map { rot =>
      s"${byRef(ref(rot / "from"))}_${relTypes(ref(rot / "type"))}_${byRef(ref(rot / "to"))}"
    }
    if (modelPatterns.toSet != patterns || modelPatterns.size != patterns.size)
      problems += s"model patterns ${modelPatterns.mkString(",")}"
    problems.result()
  }

  /** Import the package back and compare every table with the graph it
    * was exported from: same row count and the same CSV rendering. */
  def roundTrip(g: PropertyGraph, outDir: Path): Seq[String] = {
    val back = GraphImporter.fromPackage(g.nodes.values.head.sparkSession, outDir.toString)
    def tables(side: String, p: PropertyGraph) =
      (p.nodes.toSeq ++ p.rels.toSeq.map { case (k, df) => k.key -> df })
        .map { case (t, df) => s"$side $t" -> df }
    val fp = csvFingerprints(tables("source", g) ++ tables("re-imported", back))
    (g.nodes.keySet ++ back.nodes.keySet ++ (g.rels.keySet ++ back.rels.keySet).map(_.key))
      .toSeq.sorted.flatMap { t =>
        val (a, b) = (fp.get(s"source $t"), fp.get(s"re-imported $t"))
        if (a == b) None else Some(s"$t: source ${a.getOrElse("none")}, re-imported ${b.getOrElse("none")}")
      }
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val walk = Files.walk(p)
    try walk.sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.deleteIfExists(f))
    finally walk.close()
  }
}
