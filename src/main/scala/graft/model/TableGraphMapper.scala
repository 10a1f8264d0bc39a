package graft.model

import graft.operators.{NodeTableBuilder, RelTableBuilder}
import graft.schema.{GraphCatalog, IdentifierDetector}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** Declarative relational→graph mapping: which table becomes which node
  * label, and which (table, fk, fk) becomes which relationship pattern.
  * This is the "bulk import via DataFrames" half of the engine — the
  * inverse direction of the reference (which exports a graph *to* tables),
  * sharing the same schema/identifier/naming machinery so a round trip is
  * loss-free.
  */
/** One table's rows can carry SEVERAL labels (Neo4j `:Person:Customer`
  * multi-labeling): the reference exports such a node once per label
  * (`MATCH (n:label) RETURN n` runs label by label —
  * neo4j_export.py:281-292), so each label in `label +: extraLabels` gets
  * its OWN node table, identifier detection (per-label constraints can
  * name different key properties), NULL-id filter and column order. An
  * explicit `idProp` applies to every label of this mapping. */
final case class NodeMapping(label: String, table: String, idProp: Option[String] = None,
    extraLabels: Seq[String] = Nil) {
  /** All labels this table's rows carry, primary first. */
  def labels: Seq[String] = label +: extraLabels
}

/** Edge rows come from `table`; `srcFk`/`dstFk` reference the id properties
  * of the endpoint labels; `props` are the relationship's own columns.
  * `rowFilter` (SQL expression over the table's columns) lets ONE table
  * map to SEVERAL relationship types by row predicate — e.g. lineitem →
  * CONTAINS for every row and RETURNED where l_returnflag = 'R' — the
  * conditional-edge modeling Neo4j users express with per-row type logic
  * at import time. The predicate is applied before endpoint resolution,
  * so it pushes to the table scan. */
final case class EdgeMapping(
    relType: String,
    table: String,
    srcLabel: String, srcFk: String,
    dstLabel: String, dstFk: String,
    props: Seq[String] = Nil,
    rowFilter: Option[String] = None) {
  def pattern: RelPattern = RelPattern(srcLabel, relType, dstLabel)
}

final class TableGraphMapper(
    nodeMappings: Seq[NodeMapping],
    edgeMappings: Seq[EdgeMapping],
    catalog: GraphCatalog = GraphCatalog.empty) {

  def readTable(spark: SparkSession, dir: String, name: String): DataFrame =
    graft.Tables(spark, dir, name)

  /** Build the full PropertyGraph lazily — every node/edge table is a
    * DataFrame transform; nothing is materialized here. */
  def load(spark: SparkSession, dir: String, checkEndpoints: Boolean = false): PropertyGraph = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    // one (label, mapping) unit per label a table declares — multi-label
    // tables fan out to one node table per label, reference semantics
    val labelMappings: Seq[(String, NodeMapping)] =
      nodeMappings.flatMap(nm => nm.labels.map(l => (l, nm)))
    val tables = (nodeMappings.map(_.table) ++ edgeMappings.map(_.table)).distinct
    // Table opens (a listing and one driver-side footer read each, no
    // job) and rule-4 identifier scans for labels without a declared
    // constraint (Spark actions) are independent — run them concurrently
    // instead of paying the latency once per table and label. Each
    // distinct table is read ONCE; its labels and edge mappings share the
    // frame, and each label's detection starts as soon as its own table
    // is open.
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.max(1, math.min(8, math.max(tables.size, labelMappings.size))))
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    try {
    val reads: Map[String, Future[DataFrame]] =
      tables.map(t => t -> Future(readTable(spark, dir, t))).toMap

    val nodeF: Map[String, Future[(DataFrame, LabelSchema)]] =
      labelMappings.map { case (label, nm) => label -> reads(nm.table).map { raw =>
        val id = nm.idProp.getOrElse(IdentifierDetector.detect(raw, label, catalog))
        val built = NodeTableBuilder.build(raw, id)
        val props = built.schema.fields.toSeq.map(f =>
          PropertyMeta(f.name, graft.schema.TypeInference.fromCatalyst(f.dataType), f.nullable))
        (built, LabelSchema(label, id, props))
      }}.toMap

    val relF: Seq[Future[(RelPattern, DataFrame, RelSchema)]] = edgeMappings.map { em =>
      for {
        table <- reads(em.table)
        (srcDf, srcSchema) <- nodeF(em.srcLabel)
        (dstDf, dstSchema) <- nodeF(em.dstLabel)
      } yield {
        val raw = em.rowFilter.fold(table)(f =>
          table.where(org.apache.spark.sql.functions.expr(f)))
        val (df, rs) = RelTableBuilder.build(
          em.pattern, raw, em.srcFk, em.dstFk,
          srcSchema.identifier, dstSchema.identifier, em.props,
          if (checkEndpoints) Some(srcDf.select(col(srcSchema.identifier))) else None,
          if (checkEndpoints) Some(dstDf.select(col(dstSchema.identifier))) else None)
        (em.pattern, df, rs)
      }
    }

    val nodeTables: Map[String, (DataFrame, LabelSchema)] =
      nodeF.map { case (l, f) => l -> Await.result(f, Duration.Inf) }
    val rels = Await.result(Future.sequence(relF), Duration.Inf)

    PropertyGraph(
      nodes = nodeTables.map { case (l, (df, _)) => l -> df },
      rels = rels.map { case (p, df, _) => p -> df }.toMap,
      schema = GraphSchema(
        labels = labelMappings.map { case (l, _) => nodeTables(l)._2 },
        rels = rels.map(_._3),
        constraints = catalog.constraints,
        indexes = catalog.indexes))
    } finally pool.shutdown()
  }
}

/** The TPC-H-ish star schema of /root/testdata mapped onto a property
  * graph: dims+facts become labels, FKs become relationship patterns.
  * Unique constraints are declared for the primary keys (feeding
  * IdentifierDetector rule 1, like the reference's SHOW CONSTRAINTS path).
  */
object TpchGraph {
  val catalog: GraphCatalog = GraphCatalog.empty
    .withUnique("Region", "r_regionkey")
    .withUnique("Nation", "n_nationkey")
    .withUnique("Customer", "c_custkey")
    .withUnique("Supplier", "s_suppkey")
    .withUnique("Part", "p_partkey")
    .withUnique("Order", "o_orderkey")
    .withIndex("Customer", "c_mktsegment")
    .withIndex("Order", "o_orderdate")

  val nodes: Seq[NodeMapping] = Seq(
    NodeMapping("Region", "region"),
    NodeMapping("Nation", "nation"),
    NodeMapping("Customer", "customer"),
    NodeMapping("Supplier", "supplier"),
    NodeMapping("Part", "part"),
    NodeMapping("Order", "orders"))

  val edges: Seq[EdgeMapping] = Seq(
    EdgeMapping("IN_REGION", "nation", "Nation", "n_nationkey", "Region", "n_regionkey"),
    EdgeMapping("IN_NATION", "customer", "Customer", "c_custkey", "Nation", "c_nationkey"),
    EdgeMapping("LOCATED_IN", "supplier", "Supplier", "s_suppkey", "Nation", "s_nationkey"),
    EdgeMapping("PLACED", "orders", "Customer", "o_custkey", "Order", "o_orderkey"),
    EdgeMapping("CONTAINS", "lineitem", "Order", "l_orderkey", "Part", "l_partkey",
      props = Seq("l_linenumber", "l_quantity", "l_extendedprice", "l_discount",
        "l_tax", "l_returnflag", "l_linestatus", "l_shipdate")),
    EdgeMapping("SUPPLIED_BY", "lineitem", "Order", "l_orderkey", "Supplier", "l_suppkey",
      props = Seq("l_linenumber", "l_quantity")))

  val mapper: TableGraphMapper = new TableGraphMapper(nodes, edges, catalog)

  def load(spark: SparkSession, dir: String, checkEndpoints: Boolean = false): PropertyGraph =
    mapper.load(spark, dir, checkEndpoints)
}
