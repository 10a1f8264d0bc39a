package graft.model

import org.apache.spark.sql.DataFrame

/** A relationship pattern — one (sourceLabel, relType, targetLabel) triple.
  *
  * Mirrors the reference's per-pattern export keying
  * (neo4j_export.py:342-358: `pattern_key = f"{source_label}_{rel_type}_{target_label}"`).
  */
final case class RelPattern(srcLabel: String, relType: String, dstLabel: String) {
  def key: String = s"${srcLabel}_${relType}_${dstLabel}"
}

/** Importer-facing property metadata: name, type token
  * (integer|float|boolean|string), nullability.
  * Mirrors the per-property entries the reference builds from
  * `apoc.meta.data` + CSV samples (neo4j_export.py:58-81, 530-541).
  */
final case class PropertyMeta(name: String, typeToken: String, nullable: Boolean)

/** Schema of one node label: ordered properties (identifier first) and the
  * detected identifier property (neo4j_export.py:132-175, 298-317). */
final case class LabelSchema(
    label: String,
    identifier: String,
    properties: Seq[PropertyMeta])

/** Schema of one relationship pattern: endpoint id columns (label-prefixed,
  * `_source`/`_target`-suffixed for self-relationships,
  * neo4j_export.py:383-390) plus the relationship's own properties. */
final case class RelSchema(
    pattern: RelPattern,
    srcIdProp: String,
    dstIdProp: String,
    properties: Seq[PropertyMeta]) {
  private val selfRel = pattern.srcLabel == pattern.dstLabel && srcIdProp == dstIdProp
  def srcColName: String =
    if (selfRel) s"${pattern.srcLabel}_${srcIdProp}_source"
    else s"${pattern.srcLabel}_${srcIdProp}"
  def dstColName: String =
    if (selfRel) s"${pattern.dstLabel}_${dstIdProp}_target"
    else s"${pattern.dstLabel}_${dstIdProp}"
  /** source col, target col, then sorted rel props (neo4j_export.py:421). */
  def orderedColumnNames: Seq[String] =
    Seq(srcColName, dstColName) ++ properties.map(_.name).sorted
}

/** Declared uniqueness/existence/key constraint — the engine-side analog of
  * Neo4j `SHOW CONSTRAINTS` output (neo4j_export.py:229-267). */
final case class GraphConstraint(
    name: String,
    constraintType: String, // uniqueness | existence | key
    entityType: String,     // node | relationship
    labels: Seq[String],
    properties: Seq[String])

/** Declared index — the analog of `SHOW INDEXES` (neo4j_export.py:177-227). */
final case class GraphIndex(
    name: String,
    indexType: String,
    entityType: String,
    labels: Seq[String],
    properties: Seq[String])

/** Whole-graph schema: every label + pattern + declared constraints/indexes. */
final case class GraphSchema(
    labels: Seq[LabelSchema],
    rels: Seq[RelSchema],
    constraints: Seq[GraphConstraint] = Nil,
    indexes: Seq[GraphIndex] = Nil) {
  def label(name: String): Option[LabelSchema] = labels.find(_.label == name)
  def identifierOf(label: String): Option[String] = this.label(label).map(_.identifier)
}

/** A distributed property graph: node tables per label, edge tables per
  * pattern, all as DataFrames — nothing graph-shaped ever lives in driver
  * memory (unlike the reference, which collects every node/relationship
  * into Python lists, neo4j_export.py:284-292 / 393-414).
  */
final case class PropertyGraph(
    nodes: Map[String, DataFrame],
    rels: Map[RelPattern, DataFrame],
    schema: GraphSchema)
