package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType

/** Node-table construction for one label — the distributed re-expression of
  * `export_nodes` (neo4j_export.py:269-332):
  *
  *   - drop rows whose identifier is NULL / "" / "NULL"
  *     (neo4j_export.py:303-313) — a scan-pushable filter, not a driver loop;
  *   - order columns identifier-first, rest sorted (neo4j_export.py:315-317)
  *     — a zero-cost projection.
  *
  * The reference collects every node into a Python list first
  * (neo4j_export.py:284-292); here the table never leaves the executors.
  */
object NodeTableBuilder {

  /** The reference's missing-identifier predicate (None/""/"NULL"). */
  def validId(df: DataFrame, idCol: String): Column = {
    val c = col(idCol)
    if (df.schema(idCol).dataType == StringType)
      c.isNotNull && c =!= "" && c =!= "NULL"
    else c.isNotNull
  }

  /** Build the export-shaped node table: filtered + reordered. */
  def build(df: DataFrame, identifier: String): DataFrame = {
    require(df.columns.contains(identifier), s"identifier $identifier not in ${df.columns.mkString(",")}")
    val ordered = identifier +: df.columns.filterNot(_ == identifier).sorted.toSeq
    df.where(validId(df, identifier)).select(ordered.map(col): _*)
  }

  /** Schemaless ingest: explode a `MAP<STRING,STRING>` properties column
    * into the union of OBSERVED keys — the reference's actual node data
    * model (each node is a property map; the export column set is the
    * union of keys seen across nodes, absent keys filled with the NULL
    * restval — neo4j_export.py:285-292).
    *
    * The key union is computed distributively (explode → distinct — a
    * map-side-combined agg whose result is SCHEMA-sized, the one thing a
    * driver may hold); each observed key becomes one `element_at` column,
    * NULL where a row lacks it. Keys sort after the identifier, matching
    * the export column order. A key observed nowhere yields no column. */
  def fromPropertyMap(df: DataFrame, idCol: String, mapCol: String): DataFrame = {
    val keys = df.select(explode(map_keys(col(mapCol))).as("k"))
      .distinct().collect().map(_.getString(0)).sorted
    df.select(col(idCol) +: keys.toSeq.map(k => element_at(col(mapCol), lit(k)).as(k)): _*)
  }
}
