package graft.schema

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType

/** Identifier detection — the reference's `_determine_identifier` 5-rule
  * priority (neo4j_export.py:132-175):
  *
  *   1. unique-constraint property;
  *   2. property named `id` (case-insensitive);
  *   3. property ending in `id` (case-insensitive), exact-`id`-first then
  *      shortest name;
  *   4. property whose non-null values are all unique;
  *   5. first property as fallback.
  *
  * Rules 2/4/5 iterate in ORIGINAL property order like the reference;
  * only rule 3 sorts (by exact-'id', then name length — its own rule).
  *
  * Rules 1–3 are pure metadata (zero data reads). Rule 4 — which the
  * reference implements as a Python set() over fully-collected rows
  * (neo4j_export.py:162-167) — runs distributed in two steps. A screen:
  * ONE aggregate over all candidate columns at once, carrying each
  * column's sanitized non-null `count` and a DataSketches HLL estimate of
  * its distinct count (`hll_sketch_agg` at lgK 12, one binary buffer per
  * column, map-side mergeable). Then an exact `count_distinct`
  * confirmation, in original property order, only for columns whose
  * estimate could plausibly equal their count; the first confirmed one
  * wins. Never N full scans, never a collect.
  *
  * The screen is not Spark's built-in HLL++ distinct-count aggregate: at
  * the precision rule 4 needs, that aggregate lays each column's 4,096
  * registers out as 410 separate `LongType` aggregation-buffer fields. A
  * six-column label then drags ~2,460 fields through the partial and
  * final aggregates and ships a ~1 MB task binary per job; the
  * DataSketches aggregate keeps one buffer per column.
  */
object IdentifierDetector {

  /** Nullify the reference's NULL sentinels for string columns: Python
    * treats None / "" / "NULL" all as missing (neo4j_export.py:164, 307). */
  def sanitized(df: DataFrame, c: String): Column = {
    if (df.schema(c).dataType == StringType)
      when(col(c).isNull || col(c) === "" || col(c) === "NULL", lit(null)).otherwise(col(c))
    else col(c)
  }

  def detect(df: DataFrame, label: String, catalog: GraphCatalog = GraphCatalog.empty): String = {
    // ORIGINAL column order, matching the reference: rules 2/4/5 take the
    // first hit in property order (neo4j_export.py:148,163,171), so a
    // sorted iteration would pick a different identifier whenever a
    // non-alphabetically-first property qualifies first
    val properties = df.columns.toSeq

    // Rule 1: unique constraint (neo4j_export.py:142-146)
    catalog.uniqueConstraintProps(label).find(properties.contains) match {
      case Some(p) => return p
      case None    =>
    }

    // Rule 2: property named 'id' (neo4j_export.py:148-152)
    properties.find(_.toLowerCase == "id") match {
      case Some(p) => return p
      case None    =>
    }

    // Rule 3: '*id' suffix, exact-'id'-first then shortest (neo4j_export.py:154-160)
    val idLike = properties.filter(_.toLowerCase.endsWith("id"))
    if (idLike.nonEmpty)
      return idLike.sortBy(p => (p.toLowerCase != "id", p.length, p)).head

    // Rule 4: all-unique-valued column (neo4j_export.py:162-167), distributed.
    allUniqueColumn(df, properties) match {
      case Some(p) => return p
      case None    =>
    }

    // Rule 5: first property (neo4j_export.py:169-173)
    properties.headOption.getOrElse(
      throw new IllegalArgumentException(s"No properties found for label $label"))
  }

  /** First property (in original order) whose sanitized non-null values
    * are all distinct: the sketch screen, then exact confirmations of the
    * survivors until one holds. */
  private[schema] def allUniqueColumn(df: DataFrame, properties: Seq[String]): Option[String] =
    // exact confirmation, first in property order wins (matches ref iteration)
    screen(df, properties).find { c =>
      val s = sanitized(df, c)
      val r = df.agg(count(s).as("n"), count_distinct(s).as("d")).head()
      r.getLong(0) == r.getLong(1)
    }

  /** The properties, in original order, that have a sanitized non-null
    * value and whose estimated distinct count is within the acceptance
    * margin of their non-null count. One aggregate over all of them. */
  private[schema] def screen(df: DataFrame, properties: Seq[String]): Seq[String] = {
    if (properties.isEmpty) return Nil
    val aggs = properties.flatMap { c =>
      val s = sanitized(df, c)
      // hll_sketch_agg takes only int/long/string/binary and skips empty
      // strings, so every type goes through one hashed long; xxhash64(null)
      // is the seed, not null, hence the guard. lgK 12 (~1.6% error) with
      // a 0.8 acceptance margin is ~12 sigma: a genuinely unique column
      // essentially never fails the screen, while clearly non-unique
      // columns still skip the exact confirmation scan
      val h = when(s.isNull, lit(null)).otherwise(xxhash64(s))
      Seq(count(s).as(s"__n_$c"), hll_sketch_estimate(hll_sketch_agg(h, 12)).as(s"__hll_$c"))
    }
    val row = df.agg(aggs.head, aggs.tail: _*).head()
    properties.zipWithIndex.collect {
      case (c, i) if row.getLong(2 * i) > 0 &&
        row.getLong(2 * i + 1) >= (row.getLong(2 * i) * 0.8).toLong => c
    }
  }
}
