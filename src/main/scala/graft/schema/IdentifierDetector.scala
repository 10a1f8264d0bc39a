package graft.schema

import org.apache.spark.sql.{Column, DataFrame, Observation}
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
  * ONE pass over all candidate columns at once, carrying each column's
  * sanitized non-null `count` and a DataSketches HLL estimate of its
  * distinct count (`hll_sketch_agg` at lgK 12, one binary buffer per
  * column, map-side mergeable). Then an exact duplicate check, in
  * original property order, only for columns whose estimate could
  * plausibly equal their count; the first confirmed one wins. The screen
  * is observed on the scan that exact-checks the first property, so a
  * label whose first property is its key costs two jobs and one scan.
  * Never N full scans, never a collect.
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
    * are all distinct: the sketch screen, then exact checks of the
    * survivors until one holds.
    *
    * Two jobs for the common case, one scan of the table: the screen
    * rides the exact check of the first property as an `Observation` on
    * the same scan, so the shuffle map stage computes both. Each later
    * survivor costs one more two-job check. Two properties of that plan
    * are load-bearing:
    *   - no predicate on the grouping key (say `s.isNotNull`): it pushes
    *     below the aggregate, and when it empties the map stage (an
    *     all-missing first property) AQE's empty-relation propagation
    *     drops the stage that carries the observation;
    *   - an empty table reports no observed values at all, so a missing
    *     value reads as 0, which no screen passes. */
  private[schema] def allUniqueColumn(df: DataFrame, properties: Seq[String]): Option[String] = {
    if (properties.isEmpty) return None
    val observed = Observation()
    val aggs = screenAggs(df, properties)
    val firstUnique = duplicateGroups(df.observe(observed, aggs.head, aggs.tail: _*),
      sanitized(df, properties.head)) == 0
    passing(properties, i => observedLong(observed, screenName(i))).find { c =>
      if (c == properties.head) firstUnique else duplicateGroups(df, sanitized(df, c)) == 0
    }
  }

  /** Number of non-null values of `s` that occur more than once, counted
    * by an observation on a `noop` write: one shuffle, two jobs, nothing
    * collected. A null key's group counts 0, so no key predicate is
    * needed (see [[allUniqueColumn]]). */
  private def duplicateGroups(df: DataFrame, s: Column): Long = {
    val dups = Observation()
    df.groupBy(s.as("__k")).agg(count(s).as("__c")).where(col("__c") > 1)
      .observe(dups, count(lit(1)).as("n"))
      .write.format("noop").mode("overwrite").save()
    observedLong(dups, "n")
  }

  /** An observed count, 0 when the query reported none (an empty input). */
  private def observedLong(o: Observation, name: String): Long = o.get.get(name) match {
    case Some(n: Long) => n
    case _             => 0L
  }

  /** The properties, in original order, that have a sanitized non-null
    * value and whose estimated distinct count is within the acceptance
    * margin of their non-null count. One aggregate over all of them; the
    * standalone form of the screen [[allUniqueColumn]] observes. */
  private[schema] def screen(df: DataFrame, properties: Seq[String]): Seq[String] = {
    if (properties.isEmpty) return Nil
    val aggs = screenAggs(df, properties)
    val row = df.agg(aggs.head, aggs.tail: _*).head()
    passing(properties, row.getLong)
  }

  /** Alias of the screen's `i`-th value: property `i / 2`'s count at even
    * `i`, its distinct estimate at odd `i`. */
  private def screenName(i: Int): String = s"__screen_$i"

  private def screenAggs(df: DataFrame, properties: Seq[String]): Seq[Column] =
    properties.flatMap { c =>
      val s = sanitized(df, c)
      // hll_sketch_agg takes only int/long/string/binary and skips empty
      // strings, so every type goes through one hashed long; xxhash64(null)
      // is the seed, not null, hence the guard. lgK 12 (~1.6% error) with
      // a 0.8 acceptance margin is ~12 sigma: a genuinely unique column
      // essentially never fails the screen, while clearly non-unique
      // columns still skip the exact check
      val h = when(s.isNull, lit(null)).otherwise(xxhash64(s))
      Seq(count(s), hll_sketch_estimate(hll_sketch_agg(h, 12)))
    }.zipWithIndex.map { case (a, i) => a.as(screenName(i)) }

  private def passing(properties: Seq[String], value: Int => Long): Seq[String] =
    properties.zipWithIndex.collect {
      case (c, i) if value(2 * i) > 0 && value(2 * i + 1) >= (value(2 * i) * 0.8).toLong => c
    }
}
