package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Maximal independent set via Luby's algorithm (Luby 1986) with
  * DERANDOMIZED priorities — the foundational symmetry-breaking
  * primitive (graph coloring, scheduling, correlation clustering all
  * reduce to repeated MIS).
  *
  * Priorities are the portable 60-bit md5 of (seed, vid) instead of
  * per-round randomness: the classic analysis only needs priorities
  * independent of the adjacency structure, hashes give that, and the
  * whole run becomes a pure function of (graph, seed) — reproducible
  * across runs, reshards, and engines, so every round replays in SQL.
  * Per round every active vertex whose priority is a strict local
  * minimum among its ACTIVE neighbors joins the set; it and its
  * neighbors retire. Isolated-in-the-active-subgraph vertices have no
  * active neighbor and join immediately. Expected O(log n) rounds; an
  * under-provisioned round count surfaces as the sentinel row
  * (vid = −1, still-active count) rather than a silently non-maximal
  * set — the [[GraphAnalytics.coreness]] recipe.
  *
  * Scale shape per round: one edge⋈priority join restricted to the
  * active subgraph (priorities are 16 B/vertex on the wire), one
  * map-side-combined min per vertex, two anti-joins on vertex keys.
  * The active set only shrinks — in expectation by a constant fraction
  * of EDGES per round (Luby's bound), so late rounds are cheap.
  */
object Mis {

  /** Greedy distributed graph coloring (Jones–Plassmann 1993) under the
    * same derandomized md5 priorities: an uncolored vertex colors
    * itself once every HIGHER-priority neighbor is colored, taking the
    * minimum excluded color (mex) of its already-colored neighbors —
    * so the color count is bounded by degeneracy+1-ish greedy quality,
    * and rounds are bounded by the longest decreasing-priority path
    * (O(log n / log log n) w.h.p. for random priorities). Priority
    * comparison is explicitly (p, vid) lexicographic in BOTH engines —
    * no reliance on hash tie-freedom. The mex computes distributively:
    * distinct neighbor colors ranked ascending per vertex; the first
    * rank where color ≠ rank−1 is the gap, else the color count.
    * Sentinel row (−1, still-uncolored count) guards the round budget.
    * Returns (vid, color), colors 0-based. */
  def jpColoring(edges: DataFrame, rounds: Int = 16,
      seed: Long = 7L, srcCol: String = "src", dstCol: String = "dst",
      localStateCap: Long = JpLocalStateCap): DataFrame = {
    require(rounds >= 1, "rounds must be >= 1")
    val e0 = edges.select(col(srcCol).as("u"), col(dstCol).as("v"))
      .where(col("u") =!= col("v"))
    val und = e0.unionAll(e0.select(col("v").as("u"), col("u").as("v")))
      .distinct().localCheckpoint(true)
    var uncolored = und.select(col("u")).distinct()
      .withColumn("p", Dedup.md5Long(concat(lit(s"$seed:"), col("u").cast("string"))))
      .localCheckpoint(true)
    val nVerts = uncolored.count()
    // LOCAL-STATE round loop under the cap (the coreness broadcast-map
    // recipe, r15): the legacy loop below pays ~12 jobs per round (3
    // checkpoints + per-join broadcast builds + AQE stages), all over
    // V-sized frames — on the bounded-degree fixture the whole wall is
    // ~150 job launches × ~150 ms of scheduling floor (QueryProbe r15,
    // 24.5 s at sf0.1 for 1000 vertices). With integral vids under the
    // cap, the V-sized state (priorities, colors) lives on the driver
    // and each round is ONE distributed job over the static adjacency:
    // a fused aggregate computes every uncolored vertex's blocked flag
    // AND its distinct colored-neighbor set in one pass; ready + mex
    // are metadata-sized pure driver folds with the exact legacy
    // semantics (strict (p, vid)-lexicographic blocking, first-gap mex
    // over sorted distinct colors). Values are spec-pinned identical
    // (MisSpec local ≡ legacy) and the 3-SF oracle replays every round.
    val integralVids = {
      import org.apache.spark.sql.types._
      und.schema.take(2).forall(_.dataType match {
        case ByteType | ShortType | IntegerType | LongType => true
        case _ => false
      })
    }
    if (integralVids && nVerts <= localStateCap)
      return jpColoringLocalState(und, uncolored, rounds)
    // vertex-sized sides of every edge ⋈ vertex join carry an explicit
    // guarded broadcast hint — same rule and rationale as
    // maximalIndependentSet below
    val useBroadcast = nVerts <= GraphAnalytics.MaxBroadcastVertices
    def bc(df: DataFrame): DataFrame =
      if (useBroadcast) broadcast(df) else df
    var colors: DataFrame = null
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("u").orderBy("c")
    for (_ <- 1 to rounds) {
      val nbrP = uncolored.select(col("u").as("v"), col("p").as("pn"))
      // a higher-priority UNCOLORED neighbor blocks v this round
      val blocked = und
        .join(bc(uncolored.select(col("u"), col("p"))), "u")
        .join(bc(nbrP), "v")
        .where(col("pn") > col("p") || (col("pn") === col("p") && col("v") > col("u")))
        .select(col("u")).distinct()
      val ready = uncolored.join(bc(blocked), Seq("u"), "left_anti")
        .select(col("u")).localCheckpoint(true)
      // mex of already-colored neighbor colors
      val mex =
        if (colors == null) ready.select(col("u"), lit(0L).as("color"))
        else {
          val nbrC = und.join(bc(ready), "u")
            .join(bc(colors.select(col("vid").as("v"), col("color").as("c"))), "v")
            .select(col("u"), col("c")).distinct()
          val gaps = nbrC.withColumn("rn", row_number().over(w))
            .groupBy("u")
            .agg(coalesce(min(when(col("c") =!= col("rn") - 1, col("rn") - 1)),
              count(lit(1))).cast("long").as("color"))
          ready.join(gaps, Seq("u"), "left")
            .select(col("u"), coalesce(col("color"), lit(0L)).as("color"))
        }
      val newColors = mex.select(col("u").as("vid"), col("color")).localCheckpoint(true)
      colors = if (colors == null) newColors else colors.unionAll(newColors)
      uncolored = uncolored.join(ready, Seq("u"), "left_anti").localCheckpoint(true)
    }
    val leftover = uncolored.agg(count(lit(1)).as("n")).where(col("n") > 0)
      .select(lit(-1L).as("vid"), col("n").cast("long").as("color"))
    colors.unionAll(leftover)
  }

  /** Vertex-state cap for [[jpColoring]]'s local-state loop: V rows of
    * (vid, priority) plus the color map on the driver — ~32 B/vertex,
    * a few MB at the cap, the coreness-broadcast-map localization
    * class. Past it the legacy distributed round loop runs unchanged. */
  private[graft] val JpLocalStateCap = 2000000L

  /** One distributed job per JP round: every uncolored vertex's blocked
    * flag and distinct colored-neighbor colors come out of ONE fused
    * aggregate over the static adjacency joined against three
    * driver-built LocalRelation broadcasts; the ready set and mex are
    * driver folds over the collected V-sized rows. Value-identical to
    * the legacy loop (spec-pinned): blocked ⇔ some uncolored neighbor
    * has lexicographically greater (p, vid); mex = first gap in the
    * ascending distinct colored-neighbor colors. */
  private def jpColoringLocalState(und: DataFrame, prio0: DataFrame,
      rounds: Int): DataFrame = {
    import org.apache.spark.sql.types._
    val spark = und.sparkSession
    // normalized to long once — identical comparisons for every
    // integral vid type, and the legacy output is long anyway (its
    // sentinel union promotes the vid column)
    val e = und.select(col("u").cast("long").as("u"), col("v").cast("long").as("v"))
    val uncolored = scala.collection.mutable.LinkedHashMap.empty[Long, Long]
    prio0.collect().foreach(r => uncolored(r.getAs[Number](0).longValue()) = r.getLong(1))
    val colors = scala.collection.mutable.LinkedHashMap.empty[Long, Long]
    val uncSchema = StructType(Seq(
      StructField("u", LongType), StructField("p", LongType)))
    val colSchema = StructType(Seq(
      StructField("v", LongType), StructField("c", LongType)))
    var r = 0
    while (r < rounds && uncolored.nonEmpty) {
      r += 1
      val uncRows = uncolored.iterator
        .map { case (u, p) => org.apache.spark.sql.Row(u, p) }.toIndexedSeq
      val uncB = broadcast(org.apache.spark.sql.graft.DatasetBridge
        .localRelation(spark, uncSchema, uncRows))
      val nbrB = broadcast(org.apache.spark.sql.graft.DatasetBridge
        .localRelation(spark, StructType(Seq(
          StructField("v", LongType), StructField("pn", LongType))),
          uncRows.map(row => org.apache.spark.sql.Row(row.getLong(0), row.getLong(1)))))
      val colB = broadcast(org.apache.spark.sql.graft.DatasetBridge
        .localRelation(spark, colSchema,
          colors.iterator.map { case (v, c) => org.apache.spark.sql.Row(v, c) }.toIndexedSeq))
      val round = e.join(uncB, Seq("u"))
        .join(nbrB, Seq("v"), "left_outer")
        .join(colB, Seq("v"), "left_outer")
        .groupBy(col("u"))
        .agg(
          max(when(col("pn") > col("p") ||
            (col("pn") === col("p") && col("v") > col("u")), lit(true))
            .otherwise(lit(false))).as("blocked"),
          sort_array(collect_set(col("c"))).as("nc"))
        .collect()
      round.foreach { row =>
        if (!row.getBoolean(1)) {
          val u = row.getLong(0)
          val nc = row.getSeq[Long](2)
          var mex = nc.length.toLong
          var i = 0
          var done = false
          while (i < nc.length && !done) {
            if (nc(i) != i.toLong) { mex = i.toLong; done = true }
            i += 1
          }
          colors(u) = mex
          uncolored.remove(u)
        }
      }
    }
    val outSchema = StructType(Seq(
      StructField("vid", LongType), StructField("color", LongType)))
    val outRows = colors.iterator
      .map { case (v, c) => org.apache.spark.sql.Row(v, c) }.toIndexedSeq ++
      (if (uncolored.nonEmpty)
        Seq(org.apache.spark.sql.Row(-1L, uncolored.size.toLong)) else Nil)
    org.apache.spark.sql.graft.DatasetBridge.localRelation(spark, outSchema, outRows)
  }

  /** (vid, mis_round) for every selected vertex; `mis_round` is the
    * 1-based round the vertex entered the set. Sentinel row
    * (−1, n_still_active) appears iff `rounds` did not finish the
    * graph.
    *
    * Selection breaks priority ties lexicographically by (p, vid) —
    * like [[jpColoring]] — so two adjacent vertices with colliding
    * 60-bit priorities can never deadlock until the sentinel;
    * correctness never leans on hash tie-freedom.
    *
    * The per-round priority join runs over a MAINTAINED active-edge
    * table that shrinks by anti-join as endpoints retire — not
    * re-derived from the full edge table — so round r's scan is the
    * surviving subgraph (Luby retires a constant expected fraction of
    * EDGES per round; the first round necessarily pays Σdeg).
    *
    * @param stagingRowsHint cheap upper bound on the directed edge rows,
    * read only past [[LocalGraph.EdgeCap]], where it sizes the staging
    * in place of an exact count; under the cap the edge read is its own
    * gate. */
  def maximalIndependentSet(edges: DataFrame, rounds: Int = 12,
      seed: Long = 7L, srcCol: String = "src", dstCol: String = "dst",
      stagingRowsHint: Option[Long] = None): DataFrame =
    misWithStats(edges, rounds, seed, srcCol, dstCol, collectStats = false,
      stagingRowsHint = stagingRowsHint)._1

  /** Full driver-side Luby replay over the [[LocalGraph]] — zero
    * per-round jobs. Every round is pure integer comparison: sel =
    * active vertices whose (priority, vid) is a strict lexicographic
    * local min among ACTIVE neighbors; sel and its neighbors retire —
    * exactly the legacy semantics, so the replay is value-identical,
    * sentinel included. Besides the edge collect, the ONLY distributed
    * work is one md5 job over [[LocalGraph.vertexFrame]], so priorities
    * use the exact Dedup.md5Long expression. A first cut kept two
    * distributed jobs per round against LocalRelation broadcasts and
    * LOST to the legacy loop at 32 cores (isolated med 12.2 s vs 9.7
    * baseline): V-row collects + broadcast-relation builds per round are
    * driver gap, not work. */
  private def misLocalState(spark: org.apache.spark.sql.SparkSession,
      g: LocalGraph, rounds: Int, seed: Long): DataFrame = {
    import org.apache.spark.sql.types._
    val (nV, vids, offsets, nbrs) = (g.numVertices, g.vids, g.offsets, g.nbrs)
    // priorities: the exact md5 expression, one job over the vertex frame
    val prio = new Array[Long](nV)
    g.vertexFrame(spark, "u")
      .withColumn("p", Dedup.md5Long(concat(lit(s"$seed:"), col("u").cast("string"))))
      .collect().foreach(r => prio(g.index(r.getAs[Number](0).longValue())) = r.getLong(1))

    val active = new Array[Boolean](nV)
    java.util.Arrays.fill(active, true)
    var nActive = nV
    val (selVid, selRound) = (Array.newBuilder[Long], Array.newBuilder[Long])
    var i = 0
    while (i < rounds && nActive > 0) {
      i += 1
      // strict (p, vid)-lexicographic local min among ACTIVE neighbors —
      // exactly the legacy `mn.isNull || struct(p, u) < mn`
      val sel = scala.collection.mutable.ArrayBuffer.empty[Int]
      var u = 0
      while (u < nV) {
        if (active(u)) {
          var isMin = true
          var j = offsets(u)
          while (j < offsets(u + 1) && isMin) {
            val v = nbrs(j)
            if (active(v) &&
                (prio(v) < prio(u) ||
                  (prio(v) == prio(u) && vids(v) < vids(u)))) isMin = false
            j += 1
          }
          if (isMin) sel += u
        }
        u += 1
      }
      // the selected set and its neighbors retire together
      sel.foreach { s =>
        selVid += vids(s)
        selRound += i.toLong
        if (active(s)) { active(s) = false; nActive -= 1 }
        g.foreachNbr(s) { v =>
          if (active(v)) { active(v) = false; nActive -= 1 }
        }
      }
    }
    // the sentinel row (−1, still active) closes an unfinished run
    if (nActive > 0) { selVid += -1L; selRound += nActive.toLong }
    org.apache.spark.sql.graft.DatasetBridge.arrayFrame(spark, StructType(Seq(
      StructField("vid", LongType), StructField("mis_round", LongType))),
      Seq(selVid.result(), selRound.result()))
  }

  /** [[maximalIndependentSet]] plus the per-round ACTIVE-EDGE counts
    * (before each round's join) — the spec hook proving per-round scan
    * work shrinks with the surviving subgraph. The counts are whole
    * Spark actions serving only the spec, so the production entry point
    * passes `collectStats = false` (12 fewer driver-blocking jobs). */
  private[graft] def misWithStats(edges: DataFrame, rounds: Int = 12,
      seed: Long = 7L, srcCol: String = "src", dstCol: String = "dst",
      collectStats: Boolean = true,
      stagingRowsHint: Option[Long] = None): (DataFrame, Seq[Long]) = {
    require(rounds >= 1, "rounds must be >= 1")
    val e0 = edges.select(col(srcCol).as("u"), col(dstCol).as("v"))
      .where(col("u") =!= col("v"))
    // LOCAL-STATE replay under the directed-edge cap (see
    // [[misLocalState]]); the spec's stats path keeps the legacy loop —
    // its per-round active-edge counts ARE the maintained shrinking
    // table's property. The edge read is its own gate: no lineage
    // execution before it, and the hint only sizes past-cap staging.
    if (!collectStats)
      LocalGraph.collect(e0, LocalGraph.EdgeCap, undirected = true) match {
        case Some(g) => return (misLocalState(edges.sparkSession, g, rounds, seed), Seq.empty)
        case None =>
      }
    val eRows = stagingRowsHint.getOrElse(e0.count())
    // the coreness staging/round recipe, whole: ONE shuffle stages the
    // doubled edge list hash(u)-partitioned (dedup exchange-free on top),
    // and the shrinking active-edge table stays PERSISTED — never
    // checkpointed — so the partitioning survives every round and the
    // per-round neighbor-min aggregation runs exchange-free. Every
    // edge ⋈ vertex join hints its vertex-sized side (priorities, the
    // round's selected set, the closed neighborhood) under the
    // MaxBroadcastVertices guard — an edge ⋈ vertex join never rides
    // auto-broadcast (the r9 sf1 rule). Plan growth stays linear because
    // sel/closed/active ARE checkpointed: each round's aEdges plan wraps
    // the previous cached table once plus two broadcast anti-joins.
    // sf1: 1.76 GB -> ~30 MB total shuffle for identical output.
    val parts = GraphAnalytics.volumeParts(edges.sparkSession, 2 * eRows)
    val persisted = scala.collection.mutable.ListBuffer.empty[DataFrame]
    def pin(df: DataFrame, rowsBound: Long): DataFrame = {
      // heap-budgeted ([[GraphAnalytics.persistPinned]]): past the pin
      // ceiling the blocks go serialized DISK_ONLY instead of squeezing
      // the storage pool (the r12 sf10 residency class)
      val p = GraphAnalytics.persistPinned(df, rowsBound)
      persisted += p
      p
    }
    val und = pin(e0.unionAll(e0.select(col("v").as("u"), col("u").as("v")))
      .repartition(parts, col("u"))
      .dropDuplicates("u", "v"), 2 * eRows)
    // both directions of every still-active-active edge; shrinks in place
    var aEdges = und
    var active = und.select(col("u")).distinct()
      .withColumn("p", Dedup.md5Long(concat(lit(s"$seed:"), col("u").cast("string"))))
      .localCheckpoint(true)
    val useBroadcast = active.count() <= GraphAnalytics.MaxBroadcastVertices
    def bc(df: DataFrame): DataFrame =
      if (useBroadcast) broadcast(df) else df
    var selected: DataFrame = null
    val edgeCounts = scala.collection.mutable.ListBuffer.empty[Long]
    for (i <- 1 to rounds) {
      if (collectStats) edgeCounts += aEdges.count()
      val prio = active.select(col("u").as("v"), col("p").as("pv"))
      // min (priority, vid) among active neighbors — aEdges already
      // joins active endpoints only, so no semi-join re-restriction
      val nbrMin = aEdges
        .join(bc(prio), "v")
        .groupBy("u").agg(min(struct(col("pv"), col("v"))).as("mn"))
      val sel = active.join(bc(nbrMin), Seq("u"), "left")
        .where(col("mn").isNull || struct(col("p"), col("u")) < col("mn"))
        .select(col("u"), lit(i.toLong).as("mis_round"))
        .localCheckpoint(true)
      val closed = sel.select(col("u"))
        .unionAll(aEdges.join(bc(sel.select(col("u"))), "u").select(col("v").as("u")))
        .distinct().localCheckpoint(true)
      active = active.join(bc(closed), Seq("u"), "left_anti").localCheckpoint(true)
      // the active subgraph only shrinks — the previous bound stands
      aEdges = pin(aEdges.join(bc(closed), Seq("u"), "left_anti")
        .join(bc(closed.select(col("u").as("v"))), Seq("v"), "left_anti"),
        2 * eRows)
      selected = if (selected == null) sel else selected.unionAll(sel)
    }
    val leftover = active.agg(count(lit(1)).as("n")).where(col("n") > 0)
      .select(lit(-1L).as("vid"), col("n").cast("long").as("mis_round"))
    // the selected rounds and leftover are checkpoint-backed; the cached
    // edge generations can go once the result is pinned
    val result = selected.select(col("u").as("vid"), col("mis_round"))
      .unionAll(leftover).localCheckpoint(true)
    result.count()
    persisted.foreach(_.unpersist(false))
    (result, edgeCounts.toSeq)
  }
}
