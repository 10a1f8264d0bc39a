package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import scala.collection.mutable.ArrayBuffer

/** Pivot-sampled, bounded-horizon betweenness centrality.
  *
  * Exact betweenness is Brandes 2001 (J. Math. Sociol. 25): one BFS +
  * one reverse dependency-accumulation pass per SOURCE — Θ(V·E), never
  * viable at scale. The two standard approximations compose here:
  * pivot sampling (Brandes & Pich 2007, "Centrality Estimation in Large
  * Networks": run the two passes from k sampled pivots and extrapolate)
  * and bounded-distance betweenness (Brandes 2008, "On Variants of
  * Shortest-Path Betweenness Centrality": only count pairs within a hop
  * horizon). Both truncations are part of the operator's CONTRACT — the
  * result is the exact bounded-horizon dependency sum over the chosen
  * pivots, so the DuckDB oracle replays it bit-for-bit.
  *
  * Determinism/exactness choices (the house fixed-point recipe):
  *   - pivots are the k minimum-md5(seed, vid) vertices — derandomized
  *     and engine-replayable (the [[Landmarks]]/[[Mis]] selection trick);
  *   - shortest-path counts σ are exact integers (DECIMAL(38,0) sums —
  *     DuckDB accumulates in HUGEINT);
  *   - dependencies δ live in MICRO-UNITS: the Brandes accumulation
  *     `δ(v) += σ_v/σ_w · (1 + δ(w))` becomes
  *     `σ_v · (10⁶ + δμ(w)) div σ_w` — one exact integral division per
  *     (edge, pivot) term, truncating identically in Spark's `div` and
  *     DuckDB's `//`. Per-term floor bias is < 10⁻⁶ — irrelevant for
  *     ranking and bit-identical across engines, like
  *     [[GraphAnalytics.pageRankQuantizedDF]].
  *
  * Execution shape: the FORWARD pass is one multi-pivot labeled BFS (the
  * [[Landmarks.landmarkDistances]] shape — k wavefronts share every edge
  * scan, state keyed (vid, pivot)), except levels are kept as separate
  * checkpointed frames because the REVERSE pass walks them back in
  * order. Each forward round: one edge⋈frontier join + a σ-sum keyed
  * (vid, pivot) + an anti-join against the reached set; each reverse
  * round: one edge⋈level join + the predecessor σ lookup + a δ-sum.
  * Under the broadcast guard (V·k rows ≤
  * [[GraphAnalytics.maxBroadcastVerticesDyn]]) every per-round join
  * streams against the v-pinned edge cache with no exchange; past it
  * the joins shuffle (vid, pivot)-keyed V·k-row state — never edges —
  * per round. State is bounded by V·k rows per level list; k is small
  * by contract (a handful of pivots).
  */
object Betweenness {

  /** (vid, betweenness) over the undirected graph: the exact dependency
    * sum from `nPivots` md5-selected pivots over paths of ≤ `horizon`
    * hops, in micro-units divided out to double at the very end (one
    * correctly-rounded IEEE op per row — hash-checkable). Vertices
    * mediating no counted pair score exactly 0.0.
    *
    * SIZING k: the unbiased estimator of full Brandes is
    * `(V/k) · betweenness`; per-pivot δ is exact, so the only error is
    * pivot sampling — O(1/√k) concentration (Brandes & Pich 2007).
    * Measured on the adversarial barbell fixture
    * (BetweennessAccuracySpec; curve recorded in BASELINE.md §8):
    * relMAE 0.14 at k=2, 0.03 at k=16, exactly 0 at k=V. Rule of
    * thumb: k ≈ 16–64 for ranking, k ≈ V/10 for absolute values,
    * k = V for exact distributed Brandes.
    *
    * @param stagingRowsHint cheap upper bound on the DIRECTED edge rows
    * (the [[GraphAnalytics.linkFeatures]] pattern), read only past the
    * driver cap: it sizes the distributed staging and spares it an exact
    * count of an expensive non-scan edge lineage. Under the cap the edge
    * read is its own gate and the hint is unused. */
  def pivotBetweenness(edges: DataFrame, nPivots: Int, horizon: Int,
      seed: Long = 11L, srcCol: String = "src", dstCol: String = "dst",
      broadcastState: Boolean = true,
      stagingRowsHint: Option[Long] = None,
      localStateCap: Long = LocalGraph.EdgeCap): DataFrame = {
    require(nPivots >= 1 && horizon >= 1, "need nPivots >= 1, horizon >= 1")
    val spark = edges.sparkSession
    val e0 = edges.select(col(srcCol).as("u"), col(dstCol).as("v"))
      .where(col("u") =!= col("v"))
    // DRIVER-LOCAL Brandes under the cap: EVERY quantity in this
    // operator is exact integer arithmetic — σ sums, the micro-δ
    // `σ_v·(10⁶+δ_w) div σ_w` truncating division, the per-vid δ sum —
    // so a driver replay over the [[LocalGraph]] is provably
    // bit-identical (the one decimal→double cast at the end IS
    // BigDecimal.doubleValue in both engines). The first cut of this
    // localization kept per-round distributed jobs against LocalRelation
    // frontier broadcasts and LOST to the legacy loop at 32 cores
    // (isolated med 75 s vs 23.6 baseline): V·k-row frontiers made every
    // round pay a ~1-2 s driver-side collect + broadcast-relation build.
    // The full-driver form pays ONE edge read (its own size gate, and
    // none when MIS or coreness read the same frame first) + one tiny md5
    // job. Past the cap (or non-integral vids), or when a value
    // outgrows a long, the distributed loop runs.
    LocalGraph.collect(e0, localStateCap, undirected = true)
      .flatMap(pivotBetweennessLocalState(spark, _, nPivots, horizon, seed)) match {
      case Some(out) => return out
      case None =>
    }
    val eRows = stagingRowsHint.getOrElse(e0.count())
    // one staging exchange keyed by the message key v (the landmark
    // recipe): every forward σ-sum and reverse δ-sum then rides the
    // pinned layout. Level memory-budgeted ([[GraphAnalytics.pinLevel]]):
    // at 10×-past-design volume a deserialized 2E-row pin is exactly the
    // storage squeeze that OOM'd the sf10 probe — past the ceiling it
    // holds serialized disk blocks instead (the r12 delta-3 recipe).
    val (eSrc, undParts) = GraphAnalytics.volumeStage(e0, 2 * eRows)
    val und = GraphAnalytics.repartitionSized(
        eSrc.unionAll(eSrc.select(col("v").as("u"), col("u").as("v"))),
        undParts, col("v")).distinct()
      .persist(GraphAnalytics.pinLevel(spark, 2 * eRows))
    val verts = und.select(col("u").as("vid")).distinct().localCheckpoint(true)
    val nVerts = verts.count()
    val useBroadcast = broadcastState &&
      nVerts * nPivots <= GraphAnalytics.maxBroadcastVerticesDyn
    def side(df: DataFrame): DataFrame = if (useBroadcast) broadcast(df) else df
    val pivots = verts
      .withColumn("p", Dedup.md5Long(concat(lit(s"$seed:"), col("vid").cast("string"))))
      .orderBy(col("p").asc, col("vid").asc).limit(nPivots)
      .select(col("vid").as("pivot")).localCheckpoint(true)

    // ---- forward: levels(ℓ) = (vid, pivot, sigma) first reached at hop ℓ.
    // Levels and the running reached set are V·k-row state: every
    // checkpoint is memory-budgeted (pinTwoPhase demotes past the heap
    // ceiling), and reached generations roll — round i's set is dead the
    // moment round i+1's materializes (the GenerationPin discipline; at
    // sf10 the un-freed ⌈rounds⌉ deserialized generations were the OOM).
    val levels = ArrayBuffer[DataFrame]()
    val levelRows = ArrayBuffer[Long]()
    levels += pivots
      .select(col("pivot").as("vid"), col("pivot"),
        lit(1L).cast("decimal(38,0)").as("sigma"))
      .localCheckpoint(true)
    levelRows += nPivots.toLong
    var reached = levels.head.select(col("vid"), col("pivot")).localCheckpoint(true)
    var reachedRows = nPivots.toLong
    def rollReached(next: DataFrame): DataFrame = {
      val cp = next.localCheckpoint(true,
        GraphAnalytics.pinLevel(spark, reachedRows))
      org.apache.spark.sql.graft.DatasetBridge.unpersistCheckpoint(reached)
      cp
    }
    var ell = 0
    var exhausted = false
    while (ell < horizon && !exhausted) {
      ell += 1
      val msgs = und.join(side(levels.last), und("u") === levels.last("vid"))
        .select(und("v").as("vid"), col("pivot"), col("sigma"))
        .groupBy(col("vid"), col("pivot")).agg(sum(col("sigma")).as("sigma"))
      val (lvl, lvlRows) = GraphAnalytics.pinTwoPhase(
        msgs.join(side(reached), Seq("vid", "pivot"), "left_anti"))
      if (lvlRows == 0) {
        org.apache.spark.sql.graft.DatasetBridge.unpersistCheckpoint(lvl)
        exhausted = true; ell -= 1
      } else {
        levels += lvl
        levelRows += lvlRows
        reachedRows += lvlRows
        reached = rollReached(reached.unionAll(lvl.select(col("vid"), col("pivot"))))
      }
    }
    // the reached set's job ends with the forward pass
    org.apache.spark.sql.graft.DatasetBridge.unpersistCheckpoint(reached)

    // ---- reverse: δμ per (vid, pivot), deepest level first
    val Micro = 1000000L
    var delta = levels(ell)
      .select(col("vid"), col("pivot"), lit(0L).cast("decimal(38,0)").as("delta"))
    val deltas = ArrayBuffer[DataFrame]()
    if (ell > 0) deltas += delta
    (ell to 1 by -1).foreach { l =>
      val w = levels(l)
        .join(delta.select(col("vid").as("__dv"), col("pivot").as("__dp"),
          col("delta")), levels(l)("vid") === col("__dv") &&
          levels(l)("pivot") === col("__dp"))
        .select(col("vid").as("wvid"), col("pivot"),
          col("sigma").as("sigma_w"), col("delta").as("delta_w"))
      val contrib = und.join(side(w), und("v") === w("wvid"))
        .select(und("u").as("vid"), col("pivot"), col("sigma_w"), col("delta_w"))
        .join(side(levels(l - 1).select(col("vid"), col("pivot"),
          col("sigma").as("sigma_v"))), Seq("vid", "pivot"))
        .select(col("vid"), col("pivot"),
          expr(s"CAST(sigma_v * ($Micro + delta_w) div sigma_w AS DECIMAL(38,0))")
            .as("c"))
        .groupBy(col("vid"), col("pivot")).agg(sum(col("c")).as("delta"))
      delta = levels(l - 1)
        .join(contrib.select(col("vid").as("__cv"), col("pivot").as("__cp"),
          col("delta")), levels(l - 1)("vid") === col("__cv") &&
          levels(l - 1)("pivot") === col("__cp"), "left")
        .select(levels(l - 1)("vid"), levels(l - 1)("pivot"),
          coalesce(col("delta"), lit(0L).cast("decimal(38,0)")).as("delta"))
        // delta frames all feed the final union, so none can roll — but
        // their pin levels are budgeted like the levels they mirror
        .localCheckpoint(true, GraphAnalytics.pinLevel(spark, levelRows(l - 1)))
      // level-0 deltas belong to the pivots themselves — Brandes
      // excludes the source from its own dependency sum
      if (l > 1) deltas += delta
    }

    val out = (if (deltas.isEmpty)
        verts.select(col("vid"), lit(0.0).as("betweenness"))
      else deltas.reduce(_ unionAll _)
        .groupBy(col("vid")).agg(sum(col("delta")).as("bcm"))
        .join(verts, Seq("vid"), "right")
        .select(col("vid"),
          (coalesce(col("bcm"), lit(0L).cast("decimal(38,0)"))
            .cast("double") / Micro.toDouble).as("betweenness")))
      .localCheckpoint(true)
    // `out` is eagerly materialized — every intermediate block is now
    // dead weight; free them or V·k·levels of state outlives the query
    und.unpersist(blocking = false)
    (levels ++ deltas).foreach(
      org.apache.spark.sql.graft.DatasetBridge.unpersistCheckpoint(_))
    out
  }

  /** Full driver-side Brandes replay over the [[LocalGraph]] — zero
    * per-round jobs. Per-pivot BFS levels, σ accumulation, the exact
    * micro-δ truncating division and the per-vid δ sum all run in
    * `long`, with `addExact`/`multiplyExact` (the legacy DECIMAL(38,0)
    * values ARE integers, and integer arithmetic is ordering- and
    * engine-insensitive, so the replay is bit-identical). A value past
    * 2⁶³ returns None and the caller runs the DECIMAL(38,0) loop. Besides
    * the edge collect, the ONLY distributed work is one md5 job over
    * [[LocalGraph.vertexFrame]], so pivot selection uses the exact
    * Dedup.md5Long expression. */
  private def pivotBetweennessLocalState(spark: org.apache.spark.sql.SparkSession,
      g: LocalGraph, nPivots: Int, horizon: Int, seed: Long): Option[DataFrame] = {
    import org.apache.spark.sql.types._
    import java.lang.Math.{addExact, multiplyExact}
    val nV = g.numVertices
    // pivots: k minimum-(md5, vid) vertices — the same expression as the
    // legacy loop, one tiny job over the broadcast vertex ids
    val pivots: Array[Int] = g.vertexFrame(spark, "vid")
      .withColumn("p", Dedup.md5Long(concat(lit(s"$seed:"), col("vid").cast("string"))))
      .orderBy(col("p").asc, col("vid").asc).limit(nPivots)
      .select(col("vid")).collect().map(r => g.index(r.getAs[Number](0).longValue()))

    val Micro = 1000000L
    val bcm = new Array[Long](nV) // Σ_pivot δμ per vid
    val dist = new Array[Int](nV)
    val sigma = new Array[Long](nV)
    val delta = new Array[Long](nV)
    try pivots.foreach { s =>
      // forward: BFS levels with exact σ along the shortest-path DAG
      java.util.Arrays.fill(dist, -1)
      dist(s) = 0
      sigma(s) = 1L
      val levels = ArrayBuffer(Array(s))
      var ell = 0
      while (ell < horizon && levels(ell).nonEmpty) {
        val next = ArrayBuffer.empty[Int]
        levels(ell).foreach { u =>
          g.foreachNbr(u) { v =>
            if (dist(v) == -1) { dist(v) = ell + 1; sigma(v) = 0L; next += v }
            if (dist(v) == ell + 1) sigma(v) = addExact(sigma(v), sigma(u))
          }
        }
        levels += next.toArray
        ell += 1
      }
      if (levels.last.isEmpty) { levels.remove(levels.size - 1); ell -= 1 }
      // reverse: δμ(v) += σ_v · (10⁶ + δμ(w)) div σ_w over DAG edges
      // (v at level l−1, w at level l) — exact truncating division (all
      // terms are non-negative), and level ≥ 1 deltas accumulate into
      // the per-vid sum (level-0 deltas belong to the pivot itself;
      // Brandes excludes the source)
      levels.foreach(_.foreach(v => delta(v) = 0L))
      var l = ell
      while (l >= 1) {
        levels(l).foreach { w =>
          val t = addExact(Micro, delta(w))
          g.foreachNbr(w) { v =>
            if (dist(v) == l - 1)
              delta(v) = addExact(delta(v), multiplyExact(sigma(v), t) / sigma(w))
          }
        }
        // this level's deltas are final once it has pushed to l−1
        levels(l).foreach(v => bcm(v) = addExact(bcm(v), delta(v)))
        l -= 1
      }
    } catch { case _: ArithmeticException => return None }
    // one decimal→double cast per vid (a long converts correctly
    // rounded, as Spark's Decimal.toDouble does), then the single IEEE
    // division by 10⁶, exactly the legacy select
    val outSchema = StructType(Seq(StructField("vid", g.vidType),
      StructField("betweenness", DoubleType)))
    Some(org.apache.spark.sql.graft.DatasetBridge.arrayFrame(spark, outSchema,
      Seq(g.vids, bcm.map(_.toDouble / 1000000.0))))
  }
}
