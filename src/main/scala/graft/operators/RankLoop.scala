package graft.operators

import java.math.BigInteger

import org.apache.spark.sql.{Column, DataFrame, SparkSession, functions}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.DatasetBridge
import org.apache.spark.sql.types.{DoubleType, StructField, StructType}
import org.apache.spark.storage.StorageLevel

import GraphAnalytics.{maxBroadcastRows, maxBroadcastVerticesDyn, pinLevel, pinTwoPhase}

/** The kernel of the fixed-point rank family: quantized, personalized
  * and weighted PageRank, Katz and HITS. A round is the Pregelix
  * superstep — a join of the previous scores against the edge list plus
  * a group-by sum — with the physical plan picked once per call. Each
  * operator supplies only its per-source payload, its contribution and
  * update expressions, its absent-vertex default and its broadcast guard
  * width; everything else lives here once.
  *
  * Scores are micro-units (value × 10⁶) in BIGINT and every step is
  * integer arithmetic, so the result is bit-identical across plans,
  * partitionings, backends and engines, and the fixed rounds replay as
  * chained CTEs in the DuckDB oracle.
  *
  * Backends. The dense single-lane operators (PageRank, weighted
  * PageRank, Katz) run on the DRIVER when the edge rows fit `localCap`
  * ([[LocalGraph.EdgeCap]] by default; `<= 0` forces the distributed
  * loop, the spec hook): ONE job reads the edges into a sum-collapsed
  * [[LocalGraph]] and its row count is the gate, so no pin or count runs
  * under the cap; the graph is cached, so PageRank and Katz over the
  * same frame share one read per session. The rounds are a plain-array
  * loop over the lane's [[DriverLane]] — the same integer steps as its
  * SQL, with `Math.multiplyExact`/`addExact` where the SQL runs in BIGINT (ANSI
  * overflow throws there) and an exact product where it runs in
  * DECIMAL(38,0). Sum-collapse, not the replays' min-collapse: every
  * edge row counts, so a pair carries its multiplicity (one `deg` unit
  * and one contribution per row) or, for weighted PageRank, its weight
  * sum. The output is a broadcast-served frame
  * ([[DatasetBridge.arrayFrame]]) of the same rows, types and value
  * classes as the distributed fill, holding neither the collected rows
  * nor the graph. Input with a null endpoint or weight, non-integral
  * vids, or past the cap runs distributed, as PPR and HITS always do:
  * the edge pin and its count are taken then, after the stopped read.
  *
  * Distributed staging:
  *   - the edge pin, two-phase (DISK_ONLY past the heap ceiling): a
  *     localCheckpoint of the input rows ([[GraphAnalytics.pinTwoPhase]]);
  *   - the per-source table: the payload aggregate (out-degree, weight
  *     sum) or the bare distinct sources, checkpointed. Its row count is
  *     at most V, so it gates the staging before V is known;
  *   - the `hash(dst)` cache: the pin repartitioned by `dst` (bare
  *     pairs on the wire) and joined with a broadcast of the per-source
  *     table, persisted. Persist, not localCheckpoint: a checkpoint
  *     forgets its partitioning, and every in-sum aggregation rides it
  *     without an exchange. Weighted PageRank collapses parallel edges
  *     to their weight sum on that same exchange (on the payload join's
  *     `hash(src)` exchange for the shuffle-path cache);
  *   - the vertex set, exchange-free: the source keys plus the dst keys
  *     deduped on the cache's own partitioning and anti-joined,
  *     null-safe, against a broadcast of the source table. The two legs
  *     are disjoint, so no final distinct runs. Past the gate, a
  *     union-distinct;
  *   - the broadcast decision: V within `maxBroadcastRows(ceiling,
  *     width)`. Width scales the 2-column (vid, value) calibration by
  *     what the loop holds in broadcasts at once: 2 for one score table,
  *     3 for Katz (its final fill overlaps the last round's broadcast),
  *     4 for weighted PageRank (the weight sums and the ranks are both
  *     live). The sf10 probe on a
  *     17 GB heap killed the broadcast build of the wider loops at the
  *     narrow ceiling;
  *   - the narrow band: the source table fits, the vertex set does not.
  *     Score joins then shuffle, and a sort-merge join against the pinned
  *     cache would re-exchange it every round, so the cache is rebuilt
  *     as a plain checkpoint of the payload join.
  *
  * Rounds ([[Staged.iterate]]): scores are SPARSE. A vertex missing from
  * the previous scores takes the lane's default (a left join plus
  * `coalesce`), or contributes nothing when the lane has none (an inner
  * join), so no round joins the vertex set back in. The first round from
  * the uniform start needs no join at all. Under the broadcast guard a
  * round runs no exchange: a broadcast probe of the cache and a
  * group-by riding its partitioning. The E-row in-sums run in BIGINT:
  * a vertex's in-sum is bounded by the total score mass (n·10⁶
  * micro-units for PageRank and HITS), so overflow needs n > 9.2·10¹².
  * The updates do their V-row products in DECIMAL(38,0). Updated scores
  * are pinned through one rolling [[GenerationPin]] per
  * lane every third round and at the last round — pinning the score
  * table rather than the in-sums keeps a sparse update's merge join
  * riding the in-sums' partitioning; then the caches are released and
  * the vertex fill stays lazy over the pinned scores. */
private[operators] object RankLoop {

  private val Micro = 1000000L

  /** Rolling eager-checkpoint pin for round loops: `next(df)` checkpoints
    * eagerly and frees the PREVIOUS generation's blocks — the successor's
    * eager materialization has just consumed them, so from that moment
    * they are dead weight in the storage pool. Without this, an
    * every-third-round checkpoint cadence accumulates ⌈rounds/3⌉
    * generations of deserialized V-rows for the query's LIFETIME —
    * multiple GB at sf10, precisely the storage-pool margin that decides
    * whether 32 concurrent sort-merge tasks in the shuffle-fallback path
    * can still get execution memory (the g_pagerank_weighted sf10 task
    * OOM, r12). Plan-invariant: unpersisting a consumed generation
    * changes no semantics, only block-manager residency. */
  private final class GenerationPin {
    private var last: DataFrame = _
    def next(df: DataFrame): DataFrame = {
      val cp = df.localCheckpoint(true)
      if (last != null) DatasetBridge.unpersistCheckpoint(last)
      last = cp
      cp
    }
  }

  /** One half-update. Each edge carries `contrib(score)` from its source
    * end to its target end, summed per target into `in_sum`; `update`
    * maps the in-sums (vid, in_sum) to the next scores (vid, score).
    * `contrib` maps the SQL of the sender's score to the SQL of the
    * contribution, over the cache's payload columns. `default` is the
    * score of a vertex absent from the previous scores; None means it
    * contributes nothing. `rescale`, when set, splits the update: the
    * pin holds `update`'s output and `rescale` turns it into the scores
    * lazily — for a step that reads its input twice, such as an L1
    * normalization (a total and the quotient), which then pins every
    * round. `backward` sums over out-edges instead: the target is
    * `src`. */
  final case class Lane(contrib: String => String, default: Option[Long],
      update: DataFrame => DataFrame, rescale: Option[DataFrame => DataFrame] = None,
      backward: Boolean = false)

  /** A lane's contribution: `apply(score, w, out)` is what an edge pair
    * of weight `w` (its row multiplicity, or its weight sum) carries from
    * a sender whose out-pairs weigh `out` in total (its `count(1)` out-
    * degree, or its `sum(w)`). */
  trait Contrib { def apply(score: Long, w: Long, out: Long): Long }

  /** The driver twin of a dense [[Lane]]'s SQL: `contrib` and `update`
    * (in-sum to score) over Longs, step for step. The lane's default
    * stays the score of a vertex nothing points at. */
  final case class DriverLane(contrib: Contrib, update: Long => Long)

  /** A staged graph: the `hash(dst)` cache, the vertex set and the
    * broadcast decision. */
  final class Staged private[RankLoop] (pin: DataFrame, sources: DataFrame, cache: DataFrame,
      level: StorageLevel, vertices: DataFrame, val vertexCount: Long, broadcast: Boolean) {

    private def side(df: DataFrame): DataFrame =
      if (broadcast) functions.broadcast(df) else df

    // the HITS hub half groups by src, so it gets its own hash(src) cache
    private var bySrc: Option[DataFrame] = None
    private def srcCache: DataFrame = bySrc.getOrElse {
      val c = if (broadcast) pin.repartition(col("src")).persist(level) else pin
      bySrc = Some(c)
      c
    }

    private def inSums(lane: Lane, scores: Option[DataFrame]): DataFrame = {
      val (c, from, to) = if (lane.backward) (srcCache, "dst", "src") else (cache, "src", "dst")
      val contributions = scores match {
        case None => c.select(col(to).as("vid"), expr(lane.contrib(s"${Micro}L")).as("c"))
        case Some(r) =>
          val score = lane.default.fold("score")(d => s"coalesce(score, ${d}L)")
          c.join(side(r), c(from) === r("vid"), if (lane.default.isDefined) "left" else "inner")
            .select(col(to).as("vid"), expr(lane.contrib(score)).as("c"))
      }
      contributions.groupBy("vid").agg(sum(col("c")).as("in_sum"))
    }

    /** Runs `rounds` rounds of `lanes` in order — lane k reads lane k−1's
      * scores, the first lane the last one's — from `seed` (vid, score),
      * or from the uniform score `Micro` when None. Pins each lane's
      * update every third round and at the last one, then releases the
      * caches. Returns each lane's final scores (the seed when `rounds`
      * is 0). */
    def iterate(rounds: Int, seed: Option[DataFrame] = None)(lanes: Lane*): Seq[DataFrame] = {
      require(rounds >= 1 || seed.isDefined, s"a rank loop needs a round, got $rounds")
      val pins = lanes.map(_ => new GenerationPin)
      var scores = seed.map(pins.last.next)
      val out = Array.fill(lanes.size)(scores.orNull)
      for (i <- 1 to rounds; (lane, k) <- lanes.zipWithIndex) {
        val next = lane.update(inSums(lane, scores))
        val pinned =
          if (i % 3 == 0 || i == rounds || lane.rescale.isDefined) pins(k).next(next) else next
        out(k) = lane.rescale.fold(pinned)(_(pinned))
        scores = Some(out(k))
      }
      release()
      out.toSeq
    }

    /** Every vertex with each (scores, default, name) column as a double:
      * the vertex fill, lazy over pinned scores. */
    def fill(outputs: (DataFrame, Long, String)*): DataFrame =
      outputs.foldLeft(vertices) { case (acc, (s, _, name)) =>
        acc.join(side(s.withColumnRenamed("score", name)), Seq("vid"), "left")
      }.select(col("vid") +: outputs.map { case (_, d, name) =>
        (coalesce(col(name), lit(d)).cast("double") / Micro.toDouble).as(name)
      }: _*)

    private def release(): Unit = {
      // under the guard the caches are persisted, past it checkpoints
      // (or the pin itself); a pin-derived cache is freed with the pin
      for (c <- bySrc.toSeq :+ cache if c ne pin)
        if (broadcast) c.unpersist(blocking = false) else DatasetBridge.unpersistCheckpoint(c)
      DatasetBridge.unpersistCheckpoint(pin)
      DatasetBridge.unpersistCheckpoint(sources)
    }
  }

  /** Stages `edges` (src, dst). `payload` is the per-source aggregate
    * joined onto every edge (None: the bare distinct sources).
    * `pinVertices` checkpoints the vertex set for a dense fill; a sparse
    * operator needs only its count. `ceiling` is the broadcast ceiling
    * before width scaling. */
  def stage(edges: DataFrame, width: Int, payload: Option[Column] = None,
      pinVertices: Boolean = true, ceiling: Long = maxBroadcastVerticesDyn): Staged =
    stagePinned(pinTwoPhase(edges), width, payload, sumWeights = false, pinVertices, ceiling)

  /** [[stage]] from an edge pin (src, dst, and `w` when `sumWeights`)
    * and its exact row count. `sumWeights` collapses parallel edges by
    * summing `w` on the exchange of the cache they feed. */
  private def stagePinned(pinned: (DataFrame, Long), width: Int, payload: Option[Column],
      sumWeights: Boolean, pinVertices: Boolean, ceiling: Long): Staged = {
    val cap = maxBroadcastRows(ceiling, width)
    val (pin, eRows) = pinned
    val level = pinLevel(pin.sparkSession, eRows)
    val sources = payload.fold(pin.select(col("src")).dropDuplicates("src"))(
      pin.groupBy("src").agg(_)).localCheckpoint(true)
    val nSources = sources.count()
    val srcFits = nSources <= cap
    // the pin repartitioned by `key`, parallel weighted edges summed on
    // that exchange (hash(key) satisfies the (src, dst) clustering)
    def byKey(key: String): DataFrame = {
      val p = pin.repartition(col(key))
      if (sumWeights) p.groupBy("src", "dst").agg(sum(col("w")).as("w")) else p
    }
    // the shuffle-path cache: a checkpoint, its partitioning is moot;
    // the weighted collapse rides the payload join's hash(src) exchange
    def fallback(): DataFrame =
      if (payload.isEmpty) pin
      else (if (sumWeights) byKey("src") else pin).join(sources, "src")
        .localCheckpoint(true, level)
    val staged = if (!srcFits) fallback() else {
      // repartition before the payload join: the exchange carries bare
      // (src, dst) pairs
      val byDst = byKey("dst")
      (if (payload.isEmpty) byDst else byDst.join(broadcast(sources), "src")).persist(level)
    }
    // null-safe: a null dst is the null source key's vertex, not a new one
    val dstOnly = staged.select(col("dst").as("vid")).dropDuplicates("vid")
      .join(broadcast(sources), col("vid") <=> sources("src"), "left_anti")
    val vset =
      if (srcFits) sources.select(col("src").as("vid")).unionAll(dstOnly)
      else pin.select(col("src").as("vid"))
        .unionAll(pin.select(col("dst").as("vid"))).distinct()
    val (vertices, n) =
      if (pinVertices) { val v = vset.localCheckpoint(true); (v, v.count()) }
      else (vset, if (srcFits) nSources + dstOnly.count() else vset.count())
    val useBroadcast = n <= cap
    val narrowBand = srcFits && !useBroadcast
    if (narrowBand) staged.unpersist(blocking = false)
    new Staged(pin, sources, if (narrowBand) fallback() else staged,
      level, vertices, n, useBroadcast)
  }

  /** One dense lane from the uniform start, `rounds` rounds, filled to
    * every vertex as (vid, `name`): on the driver when the edge rows fit
    * `localCap` and the graph has a driver form, else on the distributed
    * kernel over the edge pin. */
  private def dense(edges: DataFrame, width: Int, payload: Option[Column], sumWeights: Boolean,
      ceiling: Long, localCap: Long, rounds: Int, name: String)(lane: Lane,
      driver: DriverLane): DataFrame = {
    require(rounds >= 1, s"a rank loop needs a round, got $rounds")
    LocalGraph.collect(edges, localCap, undirected = false,
        weightCol = if (sumWeights) Some("w") else None, sumParallel = true) match {
      case Some(g) => onDriver(edges.sparkSession, g, rounds, driver, lane.default.get, name)
      case None =>
        val g = stagePinned(pinTwoPhase(edges), width, payload, sumWeights, pinVertices = true,
          ceiling)
        val Seq(scores) = g.iterate(rounds)(lane)
        g.fill((scores, lane.default.get, name))
    }
  }

  /** The driver backend: [[Staged.iterate]] and [[Staged.fill]] for one
    * dense lane over a sum-collapsed graph. A vertex nothing points at
    * takes `default`, as a vertex absent from the in-sums does. */
  private def onDriver(spark: SparkSession, g: LocalGraph, rounds: Int, driver: DriverLane,
      default: Long, name: String): DataFrame = {
    val DriverLane(contrib, update) = driver
    val (n, offsets, nbrs, w) = (g.numVertices, g.offsets, g.nbrs, g.weights.get)
    val out = Array.tabulate(n)(i =>
      (offsets(i) until offsets(i + 1)).foldLeft(0L)((s, j) => Math.addExact(s, w(j))))
    val reached = new Array[Boolean](n)
    nbrs.foreach(reached(_) = true)
    var score = Array.fill(n)(Micro)
    for (_ <- 1 to rounds) {
      val in = new Array[Long](n)
      var i = 0
      while (i < n) {
        var j = offsets(i)
        while (j < offsets(i + 1)) {
          in(nbrs(j)) = Math.addExact(in(nbrs(j)), contrib(score(i), w(j), out(i)))
          j += 1
        }
        i += 1
      }
      score = Array.tabulate(n)(v => if (reached(v)) update(in(v)) else default)
    }
    DatasetBridge.arrayFrame(spark,
      StructType(Seq(StructField("vid", g.vidType), StructField(name, DoubleType))),
      Seq(g.vids, score.map(_.toDouble / Micro.toDouble)))
  }

  /** a·b div d as the DECIMAL(38,0) product and `div` compute it: the
    * product exact, the quotient truncated toward zero, an error past
    * BIGINT. */
  private def mulDiv(a: Long, b: Long, d: Long): Long = {
    val lo = a * b
    if (Math.multiplyHigh(a, b) == (lo >> 63)) lo / d
    else BigInteger.valueOf(a).multiply(BigInteger.valueOf(b))
      .divide(BigInteger.valueOf(d)).longValueExact()
  }

  /** The damped V-row update r = reset·1[v ∈ S] + (1 − reset)·in_sum, the
    * product in DECIMAL(38,0) (in_sum·damp passes 2⁶³ past ~10⁷
    * vertices); `teleport` is the reset term's Column. */
  private def damped(sums: DataFrame, resetMicro: Long, teleport: Column): DataFrame =
    sums.select(col("vid"), (teleport + expr(
      s"CAST(coalesce(CAST(in_sum AS DECIMAL(38,0)), 0) * ${Micro - resetMicro} div $Micro AS BIGINT)"))
      .as("score"))

  /** [[damped]] over Longs, with the uniform teleport `reset`. */
  private def dampedDriver(inSum: Long, resetMicro: Long): Long =
    Math.addExact(resetMicro, mulDiv(inSum, Micro - resetMicro, Micro))

  private def resetMicro(resetProb: Double): Long = math.round(resetProb * Micro)

  /** [[GraphAnalytics.pageRankQuantizedDF]] over (src, dst). */
  def pageRank(edges: DataFrame, numIter: Int, resetProb: Double,
      ceiling: Long = maxBroadcastVerticesDyn, localCap: Long = LocalGraph.EdgeCap): DataFrame = {
    val reset = resetMicro(resetProb)
    dense(edges, 2, Some(count(lit(1)).as("deg")), sumWeights = false, ceiling, localCap,
      numIter, "rank")(Lane(s => s"$s div deg", Some(reset), damped(_, reset, lit(reset))),
      DriverLane((s, m, deg) => Math.multiplyExact(m, s / deg), dampedDriver(_, reset)))
  }

  /** [[GraphAnalytics.personalizedPageRankDF]] over (src, dst): the
    * sources seed the scores at `Micro` each and keep the teleport mass;
    * the output is sparse, only the reached vertices. */
  def personalized(edges: DataFrame, sources: DataFrame, numIter: Int, resetProb: Double,
      ceiling: Long = maxBroadcastVerticesDyn): DataFrame = {
    val reset = resetMicro(resetProb)
    val g = stage(edges, 2, Some(count(lit(1)).as("deg")), pinVertices = false,
      ceiling = ceiling)
    val srcs = sources.select(col(sources.columns.head).as("vid")).distinct()
      .localCheckpoint(true)
    // a full-outer merge keeps rows only where a source or an in-sum is
    val flagged = srcs.withColumn("__s", lit(true))
    def update(sums: DataFrame): DataFrame =
      damped(flagged.join(sums, Seq("vid"), "full_outer"), reset,
        when(col("__s"), lit(reset)).otherwise(lit(0L)))
    val Seq(ranks) = g.iterate(numIter - 1, seed = Some(srcs.withColumn("score", lit(Micro))))(
      Lane(x => s"$x div deg", None, update))
    ranks.select(col("vid"), (col("score").cast("double") / Micro.toDouble).as("ppr"))
  }

  /** [[GraphAnalytics.pageRankWeightedDF]] over (src, dst, w), w ≥ 1. */
  def weighted(edges: DataFrame, numIter: Int, resetProb: Double,
      ceiling: Long = maxBroadcastVerticesDyn, localCap: Long = LocalGraph.EdgeCap): DataFrame = {
    val reset = resetMicro(resetProb)
    dense(edges, 4, Some(sum(col("w")).as("wsum")), sumWeights = true, ceiling, localCap,
      numIter, "rank")(Lane(s => s"$s * w div wsum", Some(reset), damped(_, reset, lit(reset))),
      DriverLane((s, w, wsum) => Math.multiplyExact(s, w) / wsum, dampedDriver(_, reset)))
  }

  /** [[GraphAnalytics.katzCentralityDF]] over (src, dst). */
  def katz(edges: DataFrame, numIter: Int, atten: Long,
      ceiling: Long = maxBroadcastVerticesDyn, localCap: Long = LocalGraph.EdgeCap): DataFrame =
    dense(edges, 3, None, sumWeights = false, ceiling, localCap, numIter, "katz")(
      Lane(identity, Some(Micro),
        _.select(col("vid"), (lit(Micro) + expr(s"in_sum div $atten")).as("score"))),
      DriverLane((s, m, _) => Math.multiplyExact(m, s), in => Math.addExact(Micro, in / atten)))

  /** [[GraphAnalytics.hitsDF]] over (src, dst): a hub lane over out-edges
    * and an authority lane over in-edges, each L1-normalized to mass
    * Micro·n lazily over its pinned raw in-sums. */
  def hits(edges: DataFrame, numIter: Int,
      ceiling: Long = maxBroadcastVerticesDyn): DataFrame = {
    val g = stage(edges, 2, ceiling = ceiling)
    val scale = Micro * g.vertexCount
    // each row's quotient truncates identically in Spark's `div` and
    // DuckDB's `//`; the total and the product can pass 2⁶³, so both run
    // in DECIMAL over V rows
    def normalized(sums: DataFrame): DataFrame =
      sums.crossJoin(broadcast(
        sums.agg(sum(col("in_sum").cast("decimal(38,0)")).as("__tot"))))
        .select(col("vid"),
          expr(s"CAST(CAST(in_sum AS DECIMAL(38,0)) * $scale div __tot AS BIGINT)").as("score"))
    val Seq(hub, auth) = g.iterate(numIter)(
      Lane(identity, None, identity, Some(normalized), backward = true),
      Lane(identity, None, identity, Some(normalized)))
    g.fill((hub, 0L, "hub"), (auth, 0L, "authority"))
  }
}
