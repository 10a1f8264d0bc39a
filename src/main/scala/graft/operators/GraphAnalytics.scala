package graft.operators

import graft.cache.StageCache
import graft.model.PropertyGraph
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Whole-graph analytics (SURVEY §2.4) — the "GraphX/Pregel for analytics"
  * half of the engine's north star.
  *
  * Node labels have independent key spaces (c_custkey=1 and o_orderkey=1
  * are different vertices), so vertices get a global 64-bit id:
  * labelIndex << 44 | key (keys < 2^44, label count < 2^20). The encoding
  * is reversible, so results come back as (label, node_id) DataFrames.
  */
object GraphAnalytics {

  private val LabelShift = 44

  /** Vertex-count ceiling for the broadcast plan shapes in
    * [[labelPropagationDF]] and [[pageRankQuantizedDF]]. An explicit
    * `broadcast()` hint BYPASSES `autoBroadcastJoinThreshold`, and Spark
    * hard-fails any broadcast relation over 8 GiB (and needs the whole
    * table + hash-relation overhead in driver memory first). 50M
    * (vid, value) rows ≈ 2-3 GiB as a broadcast relation — comfortably
    * under the cap; past the ceiling both operators fall back to the
    * shuffle plan automatically instead of inheriting a hard job
    * failure at scale. */
  val MaxBroadcastVertices: Long = 50L * 1000 * 1000

  /** WIDTH-SCALED broadcast-feasibility ceiling. [[MaxBroadcastVertices]]
    * calibrates the 8 GiB broadcast hard cap for the 2-column
    * (vid, value) rows the vertex-table guards carry; a wider build side
    * hits the same BYTE cap at proportionally fewer rows, so reusing the
    * 2-column row ceiling for a 5-column table would sail 2.5× past the
    * calibration. One helper instead of per-site `/3*2`-style ratios so
    * the next wide broadcast cannot reuse the narrow ceiling by
    * accident. `maxRows` stays a parameter because the guard sites are
    * test-injectable ([[linkFeatures]], [[weightedNegativeSamples]]). */
  private[graft] def maxBroadcastRows(maxRows: Long, cols: Int): Long =
    maxRows * 2 / math.max(2, cols)

  /** Heap available to cached/checkpointed blocks, cluster-wide.
    * localCheckpoint and persist blocks reside on EXECUTORS, so the
    * budget is executor-heap-derived — per-executor `spark.executor
    * .memory` × live executor count (`getExecutorMemoryStatus` lists
    * one entry per block manager including the driver's, hence the −1).
    * In local mode the driver JVM IS the executor and
    * `Runtime.maxMemory` is exact. (r11 ADVICE: the driver-heap-only
    * form was correct locally but misestimated a real fleet where
    * driver and executor heaps differ.) */
  private[graft] def storageHeapBytes(spark: SparkSession): Long = {
    val sc = spark.sparkContext
    if (sc.isLocal) Runtime.getRuntime.maxMemory
    else {
      val perExec = sc.getConf.getSizeAsBytes("spark.executor.memory", "1g")
      val execs = math.max(1, sc.getExecutorMemoryStatus.size - 1)
      perExec * execs
    }
  }

  /** HEAP-AWARE vertex-broadcast ceiling — what the V-row broadcast
    * guards actually compare against. [[MaxBroadcastVertices]] alone
    * calibrates Spark's 8 GiB broadcast HARD CAP; on a small-heap
    * executor the binding constraint arrives earlier: the driver-side
    * HashedRelation build plus the executor-resident copy cost
    * ~100 B/row per live generation. Calibrated against the sf10 probe
    * (17 GB heap, 18.6M vertices): every SINGLE-family 2-column
    * broadcast loop (quantized pagerank, HITS, BFS, SSSP, MIS, LPA,
    * k-core, CC) ran green — heap/900 ≈ 18.9M keeps those measured-green
    * configurations broadcasting — while weighted pagerank, which holds
    * TWO live V-row broadcast families (the pinned weight sums plus each
    * round's ranks), died in the build ("Not enough memory to build and
    * broadcast"); ITS guard width-scales this ceiling by 4/2 via
    * [[maxBroadcastRows]], routing it to the shuffle-join fallback. On a
    * production 64 GB executor the static 50M hard-cap ceiling binds
    * again. */
  private[graft] def maxBroadcastVerticesDyn: Long =
    math.min(MaxBroadcastVertices,
      perExecutorHeapBytes(org.apache.spark.sql.SparkSession.active) / 900)

  /** Heap of ONE executor — the budget for anything replicated
    * per-executor (broadcast variables), as opposed to
    * [[storageHeapBytes]]'s cluster-wide cache budget. */
  private[graft] def perExecutorHeapBytes(spark: SparkSession): Long =
    if (spark.sparkContext.isLocal) Runtime.getRuntime.maxMemory
    else spark.sparkContext.getConf.getSizeAsBytes("spark.executor.memory", "1g")

  /** Row ceiling above which a DESERIALIZED staging pin (~100 B/row for
    * a narrow long-pair table, 4-5× the data bytes) would claim more
    * than ~15% of the storage-capable heap — the r11 sf10 finding:
    * default-level pins past this squeezed the unified pool into
    * UNABLE_TO_ACQUIRE_MEMORY task failures. Pins above the ceiling go
    * DISK_ONLY (serialized blocks, zero heap residency; local-disk
    * re-reads are sequential and page-cached). MEMORY-derived, not
    * volume-partitioning-derived: tying the level to the 300k-rows/
    * partition cap sent sf1's comfortably-fitting pins to disk for
    * ~2× the wall at identical bytes (measured, r11). */
  private[graft] def pinRowCeiling(spark: SparkSession): Long =
    (storageHeapBytes(spark) * 0.15 / 100).toLong

  /** Storage level for a pin of `rows` rows under the memory budget:
    * deserialized MEMORY_AND_DISK below [[pinRowCeiling]] (the
    * localCheckpoint/persist default — fast round-loop scans),
    * DISK_ONLY past it. */
  private[graft] def pinLevel(spark: SparkSession, rows: Long)
      : org.apache.spark.storage.StorageLevel =
    if (rows > pinRowCeiling(spark)) org.apache.spark.storage.StorageLevel.DISK_ONLY
    else org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK

  /** TWO-PHASE memory-aware localCheckpoint (the r11 CC recipe,
    * extracted for the whole round-loop family): the row count is
    * unknowable before materializing, so pin at the default memory
    * level first, count FROM MEMORY (fast), and past [[pinRowCeiling]]
    * DEMOTE — re-checkpoint the blocks to DISK_ONLY and free the memory
    * copy via [[org.apache.spark.sql.graft.DatasetBridge
    * .unpersistCheckpoint]]. The count is one job over the pinned blocks
    * ([[org.apache.spark.sql.graft.DatasetBridge.countRows]]), so
    * pin and count take two jobs. The demote pass costs one extra scan
    * exactly when the table is 10× past design volume; below the
    * ceiling (every driver-gate SF and sf1) nothing changes. Returns
    * the pinned frame and its exact row count. NOTE: a localCheckpoint
    * (LogicalRDD) forgets outputPartitioning — callers that need a
    * partitioning-advertising cache use persist([[pinLevel]]) instead. */
  private[graft] def pinTwoPhase(df: DataFrame): (DataFrame, Long) = {
    val p0 = df.localCheckpoint(true)
    val rows = org.apache.spark.sql.graft.DatasetBridge.countRows(p0)
    if (rows <= pinRowCeiling(df.sparkSession)) (p0, rows)
    else {
      val demoted =
        p0.localCheckpoint(true, org.apache.spark.storage.StorageLevel.DISK_ONLY)
      org.apache.spark.sql.graft.DatasetBridge.unpersistCheckpoint(p0)
      (demoted, rows)
    }
  }

  /** Heap-budgeted persist for a PARTITIONING-ADVERTISING cache whose row
    * volume is known (or cheaply upper-bounded) before materialization —
    * the persist twin of [[pinLevel]]. A localCheckpoint would forget
    * outputPartitioning, so round loops whose per-round stages ride a
    * staged hash layout pin through here instead of [[pinTwoPhase]]. An
    * UPPER BOUND hint is safe in both directions: under the ceiling the
    * level is the default; past it the blocks go serialized DISK_ONLY —
    * the residency class that cannot starve execution memory (the r11/
    * r12 sf10 OOM family). This helper (plus its two-phase twin below)
    * is the ONLY place in src/main allowed to name a raw deserialized
    * persist level — tools/gate.sh greps the class away. */
  private[graft] def persistPinned(df: DataFrame, rowsHint: Long): DataFrame =
    df.persist(pinLevel(df.sparkSession, rowsHint))

  /** Two-phase variant of [[persistPinned]] for collapsed/filtered caches
    * whose row count is unknowable pre-materialization: persist at the
    * default level, count FROM MEMORY, and past [[pinRowCeiling]] demote
    * the same cache entry to serialized DISK_ONLY (one extra scan, paid
    * exactly when the deserialized copy would squeeze the storage pool).
    * Unlike [[pinTwoPhase]] the lineage survives, so the cache keeps
    * advertising its partitioning. Returns the pinned frame and its
    * exact count. */
  private[graft] def persistPinnedTwoPhase(df: DataFrame): (DataFrame, Long) = {
    val p = df.persist(DefaultPinLevel)
    val rows = p.count()
    if (rows > pinRowCeiling(df.sparkSession)) {
      p.unpersist(blocking = false)
      p.persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
    }
    (p, rows)
  }

  /** The default deserialized pin level, named ONCE so the gate.sh grep
    * for raw `persist(…MEMORY_AND_DISK)` call sites stays zero-hit. */
  private[graft] val DefaultPinLevel: org.apache.spark.storage.StorageLevel =
    org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK

  /** [[coreness]] switches from dense to frontier rounds once the
    * changed set falls below V / this factor: above it the candidate
    * neighborhoods cover ~everything and the frontier joins are pure
    * overhead; below it per-round work tracks the changed set. 128, not
    * 32: a frontier round's real cost tracks Σdeg over the changed
    * set's NEIGHBORHOOD (≈ moved × avg-deg² edges touched), so at
    * moved = V/32 the candidate adjacency still covers most of E and
    * the round pays dense-round work PLUS the frontier bookkeeping —
    * measured at sf1: the first V/32-sized frontier round cost 3.4 s
    * vs 1.6 s for the dense round preceding it. */
  private[graft] val FrontierSwitchFactor = 128L

  /** Rows-per-partition target for volume-sized staging exchanges — the
    * partition-row bound that keeps a window / near-unique-key hash-agg
    * stage's per-task state (sorter buffers, agg hash tables) in
    * execution memory instead of spilling. */
  private[graft] val VolumeRowsPerPartition = 300000L

  /** Volume-sized shuffle partition count — the shared coreness recipe:
    * one partition per [[VolumeRowsPerPartition]] rows, capped at
    * `spark.sql.shuffle.partitions`, at least 1. Below the cap the count
    * is volume-derived, so low-SF staging launches a handful of
    * right-sized tasks instead of conf-many tiny ones (measured win,
    * rounds 9-11: coreness/MIS/star-CC). Past the cap, partitions grow
    * in ROWS and the window/agg stages riding them spill via
    * UnsafeExternalSorter — and that is the MEASURED right trade, not a
    * compromise: lifting the cap to 32× conf at sf3 (273 partitions of
    * 300k rows instead of 32 of 2.5M) took every spill to zero
    * (14-54 GB → 0) but made walls 2-4× WORSE on identical data —
    * coreness 86.5 → 237.9 s, LPA 49.7 → 162.4 s, link_features
    * 36.9 → 175.3 s, assortativity 40.0 → 178.4 s (bench_history/
    * bench_log.jsonl, r11) — because per-round tiny-task scheduling and
    * the O(maps × reduces) shuffle-block explosion (1,024 → 74,529
    * blocks per exchange) dwarf sequential spill I/O, and an
    * explicit-count repartition additionally opts OUT of AQE partition
    * coalescing for that exchange. On a production fleet the config is
    * sized to the cluster, the same cap binds at that value, and
    * per-partition rows stay bounded by data/fleet — graceful spill
    * past that is the documented 100 TB posture (BASELINE §7). */
  private[graft] def volumeParts(spark: SparkSession, rows: Long): Int = {
    val conf = spark.sessionState.conf.numShufflePartitions.toLong
    math.max(1L, math.min(conf, rows / VolumeRowsPerPartition + 1L)).toInt
  }

  /** Partition-count override for a volume-staged exchange: Some(volume-
    * sized) when the data is small enough that the config cap would NOT
    * bind, None when it would — callers then fall back to a bare
    * `repartition(key)`, which plans the config count AND keeps AQE
    * partition coalescing available for that exchange (an explicit
    * count opts out of it). */
  private[graft] def volumePartsOpt(spark: SparkSession, rows: Long): Option[Int] = {
    val conf = spark.sessionState.conf.numShufflePartitions.toLong
    if (rows / VolumeRowsPerPartition + 1L >= conf) None
    else Some(volumeParts(spark, rows))
  }

  /** Volume-GATED staging source for a doubled-union exchange. `rows` is
    * the POST-union volume (an exact count or a cheap upper-bound hint).
    * Small (cap won't bind): the source comes back locally checkpointed
    * — the union's two consumers read materialized blocks instead of
    * recomputing the lineage, and the pin is small by construction.
    * Large (cap binds): the source comes back UNTOUCHED and the staging
    * shape is exactly the bare `repartition(key)` baseline — eagerly
    * checkpointing a full-scale edge list pins a deserialized copy in
    * the block manager for ZERO partition-count benefit, and the r11
    * sf3 re-bench of exactly that shape drove G1 into GCLocker-retry /
    * 1 GiB page-allocation failures: 2-6× walls plus query errors
    * (bench_history/bench_log.jsonl, the aborted 906 s run) on data the
    * unpinned baseline handles at 566 s. */
  private[graft] def volumeStage(df: DataFrame, rows: Long): (DataFrame, Option[Int]) =
    volumePartsOpt(df.sparkSession, rows) match {
      case None => (df, None)
      case some => (df.localCheckpoint(true), some)
    }

  /** True when counting `df` is cheap — its optimized plan is only
    * Project/Filter over a single leaf: a parquet leaf answers a bare
    * count from footer metadata and a filtered one from one narrow
    * column scan; a pinned checkpoint counts from its blocks. Anything
    * else (joins, aggregates, unions, generators) would execute the
    * full upstream lineage once for the count and again for the real
    * job — those callers must pass an explicit hint or forgo
    * volume sizing. */
  private[graft] def isCheapCount(df: DataFrame): Boolean = {
    import org.apache.spark.sql.catalyst.plans.logical.{Filter, Project}
    val plan = df.queryExecution.optimizedPlan
    plan.collectLeaves().size == 1 && plan.collect {
      case p if p.children.nonEmpty && !p.isInstanceOf[Project] && !p.isInstanceOf[Filter] => p
    }.isEmpty
  }

  /** `repartition` with an optional explicit partition count
    * ([[volumePartsOpt]]'s contract: None = bare, AQE-coalescible). */
  private[graft] def repartitionSized(df: DataFrame, parts: Option[Int],
      keys: Column*): DataFrame =
    parts.map(p => df.repartition(p, keys.toSeq: _*))
      .getOrElse(df.repartition(keys.toSeq: _*))

  /** Unified edge list of a PropertyGraph: one DataFrame of encoded
    * (src, dst) global vertex ids. Labels are indexed in sorted order for
    * determinism. */
  def unifiedEdges(g: PropertyGraph): (DataFrame, Seq[String]) = {
    val (e, labels) = unifiedEdgesWeighted(g, _ => 1L)
    (e.select(col("src"), col("dst")), labels)
  }

  /** [[unifiedEdges]] with a per-pattern integral edge weight —
    * (src, dst, w) — for weighted algorithms ([[ssspDistances]]). The
    * weight is constant per relationship TYPE (the per-edge-property
    * case just selects the property column instead). */
  def unifiedEdgesWeighted(g: PropertyGraph,
      weightOf: graft.model.RelPattern => Long): (DataFrame, Seq[String]) = {
    val labels = g.nodes.keys.toSeq.sorted
    val index = labels.zipWithIndex.toMap
    val parts = g.rels.toSeq.sortBy(_._1.key).map { case (pattern, df) =>
      val Seq(srcCol, dstCol) = df.columns.take(2).toSeq
      Seq(srcCol, dstCol).foreach { c =>
        import org.apache.spark.sql.types._
        val ok = df.schema(c).dataType match {
          case ByteType | ShortType | IntegerType | LongType => true
          case _ => false
        }
        require(ok,
          s"graph analytics need integral node ids in [0, 2^$LabelShift); ${pattern.key}.$c is " +
            s"${df.schema(c).dataType} (map string ids into range first, e.g. " +
            s"pmod(xxhash64(id), 2^$LabelShift) — raw xxhash64 is full-range/negative " +
            "and would corrupt the label encoding)")
      }
      // per-row range guard: a key outside [0, 2^44) would silently
      // collide into another label's id space and decode garbage — fail
      // loudly instead. raise_error stays inside codegen; no extra job.
      def encoded(c: String, label: String): Column = {
        val k = col(c).cast("long")
        when(k < 0 || k >= lit(1L << LabelShift),
          raise_error(concat(lit(s"node id out of [0, 2^$LabelShift) for label $label: "), k.cast("string"))))
          .otherwise(k + lit(index(label).toLong << LabelShift))
      }
      df.select(
        encoded(srcCol, pattern.srcLabel).as("src"),
        encoded(dstCol, pattern.dstLabel).as("dst"),
        lit(weightOf(pattern)).as("w"))
    }
    (parts.reduce(_.unionAll(_)), labels)
  }

  /** Cheap upper bound on [[unifiedEdges]]' row count — Σ per-pattern rel
    * rows, counted in ONE job over the union of the pattern frames
    * projected to no columns (column-free parquet scans; no encode
    * lineage, no aggregate exchange:
    * [[org.apache.spark.sql.graft.DatasetBridge.countRows]]). Feeds
    * `stagingRowsHint` params so distributed staging doesn't run the
    * unified lineage once for the count and again for the exchange; a
    * driver replay's gate is its own edge read and needs none.
    * EXACT for the unified graph (every pattern row becomes exactly one
    * edge row), an upper bound for filtered projections. */
  def unifiedEdgeRowsBound(g: PropertyGraph): Long =
    if (g.rels.isEmpty) 0L
    else org.apache.spark.sql.graft.DatasetBridge.countRows(
      g.rels.values.map(_.select()).reduce(_ unionAll _))

  /** Decode global vertex ids back to (label, node_id). */
  def decode(df: DataFrame, idCol: String, labels: Seq[String]): DataFrame = {
    val labelArr = array(labels.map(lit): _*)
    df.withColumn("label", element_at(labelArr, (shiftright(col(idCol), LabelShift) + 1).cast("int")))
      .withColumn("node_id", col(idCol).bitwiseAND(lit((1L << LabelShift) - 1)))
      .drop(idCol)
  }

  /** RDD-free per-vertex triangle counting on canonical (u < v) edges —
    * the standard distributed wedge-close join:
    * wedges (a<b<c) from E⋈E on the middle vertex, closed by a third join
    * against E(a,c); each closed triangle credits all three vertices.
    * Pure DataFrame joins: Catalyst broadcasts the small side, AQE handles
    * skew, and (unlike GraphX's triangleCount) there is no RDD lineage or
    * per-vertex adjacency-set materialization — at web scale the
    * highest-degree vertex no longer has to fit its neighbor set in one
    * task. Input edges need not be canonical or self-loop-free; output is
    * (vid, triangles) over every edge endpoint.
    *
    * `assumeCanonical = true`: the caller guarantees distinct canonical
    * (src < dst) self-loop-free pairs — the [[coOccurrenceEdges]]
    * contract — so the canonicalize + distinct staging (a full
    * pair-level exchange; triangle counts are multiplicity-sensitive,
    * so it cannot be dropped unconditionally) is skipped and staging is
    * a map-only checkpoint. */
  def triangleCountsDF(edges: DataFrame, srcCol: String = "src", dstCol: String = "dst",
      assumeCanonical: Boolean = false): DataFrame = {
    // The canonical edge list feeds FOUR plan branches (both join sides,
    // the close probe, the vertex universe). Materialize it once —
    // without this, Spark recomputes the whole upstream plan (e.g. a
    // co-occurrence projection) per branch: the audit showed 79 exchanges
    // on g_triangles, ~4x the upstream cost, all duplicate work.
    val canonBase =
      if (assumeCanonical)
        edges.select(col(srcCol).as("u"), col(dstCol).as("v"))
      else
        edges.where(col(srcCol) =!= col(dstCol))
          .select(least(col(srcCol), col(dstCol)).as("u"),
            greatest(col(srcCol), col(dstCol)).as("v"))
          .distinct()
    // two-phase pin (the r11 memory-cliff recipe): at 10×-past-design
    // volume the canonical edge list's DESERIALIZED checkpoint blocks
    // squeeze the unified pool and the wedge-close aggregation dies with
    // AGGREGATE_OUT_OF_MEMORY (measured: g_clustering_coeff at sf10 on a
    // 17 GB heap); past [[pinRowCeiling]] the four consumers re-read
    // serialized disk blocks instead
    val (canon, _) = pinTwoPhase(canonBase)
    val e1 = canon.select(col("u").as("a"), col("v").as("b"))
    val e2 = canon.select(col("u").as("b"), col("v").as("c"))
    val e3 = canon.select(col("u").as("a"), col("v").as("c"))
    // The triangle set also feeds three union branches, but is NOT
    // materialized: triangles can vastly outnumber edges (measured 6x
    // slower checkpointed at sf0.1), and recomputing two hash joins over
    // the cached canon is cheaper than storing every closed triangle.
    val tris = e1.join(e2, "b").join(e3, Seq("a", "c"), "left_semi")
      .select(col("a"), col("b"), col("c"))
    val perVertex = tris.select(col("a").as("vid"))
      .unionAll(tris.select(col("b").as("vid")))
      .unionAll(tris.select(col("c").as("vid")))
      .groupBy("vid").agg(count(lit(1)).as("triangles"))
    val vertices = canon.select(col("u").as("vid"))
      .unionAll(canon.select(col("v").as("vid"))).distinct()
    vertices.join(perVertex, Seq("vid"), "left")
      .select(col("vid"), coalesce(col("triangles"), lit(0L)).as("triangles"))
  }

  /** Co-occurrence projection: items sharing a group become an undirected
    * edge (the market-basket / co-citation graph). Groups larger than
    * `maxGroupSize` are dropped BEFORE the self-join — a group of k items
    * emits k² pairs, so one boilerplate mega-group would otherwise
    * dominate the whole job (same skew argument as LSH bucket caps).
    * Output: canonical (item_a < item_b) distinct pairs.
    *
    * `distinctPairs = false` skips the final pair-level exchange and
    * emits one row per (group, pair) — for consumers that dedup in
    * their own staging anyway ([[linkFeatures]] collapses multiplicity
    * in its hash(u) dedup), the distinct here is a full extra shuffle
    * of the pair stream for nothing. Multiplicity-sensitive consumers
    * (degree counts, triangle joins) must keep the default. */
  def coOccurrenceEdges(df: DataFrame, groupCol: String, itemCol: String,
      maxGroupSize: Int = 10, distinctPairs: Boolean = true,
      rowsHint: Option[Long] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // ONE staging exchange: repartition by group first — the (g, item)
    // dedup, the group-size window and the pair self-join all ride
    // hash(g) with no further exchange (the dedup-on-top-of-repartition
    // recipe; distinct() first paid hash(g, item) AND THEN the window
    // re-exchanged everything by hash(g)).
    // volume-sized ([[volumePartsOpt]]): the per-g window and pair join
    // ride hash(g), so at low SF they run volume-proportional task
    // counts; once the cap binds this degrades to the bare
    // AQE-coalescible repartition. The sizing count runs ONLY when the
    // caller passes `rowsHint` or the input is a bare scan (a
    // column-free row-count over parquet metadata / pinned blocks) —
    // counting an arbitrary upstream lineage would execute it twice
    // (r11 ADVICE); unknown volume falls back to the bare repartition.
    val src = df.select(col(groupCol).as("g"), col(itemCol).as("item"))
    val rows = rowsHint.orElse(if (isCheapCount(src)) Some(src.count()) else None)
    val base = repartitionSized(src,
        rows.flatMap(volumePartsOpt(df.sparkSession, _)), col("g"))
      .dropDuplicates("g", "item")
      .withColumn("n", count(lit(1)).over(Window.partitionBy(col("g"))))
      .where(col("n") <= maxGroupSize)
    val l = base.select(col("g"), col("item").as("item_a"))
    val r = base.select(col("g"), col("item").as("item_b"))
    val pairs = l.join(r, Seq("g")).where(col("item_a") < col("item_b"))
      .select(col("item_a"), col("item_b"))
    if (distinctPairs) pairs.distinct() else pairs
  }

  /** Synchronous label-propagation community detection (Raghavan et al.
    * 2007, "Near linear time algorithm to detect community structures"):
    * every vertex starts in its own community and each round
    * simultaneously adopts the most frequent community among its
    * neighbors (ties → smallest community id — deterministic, unlike the
    * textbook's random tie-break). Runs a FIXED number of rounds: the
    * synchronous update oscillates on bipartite structures, so
    * convergence is not guaranteed and fixed rounds is the standard batch
    * form. Per round: one equi-join of the undirected edge list against
    * the label table and two aggregations — all shuffles on vertex ids,
    * AQE-skew-safe, nothing driver-side. Distinct from connected
    * components: CC gives the coarsest partition; LPA finds denser
    * sub-communities inside components.
    *
    * The deterministic max is `max(struct(n, -community))` — lexicographic
    * struct ordering picks highest count, then smallest community id. */
  /** @param broadcastLabels physical strategy switch. `true` (default):
    * the edge list persists HASH-PARTITIONED BY `u` once and the
    * vertex-sized label table is explicitly broadcast each round —
    * `HashPartitioning(u)` satisfies the clustered distribution of BOTH
    * per-round aggregations (grouping keys (u, community) ⊇ {u}), so a
    * round runs ZERO exchanges: broadcast join → two in-place aggs
    * (measured 305 MB → ~0 per-round shuffle at sf0.1; plan-probed).
    * Per-partition work is bounded by max vertex degree — the same bound
    * the final per-u aggregation always had. `false`: the label table
    * has outgrown broadcast (billions of vertices); the adjacency stays
    * pinned hash(u), the label join shuffles label-table-sized data per
    * round and the (u, community) groupBy's map-side partial combine
    * defends the wire against hot-vertex skew. Identical results either way
    * (spec-checked) — this switches plan shape, not semantics.
    * `true` is a REQUEST, not a command: past [[MaxBroadcastVertices]]
    * the explicit hint would bypass autoBroadcastJoinThreshold straight
    * into Spark's 8 GiB broadcast hard cap, so the operator counts
    * vertices (one cheap agg, amortized over the rounds) and falls back
    * to the shuffle plan on its own. */
  def labelPropagationDF(edges: DataFrame, numIter: Int = 5,
      srcCol: String = "src", dstCol: String = "dst",
      broadcastLabels: Boolean = true): DataFrame = {
    require(numIter >= 1, "numIter must be >= 1")
    val e = edges.select(col(srcCol).as("u"), col(dstCol).as("v"))
      .where(col("u") =!= col("v"))
    // staging is ONE shuffle (the coreness/ssspDistances recipe):
    // repartition the doubled edge list by u FIRST, then dedup
    // exchange-free on top — hash(u) co-locates (u, v) duplicates, so
    // the old distinct-shuffle → checkpoint → repartition-shuffle chain
    // moved the full edge list twice for nothing. persist, NOT
    // localCheckpoint: a checkpointed LogicalRDD drops its
    // outputPartitioning (measured, round 4) while InMemoryRelation
    // keeps it, and hash(u) is exactly what lets every per-round
    // aggregation (grouping keys (u, community) ⊇ {u}) run in place.
    // The staging exchange is volume-GATED ([[volumeStage]]; the count
    // is a cheap column-pruned scan of the edge projection): below the
    // config cap the per-round stages riding hash(u) launch a handful of
    // right-sized tasks instead of conf-many tiny ones; once the cap
    // binds this IS the bare baseline shape, with no pinned checkpoint.
    val undRowsBound = 2 * e.count()
    val (eSrc, undParts) = volumeStage(e, undRowsBound)
    val und = persistPinned(repartitionSized(
        eSrc.unionAll(eSrc.select(col("v").as("u"), col("u").as("v"))),
        undParts, col("u"))
      .dropDuplicates("u", "v"), undRowsBound)
    // vertex table triples as round-0 labels, the final-shape anchor, and
    // the broadcast-feasibility guard (see MaxBroadcastVertices); its
    // distinct rides the adjacency's hash(u) partitioning — no exchange.
    val verts = und.select(col("u").as("vid")).distinct().localCheckpoint(true)
    // The explicit broadcast() hint keeps the label join from ever
    // degrading to a shuffle against the cached shape (the failure mode
    // of the round-4 PageRank persist experiment). Past the guard the
    // label join shuffles label-table-sized data per round against the
    // still-pinned adjacency.
    val useBroadcast = broadcastLabels && verts.count() <= maxBroadcastVerticesDyn
    var labels = verts.withColumn("community", col("vid"))
    (1 to numIter).foreach { i =>
      // Fusing both aggregations onto one bare repartition(u) exchange
      // was measured (12.7 -> 9.6 s at sf0.1) and REVERTED in the
      // shuffle path: a bare repartition loses the map-side partial
      // combine that both collapses converging neighbor communities
      // before the wire and defends against hot-vertex skew. The
      // broadcast path makes that trade moot — there is no wire.
      val lbl = if (useBroadcast) broadcast(labels) else labels
      val next = und.join(lbl, und("v") === lbl("vid"))
        .groupBy(und("u"), col("community")).agg(count(lit(1)).as("n"))
        .groupBy(col("u"))
        .agg(max(struct(col("n"), (-col("community")).as("negc"))).as("m"))
        .select(col("u").as("vid"), (-col("m.negc")).as("community"))
      // truncate lineage every other round — plans stay O(1), and the
      // odd-round plan (one join + two aggs on a checkpointed input) is
      // still small enough to skip the materialization cost
      labels = if (i % 2 == 0 || i == numIter) next.localCheckpoint(true) else next
    }
    // the final round's labels are eagerly checkpointed above, so the
    // pinned edge cache can be released immediately
    und.unpersist(blocking = false)
    labels
  }

  /** Synchronous modularity-optimizing community detection — the local
    * move phase of Louvain (Blondel et al. 2008, J. Stat. Mech. P10008)
    * run as fixed synchronous rounds, in an INTEGER-EXACT gain algebra
    * so the whole loop replays as chained CTEs in the DuckDB oracle
    * (the [[labelPropagationDF]]/[[pageRankQuantizedDF]] technique).
    *
    * Per round every vertex u considers its neighbors' communities plus
    * its own; placing u in C changes modularity by
    * `ΔQ ∝ w(u→C)/m − k_u·vol'(C)/(2m²)` where `w(u→C)` counts u's edges
    * into C, `k_u` is u's degree, and `vol'(C)` is C's total degree with
    * u's own contribution removed when C is u's current community (the
    * standard Louvain bookkeeping). Scaling by the positive constant
    * 2m² makes the comparison integral: `gain(C) = 2m·w(u→C) −
    * k_u·vol'(C)` — every term a product of exact counts, accumulated in
    * DECIMAL(38,0) (DuckDB: HUGEINT) so no SF can overflow it. u's
    * current community is always a candidate (with w = 0 when no
    * neighbor shares it) and WINS ties — a vertex moves only on a
    * strictly positive relative gain (Louvain's move rule); ties among
    * strictly-better candidates go to the smallest community id.
    *
    * Two deterministic defenses replace Louvain's sequential sweep
    * (which is order-dependent, so neither distributed nor replayable):
    * stay-on-tie above, and PARITY-ALTERNATING rounds — round i lets
    * only vertices with `pmod(vid, 2) = i % 2` move. Fully synchronous
    * updates would let adjacent vertex pairs swap communities forever
    * (the classic bipartite oscillation, reproduced in ModularitySpec's
    * fixture before this gate existed); alternating update classes is
    * the standard symmetric-breaking schedule for synchronous local
    * moves, halves per-round join work, and doubles the effective
    * round count needed — the default numIter moves each class twice.
    *
    * Plan shape per round (the LPA recipe): the undirected adjacency is
    * staged ONCE by hash(u) and pinned; community volumes are a
    * community-count-sized aggregate; with state broadcast (the default,
    * guarded by [[maxBroadcastRows]] at 3 columns) the neighbor-label
    * join, the candidate fold and the gain argmax all ride the pinned
    * hash(u) layout exchange-free. Past the guard (r14): a SECOND
    * adjacency copy pinned by hash(v) — with u's loop-invariant degree
    * attached — serves the neighbor-state join, each state row carries
    * its community's volume, and the union row marks the current
    * community, so every round exchanges ONLY V-sized state plus the
    * map-side-combined (u, community) candidate pairs; the E-row
    * adjacency never rides the wire again (the r13 sf10 `weak`:
    * re-exchanging it per round cost 49.5 GB shuffle / 612 GB spill). */
  /** @param stagingRowsHint cheap upper bound on the doubled staging
    * volume (the [[linkFeatures]] pattern): spares the gate an exact
    * count of an expensive non-scan edge lineage, which would otherwise
    * execute that lineage twice (once for the count, once staging). */
  def modularityCommunitiesDF(edges: DataFrame, numIter: Int = 4,
      srcCol: String = "src", dstCol: String = "dst",
      broadcastState: Boolean = true,
      stagingRowsHint: Option[Long] = None): DataFrame = {
    require(numIter >= 1, "numIter must be >= 1")
    val (und, twoM) = modularityStage(edges, srcCol, dstCol, stagingRowsHint)
    val out = modularityMoveRounds(und, twoM, numIter, broadcastState)
      .select(col("vid"), col("community"))
    und.unpersist(blocking = false)
    out
  }

  /** FULL multi-level Louvain (Blondel et al. 2008 §2): run the local
    * moves, then CONTRACT — map both endpoints of the doubled adjacency
    * through the level's labels and sum unit weights into a
    * community-count-sized weighted graph (self rows carry a
    * super-vertex's internal edge ends) — and repeat the moves on the
    * contracted graph. Contraction is what bounds per-round exchange
    * volume as communities coarsen: after level 1 the state rides a
    * graph whose size tracks the COMMUNITY count, not E (the sf10
    * g_modularity 21× byte ratio was exactly the absence of this).
    * 2m is level-invariant (contraction preserves total edge weight),
    * labels compose back through each level, and every operation is an
    * integer sum/argmax — so all levels replay as chained CTEs in the
    * DuckDB oracle, contraction included. `levels = 1` is bit-identical
    * to [[modularityCommunitiesDF]]. */
  def modularityCommunitiesMultiLevelDF(edges: DataFrame, numIter: Int = 4,
      levels: Int = 2, srcCol: String = "src", dstCol: String = "dst",
      broadcastState: Boolean = true,
      stagingRowsHint: Option[Long] = None): DataFrame = {
    require(numIter >= 1 && levels >= 1, "numIter and levels must be >= 1")
    val (und1, twoM) = modularityStage(edges, srcCol, dstCol, stagingRowsHint)
    // Two label tables that COINCIDE at level 1 and diverge after:
    // `composed` maps ORIGINAL vids to their community after all levels
    // so far (the output); `curLabels` maps the CURRENT — possibly
    // contracted — graph's vertex ids to their latest-level community
    // (the contraction input). Contracting through `composed` (the r13
    // shape) mapped super-vertex c through ORIGINAL vertex c's composed
    // community — silently wrong at levels >= 3 whenever a community's
    // anchor vertex had moved out of its eponymous community (r13
    // ADVICE; levels = 2 call sites were unaffected because the tables
    // are identical at the only contraction).
    var composed = modularityMoveRounds(und1, twoM, numIter, broadcastState)
      .select(col("vid"), col("community")).localCheckpoint(true)
    var curLabels = composed
    var und = und1
    (2 to levels).foreach { _ =>
      // Contract through the CURRENT graph's own labels. The label table
      // is vertex-count-sized at level 1 and community-count-sized after —
      // broadcast under the usual guard so the E-row side never moves;
      // past the guard the shuffle join stands (correct, linear).
      val lbl = curLabels
      val vCount = lbl.count() // cheap: checkpointed above
      // past the guard the label side shuffle-HASH-joins (r14): it is
      // V-rows against the E-row adjacency stream, and an SMJ would
      // sort the adjacency twice more per contraction
      def mb(df: DataFrame): DataFrame =
        if (vCount <= maxBroadcastVerticesDyn) broadcast(df)
        else df.hint("shuffle_hash")
      val weighted = und.columns.contains("w")
      val wExpr = if (weighted) sum(col("w")) else count(lit(1))
      // r16 contraction reshape (two exchanges cheaper at identical
      // values): (a) u's label is attached riding the pin, then u is
      // PROJECTED AWAY before the v-side re-key — the shuffle-fallback
      // endpoint exchange carries (v, cu[, w]) instead of (u, v, cu[,
      // w]); (b) the (cu, cv) fold rides an explicit hash(cu)
      // repartition of the raw labeled rows — which IS the contracted
      // pin's layout, so the r15 shape's TWO exchanges (fold partials
      // keyed (cu, cv), which satisfies no single-key clustering, plus
      // the post-fold repartitionSized(u) re-key) collapse into one.
      // The re-key invariant stands: the fold's output advertises
      // hash(cu), the aliases rewrite it to hash(u), and the next
      // level's degree aggregation, undV staging and move rounds all
      // ride the pin exactly as before (measured r15 sf10: riding vs
      // not was 23.5 GB vs 7.3 GB on the same staging bytes). Sizing:
      // twoM bounds the raw labeled rows (= current und rows), same
      // volume-vs-AQE trade as modularityStage.
      val labeled = und
        .join(mb(lbl.select(col("vid").as("__u"), col("community").as("cu"))),
          col("u") === col("__u"))
        .select(Seq(col("v"), col("cu")) ++
          (if (weighted) Seq(col("w")) else Nil): _*)
        .join(mb(lbl.select(col("vid").as("__v"), col("community").as("cv"))),
          col("v") === col("__v"))
        .select(Seq(col("cu"), col("cv")) ++
          (if (weighted) Seq(col("w")) else Nil): _*)
      val cundBase =
        repartitionSized(labeled, volumePartsOpt(und1.sparkSession, twoM),
          col("cu"))
        .groupBy(col("cu"), col("cv"))
        .agg(wExpr.as("w"))
        .select(col("cu").as("u"), col("cv").as("v"), col("w"))
      // community-count²-bounded in theory, community-edge-sized in
      // practice; row count unknowable pre-materialization → two-phase
      val (cund, _) = persistPinnedTwoPhase(cundBase)
      if (und ne und1) und.unpersist(blocking = false)
      und = cund
      // checkpointed because BOTH consumers below read it: the label
      // composition this level and the contraction of the next one
      val nextLabels = modularityMoveRounds(cund, twoM, numIter, broadcastState,
          hashParity = true)
        .select(col("vid"), col("community")).localCheckpoint(true)
      curLabels = nextLabels
      // compose: original vid → this level's community of its previous
      // community. nextLabels is contracted-vertex-sized — broadcast
      // under the same guard (it is ≤ the label table just guarded).
      composed = composed.join(
          mb(nextLabels.select(col("vid").as("__c"), col("community").as("__nc"))),
          col("community") === col("__c"))
        .select(col("vid"), col("__nc").as("community"))
        .localCheckpoint(true)
    }
    if (und ne und1) und.unpersist(blocking = false)
    und1.unpersist(blocking = false)
    composed
  }

  /** Shared staging for the modularity family: the pinned symmetric
    * doubled DISTINCT adjacency with a unit weight column, plus
    * 2m = Σ k_u = |und| (counted from the pinned blocks; replays as
    * COUNT(*) over the oracle's und CTE). Heap-budgeted pin
    * ([[persistPinned]]) keyed by the staging bound. */
  private def modularityStage(edges: DataFrame, srcCol: String,
      dstCol: String, stagingRowsHint: Option[Long]): (DataFrame, Long) = {
    val e = edges.select(col(srcCol).as("u"), col(dstCol).as("v"))
      .where(col("u") =!= col("v"))
    val undRowsBound = stagingRowsHint.getOrElse(2 * e.count())
    val (eSrc, undParts) = volumeStage(e, undRowsBound)
    // NO weight column at level 1: a constant w=1 rode the staging in
    // the first refactor cut and cost 50% more bytes per row through
    // every shuffle-fallback sort buffer — at sf10/17 GB that converted
    // the r12-green run into UNABLE_TO_ACQUIRE_MEMORY aborts (measured,
    // r13). The move core treats a missing w column as unit weights.
    val und = persistPinned(repartitionSized(
        eSrc.unionAll(eSrc.select(col("v").as("u"), col("u").as("v"))),
        undParts, col("u"))
      .dropDuplicates("u", "v"), undRowsBound)
    (und, und.count())
  }

  /** The weighted synchronous local-move core shared by both modularity
    * operators. `und` is a pinned doubled adjacency (u, v, w:long); at
    * level 1 w ≡ 1 and the sums degenerate to the pre-refactor counts
    * (bit-identical output, oracle-pinned). Self rows (u = v, present
    * only on contracted graphs) contribute to k and vol ONLY: an
    * internal edge stays internal under any move of u, shifting every
    * candidate's gain by the same constant — so it is excluded from
    * w(u→C) by the `u <> v` filter. Returns (vid, community, k) with
    * the final round eagerly checkpointed. */
  private def modularityMoveRounds(und: DataFrame, twoM: Long,
      numIter: Int, broadcastState: Boolean,
      hashParity: Boolean = false): DataFrame = {
    // unit-weight inputs carry NO w column (see modularityStage) — the
    // expressions below degenerate to the r12 counts, keeping the
    // level-1 plan byte-identical on the wire
    val weighted = und.columns.contains("w")
    // Update-class function for the alternating schedule. Level 1 splits
    // on vid parity (cheap, oracle-replays as `% 2`). CONTRACTED levels
    // hash first: super-vertex ids are level-1 COMMUNITY labels, and the
    // stay-on-tie + smallest-id move rule skews winners toward one
    // parity (measured on the triangle-ring fixture: all 10 labels
    // even) — raw parity then degenerates to "everyone moves at once"
    // and simultaneous chain-merges destroy Q. The 60-bit md5 splits
    // any id population ~evenly and replays in SQL (the betweenness
    // pivot recipe). Self-corrections across rounds handle the residual
    // same-class collisions the schedule cannot exclude.
    def parityOf(c: Column): Column =
      if (hashParity)
        pmod(Dedup.md5Long(concat(lit("lmod:"), c.cast("string"))), lit(2))
      else pmod(c, lit(2))
    // loop-invariant weighted degrees ride hash(u) — no exchange; state
    // rows are (vid, community, k) so the per-round argmax can re-emit k
    // without a second degree join. Self rows count into k here.
    val deg = und.groupBy(col("u").as("vid"))
      .agg((if (weighted) sum(col("w")) else count(lit(1))).as("k"))
      .localCheckpoint(true)
    val useBroadcast = broadcastState &&
      deg.count() <= maxBroadcastRows(maxBroadcastVerticesDyn, 3)
    // SHUFFLE-FALLBACK staging (r14): past the guard, the per-round
    // neighbor-state join over the hash(u)-pinned adjacency re-exchanged
    // the E-row adjacency by v every round — the r13-verdict `weak`
    // (g_modularity_l2 sf10: 49.5 GB shuffle / 612 GB spill). Stage a
    // SECOND copy of the adjacency pinned by hash(v), with u's
    // loop-invariant degree attached, so every round exchanges only
    // V-sized state plus the map-side-combined (u, community) candidate
    // pairs — the adjacency itself never moves again. Costs one E-row
    // exchange and one extra pin (heap-budgeted: past pinRowCeiling both
    // copies are serialized DISK_ONLY), amortized over all rounds; the
    // broadcast path is untouched (zero exchanges, measured green).
    // Both loop-invariant degrees ride the pin: k (= k_u) feeds every
    // round's gain; kv (= k_v) exists for the IDENTITY shortcut below,
    // where vol(C=v) = k_v. Joins hint SHUFFLE_HASH so the E-row side
    // streams unsorted (an SMJ would sort the whole adjacency — at sf10
    // that sort IS the spill story, re-paid per join).
    val undV: DataFrame = if (useBroadcast) null else {
      val spark = und.sparkSession
      val cols = Seq(col("u"), col("v")) ++
        (if (weighted) Seq(col("w")) else Nil) :+ col("k")
      persistPinned(
        repartitionSized(
          und.join(deg.select(col("vid").as("__u"), col("k")).hint("shuffle_hash"),
            col("u") === col("__u")).select(cols: _*),
          volumePartsOpt(spark, twoM), col("v"))
          .join(deg.select(col("vid").as("__v"), col("k").as("kv"))
            .hint("shuffle_hash"), col("v") === col("__v"))
          .select(cols :+ col("kv"): _*), twoM)
    }
    var state = deg.select(col("vid"), col("vid").as("community"), col("k"))
    (1 to numIter).foreach { i =>
      val par = i % 2
      val moved = if (useBroadcast) {
        val st = broadcast(state)
        // community volumes: ≤V rows, usually far fewer as communities
        // coarsen; DECIMAL accumulation (2m can exceed BIGINT×deg bounds
        // at extreme scale, and DuckDB sums BIGINT into HUGEINT anyway).
        val vol = broadcast(state.groupBy(col("community"))
          .agg(sum(col("k").cast("decimal(38,0)")).as("vol")))
        // w(u→C): edge weight from the round's ACTIVE parity class into
        // each neighboring community. The fold's grouping keys ⊇ {u}, so
        // it rides the pinned hash(u) layout through the broadcast joins
        // EXCHANGE-FREE. (The r13 shape unioned a (u, cur, 0) marker row
        // into this fold — which erased the union's partitioning
        // advertisement and re-exchanged the E-row candidate set up to
        // three times per round, 258 MB for the 4-round query at sf0.1.)
        val active = if (weighted)
          und.where(col("u") =!= col("v") && parityOf(col("u")) === lit(par))
        else und.where(parityOf(col("u")) === lit(par))
        val folded = active
          .join(st.select(col("vid").as("__v"), col("community")),
            col("v") === col("__v"))
          .select(col("u"), col("community"),
            (if (weighted) col("w") else lit(1L)).as("wn"))
          .groupBy(col("u"), col("community")).agg(sum(col("wn")).as("w"))
        // candidate structs (gain, prefer-current-on-tie, smallest
        // community): the neighbor candidates from the fold, UNIONED with
        // one synthetic zero-weight current-community candidate per
        // ACTIVE state row — which both keeps `cur` a candidate when no
        // neighbor shares it AND keeps a self-loop-only super-vertex (no
        // u≠v rows at all on a contracted graph) in the state. When
        // (u, cur) also has fold weight, its w>0 struct strictly
        // dominates the synthetic one, so values are identical to the
        // r13 summed-marker shape. The union is the round's ONE exchange:
        // candidate-pair-sized argmax input, narrow rows.
        val stGain = st.select(col("vid").as("__u"), col("community").as("cur"),
          col("k"))
        val cand = folded
          .join(stGain, col("u") === col("__u"))
          .join(vol, Seq("community"))
          .select(col("u"), col("k"),
            struct(
              (lit(twoM).cast("decimal(38,0)") * col("w") -
                col("k").cast("decimal(38,0)") *
                  (col("vol") - when(col("community") === col("cur"), col("k"))
                    .otherwise(lit(0L)))).as("gain"),
              when(col("community") === col("cur"), 1L).otherwise(0L).as("is_cur"),
              (-col("community")).as("negc")).as("s"))
          .unionAll(state.where(parityOf(col("vid")) === lit(par))
            .join(vol, Seq("community"))
            .select(col("vid").as("u"), col("k"),
              struct(
                (lit(twoM).cast("decimal(38,0)") * lit(0L) -
                  col("k").cast("decimal(38,0)") *
                    (col("vol") - col("k"))).as("gain"),
                lit(1L).as("is_cur"),
                (-col("community")).as("negc")).as("s")))
        cand.groupBy(col("u"))
          .agg(max(col("s")).as("m"), max(col("k")).as("k"))
          .select(col("u").as("vid"), (-col("m.negc")).as("community"), col("k"))
      } else if (i == 1) {
        // IDENTITY shortcut: round 1 always starts from the all-singleton
        // state, where the neighbor-state join is a tautology —
        // community(v) = v and vol(C=v) = k_v, both already ON the pin.
        // Distinct (u, v) rows mean w(u→C) needs no (u, community)
        // pre-aggregation either, so the round is ONE argmax over the
        // pinned rows: no stv join, no vol exchange, no pair fold.
        //
        // EXCHANGE-FREE via the symmetry swap (r15): undV's CONTENT is
        // symmetric (the doubled distinct adjacency with both endpoint
        // degrees attached), so renaming u↔v and k↔kv yields the SAME
        // row set — but partitioned by hash of the NEW u column, because
        // the pin's hash(v) advertisement rewrites through the aliases.
        // The per-u argmax therefore rides the existing pin with zero
        // exchange, where the r14 shape (argmax over the un-swapped
        // rows, unioned with a synthetic self candidate that erased the
        // partitioning) exchanged the full E/2-row candidate set — the
        // single largest fixed exchange in the fallback's byte story
        // (sf10: the 4-round fallback paid it twice across levels).
        // The synthetic self candidate is replaced by the value-identical
        // post-argmax choice: a neighbor wins iff its gain is strictly
        // positive (at gain = 0 the old struct compare broke the tie
        // toward is_cur = 1, i.e. stay), ties among neighbors still to
        // the smallest community id; active vertices with NO u≠v rows
        // (self-loop-only super-vertices on contracted graphs) are kept
        // by the V-sized left-outer join with the state — candidate
        // bytes for them coalesce back to the singleton community.
        val swapCols = Seq(col("v").as("u"), col("u").as("v")) ++
          (if (weighted) Seq(col("w")) else Nil) ++
          Seq(col("kv").as("k"), col("k").as("kv"))
        val undU = undV.select(swapCols: _*)
        val active = if (weighted)
          undU.where(col("u") =!= col("v") && parityOf(col("u")) === lit(par))
        else undU.where(parityOf(col("u")) === lit(par))
        val best = active
          .groupBy(col("u"))
          .agg(max(struct(
            (lit(twoM).cast("decimal(38,0)") *
              (if (weighted) col("w") else lit(1L)) -
              col("k").cast("decimal(38,0)") * col("kv")).as("gain"),
            (-col("v")).as("negc"))).as("m"))
          .select(col("u").as("vid"),
            when(col("m.gain") > lit(0L).cast("decimal(38,0)"),
              -col("m.negc")).otherwise(col("u")).as("__bc"))
        state.where(parityOf(col("vid")) === lit(par))
          .join(best, Seq("vid"), "left_outer")
          .select(col("vid"),
            coalesce(col("__bc"), col("community")).as("community"), col("k"))
      } else {
        // State-only-exchange plan, value-identical to the broadcast
        // branch. The round's ONE candidate exchange is keyed by u — an
        // explicit repartition of the RAW candidate rows — so the
        // (u, community) fold, the per-u argmax AND the state join all
        // ride it exchange-free. (The r15 shape let the fold key its
        // exchange by (u, community), which satisfies no per-u
        // clustering: the argmax paid a SECOND candidate-scale exchange
        // of its partials, and every fold row carried k_u, a 16-byte
        // DECIMAL volume and an is_cur marker across the wire —
        // measured at sf0.1 fallback: 54 MB/round → 21 MB/round.)
        // Community volumes ride as LONG: vol(C) = Σ k ≤ 2m, and 2m is
        // a Long by construction, so the sum cannot overflow — the cast
        // to DECIMAL happens in the gain on the same exact value. k_u
        // and is_cur are re-attached AFTER the fold from the V-row
        // state (one row per vid: k is the constant the fold's max(k)
        // used to carry; is_cur ⇔ candidate community = u's current
        // community, exactly the group the union's zero-weight self row
        // guarantees is present). State-side joins hint SHUFFLE_HASH:
        // V rows against the pinned E-row stream, and an SMJ would
        // re-SORT the pin every round.
        val vol = state.groupBy(col("community"))
          .agg(sum(col("k")).as("vol"))
        val stv = state.join(vol.hint("shuffle_hash"), Seq("community"))
        val active = if (weighted)
          undV.where(col("u") =!= col("v") && parityOf(col("u")) === lit(par))
        else undV.where(parityOf(col("u")) === lit(par))
        val cand = active
          .join(stv.select(col("vid").as("__v"), col("community"), col("vol"))
            .hint("shuffle_hash"), col("v") === col("__v"))
          .select(col("u"), col("community"),
            (if (weighted) col("w") else lit(1L)).as("wn"), col("vol"))
          .unionAll(stv.where(parityOf(col("vid")) === lit(par))
            .select(col("vid").as("u"), col("community"), lit(0L).as("wn"),
              col("vol")))
        repartitionSized(cand, volumePartsOpt(und.sparkSession, twoM), col("u"))
          .groupBy(col("u"), col("community"))
          .agg(sum(col("wn")).as("w"), max(col("vol")).as("vol"))
          .join(state.select(col("vid").as("__u"),
            col("community").as("cur"), col("k")).hint("shuffle_hash"),
            col("u") === col("__u"))
          .select(col("u"), col("community"), col("k"),
            (lit(twoM).cast("decimal(38,0)") * col("w") -
              col("k").cast("decimal(38,0)") *
                (col("vol").cast("decimal(38,0)") -
                  when(col("community") === col("cur"), col("k"))
                    .otherwise(lit(0L)))).as("gain"),
            when(col("community") === col("cur"), lit(1L))
              .otherwise(lit(0L)).as("is_cur"))
          .groupBy(col("u"))
          .agg(max(struct(col("gain"), col("is_cur"),
            (-col("community")).as("negc"))).as("m"), max(col("k")).as("k"))
          .select(col("u").as("vid"), (-col("m.negc")).as("community"), col("k"))
      }
      val next = moved.unionAll(
        state.where(parityOf(col("vid")) =!= lit(par)))
      // EVERY round checkpoints eagerly (r16; was every other round):
      // the next round broadcasts several V-sized projections of this
      // state (st, vol, stv) whose subquery builds materialize
      // CONCURRENTLY — with an un-truncated lineage each racing build
      // re-derived the round's full E-row candidate fold before the
      // exchange-reuse map could register it, measured as 3-10× CPU on
      // byte-identical stages (the r14/r15 "contention" spreads:
      // g_modularity 12.9-142.7 s across identical-plan runs; after the
      // cadence change 13-19 s). The checkpoint itself is V-sized — the
      // cost the old cadence saved is noise next to one duplicated fold.
      state = next.localCheckpoint(true)
    }
    // the final round's state is eagerly checkpointed above, so the
    // fallback's second adjacency pin can be released immediately
    if (undV != null) undV.unpersist(blocking = false)
    state
  }

  /** Global modularity Q of a (vid, community) assignment over `edges` —
    * the quality statistic the local moves above optimize:
    * `Q = Σ_C [in(C)/(2m) − (vol(C)/(2m))²]` with in(C) counting edge
    * ENDS inside C (the doubled-list convention, so a fully-internal
    * community of 3 edges contributes in = 6). Both sums are exact
    * DECIMAL folds of integers; the returned double is
    * `round(q_num/q_den, 6)` — two correctly-rounded integer→double
    * casts and one IEEE division on identical exact inputs in either
    * engine (the assortativity technique, AnalyticsQueries.scala). */
  def modularityScore(edges: DataFrame, labels: DataFrame,
      srcCol: String = "src", dstCol: String = "dst",
      vidCol: String = "vid", communityCol: String = "community"): DataFrame = {
    val e = edges.select(col(srcCol).as("u"), col(dstCol).as("v"))
      .where(col("u") =!= col("v"))
    // two-phase pin (heap-budgeted): the doubled distinct list's row
    // count is unknowable before the dedup materializes, and nothing
    // downstream needs its partitioning — the ends join is a guarded
    // label broadcast and the per-community agg re-keys on cu anyway
    val (und, _) = persistPinnedTwoPhase(
      e.unionAll(e.select(col("v").as("u"), col("u").as("v")))
        .dropDuplicates("u", "v"))
    val lblBase = labels.select(col(vidCol).as("vid"), col(communityCol).as("c"))
      .localCheckpoint(true)
    val lbl = if (lblBase.count() <= maxBroadcastVerticesDyn) broadcast(lblBase)
      else lblBase
    val ends = und
      .join(lbl.select(col("vid").as("__a"), col("c").as("cu")), col("u") === col("__a"))
      .join(lbl.select(col("vid").as("__b"), col("c").as("cv")), col("v") === col("__b"))
      .select(col("u"), col("cu"), col("cv"))
    // per-community (vol, in): vol counts u's edge ends, in the subset
    // landing inside u's own community — one pass over the doubled list.
    val perC = ends.groupBy(col("cu"))
      .agg(count(lit(1)).cast("decimal(38,0)").as("vol"),
        sum(when(col("cu") === col("cv"), 1L).otherwise(0L))
          .cast("decimal(38,0)").as("in_c"))
    val sums = perC.agg(count(lit(1)).as("n_communities"),
      sum(col("vol")).as("two_m"),
      sum(col("in_c")).as("in_sum"),
      sum(col("vol") * col("vol")).as("vol_sq"))
    und.unpersist(blocking = false)
    // q_num = 2m·Σin − Σvol²; q_den = (2m)² — exact decimals until the
    // final two casts + one division + round.
    sums.select(col("n_communities"),
      round((col("two_m") * col("in_sum") - col("vol_sq")).cast("double") /
        (col("two_m") * col("two_m")).cast("double"), 6).as("modularity"))
  }

  /** HITS hubs-and-authorities (Kleinberg 1999, JACM 46(5)) in the same
    * bit-reproducible fixed-point integer arithmetic as
    * [[pageRankQuantizedDF]]: per round, hub(u) = Σ authority(v) over
    * u→v, then authority(v) = Σ hub(u) over u→v, each half-update
    * L1-NORMALIZED back to total mass Micro·n via exact integral
    * division (Kleinberg normalizes by L2; L1 keeps every intermediate
    * an integer, so the whole loop — normalizers included — replays as
    * chained CTEs in a SQL oracle; the eigenvector direction is the
    * same). Scores absent from a side are exactly 0 (no out-edges → no
    * hub mass; no in-edges → no authority mass) — the inner join IS the
    * +0 contribution, so the loop stays sparse.
    *
    * Runs on [[RankLoop]] as two lanes over one vertex set: the hub
    * half over a `hash(src)` edge cache, the authority half over the
    * `hash(dst)` one, so under the broadcast guard neither half runs an
    * exchange. Mass accounting: the E-row in-sums run in BIGINT (a raw
    * sum is bounded by the side's total L1 mass Micro·n); the normalizer
    * total (≤ Micro·n·max_deg) and the rescaling product raw·Micro·n can
    * pass 2⁶³, so both run in DECIMAL(38,0) over V rows. DuckDB sums
    * BIGINT into HUGEINT natively, so the oracle's integers are
    * unchanged. */
  def hitsDF(edges: DataFrame, numIter: Int = 5,
      srcCol: String = "src", dstCol: String = "dst"): DataFrame =
    RankLoop.hits(endpoints(edges, srcCol, dstCol), numIter)

  /** The (src, dst) columns a [[RankLoop]] operator reads. */
  private def endpoints(edges: DataFrame, srcCol: String, dstCol: String): DataFrame =
    edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))

  /** KATZ centrality (Katz 1953) in the family's bit-reproducible
    * fixed-point integer arithmetic: x_i(v) = β + α·Σ_{u→v} x_{i−1}(u),
    * truncated after `numIter` rounds — the attenuated count of ALL
    * in-walks, where PageRank's out-degree normalization is deliberately
    * absent (a link from a prolific hub counts fully; the
    * link-prediction/influence form of centrality). β is one micro-unit
    * (10⁶) and α the exact rational 1/`atten`, applied as integral
    * division of the in-sum (`div` ≡ DuckDB `//` on the non-negative
    * values here), so every intermediate is an integer and the fixed
    * rounds replay as chained CTEs in the oracle. Convergence contract:
    * the series is meaningful for α < 1/λ_max (the usual Katz
    * requirement); within it, per-vertex scores are bounded by
    * β/(1−αλ_max)·O(1) micro-units and the E-row in-sums run in plain
    * BIGINT ([[hitsDF]]'s mass-accounting argument — overflow needs a
    * hub absorbing > 9.2·10¹² micro-units, i.e. a graph far past the
    * contract's growth bound). Runs on [[RankLoop]], on its driver
    * backend under [[LocalGraph.EdgeCap]] edge rows: a vertex with no
    * in-edges has x ≡ β exactly, which is the lane's absent-vertex
    * default. */
  def katzCentralityDF(edges: DataFrame, numIter: Int = 6, atten: Long = 4L,
      srcCol: String = "src", dstCol: String = "dst"): DataFrame = {
    require(atten >= 2, s"attenuation divisor must be >= 2, got $atten")
    RankLoop.katz(endpoints(edges, srcCol, dstCol), numIter, atten)
  }

  /** WEIGHTED PageRank in the same bit-reproducible fixed-point integer
    * arithmetic as [[pageRankQuantizedDF]]: vertex u distributes its rank
    * proportionally to integral edge weights — the contribution along
    * u→v is `rank(u) · w(u,v) div Σw(u,·)` (exact integral truncation,
    * identical in Spark's `div` and DuckDB's `//`), so citation/affinity
    * strength steers the walk instead of uniform out-degree. Parallel
    * edges pre-collapse by SUMMING weights (a doubled edge is twice the
    * affinity — contrast [[ssspDistances]], where parallel edges collapse
    * to MIN cost). Weights must be ≥ 1: a source whose weights summed to
    * 0 would divide by zero, so an edge with w < 1 fails the query with
    * an error naming it. The per-edge product `rank · w` must fit
    * BIGINT: rank mass concentrates to at most n·10⁶ micro-units, so
    * integral weights up to ~10⁴ leave headroom past 10⁸ vertices; the
    * weight table is the caller's contract (weights are
    * per-relationship-TYPE here, schema-sized). Runs on [[RankLoop]]:
    * on its driver backend under [[LocalGraph.EdgeCap]] collapsed edge
    * pairs, past that distributed with the guard width-scaled to 4: the
    * weight sums and the ranks are two V-row broadcast families live at
    * once. */
  def pageRankWeightedDF(edges: DataFrame, numIter: Int = 10, resetProb: Double = 0.15,
      srcCol: String = "src", dstCol: String = "dst", weightCol: String = "w"): DataFrame = {
    val w = col(weightCol).cast("long")
    // raise_error stays inside codegen: no extra job
    val checked = when(w < 1, raise_error(concat(
      lit("pageRankWeightedDF needs edge weights >= 1; edge "), col(srcCol).cast("string"),
      lit(" -> "), col(dstCol).cast("string"), lit(" has w = "), w.cast("string"))))
      .otherwise(w)
    RankLoop.weighted(edges.select(col(srcCol).as("src"), col(dstCol).as("dst"),
      checked.as("w")), numIter, resetProb)
  }

  /** Link-prediction feature table (Liben-Nowell & Kleinberg 2003) over
    * an undirected graph: for each ANCHOR vertex, every 2-hop candidate
    * with the classic neighborhood features — common-neighbor count,
    * Jaccard |N(a)∩N(b)| / |N(a)∪N(b)|, Adamic-Adar Σ_w 1/ln(deg w) —
    * plus an `is_edge` label column, which makes the output directly a
    * training table (positives = existing edges, negatives = 2-hop
    * non-edges). Top `topPerVertex` candidates per anchor by
    * (jaccard, id). Features are EXACT over the full graph; only the
    * anchor set scopes which rows come out.
    *
    * The anchor set is the scale lever: all-pairs features on a dense
    * graph are inherently Σ deg(w)² wedges (measured: the TPC-H part
    * co-occurrence graph at sf0.1 has median degree 116 → 285M wedges,
    * 1.5 GB of shuffle for ~10⁵ interesting rows), while the deployment
    * shape — score candidates for a cohort — prunes the wedge join's
    * LEFT side to the anchors before it runs: Σ_{a∈A} deg(a)·d̄ wedge
    * rows. `anchors = None` keeps every vertex (output then lists each
    * pair once per side, its per-anchor candidate list).
    *
    * Plan shape (anchored, the deployment case): the doubled edge list
    * stages through ONE hash(u) repartition (dedup + degree aggregation
    * ride it exchange-free — the [[labelPropagationDF]] staging recipe;
    * persist, not checkpoint, so the partitioning survives), and the
    * wedge join STREAMS that pinned adjacency while broadcasting the
    * anchor-pruned (a, w) side — so the `groupBy(a, b)` feature
    * aggregation inherits hash(b) (b ∈ {a, b} satisfies its clustering)
    * and the entire wedge → features pipeline runs ZERO exchanges
    * beyond staging. The is_edge probe is pruned to anchor rows before
    * its join (its a-values are anchor-bounded by construction), so the
    * E-row edge list never shuffles on (a, b) either — at sf1 the
    * unpruned form moved 2 GB for a ~10⁵-row output. Both broadcasts
    * are count-guarded (Σ_{a∈A} deg(a) rows); past the guard, or
    * unanchored, the join degrades to the shuffle plan. Degrees join in
    * vertex-sized under the [[MaxBroadcastVertices]] guard.
    * Cross-engine exactness: Jaccard is one rounded IEEE
    * division of integers; Adamic-Adar quantizes each 1/ln(deg) term
    * to 6dp and sums DECIMAL (order-independent — a raw double Σ would
    * never reproduce), the [[TextAnalysis.unigramLogprob]] recipe.
    * Ranking compares the ROUNDED jaccard, ties broken by id. */
  /** @param maxBroadcast broadcast-feasibility ceiling for the degree
    * table and the anchored wedge/probe sides — defaults to
    * [[MaxBroadcastVertices]]; tests inject 0 to pin the
    * forced-shuffle path's agreement.
    * @param stagingRowsHint cheap upper bound on the doubled staging
    * volume (e.g. 4 × the source fact-table rows when `coEdges` is a
    * bounded-group co-occurrence projection). Spares the gate an exact
    * count of an EXPENSIVE pair-join lineage; None counts `coEdges`. */
  def linkFeatures(coEdges: DataFrame, aCol: String, bCol: String,
      topPerVertex: Int = 5, minCommon: Int = 2,
      anchors: Option[DataFrame] = None,
      maxBroadcast: Long = maxBroadcastVerticesDyn,
      stagingRowsHint: Option[Long] = None): DataFrame = {
    // Volume-GATED staging ([[volumeStage]]): small inputs checkpoint —
    // which also materializes the caller's co-occurrence lineage ONCE
    // before the doubled union consumes it twice — and size the hash(u)
    // partitions the whole wedge enumeration streams through; at scale
    // the bare baseline shape ships, with no pinned checkpoint.
    val e = coEdges.select(col(aCol).cast("long").as("u"), col(bCol).cast("long").as("v"))
    val undRowsBound = stagingRowsHint.getOrElse(2 * e.count())
    val (eSrc, undParts) = volumeStage(e, undRowsBound)
    val und = persistPinned(repartitionSized(
        eSrc.unionAll(eSrc.select(col("v").as("u"), col("u").as("v"))),
        undParts, col("u"))
      .dropDuplicates("u", "v"), undRowsBound)
    // degree agg rides hash(u); checkpointed so its three broadcast
    // consumers and the guard count read V cached rows instead of
    // re-aggregating the adjacency. Its row count IS the vertex count.
    val degTable = und.groupBy("u").agg(count(lit(1)).as("deg")).localCheckpoint(true)
    // guarded broadcast: the vertex-sized degree table outgrows the
    // planner's auto-broadcast threshold with V and silently became a
    // two-sided shuffle join in the sf1 bench
    val deg = if (degTable.count() <= maxBroadcast) broadcast(degTable) else degTable
    val awAll = und.select(col("u").as("a"), col("v").as("w"))
    val ancIds = anchors.map { anc =>
      broadcast(anc.select(col(anc.columns.head).cast("long").as("__anchor")))
    }
    val aw = ancIds.fold(awAll) { ids =>
      awAll.join(ids, col("a") === col("__anchor"), "left_semi")
    }
    // Σ_{a∈A} deg(a) bounds BOTH broadcast sides below (aw and the
    // pruned is_edge probe are each "und rows whose u is an anchor").
    // anchors.isDefined is part of the gate (not just a sentinel row
    // count): without anchors, aw IS the full E-row adjacency, and no
    // maxBroadcast override may broadcast it. The ceiling is halved per
    // extra payload column — MaxBroadcastVertices is calibrated for
    // 2-column (vid, value) rows, and aw/edgeFlagPruned carry 3.
    val anchorRows = if (anchors.isDefined) aw.count() else Long.MaxValue
    val useAnchorBroadcast = anchors.isDefined && anchorRows <= maxBroadcastRows(maxBroadcast, 3)
    val bw = und.select(col("u").as("b"), col("v").as("w2"))
    // streamed side is the pinned hash(u)=hash(b) adjacency; broadcast
    // joins preserve it, so the feature groupBy below never exchanges
    val wedges = (if (useAnchorBroadcast)
        bw.join(broadcast(aw), col("w") === col("w2") && col("a") =!= col("b"))
      else
        aw.join(bw, col("w") === col("w2") && col("a") =!= col("b")))
      .join(deg.select(col("u").as("w"), col("deg").as("deg_w")), Seq("w"))
    // deg_w >= 2 always: w is a common neighbor of a and b, so ln > 0
    val pairs = wedges.groupBy("a", "b").agg(
      count(lit(1)).as("n_common"),
      sum(round(lit(1.0) / log(col("deg_w").cast("double")), 6)
        .cast("decimal(18,6)")).as("aa_sum"))
    // is_edge probe: every surviving pair has a ∈ anchors, so pruning
    // the probe to anchor rows changes nothing — and makes it
    // broadcast-sized instead of an E-row (a, b) shuffle
    val edgeFlagAll = und.select(col("u").as("a"), col("v").as("b"), lit(1L).as("__ise"))
    val edgeFlagPruned = ancIds.fold(edgeFlagAll) { ids =>
      edgeFlagAll.join(ids, col("a") === col("__anchor"), "left_semi")
    }
    val edgeFlag = if (useAnchorBroadcast) broadcast(edgeFlagPruned) else edgeFlagPruned
    val feat = pairs
      .join(deg.select(col("u").as("a"), col("deg").as("deg_a")), Seq("a"))
      .join(deg.select(col("u").as("b"), col("deg").as("deg_b")), Seq("b"))
      .join(edgeFlag, Seq("a", "b"), "left_outer")
      .where(col("n_common") >= minCommon)
      .select(col("a"), col("b"), col("n_common"),
        round(col("n_common").cast("double")
          / (col("deg_a") + col("deg_b") - col("n_common")).cast("double"), 6).as("jaccard"),
        col("aa_sum").cast("double").as("adamic_adar"),
        coalesce(col("__ise"), lit(0L)).as("is_edge"))
    val out = TopK.perKey(feat, keyCol = "a", ordCol = "jaccard",
      k = topPerVertex, tieBreak = Seq("b")).localCheckpoint(true)
    und.unpersist(blocking = false)
    out
  }

  /** PageRank in FIXED-POINT integer arithmetic — GraphX semantics
    * (rank₀ = 1, rankᵢ = resetProb + (1−resetProb)·Σ in-contributions,
    * dangling mass not redistributed) as a DataFrame join-agg loop, with
    * ranks in micro-units (rank × 10⁶) as BIGINT, contributions in
    * integral division by the out-degree, and damping as the exact
    * rational (10⁶ − resetMicro)/10⁶ applied as multiply-then-integer-
    * divide. Every operation is integer → the result is
    * bit-reproducible across partitionings, engines, and reruns, which
    * no floating-point formulation achieves (even per-round round(x, s)
    * quantization diverges cross-engine: thousands of summed roundings
    * per hub vertex amplify the ulp gap between DuckDB's multiply-divide
    * round() and Spark's BigDecimal rounding — measured at 1e-6..1e-5 on
    * hub ranks). Deviation from true PageRank is ≤1e-6·deg per vertex
    * per round (floor bias) — irrelevant for ranking, and the fixed
    * round count replays as chained CTEs in the DuckDB oracle.
    * Headroom: the E-row in-sums run in BIGINT — a vertex's in-sum is
    * bounded by the total rank mass, n·10⁶ micro-units, so overflow
    * needs n > 9.2·10¹² vertices. Only the V-row damping product, which
    * adds six digits and passes 2⁶³ past ~10⁷ vertices, runs in
    * DECIMAL(38,0); the final per-vertex rank is back in BIGINT
    * micro-units. DuckDB sums integers in HUGEINT, so both engines
    * compute the identical exact integers. Runs on [[RankLoop]]: the
    * out-degree is the per-source payload, and a vertex nothing points
    * at has rank exactly resetMicro, the absent-vertex default. Under
    * [[LocalGraph.EdgeCap]] edge rows the rounds run on its driver
    * backend: one collect of the edge pin, no shuffle. */
  def pageRankQuantizedDF(edges: DataFrame, numIter: Int = 10, resetProb: Double = 0.15,
      srcCol: String = "src", dstCol: String = "dst"): DataFrame =
    RankLoop.pageRank(endpoints(edges, srcCol, dstCol), numIter, resetProb)

  /** PERSONALIZED PageRank (topic-sensitive, Haveliwala 2002): teleport
    * mass returns only to the `sources` set instead of every vertex —
    * ranks measure proximity/importance RELATIVE to the sources, the
    * recommendation/feature form of PageRank. Same fixed-point integer
    * arithmetic as [[pageRankQuantizedDF]] (micro-unit BIGINT ranks and
    * in-sums, decimal only at the V-row damping multiply, integral
    * damping — bit-reproducible, chained-CTE-oracleable) with two
    * differences: the initial mass is 10⁶
    * micro-units PER SOURCE (unnormalized — relative ranks are identical
    * to the 1/|S| form and stay integer-exact), and the per-round rank
    * table is SPARSE over vertices reached from the sources: absent
    * vertices have rank exactly 0, so the loop's size is reach-bounded,
    * not graph-bounded (the whole point of PPR at 100 TB). Rank rows
    * with value 0 (damped-to-zero trickle) are retained — dropping them
    * would change nothing downstream but cost a filter; the OUTPUT keeps
    * only reached vertices (absent = 0), mirroring [[bfsDistances]].
    * Runs on [[RankLoop]] with the sources as its seed. */
  def personalizedPageRankDF(edges: DataFrame, sources: DataFrame,
      numIter: Int = 10, resetProb: Double = 0.15,
      srcCol: String = "src", dstCol: String = "dst"): DataFrame =
    RankLoop.personalized(endpoints(edges, srcCol, dstCol), sources, numIter, resetProb)

  /** Multi-source BFS hop distances: the minimum number of hops from any
    * source vertex — round i sets d(v) = min(d(v), min over edges u→v of
    * d(u)+1), executed as FRONTIER rounds (see [[ssspDistances]]): for
    * unit weights a settled vertex never improves, so the frontier is
    * exactly the newly-reached wavefront and each round joins only its
    * out-edges — classic distributed BFS, with per-round results
    * bit-identical to the dense relaxation (so the FIXED round count
    * still replays verbatim as chained CTEs in a SQL oracle, exactly
    * like the star-CC and LPA loops; a round at the fixpoint is the
    * identity). Unreached vertices are absent from the output (no
    * sentinel).
    *
    * `sources` is a single-column DataFrame of vertex ids. */
  def bfsDistances(edges: DataFrame, sources: DataFrame, maxHops: Int,
      srcCol: String = "src", dstCol: String = "dst",
      undirected: Boolean = true): DataFrame =
    ssspDistancesWithStats(edges.withColumn("__unit_w", lit(1L)), sources,
      maxHops, srcCol, dstCol, weightCol = "__unit_w", undirected,
      collectStats = false, unitWeight = true)._1

  /** Single/multi-source WEIGHTED shortest paths — Bellman-Ford
    * relaxation over integral edge weights: round i sets
    * d(v) = min(d(v), min over edges u→v of d(u) + w(u,v)). The same
    * fixed-round relaxation semantics as [[bfsDistances]], with two
    * differences: edges carry a weight column, and `rounds` must cover
    * the maximum EDGE COUNT of any shortest path — a weighted shortest
    * path may take more hops than the hop-shortest one when a longer
    * detour is cheaper, so callers give a generous count and the
    * oracle's convergence sentinel (round N ≡ round N−1) reports
    * under-provisioning instead of letting a wrong fixpoint slip
    * through. Weights must be non-negative integers (BIGINT math is
    * engine-exact; negative cycles would make the problem ill-posed
    * here). Undirected mode relaxes both directions with the same
    * weight.
    *
    * FRONTIER rounds (the [[coreness]] insight): only a vertex whose
    * distance IMPROVED in round r−1 can improve a neighbor in round r —
    * an unchanged vertex's message d(u)+w was already sent and absorbed
    * the round u last changed, so round r's relaxation over the frontier
    * alone produces the SAME per-round distance table as the dense
    * textbook form, and the chained-CTE SQL oracle replaying dense
    * rounds still meets the hashes. The state is DENSE-INIT (all
    * vertices from round 0, NULL = unreached, a `fresh` flag marking the
    * frontier) so the merge is a left-outer BroadcastHashJoin streaming
    * the state — see [[ssspDistancesWithStats]] for the plan-shape
    * argument. Each round costs three jobs (two broadcast builds + the
    * frontier count, which doubles as the empty-frontier short-circuit —
    * a fixpoint round is the identity, so stopping early is exact) and
    * exchanges nothing in broadcast mode. */
  /** @param broadcastDist physical strategy switch, the
    * [[labelPropagationDF]] trade applied to relaxation: `true` (default)
    * pins the weighted edge list hash-partitioned by the message key `v`
    * (persist — safe here because the edge list is STATIC; the evolving
    * state must localCheckpoint instead, see the in-code comment) and
    * broadcasts the FRONTIER each round: the edge join is a
    * BroadcastHashJoin that never shuffles the edge list, the
    * min-combine aggregation runs IN PLACE on the v-partitioned stream
    * side, and the distance merge broadcasts the relaxed messages
    * against the streamed state — ZERO per-round exchange (the r9
    * dense-broadcast shape measured 71 MB / 8.3 s on the unified sf0.1
    * graph vs 490 MB naive AND still re-shuffled two vertex-sized
    * tables per round in its full-outer merge; this form shrinks the
    * broadcasts to frontier/wavefront size and the per-round exchange
    * to zero). Past [[MaxBroadcastVertices]] the guard routes to
    * shuffle joins — same frontier logic, map-side combine defending
    * the wire. Identical distances both modes — integer math is
    * partitioning-independent. */
  def ssspDistances(edges: DataFrame, sources: DataFrame, rounds: Int,
      srcCol: String = "src", dstCol: String = "dst", weightCol: String = "w",
      undirected: Boolean = true, broadcastDist: Boolean = true): DataFrame =
    ssspDistancesWithStats(edges, sources, rounds, srcCol, dstCol, weightCol,
      undirected, broadcastDist, collectStats = false)._1

  /** [[ssspDistances]] plus the per-round frontier sizes (|improved|
    * after each executed round) — spec hook proving per-round work
    * tracks the improved set. Rounds short-circuit once a frontier
    * empties, so the returned list may be shorter than `rounds`. */
  private[graft] def ssspDistancesWithStats(edges: DataFrame, sources: DataFrame,
      rounds: Int, srcCol: String = "src", dstCol: String = "dst",
      weightCol: String = "w", undirected: Boolean = true,
      broadcastDist: Boolean = true,
      collectStats: Boolean = true,
      unitWeight: Boolean = false,
      localStateCap: Long = LocalGraph.EdgeCap): (DataFrame, Seq[Long]) = {
    require(rounds >= 0, "rounds must be >= 0")
    import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val e0 = edges.select(col(srcCol).as("u"), col(dstCol).as("v"),
      col(weightCol).cast("long").as("w"))
      .where(col("u") =!= col("v"))
    // parallel edges collapse to their min weight up front — fewer rows
    // in every round's join, identical distances
    // ONE shuffle stages the edge list: repartition by the message key v
    // FIRST, then the parallel-edge min-collapse groupBy runs exchange-
    // free on top (HashPartitioning(v) satisfies the (u, v) clustering)
    // and the result is ALREADY pinned for the rounds — the r9 shape
    // (dedup-shuffle + eager checkpoint + repartition-shuffle) moved the
    // full edge list twice, 13 s of the sf1 wall-clock.
    // The staging exchange is volume-GATED ([[volumeStage]]; the count
    // is a cheap column-pruned scan): every per-round stage rides this
    // partitioning, so at low SF the rounds launch volume-proportional
    // task counts; at scale the bare baseline shape ships unpinned.
    // unitWeight (the BFS case): the weight column is the CONSTANT 1 —
    // shipping it through the staging exchange wastes a third of the
    // bytes, and min-collapse degenerates to dedup, so stage bare
    // (u, v) pairs and attach the constant on the partitioned stream
    val eProj = if (unitWeight) e0.select(col("u"), col("v")) else e0
    // DRIVER-LOCAL bounded relaxation under the cap: every quantity in
    // this operator is exact integer min-plus — distances are long sums
    // of long weights folded with min, the frontier is "strictly
    // improved this round", and the round bound truncates identically —
    // so a synchronous replay over the [[LocalGraph]] is provably
    // bit-identical to the distributed rounds. Replaces ~3 jobs/round
    // (two broadcast builds + the materializing count) with ONE edge
    // read, its own size gate, and zero staging exchange. Past the cap
    // (or non-integral vids) the distributed loop runs;
    // `localStateCap = 0` forces it.
    LocalGraph.collect(eProj, localStateCap, undirected,
        weightCol = if (unitWeight) None else Some("w"),
        extraVids = Some(sources)) match {
      case Some(g) => return ssspLocalState(edges.sparkSession, g, rounds, collectStats)
      case None =>
    }
    val eRowsBound = (if (undirected) 2L else 1L) * eProj.count()
    val (eBase, eParts) = volumeStage(eProj, eRowsBound)
    val eRaw =
      if (!undirected) eBase
      else if (unitWeight) eBase.unionAll(eBase.select(col("v").as("u"), col("u").as("v")))
      else eBase.unionAll(eBase.select(col("v").as("u"), col("u").as("v"), col("w")))
    val e =
      if (unitWeight)
        persistPinned(repartitionSized(eRaw, eParts, col("v"))
          .dropDuplicates("u", "v")
          .withColumn("w", lit(1L)), eRowsBound)
      else persistPinned(repartitionSized(eRaw, eParts, col("v"))
        .groupBy("u", "v").agg(min(col("w")).as("w")), eRowsBound)
    val src = sources.select(col(sources.columns.head).as("vid")).distinct()
    // DENSE-INIT state: every vertex that can ever hold a distance is a
    // row from round 0 (dist NULL = unreached, `fresh` marking the
    // frontier). With all keys present up front the per-round merge is
    // a LEFT OUTER join with the state as the STREAM side and the
    // frontier-neighborhood-sized relaxed messages broadcast — a
    // BroadcastHashJoin puts no distribution requirement on the stream,
    // so the state needs no partitioning pin and can be
    // localCheckpoint-ed every round. The checkpoint is load-bearing:
    // persist alone leaves each round's cached plan OBJECT nesting the
    // previous round's (measured ~4× plan-size growth per round — the
    // driver, not the executors, becomes the bottleneck); the
    // checkpoint's LogicalRDD truncates lineage so every round's plan
    // is the same flat shape.
    // undirected edge lists carry both directions, so the u-side alone
    // covers every endpoint — skip the v union (halves the distinct's
    // input); directed graphs need both (a pure sink appears only as v).
    // The first scan of the cached e happens here, so the staged edge
    // list materializes as a side effect of computing the vertex set.
    val endpoints =
      if (undirected) e.select(col("u").as("vid"))
      else e.select(col("u").as("vid")).unionAll(e.select(col("v").as("vid")))
    val verts = endpoints.unionAll(src).distinct().localCheckpoint(true)
    val nVerts = verts.count()
    // the frontier broadcast-joins into the v-pinned cache and the
    // min-combine runs in place — a round exchanges NOTHING. Past
    // MaxBroadcastVertices the guard falls back to shuffle joins
    // (frontier and messages exchange; map-side combine defends the
    // wire).
    val useBroadcast = broadcastDist && nVerts <= maxBroadcastVerticesDyn
    def maybeBroadcast(df: DataFrame): DataFrame =
      if (useBroadcast) broadcast(df) else df
    val d0 = src.withColumn("d0", lit(0L))
    var dist = verts
      .join(maybeBroadcast(d0), Seq("vid"), "left_outer")
      .select(col("vid"), col("d0").as("dist"), col("d0").isNotNull.as("fresh"))
      .localCheckpoint(true)
    val frontierSizes = scala.collection.mutable.ListBuffer.empty[Long]
    var moved = -1L // unknown before the first count
    var r = 0
    while (r < rounds && moved != 0L) {
      r += 1
      val frontier = dist.where(col("fresh")).select(col("vid"), col("dist"))
      val relaxed = e.join(maybeBroadcast(frontier), e("u") === frontier("vid"))
        .select(e("v").as("vid"), (col("dist") + col("w")).as("nd"))
        .groupBy("vid").agg(min(col("nd")).as("nd")) // in place on the v-pinned cache
      val merged = dist.join(maybeBroadcast(relaxed), Seq("vid"), "left_outer")
        .select(col("vid"),
          least(coalesce(col("dist"), col("nd")), coalesce(col("nd"), col("dist"))).as("dist"),
          (col("nd").isNotNull && (col("dist").isNull || col("nd") < col("dist"))).as("fresh"))
        .localCheckpoint(false)
      // the round's THREE jobs: two broadcast builds (frontier,
      // relaxed) and this count — the count is the materializing action
      // (it lands the lazy checkpoint) AND the empty-frontier
      // short-circuit (a fixpoint round is the identity, so stopping
      // early is exact)
      moved = merged.where(col("fresh")).count()
      dist = merged
      if (collectStats) frontierSizes += moved
    }
    val out = dist.where(col("dist").isNotNull)
      .select(col("vid"), col("dist")).localCheckpoint(true)
    e.unpersist(blocking = false)
    (out, frontierSizes.toSeq)
  }

  /** Full driver-side synchronous bounded relaxation over the
    * [[LocalGraph]] (unweighted means unit weights, the BFS case) —
    * zero per-round jobs, zero staging exchange. The recurrence is
    * exactly the distributed loop's: round i relaxes only the frontier
    * (vertices whose distance STRICTLY improved in round i−1),
    * candidate messages fold with min, the merge keeps the smaller of
    * old and candidate, and the loop stops at `rounds` or once a round
    * improves nothing — all long integer arithmetic, so the replay is
    * bit-identical. The returned frontier-size list matches the legacy
    * hook: one entry per EXECUTED round (a trailing 0 when the last
    * round converged). */
  private def ssspLocalState(spark: SparkSession, g: LocalGraph, rounds: Int,
      collectStats: Boolean): (DataFrame, Seq[Long]) = {
    import org.apache.spark.sql.types._
    val (nV, offsets, nbrs) = (g.numVertices, g.offsets, g.nbrs)
    val unitWeight = g.weights.isEmpty
    val w = g.weights.getOrElse(Array.emptyLongArray)
    val Unreached = Long.MaxValue
    val dist = Array.fill(nV)(Unreached)
    g.extra.foreach(dist(_) = 0L)
    var frontier: Array[Int] = g.extra
    val frontierSizes = scala.collection.mutable.ListBuffer.empty[Long]
    // synchronous: candidates read round-start distances only
    val nd = Array.fill(nV)(Unreached)
    var moved = -1L // unknown before the first round, as in the legacy loop
    var r = 0
    while (r < rounds && moved != 0L) {
      r += 1
      val touched = scala.collection.mutable.ArrayBuffer.empty[Int]
      frontier.foreach { u =>
        var j = offsets(u)
        while (j < offsets(u + 1)) {
          val v = nbrs(j)
          val c = dist(u) + (if (unitWeight) 1L else w(j))
          if (nd(v) == Unreached) touched += v
          if (c < nd(v)) nd(v) = c
          j += 1
        }
      }
      val improved = scala.collection.mutable.ArrayBuffer.empty[Int]
      touched.foreach { v =>
        if (nd(v) < dist(v)) { dist(v) = nd(v); improved += v }
        nd(v) = Unreached
      }
      frontier = improved.toArray
      moved = improved.size.toLong
      if (collectStats) frontierSizes += moved
    }
    val outSchema = StructType(Seq(StructField("vid", g.vidType),
      StructField("dist", LongType)))
    val reached = (0 until nV).filter(dist(_) != Unreached).toArray
    (org.apache.spark.sql.graft.DatasetBridge.arrayFrame(spark, outSchema,
      Seq(reached.map(g.vids), reached.map(dist))), frontierSizes.toList)
  }

  // ----------------------------------------------------- walk-family staging

  /** Frontier sizes up to this many rows round-trip through the driver
    * each step (collect → LocalRelation): the step's frontier broadcast
    * then builds driver-side with no extra job, and the frontier's vids
    * become an exact probe list pushed into the adjacency scan. Walk
    * frontiers are walk-count-sized (two/three longs per walk), so the
    * cap is a few MB of driver memory — the same metadata-sized,
    * size-gated localization class as the [[LocalGraph]] replays. */
  private[graft] val WalkFrontierCollectCap = 100000L

  /** Probe lists wider than this are not pushed into the parquet scan
    * (a many-thousands-wide In list costs more per row group than the
    * pruning saves); the step then degrades to the full vectorized
    * columnar pass — never to a cached-row re-scan. */
  private[graft] val WalkProbePruneCap = 2048

  /** Staging root for the walk adjacency: the `spark.graft.walkStageDir`
    * conf, else the JVM temp dir. On a real cluster the root MUST be a
    * shared filesystem (hdfs://, s3a://, NFS) — executors commit their
    * task files to this path, and a driver-local default would leave the
    * driver-side read seeing a partial table (r15 verdict #1); local
    * mode shares one FS, so the temp-dir default is safe there. */
  private[graft] def walkStageRoot(spark: SparkSession): String =
    spark.conf.getOption("spark.graft.walkStageDir")
      .getOrElse(System.getProperty("java.io.tmpdir"))

  /** Stage the doubled (u, v) walk adjacency ONCE per session per edge
    * input fingerprint ([[graft.cache.StageCache]]) as a sorted columnar
    * temp table: u-sorted within map partitions
    * (map-only — no exchange) with small row groups, so a pushed
    * frontier-In filter prunes at the parquet zone-map level and a walk
    * step reads O(frontier · deg) rows instead of re-scanning the full
    * corpus (the r14 `weak` #2: per-step full-list probes were 397 s at
    * sf10 for g_biased_walks on 0.18 MB shuffle). The 100 TB shape: one
    * E-linear staging write amortized over steps × queries, then every
    * probe is zone-map-pruned columnar I/O — the IVFADC cell-partitioned
    * probe recipe applied to adjacency. FILES, not blocks, so an
    * unpersist sweep cannot invalidate the stage, and the four
    * walk-family queries (random walks, biased walks, skip-gram, negative
    * samples), which all stage the SAME doubled edge list from the same
    * input, share one copy (the r14 verdict #3 finding: a private
    * per-query doubled-edge checkpoint was 150 s of g_negative_samples'
    * 229 s sf10 wall). The staging dir lives under [[walkStageRoot]] and
    * is written/removed through the Hadoop FS API, so a cluster-shared
    * root round-trips executor-committed files exactly like the local
    * default does. */
  private[graft] def stageWalkAdjacency(edges: DataFrame, srcCol: String,
      dstCol: String, undirected: Boolean)
      : (String, org.apache.spark.sql.types.StructType) = {
    val spark = edges.sparkSession
    val params = (srcCol, dstCol, undirected)
    StageCache.getOrCompute(spark, "walkAdjacency", params, edges) {
      val e0 = edges.select(col(srcCol).as("u"), col(dstCol).as("v"))
        .where(col("u") =!= col("v"))
      // deliberately NOT deduplicated (the long-standing walk-staging
      // argument): duplicate (u, v) rows yield bit-identical candidate
      // rows and the per-walk argmin/argmax ignores multiplicity, so a
      // distinct would be this family's only full edge exchange
      val doubled =
        if (undirected) e0.unionAll(e0.select(col("v").as("u"), col("u").as("v"))) else e0
      val dir = StageCache.stageDir(spark, walkStageRoot(spark), "graft_walk_adj")
      System.err.println(s"[walkstage] staging $params -> $dir")
      doubled.sortWithinPartitions("u")
        .write.mode("overwrite").option("parquet.block.size", 4 * 1024 * 1024)
        .parquet(dir)
      (dir, doubled.schema)
    }
  }

  /** Run `body` with `spark.sql.parquet.pushdown.inFilterThreshold`
    * raised to [[WalkProbePruneCap]], restoring the caller's value after:
    * the frontier probe list must reach the parquet reader as an exact
    * In filter — past the default threshold (10) Spark collapses it to a
    * min/max range spanning ~the whole label-encoded vid space — but the
    * setting must not leak into unrelated queries on the same session
    * (r15 verdict #4). The walk step loops drive every pruned probe
    * eagerly (collect per step), so scoping the conf around the loop
    * covers every scan that carries an In list. */
  private[graft] def withWalkProbePushdown[T](spark: SparkSession)(body: => T): T = {
    val k = "spark.sql.parquet.pushdown.inFilterThreshold"
    val prev = spark.conf.getOption(k)
    spark.conf.set(k, WalkProbePruneCap.toString)
    try body
    finally prev match {
      case Some(v) => spark.conf.set(k, v)
      case None => spark.conf.unset(k)
    }
  }

  /** Read the staged adjacency back, pruned to `probe` vids when the
    * list is narrow enough to push down (see [[WalkProbePruneCap]]). */
  private def walkAdjacencyScan(spark: SparkSession,
      staged: (String, org.apache.spark.sql.types.StructType),
      probe: Option[Seq[Any]]): DataFrame = {
    // explicit schema: an empty staged write may leave no data files,
    // and schema inference would fail where an empty scan is correct
    val base = spark.read.schema(staged._2).parquet(staged._1)
    probe match {
      case Some(vids) if vids.isEmpty => base.where(lit(false))
      case Some(vids) if vids.size <= WalkProbePruneCap =>
        base.where(col("u").isInCollection(vids))
      case _ => base
    }
  }

  /** Endpoint stream of the staged doubled adjacency (column u carries
    * src ∪ dst of every non-self-loop edge — each edge contributes its
    * two endpoints exactly once each, like the raw src ∪ dst union):
    * the walk queries derive their start cohorts and degree weights
    * from this one columnar scan instead of re-executing the unified
    * edge lineage once per rep on top of the staging itself.
    * Self-loop rows are excluded by the staging filter, so a caller
    * whose graph may hold self-loops must keep the raw stream — the
    * unified TPC-H graph cannot (every pattern joins two DIFFERENT
    * labels, and vids carry the label in their top bits), and the
    * 3-SF oracle gate replays the raw definition against this one. */
  private[graft] def walkEndpointStream(edges: DataFrame, srcCol: String = "src",
      dstCol: String = "dst"): DataFrame = {
    val staged = stageWalkAdjacency(edges, srcCol, dstCol, undirected = true)
    walkAdjacencyScan(edges.sparkSession, staged, None).select(col("u").as("vid"))
  }

  /** Driver-local DataFrame from collected rows — a true LocalRelation
    * (via [[org.apache.spark.sql.graft.DatasetBridge.localRelation]]),
    * so a broadcast of it builds with no job and a union over steps
    * stays a local plan. */
  private def localDf(spark: SparkSession, rows: Array[org.apache.spark.sql.Row],
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    org.apache.spark.sql.graft.DatasetBridge.localRelation(spark, schema,
      rows.toIndexedSeq)

  /** Random-walk corpus generation (DeepWalk, Perozzi et al. 2014 —
    * the walk-sampling half; the walks feed a skip-gram trainer):
    * `walksPerVertex` unbiased walks of `steps` hops from every start
    * vertex. "Random" is DERANDOMIZED: at step t, walk w moves to the
    * neighbor v minimizing md5(walk_id:t:v) — per-walk-per-step
    * pseudo-random, independent across walks, yet a pure function of
    * the graph, so runs reproduce exactly and a SQL oracle replays
    * every choice (row_number ORDER BY hash ≡ min(struct(hash, v))).
    * Per step: one frontier⋈edges join + one per-walk argmin — frontier
    * is walk-count-sized, never graph-sized; walks that hit a vertex
    * with no out-neighbors simply end (no self-loop padding). Output:
    * (walk_id, vid, step) rows — the corpus a downstream embedding
    * trainer consumes.
    *
    * Staging is the SHARED sorted columnar adjacency
    * ([[stageWalkAdjacency]] — deliberately not deduplicated, one
    * map-only write per JVM per input); under
    * [[WalkFrontierCollectCap]] each step's frontier rows live on the
    * driver, so a step is ONE job: a zone-map-pruned parquet probe of
    * the frontier's vids joined against a driver-built broadcast, then
    * the walk-count-sized argmin. Past the collect cap the frontier
    * stays distributed (checkpoint + broadcast per step, full scans);
    * past the broadcast ceiling (billions of simultaneous walks) the
    * equi-join shuffle plan takes over. */
  def randomWalks(edges: DataFrame, starts: DataFrame, walksPerVertex: Int, steps: Int,
      srcCol: String = "src", dstCol: String = "dst",
      undirected: Boolean = true): DataFrame = {
    require(walksPerVertex >= 1 && steps >= 0, "walksPerVertex >= 1, steps >= 0")
    val spark = edges.sparkSession
    val adj = stageWalkAdjacency(edges, srcCol, dstCol, undirected)
    val w0 = starts.select(col(starts.columns.head).as("start")).distinct()
      .select(col("start"), explode(array((0 until walksPerVertex).map(i => lit(i.toLong)): _*)).as("w"))
      .select((col("start") * walksPerVertex + col("w")).as("walk_id"), col("start").as("vid"))
      .localCheckpoint(true)
    val nWalks = w0.count()
    val useBroadcast = nWalks <= maxBroadcastVerticesDyn
    val useLocal = useBroadcast && nWalks <= WalkFrontierCollectCap
    var frontierRows: Array[org.apache.spark.sql.Row] = if (useLocal) w0.collect() else null
    var frontier: DataFrame = if (useLocal) localDf(spark, frontierRows, w0.schema) else w0
    var out = frontier.withColumn("step", lit(0L))
    withWalkProbePushdown(spark) {
      (1 to steps).foreach { t =>
        val vids = if (useLocal) Some(frontierRows.map(_.get(1)).distinct.toSeq) else None
        val e = walkAdjacencyScan(spark, adj, vids)
        val f = if (useBroadcast) broadcast(frontier) else frontier
        val nxt = e.join(f, e("u") === f("vid"))
          .select(f("walk_id"),
            e("v"),
            Dedup.md5Long(concat(f("walk_id").cast("string"), lit(s":$t:"),
              e("v").cast("string"))).as("h"))
          .groupBy("walk_id").agg(min(struct(col("h"), col("v"))).as("m"))
          .select(col("walk_id"), col("m.v").as("vid"))
        if (useLocal) {
          frontierRows = nxt.collect()
          frontier = localDf(spark, frontierRows, nxt.schema)
        } else frontier = nxt.localCheckpoint(true)
        out = out.unionAll(frontier.withColumn("step", lit(t.toLong)))
      }
    }
    out
  }

  /** Skip-gram training pairs from a walk corpus (the DeepWalk/node2vec
    * step between walk sampling and the embedding trainer): every
    * (center, context) vertex pair co-occurring within `window` steps of
    * the SAME walk, with its corpus frequency. Input is the output shape
    * of [[randomWalks]]/[[biasedRandomWalks]] — (walk_id, vid, step).
    * One self-equi-join on walk_id (per-walk row count is steps+1, so
    * the join is walk-local and never quadratic in the corpus) + one
    * count aggregation; the pair table is what a negative-sampling
    * trainer consumes. */
  def skipGramPairs(walks: DataFrame, window: Int): DataFrame = {
    require(window >= 1, "window must be >= 1")
    val a = walks.select(col("walk_id"), col("vid").as("center"), col("step").as("__sa"))
    val b = walks.select(col("walk_id"), col("vid").as("context"), col("step").as("__sb"))
    a.join(b, Seq("walk_id"))
      .where(col("__sa") =!= col("__sb") &&
        abs(col("__sa") - col("__sb")) <= window)
      .groupBy("center", "context").agg(count(lit(1)).as("n_pairs"))
  }

  /** Derandomized weighted NEGATIVE sampling (the word2vec noise draw,
    * Mikolov 2013): k noise vertices per (center, context) training
    * pair, drawn from the weight distribution (degree here; the ¾-power
    * smoothing is a caller-supplied weight column — INTEGER weights keep
    * every draw exact) — completing the walks → skip-gram pairs →
    * negatives training-data pipeline.
    *
    * Mechanics, all integer and engine-portable:
    *   1. Exclusive/inclusive cumulative weights per vertex via a
    *      TWO-PHASE cumsum (range-repartition by vid, per-partition
    *      window sums + broadcast partition offsets — no global
    *      single-partition window; the result is partitioning-invariant).
    *   2. Each draw hashes 'neg:center:context:i' to u ∈ [0, total).
    *   3. Inverse-CDF lookup WITHOUT a range join (a non-equi interval
    *      probe would be a broadcast nested loop over the whole
    *      vocabulary): u-space splits into `buckets` fixed slots of
    *      width ⌈total/buckets⌉; each cum interval explodes to the ≤
    *      few slots it overlaps (Σ spans ≤ V + buckets rows) and draws
    *      EQUI-join on the slot, then filter lo ≤ u < hi. Per-slot
    *      candidate lists are ~V/buckets — nothing quadratic.
    * Collisions with the pair's own vertices are marked, not redrawn —
    * a deterministic redraw loop would data-depend the round count. */
  def weightedNegativeSamples(pairs: DataFrame, weights: DataFrame, k: Int,
      centerCol: String = "center", contextCol: String = "context",
      vidCol: String = "vid", weightCol: String = "w",
      buckets: Int = 4096, cumPartitions: Int = 32,
      maxBroadcast: Long = maxBroadcastVerticesDyn): DataFrame = {
    require(k >= 1 && buckets >= 1)
    val w0 = weights
      .select(col(vidCol).cast("long").as("vid"), col(weightCol).cast("long").as("w"))
      .where(col("w") > 0)
    val parted = w0.repartitionByRange(cumPartitions, col("vid"))
      .withColumn("pid", spark_partition_id())
    val wIn = org.apache.spark.sql.expressions.Window
      .partitionBy("pid").orderBy("vid")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    // global window, bounded input: one row per range partition (cumPartitions)
    val wOff = GlobalWindow.orderBy(col("pid"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val offsets = parted.groupBy("pid").agg(sum(col("w")).as("psum"))
      .select(col("pid"), coalesce(sum(col("psum")).over(wOff), lit(0L)).as("off"))
    val cum = parted.join(broadcast(offsets), Seq("pid"))
      .select(col("vid"), col("w"),
        (sum(col("w")).over(wIn) + col("off")).as("hi"))
      .select(col("vid"), (col("hi") - col("w")).as("lo"), col("hi"))
      .localCheckpoint(true)
    val totals = cum.agg(max(col("hi")).as("total"))
      .select(col("total"), expr(s"(total + ${buckets - 1}) div $buckets").as("wd"))
    val slots = cum.crossJoin(broadcast(totals))
      .select(col("vid"), col("lo"), col("hi"),
        explode(sequence(expr("lo div wd"), expr("(hi - 1) div wd"))).as("slot"))
    val draws = pairs.select(col(centerCol).cast("long").as("center"),
        col(contextCol).cast("long").as("context"))
      .distinct()
      .withColumn("draw_i", explode(sequence(lit(0), lit(k - 1))))
      .crossJoin(broadcast(totals))
      .select(col("center"), col("context"), col("draw_i"),
        pmod(Dedup.md5Long(concat_ws(":", lit("neg"), col("center"),
          col("context"), col("draw_i"))), col("total")).as("u"),
        col("wd"))
      .withColumn("slot", expr("u div wd"))
    // the slot table is V+buckets rows derived map-only from the
    // checkpointed cumsum — broadcasting the (pairs × k)-sized draw side
    // under a count guard lets it STREAM, so the lookup join runs with
    // zero exchange (the hash(slot) plan moved the whole vocabulary:
    // 82 MB at sf1 for a draws-sized output); past the guard the
    // equi-join shuffles both sides as before. The row ceiling is
    // WIDTH-SCALED: MaxBroadcastVertices calibrates bytes for 2-column
    // (vid, value) rows, and a draws row carries 5 — reusing the raw
    // count near the boundary would build a 2.5× bigger relation,
    // brushing Spark's 8 GiB broadcast hard cap.
    val drawsCp = draws.localCheckpoint(true)
    val d = if (drawsCp.count() <= maxBroadcastRows(maxBroadcast, 5)) broadcast(drawsCp) else drawsCp
    slots.join(d, Seq("slot"))
      .where(col("u") >= col("lo") && col("u") < col("hi"))
      .select(col("center"), col("context"), col("draw_i").cast("int").as("draw_i"),
        col("vid").as("neg_vid"),
        (col("vid") === col("center") || col("vid") === col("context")).as("is_collision"))
  }

  /** Node2vec-BIASED walks (Grover & Leskovec 2016): like
    * [[randomWalks]], but the neighbor choice is 2nd-order — biased by
    * where the walk came FROM. Candidate v of walk w at step t (previous
    * vertex prev) carries bias
    *   1/returnParam  if v == prev          (going back),
    *   1              if v is adjacent to prev (staying local / BFS-ish),
    *   1/inOutParam   otherwise             (moving outward / DFS-ish),
    * and the choice is DERANDOMIZED weighted sampling: each candidate
    * draws u = md5(walk:t:v)/2^60 and the walk takes the max A-Res key
    * ln(u)/bias (6dp-rounded, ties → min v) — selection probability ∝
    * bias, yet every hop is a pure function of the graph and replays in
    * SQL (the [[TextAnalysis.weightedSample]] key applied per-step).
    * Step 1 has no prev → uniform. Staging and the per-step probes are
    * the shared zone-map-pruned columnar adjacency
    * ([[stageWalkAdjacency]]): the candidate fetch reads only the
    * frontier's vids, and the common-neighbor probe (is v a neighbor of
    * prev?) reads only the PREV vids' buckets joined against the
    * broadcast candidate set — neither probe re-scans the full list
    * (the r14 `weak`: 2 full scans × steps = 397 s at sf10), and the
    * edge list never shuffles. */
  def biasedRandomWalks(edges: DataFrame, starts: DataFrame,
      walksPerVertex: Int, steps: Int,
      returnParam: Double = 1.0, inOutParam: Double = 1.0,
      srcCol: String = "src", dstCol: String = "dst",
      undirected: Boolean = true): DataFrame = {
    require(walksPerVertex >= 1 && steps >= 0, "walksPerVertex >= 1, steps >= 0")
    require(returnParam > 0 && inOutParam > 0, "p and q must be > 0")
    val retW = 1.0 / returnParam
    val outW = 1.0 / inOutParam
    val spark = edges.sparkSession
    val adj = stageWalkAdjacency(edges, srcCol, dstCol, undirected)
    val w0 = starts.select(col(starts.columns.head).as("start")).distinct()
      .select(col("start"), explode(array((0 until walksPerVertex).map(i => lit(i.toLong)): _*)).as("w"))
      .select((col("start") * walksPerVertex + col("w")).as("walk_id"), col("start").as("vid"),
        lit(null).cast("long").as("prev"))
      .localCheckpoint(true)
    val nWalks = w0.count()
    val useBroadcast = nWalks <= maxBroadcastVerticesDyn
    val useLocal = useBroadcast && nWalks <= WalkFrontierCollectCap
    var frontierRows: Array[org.apache.spark.sql.Row] = if (useLocal) w0.collect() else null
    var frontier: DataFrame = if (useLocal) localDf(spark, frontierRows, w0.schema) else w0
    var out = frontier.select(col("walk_id"), col("vid")).withColumn("step", lit(0L))
    withWalkProbePushdown(spark) {
    (1 to steps).foreach { t =>
      val curVids = if (useLocal) Some(frontierRows.map(_.get(1)).distinct.toSeq) else None
      val prevVids = if (useLocal)
        Some(frontierRows.filterNot(_.isNullAt(2)).map(_.get(2)).distinct.toSeq) else None
      val e = walkAdjacencyScan(spark, adj, curVids)
      val f = if (useBroadcast) broadcast(frontier) else frontier
      val cand = e.join(f, e("u") === f("vid"))
        .select(f("walk_id"), f("vid").as("cur"), f("prev"), e("v"))
      // adjacency probe, broadcast-shaped: INNER join the (prev-pruned)
      // edge scan against the broadcast candidate set on (prev, v) —
      // the edge list never shuffles; duplicate edges can multiply
      // matches, but every copy is bit-identical and the per-walk
      // argmax ignores it — then flag candidates by a candidate-sized
      // LEFT join
      val candCp = (if (useBroadcast) cand.localCheckpoint(true) else cand)
      val candB = if (useBroadcast) broadcast(candCp) else candCp
      val pe = walkAdjacencyScan(spark, adj, prevVids)
        .select(col("u").as("__pu"), col("v").as("__pv"))
      val commonRows = pe.join(candB,
          candB("prev") === pe("__pu") && candB("v") === pe("__pv"))
        .select(col("walk_id"), col("v"), lit(true).as("__common"))
      val commonB = if (useBroadcast) broadcast(commonRows) else commonRows
      val flagged = candCp.join(commonB, Seq("walk_id", "v"), "left_outer")
        .select(col("walk_id"), col("cur"), col("prev"), col("v"),
          coalesce(col("__common"), lit(false)).as("__common"))
      val bias = when(col("prev").isNull, lit(1.0))
        .when(col("v") === col("prev"), lit(retW))
        .when(col("__common"), lit(1.0))
        .otherwise(lit(outW))
      val u = (Dedup.md5Long(concat(col("walk_id").cast("string"), lit(s":$t:"),
        col("v").cast("string"))) + lit(1L)).cast("double") / lit(math.pow(2.0, 60))
      val key = round(log(u) / bias, 6) + lit(0.0)
      val nxt = flagged.withColumn("__k", key)
        .groupBy("walk_id")
        .agg(max(struct(col("__k"), (-col("v")).as("nv"), col("cur"))).as("m"))
        .select(col("walk_id"), (-col("m.nv")).as("vid"), col("m.cur").as("prev"))
      if (useLocal) {
        frontierRows = nxt.collect()
        frontier = localDf(spark, frontierRows, nxt.schema)
      } else frontier = nxt.localCheckpoint(true)
      out = out.unionAll(frontier.select(col("walk_id"), col("vid")).withColumn("step", lit(t.toLong)))
    }
    }
    out
  }

  /** k-core decomposition by synchronous peeling: each round computes
    * every remaining vertex's degree in the remaining subgraph and
    * removes ALL vertices with degree < k at once (both endpoints
    * filtered against the same round-start degree table —
    * deterministic, order-free, and therefore replayable round by
    * round in SQL). The k-core is the fixpoint; a peeling round at the
    * fixpoint is the identity, so a generous FIXED `rounds` count ≥
    * the convergence point yields it exactly — same oracle recipe as
    * connected components' star rounds. Per round: one degree
    * aggregation (map-side combined) + two semi-joins of the edge list
    * against the vertex-sized survivor set — edges shuffle once at
    * build, then only (vertex) keys move. Output: surviving vertices
    * with their within-core degree.
    *
    * `assumeCanonical = true`: the caller guarantees distinct
    * canonical (src < dst) pairs — e.g. [[coOccurrenceEdges]] output —
    * making the doubled list distinct BY CONSTRUCTION (a canonical row
    * and a reversal can never coincide), so the staging dedup — a full
    * edge-list exchange, and this operator's largest (the degree
    * aggregations all map-side combine to vertex-sized wires) — is
    * skipped. Degree counts are multiplicity-sensitive, so unlike the
    * walk operators this one cannot drop the dedup unconditionally. */
  def kCore(edges: DataFrame, k: Int, rounds: Int = 8,
      srcCol: String = "src", dstCol: String = "dst",
      assumeCanonical: Boolean = false): DataFrame = {
    require(k >= 1 && rounds >= 1, "k and rounds must be >= 1")
    val e0 = edges.select(col(srcCol).as("u"), col(dstCol).as("v"))
      .where(col("u") =!= col("v"))
    val doubled = e0.unionAll(e0.select(col("v").as("u"), col("u").as("v")))
    var e = (if (assumeCanonical) doubled else doubled.distinct())
      .localCheckpoint(true)
    // DECREMENTAL degree maintenance (the r10 rebuild; the r9 form
    // re-aggregated every remaining vertex's degree from the full edge
    // list each round, which the sf1 bench measured at 13.6× shuffle on
    // 10× data): the degree of a survivor changes only by the edges it
    // lost to THIS round's peeled set, so each round aggregates just
    // the edges INTO the peeled vertices (frontier-adjacency-sized,
    // geometrically shrinking) and subtracts — round-for-round
    // identical to the dense textbook recompute (the SQL oracle
    // replays dense rounds unchanged), because degree-in-remaining-
    // subgraph ≡ old degree − edges-to-peeled. The peeled set is
    // broadcast (it only shrinks; the r9 form broadcast the ~V-sized
    // KEEP set instead), the degree table streams through broadcast
    // anti/outer joins, and per-round state is localCheckpoint-ed with
    // the next-peel count as the round's materializing action — the
    // sssp/coreness discipline. Past the ceiling, shuffle joins.
    val useBroadcast =
      e.select(col("u")).distinct().count() <= maxBroadcastVerticesDyn
    def maybeBroadcast(df: DataFrame): DataFrame =
      if (useBroadcast) broadcast(df) else df
    var deg = e.groupBy("u").agg(count(lit(1)).cast("long").as("deg"))
      .localCheckpoint(true)
    var nPeel = deg.where(col("deg") < k).count()
    var r = 0
    while (r < rounds && nPeel > 0L) {
      r += 1
      val peeled = deg.where(col("deg") < k).select(col("u"))
      val pV = maybeBroadcast(peeled.select(col("u").as("v")))
      val lost = e.join(pV, Seq("v"), "left_semi")
        .groupBy("u").agg(count(lit(1)).cast("long").as("lost"))
      e = e.join(maybeBroadcast(peeled), Seq("u"), "left_anti")
        .join(pV, Seq("v"), "left_anti")
        .localCheckpoint(false)
      deg = deg.join(maybeBroadcast(peeled), Seq("u"), "left_anti")
        .join(maybeBroadcast(lost), Seq("u"), "left_outer")
        .select(col("u"), (col("deg") - coalesce(col("lost"), lit(0L))).as("deg"))
        .localCheckpoint(false)
      // the round's materializing action doubles as next round's peel
      // count and the all-peeled-gone short-circuit (identity rounds)
      nPeel = deg.where(col("deg") < k).count()
    }
    // deg-0 vertices lost every edge without being peeled yet — they are
    // absent from the remaining edge list, exactly like the edge-derived
    // output of the dense form
    deg.where(col("deg") > 0)
      .select(col("u").as("vid"), col("deg").as("core_degree"))
  }

  /** FULL coreness decomposition via iterated neighborhood h-index
    * (Lü–Chen–Zhang–Zhou, Nature Physics 2016): c₀(v) = degree,
    * cᵣ(v) = h-index of {cᵣ₋₁(u) : u ∈ N(v)}; the sequence is
    * monotone non-increasing per vertex and its fixpoint is exactly
    * coreness — every k-core membership (the single-k [[kCore]])
    * follows as coreness ≥ k, without re-peeling per k.
    *
    * FRONTIER-DRIVEN rounds: a vertex's h-index can change in round r
    * only if some NEIGHBOR's value changed in round r−1 (monotonicity),
    * so after round 1 only the changed set's neighborhoods are
    * re-ranked — the edge⋈value join and the per-vertex window run over
    * Σ deg(candidates), not Σ deg(V), and unchanged vertices pass
    * through an anti-join untouched. Values are identical to the
    * full-recompute form round for round (a non-candidate's recompute
    * would reproduce its old value), so the SQL oracle replays the
    * dense textbook rounds and still meets the same hashes; the plan,
    * not the function, changed. Late rounds touch a geometrically
    * shrinking frontier — the property that makes 60-round dense-graph
    * fixpoints affordable at 100× instead of 60 full-graph windows.
    * An empty frontier short-circuits remaining rounds (the fixpoint
    * round is the identity).
    *
    * Deterministic per round, so a fixed generous round count replays
    * in SQL; like [[ssspDistances]], a convergence SENTINEL row
    * (vid = −1, the count of still-moving vertices) makes an
    * unconverged round count loudly diagnosable instead of silently
    * wrong — the sentinel row is absent exactly when the result is the
    * true coreness. With `toFixpoint = true` the operator instead
    * CONTINUES past `rounds` until the frontier empties (capped at
    * `maxRounds` total), so a denser-than-expected graph degrades to
    * extra cheap frontier rounds rather than a wrong answer; the
    * rounds actually used beyond `rounds` surface as an extra row
    * (vid = −2, extra_rounds) so the overrun is observable. Registered
    * oracle queries keep the replayable fixed count.
    *
    * Backends: when the input's edge rows fit [[LocalGraph.EdgeCap]] and
    * the vids are integral, the rounds run on the DRIVER over one
    * collected [[LocalGraph]] — a full recompute per round on primitive
    * arrays, with the same rows, per-round frontier sizes and sentinel
    * rows — and the output is served from a broadcast
    * ([[org.apache.spark.sql.graft.DatasetBridge.arrayFrame]]). Otherwise
    * the dense/frontier join loop above runs. */
  def coreness(edges: DataFrame, rounds: Int = 12,
      srcCol: String = "src", dstCol: String = "dst",
      toFixpoint: Boolean = false, maxRounds: Int = 96): DataFrame =
    corenessWithStats(edges, rounds, srcCol, dstCol, toFixpoint, maxRounds,
      collectStats = false)._1

  /** [[coreness]] plus the per-round frontier sizes (|changed| after
    * each executed round) — spec hook proving per-round work tracks the
    * changed set, not V. The per-round `changed.count()` always runs —
    * it is the round's single materializing action (see the loop
    * comment); `collectStats` only controls whether the counts are
    * RECORDED into the returned frontier-size list. `localStateCap = 0`
    * forces the join loop. */
  private[graft] def corenessWithStats(edges: DataFrame, rounds: Int = 12,
      srcCol: String = "src", dstCol: String = "dst",
      toFixpoint: Boolean = false, maxRounds: Int = 96,
      collectStats: Boolean = true,
      localStateCap: Long = LocalGraph.EdgeCap): (DataFrame, Seq[Long]) = {
    require(rounds >= 2, "rounds must be >= 2 (the sentinel needs two)")
    require(maxRounds >= rounds, "maxRounds must be >= rounds")
    val e0 = edges.select(col(srcCol).as("u"), col(dstCol).as("v"))
      .where(col("u") =!= col("v"))
    val budget = if (toFixpoint) maxRounds else rounds
    // DRIVER-LOCAL rounds under the cap: values are exact integers and a
    // frontier round only skips recomputes that would reproduce the old
    // value, so a full-recompute replay over the [[LocalGraph]] (deduped,
    // both directions) is bit-identical to the join loop — values, moved
    // counts, sentinels. One job in all: the edge read is its own gate.
    LocalGraph.collect(e0, localStateCap, undirected = true) match {
      case Some(g) =>
        return corenessLocalState(edges.sparkSession, g, rounds, budget, toFixpoint,
          collectStats)
      case None =>
    }
    // past the cap, an eager pin before the join loop reads the edges:
    // the caller hands over a raw join lineage (unified edges), and
    // reading it lazily would run that lineage once for the count and
    // AGAIN for the doubled repartition below — the pin makes every later
    // read a cache scan
    val (e0cp, eRows) = pinTwoPhase(e0)
    // vertex values broadcast under the guard (the SSSP bake-off
    // shape): the per-round join never shuffles edges; the one window
    // exchange per round now carries only the candidates' adjacency.
    // the adjacency is hash-partitioned BY VERTEX once, up front: every
    // per-round operator (broadcast value join, the (u, cv) combine, the
    // cumulative window, the final per-vertex agg, frontier semi/anti
    // joins) then runs on that partitioning with ZERO per-round
    // exchange. persist (NOT localCheckpoint) on purpose: an
    // InMemoryRelation keeps the cached plan's outputPartitioning while
    // a checkpoint's LogicalRDD forgets it — checkpointing here would
    // silently re-insert two exchanges into every round
    // partition count sized by DATA VOLUME, not spark.sql.shuffle
    // .partitions: every one of the ~13×8 per-round stages launches one
    // task per adjacency partition, and with the config's static count
    // (32 here, cluster-sized in production) the per-task fixed cost
    // dominates once rounds go frontier-small. ~300k undirected edge
    // rows (~5 MB) per partition keeps dense-round sorts parallel while
    // cutting stage-launch cost ~4× at bench scale; at 100 TB the
    // byte-derived count exceeds any static setting and the cap is the
    // config value again.
    // staging is ONE shuffle (the ssspDistances recipe): repartition the
    // raw doubled edge list by u FIRST, then dedup exchange-free on top —
    // hash(u) co-locates (u, v) duplicates, so the old
    // distinct-shuffle → checkpoint → repartition-shuffle chain moved the
    // full edge list twice for nothing. Partition sizing uses the raw
    // directed-edge count (one cheap count job; duplicates only
    // overestimate, and the count is a heuristic cap anyway), and nVerts
    // falls out of the degree table's row count instead of a dedicated
    // distinct pass.
    val undParts = volumeParts(edges.sparkSession, 2 * eRows)
    // sortWithinPartitions(u) on top of the hash(u) layout: the cached
    // relation then ADVERTISES per-partition ordering, so the frontier
    // rounds' per-u window below (candidate discovery fused into one
    // scan) runs sort-free — one staging sort buys zero per-round sorts
    val und = persistPinned(
      e0cp.unionAll(e0cp.select(col("v").as("u"), col("u").as("v")))
        .repartition(undParts, col("u"))
        .dropDuplicates("u", "v")
        .sortWithinPartitions("u"), 2 * eRows)
    var c = und.groupBy("u").agg(count(lit(1)).cast("long").as("cv"))
      .localCheckpoint(true)
    val nVerts = c.count()
    val useBroadcast = nVerts <= maxBroadcastVerticesDyn
    def maybeBroadcast(df: DataFrame): DataFrame =
      if (useBroadcast) broadcast(df) else df
    // frontier after round r = vertices whose value changed in round r;
    // before round 1 every vertex counts as changed (c₀ is new)
    var changed: DataFrame = null
    val frontierSizes = scala.collection.mutable.ListBuffer.empty[Long]
    var lastMoved = nVerts
    var r = 0
    var done = false
    // h-index over (vertex, neighbor-value) pairs COMPRESSED to distinct
    // values with multiplicity: ties in the desc order land on one row,
    // so the wire carries |distinct (u, cv)| rows with map-side combine
    // instead of Σ deg adjacency rows — h = max over value runs of
    // min(run-end cumulative count, value), identical to the ranked
    // form (the h-index is a multiset function; tie order never matters)
    val wCum = org.apache.spark.sql.expressions.Window
      .partitionBy("u").orderBy(col("cv").desc)
    def hIndexOf(nv: DataFrame): DataFrame =
      nv.groupBy("u", "cv").agg(count(lit(1)).as("cnt"))
        .withColumn("cum", sum(col("cnt")).over(wCum))
        .groupBy("u").agg(max(least(col("cum"), col("cv"))).cast("long").as("cv"))
    // the round's ONE V-row broadcast, REUSED by both value joins: the
    // neighbor-value join keys the build side on its first column and so
    // does the old-value join, and both build children canonicalize to
    // the same projection over the same checkpoint scan — physical
    // planning turns the second build into a ReusedExchange. The r10
    // shape built two V-row hash relations per dense round (collect +
    // driver build each); the probe put that at ~0.5-1 s/round of the
    // fixed floor.
    var prevRoundCache: DataFrame = null
    while (r < budget && !done) {
      r += 1
      // dense rounds while the frontier is a large fraction of V (the
      // candidate discovery joins would touch ~everything anyway);
      // frontier rounds once it shrinks — on slow fixpoints (the dense
      // co-occurrence ~60-round case) that is almost all rounds
      val frontierMode = r > 1 && lastMoved * FrontierSwitchFactor < nVerts
      def withOldVia(cvO: DataFrame)(nvals: DataFrame): DataFrame =
        nvals.join(maybeBroadcast(cvO), col("u") === col("__ou"))
          .select(col("u"), col("cv"), col("__pv").as("pv"))
          .localCheckpoint(false)
      var roundCache: DataFrame = null
      if (!frontierMode) {
        val cvN = c.select(col("u").as("__nb"), col("cv").as("__nbv"))
        val cvO = c.select(col("u").as("__ou"), col("cv").as("__pv"))
        val upd = withOldVia(cvO)(hIndexOf(
          und.join(maybeBroadcast(cvN), col("v") === col("__nb"))
            .select(col("u"), col("__nbv").as("cv"))))
        changed = upd.where(col("cv") =!= col("pv")).select(col("u"))
        c = upd.select(col("u"), col("cv")).localCheckpoint(false)
      } else {
        // ONE adjacency scan finds the candidates AND their edges: flag
        // rows whose v moved last round, then a per-u window marks every
        // edge of a flagged u. Sort-free (the cached adjacency advertises
        // its staging sort) and exchange-free (rides hash(u)) — the r10
        // shape paid two full adjacency scans (candidate discovery +
        // semi-join) plus a distinct exchange and an extra broadcast
        // build per round. persist, NOT localCheckpoint: the candidate
        // adjacency feeds the exchange-free h-index groupBy and a
        // checkpoint's LogicalRDD would forget the hash(u) partitioning.
        val chv = changed.select(col("u").as("__ch"))
        // heap-budgeted pin: candidate volume ≈ Σdeg over the moved
        // set's neighborhood ≈ moved · avgdeg², capped by the full
        // adjacency — in frontier mode (moved < V/128) this stays small
        // and memory-resident; a pathological frontier demotes to disk
        val avgDeg = math.max(1L, 2 * eRows / math.max(1L, nVerts))
        val candRowsBound =
          math.min(2 * eRows, math.max(1L, lastMoved) * avgDeg * avgDeg)
        val candEdges = persistPinned(und
          .join(maybeBroadcast(chv), col("v") === col("__ch"), "left")
          .select(col("u"), col("v"), col("__ch").isNotNull.as("__hit"))
          .withColumn("__any", max(col("__hit")).over(
            org.apache.spark.sql.expressions.Window.partitionBy("u")))
          .where(col("__any")).select(col("u"), col("v")), candRowsBound)
        roundCache = candEdges
        // (a REJECTED variant is worth recording: semi-filtering the
        // V-row value table to the candidates' neighborhood before
        // broadcasting — the "value diet" — measured ~40% SLOWER per
        // frontier round at sf1: the filter's key-set union+distinct
        // added an 18 MB exchange that the two renamed consumers did
        // not reuse, and the longer broadcast-build dependency chain
        // serialized. The V-row build stays; its guard still degrades
        // correctly past 50M vertices.)
        val cvN = c.select(col("u").as("__nb"), col("cv").as("__nbv"))
        val cvO = c.select(col("u").as("__ou"), col("cv").as("__pv"))
        val upd = withOldVia(cvO)(hIndexOf(
          candEdges.join(maybeBroadcast(cvN), col("v") === col("__nb"))
            .select(col("u"), col("__nbv").as("cv"))))
        changed = upd.where(col("cv") =!= col("pv")).select(col("u"))
        val cand = candEdges.select(col("u")).distinct()
        // coalesce back to the staging partition count: the union grows
        // partitions additively and six frontier rounds of compounding
        // put 2048 tiny tasks under EVERY per-round stage by round 13
        // (the probe's dominant late-round cost) — coalesce is narrow,
        // no exchange
        c = c.join(maybeBroadcast(cand), Seq("u"), "left_anti")
          .unionAll(upd.select(col("u"), col("cv")))
          .coalesce(undParts)
          .localCheckpoint(false)
      }
      // Job-count diet (the r8 shape ran 2-3 driver-blocking jobs per
      // round — eager checkpoints plus a count — and the fixed
      // per-job scheduling cost swamped the frontier plan's shuffle
      // win). All round frames are LAZY checkpoints; the frontier count
      // is the round's ONE action and materializes them as a side
      // effect. One materializing action per round is load-bearing, not
      // just bookkeeping: unlike the linear dense chain (where
      // end-of-loop materialization worked, r7), the frontier round's
      // frames are consumed by SEVERAL downstream branches (broadcasts,
      // semi/anti joins), and leaving a round unmaterialized lets each
      // branch recompute it before the lazy-checkpoint cache lands —
      // measured 1.2-1.4x slower with every-other-round counts.
      lastMoved = changed.count()
      done = lastMoved == 0L
      if (collectStats) frontierSizes += lastMoved
      // the PREVIOUS round's candidate adjacency is fully consumed once
      // this round's count lands (this round's own cache must survive
      // into round r+1: next round's broadcast builds still read c's
      // lazy checkpoint, whose anti-join side scans it)
      if (prevRoundCache != null) prevRoundCache.unpersist(false)
      prevRoundCache = roundCache
    }
    // pin the final state eagerly, then release the cached adjacency —
    // the caller's actions must not re-derive it from the source scans
    c = c.localCheckpoint(true)
    und.unpersist(false)
    if (prevRoundCache != null) prevRoundCache.unpersist(false)
    (withCorenessSentinels(c.select(col("u").as("vid"), col("cv").as("coreness")),
      lastMoved, r, rounds, toFixpoint), frontierSizes.toSeq)
  }

  /** [[corenessWithStats]]'s rounds on the driver: c₀ = degree in the
    * deduped undirected [[LocalGraph]], then every round a full h-index
    * recompute of every vertex (the dense textbook form the oracle
    * replays), with the join loop's per-round moved count, stop rule and
    * sentinel rows. Vids keep [[LocalGraph.vidType]]. */
  private def corenessLocalState(spark: SparkSession, g: LocalGraph, rounds: Int,
      budget: Int, toFixpoint: Boolean, collectStats: Boolean): (DataFrame, Seq[Long]) = {
    import org.apache.spark.sql.types._
    val (n, offsets, nbrs) = (g.numVertices, g.offsets, g.nbrs)
    def deg(u: Int): Int = offsets(u + 1) - offsets(u)
    var cv = Array.tabulate(n)(deg(_).toLong)
    // h-index by counting: a neighbor value above deg(u) counts as deg(u)
    val bucket = new Array[Int]((0 until n).foldLeft(0)((m, u) => math.max(m, deg(u))) + 1)
    def hIndex(u: Int): Long = {
      val d = deg(u)
      java.util.Arrays.fill(bucket, 0, d + 1, 0)
      var j = offsets(u)
      while (j < offsets(u + 1)) { bucket(math.min(cv(nbrs(j)), d.toLong).toInt) += 1; j += 1 }
      var h = d
      var atLeast = bucket(d)
      while (atLeast < h) { h -= 1; atLeast += bucket(h) }
      h
    }
    val frontierSizes = scala.collection.mutable.ListBuffer.empty[Long]
    var lastMoved = n.toLong
    var r = 0
    var done = false
    while (r < budget && !done) {
      r += 1
      val next = Array.tabulate(n)(hIndex)
      lastMoved = (0 until n).count(u => next(u) != cv(u)).toLong
      cv = next
      done = lastMoved == 0L
      if (collectStats) frontierSizes += lastMoved
    }
    val schema = StructType(Seq(StructField("vid", g.vidType), StructField("coreness", LongType)))
    (withCorenessSentinels(org.apache.spark.sql.graft.DatasetBridge.arrayFrame(spark, schema,
      Seq(g.vids, cv)), lastMoved, r, rounds, toFixpoint), frontierSizes.toSeq)
  }

  /** Coreness's (vid, coreness) rows plus its sentinel rows: (−1, the
    * still-moving count) when the round budget ran out first, and
    * (−2, the rounds run past `rounds`) when `toFixpoint` ran on. The
    * union widens the vid column to BIGINT when a sentinel is present. */
  private def withCorenessSentinels(base: DataFrame, lastMoved: Long, r: Int, rounds: Int,
      toFixpoint: Boolean): DataFrame = {
    import org.apache.spark.sql.types._
    import org.apache.spark.sql.Row
    val extras = (if (lastMoved > 0L) Seq(Row(-1L, lastMoved)) else Nil) ++
      (if (toFixpoint && r > rounds) Seq(Row(-2L, (r - rounds).toLong)) else Nil)
    if (extras.isEmpty) base
    else base.unionAll(org.apache.spark.sql.graft.DatasetBridge.localRelation(base.sparkSession,
      StructType(Seq(StructField("vid", LongType, nullable = false),
        StructField("coreness", LongType, nullable = false))), extras))
  }

  /** Strongly connected components — deterministic multi-pivot
    * forward-backward coloring (the FW-BW family of Fleischer et al.
    * 2000 with Orzan's 2004 per-color parallel pivots; the standard
    * distributed SCC shape, unlike Tarjan's inherently sequential DFS).
    * Each outer pass over the still-unassigned subgraph:
    *
    *   1. FORWARD min-label fixpoint: color(v) = min active vertex that
    *      reaches v. Labels only decrease, so Σcolor is strictly
    *      monotone and one cheap aggregate per block detects the
    *      fixpoint — no row-diff join.
    *   2. Every color class provably contains its pivot (color(c) = c:
    *      a smaller m reaching c would, via c→v, also reach and thus
    *      re-color the whole class). BACKWARD reach fixpoint from the
    *      pivots along reversed SAME-COLOR edges; the restriction is
    *      sound because any v→pivot path from a same-SCC vertex stays
    *      inside the SCC, and every SCC vertex shares the pivot's color.
    *   3. color class ∩ backward reach = the pivot's SCC (forward reach
    *      gives pivot→v, backward gives v→pivot). Assign those rows
    *      scc_id = pivot, drop them and their edges, repeat.
    *
    * Every pass retires at least every current pivot's SCC, so outer
    * passes are bounded by the DEPTH of the condensation DAG, not the
    * SCC count — all roots of the remaining condensation go in
    * parallel. The output is trajectory-independent (vid, scc_id = min
    * member id): round/pass counts never show in the result, which is
    * why a mutual-reachability oracle can check it without replaying
    * the schedule (unlike the fixed-point PageRank family).
    *
    * Scale shape: per round ONE edge⋈label join + one min-combine
    * groupBy ((vid, label) pairs on the wire, map-side combine — the
    * [[ssspDistances]] relaxation shape), and the active subgraph only
    * shrinks. Self-loops are dropped up front (a vertex is always in
    * its own SCC); isolated vertices of the EDGE set cannot exist (every
    * edge endpoint is a vertex), so the output covers exactly the
    * endpoint vertex set. */
  def stronglyConnectedComponents(edges: DataFrame, srcCol: String = "src",
      dstCol: String = "dst", maxOuterPasses: Int = 64,
      maxRoundsPerFixpoint: Int = 10000): DataFrame = {
    val e0 = edges.select(col(srcCol).cast("long").as("u"), col(dstCol).cast("long").as("v"))
      .where(col("u").isNotNull && col("v").isNotNull && col("u") =!= col("v"))
      .distinct().localCheckpoint(true)
    var active = e0.select(col("u").as("vid")).unionAll(e0.select(col("v").as("vid")))
      .distinct().localCheckpoint(true)
    var aEdges = e0
    val assignedParts = scala.collection.mutable.ListBuffer.empty[DataFrame]
    var nActive = active.count()
    var pass = 0
    while (nActive > 0) {
      pass += 1
      require(pass <= maxOuterPasses,
        s"SCC exceeded $maxOuterPasses outer passes (condensation deeper than the bound)")

      // 1. forward min-label fixpoint; Σcolor (exact DECIMAL) is strictly
      // decreasing while any label changes — blocks of 4 rounds between
      // checks amortize the action
      var color = active.select(col("vid"), col("vid").as("c")).localCheckpoint(true)
      var colorSum = color.agg(coalesce(sum(col("c").cast("decimal(38,0)")), lit(0))
        .cast("decimal(38,0)")).head().getDecimal(0)
      var converged = false
      var rounds = 0
      while (!converged) {
        (1 to 4).foreach { _ =>
          color = color.unionAll(
            aEdges.join(color, aEdges("u") === color("vid"))
              .select(aEdges("v").as("vid"), col("c")))
            .groupBy("vid").agg(min(col("c")).as("c"))
        }
        rounds += 4
        require(rounds <= maxRoundsPerFixpoint, "SCC forward fixpoint exceeded round bound")
        color = color.localCheckpoint(true)
        val s = color.agg(coalesce(sum(col("c").cast("decimal(38,0)")), lit(0))
          .cast("decimal(38,0)")).head().getDecimal(0)
        converged = s.compareTo(colorSum) == 0
        colorSum = s
      }

      // 2. same-color edge list (reversed below) + backward reach from pivots;
      // the reach set only grows, so a stable count is the fixpoint
      val cu = color.withColumnRenamed("vid", "u").withColumnRenamed("c", "cu")
      val cv = color.withColumnRenamed("vid", "v").withColumnRenamed("c", "cv")
      val ce = aEdges.join(cu, Seq("u")).join(cv, Seq("v")).where(col("cu") === col("cv"))
        .select(col("u"), col("v"), col("cu").as("c")).localCheckpoint(true)
      var reach = color.where(col("vid") === col("c")).localCheckpoint(true)
      var nReach = reach.count()
      converged = false
      rounds = 0
      while (!converged) {
        (1 to 4).foreach { _ =>
          reach = reach.unionAll(
            ce.join(reach, ce("v") === reach("vid")).select(ce("u").as("vid"), ce("c")))
            .distinct()
        }
        rounds += 4
        require(rounds <= maxRoundsPerFixpoint, "SCC backward fixpoint exceeded round bound")
        reach = reach.localCheckpoint(true)
        val n = reach.count()
        converged = n == nReach
        nReach = n
      }

      // 3. assign and shrink
      val assigned = reach.select(col("vid"), col("c").as("scc_id")).localCheckpoint(true)
      assignedParts += assigned
      active = active.join(assigned, Seq("vid"), "left_anti").localCheckpoint(true)
      val au = assigned.select(col("vid").as("u"))
      val av = assigned.select(col("vid").as("v"))
      aEdges = aEdges.join(au, Seq("u"), "left_anti")
        .join(av, Seq("v"), "left_anti").localCheckpoint(true)
      nActive = active.count()
    }
    if (assignedParts.isEmpty) e0.sparkSession.emptyDataFrame
      .withColumn("vid", lit(0L)).withColumn("scc_id", lit(0L)).limit(0)
    else assignedParts.reduce(_ unionAll _)
  }

  /** Shared HyperBall register propagation with a CHANGED-VERTEX
    * (systolic) frontier — the Boldi–Vigna optimization both
    * [[hyperAnf]] and [[hyperBallHarmonic]] run on.
    *
    * Registers only GROW (max-merge), which yields the invariant
    * regs_t(v) ≥ regs_{t−1}(w) for every edge (v, w): an unchanged
    * neighbor's registers were absorbed in an earlier round, so round
    * t+1 only needs contributions from neighbors whose registers
    * changed in round t. Per round the edge⋈register join, the
    * max-combine, and the estimate recompute therefore run over the
    * CHANGED set's registers, not V·2^b — state shrinks geometrically
    * once the effective diameter is passed (most balls saturate), which
    * is exactly when the dense form was re-shuffling the whole register
    * table for no-op rounds. Unchanged state passes through broadcast
    * anti-joins (guarded by [[MaxBroadcastVertices]]; past the guard
    * they degrade to shuffled joins, still frontier-proportional on the
    * build side). An empty frontier short-circuits remaining rounds
    * (the fixpoint round is the identity).
    *
    * Register values are IDENTICAL to the dense textbook rounds, round
    * for round (induction over the invariant above) — so per-vertex
    * estimates, and every downstream frozen-decimal total, replay
    * bit-for-bit in the same SQL oracle; the plan changed, the function
    * did not.
    *
    * Returns the t=0 estimate table (vid, approx_distinct; V rows) plus
    * one per-round DELTA table (vid, old_est, new_est) restricted to the
    * round's CHANGED vertices — frontier-sized, never V. Both consumers
    * derive their outputs from deltas alone, because an unchanged
    * vertex's round term cancels exactly: its registers are
    * bit-identical, so its estimate (a deterministic function of the
    * registers) is bit-identical, and new − old = 0. old_est comes from
    * the pre-update register rows the round already computes (candOld),
    * new_est from the merged rows — the V-row per-round estimate tables
    * the previous form maintained (and whose end-of-query union
    * re-materialized the whole chain) are gone. The deltas list may be
    * shorter than `rounds` when the frontier empties early — missing
    * rounds are exact no-ops. Also returns the per-round changed-set
    * sizes (the spec hook proving per-round work tracks the frontier).
    */
  /** Driver-local HLL ball propagation (see the gate in
    * [[hllBallDeltas]]): dense register arrays live on the driver next
    * to the [[LocalGraph]] and its reverse; each round is pure
    * register-wise integer max restricted to the changed frontier (the
    * exact legacy recurrence — registers never shrink, a vertex
    * re-absorbs nothing from an unchanged neighbor), and the round's
    * old/new estimates come from ONE [[Sketches.hllEstimateGrouped]] job
    * over a broadcast frame of the changed vertices' register rows — the
    * same expressions, the same bits. Returns the same (est0, deltas,
    * frontierSizes) triple. */
  private def hllBallDeltasLocal(spark: SparkSession, g: LocalGraph,
      rounds: Int, b: Int,
      collectStats: Boolean): (DataFrame, Seq[DataFrame], Seq[Long]) = {
    import org.apache.spark.sql.types._
    val m = 1 << b
    val (nV, vids) = (g.numVertices, g.vids)
    // ball(src) ∪= ball(dst) per edge; the reverse adjacency drives the
    // candidate scan (who absorbs from d?)
    val inG = g.reverse
    // initial registers: the SAME hash/rho expressions, one job over
    // the vertex frame
    val regs: Array[Array[Byte]] = Array.fill(nV)(new Array[Byte](m))
    Sketches.hllRegistersGrouped(g.vertexFrame(spark, "vid"), "vid", col("vid"), b).collect()
      .foreach { r =>
        regs(g.index(r.getLong(0)))(r.getLong(1).toInt) = r.getInt(2).toByte
      }
    // one estimate job over (k, register) rows — hllEstimateGrouped only
    // reads the register column and the per-group row count; one row
    // per nonzero register of each (key, registers) pair, in order
    val estSchema = StructType(Seq(
      StructField("k", LongType), StructField("register", IntegerType)))
    def estimates(regs: Iterator[(Long, Array[Byte])]): java.util.HashMap[Long, Double] = {
      val (ks, rs) = (Array.newBuilder[Long], Array.newBuilder[Long])
      regs.foreach { case (k, a) =>
        var j = 0
        while (j < m) { if (a(j) != 0) { ks += k; rs += a(j).toLong }; j += 1 }
      }
      val out = new java.util.HashMap[Long, Double]()
      Sketches.hllEstimateGrouped(org.apache.spark.sql.graft.DatasetBridge
          .arrayFrame(spark, estSchema, Seq(ks.result(), rs.result())), "k", b)
        .collect().foreach(r => out.put(r.getLong(0), r.getDouble(1)))
      out
    }
    val est0Map = estimates(Iterator.range(0, nV).map(i => (i.toLong, regs(i))))
    val estOutSchema = StructType(Seq(
      StructField("vid", LongType), StructField("approx_distinct", DoubleType)))
    val est0 = org.apache.spark.sql.graft.DatasetBridge.arrayFrame(spark, estOutSchema,
      Seq(vids, Array.tabulate(nV)(i => est0Map.get(i.toLong))))

    val deltaSchema = StructType(Seq(StructField("vid", LongType),
      StructField("old_est", DoubleType), StructField("new_est", DoubleType)))
    val deltas = scala.collection.mutable.ListBuffer.empty[DataFrame]
    val frontierSizes = scala.collection.mutable.ListBuffer.empty[Long]
    var changedPrev: Array[Int] = (0 until nV).toArray // round 0: every ball is new
    (1 to rounds).foreach { _ =>
      if (changedPrev.isEmpty) { if (collectStats) frontierSizes += 0L }
      else {
        // candidates: in-neighbors of the changed set (synchronous — all
        // reads see the PREVIOUS round's registers; writes land after)
        val candSet = scala.collection.mutable.LinkedHashSet.empty[Int]
        changedPrev.foreach(d => inG.foreachNbr(d)(s => candSet.add(s)))
        val changedFlag = new Array[Boolean](nV)
        changedPrev.foreach(changedFlag(_) = true)
        val updates = scala.collection.mutable.ArrayBuffer.empty[(Int, Array[Byte], Array[Byte])]
        candSet.foreach { s =>
          val old = regs(s)
          var merged: Array[Byte] = null
          g.foreachNbr(s) { d =>
            if (changedFlag(d)) {
              val src = regs(d)
              var j = 0
              while (j < m) {
                if (src(j) > (if (merged == null) old(j) else merged(j))) {
                  if (merged == null) merged = old.clone()
                  merged(j) = src(j)
                }
                j += 1
              }
            }
          }
          if (merged != null) updates += ((s, old, merged))
        }
        if (collectStats) frontierSizes += updates.size.toLong
        if (updates.isEmpty) changedPrev = Array.empty
        else {
          // the round's one estimate job: old at even keys, new at odd
          val estMap = estimates(updates.iterator.flatMap { case (i, old, nw) =>
            Iterator((2L * i, old), (2L * i + 1, nw))
          })
          val ix = updates.map(_._1).toArray
          deltas += org.apache.spark.sql.graft.DatasetBridge.arrayFrame(spark, deltaSchema,
            Seq(ix.map(vids), ix.map(i => estMap.get(2L * i)), ix.map(i => estMap.get(2L * i + 1))))
          updates.foreach { case (i, _, nw) => regs(i) = nw }
          changedPrev = updates.map(_._1).toArray
        }
      }
    }
    (est0, deltas.toList, frontierSizes.toList)
  }

  private[graft] def hllBallDeltas(edges: DataFrame, rounds: Int, b: Int,
      srcCol: String, dstCol: String,
      collectStats: Boolean = false,
      localStateCap: Long = LocalGraph.WideStateCap): (DataFrame, Seq[DataFrame], Seq[Long]) = {
    val eDistinct = edges.select(col(srcCol).cast("long").as("src"),
        col(dstCol).cast("long").as("dst"))
      .where(col("src").isNotNull && col("dst").isNotNull)
      .distinct()
    // LOCAL-STATE register loop under the wide-state cap: register
    // state is V·2^b BYTES of pure integer max — the driver replays the
    // exact recurrence — while every FLOATING value (initial registers'
    // hashes, all estimates) still comes out of the same Sketches
    // expressions run over broadcast frames, so the output is
    // bit-identical to the distributed loop. The legacy loop pays ~4
    // jobs per round (broadcast builds + the materializing count) over
    // frontier frames that are metadata-sized here; the local path pays
    // one tiny estimate job per round. The edge read is its own gate;
    // the distributed loop pins and counts after it.
    LocalGraph.collect(eDistinct, localStateCap, undirected = false) match {
      case Some(g) =>
        return hllBallDeltasLocal(edges.sparkSession, g, rounds, b, collectStats)
      case None =>
    }
    val eFull = eDistinct.localCheckpoint(true)
    val eRows = eFull.count()
    // volume-sized scan width over the cached edge blocks (narrow — each
    // coalesced task reads several cached partitions; no shuffle)
    val eParts = volumeParts(edges.sparkSession, eRows)
    val e = eFull.coalesce(eParts)
    val verts = e.select(col("src").as("vid")).unionAll(e.select(col("dst").as("vid")))
      .distinct()
    var regs = Sketches.hllRegistersGrouped(verts, "vid", col("vid"), b).localCheckpoint(false)
    val est0 = Sketches.hllEstimateGrouped(regs, "vid", b).localCheckpoint(false)
    val nVerts = est0.count() // one action; materializes regs + est0 via the lazy marks
    // Partition counts sized by data volume (see corenessWithStats): the
    // per-round stages launch one task per partition of the register /
    // estimate tables, and with the static shuffle.partitions count the
    // per-task fixed cost dominates once the frontier shrinks. The
    // union-with-delta shape additionally GROWS partition counts by the
    // delta's partitions every round — the coalesce below re-bounds them
    // (narrow op, no shuffle).
    val regRows = regs.count()
    val regConfParts = edges.sparkSession.sessionState.conf.numShufflePartitions
    val baseParts = math.max(1, math.min(regConfParts, (regRows / 500000L).toInt + 1))
    regs = regs.coalesce(baseParts).localCheckpoint(false)
    val useBroadcast = nVerts <= maxBroadcastVerticesDyn
    def maybeBroadcast(df: DataFrame): DataFrame =
      if (useBroadcast) broadcast(df) else df
    // round 0: every ball is brand new — the whole vertex set is the frontier
    var changedRegs = regs
    var frontierEmpty = false
    val deltas = scala.collection.mutable.ListBuffer.empty[DataFrame]
    val frontierSizes = scala.collection.mutable.ListBuffer.empty[Long]
    (1 to rounds).foreach { t =>
      if (!frontierEmpty) {
        // contributions from CHANGED neighbors only (see invariant above)
        val contrib = e.join(changedRegs, e("dst") === changedRegs("vid"))
          .select(e("src").as("vid"), changedRegs("bucket"), changedRegs("register"))
        val cand = contrib.select("vid").distinct().localCheckpoint(false)
        val candOld = regs.join(maybeBroadcast(cand), Seq("vid"), "left_semi")
          .localCheckpoint(false)
        val candRegs = candOld.unionAll(contrib)
          .groupBy("vid", "bucket").agg(max(col("register")).as("register"))
          .localCheckpoint(false)
        // a bucket appeared or a register strictly grew ⇒ the ball changed
        // (registers never shrink and sparse rows never disappear, so an
        // unchanged candidate's row set is bit-identical to its old one)
        val changedVids = candRegs
          .join(candOld.withColumnRenamed("register", "old_register"),
            Seq("vid", "bucket"), "left")
          .where(col("old_register").isNull || col("register") > col("old_register"))
          .select("vid").distinct().localCheckpoint(false)
        // Job-count diet (same as corenessWithStats): all round frames
        // are LAZY checkpoints, and the frontier count is the round's
        // ONE driver action — it materializes the pending frames as a
        // side effect (vs the r8 shape's 5-6 eager jobs per round). The
        // per-round count is load-bearing: this round's frames feed
        // several next-round branches, and skipping materialization lets
        // each branch recompute them before the cache lands (measured —
        // see corenessWithStats).
        val nChanged = changedVids.count()
        if (collectStats) frontierSizes += nChanged
        if (nChanged == 0L) frontierEmpty = true
        else {
          changedRegs = candRegs.join(maybeBroadcast(changedVids), Seq("vid"), "left_semi")
            .localCheckpoint(false)
          val changedOld = candOld.join(maybeBroadcast(changedVids), Seq("vid"), "left_semi")
          deltas += Sketches.hllEstimateGrouped(changedOld, "vid", b)
            .withColumnRenamed("approx_distinct", "old_est")
            .join(Sketches.hllEstimateGrouped(changedRegs, "vid", b)
              .withColumnRenamed("approx_distinct", "new_est"), Seq("vid"))
            .localCheckpoint(false)
          // the coalesce re-bounds partition count after the union
          // appends the delta's partitions (narrow, no shuffle)
          regs = regs.join(maybeBroadcast(changedVids), Seq("vid"), "left_anti")
            .unionAll(changedRegs).coalesce(baseParts)
          // checkpoint every OTHER round: one round of broadcast
          // anti-join + union lineage re-derives cheaply (measured — see
          // the pre-frontier cadence note in git history)
          if (t % 2 == 0 || t == rounds) regs = regs.localCheckpoint(false)
        }
      } else if (collectStats) frontierSizes += 0L
    }
    (est0, deltas.toSeq, frontierSizes.toSeq)
  }

  /** HyperANF (Boldi, Rosa & Vigna 2011): the NEIGHBORHOOD FUNCTION
    * NF(t) = |{(v, u) : u reachable from v in ≤ t hops}| — estimated in
    * O(V · 2^b) state instead of the O(V²) worst case of exact
    * transitive closure. Each vertex keeps a [[Sketches]] HyperLogLog of
    * its ball B_t(v); the update B_{t+1}(v) = B_t(v) ∪ ⋃_{(v,w)∈E}
    * B_t(w) is register-wise MAX — so one round is exactly the SSSP
    * relaxation shape: one edge⋈register join plus one (vid, bucket)
    * max-combine groupBy, map-side partial max, ≤ 2^b rows per vertex
    * on the wire no matter how large the balls get. That constant-state
    * merge is the whole point at 100 TB: exact NF explodes on the first
    * dense layer, the sketch never grows.
    *
    * Returns one row per t ∈ [0, rounds]: (t, approx_pairs) where
    * approx_pairs = Σ_v round(estimate(B_t(v)), 6) summed as
    * DECIMAL(38,6) — per-vertex estimates are deterministic scalars and
    * the decimal sum is exact and order-independent, so the WHOLE curve
    * (registers, estimates, totals) replays bit-for-bit in an external
    * SQL oracle via the portable md5 hash. NF's growth curve yields the
    * effective-diameter / average-distance statistics of the reference's
    * graph-shape reporting without ever materializing a pairs table.
    *
    * Balls only grow, so regs_t(v) is EXACTLY the HLL of the true
    * t-ball (spec-checked against registers built directly from the
    * closure) — the estimate error is HLL's 1.04/√m, nothing more.
    * Propagation is the CHANGED-VERTEX frontier of
    * [[hllBallDeltas]]: per-round work tracks the still-growing
    * balls, not V·2^b, with identical estimates. */
  def hyperAnf(edges: DataFrame, rounds: Int, b: Int = Sketches.HllBits,
      srcCol: String = "src", dstCol: String = "dst"): DataFrame = {
    require(rounds >= 0 && rounds <= 64, s"hyperAnf rounds=$rounds outside [0, 64]")
    val (est0, deltas, _) = hllBallDeltas(edges, rounds, b, srcCol, dstCol)
    // NF(t) = NF(t−1) + Σ_changed(round₆(new) − round₆(old)): the
    // unchanged terms cancel exactly (identical registers ⇒ identical
    // estimates), so the curve assembles from ONE V-row aggregate (t=0)
    // plus frontier-sized per-round delta aggregates — the previous
    // T+1-table union re-materialized the whole V-row estimate chain,
    // with branches racing to recompute shared rounds. The cumulative
    // window runs over ≤ 65 one-row frames.
    val dec = "decimal(38,6)"
    val nf0 = est0.agg(coalesce(sum(col("approx_distinct").cast(dec)),
        lit(0).cast(dec)).cast(dec).as("d"))
      .select(lit(0).as("t"), col("d"))
    val deltaRows = deltas.zipWithIndex.map { case (d, i) =>
      d.agg((coalesce(sum(col("new_est").cast(dec)), lit(0).cast(dec))
          - coalesce(sum(col("old_est").cast(dec)), lit(0).cast(dec)))
        .cast(dec).as("d"))
        .select(lit(i + 1).as("t"), col("d"))
    }
    // rounds past the fixpoint are exact no-ops — pad zero deltas
    val spark = edges.sparkSession
    val zeroPad = (deltas.size + 1 to rounds).map(t =>
      spark.range(1).select(lit(t).as("t"), lit(0).cast(dec).as("d")))
    // global window, bounded input: one row per round (rounds + 1 rows)
    val w = GlobalWindow.orderBy(col("t"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    (Seq(nf0) ++ deltaRows ++ zeroPad).reduce(_ unionAll _)
      .withColumn("approx_pairs", sum(col("d")).over(w).cast(dec))
      .select(col("t").cast("int").as("t"), col("approx_pairs"))
  }

  /** k-truss decomposition (Cohen 2008): the maximal subgraph in which
    * EVERY edge closes ≥ k−2 triangles within the subgraph — the
    * cohesion notion between "connected" and "clique", and unlike
    * k-core it is triangle-based, so bipartite fluff dies immediately.
    * Iterative support peeling: per round, per-edge support =
    * |N(a) ∩ N(b)| via one wedge join (edges ⋈ adjacency on a,
    * adjacency-membership semi-check on (b, c)) + one count groupBy;
    * edges below k−2 drop; repeat to the FIXPOINT — which is unique
    * (trajectory-independent), so an external oracle can replay peel
    * rounds with identity padding and meet the exact same set. Returns
    * (a, b, support) with canonical a < b and the support AT the
    * fixpoint. Per round the shuffle carries (a, b, c) wedge rows —
    * bounded by Σ_edge deg(a); the subgraph only shrinks. */
  def kTruss(edges: DataFrame, k: Int, srcCol: String = "src",
      dstCol: String = "dst", maxRounds: Int = 64): DataFrame = {
    require(k >= 3, s"k-truss needs k >= 3 (got $k)")
    var e = edges
      .select(least(col(srcCol), col(dstCol)).cast("long").as("a"),
        greatest(col(srcCol), col(dstCol)).cast("long").as("b"))
      .where(col("a").isNotNull && col("b").isNotNull && col("a") =!= col("b"))
      .distinct().localCheckpoint(true)
    var n = e.count()
    var rounds = 0
    var sup: DataFrame = null
    var converged = n == 0L
    while (!converged) {
      rounds += 1
      require(rounds <= maxRounds, s"k-truss exceeded $maxRounds peel rounds")
      val und = e.select(col("a").as("u"), col("b").as("v"))
        .unionAll(e.select(col("b").as("u"), col("a").as("v")))
      val wedges = e.join(und.as("x"), col("x.u") === col("a"))
        .select(col("a"), col("b"), col("x.v").as("c"))
      val closed = wedges.join(und.select(col("u").as("b"), col("v").as("c")),
        Seq("b", "c"), "left_semi")
      val s = closed.groupBy("a", "b").agg(count(lit(1)).as("support"))
      sup = e.join(s, Seq("a", "b"), "left")
        .select(col("a"), col("b"), coalesce(col("support"), lit(0L)).as("support"))
        .localCheckpoint(true)
      e = sup.where(col("support") >= k - 2).select(col("a"), col("b"))
        .localCheckpoint(true)
      val m = e.count()
      converged = m == n
      n = m
    }
    if (sup == null) e.withColumn("support", lit(0L)).limit(0)
    else sup.where(col("support") >= k - 2)
  }

  /** LCM(1..10): multiplying 1/t by this keeps every harmonic term
    * INTEGRAL for horizons ≤ 10 — the all-integer form that survives any
    * aggregation order and any engine. */
  val HarmonicScale = 2520L

  /** HyperBall harmonic centrality (Boldi & Vigna 2013 — the algorithm
    * behind the "four degrees of separation" measurement): per-vertex
    * truncated harmonic centrality H_T(v) = Σ_{u≠v, d(v,u)≤T} 1/d(v,u),
    * estimated from the SAME per-vertex HLL ball registers as
    * [[hyperAnf]] via H(v) ≈ Σ_t (|B_t(v)| − |B_{t−1}(v)|)/t. Exact
    * closeness/harmonic centrality needs all-pairs BFS — O(V·E), dead at
    * scale; HyperBall is T rounds of the SSSP relaxation shape over
    * O(V·2^b) state.
    *
    * Determinism contract: per-round per-vertex estimates are frozen to
    * integer MICRO-units (round(·,6)·10⁶ — each a deterministic scalar),
    * and each 1/t weight is applied as the exact integer
    * [[HarmonicScale]]/t, so the output column `h_scaled` equals the true
    * ball-difference sum times 2520·10⁶ with NO floating accumulation
    * anywhere — bit-replayable by an external SQL oracle, hash-gate
    * compatible like every graft sketch. Divide by 2.52e9 for the
    * conventional value.
    *
    * Plan shape: the T register rounds, then ONE union of the T+1
    * per-round estimate tables (V rows each) → one lag-window per vid →
    * one sum groupBy: two shuffles beyond the propagation loop, nothing
    * quadratic. */
  def hyperBallHarmonic(edges: DataFrame, rounds: Int,
      b: Int = Sketches.HllBits, srcCol: String = "src",
      dstCol: String = "dst"): DataFrame = {
    require(rounds >= 1 && rounds <= 10,
      s"hyperBallHarmonic rounds=$rounds outside [1, 10] (HarmonicScale covers 1..10)")
    // CHANGED-VERTEX frontier propagation (hllBallDeltas) — identical
    // per-round estimates, per-round work proportional to still-growing
    // balls instead of V·2^b. H(v) accumulates ONLY from rounds where
    // v's ball grew (unchanged rounds have dm = 0 exactly: identical
    // registers ⇒ identical micro-frozen estimates), so the per-vertex
    // sum runs over the union of frontier-sized delta frames instead of
    // the T+1 V-row estimate tables + lag window the previous form paid.
    val (est0, deltas, _) = hllBallDeltas(edges, rounds, b, srcCol, dstCol)
    def micro(c: Column): Column =
      (c.cast("decimal(32,6)") * lit(1000000)).cast("long")
    val terms = deltas.zipWithIndex.map { case (d, i) =>
      val t = i + 1
      d.select(col("vid"),
        ((micro(col("new_est")) - micro(col("old_est")))
          * lit(HarmonicScale / t)).as("term"))
    }
    val allV = est0.select(col("vid"))
    if (terms.isEmpty) allV.select(col("vid"), lit(0L).as("h_scaled"))
    else allV.join(terms.reduce(_ unionAll _).groupBy("vid")
        .agg(sum(col("term")).cast("long").as("__h")), Seq("vid"), "left")
      .select(col("vid"), coalesce(col("__h"), lit(0L)).as("h_scaled"))
  }

  /** Degree distribution of the unified graph: how many vertices have each
    * (in+out) degree — the classic first look at any 100 TB graph. */
  def degreeDistribution(g: PropertyGraph): DataFrame = {
    val (edges, _) = unifiedEdges(g)
    val deg = edges.select(col("src").as("vid"))
      .unionAll(edges.select(col("dst").as("vid")))
      .groupBy("vid").agg(count(lit(1)).as("degree"))
    deg.groupBy("degree").agg(count(lit(1)).as("n_vertices"))
  }
}

/** Pregel-style iterative propagation on DataFrames (SURVEY §2.4 #19):
  * connected components by star rounds.
  *
  * GraphX keeps the graph as RDDs with full lineage; at very large scale
  * (or many iterations) lineage growth and RDD serialization become the
  * bottleneck. These rounds keep everything in DataFrames — joins get AQE
  * skew handling, Tungsten encoding, and codegen — and truncate the plan
  * with localCheckpoint every few rounds, which is the standard recipe for
  * iterative DataFrame algorithms.
  */
object DataFramePregel {

  /** Per-task state cap for the two-level contraction's partition-local
    * union-find: past this many live vertices the task emits its current
    * forest and resets (segmenting a partition only produces more, still
    * valid, star pieces). Sized for CONCURRENCY, not one task: union-find
    * state is plain JVM heap the task memory manager cannot see, so the
    * real budget is cap × task slots against the user-space fraction
    * (1 − spark.memory.fraction). 2M entries ≈ 100 MB (LongMap slot
    * arrays + one segment's primitive key/root arrays) × 32 slots ≈
    * 3.2 GB — inside the default 40% user space of a 16 GB executor. The
    * r11 sf10 probe measured the 4M original: 32 concurrent ~200 MB
    * untracked maps squeezed the unified pool to UNABLE_TO_ACQUIRE_MEMORY
    * task failures. Bounded regardless of how many edges a 100 TB scan
    * packs into one split. */
  private[operators] val ContractionFlushEntries = 2 * 1000 * 1000

  /** Connected components by alternating large-star/small-star rounds
    * (Kiveris et al., "Connected Components in MapReduce and Beyond",
    * SoCC'14) — converges in O(log n) rounds where plain min-id
    * propagation needs O(diameter), the difference between 7 and 10,000
    * rounds on a chain-shaped web graph.
    *
    * Each round is two shuffle stages over the (shrinking) edge list:
    *   large-star: every node's strictly-larger neighbors re-attach to
    *     the minimum of its neighborhood (incl. itself);
    *   small-star: every node's smaller neighbors (and the node) attach
    *     to the minimum neighbor.
    * At fixpoint the edge list IS the component star (child → root-min).
    *
    * `checkpointDir` switches lineage truncation from executor-memory
    * `localCheckpoint` to reliable on-disk checkpointing — at very large
    * scale (or on preemptible executors) localCheckpoint blocks are lost
    * with the executor and the job restarts from zero; reliable
    * checkpoints survive. Convergence probe is an order-insensitive
    * one-row checksum of the edge list, not a full diff.
    *
    * Adaptive local fallback: the first checksum yields the canonical
    * edge count for free; when it is ≤ `localThreshold` the component
    * structure fits comfortably on the driver, and path-compressed
    * union-find beats N distributed rounds of fixed per-stage cost — the
    * same small-side-localization logic as a broadcast join (AQE does the
    * plan-level analog at runtime). This is the common case for the
    * near-dup CLUSTER step: LSH candidate pairs are corpus-tiny even when
    * the corpus is 100 TB. Unioning to the smaller root keeps the
    * invariant component id = min member id — identical output to the
    * distributed rounds (spec-checked). `localThreshold = 0` forces the
    * distributed path. The 4M-edge default is sized to the driver
    * footprint, not the cluster: 4M canonical edges is 64 MB of raw
    * longs (a few hundred MB with Row overhead, under default
    * spark.driver.maxResultSize), while each avoided star round costs
    * 3-4 shuffles plus two actions of fixed latency. */
  def connectedComponents(edges: DataFrame, srcCol: String = "src", dstCol: String = "dst",
      maxIter: Int = 30, checkpointDir: Option[String] = None,
      localThreshold: Long = 4000000L): DataFrame =
    connectedComponentsWithRounds(edges, srcCol, dstCol, maxIter, checkpointDir, localThreshold)._1

  /** @param flushEntries test-injection override of
    * [[ContractionFlushEntries]] — a tiny cap forces many forest
    * segments per partition, pinning the streaming emitter's
    * segment-boundary correctness on graphs where it is checkable. */
  private[operators] def connectedComponentsWithRounds(
      edges: DataFrame, srcCol: String = "src", dstCol: String = "dst",
      maxIter: Int = 30, checkpointDir: Option[String] = None,
      localThreshold: Long = 4000000L,
      flushEntries: Int = ContractionFlushEntries): (DataFrame, Int) = {
    val spark = edges.sparkSession
    checkpointDir.foreach(spark.sparkContext.setCheckpointDir)
    // Memory-aware pin level (the r11 sf10 finding): a default-level
    // localCheckpoint stores DESERIALIZED row objects — ~100 B/row for a
    // bare long-pair list, 4-5x the data bytes — and at 10x-past-design
    // volume the accumulated staging pins starved execution memory into
    // UNABLE_TO_ACQUIRE task failures and executor-killing OOMs. Pins
    // whose estimated row count would claim more than ~15% of the heap
    // go DISK_ONLY (serialized blocks, zero heap residency; local-disk
    // re-reads are sequential and page-cached). The ceiling is MEMORY-
    // derived, NOT the volume-partitioning cap: at sf1 the 13.7M-row
    // staging pins fit comfortably (tying the level to the 9.6M-row
    // partitioning cap sent them all to disk and cost ~2x the wall at
    // identical bytes — measured, this round), while sf10's 136M rows
    // (~13 GB deserialized) are exactly what must not sit in protected
    // storage. Executor-heap-derived ([[GraphAnalytics.pinRowCeiling]]):
    // the blocks live on executors, not the driver.
    val memPinRowCeiling: Long = GraphAnalytics.pinRowCeiling(spark)
    def ckpt(df: DataFrame, rowsHint: Long): DataFrame =
      if (checkpointDir.isDefined) df.checkpoint(true)
      else if (rowsHint > memPinRowCeiling)
        df.localCheckpoint(true, org.apache.spark.storage.StorageLevel.DISK_ONLY)
      else df.localCheckpoint(true)

    // materialize the bare (src, dst) pair ONCE: allV and the canonical
    // edge list both scan it, and the caller's lineage (for the unified
    // graph, a union of per-pattern joins) is far more expensive than
    // one 2-column materialization — previously each derived table
    // re-ran that lineage from scratch. TWO-PHASE pin: the row count is
    // unknowable before materializing, so pin at the default memory
    // level first, count from memory (fast), and past the memory
    // ceiling DEMOTE — re-checkpoint the blocks to DISK_ONLY and free
    // the memory copy. The demote pass costs one extra scan exactly
    // when the list is 10x past design volume; below the ceiling (every
    // driver-gate SF and sf1) nothing changes. Measured: default-level
    // eIn at sf10 (136M rows ≈ 13 GB deserialized in protected storage)
    // fails the very next aggregation with AGGREGATE_OUT_OF_MEMORY;
    // DISK_ONLY completes the query.
    val (eIn, eInRowsExact) =
      GraphAnalytics.pinTwoPhase(edges.select(col(srcCol).as("a"), col(dstCol).as("b")))

    // every vertex that appears anywhere — singletons and roots must show
    // up in the final assignment even though stars drop them from edges.
    // Deliberately LAZY: its one consumer is the final assignment join,
    // and with eIn materialized the recompute is a cheap 2-column scan —
    // eagerly caching it here would be a pure extra pre-loop action
    val allV = eIn.select(col("a").as("vid"))
      .unionAll(eIn.select(col("b").as("vid"))).distinct()

    // TWO-LEVEL CONTRACTION (the standard distributed-CC staging: local
    // spanning forest per partition, then the global algorithm on the
    // forest). A partition-local union-find over eIn's EXISTING layout —
    // zero shuffle, one narrow pass — replaces each partition's subgraph
    // by its spanning star pieces (vid → partition-local min). Two
    // vertices are connected in G iff they are connected in the union of
    // the per-partition forests (every dropped edge joins vertices
    // already linked through the emitted star piece), and min-id labels
    // are trajectory-independent, so the star rounds below — and the
    // SQL oracle — are untouched; they just start from a 2-3x smaller
    // edge list (sf1: 13.7M canonical edges → ≤ 4.9M forest rows,
    // cutting round 0's three edge-sized exchanges, the suite's largest
    // shuffle). State is BOUNDED: past ContractionFlushEntries the task
    // emits its current forest and resets — splitting a partition into
    // segments only yields more (still-valid) star pieces, so memory is
    // capped no matter how large a 100 TB scan partition gets.
    // Output is already canonical (child > its min-root, self-loops
    // gone), exactly what the star rounds consume.
    val aType = eIn.schema("a").dataType
    // The contraction (and its pre-probe) and the local union-find
    // fallback funnel vertex ids through cast("long"); a non-integral
    // vid type (e.g. string) would yield nulls that the (Long, Long)
    // encoder turns into 0s — silent component corruption. The star
    // rounds themselves are type-generic (greatest/least), so
    // non-integral ids simply skip the long-typed shortcuts.
    val integralVids = aType match {
      case org.apache.spark.sql.types.ByteType | org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.IntegerType | org.apache.spark.sql.types.LongType => true
      case _ => false
    }
    import spark.implicits._
    val ePairs = eIn
      .where(col("a") =!= col("b"))
      .select(col("a").cast("long"), col("b").cast("long"))
      .as[(Long, Long)]
    // STREAMING segment emitter: the r11 sf10 probe caught the previous
    // shape buffering the ENTIRE partition's forest in one ArrayBuffer
    // of boxed pairs — memory grew with partition size, defeating the
    // flush cap's whole point. This iterator holds at most ONE live
    // union-find map plus ONE flushed segment as two primitive long
    // arrays; pairs are boxed only transiently as the encoder consumes
    // them.
    def contractIter(it: Iterator[(Long, Long)]): Iterator[(Long, Long)] =
        new Iterator[(Long, Long)] {
          private var parent = scala.collection.mutable.LongMap.empty[Long]
          private var segK: Array[Long] = null // flushed segment: child ids
          private var segR: Array[Long] = null // flushed segment: their roots
          private var segN = 0
          private var segI = 0
          private var exhausted = false
          private def find(x: Long): Long = {
            var r = x
            while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
            var c = x
            while (parent.getOrElse(c, c) != c) { val n = parent(c); parent.update(c, r); c = n }
            r
          }
          /** Drain the live forest into the segment arrays and reset. */
          private def flushSeg(): Unit = {
            // snapshot keys first: find() path-compresses (mutates) the map
            val ks = parent.keysIterator.toArray
            segK = new Array[Long](ks.length)
            segR = new Array[Long](ks.length)
            segN = 0; segI = 0
            var i = 0
            while (i < ks.length) {
              val v = ks(i); val r = find(v)
              if (r != v) { segK(segN) = v; segR(segN) = r; segN += 1 }
              i += 1
            }
            parent = scala.collection.mutable.LongMap.empty[Long]
          }
          /** Consume input edges until the cap flushes a segment or the
            * input ends (final flush). */
          private def advance(): Unit = {
            while (segI >= segN && !exhausted) {
              if (!it.hasNext) { flushSeg(); exhausted = true }
              else {
                var flushed = false
                while (it.hasNext && !flushed) {
                  val (a, b) = it.next()
                  if (!parent.contains(a)) parent.update(a, a)
                  if (!parent.contains(b)) parent.update(b, b)
                  val (ra, rb) = (find(a), find(b))
                  if (ra != rb) { // attach larger root under smaller: root = local min
                    if (ra < rb) parent.update(rb, ra) else parent.update(ra, rb)
                  }
                  if (parent.size >= flushEntries) { flushSeg(); flushed = true }
                }
              }
            }
          }
          def hasNext: Boolean = { advance(); segI < segN }
          def next(): (Long, Long) = {
            advance()
            val p = (segK(segI), segR(segI)); segI += 1; p
          }
        }

    // LOCALITY PRE-PROBE (r11 sf10 finding): contraction only pays when
    // partitions reuse vertices heavily — per-partition forest rows =
    // distinct vids − local components, which at LOW locality (each
    // partition a sparse slice of a huge id space) approaches the
    // partition's edge count, so the "contraction" emits roughly the
    // input again after a full expensive pass (measured at sf10: a
    // ~5-minute pass whose output EXCEEDED round-0's raw exchange).
    // Run the identical union-find on 8 STRIDED sample partitions
    // (runJob touches only those) and skip the full pass unless the
    // sampled edges shrink by ≥ 25%. Strided, not first/middle/last: a
    // unioned edge list's partition ranges group by PATTERN (an N:1
    // pattern's partitions never shrink — every child vertex is
    // distinct — while co-occurrence-shaped ones shrink heavily), so a
    // 3-point sample can land entirely in one stratum; 8 strides cover
    // every pattern block and the in/out sums weight them by actual
    // edge volume.
    val eRdd = ePairs.rdd
    val nPart = eRdd.getNumPartitions
    val probeParts =
      if (!integralVids) Nil // non-integral vids: no contraction, no probe
      else if (nPart <= 8) (0 until nPart).toList
      else (0 until 8).map(i => (i.toLong * nPart / 8).toInt).distinct.toList
    // each sample union-finds its FULL partition (one 8-task wave,
    // ~7 s at sf1): shrink is volume-dependent — forest rows =
    // distinct vids − components, and vertices only start repeating
    // once a task has seen O(V_partition) edges — so a row-capped
    // prefix systematically reads "no shrink" on partitions that
    // shrink 3-4x in full (measured at sf1: 300k-prefix samples said
    // skip; the full partitions read 6.15M → 1.63M)
    val probeRes: Array[(Long, Long)] =
      if (probeParts.isEmpty) Array((0L, 0L))
      else spark.sparkContext.runJob(eRdd,
        (it: Iterator[(Long, Long)]) => {
          var n = 0L
          var c = 0L
          val out = contractIter(it.map { p => n += 1; p })
          while (out.hasNext) { out.next(); c += 1 }
          (n, c)
        }, probeParts)
    val (sampleIn, sampleOut) =
      (probeRes.iterator.map(_._1).sum, probeRes.iterator.map(_._2).sum)
    val contractionPays = sampleIn > 0 && sampleOut * 4 <= sampleIn * 3
    // full-partition samples → a volume estimate for the FOREST
    // checkpoint's storage-level pick. Extrapolate the sampled forest
    // rows, not the input (forest ≤ input, and the strides hit the
    // biggest partitions, so the input extrapolation over-shoots the
    // memory ceiling and sent sf1's 4.9M-row forest to disk — measured)
    val forestRowsEst =
      if (probeParts.isEmpty) 0L else sampleOut * nPart / probeParts.size

    // raw fallback: the canonical multiset view of eIn (child = greater
    // id, root candidate = smaller — the orientation the star rounds
    // consume). Lazy narrow projection over the pinned eIn blocks;
    // duplicates are harmless to the window-min star phases and the
    // round-0 distinct removes them on the first exchange.
    def rawCanonical: DataFrame = eIn.where(col("a") =!= col("b"))
      .select(greatest(col("a"), col("b")).as("u"), least(col("a"), col("b")).as("v"))

    var e: DataFrame =
      if (!contractionPays) rawCanonical
      else ckpt(ePairs
        .mapPartitions(contractIter)
        .toDF("u", "v")
        .select(col("u").cast(aType).as("u"), col("v").cast(aType).as("v")), forestRowsEst)

    // Convergence = the edge list IS a star (every u appears exactly once
    // and never as a v): stars are exactly the fixpoints of the
    // alternating large/small-star operators (Kiveris et al. §3 — one
    // more round maps a star to itself, shown by replaying both phases),
    // so testing star-ness on the ROUND OUTPUT converges one full round
    // earlier than the previous checksum-equality probe, which had to
    // re-run a round to observe "nothing changed". One V-sized
    // map-combined exchange per probe, and the same aggregate yields the
    // edge count the per-round partition sizing needs.
    def starProbe(df: DataFrame): (Long, Boolean) = {
      val r = df.select(col("u").as("x"), lit(1L).as("c"))
        .unionAll(df.select(col("v").as("x"), lit(0L).as("c")))
        .groupBy("x").agg(sum(col("c")).as("cn"), count(lit(1)).as("n"))
        .agg(coalesce(sum(col("cn")), lit(0L)),
          coalesce(max(col("cn") > 1 || (col("cn") >= 1 && col("n") > col("cn"))),
            lit(false)))
        .head()
      (r.getLong(0), !r.getBoolean(1))
    }

    var (edgeCount, isStar) = starProbe(e)
    // POST-GATE (belt to the pre-probe's braces): if heterogeneous
    // partitions fooled the 3-partition sample and the materialized
    // forest did NOT shrink ≥ 25% vs the input, feed the rounds the raw
    // canonical list instead — starProbe's edgeCount is exactly the
    // forest row count, so the check is free.
    if (contractionPays && !isStar && edgeCount * 4 > eInRowsExact * 3) {
      // the rejected forest is never read again — free its checkpoint
      // blocks NOW, or an edge-list-sized cache stays pinned in
      // protected storage for the whole run, precisely in the
      // adversarial-scale scenario this gate exists for (r11 ADVICE)
      org.apache.spark.sql.graft.DatasetBridge.unpersistCheckpoint(e)
      e = rawCanonical
      val p = starProbe(e)
      edgeCount = p._1; isStar = p._2
    }
    var rounds = 0
    var converged = edgeCount == 0 || isStar

    if (!converged && integralVids && edgeCount <= localThreshold) {
      import spark.implicits._
      val parent = scala.collection.mutable.LongMap.empty[Long]
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
        var c = x // path compression
        while (parent.getOrElse(c, c) != c) { val n = parent(c); parent.update(c, r); c = n }
        r
      }
      // ids collect as longs regardless of the input integral width (int
      // vid columns are common), and the assignment casts back to the
      // input type so local and distributed paths emit the same schema
      val vidType = allV.schema("vid").dataType
      e.select(col("u").cast("long"), col("v").cast("long")).collect().foreach { row =>
        val (ra, rb) = (find(row.getLong(0)), find(row.getLong(1)))
        if (ra != rb) { // attach the larger root under the smaller: root stays the min id
          if (ra < rb) parent.update(rb, ra) else parent.update(ra, rb)
        }
      }
      val assignments = parent.keysIterator.map(v => (v, find(v))).toSeq
      val assigned = allV
        .join(assignments.toDF("vid", "component")
          .select(col("vid").cast(vidType), col("component").cast(vidType)), Seq("vid"), "left")
        .select(col("vid"), coalesce(col("component"), col("vid")).as("component"))
      return (assigned, 0)
    }
    // Each round runs as ONE linear pipeline over three explicit hash(u)
    // exchanges: both star phases are single-pass WINDOW aggregations
    // over the clustering instead of groupBy-then-self-join — the min of
    // a neighborhood rides `min() over (partition by u)` on the already-
    // hash(u)-partitioned rows, so no phase reads its input twice and no
    // intermediate needs a persist (a second consumer was the old form's
    // hidden cost: each groupBy AND each join re-exchanged the same edge
    // list — ~9 edge-sized shuffles per round and, when fused into the
    // round's single job, duplicate computation of the shared stages).
    // Window buffering per group is bounded by the hub degree (tens of
    // MB at worst) and spills via UnsafeExternalSorter beyond the
    // in-memory threshold, so hubs degrade gracefully.
    // Partition counts are volume-sized per round from the canonical
    // edge count the convergence checksum already paid for (~300k rows
    // per partition, capped at the config value — [[volumeParts]]):
    // star rounds shrink the edge list geometrically, and late
    // frontier-small rounds at a static count are pure stage-launch cost.
    def volParts(rows: Long): Int = GraphAnalytics.volumeParts(spark, rows)
    import org.apache.spark.sql.expressions.Window
    while (rounds < maxIter && !converged) {
      val parts = volParts(2L * edgeCount)
      // ---- large-star: every neighbor v > u re-attaches to
      // m = min(N(u) ∪ {u}), computed in the same pass that emits
      val und = e.select(col("u"), col("v"))
        .unionAll(e.select(col("v").as("u"), col("u").as("v")))
        .repartition(parts, col("u"))
      val large = und
        .withColumn("m", least(min(col("v")).over(Window.partitionBy("u")), col("u")))
        .where(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .repartition(parts, col("u"))
      // ---- small-star: all smaller neighbors (and u itself) attach to
      // the min neighbor. One ordered window pass: first() over the
      // v-ascending frame is the group min, and row_number()==1 marks a
      // single designated emitter for the (u, m) root row (duplicates of
      // (u, v) may exist — large skips its distinct — so "v == m" could
      // fire twice; rn==1 cannot). Each row then explodes into its 0-2
      // output pairs and the round-end distinct rides the final hash(u)
      // exchange (hash(u) co-locates equal (u, v) rows).
      val wOrd = Window.partitionBy("u").orderBy("v")
      val small = large
        .withColumn("m", first(col("v")).over(wOrd))
        .withColumn("rn", row_number().over(wOrd))
        .select(explode(array(
          when(col("v") =!= col("m"),
            struct(col("v").as("u"), col("m").as("v"))),
          when(col("rn") === 1,
            struct(col("u").as("u"), col("m").as("v"))))).as("p"))
        .where(col("p").isNotNull)
        .select(col("p.u").as("u"), col("p.v").as("v"))
        .repartition(parts, col("u"))
        .distinct()
      // one eager action materializes the whole round; the pin level is
      // volume-aware (DISK_ONLY past the cap — round 0 of a 10x-scale
      // list must not park gigabytes of deserialized rows in protected
      // storage; rounds shrink geometrically back under the cap)
      e = ckpt(small, 2L * edgeCount)
      val probe = starProbe(e)
      edgeCount = probe._1; isStar = probe._2
      converged = isStar
      rounds += 1
    }

    // at fixpoint e is (child, root); roots/singletons map to themselves
    val assigned = allV
      .join(e.select(col("u").as("vid"), col("v").as("component")), Seq("vid"), "left")
      .select(col("vid"), coalesce(col("component"), col("vid")).as("component"))
    (assigned, rounds)
  }
}
