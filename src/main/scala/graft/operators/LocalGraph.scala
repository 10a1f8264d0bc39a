package graft.operators

import graft.cache.StageCache
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.graft.{ColumnBridge, DatasetBridge}
import org.apache.spark.sql.types._

/** Driver-local CSR graph — the one adjacency every collect-and-replay
  * operator builds: Brandes betweenness, Luby MIS, SSSP/BFS relaxation,
  * the coreness h-index rounds, the HyperANF registers, the ANF exact
  * closures and the rank family's driver backend ([[RankLoop]]). Each
  * replays exact integer arithmetic over the collected edge list, so the
  * driver run is bit-identical to its distributed loop, which stays as
  * the only path past the cap.
  *
  * Vertices are indexed `0 until numVertices` in ascending vid order
  * (`vids`). The out-neighbors of vertex `i` are
  * `nbrs(offsets(i) until offsets(i + 1))`, ascending, with `weights`
  * aligned when the graph is weighted. Everything is primitive arrays
  * built by sorting — no boxed pair, set or map per edge.
  *
  * The contract [[LocalGraph.collect]] gives every replay:
  *   - at most one job per frame and file set per session reads the edge
  *     frame, packed into primitive arrays, and nothing else reads edges;
  *     its row count is the size gate, so a caller runs no count or pin
  *     before it. The result is cached in [[graft.cache.StageCache]], so
  *     operators over the same frame share one graph, and a repeat runs
  *     no job;
  *   - the arrays are shared between every caller that reads the same
  *     frame: a replay reads `vids`, `offsets`, `nbrs`, `weights` and
  *     `extra` and never writes into them;
  *   - edges are deduplicated, and parallel weighted edges keep their
  *     minimum weight (the distributed loops' min-collapse);
  *   - or, with `sumParallel`, every row counts (the rank family's
  *     `count(1)` and `sum(w)`): a pair's weight is the sum of its rows'
  *     weights, or its multiplicity (row count) when unweighted, so the
  *     graph is always weighted;
  *   - `undirected` stores both directions of every edge;
  *   - the weight column is integral under either collapse;
  *   - under min-collapse, rows with a null endpoint or weight are
  *     dropped, as the distributed equi-joins and `min` drop them; under
  *     sum-collapse such a row makes the graph `None`, since dropping it
  *     would change every count it belongs to. Either way it counts
  *     toward the gate;
  *   - self-loops are kept: callers that exclude them filter first.
  */
final class LocalGraph private (
    val vids: Array[Long],
    val offsets: Array[Int],
    val nbrs: Array[Int],
    val weights: Option[Array[Long]],
    /** Indices of the caller's extra vids, ascending and distinct. */
    val extra: Array[Int],
    /** The widest integral type among the input vid columns — the type
      * the distributed loops' unions widen their vid column to. */
    val vidType: DataType) extends StageCache.Sized {

  def numVertices: Int = vids.length

  def sizeInBytes: Long = 8L * vids.length + 4L * offsets.length + 4L * nbrs.length +
    weights.fold(0L)(8L * _.length) + 4L * extra.length

  /** Index of `vid`, or -1 when it is not a vertex. */
  def index(vid: Long): Int = {
    val i = java.util.Arrays.binarySearch(vids, vid)
    if (i >= 0) i else -1
  }

  /** Calls `f` on each out-neighbor index of vertex `i`, ascending. */
  def foreachNbr(i: Int)(f: Int => Unit): Unit = {
    var j = offsets(i)
    while (j < offsets(i + 1)) { f(nbrs(j)); j += 1 }
  }

  /** In-adjacency: the same vertices with every edge reversed. */
  def reverse: LocalGraph = {
    val src = new Array[Int](nbrs.length)
    (0 until numVertices).foreach(i => java.util.Arrays.fill(src, offsets(i), offsets(i + 1), i))
    LocalGraph.build(vids, nbrs, src, weights, extra, vidType)
  }

  /** The vertex ids as a one-column frame of [[vidType]], served from a
    * broadcast ([[DatasetBridge.arrayFrame]]): the frame a replay runs the
    * distributed loop's own hash expressions over (Bc pivots, MIS
    * priorities, HLL registers), so those values come out of the same
    * Spark expressions in both paths. */
  def vertexFrame(spark: SparkSession, colName: String): DataFrame =
    DatasetBridge.arrayFrame(spark, StructType(Seq(StructField(colName, vidType))), Seq(vids))
}

object LocalGraph {

  /** Cap in directed edge rows for replays whose driver state is a few
    * longs per vertex and edge (Bc, MIS, SSSP/BFS, coreness, the rank
    * family): tens of MB at the cap. */
  val EdgeCap = 2000000L

  /** Cap in directed edge rows for replays whose per-vertex state is
    * wide: 2^b register bytes (HyperANF), or a per-source closure (the
    * ANF exact sides). V ≤ 2·E keeps registers ≤ 64 MB at b = 8. */
  val WideStateCap = 131072L

  /** The edge frame's first two columns as a [[LocalGraph]], or `None`
    * when the frame has more than `cap` rows, `cap <= 0` (the hook specs
    * use to force the distributed loop; no job runs), or an endpoint,
    * extra-vid or weight column is not Byte/Short/Int/Long.
    *
    * The result, `None` included, is cached in [[StageCache]] under
    * (cap, undirected, weightCol, sumParallel) and the fingerprints of
    * `edges` and `extraVids`, so a repeat on the same frame and files
    * runs no job; a `cap <= 0` or non-integral call is neither read nor
    * cached.
    *
    * The edges are read in ONE job, which is also the gate: each task
    * reads its endpoints (and weight) with typed getters into primitive
    * `long` arrays, counts its rows as it goes — null rows included —
    * and ships one block compressed with Spark's I/O codec, or only its
    * count once its partition passes `cap`. The driver keeps a running
    * total; once it passes `cap` the blocks are dropped and the job is
    * cancelled, so the driver never holds more than `cap` rows plus the
    * blocks in flight.
    *
    * @param weightCol integral weight column of `edges`, if weighted
    * @param extraVids frame whose first column names vertices to keep
    *   even when isolated (SSSP sources); their indices are [[LocalGraph.extra]]
    * @param sumParallel sum-collapse instead of min-collapse (see the
    *   class contract); also `None` when a row has a null
    */
  def collect(edges: DataFrame, cap: Long, undirected: Boolean,
      weightCol: Option[String] = None, extraVids: Option[DataFrame] = None,
      sumParallel: Boolean = false): Option[LocalGraph] = {
    val attrs = edges.queryExecution.analyzed.output
    val cols = attrs.take(2) ++ weightCol.map(c => attrs(edges.schema.fieldIndex(c)))
    val vidTypes = attrs.take(2).map(_.dataType) ++ extraVids.map(_.schema.head.dataType)
    if (cap <= 0 || !(vidTypes ++ cols.map(_.dataType)).forall(rank(_) >= 0)) return None
    StageCache.getOrCompute(edges.sparkSession, "LocalGraph.collect",
        (cap, undirected, weightCol, sumParallel), edges +: extraVids.toSeq: _*) {
      read(edges.select(cols.map(ColumnBridge.column): _*), cap, undirected, extraVids,
        sumParallel, vidTypes.maxBy(rank))
    }
  }

  /** [[collect]]'s read and build, uncached: `edges` is the projected
    * (src, dst[, weight]) frame. */
  private def read(edges: DataFrame, cap: Long, undirected: Boolean,
      extraVids: Option[DataFrame], sumParallel: Boolean, vidType: DataType): Option[LocalGraph] = {
    val edgeCols = packed(edges, cap)
      .filter(p => !sumParallel || !p.nulls).getOrElse(return None).cols
    val extraRaw = extraVids.fold(Array.emptyLongArray)(x =>
      packed(x.select(x.columns.head), Long.MaxValue).get.cols.head)
    val (us, vs) = (edgeCols(0), edgeCols(1))
    val ends = (us ++ vs ++ extraRaw).sorted
    var n = 0
    ends.indices.foreach { k =>
      if (k == 0 || ends(k) != ends(k - 1)) { ends(n) = ends(k); n += 1 }
    }
    val vids = java.util.Arrays.copyOf(ends, n)
    def idx(v: Long): Int = java.util.Arrays.binarySearch(vids, v)
    val (a, b) = (us.map(idx), vs.map(idx))
    val w = edgeCols.lift(2)
      .orElse(if (sumParallel) Some(Array.fill(us.length)(1L)) else None)
      .map(ws => if (undirected) ws ++ ws else ws)
    Some(build(vids, if (undirected) a ++ b else a, if (undirected) b ++ a else b,
      w, extraRaw.map(idx).sorted.distinct, vidType,
      if (sumParallel) Math.addExact(_: Long, _: Long) else math.min(_: Long, _: Long)))
  }

  /** The complete rows of a frame of integral columns, column by column,
    * and whether a row with a null was dropped. */
  private final case class Packed(cols: Array[Array[Long]], nulls: Boolean)

  /** One job over `df`'s integral columns (see [[collect]]): `None` once
    * the row count, null rows included, passes `cap`. */
  private def packed(df: DataFrame, cap: Long): Option[Packed] = {
    val ranks = df.schema.map(f => rank(f.dataType)).toArray
    val k = ranks.length
    val rdd = df.queryExecution.toRdd
    val sc = rdd.sparkContext
    val blocks = new Array[Block](rdd.getNumPartitions)
    var total = 0L
    @volatile var over = false
    @volatile var job: org.apache.spark.SimpleFutureAction[Unit] = null
    // the scheduler calls this once per task, under the job waiter's lock
    def received(p: Int, b: Block): Unit = if (!over) {
      total += b.rows
      if (total <= cap) blocks(p) = b
      else {
        over = true
        blocks.indices.foreach(blocks(_) = null)
        Option(job).foreach(_.cancel())
      }
    }
    job = sc.submitJob(rdd, (it: Iterator[InternalRow]) => pack(it, ranks, cap),
      blocks.indices, received, ())
    if (over) job.cancel()
    scala.concurrent.Await.ready(job, scala.concurrent.duration.Duration.Inf)
    if (over) return None
    job.value.get.get
    val cols = Array.fill(k)(new Array[Long](blocks.map(_.kept).sum))
    var at = 0
    blocks.foreach { b =>
      val in = new java.io.DataInputStream(DatasetBridge.decompressed(
        new java.io.ByteArrayInputStream(b.bytes)))
      val buf = new Array[Byte](b.kept * 8)
      cols.foreach { c =>
        in.readFully(buf)
        java.nio.ByteBuffer.wrap(buf).asLongBuffer().get(c, at, b.kept)
      }
      at += b.kept
    }
    Some(Packed(cols, blocks.exists(_.nulls)))
  }

  /** One task's share of [[packed]]: its row count, whether it dropped a
    * null row, and its complete rows as `kept` longs per column,
    * compressed; no rows once the count passes the cap. */
  private final case class Block(rows: Long, nulls: Boolean, kept: Int, bytes: Array[Byte])

  private def pack(it: Iterator[InternalRow], ranks: Array[Int], cap: Long): Block = {
    val k = ranks.length
    var cols = Array.fill(k)(new Array[Long](1024))
    var rows = 0L
    var kept = 0
    var nulls = false
    while (rows <= cap && it.hasNext) {
      val r = it.next()
      rows += 1
      var c = 0
      while (c < k && !r.isNullAt(c)) c += 1
      if (c < k) nulls = true
      else if (rows <= cap) {
        if (kept == cols(0).length) cols = cols.map(java.util.Arrays.copyOf(_, 2 * kept))
        c = 0
        while (c < k) {
          cols(c)(kept) = ranks(c) match {
            case 0 => r.getByte(c).toLong
            case 1 => r.getShort(c).toLong
            case 2 => r.getInt(c).toLong
            case _ => r.getLong(c)
          }
          c += 1
        }
        kept += 1
      }
    }
    if (rows > cap) Block(rows, nulls, 0, Array.emptyByteArray)
    else {
      val bytes = new java.io.ByteArrayOutputStream
      val out = DatasetBridge.compressed(bytes)
      val buf = java.nio.ByteBuffer.allocate(kept * 8)
      cols.foreach { c =>
        buf.clear()
        buf.asLongBuffer().put(c, 0, kept)
        out.write(buf.array())
      }
      out.close()
      Block(rows, nulls, kept, bytes.toByteArray)
    }
  }

  private def rank(t: DataType): Int = t match {
    case ByteType => 0
    case ShortType => 1
    case IntegerType => 2
    case LongType => 3
    case _ => -1
  }

  /** CSR from index-space edge arrays: an LSD radix sort (stable
    * counting sorts by dst, then by src) orders the edges by (src, dst)
    * in O(V + E), then one scan drops duplicates, folding each run's
    * weights with `merge` (min, or an exact sum). */
  private def build(vids: Array[Long], src: Array[Int], dst: Array[Int],
      w: Option[Array[Long]], extra: Array[Int], vidType: DataType,
      merge: (Long, Long) => Long = math.min(_: Long, _: Long)): LocalGraph = {
    val n = vids.length
    def stableSortBy(key: Array[Int], in: Array[Int]): Array[Int] = {
      val start = new Array[Int](n + 1)
      in.foreach(e => start(key(e) + 1) += 1)
      (0 until n).foreach(i => start(i + 1) += start(i))
      val out = new Array[Int](in.length)
      in.foreach { e => out(start(key(e))) = e; start(key(e)) += 1 }
      out
    }
    val order = stableSortBy(src, stableSortBy(dst, Array.range(0, src.length)))
    val offsets = new Array[Int](n + 1)
    val nbrs = new Array[Int](order.length)
    val weights = w.map(_ => new Array[Long](order.length))
    var len = 0
    var lastSrc = -1
    order.foreach { e =>
      if (lastSrc == src(e) && nbrs(len - 1) == dst(e)) {
        for (ws <- weights; wIn <- w) ws(len - 1) = merge(ws(len - 1), wIn(e))
      } else {
        lastSrc = src(e)
        nbrs(len) = dst(e)
        for (ws <- weights; wIn <- w) ws(len) = wIn(e)
        offsets(src(e) + 1) += 1
        len += 1
      }
    }
    (0 until n).foreach(i => offsets(i + 1) += offsets(i))
    new LocalGraph(vids, offsets, java.util.Arrays.copyOf(nbrs, len),
      weights.map(java.util.Arrays.copyOf(_, len)), extra, vidType)
  }
}
