package graft.operators

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
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
  *   - ONE `collect()` of the edge frame, and nothing else for edges;
  *   - edges are deduplicated, and parallel weighted edges keep their
  *     minimum weight (the distributed loops' min-collapse);
  *   - or, with `sumParallel`, every row counts (the rank family's
  *     `count(1)` and `sum(w)`): a pair's weight is the sum of its rows'
  *     weights, or its multiplicity (row count) when unweighted, so the
  *     graph is always weighted;
  *   - `undirected` stores both directions of every edge;
  *   - under min-collapse, rows with a null endpoint or weight are
  *     dropped, as the distributed equi-joins and `min` drop them; under
  *     sum-collapse such a row makes the graph `None`, since dropping it
  *     would change every count it belongs to;
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
    val vidType: DataType) {

  def numVertices: Int = vids.length

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

  /** Vertex `i`'s id as a value of [[vidType]], for output rows. */
  def vid(i: Int): Any = LocalGraph.narrow(vids(i), vidType)

  /** The vertex ids as a one-column LocalRelation of [[vidType]]: the
    * frame a replay runs the distributed loop's own hash expressions
    * over (Bc pivots, MIS priorities, HLL registers), so those values
    * come out of the same Spark expressions in both paths. */
  def vertexFrame(spark: SparkSession, colName: String): DataFrame =
    org.apache.spark.sql.graft.DatasetBridge.localRelation(spark,
      StructType(Seq(StructField(colName, vidType))),
      vids.indices.map(i => Row(vid(i))))
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
    * when `directedRows > cap`, `cap <= 0` (the hook specs use to force
    * the distributed loop), or an endpoint or extra-vid column (under
    * `sumParallel`, also the weight column) is not Byte/Short/Int/Long.
    *
    * @param directedRows the caller's bound on the edge frame's rows;
    *   the gate never executes the lineage
    * @param weightCol integral weight column of `edges`, if weighted
    * @param extraVids frame whose first column names vertices to keep
    *   even when isolated (SSSP sources); their indices are [[LocalGraph.extra]]
    * @param sumParallel sum-collapse instead of min-collapse (see the
    *   class contract); also `None` when a row has a null
    */
  def collect(edges: DataFrame, directedRows: Long, cap: Long,
      undirected: Boolean, weightCol: Option[String] = None,
      extraVids: Option[DataFrame] = None, sumParallel: Boolean = false): Option[LocalGraph] = {
    val wIdx = weightCol.map(edges.schema.fieldIndex)
    val types = edges.schema.take(2).map(_.dataType) ++
      extraVids.map(_.schema.head.dataType)
    val wIntegral = !sumParallel || wIdx.forall(i => rank(edges.schema(i).dataType) >= 0)
    if (cap <= 0 || directedRows > cap || !types.forall(rank(_) >= 0) || !wIntegral)
      return None
    def complete(r: Row): Boolean =
      !r.isNullAt(0) && !r.isNullAt(1) && wIdx.forall(!r.isNullAt(_))
    val all = edges.collect()
    val rows = if (!sumParallel) all.filter(complete)
      else if (all.forall(complete)) all
      else return None
    def long(r: Row, i: Int): Long = r.getAs[Number](i).longValue()
    val extraRaw = extraVids.fold(Array.emptyLongArray)(x =>
      x.select(x.columns.head).collect().filter(!_.isNullAt(0)).map(long(_, 0)))
    val (us, vs) = (rows.map(long(_, 0)), rows.map(long(_, 1)))
    val ends = (us ++ vs ++ extraRaw).sorted
    var n = 0
    ends.indices.foreach { k =>
      if (k == 0 || ends(k) != ends(k - 1)) { ends(n) = ends(k); n += 1 }
    }
    val vids = java.util.Arrays.copyOf(ends, n)
    def idx(v: Long): Int = java.util.Arrays.binarySearch(vids, v)
    val (a, b) = (us.map(idx), vs.map(idx))
    val w = wIdx.map(i => rows.map(long(_, i)))
      .orElse(if (sumParallel) Some(Array.fill(rows.length)(1L)) else None)
      .map(ws => if (undirected) ws ++ ws else ws)
    Some(build(vids, if (undirected) a ++ b else a, if (undirected) b ++ a else b,
      w, extraRaw.map(idx).sorted.distinct, types.maxBy(rank),
      if (sumParallel) Math.addExact(_: Long, _: Long) else math.min(_: Long, _: Long)))
  }

  private def rank(t: DataType): Int = t match {
    case ByteType => 0
    case ShortType => 1
    case IntegerType => 2
    case LongType => 3
    case _ => -1
  }

  private def narrow(v: Long, t: DataType): Any = t match {
    case ByteType => v.toByte
    case ShortType => v.toShort
    case IntegerType => v.toInt
    case _ => v
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
