package graft
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import java.util.concurrent.atomic.LongAdder

/** Benchmark main: one JSON line on stdout.
  *
  * Each query runs `SPARK_GRAFT_BENCH_REPS` times (default 3): the
  * headline per-query number is the MEDIAN (container timing noise was
  * measured at ±40% — single-shot numbers hid real regressions), the min
  * is the contention-free floor, and per-query shuffle/spill bytes from a
  * task-metrics listener make plan regressions (a new exchange, a spill)
  * visible even when wall-clock noise masks them. Bytes are taken from
  * the LAST rep — steady state, after JVM-lifetime caches (bucketed
  * staging, checkpoint reuse) have settled; first-rep timings still
  * include them, which is why the median is over all reps.
  *
  * Top-level shape is unchanged ({"metric","value","unit","queries",
  * "sf"}): "queries" now carries medians; "queries_detail" adds
  * {median, min, shuffle_bytes, spilled_bytes} per query.
  */
object Bench {

  /** Driver-side task-metric totals; deltas around a query give its
    * shuffle and spill footprint. Listener events are posted async —
    * [[settled]] waits until the counters stop moving. */
  private final class MetricsListener extends SparkListener {
    val shuffleWrite = new LongAdder
    val spilled = new LongAdder
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
      val m = t.taskMetrics
      if (m != null) {
        shuffleWrite.add(m.shuffleWriteMetrics.bytesWritten)
        spilled.add(m.memoryBytesSpilled + m.diskBytesSpilled)
      }
    }
    def snapshot: (Long, Long) = (shuffleWrite.sum, spilled.sum)
    def settled: (Long, Long) = {
      var prev = snapshot
      var tries = 0
      while (tries < 20) { // wait ≤1s for the async listener bus to drain
        Thread.sleep(50)
        val now = snapshot
        if (now == prev) tries = 20 else { prev = now; tries += 1 }
      }
      prev
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt
    // SPARK_GRAFT_SHUFFLE_PARTS: probe-side override for the sf10 runs
    // (r13 verdict #5) — at 10× volume the cpus-sized config caps
    // volumeParts at 2.5M+ rows/partition and per-task agg/sort state
    // spills measure the LOCAL cap, not the plan; a production fleet
    // sizes this config to the cluster. Bench-SF runs leave it unset.
    val shufParts = sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTS", cpus)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", shufParts)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val metrics = new MetricsListener
    spark.sparkContext.addSparkListener(metrics)
    // absorb one-time session costs (scheduler bootstrap, codegen
    // framework init) so they don't land on whichever query happens to
    // run first — query timings then measure the query, not the session
    spark.range(1000000L).selectExpr("sum(id)").collect()

    final case class QueryStats(median: Double, min: Double, shuffleBytes: Long,
      spilledBytes: Long, errors: Int)
    // SPARK_GRAFT_BENCH_ONLY=a,b,c restricts to named queries (local
    // iteration on one hot spot without paying the full suite)
    val only: Set[String] =
      sys.env.get("SPARK_GRAFT_BENCH_ONLY").map(_.split(",").toSet).getOrElse(Set.empty)
    val results: Seq[(String, QueryStats)] =
      SparkEntry.queries.toSeq.filter(kv => only.isEmpty || only(kv._1))
        .sortBy(_._1).map { case (name, fn) =>
        val times = new Array[Double](reps)
        var shuffleBytes = 0L
        var spilledBytes = 0L
        var errors = 0
        (0 until reps).foreach { r =>
          val before = metrics.settled
          val t0 = System.nanoTime()
          // a failing rep still records its elapsed time, but the failure
          // is counted and surfaced — a query that starts throwing must
          // not masquerade as a (often faster) clean run
          try { fn(spark, sfDir).count() } catch {
            case t: Throwable =>
              errors += 1
              System.err.println(s"[bench] $name rep $r FAILED: ${t.getClass.getSimpleName}: ${t.getMessage}")
          }
          times(r) = (System.nanoTime() - t0) / 1e9
          if (r == reps - 1) { // steady-state bytes from the last rep
            val after = metrics.settled
            shuffleBytes = after._1 - before._1
            spilledBytes = after._2 - before._2
          }
        }
        // Release every persisted/localCheckpointed RDD the query left in
        // the block manager (iterative operators cache edge/value tables;
        // non-broadcast paths keep them alive for the caller's action).
        // Across a 170+-query single-JVM suite those blocks ACCUMULATE and
        // slow later queries — r6→r7 like-for-like drift (+12%, worst +48%
        // on g_biased_walks) clustered in exactly the localCheckpoint-heavy
        // family that runs late in the alphabetical order. Results are
        // discarded after count(), so nothing recomputes from these RDDs.
        // StageCache serves a cached localCheckpointed frame only while
        // its blocks are persisted, so the sweep costs a re-encode on
        // next use, never a 'Checkpoint block not found'.
        org.apache.spark.sql.graft.DatasetBridge.unpersistAll(spark.sparkContext)
        // untimed GC hint: interpreted-HOF-heavy queries allocate hard,
        // and in a single-JVM 170+-query suite the collector otherwise
        // runs INSIDE later queries' timed reps (measured: dd_setsim_join
        // 3.3 s isolated vs 29.7 s in-suite at identical shuffle bytes).
        // Paying the pause between queries keeps per-query medians
        // faithful to the isolated plan cost.
        System.gc()
        val sorted = times.sorted
        name -> QueryStats(sorted(reps / 2), sorted.head, shuffleBytes, spilledBytes, errors)
      }

    val detail = results.map { case (k, s) =>
      s""""$k":{"median":${s.median},"min":${s.min},"shuffle_bytes":${s.shuffleBytes},"spilled_bytes":${s.spilledBytes},"errors":${s.errors}}"""
    }.mkString("{", ",", "}")
    val total = results.map(_._2.median).sum
    val totalErrors = results.map(_._2.errors).sum
    def fmt(d: Double): String = f"$d%.3f"
    // Full per-query detail goes to a FILE — the harness that collects this
    // run keeps only a short tail of stdout, so the one stdout JSON line
    // must stay small enough to land intact inside that tail. Rounds 1-5
    // printed the full ~4 KB detail map inline and the collected artifact
    // ended up with a clipped, unparseable line every time.
    // Anchor artifacts to the repo root (nearest ancestor of the CWD with
    // a build.sbt; overridable via SPARK_GRAFT_REPO_ROOT), NOT the bare
    // CWD — a bench launched from elsewhere must not fragment the
    // append-only history into a stray bench_history/.
    val repoRoot: java.nio.file.Path = sys.env.get("SPARK_GRAFT_REPO_ROOT")
      .map(java.nio.file.Paths.get(_))
      .getOrElse {
        var p = java.nio.file.Paths.get("").toAbsolutePath
        var found = p
        while (p != null) {
          if (java.nio.file.Files.exists(p.resolve("build.sbt"))) { found = p; p = null }
          else p = p.getParent
        }
        found
      }
    val detailFile = repoRoot.resolve("BENCH_DETAIL.json").toString
    // contended/capped runs must be diagnosable from the artifact alone:
    // record the real heap ceiling (the r7 driver run was silently 4 GB)
    val jvmMaxHeap = Runtime.getRuntime.maxMemory
    val detailJson =
      s"""{"metric":"total","value":$total,"unit":"sec","queries_detail":$detail,"reps":$reps,"errors":$totalErrors,"jvm_max_heap":$jvmMaxHeap,"cpus":"$cpus","sf":"$sfDir","epoch_ms":${System.currentTimeMillis}}"""
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(detailFile), detailJson)
    catch { case e: Throwable => System.err.println(s"[bench] detail write failed: ${e.getMessage}") }
    // BENCH_DETAIL.json gets overwritten by every run (the r8 driver detail
    // was lost to a stray single-query probe before it could be archived);
    // the append-only log preserves every run's full detail permanently.
    try {
      java.nio.file.Files.createDirectories(repoRoot.resolve("bench_history"))
      java.nio.file.Files.writeString(repoRoot.resolve("bench_history/bench_log.jsonl"),
        detailJson + "\n", java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.APPEND)
    } catch { case e: Throwable => System.err.println(s"[bench] log append failed: ${e.getMessage}") }
    // Compact line: slowest queries first, greedily packed into a byte
    // budget that fits the tail with room for the runner's trailing lines.
    val budget = 1500
    val packed = new StringBuilder
    var omitted = 0
    results.sortBy { case (_, s) => -s.median }.foreach { case (k, s) =>
      val entry = s""""$k":${fmt(s.median)}"""
      if (packed.length + entry.length + 1 <= budget) {
        if (packed.nonEmpty) packed.append(',')
        packed.append(entry)
      } else omitted += 1
    }
    // Contention honesty (r14 verdict #5): the r14 headline (542 s) was
    // manufactured by ONE contended rep (g_modularity_l2 median 160.8 s
    // vs min 27.5 s at byte-identical shuffle). The compact line now
    // carries the min-based total and names the heavies whose median/min
    // exceeds 2× — a reader must not take a flagged median as a plan
    // regression without checking the detail's bytes.
    val totalMin = results.map(_._2.min).sum
    val contended = results
      .filter { case (_, s) => s.median >= 2.0 && s.min > 0 && s.median / s.min > 2.0 }
      .sortBy { case (_, s) => -(s.median - s.min) }
      .take(10).map { case (k, s) => s""""$k":${fmt(s.median / s.min)}""" }
      .mkString("{", ",", "}")
    println(s"""{"metric":"total","value":${fmt(total)},"unit":"sec","value_min":${fmt(totalMin)},"contended":$contended,"queries":{$packed},"n_queries":${results.size},"queries_omitted":$omitted,"errors":$totalErrors,"reps":$reps,"jvm_max_heap":$jvmMaxHeap,"detail_file":"$detailFile","sf":"$sfDir"}""")
    spark.stop()
  }
}
