package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import graft.SparkEntry
import org.apache.spark.sql.SparkSession
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.{Failure, Success, Try}

/** One benchmark process: runs one workload over one input directory, a
  * cold pass then warm passes for `--seconds`, and writes every timing
  * and check result as JSON to `--out`. `--trace 1` runs a traced cold pass, an
  * untraced warm pass and a traced warm pass instead, and adds the
  * per-layer metrics. One driver thread issues the operations in a
  * closed loop. */
object Main {
  /** Warm passes per run, whatever `--seconds` says. On a shared 4-core
    * machine one warm sample per run spread 12-28% across runs; the
    * median of three keeps a single slow pass out of `pass_s`. */
  val MinWarmPasses = 3

  final case class OpRec(name: String, ms: Double, startMs: Long, endMs: Long,
      fingerprint: String, problems: Seq[String], stats: Map[String, Double])
  final case class PassRec(id: Int, traced: Boolean, wallMs: Double, untimedMs: Double,
      ops: Seq[OpRec])

  def main(args: Array[String]): Unit = {
    val opt = args.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val work = Paths.get(opt("work")).toAbsolutePath
    Files.createDirectories(work)
    val (spark, setupS) = startSession(work)
    val result = try new Run(spark, opt, work).go() + ("setup_s" -> setupS)
    finally spark.stop()
    Files.writeString(Paths.get(opt("out")), JsonOut.render(result) + "\n")
  }

  /** Session as every workload runs it: local[4], four shuffle partitions,
    * scratch space inside the run directory, then one warm-up job. The
    * set-up time runs from JVM start until that job has finished. */
  def startSession(work: Path): (SparkSession, Double) = {
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val started = ManagementFactory.getRuntimeMXBean.getStartTime
    spark.range(1000000L).selectExpr("sum(id)").collect()
    (spark, (System.currentTimeMillis() - started) / 1000.0)
  }

  /** Old-generation bytes still live after a full collection. The second
    * collection follows Spark's cleaner, which drops the blocks of
    * datasets the first one found unreachable. */
  def oldGenAfterGc(): Long = {
    System.gc()
    Thread.sleep(200)
    System.gc()
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getName.contains("Old Gen") || p.getName.contains("Tenured"))
      .map(p => Option(p.getCollectionUsage).map(_.getUsed).getOrElse(p.getUsage.getUsed))
      .sum
  }

  final class Run(spark: SparkSession, opt: Map[String, String], work: Path) {
    private val dir = opt("data")
    private val ops = Workloads.all(opt("workload"))
    private val trace = opt.getOrElse("trace", "0") == "1"
    private val seconds = opt("seconds").toDouble
    private val dumpDir = work.resolve("dump")
    private var heapPeak = 0L
    private val reference = mutable.Map.empty[String, String]

    /** Dump a query result for the DuckDB oracle, or import an export
      * package back and compare it with its source graph. */
    private def deepCheck(name: String, o: Outcome): Seq[String] =
      o.df.toSeq.flatMap(df => Try(df.write.mode("overwrite").parquet(dumpDir.resolve(name).toString))
        .failed.toOption.map(e => s"dump: $e")) ++
        (for (g <- o.graph; d <- o.outDir) yield Try(Checks.roundTrip(g, d))
          .fold(e => Seq(s"round trip: $e"), identity)).getOrElse(Nil)

    private def pass(id: Int, tracer: Option[Tracer], deep: Boolean): PassRec = {
      tracer.foreach(_.pass = id)
      val passDir = work.resolve(s"pass-$id")
      val t0 = System.nanoTime()
      var timedNs = 0L
      val recs = ops.map { op =>
        val out = passDir.resolve(op.name)
        val m0 = System.currentTimeMillis(); val s0 = System.nanoTime()
        val outcome = Try(tracer.fold(op.run(spark, dir, out))(t => op.traced(spark, dir, out, t)))
        val ns = System.nanoTime() - s0; val m1 = System.currentTimeMillis()
        timedNs += ns
        // everything below is outside the timed region
        outcome.flatMap(o => Try(o.check())) match {
          case Success(c) =>
            val drift = reference.get(op.name).filter(_ != c.fingerprint)
              .map(r => s"fingerprint ${c.fingerprint} differs from first pass $r").toSeq
            reference.getOrElseUpdate(op.name, c.fingerprint)
            val more = if (deep) deepCheck(op.name, outcome.get) else Nil
            OpRec(op.name, ns / 1e6, m0, m1, c.fingerprint, c.problems ++ drift ++ more, c.stats)
          case Failure(e) =>
            System.err.println(s"[perfbench] ${op.name} pass $id failed: $e")
            OpRec(op.name, ns / 1e6, m0, m1, "", Seq(s"failed: $e"), Map.empty)
        }
      }
      tracer.foreach(_.listener.settle())
      Checks.deleteTree(passDir)
      heapPeak = math.max(heapPeak, oldGenAfterGc())
      PassRec(id, tracer.isDefined, timedNs / 1e6, (System.nanoTime() - t0 - timedNs) / 1e6, recs)
    }

    def go(): Map[String, Any] = {
      val passes = mutable.ArrayBuffer.empty[PassRec]
      var layers: scala.collection.Map[String, Double] = Map.empty
      var spans: Seq[Map[String, Any]] = Nil
      if (!trace) {
        passes += pass(1, None, deep = false)
        val warmStart = System.nanoTime()
        while (passes.size < 1 + MinWarmPasses || (System.nanoTime() - warmStart) / 1e9 < seconds)
          passes += pass(passes.size + 1, None, deep = passes.size == 1)
      } else {
        val tracer = new Tracer(spark.sparkContext)
        passes += pass(1, Some(tracer), deep = false)
        tracer.stop()
        passes += pass(2, None, deep = true)
        tracer.resume()
        passes += pass(3, Some(tracer), deep = false)
        tracer.stop()
        layers = LayerMetrics(tracer, cold = passes(0), warm = passes(2), untraced = passes(1))
        spans = tracer.spans.asScala.toSeq.sortBy(_.id).map(s => Map("id" -> s.id, "layer" -> s.layer,
          "detail" -> s.detail, "parent" -> s.parent, "pass" -> s.pass, "start_ms" -> s.startMs,
          "end_ms" -> s.endMs))
      }
      val keys = ops.map(_.name)
      val oracle = SparkEntry.oracleSql.filter { case (k, _) => keys.contains(k) }
      val dumps = keys.filter(k => Files.exists(dumpDir.resolve(k)))
        .map(k => k -> dumpDir.resolve(k).toString).toMap
      Map(
        "workload" -> opt("workload"),
        "passes" -> passes.map(p => Map(
          "id" -> p.id, "traced" -> p.traced, "wall_ms" -> p.wallMs, "untimed_ms" -> p.untimedMs,
          "ops" -> p.ops.map(o => Map("name" -> o.name, "ms" -> o.ms,
            "fingerprint" -> o.fingerprint,
            "problems" -> o.problems,
            "stats" -> o.stats)))),
        "heap_peak_mb" -> heapPeak / 1048576.0,
        "oracle_sql" -> oracle,
        "dumps" -> dumps,
        "layers" -> layers,
        "spans" -> spans)
    }
  }
}
