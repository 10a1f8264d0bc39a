package perfbench

import perfbench.Main.PassRec
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Per-layer metrics of a traced run, named `<layer>.<metric>`, from the
  * warm traced pass; `queries.*.cold_*` come from the cold traced pass.
  * Every name is always present, zero where the workload does not reach
  * the layer. */
object LayerMetrics {
  val graphOps: Seq[String] = Seq("unified_edges", "pagerank", "betweenness", "decode")

  def apply(t: Tracer, cold: PassRec, warm: PassRec,
      untraced: PassRec): scala.collection.Map[String, Double] = {
    val spans = t.spans.asScala.toSeq
    val children = spans.groupBy(_.parent)
    val jobsBySpan = t.listener.jobs.asScala.values.toSeq.groupBy(_.span)
    def agg(id: Int) = Option(t.listener.perSpan.get(id))
    def of(pass: PassRec, layer: String) = spans.filter(s => s.pass == pass.id && s.layer == layer)
    def union(ss: Seq[Span]) =
      Tracer.unionMs(ss.map(s => (s.startMs, s.endMs)), Long.MinValue, Long.MaxValue).toDouble
    // self time: the wall the layer's spans cover, minus what their child
    // spans cover; spans of one layer may overlap (export writes its
    // tables concurrently) and then count once
    def ms(ss: Seq[Span]) = union(ss) - union(ss.flatMap(s => children.getOrElse(s.id, Nil)))
    def jobs(ss: Seq[Span]) = ss.map(s => jobsBySpan.getOrElse(s.id, Nil).size).sum.toDouble
    def gap(ss: Seq[Span]) = ss.map { s =>
      val iv = jobsBySpan.getOrElse(s.id, Nil).map(j => (j.startMs, if (j.endMs < 0) s.endMs else j.endMs))
      math.max(0.0, s.ms - Tracer.unionMs(iv, s.startMs, s.endMs))
    }.sum
    def sumAgg(ss: Seq[Span])(f: SpanListener#Agg => Long) =
      ss.flatMap(s => agg(s.id)).map(f).sum.toDouble

    val m = mutable.LinkedHashMap.empty[String, Double]
    val load = of(warm, "model.load")
    m("model.load_ms") = ms(load)
    m("model.load_jobs") = jobs(load)
    val detect = of(warm, "schema.detect")
    m("schema.detect_ms") = ms(detect)
    m("schema.detect_jobs") = jobs(detect)
    m("schema.rows_scanned") = sumAgg(detect)(_.recordsRead.get)
    def stat(p: PassRec, k: String) = p.ops.flatMap(_.stats.get(k)).sum
    m("export.node_csv_ms") = ms(of(warm, "export.node_csv"))
    m("export.rel_csv_ms") = ms(of(warm, "export.rel_csv"))
    m("export.csv_bytes") = stat(warm, "csv_bytes")
    m("export.sample_ms") = ms(of(warm, "export.sample"))
    m("export.model_json_ms") = ms(of(warm, "export.model_json"))
    m("export.zip_ms") = ms(of(warm, "export.zip"))
    m("export.package_bytes") = stat(warm, "package_bytes")
    m("export.rows_per_s") = if (stat(untraced, "rows") > 0)
      stat(untraced, "rows") / (untraced.wallMs / 1000.0) else 0.0
    graphOps.foreach { op =>
      val ss = of(warm, s"ops.$op")
      m(s"ops.$op.ms") = ms(ss)
      m(s"ops.$op.jobs") = jobs(ss)
      m(s"ops.$op.driver_gap_ms") = gap(ss)
      m(s"ops.$op.exec_cpu_ms") = sumAgg(ss)(_.cpuNs.get) / 1e6
      m(s"ops.$op.shuffle_bytes") = sumAgg(ss)(_.shuffleWrite.get)
      m(s"ops.$op.collected_bytes") = sumAgg(ss)(_.resultBytes.get)
    }
    val hits = Workloads.trainingKeys.flatMap { k =>
      val c = of(cold, s"queries.$k"); val w = of(warm, s"queries.$k")
      m(s"queries.$k.cold_ms") = ms(c)
      m(s"queries.$k.warm_ms") = ms(w)
      m(s"queries.$k.cold_jobs") = jobs(c)
      m(s"queries.$k.warm_jobs") = jobs(w)
      if (c.nonEmpty && w.nonEmpty) Some(jobs(w) < jobs(c)) else None
    }
    m("queries.warm_hit_ratio") = if (hits.isEmpty) 0.0 else hits.count(identity).toDouble / hits.size
    val pass = Option(t.listener.perPass.get(warm.id))
    val cpuNs = pass.map(_.cpuNs.get).getOrElse(0L).toDouble
    m("spark.cpu_util") = cpuNs / (warm.wallMs * 1e6 * 4)
    m("spark.gc_ms") = pass.map(_.gcMs.get).getOrElse(0L).toDouble
    m("spark.spill_bytes") = pass.map(_.spill.get).getOrElse(0L).toDouble
    val taskMs = pass.map(_.taskMs.asScala.toSeq.sorted).getOrElse(Nil)
    m("spark.task_skew") = if (taskMs.isEmpty) 0.0
      else taskMs.last.toDouble / math.max(1L, taskMs(taskMs.size / 2))
    val warmSpans = spans.filter(_.pass == warm.id).map(s => (s.startMs, s.endMs))
    m("trace.uncovered_ms") = warm.ops.map(o =>
      math.max(0.0, o.ms - Tracer.unionMs(warmSpans, o.startMs, o.endMs))).sum
    m("trace.overhead_ms") = warm.wallMs - untraced.wallMs
    m
  }
}
