package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import scala.jdk.CollectionConverters._

/** One traced interval around a call into a graft layer. `layer` is the
  * metric prefix (`model.load`, `ops.pagerank`, `queries.ss_kmeans`, ...),
  * `pass` the id shared by every span of one pass. Times are wall-clock
  * milliseconds so they line up with Spark's job timestamps. */
final case class Span(id: Int, layer: String, detail: String, parent: Int, pass: Int,
    startMs: Long, endMs: Long, startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Task and job metrics per span, collected by a Spark listener. A job
  * belongs to the span whose id was set as a local property on the thread
  * that submitted it; threads that graft starts inherit the property from
  * the thread that created them. */
final class SpanListener extends SparkListener {
  final class JobRec(val span: Int, val startMs: Long) { @volatile var endMs: Long = -1L }
  final class Agg {
    val cpuNs = new AtomicLong
    val shuffleWrite = new AtomicLong
    val resultBytes = new AtomicLong
    val spill = new AtomicLong
    val gcMs = new AtomicLong
    val recordsRead = new AtomicLong
    val taskMs = new ConcurrentLinkedQueue[Long]
    def add(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (e.taskInfo != null) taskMs.add(e.taskInfo.duration)
      if (m != null) {
        cpuNs.addAndGet(m.executorCpuTime)
        shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        resultBytes.addAndGet(m.resultSize)
        spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
        gcMs.addAndGet(m.jvmGCTime)
        recordsRead.addAndGet(m.inputMetrics.recordsRead)
      }
    }
  }
  val jobs = new ConcurrentHashMap[Int, JobRec]
  private val stageSpan = new ConcurrentHashMap[Int, Int]
  val perSpan = new ConcurrentHashMap[Int, Agg]
  val perPass = new ConcurrentHashMap[Int, Agg]
  val events = new AtomicLong
  @volatile var pass: Int = 0

  private def spanOf(props: java.util.Properties): Int =
    Option(props).flatMap(p => Option(p.getProperty(Tracer.SpanProperty)))
      .map(_.toInt).getOrElse(Tracer.Unattributed)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val span = spanOf(e.properties)
    jobs.put(e.jobId, new JobRec(span, e.time))
    e.stageIds.foreach(stageSpan.put(_, span))
    events.incrementAndGet()
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
    events.incrementAndGet()
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val span: Int = Option(stageSpan.get(e.stageId)).map(_.intValue).getOrElse(Tracer.Unattributed)
    Seq(perSpan.computeIfAbsent(span, _ => new Agg), perPass.computeIfAbsent(pass, _ => new Agg))
      .foreach(_.add(e))
    events.incrementAndGet()
  }

  /** Wait until every started job has ended and no event arrived for a
    * few polls, so a pass's metrics are complete before they are read. */
  def settle(): Unit = {
    var last = -1L
    var quiet = 0
    val deadline = System.currentTimeMillis() + 5000
    while (quiet < 3 && System.currentTimeMillis() < deadline) {
      Thread.sleep(20)
      val now = events.get
      val open = jobs.values.asScala.exists(_.endMs < 0)
      if (now == last && !open) quiet += 1 else quiet = 0
      last = now
    }
  }
}

/** Records spans in memory. The timed (untraced) runs never create one. */
final class Tracer(sc: SparkContext) {
  val listener = new SpanListener
  sc.addSparkListener(listener)
  private val ids = new AtomicInteger(0)
  val spans = new ConcurrentLinkedQueue[Span]
  @volatile private var currentPass: Int = 0
  def pass: Int = currentPass
  def pass_=(p: Int): Unit = { currentPass = p; listener.pass = p }
  private val current = new InheritableThreadLocal[Integer] {
    override def initialValue(): Integer = -1
  }

  /** Run `body` as a span named `layer`; jobs it submits from this thread
    * (or from threads it starts) are attributed to the span. */
  def span[T](layer: String, detail: String = "")(body: => T): T = {
    val id = ids.incrementAndGet()
    val parent: Int = current.get
    val prevProp = sc.getLocalProperty(Tracer.SpanProperty)
    current.set(id)
    sc.setLocalProperty(Tracer.SpanProperty, id.toString)
    val s0 = System.currentTimeMillis(); val n0 = System.nanoTime()
    try body
    finally {
      val n1 = System.nanoTime(); val s1 = System.currentTimeMillis()
      spans.add(Span(id, layer, detail, parent, currentPass, s0, s1, n0, n1))
      current.set(parent)
      sc.setLocalProperty(Tracer.SpanProperty, prevProp)
    }
  }

  def stop(): Unit = sc.removeSparkListener(listener)
  def resume(): Unit = sc.addSparkListener(listener)
}

object Tracer {
  val SpanProperty = "perfbench.span"
  val Unattributed: Int = 0

  /** Length of the union of [a, b) intervals, clipped to [lo, hi). */
  def unionMs(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curA = -1L; var curB = -1L
    clipped.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) total += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total
  }
}
