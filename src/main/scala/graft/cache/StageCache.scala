package graft.cache

import java.util.concurrent.atomic.AtomicLong

import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.hadoop.util.ShutdownHookManager
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{CurrentDate, CurrentTime,
  CurrentTimestampLike, LocalTimestamp}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

/** The one cache for what graft reuses across calls: trained driver-side
  * models, localCheckpointed code tables, staged directories and the
  * driver-local graphs of the replays ([[graft.operators.LocalGraph]]).
  *
  * An entry's key is (session, op, params, input fingerprint):
  *  - the session is held weakly and compared by object identity, so a
  *    second session never sees the first one's entries (a bucketed
  *    stage's catalog tables live in one session), and the entries of a
  *    stopped session are dropped;
  *  - an input's fingerprint is its analyzed plan's `semanticHash` plus
  *    the (path, length, modification time) of every file its
  *    file-backed relations list, taken from the FileIndex the read
  *    already built (no second listing, no job). The plan hash alone is
  *    not enough: `InMemoryFileIndex` equality is path-based, so a
  *    corpus rewritten under the same path hashes the same.
  *
  * A changed file list misses and recomputes; the new value replaces the
  * entry with the same (session, op, params, plan hash), so nothing stale
  * is served and [[only]] still finds one entry after a rewrite. An input
  * whose analyzed plan has a nondeterministic expression (`uuid()`,
  * `rand()`, a nondeterministic UDF) or reads the query's clock
  * (`current_timestamp()`, `current_date()`, which Spark counts as
  * deterministic because they are fixed within one query) can change
  * under the same plan hash and files, so such a call computes and
  * caches nothing.
  *
  * A cached frame is served only while every RDD it reads from is still
  * persisted: a localCheckpointed frame whose blocks an unpersist sweep
  * dropped would fail with "Checkpoint block not found", so it is
  * recomputed instead. Directories made by [[stageDir]] are deleted by
  * one JVM shutdown hook.
  *
  * Values that hold driver memory in proportion to their input are
  * [[Sized]] (a graph, or `Some(graph)`): once their bytes, summed over
  * every session, pass [[SizedBudget]], the least recently used of them
  * are evicted until the sum is back under it. Other values are small
  * (models, frames of checkpointed RDDs, paths) and are not evicted.
  *
  * [[counts]] reports the hits and misses per op since the JVM started.
  */
object StageCache {

  /** A value whose driver memory the cache bounds (see [[SizedBudget]]). */
  trait Sized { def sizeInBytes: Long }

  /** The bytes the [[Sized]] values of all sessions may hold together:
    * 1/16 of the driver heap. */
  private val SizedBudget: Long = Runtime.getRuntime.maxMemory / 16

  private final case class Slot(op: String, params: Any, plans: Seq[Int])
  private final class Entry(val files: Seq[(String, Long, Long)], val value: Any) {
    val bytes: Long = value match {
      case s: Sized => s.sizeInBytes
      case Some(s: Sized) => s.sizeInBytes
      case _ => 0L
    }
    @volatile var used: Long = clock.incrementAndGet()
  }

  private val clock = new AtomicLong
  private val sessions = new java.util.WeakHashMap[SparkSession, TrieMap[Slot, Entry]]()
  private val staged = scala.collection.mutable.ArrayBuffer.empty[(Path, Configuration)]
  private val tally = TrieMap.empty[String, (AtomicLong, AtomicLong)]

  ShutdownHookManager.get().addShutdownHook(() => staged.synchronized {
    staged.foreach { case (p, conf) =>
      try p.getFileSystem(conf).delete(p, true) catch { case _: Throwable => () }
    }
  }, FileSystem.SHUTDOWN_HOOK_PRIORITY + 1) // before Hadoop closes its FileSystems

  /** The value cached under (session, op, params, fingerprint of
    * `inputs`), computing and caching it on a miss. `params` must have
    * value equality (numbers, strings, tuples of them). */
  def getOrCompute[V](spark: SparkSession, op: String, params: Any, inputs: DataFrame*)(
      compute: => V): V = {
    val plans = inputs.map(_.queryExecution.analyzed)
    val (hits, misses) = tally.getOrElseUpdate(op, (new AtomicLong, new AtomicLong))
    if (plans.exists(changing)) {
      misses.incrementAndGet()
      return compute
    }
    val slot = Slot(op, params, plans.map(_.semanticHash()))
    val files = plans.flatMap(inputFiles).sorted
    val entries = sessions.synchronized {
      sessions.keySet.removeIf(_.sparkContext.isStopped)
      sessions.computeIfAbsent(spark, _ => TrieMap.empty[Slot, Entry])
    }
    entries.get(slot) match {
      case Some(e) if e.files == files && live(spark, e.value) =>
        e.used = clock.incrementAndGet()
        hits.incrementAndGet()
        e.value.asInstanceOf[V]
      case _ =>
        misses.incrementAndGet()
        val e = new Entry(files, compute)
        entries.put(slot, e)
        if (e.bytes > 0) evict(SizedBudget)
        e.value.asInstanceOf[V]
    }
  }

  /** Hits and misses per op since the JVM started. A call on an input
    * that can change is a miss. */
  def counts: Map[String, (Long, Long)] =
    tally.readOnlySnapshot().map { case (op, (h, m)) => op -> ((h.get, m.get)) }.toMap

  /** Evicts the least recently used [[Sized]] entries of every session
    * until their bytes sum to at most `budget`. */
  private[graft] def evict(budget: Long): Unit = sessions.synchronized {
    val sized = sessions.values.asScala.toSeq.flatMap(m => m.toSeq.collect {
      case (slot, e) if e.bytes > 0 => (m, slot, e)
    }).sortBy(-_._3.used)
    var total = 0L
    sized.foreach { case (m, slot, e) =>
      total += e.bytes
      if (total > budget) m.remove(slot, e)
    }
  }

  /** The single live value cached for (op, params) in any running
    * session, or None when there are none or several (the oracle of a
    * trained model is only unambiguous for one corpus). */
  def only[V](op: String, params: Any): Option[V] = {
    val values = sessions.synchronized {
      sessions.asScala.toSeq.filterNot(_._1.sparkContext.isStopped).flatMap { case (s, m) =>
        m.collect { case (Slot(`op`, `params`, _), e) if live(s, e.value) => e.value }
      }
    }
    values match {
      case Seq(v) => Some(v.asInstanceOf[V])
      case _ => None
    }
  }

  /** A fresh directory path under `root` for a stage held in this cache,
    * deleted through the Hadoop FS API (so a cluster-shared root works as
    * well as a local one) when the JVM exits. */
  def stageDir(spark: SparkSession, root: String, prefix: String): String = {
    val dir = s"${root.stripSuffix("/")}/${prefix}_${java.util.UUID.randomUUID()}"
    staged.synchronized { staged += ((new Path(dir), spark.sessionState.newHadoopConf())) }
    dir
  }

  private def inputFiles(plan: LogicalPlan): Seq[(String, Long, Long)] =
    plan.collectWithSubqueries { case r: LogicalRelation => r.relation }.flatMap {
      case fs: HadoopFsRelation =>
        fs.location.listFiles(Nil, Nil).flatMap(_.files)
          .map(f => (f.getPath.toString, f.getLen, f.getModificationTime))
      case _ => Nil
    }

  /** Whether `plan`'s rows can change under the same plan and files. */
  private def changing(plan: LogicalPlan): Boolean =
    plan.collectWithSubqueries { case p => p.expressions }.flatten.exists(_.exists {
      case e if !e.deterministic => true
      case _: CurrentTimestampLike | _: CurrentDate | _: CurrentTime | _: LocalTimestamp => true
      case _ => false
    })

  private def live(spark: SparkSession, value: Any): Boolean = value match {
    case ds: Dataset[_] =>
      val persisted = spark.sparkContext.getPersistentRDDs
      ds.queryExecution.analyzed.collectWithSubqueries { case r: LogicalRDD => r.rdd.id }
        .forall(persisted.contains)
    case _ => true
  }
}
