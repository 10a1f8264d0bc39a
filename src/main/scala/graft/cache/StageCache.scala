package graft.cache

import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.hadoop.util.ShutdownHookManager
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

/** The one cache for what graft reuses across calls: trained driver-side
  * models, localCheckpointed code tables and staged directories.
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
  * is served and [[only]] still finds one entry after a rewrite.
  *
  * A cached frame is served only while every RDD it reads from is still
  * persisted: a localCheckpointed frame whose blocks an unpersist sweep
  * dropped would fail with "Checkpoint block not found", so it is
  * recomputed instead. Directories made by [[stageDir]] are deleted by
  * one JVM shutdown hook. There is no eviction and no size bound.
  */
object StageCache {

  private final case class Slot(op: String, params: Any, plans: Seq[Int])
  private final case class Entry(files: Seq[(String, Long, Long)], value: Any)

  private val sessions = new java.util.WeakHashMap[SparkSession, TrieMap[Slot, Entry]]()
  private val staged = scala.collection.mutable.ArrayBuffer.empty[(Path, Configuration)]

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
    val slot = Slot(op, params, plans.map(_.semanticHash()))
    val files = plans.flatMap(inputFiles).sorted
    val entries = sessions.synchronized {
      sessions.keySet.removeIf(_.sparkContext.isStopped)
      sessions.computeIfAbsent(spark, _ => TrieMap.empty[Slot, Entry])
    }
    entries.get(slot) match {
      case Some(Entry(`files`, v)) if live(spark, v) => v.asInstanceOf[V]
      case _ =>
        val v = compute
        entries.put(slot, Entry(files, v))
        v
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

  private def live(spark: SparkSession, value: Any): Boolean = value match {
    case ds: Dataset[_] =>
      val persisted = spark.sparkContext.getPersistentRDDs
      ds.queryExecution.analyzed.collectWithSubqueries { case r: LogicalRDD => r.rdd.id }
        .forall(persisted.contains)
    case _ => true
  }
}
