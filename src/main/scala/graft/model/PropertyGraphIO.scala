package graft.model

import org.apache.spark.sql.{SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Parquet at-rest layout for a PropertyGraph:
  *
  * {{{
  *   <root>/nodes/<label>/          (hash-partitioned on the identifier)
  *   <root>/rels/<pattern-key>/     (hash-partitioned on the source key)
  *   <root>/_schema.json            (labels, identifiers, patterns)
  * }}}
  *
  * Repartitioning node tables by id and edge tables by source key at write
  * time means later endpoint joins and degree aggregations start
  * co-partitioned — the "pay the shuffle once" layout for a graph that is
  * written once and queried many times.
  *
  * Mutation path: [[upsertNodes]]/[[upsertRels]] merge a batch into a
  * table copy-on-write — the merged table is written to a NEW generation
  * directory (`gen-N/`) and a `_current` pointer file flips to it, so
  * readers of the previous generation are never disturbed and a failed
  * write leaves the pointer (and therefore the table) untouched. This is
  * the Delta/Iceberg snapshot recipe reduced to its minimal form; a
  * production deployment would swap the pointer file for a transactional
  * catalog entry, which is exactly the role the pointer isolates.
  * Superseded generations are reclaimed with [[vacuum]].
  */
object PropertyGraphIO {
  import graft.export.{JArr, JObj, JStr, JValue, JsonParser}
  import JsonParser.JOps

  private val CurrentPtr = "_current"

  /** Resolve a table's active data directory: the generation named by
    * `_current` when present, else the flat (generation-less) layout
    * `save` writes. */
  private def currentDir(tableRoot: String): String = {
    val ptr = java.nio.file.Paths.get(tableRoot, CurrentPtr)
    if (java.nio.file.Files.exists(ptr))
      s"$tableRoot/${java.nio.file.Files.readString(ptr).trim}"
    else tableRoot
  }

  /** Write `df` as the table's next generation and atomically flip the
    * `_current` pointer (write-temp + ATOMIC_MOVE).
    *
    * Only the pointer flip is atomic — the read-increment-write sequence
    * is not, so two concurrent writers on one table would both read gen-N
    * and clobber gen-N+1, the lost update silently masked by the second
    * flip. A `.lock` file (atomic create-on-absent) enforces the
    * single-writer-per-table contract: the loser fails loudly instead.
    * Writers on DIFFERENT tables never contend. */
  private def writeGeneration(tableRoot: String, df: org.apache.spark.sql.DataFrame,
      partitionKey: String, bucketsPerTable: Int): Unit = {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val lock = Paths.get(tableRoot, s".$CurrentPtr.lock")
    // the lock records holder pid + wall-clock so a lock left by a
    // crashed JVM is identifiable (and reclaimable) instead of opaque
    val holder = s"pid=${ProcessHandle.current.pid} epochMs=${System.currentTimeMillis}"
    try {
      Files.createFile(lock)
      // if recording the holder fails (disk full, permissions), the lock
      // must not leak — it would wedge every later write on this table
      // until someone deletes it by hand
      try Files.writeString(lock, holder + "\n")
      catch { case e: Throwable =>
        try Files.deleteIfExists(lock) catch { case _: Exception => () }
        throw e
      }
    } catch {
      case _: java.nio.file.FileAlreadyExistsException =>
        val info = try Files.readString(lock).trim catch { case _: Exception => "unreadable" }
        throw new IllegalStateException(
          s"concurrent generation write on $tableRoot ($lock exists, holder: $info); " +
            "retry after the holder finishes, or delete a stale lock left by a crash")
    }
    try {
      val ptr = Paths.get(tableRoot, CurrentPtr)
      val next =
        if (Files.exists(ptr)) {
          val cur = Files.readString(ptr).trim
          s"gen-${cur.stripPrefix("gen-").toLong + 1}"
        } else "gen-1"
      val out = if (bucketsPerTable > 0) df.repartition(bucketsPerTable, col(partitionKey)) else df
      out.write.mode(SaveMode.Overwrite).parquet(s"$tableRoot/$next")
      val tmp = Paths.get(tableRoot, s".$CurrentPtr.tmp")
      Files.writeString(tmp, next + "\n")
      Files.move(tmp, ptr, StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
    // deleteIfExists: if an operator removed a presumed-stale lock while
    // this write was in flight, a NoSuchFileException here must not mask
    // the original (more informative) write exception
    } finally Files.deleteIfExists(lock)
  }

  /** @param zOrderNodes per-label layout override: label →
    *   (dimA, dimB) writes that node table z-clustered on the two
    *   integer dimensions ([[graft.sources.ZOrderLayout]]) instead of
    *   hash-partitioned — the choice for tables probed by
    *   two-dimensional range predicates rather than key joins. The
    *   layout is physically transparent (parquet footer stats carry the
    *   tight per-file boxes; readers need no cooperation) but is NOT
    *   preserved by [[upsertNodes]] generations — like any clustered
    *   table, re-optimize with a fresh save after heavy mutation
    *   (Delta's OPTIMIZE ZORDER cadence). */
  def save(g: PropertyGraph, root: String, bucketsPerTable: Int = 0,
      zOrderNodes: Map[String, (String, String)] = Map.empty): Unit = {
    val unknown = zOrderNodes.keySet -- g.schema.labels.map(_.label).toSet
    require(unknown.isEmpty, s"zOrderNodes for unknown labels: ${unknown.mkString(", ")}")
    g.schema.labels.foreach { ls =>
      val df = g.nodes(ls.label)
      val out = zOrderNodes.get(ls.label) match {
        case Some((a, b)) =>
          graft.sources.ZOrderLayout.clustered(df, a, b,
            numFiles = math.max(bucketsPerTable, 8))
        case None if bucketsPerTable > 0 => df.repartition(bucketsPerTable, col(ls.identifier))
        case None => df
      }
      out.write.mode(SaveMode.Overwrite).parquet(s"$root/nodes/${ls.label}")
    }
    g.schema.rels.foreach { rs =>
      val df = g.rels(rs.pattern)
      val out = if (bucketsPerTable > 0) df.repartition(bucketsPerTable, col(rs.srcColName)) else df
      out.write.mode(SaveMode.Overwrite).parquet(s"$root/rels/${rs.pattern.key}")
    }
    // the manifest records each table's PHYSICAL layout so a planner (or
    // operator) can pick the z-ordered table for range probes without
    // sniffing footers; absent = the default hash layout. Readers that
    // predate the field ignore it (field-named parsing).
    val schemaJson = JObj(Seq(
      "labels" -> JArr(g.schema.labels.map(ls => JObj(Seq(
        "label" -> JStr(ls.label), "identifier" -> JStr(ls.identifier)) ++
        zOrderNodes.get(ls.label).map { case (a, b) =>
          "layout" -> JStr(s"zorder($a,$b)")
        }.toSeq))),
      "rels" -> JArr(g.schema.rels.map(rs => JObj(Seq(
        "src" -> JStr(rs.pattern.srcLabel), "relType" -> JStr(rs.pattern.relType),
        "dst" -> JStr(rs.pattern.dstLabel),
        "srcIdProp" -> JStr(rs.srcIdProp), "dstIdProp" -> JStr(rs.dstIdProp)))))))
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(root))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(root, "_schema.json"), schemaJson.render() + "\n")
  }

  /** Upsert `batch` into label `label`'s node table: batch rows whose
    * identifier matches an existing row REPLACE it, new identifiers
    * append (the Cypher MERGE + SET semantics of the reference's source
    * database, expressed as one co-partitioned anti-join + union over the
    * at-rest layout — neo4j_export.py reads from a store maintained this
    * way). The batch must carry the table's schema; duplicate ids within
    * a batch are rejected (a batch is a set of final states, not a log —
    * last-write-wins inside one batch would depend on row order). */
  def upsertNodes(spark: SparkSession, root: String, label: String,
      batch: org.apache.spark.sql.DataFrame, bucketsPerTable: Int = 0): Unit = {
    val idCol = identifierOf(root, label)
    upsertTable(spark, s"$root/nodes/$label", Seq(idCol), batch, idCol, bucketsPerTable)
  }

  /** The merge-key (endpoint) columns of a relationship table at rest:
    * its first two columns by layout contract. Callers that pre-dedup a
    * batch (e.g. streaming sinks) MUST key on these, not on the batch's
    * own column order. */
  def relKeyColsOf(spark: SparkSession, root: String, patternKey: String): Seq[String] =
    spark.read.parquet(currentDir(s"$root/rels/$patternKey")).columns.take(2).toSeq

  /** Upsert `batch` into a relationship table; the endpoint pair (the
    * first two columns) is the merge key. */
  def upsertRels(spark: SparkSession, root: String, patternKey: String,
      batch: org.apache.spark.sql.DataFrame, bucketsPerTable: Int = 0): Unit = {
    val tableRoot = s"$root/rels/$patternKey"
    val keyCols = relKeyColsOf(spark, root, patternKey)
    upsertTable(spark, tableRoot, keyCols, batch, keyCols.head, bucketsPerTable)
  }

  private def upsertTable(spark: SparkSession, tableRoot: String, keyCols: Seq[String],
      batch: org.apache.spark.sql.DataFrame, partitionKey: String, bucketsPerTable: Int): Unit = {
    val cur = spark.read.parquet(currentDir(tableRoot))
    require(batch.columns.toSet == cur.columns.toSet,
      s"batch schema ${batch.columns.toSeq} must match table schema ${cur.columns.toSeq}")
    val aligned = batch.select(cur.columns.map(col).toSeq: _*)
    val dups = aligned.groupBy(keyCols.map(col): _*).count().where(col("count") > 1).limit(1).count()
    require(dups == 0, s"batch contains duplicate merge keys on ${keyCols.mkString(",")}")
    val merged = cur
      .join(aligned.select(keyCols.map(col): _*).distinct(), keyCols, "left_anti")
      .unionByName(aligned)
    writeGeneration(tableRoot, merged, partitionKey, bucketsPerTable)
  }

  /** Delete superseded generation directories under `root`, keeping each
    * table's `_current` target plus the `retain` most recent superseded
    * generations (time-travel/rollback window — the Delta VACUUM
    * retention knob in minimal form; legacy flat files are never
    * touched). */
  def vacuum(root: String, retain: Int = 0): Unit = {
    import java.nio.file.{Files, Paths}
    require(retain >= 0, "retain must be non-negative")
    val rootPath = Paths.get(root)
    if (!Files.exists(rootPath)) return
    Seq("nodes", "rels").map(rootPath.resolve).filter(Files.isDirectory(_)).foreach { kind =>
      val tables = Files.list(kind)
      try tables.forEach { tableRoot =>
        val ptr = tableRoot.resolve(CurrentPtr)
        if (Files.exists(ptr)) {
          val keep = Files.readString(ptr).trim
          val gens = Files.list(tableRoot)
          val superseded = try {
            val b = scala.collection.mutable.ArrayBuffer.empty[String]
            gens.forEach { child =>
              val name = child.getFileName.toString
              if (name.startsWith("gen-") && name != keep) b += name
            }
            b.sortBy(-_.stripPrefix("gen-").toLong)
          } finally gens.close()
          superseded.drop(retain).foreach(name =>
            graft.tools.Fs.deleteRecursively(tableRoot.resolve(name).toString))
        }
      } finally tables.close()
    }
  }

  /** On-disk generations of a node table, ascending: (generation,
    * isCurrent). Generation 0 is the flat layout [[save]] writes (part
    * files directly under the table root); gen-N directories are the
    * upsert generations still inside [[vacuum]]'s retention window —
    * together they ARE the time-travel index, no extra manifest needed
    * (the Delta-style transaction log collapses to the `_current`
    * pointer + directory listing because generations here are whole
    * table snapshots, not deltas). */
  def nodeGenerations(root: String, label: String): Seq[(Long, Boolean)] =
    tableGenerations(java.nio.file.Paths.get(root, "nodes", label), "node table")

  /** Relationship-table twin of [[nodeGenerations]] — upsertRels writes
    * the same gen-N snapshot chain under `rels/<patternKey>`. */
  def relGenerations(root: String, patternKey: String): Seq[(Long, Boolean)] =
    tableGenerations(java.nio.file.Paths.get(root, "rels", patternKey), "rel table")

  private def tableGenerations(tableRoot: java.nio.file.Path,
      what: String): Seq[(Long, Boolean)] = {
    import java.nio.file.Files
    require(Files.isDirectory(tableRoot), s"no $what at $tableRoot")
    val ptr = tableRoot.resolve(CurrentPtr)
    val current: Long =
      if (Files.exists(ptr)) Files.readString(ptr).trim.stripPrefix("gen-").toLong
      else 0L
    val stream = Files.list(tableRoot)
    val gens = try {
      val b = scala.collection.mutable.ArrayBuffer.empty[Long]
      var hasFlat = false
      stream.forEach { child =>
        val name = child.getFileName.toString
        if (name.startsWith("gen-") && Files.isDirectory(child))
          b += name.stripPrefix("gen-").toLong
        else if (name.endsWith(".parquet")) hasFlat = true
      }
      (if (hasFlat) Seq(0L) else Nil) ++ b.sorted
    } finally stream.close()
    gens.map(g => (g, g == current))
  }

  /** Time-travel read: the node table AS OF `generation` — 0 = the
    * original [[save]] snapshot, N = the state after the Nth upsert.
    * Every generation is a complete snapshot, so the read is one plain
    * parquet scan (footer stats, pruning and bucketing all intact);
    * fails loudly if the generation was [[vacuum]]ed away. */
  def loadNodesAt(spark: SparkSession, root: String, label: String,
      generation: Long): org.apache.spark.sql.DataFrame = {
    val known = nodeGenerations(root, label).map(_._1).toSet
    require(known(generation),
      s"generation $generation of $label is not on disk (have ${known.toSeq.sorted
        .mkString(", ")}) — vacuumed or never written")
    if (generation == 0L) spark.read.parquet(flatParts(spark, s"$root/nodes/$label"): _*)
    else spark.read.parquet(s"$root/nodes/$label/gen-$generation")
  }

  /** The flat snapshot's part files, which live beside the gen-N dirs.
    * The glob is expanded on the driver: handed to the reader as one
    * path, Spark's sink-metadata probe takes it literally and logs a
    * FileNotFoundException WARN on every read. */
  private def flatParts(spark: SparkSession, tableRoot: String): Seq[String] = {
    val glob = new org.apache.hadoop.fs.Path(tableRoot, "*.parquet")
    val fs = glob.getFileSystem(spark.sparkContext.hadoopConfiguration)
    Option(fs.globStatus(glob)).toSeq.flatten.map(_.getPath.toString).sorted
  }

  /** Time-travel read of a relationship table AS OF `generation` — the
    * [[loadNodesAt]] twin over the upsertRels snapshot chain. */
  def loadRelsAt(spark: SparkSession, root: String, patternKey: String,
      generation: Long): org.apache.spark.sql.DataFrame = {
    val known = relGenerations(root, patternKey).map(_._1).toSet
    require(known(generation),
      s"generation $generation of $patternKey is not on disk (have ${known.toSeq.sorted
        .mkString(", ")}) — vacuumed or never written")
    if (generation == 0L) spark.read.parquet(flatParts(spark, s"$root/rels/$patternKey"): _*)
    else spark.read.parquet(s"$root/rels/$patternKey/gen-$generation")
  }

  /** Change-data-capture diff between two retained generations (the
    * Delta CHANGE DATA FEED read, derived rather than logged): one
    * full-outer join of the two snapshots on the label's identifier,
    * classifying each key as insert (absent before), delete (absent
    * after) or update (any column differs — null-safe struct compare).
    * Because generations are whole snapshots written with the same
    * bucket layout, the join co-partitions at any scale and unchanged
    * rows never leave the executor. Returns (op, <identifier>, __before,
    * __after) with the full row as a struct on each side. */
  def cdcNodes(spark: SparkSession, root: String, label: String,
      fromGen: Long, toGen: Long): org.apache.spark.sql.DataFrame = {
    val id = identifierOf(root, label)
    val a = loadNodesAt(spark, root, label, fromGen)
    val cols = a.columns.toSeq
    val b = loadNodesAt(spark, root, label, toGen).select(cols.map(col): _*)
    val sa = a.select(col(id).as("__k"), struct(cols.map(col): _*).as("__before"))
    val sb = b.select(col(id).as("__k"), struct(cols.map(col): _*).as("__after"))
    sa.join(sb, Seq("__k"), "full_outer")
      .withColumn("op",
        when(col("__before").isNull, lit("insert"))
          .when(col("__after").isNull, lit("delete"))
          .when(!(col("__before") <=> col("__after")), lit("update")))
      .where(col("op").isNotNull)
      .select(col("op"), col("__k").as(id), col("__before"), col("__after"))
  }

  /** Relationship CDC between two retained generations — the
    * [[cdcNodes]] twin keyed on the ENDPOINT PAIR (the table's first two
    * columns, upsertRels' merge key): insert = pair absent before,
    * delete = absent after, update = any property column differs.
    * Endpoint rewrites are therefore an insert+delete pair, exactly as
    * the merge semantics treat them. Same co-partitioned full-outer
    * snapshot join as the node form — unchanged pairs never leave the
    * executor. Returns (op, <src>, <dst>, __before, __after). */
  def cdcRels(spark: SparkSession, root: String, patternKey: String,
      fromGen: Long, toGen: Long): org.apache.spark.sql.DataFrame = {
    val a = loadRelsAt(spark, root, patternKey, fromGen)
    val cols = a.columns.toSeq
    val keyCols = cols.take(2)
    val b = loadRelsAt(spark, root, patternKey, toGen).select(cols.map(col): _*)
    val sa = a.select(struct(keyCols.map(col): _*).as("__k"),
      struct(cols.map(col): _*).as("__before"))
    val sb = b.select(struct(keyCols.map(col): _*).as("__k"),
      struct(cols.map(col): _*).as("__after"))
    sa.join(sb, Seq("__k"), "full_outer")
      .withColumn("op",
        when(col("__before").isNull, lit("insert"))
          .when(col("__after").isNull, lit("delete"))
          .when(!(col("__before") <=> col("__after")), lit("update")))
      .where(col("op").isNotNull)
      .select(Seq(col("op")) ++
        keyCols.map(k => col(s"__k.$k").as(k)) ++
        Seq(col("__before"), col("__after")): _*)
  }

  /** The declared identifier property of a label, from the manifest alone
    * (no table reads) — what streaming upsert sinks key their merges on. */
  def identifierOf(root: String, label: String): String =
    schemaOf(root).labels.find(_.label == label)
      .getOrElse(throw new IllegalArgumentException(s"unknown label: $label")).identifier

  /** Parse the schema manifest alone (no table reads). */
  private def schemaOf(root: String): GraphSchema = {
    val schemaJson = JsonParser.parse(
      java.nio.file.Files.readString(java.nio.file.Paths.get(root, "_schema.json")))
    GraphSchema(
      labels = (schemaJson / "labels").items.map(l =>
        LabelSchema((l / "label").str, (l / "identifier").str, Nil)),
      rels = (schemaJson / "rels").items.map { r =>
        RelSchema(RelPattern((r / "src").str, (r / "relType").str, (r / "dst").str),
          (r / "srcIdProp").str, (r / "dstIdProp").str, Nil)
      })
  }

  /** Per-label physical layout from the manifest: `zorder(dimA,dimB)`
    * where [[save]] was told to cluster, `"hash"` otherwise. */
  def tableLayouts(root: String): Map[String, String] = {
    val schemaJson = JsonParser.parse(
      java.nio.file.Files.readString(java.nio.file.Paths.get(root, "_schema.json")))
    (schemaJson / "labels").items.map { l =>
      val layout = l match {
        case o: JObj => o.fields.collectFirst { case ("layout", JStr(s)) => s }
        case _ => None
      }
      (l / "label").str -> layout.getOrElse("hash")
    }.toMap
  }

  def load(spark: SparkSession, root: String): PropertyGraph = {
    val schemaJson = JsonParser.parse(
      java.nio.file.Files.readString(java.nio.file.Paths.get(root, "_schema.json")))
    val labels = (schemaJson / "labels").items.map { l =>
      val label = (l / "label").str
      val df = spark.read.parquet(currentDir(s"$root/nodes/$label"))
      (label, (l / "identifier").str, df)
    }
    val rels = (schemaJson / "rels").items.map { r =>
      val pattern = RelPattern((r / "src").str, (r / "relType").str, (r / "dst").str)
      val df = spark.read.parquet(currentDir(s"$root/rels/${pattern.key}"))
      val rs = RelSchema(pattern, (r / "srcIdProp").str, (r / "dstIdProp").str,
        df.columns.drop(2).toSeq.map(c => PropertyMeta(c,
          graft.schema.TypeInference.fromCatalyst(df.schema(c).dataType), df.schema(c).nullable)))
      (pattern, df, rs)
    }
    PropertyGraph(
      nodes = labels.map { case (l, _, df) => l -> df }.toMap,
      rels = rels.map(r => r._1 -> r._2).toMap,
      schema = GraphSchema(
        labels = labels.map { case (l, id, df) =>
          LabelSchema(l, id, df.schema.fields.toSeq.map(f => PropertyMeta(f.name,
            graft.schema.TypeInference.fromCatalyst(f.dataType), f.nullable)))
        },
        rels = rels.map(_._3)))
  }
}
