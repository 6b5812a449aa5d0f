package graft.streaming

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.concurrent.TrieMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.spark.storage.StorageLevel

import graft.cdc.ChangeApply

/** The merge-upsert sink — SURVEY.md §2.1 S2 as one set-oriented merge
  * per micro-batch (`foreachBatch`), replacing the reference's 2-3 SQL
  * round-trips per change (lib/index.js:96-181; ~625 docs/s ceiling,
  * BASELINE.md).
  *
  * State layout: a log-structured parquet document store, merged on read
  *
  *   <root>/v=<n>/      version n: either a base, the full (id, rev, doc)
  *                      table, or a delta, one batch's effective changes
  *                      (id, rev, doc, deleted)
  *   <root>/_CURRENT    "n <appliedBatchId> <base> [<queryId>]"
  *                      pointer (atomic swap): the state is base
  *                      v=<base> plus the deltas v=<base+1> .. v=<n>,
  *                      oldest first; `queryId` is the persistent id of
  *                      the streaming query that wrote it
  *
  * Each applied batch writes a new version v=n+1 and swaps the pointer:
  *  - first batch (no store, or only the [[bootstrap]]-empty v=0): a
  *    base, [[ChangeApply.initialState]] — O(batch), no join;
  *  - otherwise a delta: the rows [[ChangeApply.delta]] keeps
  *    (INSERT/UPDATE rows plus DELETE tombstones, one row per id) —
  *    O(batch) written, in one file per `spark.sql.files.maxPartitionBytes`
  *    of docs, so a small delta is one file.
  * The rev guard of a delta runs in two jobs and never reads the store:
  * the cached batch's keys are collected, the driver decides the T4
  * grid against the rev index (the store's live id -> rev), and the
  * batch's winning rows are written.
  *
  * The rev index lives with the batch's session (per store root), and a
  * streaming query runs its batches in its own cloned session, so an
  * index lives as long as its query. It is tagged with the pointer it
  * reflects; on a mismatch (a query's first delta batch, a restart, another
  * writer) it is rebuilt by one scan of the base and deltas' (id, rev,
  * deleted) columns. It advances only after a delta's pointer swap, and
  * a compaction (same live rows) only re-tags it.
  * When the log then weighs twice the base, the same batch compacts:
  * [[readState]] is written as a new base v=n+2 and the pointer swaps
  * again, retiring the log. Both swaps leave a complete state, so a
  * crash between them loses nothing (the next batch compacts instead).
  * Writing a NEW version then renaming the pointer gives readers
  * snapshot isolation and makes a crashed write invisible (a re-applied
  * batch overwrites the orphan).
  *
  * [[readState]] returns the base rows whose id has no delta row (an
  * anti-join against the broadcast key set of the log, so the base is
  * never shuffled), plus the newest delta row per id, tombstones dropped.
  *
  * Compaction rule: a batch compacts when its delta brings the log to
  * at least twice the base's weight, where a version weighs its parquet
  * files — their bytes plus `spark.sql.files.openCostInBytes` per file,
  * Spark's own price of opening a file in scanned bytes, so a log of
  * many tiny deltas weighs what it costs to scan. With base B and a log
  * L < 2B between batches:
  *  - read amplification: a scan of the state reads B + L < 3B, at most
  *    3x the base;
  *  - write amplification: a compaction writes a base B' <= B + L after
  *    L >= 2B bytes of change went to the log, so each changed byte is
  *    written at most (L + B + L) / L <= 2.5 times (1.5 when the changes
  *    are updates, B' ~ B). The snapshot rewrite this replaces wrote the
  *    whole state on every batch: B / batch, unbounded.
  * A multiple c bounds the scan at 1 + c and the writes at 2 + 1/c.
  * Raising c from 1 to 2 cuts the write bound by 1/2 for one more base
  * in the scan bound, from 2 to 3 by only 1/6. The write bound is paid
  * on whole docs by every batch; the scan bound by readers of the state
  * and by an index rebuild, once per query — so the rule takes the
  * knee, c = 2.
  *
  * Reader window: after a swap, the versions older than the PREVIOUS
  * pointer's base are deleted; everything that pointer names stays, so
  * a reader that resolved it before the swap still reads a complete
  * state (the crash-recovery window of one pointer).
  *
  * Idempotence / exactly-once: `_CURRENT` records the last applied
  * foreachBatch batchId and the query that applied it; a batch of that
  * same query at or below that id is a replay and a NOOP — together
  * with the rev-equality NOOP inside the merge (T3/T4) the sink
  * converges under at-least-once redelivery. A batch of another query
  * (a fresh checkpoint following an existing store starts again at
  * batch 0) is applied. A pointer with no query id (written outside a
  * stream, or before the id was recorded) counts every caller's batch
  * ids as its own. A two-token pointer ("n batchId", the snapshot
  * layout) reads as base n with no deltas.
  *
  * SCALE: [[readState]] broadcasts the log's key set. A log too large
  * to broadcast is the point to write the base bucketed by `id`, making
  * the anti-join co-partitioned. The rev index holds every live id and
  * rev on the driver: about 190 bytes per live id with 20-char ids and
  * 34-char revs (measured on JDK 17 with compressed oops: 187), so
  * 10 M live ids take about 1.9 GB of driver heap per running query,
  * and its rebuild collects the stored (id, rev) rows once. Past that,
  * the guard needs the index on the executors (a store bucketed by id,
  * probed per bucket).
  */
object MergeSink {

  /** Parsed `_CURRENT`: the newest version, the last applied batch, the
    * base (deltas are versions base+1 .. version), and the persistent
    * id of the streaming query that applied the batch, if any. */
  private[streaming] final case class Pointer(
      version: Long, batchId: Long, base: Long, query: Option[String] = None)

  /** Compaction multiple: the log may weigh up to this many bases
    * (see the header for the bounds it sets). */
  private val LogPerBase = 2

  /** The local property Spark's stream execution sets to the query's
    * persistent id (kept in its checkpoint, so a restart keeps it). */
  private val QueryIdKey = "sql.streaming.queryId"

  private val logSchema = StructType.fromDDL(
    "id STRING, rev STRING, doc STRING, deleted BOOLEAN, v BIGINT")

  private[streaming] def pointer(root: String): Option[Pointer] = {
    val p = Paths.get(root, "_CURRENT")
    if (!Files.exists(p)) None
    else {
      val parts = new String(Files.readAllBytes(p), StandardCharsets.UTF_8)
        .trim.split(" ")
      Some(Pointer(parts(0).toLong, parts(1).toLong,
        parts.lift(2).fold(parts(0).toLong)(_.toLong), parts.lift(3)))
    }
  }

  /** Read the current state (id, rev, doc); empty if none yet. The
    * empty case is a LocalRelation (statically empty), so downstream
    * merges short-circuit via [[ChangeApply.initialState]] instead of
    * joining against nothing. */
  def readState(spark: SparkSession, root: String): DataFrame =
    pointer(root) match {
      case None =>
        spark.createDataFrame(
          java.util.Collections.emptyList[org.apache.spark.sql.Row](),
          StructType.fromDDL("id STRING, rev STRING, doc STRING"))
      case Some(p) =>
        val base = spark.read.parquet(s"$root/v=${p.base}")
        if (p.version == p.base) base
        else {
          // the deltas as one scan; `v` comes from the directory names
          val log = spark.read.schema(logSchema).option("basePath", root)
            .parquet((p.base + 1 to p.version).map(v => s"$root/v=$v"): _*)
          // a delta holds one row per id, so a single delta is already
          // its own newest row per id
          val newest =
            if (p.version == p.base + 1) log
            else log.groupBy(col("id"))
              .agg(max_by(struct(col("rev"), col("doc"), col("deleted")),
                col("v")).as("t"))
              .select(col("id"), col("t.rev").as("rev"),
                col("t.doc").as("doc"), col("t.deleted").as("deleted"))
          base.join(broadcast(log.select(col("id"))), Seq("id"), "left_anti")
            .unionByName(newest.where(!col("deleted"))
              .select(col("id"), col("rev"), col("doc")))
        }
    }

  /** The live id -> rev of the store at pointer `p`, as the rev guard
    * reads it; `at` is the pointer it reflects. */
  private[streaming] final class RevIndex(var at: Pointer,
      val revs: mutable.HashMap[String, String])

  /** Rev indexes per session, then per store root. A streaming query
    * runs its batches in its own cloned session, so an index lives as
    * long as its query; a session that is gone frees its indexes. */
  private val indexesBySession =
    new java.util.WeakHashMap[SparkSession, TrieMap[String, RevIndex]]()

  private def revIndexes(spark: SparkSession): TrieMap[String, RevIndex] =
    indexesBySession.synchronized(
      indexesBySession.computeIfAbsent(spark, _ => TrieMap.empty))

  /** Build the index of pointer `p` by ONE scan of the base and its
    * deltas' (id, rev, deleted, v), folded on the driver oldest version
    * first (each version holds one row per id; base rows read `deleted`
    * as null). */
  private def scanIndex(spark: SparkSession, root: String, p: Pointer)
      : RevIndex = {
    val revs = mutable.HashMap.empty[String, String]
    spark.read.schema(logSchema).option("basePath", root)
      .parquet((p.base to p.version).map(v => s"$root/v=$v"): _*)
      .select(col("id"), col("rev"), coalesce(col("deleted"), lit(false)),
        col("v"))
      .collect().sortBy(_.getLong(3)).foreach { r =>
        if (r.getBoolean(2)) revs -= r.getString(0)
        else revs(r.getString(0)) = r.getString(1)
      }
    new RevIndex(p, revs)
  }

  /** (version, lastAppliedBatchId) from the _CURRENT pointer. The
    * version rises on every applied batch (by two when it compacts). */
  def currentVersion(root: String): Option[(Long, Long)] =
    pointer(root).map(p => (p.version, p.batchId))

  /** Explicit auto table creation — S7, the reference daemon's
    * bootstrap probe (`bin/daemon.js:233-262`: check `pg_class` for the
    * table, CREATE TABLE + seed the `since_checkpoints` row when
    * missing, BEFORE the feed connects). Writes an empty v=0 state with
    * batchId -1 so the store exists and is readable the moment the
    * finder admits the feed; the first real batch (id 0) still takes
    * the O(batch) insert path ([[applyBatch]] recognizes the bootstrap
    * pointer). NOOP (false) if the store already exists. */
  def bootstrap(spark: SparkSession, root: String): Boolean =
    currentVersion(root) match {
      case Some(_) => false
      case None =>
        readState(spark, root) // statically empty (id, rev, doc)
          .write.mode("overwrite").parquet(s"$root/v=0")
        swap(root, Pointer(0L, -1L, 0L))
        true
    }

  /** True while the store is a [[bootstrap]]-created empty table with
    * no batch applied yet (the `-1` sentinel batchId). */
  private def isBootstrapOnly(p: Pointer): Boolean =
    p.version == 0L && p.batchId == -1L

  /** Apply one micro-batch of change events to the store. Safe to call
    * with the same batchId twice (replay after failure): second call is
    * a NOOP. Returns true if the batch was applied.
    *
    * `mapDoc` is the reference's per-doc transform hook (`opts.map(doc)`,
    * lib/index.js:188-190, P9), applied to every non-deleted incoming
    * doc before the merge — threaded to [[ChangeApply]] so the gate
    * (j29) can exercise it through the full streaming plane. */
  def applyBatch(
      root: String,
      batch: DataFrame,
      batchId: Long,
      excludeTypes: Set[String] = Set.empty,
      mapDoc: Option[Column => Column] = None): Boolean = {
    val spark = batch.sparkSession
    // the persistent query id, set on the thread that runs a streaming
    // query's foreachBatch; None for a call outside a stream
    val query = Option(spark.sparkContext.getLocalProperty(QueryIdKey))
    val cur = pointer(root)
    if (cur.exists(p => p.batchId >= batchId && p.query.forall(query.contains)))
      return false // replayed batch: NOOP
    val v = cur.fold(0L)(_.version + 1)
    val indexes = revIndexes(spark)
    val (next, applied) = cur match {
      case Some(p) if !isBootstrapOnly(p) =>
        // the guard reads the batch twice (its keys, then its winning
        // rows): cache it so the source (an HTTP fetch) runs once
        val owned = batch.storageLevel == StorageLevel.NONE
        val once = if (owned) batch.persist() else batch
        try {
          val index = indexes.get(root).filter(_.at == p)
            .getOrElse { val ix = scanIndex(spark, root, p); indexes(root) = ix; ix }
          val d = ChangeApply.delta(index.revs.get, once, excludeTypes, mapDoc)
          // a small delta is one file, so its log weight is its bytes
          val files = d.bytes / spark.sessionState.conf.filesMaxPartitionBytes + 1
          writeVersion(d.rows.coalesce(files.toInt), root, v)
          (Pointer(v, batchId, p.base, query), Some(index -> d.changed))
        } finally if (owned) once.unpersist()
      case _ =>
        // first batch: no state (or only the bootstrap-empty v=0) —
        // O(batch) insert path, no join against an empty table; the
        // next batch scans the new base into an index
        indexes.remove(root)
        writeVersion(ChangeApply.initialState(batch, excludeTypes, mapDoc),
          root, v)
        (Pointer(v, batchId, v, query), None)
    }
    swap(root, next)
    // only a swapped-in delta advances the index
    applied.foreach { case (index, changed) =>
      changed.foreach {
        case (id, Some(rev)) => index.revs(id) = rev
        case (id, None) => index.revs -= id
      }
      index.at = next
    }
    // compaction: fold the log into a new base once it weighs LogPerBase
    // bases — a scan that shuffles only the log, never the base
    if (next.version > next.base &&
        weight(spark, root, next.base + 1 to next.version) >=
          LogPerBase * weight(spark, root, Seq(next.base))) {
      val c = next.version + 1
      writeVersion(readState(spark, root), root, c)
      val compacted = Pointer(c, batchId, c, query)
      swap(root, compacted)
      // same live rows, new pointer: the index stays valid
      applied.foreach(_._1.at = compacted)
    }
    cur.foreach(prev => retireBelow(root, prev.base))
    true
  }

  private def writeVersion(rows: DataFrame, root: String, v: Long): Unit =
    rows.write.mode("overwrite").parquet(s"$root/v=$v")

  /** foreachBatch hook: writeStream.foreachBatch(MergeSink.forBatch(root)). */
  def forBatch(root: String, excludeTypes: Set[String] = Set.empty,
      mapDoc: Option[Column => Column] = None)
      : (DataFrame, Long) => Unit =
    (df, id) => { applyBatch(root, df, id, excludeTypes, mapDoc); () }

  private def swap(root: String, p: Pointer): Unit = {
    val tmp = Paths.get(root, "_CURRENT.tmp")
    Files.createDirectories(Paths.get(root))
    Files.write(tmp, (s"${p.version} ${p.batchId} ${p.base}" +
      p.query.fold("")(" " + _)).getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, Paths.get(root, "_CURRENT"),
      StandardCopyOption.REPLACE_EXISTING, StandardCopyOption.ATOMIC_MOVE)
  }

  /** What scanning these versions costs, in bytes: each parquet file's
    * length plus Spark's per-file open cost. */
  private def weight(spark: SparkSession, root: String,
      versions: Seq[Long]): Long = {
    val openCost = spark.sessionState.conf.filesOpenCostInBytes
    versions.map { v =>
      val dir = Paths.get(root, s"v=$v")
      if (!Files.isDirectory(dir)) 0L
      else {
        val files = Files.list(dir)
        try files.iterator().asScala
          .filter(_.getFileName.toString.startsWith("part-"))
          .map(f => Files.size(f) + openCost).sum
        finally files.close()
      }
    }.sum
  }

  /** Delete every version older than `keep`. */
  private def retireBelow(root: String, keep: Long): Unit = {
    val dirs = Files.list(Paths.get(root))
    val old = try dirs.iterator().asScala.toList finally dirs.close()
    old.foreach { d =>
      val name = d.getFileName.toString
      if (name.startsWith("v=") &&
          name.drop(2).toLongOption.exists(_ < keep)) SegmentLog.deleteTree(d)
    }
  }
}
