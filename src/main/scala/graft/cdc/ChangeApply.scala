package graft.cdc

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.spark.storage.StorageLevel

/** Set-oriented CDC apply — the reference's per-change upsert decision
  * tree (reference lib/index.js:96-196, SURVEY.md §2.11 T1-T4) collapsed
  * into one distributed merge per batch.
  *
  * The reference serializes changes one-by-one (async.queue concurrency 1,
  * lib/index.js:40) and issues 2-3 SQL round-trips per change — its main
  * inefficiency (~625 docs/s ceiling, BASELINE.md). Here the whole batch
  * becomes ONE plan:
  *
  *   1. per-key last-write-wins dedup: keep max(seq) per id (makes global
  *      ordering unnecessary — T1);
  *   2. full-outer merge against current state keyed by id:
  *      - incoming delete  -> row dropped (or NOOP if absent);
  *      - incoming doc, absent in state      -> INSERT (unless excluded type);
  *      - incoming doc, present, rev differs -> UPDATE;
  *      - incoming doc, present, rev equal   -> NOOP (idempotent replay /
  *        echo suppression — full-string rev compare, lib/index.js:110).
  *
  * SCALE: both sides shuffle-partition on `id`; at 100 TB the state table
  * should be bucketed by id so only the (much smaller) batch moves.
  * `planActions` additionally exposes the per-row decision, and
  * [[delta]] is the same grid in delta form: only the rows a batch
  * changes, decided on the driver against a live id -> rev index, so
  * the state is neither joined nor scanned (write amplification =
  * changed rows only). Its driver side holds one key row per change of
  * the batch, on top of the caller's index.
  */
object ChangeApply {

  /** State schema: (id, rev, doc) — the `(id text PRIMARY KEY, doc jsonb)`
    * document table (README.md:285-290) plus the rev needed for
    * idempotence (reference reads it back per-change, lib/index.js:99;
    * we keep it denormalized to avoid the read). */
  val stateCols: Seq[String] = Seq("id", "rev", "doc")

  /** T1: collapse a batch to its latest change per key — max(seq) wins;
    * ties prefer the delete (same order the reference would apply them).
    * Duplicate (id, seq) pairs (at-least-once redelivery) also collapse.
    *
    * Implemented as max_by aggregation, not a row_number window: the
    * aggregate combines map-side (partial agg), so the shuffle carries
    * one row per key per partition instead of every change — the
    * difference between O(batch) and O(keys) network at 100 TB. */
  def latestPerKey(changes: DataFrame): DataFrame =
    changes
      .groupBy(col("id"))
      .agg(max_by(
        struct(col("seq"), col("rev"), col("deleted"), col("doc")),
        struct(col("seq"), col("deleted"))).as("__top"))
      .select(col("id"), col("__top.seq").as("seq"),
        col("__top.rev").as("rev"), col("__top.deleted").as("deleted"),
        col("__top.doc").as("doc"))

  /** Per-row merge decision — the T4 grid, exposed for tests and for
    * sinks that want NOOP-skipping writes.
    *
    * Returns columns: id, action ∈ {INSERT, UPDATE, NOOP, DELETE,
    * DELETE_NOOP, IGNORE}, plus the post-merge (rev, doc).
    */
  def planActions(
      state: DataFrame,
      changes: DataFrame,
      excludeTypes: Set[String] = Set.empty): DataFrame = {
    val latest = latestPerKey(changes)
    val s = state.select(
      col("id").as("s_id"), col("rev").as("s_rev"), col("doc").as("s_doc"))
    val c = latest.select(
      col("id").as("c_id"), col("rev").as("c_rev"),
      col("deleted").as("c_deleted"), col("doc").as("c_doc"))

    s.join(c, col("s_id") === col("c_id"), "full_outer")
      .select(
        coalesce(col("s_id"), col("c_id")).as("id"),
        when(col("c_id").isNull, lit("NOOP"))
          .otherwise(revGuard(col("s_id"), col("s_rev"), col("c_rev"),
            col("c_deleted"), excluded(col("c_doc"), excludeTypes)))
          .as("action"),
        col("s_rev"), col("s_doc"), col("c_rev"), col("c_doc"))
  }

  /** The T4 grid for one incoming change against its stored row
    * (`sId` null when the id is absent from the state) — the rev guard
    * of [[planActions]]; [[delta]] runs it on the driver. */
  private def revGuard(sId: Column, sRev: Column, cRev: Column,
      cDeleted: Column, excluded: Column): Column =
    when(cDeleted && sId.isNotNull, lit("DELETE"))
      .when(cDeleted, lit("DELETE_NOOP"))
      .when(sId.isNull && excluded, lit("IGNORE"))
      .when(sId.isNull, lit("INSERT"))
      .when(sRev === cRev, lit("NOOP"))
      .otherwise(lit("UPDATE"))

  /** Type-exclusion ingest filter (lib/index.js:131-146, P8). The
    * reference's check guards only the insert branch, so updates to an
    * already-present excluded-type doc still pass through. */
  private def excluded(doc: Column, excludeTypes: Set[String]): Column =
    if (excludeTypes.isEmpty) lit(false)
    else get_json_object(doc, "$.type").isin(excludeTypes.toSeq: _*)

  /** The T4 grid of [[revGuard]] for one change on the driver: `stored`
    * is the id's stored rev, None when the id is absent. The rev compare
    * is full-string and a null rev never equals (SQL `===`). */
  private def decide(stored: Option[String], rev: String, deleted: Boolean,
      excluded: Boolean): String =
    stored match {
      case Some(_) if deleted => "DELETE"
      case None if deleted => "DELETE_NOOP"
      case None if excluded => "IGNORE"
      case None => "INSERT"
      case Some(s) if s != null && s == rev => "NOOP"
      case Some(_) => "UPDATE"
    }

  /** One change's keys, as [[delta]] collects them. */
  private final case class Key(row: Long, id: String, seq: Long, rev: String,
      deleted: Boolean, excluded: Boolean, len: Int)

  /** One batch's effective changes: `rows` are (id, rev, doc, deleted)
    * ([[Delta.schema]]) for every INSERT and UPDATE plus a tombstone
    * (doc null, deleted true) for every DELETE, one row per id; NOOP,
    * DELETE_NOOP and IGNORE rows are dropped. `changed` is what they do
    * to the live id -> rev (Some(rev) upserts, None deletes), and
    * `bytes` the docs' size, to size the write by. */
  final case class Delta(rows: RDD[InternalRow],
      changed: Map[String, Option[String]], bytes: Long)

  object Delta {
    val schema: StructType =
      StructType.fromDDL("id STRING, rev STRING, doc STRING, deleted BOOLEAN")
  }

  /** The row id of a batch row, in the layout of Spark's monotonically
    * increasing id: the partition in the upper 31 bits, the ordinal in
    * the lower 33. */
  private def rowId(partition: Int, ordinal: Int): Long =
    (partition.toLong << 33) + ordinal

  private def str(r: InternalRow, i: Int): String =
    Option(r.getUTF8String(i)).map(_.toString).orNull

  /** Delta form of [[applyChanges]], decided on the driver against the
    * state's live id -> rev (`stored`): folding the delta's rows over
    * the state (replace by id, drop tombstones) equals `applyChanges`
    * row for row. `use` receives the delta while its batch is cached;
    * the cache is dropped when it returns.
    *
    * The batch is planned ONCE, as one select of (id, seq, rev,
    * deleted, excluded, len, doc) with `mapDoc` applied and `len`
    * measured on the doc that gets written; its rows are copied and
    * cached as an RDD, so the source runs once and each row keeps its
    * id, (partition << 33) + ordinal. Job 1 collects the keys (all but
    * the doc); the driver folds them with [[latestPerKey]]'s order and
    * runs the T4 grid per id. The delta's rows filter the same cached
    * RDD by the winners' row ids, so exact duplicates of a winner never
    * both pass, and no join or shuffle touches the state. Docs move only
    * between executors and files, never through the driver, whose side
    * holds one key per change of the batch on top of `stored`. */
  def delta[T](
      stored: String => Option[String],
      changes: DataFrame,
      excludeTypes: Set[String] = Set.empty,
      mapDoc: Option[Column => Column] = None)(use: Delta => T): T = {
    val deleted = coalesce(col("deleted"), lit(false))
    val doc = when(!deleted, mapDoc.fold(col("doc"))(_(col("doc"))))
    val batch = changes.select(col("id"), col("seq").cast("long"), col("rev"),
        deleted, coalesce(excluded(doc, excludeTypes), lit(false)),
        coalesce(octet_length(doc), lit(0)), doc)
      .queryExecution.toRdd.map(_.copy()).persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val keys = batch.mapPartitionsWithIndex((p, it) =>
        it.zipWithIndex.map { case (r, i) =>
          Key(rowId(p, i), str(r, 0), r.getLong(1), str(r, 2), r.getBoolean(3),
            r.getBoolean(4), r.getInt(5))
        }).collect()
      // latestPerKey's order: max seq, a seq tie to the delete
      val top = scala.collection.mutable.HashMap.empty[String, Key]
      keys.foreach { k =>
        top.get(k.id) match {
          case Some(t) if t.seq > k.seq || (t.seq == k.seq && (t.deleted || !k.deleted)) =>
          case _ => top(k.id) = k
        }
      }
      val won = top.valuesIterator.filter(k =>
        decide(stored(k.id), k.rev, k.deleted, k.excluded) match {
          case "INSERT" | "UPDATE" | "DELETE" => true
          case _ => false
        }).toSeq
      val rowIds = won.map(_.row).sorted.toArray
      val rows = batch.mapPartitionsWithIndex((p, it) =>
        it.zipWithIndex.collect {
          case (r, i) if java.util.Arrays.binarySearch(rowIds, rowId(p, i)) >= 0 =>
            InternalRow(r.getUTF8String(0), r.getUTF8String(2), r.getUTF8String(6),
              r.getBoolean(3))
        })
      use(Delta(rows,
        won.map(k => k.id -> Option.when(!k.deleted)(k.rev)).toMap,
        won.map(_.len.toLong).sum))
    } finally batch.unpersist(blocking = false)
  }

  private def withMapDoc(changes: DataFrame,
      mapDoc: Option[Column => Column]): DataFrame =
    mapDoc.fold(changes)(f =>
      changes.withColumn("doc",
        when(col("deleted"), col("doc")).otherwise(f(col("doc")))))

  /** A statically-empty plan (LocalRelation with no rows) — the only
    * case where emptiness is knowable without running a job. An empty
    * LogicalRDD/parquet scan is NOT detected; use [[initialState]]
    * directly when the caller knows there is no state yet. */
  private def isKnownEmpty(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan match {
      case l: org.apache.spark.sql.catalyst.plans.logical.LocalRelation =>
        l.data.isEmpty
      case _ => false
    }

  /** The T4 grid with no existing state, as a plan: it needs no join
    * at all — every surviving change is an INSERT. O(batch): one
    * partial-agg'd latestPerKey, a filter, zero extra shuffles (the
    * full-outer merge would shuffle the empty state through every
    * partition for nothing). Equivalent to
    * `applyChanges(emptyState, changes, ...)` row-for-row. */
  def initialState(
      changes: DataFrame,
      excludeTypes: Set[String] = Set.empty,
      mapDoc: Option[Column => Column] = None): DataFrame = {
    val latest = latestPerKey(withMapDoc(changes, mapDoc))
    latest
      .where(!col("deleted") && !excluded(col("doc"), excludeTypes))
      .select(col("id"), col("rev"), col("doc"))
  }

  /** Apply one batch of changes to the state, returning the new state
    * (id, rev, doc). Optional per-doc transform hook = the reference's
    * `opts.map(doc)` (lib/index.js:188-190, P9). A statically-empty
    * state short-circuits to [[initialState]] (no join). */
  def applyChanges(
      state: DataFrame,
      changes: DataFrame,
      excludeTypes: Set[String] = Set.empty,
      mapDoc: Option[Column => Column] = None): DataFrame =
    if (isKnownEmpty(state)) initialState(changes, excludeTypes, mapDoc)
    else {
      planActions(state, withMapDoc(changes, mapDoc), excludeTypes)
        .where(col("action").isin("NOOP", "INSERT", "UPDATE"))
        .select(
          col("id"),
          when(col("action") === "NOOP", col("s_rev"))
            .otherwise(col("c_rev")).as("rev"),
          when(col("action") === "NOOP", col("s_doc"))
            .otherwise(col("c_doc")).as("doc"))
    }

  /** Fold a sequence of batches (streaming replay / catch-up). */
  def applyAll(
      state: DataFrame,
      batches: Seq[DataFrame],
      excludeTypes: Set[String] = Set.empty,
      mapDoc: Option[Column => Column] = None): DataFrame =
    batches.foldLeft(state)((s, b) =>
      applyChanges(s, b, excludeTypes, mapDoc))
}
